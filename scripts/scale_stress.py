"""Scale-stress harness (r12 — VERDICT r11 item 3; hardened r13 —
VERDICT r12 item 4): measure runtime AND WORK growth, not absolute
speed.

Correctness is saturated at sf0.1; the 100 TB design claims were proven
by plan shape only. This harness synthesizes DETERMINISTIC range-
generated inputs at 1x and 10x the sf0.1 row counts for the five
shuffle-heaviest operator families and records wall-clock growth:

  * cold dedup_minhash_lsh   (shingle -> minhash -> banded bucket join;
                              the claim is NO candidate-pair blowup)
  * semdedup                 (centroid blocking; within-cluster N^2/K)
  * training_mix_pipeline    (multi-stage gates + mixture sampling)
  * bm25_index_append_search (corpus tokenize + segment build/append)
  * IVM-join maintenance hop (dim-churn JoinViewMaintainer refresh
                              over a ck-partitioned fact — the claim
                              is CHANGE-PROPORTIONAL
                              work: near-FLAT growth while the fact
                              grows 10x, r12 item 4's pruning)

r13 hardening: wall time at these sizes is dominated by fixed job
overhead (every r12 family measured "sub-linear", which mostly proved
the overhead floor). Each leg therefore ALSO records WORK metrics —
shuffle read/write bytes, input bytes, and spill — diffed from the
Spark UI REST API around the winning rep (MYCARELY_UI=1; executor
totals are cumulative and eviction-proof, stage spill is best-effort).
Bytes pin the ALGORITHMIC claim (candidate-pair and state growth)
independently of the box. The two flattest r12 families (semdedup,
bm25_index_append_search) additionally run a single 100x leg to
separate the fixed-overhead floor from true scaling.

The pinned claim is SUB-QUADRATIC growth (growth << input_ratio^2 = 100
for the corpus operators; near-flat for the maintenance hop), not an
absolute number — absolute wall on this box swings +/-50% under load
(the documented bench rule), but a candidate-pair or state blowup shows
up as growth ~100 regardless of noise.

Inputs mimic the sf0.1 documents/embeddings shapes exactly (same
columns, same ~vocab text, 64-dim clustered embeddings, planted
near-dup pairs at a fixed RATE so LSH has real, linear-in-N candidate
work). Other driver tables symlink to sf0.1 — the five targets never
scan them at scale-relevant size. Per-op ``rows_*`` fields report the
relation that op actually consumes (documents vs embeddings vs fact
rows — the r12 artifact mislabeled semdedup's input; fixed).

Usage:  python scripts/scale_stress.py [out.json]
Writes BENCH_SCALE_r13.json (or the given path) with per-op
{rows_1x, sec_1x, rows_10x, sec_10x, growth, work_1x, work_10x,
shuffle_growth} fields (plus *_100x for the two 100x ops).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("MYCARELY_SESSION_MEMO", "0")  # cold paths only
os.environ.setdefault("MYCARELY_UI", "1")  # REST API for work metrics

BASE_SF = "/root/testdata/sf0.1"
DOCS_1X, EMB_1X = 5_000, 2_000
RATIO = 10

VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "vector", "query", "agg", "table", "hash",
    "slow", "filter", "customer", "stream", "key", "group", "join",
    "merge", "index", "shard", "page", "lead", "spend", "click", "event",
    "model", "token", "layer", "cache", "plan", "stage", "shuffle",
    "broadcast", "codec",
]


def synth_sf_dir(spark, n_docs: int, n_emb: int) -> str:
    """A driver-shaped sf_dir with synthetic documents/embeddings at the
    requested scale; every other table symlinks to sf0.1. Deterministic:
    pure hash arithmetic over row ids, no RNG, no wall-clock."""
    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="mycarely_scale_sf_")
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ):
        os.symlink(
            os.path.join(BASE_SF, f"{t}.parquet"),
            os.path.join(out, f"{t}.parquet"),
        )
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            # near-dup plant: every id%10==9 doc re-emits id-1's text
            # plus one extra token — a fixed 10% near-dup rate, so LSH
            # candidate pairs grow LINEARLY with N by construction
            # r14: every third token is a RARE doc-derived token
            # ('w<xxhash64%1e9>'), so unrelated docs share almost no
            # shingles — the r13 vocab-only stream had ~64k distinct
            # shingles and band keys collided at a constant PER-PAIR
            # rate, which at the 100x leg surfaced as a quadratic
            # candidate tail that measured the synthetic corpus's
            # saturation, not the banding (real corpora have ~2^64
            # shingle diversity). Near-dup plants still share all
            # shingles: the partner copies the base doc's token stream.
            F.expr(
                f"""concat(
                  concat_ws(' ', transform(
                    sequence(0, pmod(hash(id - CASE WHEN id % 10 = 9
                                              THEN 1 ELSE 0 END), 90) + 29),
                    i -> CASE WHEN i % 3 = 2
                         THEN concat('w', pmod(cast(xxhash64((id - CASE
                              WHEN id % 10 = 9 THEN 1 ELSE 0 END)
                              * 7000003 + i) AS BIGINT), 1000000000))
                         ELSE element_at(array({vocab}),
                        pmod(hash((id - CASE WHEN id % 10 = 9
                                   THEN 1 ELSE 0 END) * 1000003 + i),
                             {len(VOCAB)}) + 1) END)),
                  CASE WHEN id % 10 = 9
                       THEN concat(' zz', cast(id % 7 AS string))
                       ELSE '' END)"""
            ).alias("text"),
            F.expr(
                "element_at(array('en','en','en','de','fr','zh','unk'),"
                " cast(pmod(hash(id * 7 + 3), 7) + 1 AS int))"
            ).alias("lang"),
            F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
                "source"
            ),
        )
        .withColumn("n_chars", F.length("text"))
    )
    _write_single(docs, os.path.join(out, "documents.parquet"))
    emb = (
        spark.range(n_emb)
        .select(
            F.col("id").alias("vec_id"),
            # near-identical plant: id%17==13 clones id-1's vector plus
            # a tiny first-dim offset — a fixed in-cluster duplicate
            # RATE so SemDeDup's within-cluster stage has real,
            # linearly-growing duplicate work
            F.expr(
                "id - CASE WHEN id % 17 = 13 THEN 1 ELSE 0 END"
            ).alias("__b"),
        )
        .select(
            "vec_id",
            # 32 well-separated cluster directions + per-row jitter
            F.expr(
                """transform(sequence(0, 63), j -> cast(
                     pmod(hash(pmod(__b, 32) * 64 + j), 1000) / 1000.0
                     + pmod(hash(__b * 64 + j), 97) / 2000.0
                     + CASE WHEN vec_id % 17 = 13 AND j = 0
                            THEN 0.004 ELSE 0.0 END
                   AS float))"""
            ).alias("embedding"),
            (F.col("vec_id") % 10).cast("int").alias("label"),
        )
    )
    _write_single(emb, os.path.join(out, "embeddings.parquet"))
    return out


def _write_single(df, dest: str) -> None:
    """One parquet FILE, like the driver testdata ships (the registry
    probes footers with pyarrow, and a single file is the same read
    shape the real sf dirs have)."""
    tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    os.replace(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp, ignore_errors=True)


def work_snapshot(spark) -> dict:
    """Cumulative work counters from the Spark UI REST API. Executor
    totals (shuffle read/write, input bytes) are monotone and never
    evicted — diffing two snapshots isolates one leg's work exactly.
    Stage-level spill sums the retained-stage store (best-effort: stage
    eviction under spark.ui.retainedStages can undercount spill on very
    long runs; shuffle/input bytes are immune). Returns zeros when the
    UI is off so wall-clock measurement still works anywhere."""
    import urllib.request

    out = {"shuffle_read": 0, "shuffle_write": 0, "input_bytes": 0,
           "spill_mem": 0, "spill_disk": 0}
    base = spark.sparkContext.uiWebUrl
    if not base:
        return out
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/executors", timeout=10
        ) as r:
            for e in json.load(r):
                out["shuffle_read"] += e.get("totalShuffleRead", 0)
                out["shuffle_write"] += e.get("totalShuffleWrite", 0)
                out["input_bytes"] += e.get("totalInputBytes", 0)
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as r:
            for s in json.load(r):
                out["spill_mem"] += s.get("memoryBytesSpilled", 0)
                out["spill_disk"] += s.get("diskBytesSpilled", 0)
    except Exception:
        pass  # UI race/disabled: zeros; wall-clock still recorded
    return out


def _work_delta(a: dict, b: dict) -> dict:
    return {k: max(0, b[k] - a[k]) for k in a}


def timed(fn, *args, reps: int = 2, spark=None) -> tuple[float, dict]:
    """min-of-N wall (the bench rule: this box swings under load; min is
    the stable statistic) plus the WINNING rep's work delta (bytes are
    deterministic across reps up to cache effects; pairing them with the
    min-wall rep keeps one coherent record). Callers warm the session
    first so JIT/codegen warmup doesn't land inside the 1x leg and fake
    a sub-1.0 growth."""
    best, best_work = None, None
    for _ in range(reps):
        w0 = work_snapshot(spark) if spark is not None else None
        t0 = time.monotonic()
        df = fn(*args)
        if df is not None and hasattr(df, "write"):
            # noop sink, NOT count() (r15 measurement-bug fix, guide
            # §1.4): count() lets Catalyst prune whole subtrees — on the
            # old semdedup it ELIMINATED the left join against the
            # provably-unique pruned relation and with it the entire
            # within-cluster pairwise stage, so the r12-r14 semdedup
            # scale legs timed a no-op (sec_100x 1.11s with 30 KB of
            # input). The noop sink computes every output column of
            # every row, same as bench.py.
            df.write.mode("overwrite").format("noop").save()
        dt = time.monotonic() - t0
        if best is None or dt < best:
            best = dt
            if w0 is not None:
                best_work = _work_delta(w0, work_snapshot(spark))
    return best, best_work or {}


def ivm_hop_seconds(spark, n_fact: int) -> tuple[float, dict]:
    """One dim-churn refresh of a ``JoinViewMaintainer`` over a
    ck-partitioned fact of ``n_fact`` rows (the streaming_ivm_join_pruned
    view definition): bootstrap the view, then time ONLY the refresh
    after a dim update. The claim: this cost is change-proportional (the
    ΔD probe opens one of four ckb partitions), so it grows FAR slower
    than the fact."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    root = tempfile.mkdtemp(prefix="mycarely_scale_ivm_")
    try:
        runner = IncrementalRunner(spark, root)
        runner.RETENTION_SECONDS = 3600.0

        def fact_build(sp, sfd, wm):
            rows = sp.range(n_fact).select(
                F.col("id").alias("k"),
                (F.col("id") % 20).alias("ck"),
                ((F.col("id") * F.col("id")) % 1000).alias("amt"),
                ((F.col("id") % 20) % 4).alias("ckb"),
            )
            if wm is not None:
                rows = rows.filter(F.col("k") > F.lit(wm))
            return rows

        def dim_build(sp, sfd, wm):
            rows = sp.range(20).select(
                F.col("id").alias("ck"), (F.col("id") % 5).alias("seg")
            )
            if wm is not None:
                rows = rows.filter(F.col("ck") > F.lit(wm))
            return rows

        fact_spec = ModelSpec(
            "sc_fact", "k", "k", fact_build, partition_by=["ckb"],
            change_data=True,
        )
        dim_spec = ModelSpec("sc_dim", "ck", "ck", dim_build, change_data=True)
        runner.run(fact_spec, "x")
        runner.run(dim_spec, "x")
        m = JoinViewMaintainer(runner, JoinViewDefinition(
            "sc_mv", "sc_fact", "k", "sc_dim", "ck",
            fact_cols=["amt"], dim_cols=["seg"],
            fact_bucket_expr="ck % 4", fact_bucket_col="ckb",
            view_bucket_expr="k % 8", view_bucket_col="kb",
        ))
        m.refresh()  # bootstrap the view (not timed — build cost, linear)
        best, best_work = None, None
        for _ in range(2):  # min-of-2 dim-churn refreshes, same churn size
            runner.update_where(dim_spec, "ck % 4 = 1", {"seg": "seg + 10"})
            w0 = work_snapshot(spark)
            t0 = time.monotonic()
            m.refresh()  # the dim-churn maintenance refresh — measured
            dt = time.monotonic() - t0
            if best is None or dt < best:
                best = dt
                best_work = _work_delta(w0, work_snapshot(spark))
        return best, best_work or {}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from mycarely_saas_dbt_spark.entry import build_queries
    from mycarely_saas_dbt_spark.session import get_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_SCALE_r14.json"
    spark = get_spark()
    qs = build_queries()
    # op -> (input relation rows at 1x, has a 100x leg). semdedup
    # consumes EMBEDDINGS (the r12 artifact mislabeled it as docs).
    # r14 (VERDICT r13 item 5): the two heaviest shufflers gain 100x
    # legs too — dedup_minhash_lsh additionally records its banded
    # CANDIDATE-PAIR counts per leg (the LSH claim pinned in pairs, not
    # just bytes, at the size where a quadratic tail would first show).
    corpus_ops = {
        "dedup_minhash_lsh": (DOCS_1X, True),
        "semdedup": (EMB_1X, True),
        "training_mix_pipeline": (DOCS_1X, True),
        "bm25_index_append_search": (DOCS_1X, True),
    }
    result: dict = {
        "metric": "scale_growth",
        "input_ratio": RATIO,
        "note": (
            "synthetic deterministic inputs shaped like sf0.1; claim is "
            "sub-quadratic growth (corpus ops) / near-flat (IVM hop), "
            "not absolute wall; work_* fields are the winning rep's "
            "shuffle/input/spill byte deltas from the UI REST API — "
            "bytes pin the algorithmic claim independently of the box; "
            "100x legs (single rep, all four corpus families r14) separate "
            "the fixed-overhead floor from true scaling; candidates_* on "
            "the minhash rows pin the LSH banding claim in PAIRS"
        ),
        "ops": {},
    }
    dirs = {}
    for tag, mult in (("1x", 1), ("10x", RATIO), ("100x", RATIO * RATIO)):
        dirs[tag] = synth_sf_dir(spark, DOCS_1X * mult, EMB_1X * mult)
    warm = synth_sf_dir(spark, 500, 200)
    try:
        for op, (rows_1x, has_100x) in corpus_ops.items():
            # untimed warm pass: JIT/codegen/Arrow warmup must not land
            # inside the 1x leg (it fakes sub-1.0 growth)
            timed(qs[op], spark, warm, reps=1)
            secs, works = {}, {}
            legs = ("1x", "10x", "100x") if has_100x else ("1x", "10x")
            for tag in legs:
                reps = 1 if tag == "100x" else 2
                secs[tag], works[tag] = timed(
                    qs[op], spark, dirs[tag], reps=reps, spark=spark
                )
                print(f"{op} {tag}: {secs[tag]:.1f}s", file=sys.stderr)
            rec = {
                "rows_1x": rows_1x, "sec_1x": round(secs["1x"], 2),
                "rows_10x": rows_1x * RATIO,
                "sec_10x": round(secs["10x"], 2),
                "growth": round(secs["10x"] / max(secs["1x"], 1e-9), 2),
                "work_1x": works["1x"], "work_10x": works["10x"],
            }
            sh1 = works["1x"].get("shuffle_write", 0)
            if sh1:
                rec["shuffle_growth"] = round(
                    works["10x"].get("shuffle_write", 0) / sh1, 2
                )
            if has_100x:
                rec["rows_100x"] = rows_1x * RATIO * RATIO
                rec["sec_100x"] = round(secs["100x"], 2)
                rec["growth_100x"] = round(
                    secs["100x"] / max(secs["1x"], 1e-9), 2
                )
                rec["work_100x"] = works["100x"]
                if sh1:
                    rec["shuffle_growth_100x"] = round(
                        works["100x"].get("shuffle_write", 0) / sh1, 2
                    )
            if op == "dedup_minhash_lsh":
                from mycarely_saas_dbt_spark.operators.dedup import (
                    minhash_candidate_count,
                )

                for tag in legs:
                    rec[f"candidates_{tag}"] = minhash_candidate_count(
                        spark, dirs[tag]
                    )
                    print(
                        f"{op} candidates {tag}: {rec[f'candidates_{tag}']}",
                        file=sys.stderr,
                    )
                rec["candidate_growth_100x"] = round(
                    rec["candidates_100x"] / max(rec["candidates_1x"], 1), 2
                )
            result["ops"][op] = rec
        ivm, ivm_w = {}, {}
        for tag, n in (("1x", 30_000), ("10x", 300_000)):
            ivm[tag], ivm_w[tag] = ivm_hop_seconds(spark, n)
            print(f"ivm_join_hop {tag}: {ivm[tag]:.1f}s", file=sys.stderr)
        rec = {
            "rows_1x": 30_000, "sec_1x": round(ivm["1x"], 2),
            "rows_10x": 300_000, "sec_10x": round(ivm["10x"], 2),
            "growth": round(ivm["10x"] / max(ivm["1x"], 1e-9), 2),
            "work_1x": ivm_w["1x"], "work_10x": ivm_w["10x"],
        }
        sh1 = ivm_w["1x"].get("shuffle_write", 0)
        if sh1:
            rec["shuffle_growth"] = round(
                ivm_w["10x"].get("shuffle_write", 0) / sh1, 2
            )
        result["ops"]["ivm_join_dim_churn_hop"] = rec
    finally:
        for d in [*dirs.values(), warm]:
            shutil.rmtree(d, ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"traffic_pages_agg": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the noop sink (computes every output
column, unlike count() which lets Catalyst prune the plan).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "traffic_pages_agg",
    "traffic_daily_agg",
    "lead_activities_agg",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
]

# extension benches appended as they land (dedup, similarity, text analysis)
EXTENSION_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
    "asof_join_spend",
    "sessionize_events",
    # round 3: the scale-default TP id path (no global Window) vs the
    # row_number parity entry above, plus the heaviest new text ops
    "traffic_pages_agg_hash",
    "lead_activities_agg_maxby",
    "sessionize_session_window",
    "doc_chunking",
    "chunk_packing",
    "skew_salted_join",
    "dedup_simhash64",
    "text_winnowing",
    # round 4: PQ-ADC shortlist + exact re-rank (includes its own exact
    # brute-force recall baseline, so the timing covers both paths), the
    # fingerprint-candidate containment dedup, and the composed
    # training-mix pipeline (near-dup keep + quality gate + domain cap)
    "ann_pq_adc_recall",
    "substring_containment",
    "training_mix_pipeline",
    # round 5: C4-style corpus repeated-span removal (shuffle-join shape)
    # and the cogrouped-map Arrow as-of join
    "line_dedup",
    "asof_join_spend_cogroup",
    # round 6: inverted-index BM25 retrieval, the Gopher within-doc
    # repetition filter, and iterative integer-exact PageRank
    "bm25_search",
    "repetition_filter",
    "graph_pagerank",
    # round 7: the persistent-index ANN query path (round 1 of the
    # interleaved bench builds + commits the index; warm rounds measure
    # the build-once/query-many shape a 100 TB deployment actually runs)
    "ann_pq_index_recall",
    # r7 late additions: the committed-postings BM25 query path (same
    # build-once pattern) and degree-ordered triangle counting (the
    # heaviest new graph op)
    "bm25_index_search",
    "graph_triangles",
    # r7 continuation: multi-clause MERGE (two-job copy-on-write file
    # surgery incl. the target bootstrap) and DSIR hashed n-gram
    # importance selection (one doc-bucket shuffle + broadcast ratios)
    "merge_multi_clause",
    "dsir_select",
    # r8: the delete-aware index lifecycle (commit base -> build postings
    # -> row-level DELETE -> tombstone-at-read search, end to end),
    # SemDeDup embedding-space dedup, and hybrid RRF retrieve-then-rerank
    "bm25_index_delete_aware",
    "semdedup",
    "hybrid_rrf_search",
    # r9: the ANN index-under-deletes lifecycle (self-describing base →
    # auto delete-aware query) and the sketch-only profiler variant; the
    # CDF streaming entry stays out of the bench (wall time is stream
    # machinery, like medallion — tracked per-round in CORRECTNESS only)
    "ann_index_delete_aware",
    "profile_table_approx",
    # r10: segmented-BM25 append + forceMerge lifecycles, the ANN
    # append-drift retrain lifecycle, the binned interval join, and the
    # stdlib PNG decode pipeline
    "bm25_index_append_search",
    "bm25_index_optimize_search",
    "ann_index_append_recall",
    "ann_index_retrain_recall",
    "interval_bin_join",
    "mm_image_decode",
    # r11: the tiered (background) segment-merge lifecycle and the
    # timestampAsOf/history fixture (DML + metadata-only resolution);
    # the streaming r11 entries (streaming_ann_maintenance,
    # streaming_bm25_maintenance, cdf_schema_evolution) are
    # stream-machinery wall time and stay out of the bench per the
    # medallion rule — tracked in CORRECTNESS only. streaming_ivm_join
    # runs batch refreshes through ivm.py; like every streaming_* entry
    # it is timed by scripts/bench_streaming.py, not here
    "bm25_index_tiered_search",
    "time_travel_history",
    "rename_column_lifecycle",
]

# Lifecycle entries (build -> mutate -> query fixtures): their wall time
# is build-dominated, so the artifact splits phases (VERDICT r9 item 5).
# Entries record build/mutate/... via util.timed_phase; the QUERY cost is
# the residual (total - recorded phases) since the returned DataFrame
# executes at the sink. Reported from each entry's MIN-total run.
PHASED_QUERIES = [
    "bm25_index_delete_aware",
    "ann_index_delete_aware",
    "bm25_index_append_search",
    "bm25_index_optimize_search",
    "ann_index_append_recall",
    "ann_index_retrain_recall",
    "bm25_index_tiered_search",
]

# Suite split for round-over-round comparability (VERDICT r10 item 6):
# `total`/`total_median` drift as lifecycle entries accumulate, so the
# artifact also reports per-suite subtotals — `parity` (the reference
# models + TPC-H extension shapes, stable since r1), `lifecycle` (the
# build->mutate->query fixture entries, fixture-cost dominated), and
# `extension` (everything else). Compare rounds per-suite.
LIFECYCLE_QUERIES = PHASED_QUERIES + ["merge_multi_clause"]

# Entries whose artifact numbers above are WARM-path (util.session_memo
# memoizes the minhash pair relation per session). VERDICT r7 item 3:
# round-over-round comparisons need the cold number too, so these re-run
# with MYCARELY_SESSION_MEMO=0 after the interleaved rounds and land in
# `queries_cold` — SURVEY cites which number any claim uses.
MEMOIZED_QUERIES = [
    "dedup_minhash_lsh",
    "training_mix_pipeline",
]
COLD_RUNS = 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from mycarely_saas_dbt_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()

    # Warm-up outside the timed region: JVM/codegen spin-up plus the one-time
    # source registration (parquet footer reads + temp-view creation) that is
    # session setup, not query execution.
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    register_sources(spark, sf_dir)

    # INTERLEAVED rounds (q1,q2,...,qN repeated N_ROUNDS times — A/B/A/B, not
    # A×N then B×N): this box's wall-clock noise is +/-50% over minutes-long
    # load swings (firecracker VM, shared host), so back-to-back runs of one
    # query all land in the same swing and min-of-3 can't tell noise from
    # regression (BENCH_r04 lesson: six queries "regressed" ~1.4-1.7x with no
    # code change). Interleaving spreads each query's samples across the whole
    # session, and the artifact reports min/median/spread per query so a
    # reader can reject noisy numbers instead of trusting them.
    # `queries` stays the min map (comparable with BENCH_r01..r04);
    # `queries_median` / `queries_spread` are the falsifiability additions.
    # Crash-proof: one broken query must never erase the whole artifact
    # (BENCH_r02 lesson) — each run is caught individually and the final
    # JSON line always prints.
    from mycarely_saas_dbt_spark.util import capture_phases

    N_ROUNDS = 5
    samples: dict[str, list[float]] = {}
    phase_runs: dict[str, list[tuple[float, dict]]] = {}
    errors: dict[str, str] = {}
    names = [n for n in BENCH_QUERIES + EXTENSION_QUERIES if n in qs]
    for rnd in range(N_ROUNDS):
        for name in names:
            if name in errors:
                continue
            try:
                sink: dict = {}
                t0 = time.time()
                with capture_phases(sink):
                    df = qs[name](spark, sf_dir)
                    df.write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                samples.setdefault(name, []).append(dt)
                if sink:
                    phase_runs.setdefault(name, []).append((dt, sink))
            except Exception as exc:  # noqa: BLE001 — record and keep going
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(
                    f"[bench] {name}: ERROR {errors[name]}",
                    file=sys.stderr,
                    flush=True,
                )
        print(f"[bench] --- round {rnd + 1}/{N_ROUNDS} done", file=sys.stderr, flush=True)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in names:
        runs = sorted(samples.get(name, []))
        if not runs:
            continue
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        spreads[name] = [round(t, 3) for t in runs]
        print(
            f"[bench] {name}: min={timings[name]}s median={medians[name]}s"
            f" spread={spreads[name]}",
            file=sys.stderr,
            flush=True,
        )

    # phase split for lifecycle entries (VERDICT r9 item 5): from each
    # entry's MIN-total run, the recorded fixture phases plus the query
    # residual — so a query-path regression is attributable even when the
    # fixture dominates the wall time
    phases: dict[str, dict[str, float]] = {}
    for name in PHASED_QUERIES:
        if name in samples and name not in phase_runs:
            print(
                f"[bench] WARNING: {name} recorded no phases (timed_phase "
                "instrumentation missing?)",
                file=sys.stderr,
                flush=True,
            )
    for name, runs in phase_runs.items():
        dt, sink = min(runs, key=lambda r: r[0])
        phases[name] = {
            **sink,
            "query_residual": round(max(0.0, dt - sum(sink.values())), 3),
        }
        print(f"[bench] {name} phases: {phases[name]}", file=sys.stderr, flush=True)

    # cold pass for memoized entries (min of COLD_RUNS, every run rebuilds)
    cold: dict[str, float] = {}
    cold_spread: dict[str, list[float]] = {}
    os.environ["MYCARELY_SESSION_MEMO"] = "0"
    try:
        for name in MEMOIZED_QUERIES:
            if name not in qs or name in errors:
                continue
            runs = []
            for _ in range(COLD_RUNS):
                try:
                    t0 = time.time()
                    qs[name](spark, sf_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                    runs.append(time.time() - t0)
                except Exception as exc:  # noqa: BLE001
                    errors[f"{name}(cold)"] = f"{type(exc).__name__}: {exc}"[:500]
                    break
            if runs:
                cold[name] = round(min(runs), 3)
                cold_spread[name] = [round(t, 3) for t in sorted(runs)]
                print(
                    f"[bench] {name} COLD: min={cold[name]}s"
                    f" spread={cold_spread[name]}",
                    file=sys.stderr,
                    flush=True,
                )
    finally:
        os.environ.pop("MYCARELY_SESSION_MEMO", None)

    total = round(sum(timings.values()), 3)

    def subtotal(vals: dict[str, float]) -> dict[str, float]:
        groups = {"parity": 0.0, "lifecycle": 0.0, "extension": 0.0}
        for name, t in vals.items():
            if name in BENCH_QUERIES:
                groups["parity"] += t
            elif name in LIFECYCLE_QUERIES:
                groups["lifecycle"] += t
            else:
                groups["extension"] += t
        return {k: round(v, 3) for k, v in groups.items()}

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_spread": spreads,
        "queries_cold": cold,
        "queries_cold_spread": cold_spread,
        "queries_phases": phases,
        "phases_note": "lifecycle entries' min-total run split into "
        "fixture phases (util.timed_phase) + query_residual (total minus "
        "recorded phases — the returned DataFrame executes at the sink)",
        "cold_note": "queries_cold re-runs session_memo-backed entries "
        "with MYCARELY_SESSION_MEMO=0 (every run rebuilds the memoized "
        "relation); `queries` numbers for those entries are warm-path",
        "total_median": round(sum(medians.values()), 3),
        "subtotals": subtotal(timings),
        "subtotals_median": subtotal(medians),
        "subtotals_note": "per-suite min/median sums (parity = models + "
        "TPC-H, lifecycle = fixture-building entries, extension = rest) "
        "— compare rounds per-suite; `total` drifts as entries join",
        "sf": sf,
        "runs_per_query": N_ROUNDS,
        "aggregation": "min",
        "schedule": "interleaved",
    }
    if errors:
        out["errors"] = errors
    # Full artifact (incl. per-query spreads) goes to its OWN file — the
    # driver's stdout tail capture truncated the r5 JSON line's head
    # (BENCH_r05 `parsed: null`), and the r13 line — which still inlined
    # medians, cold spreads and phase maps — truncated AGAIN in the
    # driver's tail (BENCH_r13 `parsed: null`), costing round 14 its
    # entire round-over-round comparison (VERDICT r14 item 2). r15
    # measurement-contract fix: stdout now carries ONLY the driver's
    # parse contract (metric/value/unit/queries/sf) plus the effective
    # parallelism (`cpus_effective` from sc.defaultParallelism and
    # `master`, so "env var ignored" is distinguishable from
    # "overhead-bound" — the r14 suspect_cpus_ignored flag); medians,
    # spreads, cold runs, phases and subtotals stay in bench_result.json
    # (`detail_file`). No timing methodology changed.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        out["cpus_effective"] = spark.sparkContext.defaultParallelism
        out["master"] = spark.sparkContext.master
    except Exception:  # noqa: BLE001 — the line must still print
        pass
    with open(os.path.join(here, "bench_result.json"), "w") as fh:
        json.dump(out, fh)
    compact = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "sf",
            "cpus_effective",
            "master",
            "runs_per_query",
            "aggregation",
            "errors",
        )
        if k in out
    }
    compact["detail_file"] = "bench_result.json"
    print(json.dumps(compact), flush=True)
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    main()

"""Per-entry wall + phase measurement for the STREAMING family (r15,
VERDICT r14 item 3: the one untouched family had no bench or phase
artifact at all, so regressions there were invisible).

These entries stay OUT of bench.py by the standing medallion rule (their
wall time is Structured Streaming machinery, not query compute), but that
is exactly why they need their own artifact: this script times each entry
with ``measure.time_entry`` (noop sink, the phases the entry reports via
util.timed_phase, residual = wall - phases), keeps each entry's
min-of-``--reps`` run and prints the artifact as JSON (written to a file
only with --out; the committed STREAMING_r*.json artifacts are never
overwritten by default).

One discarded streaming run comes first (`_stream_warmup`), so no timed
entry pays the session's stream machinery start-up and an entry's time
does not depend on its position in the run.

Usage: python scripts/bench_streaming.py [--sf-dir DIR] [--reps N]
       [--out PATH] [names...]
(default: every registered streaming_* entry plus medallion_multihop,
cdf_schema_evolution and colmap_stream_restart.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXTRA = ["medallion_multihop", "cdf_schema_evolution", "colmap_stream_restart"]


def _stream_warmup(spark, sf_dir: str) -> None:
    """One discarded Structured Streaming run: a tiny change-data table
    committed through IncrementalRunner, streamed once through the
    change-feed source into a stateful aggregate and a foreachBatch
    sink — the machinery the timed entries share."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        register_manifest_cdf_source,
    )
    from mycarely_saas_dbt_spark.util import await_or_raise

    root = tempfile.mkdtemp(prefix="stream_warmup_")
    try:
        register_manifest_cdf_source(spark)
        IncrementalRunner(spark, root).run(
            ModelSpec(
                "warmup", "k", "k",
                lambda sp, sfd, wm: sp.range(100).select(
                    F.col("id").alias("k"), (F.col("id") % 7).alias("v")
                ),
                change_data=True,
            ),
            sf_dir,
        )
        q = (
            spark.readStream.format("mycarely_manifest_cdf")
            .option("root", root)
            .option("model", "warmup")
            .option("key", "k")
            .load()
            .groupBy("v")
            .count()
            .writeStream.outputMode("complete")
            .foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from mycarely_saas_dbt_spark import measure

    spark, qs = measure.boot("bench-streaming", args.sf_dir)
    names = args.names or (
        [n for n in qs if n.startswith("streaming_")]
        + [n for n in EXTRA if n in qs]
    )
    warm, _ = measure.time_entry(_stream_warmup, spark, args.sf_dir)
    print(f"[stream-bench] warm-up (discarded): {warm:.1f}s",
          file=sys.stderr, flush=True)

    wall: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    phases: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        runs: list[tuple[float, dict]] = []
        for _ in range(args.reps):
            try:
                runs.append(measure.time_entry(qs[name], spark, args.sf_dir))
            except Exception as exc:  # noqa: BLE001 — record and continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:400]
                break
        if not runs:
            continue
        wall[name], _, spread[name] = measure.summarize([r[0] for r in runs])
        dt, ph = min(runs, key=lambda r: r[0])
        if ph:
            phases[name] = {**ph, "residual": measure.residual(dt, ph)}
        print(
            f"[stream-bench] {name}: min={wall[name]}s spread={spread[name]}"
            f" phases={phases.get(name, {})}",
            file=sys.stderr,
            flush=True,
        )

    out = {
        "metric": "streaming_entries_wall",
        "unit": "sec",
        "value": round(sum(wall.values()), 3),
        "queries": wall,
        "queries_spread": spread,
        "queries_phases": phases,
        "reps": args.reps,
        "aggregation": "min",
        "sf_dir": args.sf_dir,
        "note": "streaming-family entries excluded from bench.py by the "
        "medallion rule; phases from util.timed_phase where instrumented, "
        "residual = wall - recorded phases",
    }
    if errors:
        out["errors"] = errors
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps({k: out[k] for k in ("metric", "value", "queries")}))
    else:
        print(json.dumps(out))
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass


if __name__ == "__main__":
    main()

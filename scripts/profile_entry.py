"""Per-job profile of registered entries (guide §1: measure first).

Runs each named entry through ``measure.time_entry`` (noop sink) at
--sf-dir and, with the Spark UI on (``main`` sets MYCARELY_UI=1 unless the
caller set it), lists the Spark jobs the entry launched, read through
``measure.ui_jobs``: wall per job, its description and the job count — so
fixture-heavy entries show WHERE the seconds go (many tiny commit jobs vs
one big shuffle) before anything is changed.

Usage: python scripts/profile_entry.py [--sf-dir DIR] [--reps N] name...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOP = 25


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.environ.setdefault("MYCARELY_UI", "1")
    from mycarely_saas_dbt_spark import measure

    spark, qs = measure.boot("profile", args.sf_dir)
    for name in args.names:
        for rep in range(args.reps):
            before = {j["jobId"] for j in measure.ui_jobs(spark)}
            wall, phases = measure.time_entry(qs[name], spark, args.sf_dir)
            rows = sorted(
                (
                    (measure.job_seconds(j), j["jobId"], (j.get("description") or j.get("name") or "")[:110])
                    for j in measure.ui_jobs(spark)
                    if j["jobId"] not in before
                ),
                reverse=True,
            )
            job_sum = sum(r[0] for r in rows)
            print(f"\n=== {name} rep{rep}: wall={wall:.2f}s jobs={len(rows)} job-sum={job_sum:.2f}s phases={phases}")
            for dur, jid, desc in rows[:TOP]:
                print(f"  {dur:7.2f}s  job {jid:4d}  {desc}")
            if len(rows) > TOP:
                rest = sum(r[0] for r in rows[TOP:])
                print(f"  {rest:7.2f}s  ... {len(rows) - TOP} more jobs")

    spark.stop()


if __name__ == "__main__":
    main()

"""Dump .explain("formatted") for registered entries to plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py --tag r14 --suffix before name...
Lifecycle entries execute their fixture phases when called (the returned
DataFrame is the query path); the dump captures the QUERY plan — exactly what
the bench's noop sink executes.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from mycarely_saas_dbt_spark import measure

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark, qs = measure.boot("dump_plans", args.sf_dir)

    for name in args.names:
        try:
            df = qs[name](spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR capturing plan: {type(exc).__name__}: {exc}"
        p = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(p, "w") as fh:
            fh.write(plan)
        print(f"wrote {p} ({len(plan)} chars)")

    spark.stop()


if __name__ == "__main__":
    main()

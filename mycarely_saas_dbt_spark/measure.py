"""The measurement rules every harness script shares (``bench.py``,
``scripts/bench_streaming.py``, ``profile_entry.py``, ``scale_stress.py``,
``ab_minhash.py``, ``dump_plans.py``, ``explain_audit.py``).

* ``boot`` — one session set-up, all of it outside any timed region.
* ``time_entry`` — one timed call: fixture phases captured through
  ``util.capture_phases``, the result forced through the noop sink.
* ``summarize`` / ``residual`` — min/median/spread of a sample list and
  wall minus the recorded phases.
* ``ui_jobs`` / ``job_seconds`` / ``ui_work`` / ``work_delta`` — the
  Spark UI REST API (``MYCARELY_UI=1``); with the UI off they return no
  jobs and all-zero counters, so wall-clock measurement works anywhere.

Each script keeps its own entry list, CLI and artifact layout.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
from datetime import datetime

from mycarely_saas_dbt_spark.util import capture_phases


def boot(app_name: str, sf_dir: str):
    """Session for a harness: quiet logs, the query registry, a 1M-row
    JVM/codegen warm-up and the source registration (parquet footer
    reads + temp views), which is session set-up, not query execution.
    Returns ``(spark, queries)``."""
    from mycarely_saas_dbt_spark.entry import build_queries
    from mycarely_saas_dbt_spark.session import get_spark
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    register_sources(spark, sf_dir)
    return spark, queries


def force(df) -> None:
    """Execute every output column of every row: the noop sink. Never
    ``count()``, which lets Catalyst prune columns and whole subtrees (on
    the old semdedup it eliminated the within-cluster pairwise stage, so
    the r12-r14 scale legs timed a no-op)."""
    df.write.mode("overwrite").format("noop").save()


def time_entry(fn, *args) -> tuple[float, dict]:
    """Call ``fn(*args)`` under ``capture_phases`` and force the returned
    DataFrame (``None`` is allowed for calls that only act, such as a view
    refresh). Returns ``(wall_s, phases)``; entries return lazy frames,
    so the query itself runs at the sink and is part of the wall."""
    phases: dict = {}
    t0 = time.perf_counter()
    with capture_phases(phases):
        df = fn(*args)
        if df is not None:
            force(df)
    return time.perf_counter() - t0, phases


def summarize(samples: list[float]) -> tuple[float, float, list[float]]:
    """``(min, median, sorted spread)``, rounded to ms. The median is the
    upper middle sample for an even count."""
    runs = sorted(samples)
    return (
        round(runs[0], 3),
        round(runs[len(runs) // 2], 3),
        [round(t, 3) for t in runs],
    )


def residual(wall: float, phases: dict) -> float:
    """Wall time not covered by a recorded phase (the query itself, for a
    lifecycle entry); never negative."""
    return round(max(0.0, wall - sum(phases.values())), 3)


@contextlib.contextmanager
def setenv(name: str, value: str):
    """Set one environment variable for the block, then restore the
    caller's value (or its absence)."""
    prev = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = prev


def _ui_get(spark, path: str) -> list:
    sc = spark.sparkContext
    base = sc.uiWebUrl  # None when spark.ui.enabled is false
    if not base:
        return []
    url = f"{base}/api/v1/applications/{sc.applicationId}/{path}"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)
    except (OSError, ValueError):
        return []  # UI race: the caller still gets wall-clock numbers


def ui_jobs(spark) -> list[dict]:
    """Succeeded jobs the UI still retains (``spark.ui.retainedJobs``)."""
    return _ui_get(spark, "jobs?status=succeeded")


def job_seconds(job: dict) -> float:
    """Submission-to-completion wall of one UI job record (the REST API
    writes times as e.g. ``2026-10-20T11:53:17.120GMT``)."""
    def at(stamp: str) -> datetime:
        return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")

    return (at(job["completionTime"]) - at(job["submissionTime"])).total_seconds()


def ui_work(spark) -> dict:
    """Cumulative work counters. Executor totals (shuffle read/write,
    input bytes) are monotone and never evicted, so diffing two snapshots
    isolates the work between them exactly; spill sums the retained
    stages (best effort: stage eviction can undercount it)."""
    out = dict.fromkeys(
        ("shuffle_read", "shuffle_write", "input_bytes", "spill_mem", "spill_disk"), 0
    )
    for e in _ui_get(spark, "executors"):
        out["shuffle_read"] += e.get("totalShuffleRead", 0)
        out["shuffle_write"] += e.get("totalShuffleWrite", 0)
        out["input_bytes"] += e.get("totalInputBytes", 0)
    for s in _ui_get(spark, "stages?status=complete"):
        out["spill_mem"] += s.get("memoryBytesSpilled", 0)
        out["spill_disk"] += s.get("diskBytesSpilled", 0)
    return out


def work_delta(before: dict, after: dict) -> dict:
    return {k: max(0, after[k] - before[k]) for k in before}

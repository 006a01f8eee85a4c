"""The shared measurement module (`mycarely_saas_dbt_spark.measure`) and
the harness scripts that call it: importing a script has no side effect
on the process environment, the forcing call executes what `count()`
prunes, and the UI client degrades to empty values with the UI off."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark import measure
from mycarely_saas_dbt_spark.util import timed_phase

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_expose_main_and_leave_env_alone(path):
    env = dict(os.environ)
    spec = importlib.util.spec_from_file_location(f"harness_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
    assert dict(os.environ) == env


def test_force_executes_what_count_prunes(spark):
    df = spark.range(3).select("id", F.expr("raise_error('forced')").alias("x"))
    assert df.count() == 3  # the raising column is pruned away
    with pytest.raises(Exception, match="forced"):
        measure.force(df)
    with pytest.raises(Exception, match="forced"):
        measure.time_entry(lambda: df)


def test_time_entry_captures_phases_and_residual_is_never_negative(spark):
    def entry(sp, n):
        with timed_phase("build"):
            df = sp.range(n)
        return df

    wall, phases = measure.time_entry(entry, spark, 10)
    assert set(phases) == {"build"}
    assert wall >= phases["build"]
    assert measure.residual(wall, phases) >= 0.0
    assert measure.residual(0.5, {"build": 0.4, "mutate": 0.3}) == 0.0
    assert measure.residual(1.0, {"build": 0.25}) == 0.75


def test_summarize_min_median_spread():
    assert measure.summarize([0.3, 0.1, 0.2, 0.4]) == (0.1, 0.3, [0.1, 0.2, 0.3, 0.4])
    assert measure.summarize([2.0]) == (2.0, 2.0, [2.0])


def test_ui_client_with_ui_off_returns_empty_values(spark):
    assert spark.sparkContext.uiWebUrl is None  # tier-1 sessions run headless
    assert measure.ui_jobs(spark) == []
    work = measure.ui_work(spark)
    assert work and set(work.values()) == {0}
    assert measure.work_delta(work, measure.ui_work(spark)) == work


def test_job_seconds_parses_ui_timestamps():
    job = {
        "submissionTime": "2026-10-20T11:59:59.880GMT",
        "completionTime": "2026-10-20T12:00:01.125GMT",
    }
    assert measure.job_seconds(job) == pytest.approx(1.245)


def test_setenv_restores_the_callers_value(monkeypatch):
    monkeypatch.setenv("MYCARELY_SESSION_MEMO", "1")
    with measure.setenv("MYCARELY_SESSION_MEMO", "0"):
        assert os.environ["MYCARELY_SESSION_MEMO"] == "0"
    assert os.environ["MYCARELY_SESSION_MEMO"] == "1"
    monkeypatch.delenv("MYCARELY_SESSION_MEMO")
    with measure.setenv("MYCARELY_SESSION_MEMO", "0"):
        pass
    assert "MYCARELY_SESSION_MEMO" not in os.environ

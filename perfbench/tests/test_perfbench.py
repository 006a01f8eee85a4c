"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The fast tests check the input generator and the output-check helpers.
The end-to-end tests run ``perfbench/run.py`` at the ``tiny`` size (a JVM
per run, several minutes in all): every workload must pass its output
checks and print exactly the metric names BENCHMARK.json declares, and a
corrupted result must fail the check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from spans import union_len  # noqa: E402
from workloads import WORKLOADS, frame_diff  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
TINY = gen.SIZES["tiny"]


def run_bench(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
           "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return out.returncode, res, out.stdout + out.stderr[-3000:]


# -- fast ---------------------------------------------------------------------
def test_generator_is_byte_identical_per_seed(tmp_path):
    def files(seed, sub):
        root = str(tmp_path / sub)
        small = gen.write_small(root, seed, TINY)
        gen.write_dag_dirs(root, seed, TINY)
        gen.write_corpus_shards(root, seed, TINY, 2, small)
        gen.write_ivm_batches(root, seed, TINY, 2)
        return {
            os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
            for d, _, fs in os.walk(root) for f in fs
        }

    a, b, c = files(7, "a"), files(7, "b"), files(8, "c")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_dag_dirs_land_one_day_each(tmp_path):
    dirs = gen.write_dag_dirs(str(tmp_path), 1, TINY)
    rows = [pq.read_metadata(os.path.join(d, "events.parquet")).num_rows for d in dirs]
    per = TINY.events_per_day
    assert rows == [(TINY.boot_days + i) * per for i in range(TINY.batch_days + 1)]
    # each landing adds the orders dated that day: leads and spends of
    # every landed day reach the program with the day's events
    for i in range(1, len(dirs)):
        keys = {
            k: set(pq.read_table(os.path.join(d, "orders.parquet")).column("o_orderkey").to_pylist())
            for k, d in (("before", dirs[i - 1]), ("after", dirs[i]))
        }
        new = sorted(keys["after"] - keys["before"])
        assert keys["before"] <= keys["after"]
        days = gen.order_day(pd.Series(new, dtype="int64").to_numpy())
        assert set(days) == {TINY.boot_days + i - 1}
        assert any(k % 3 == 1 for k in new) and any(k % 5 == 0 for k in new)


def test_corpus_shape_does_not_depend_on_the_seed():
    a, b = gen.documents(1, TINY).to_pandas(), gen.documents(2, TINY).to_pandas()
    assert not a.text.equals(b.text)
    for df in (a, b):
        df["words"] = df.text.str.split().str.len()
        df["dup"] = df.text.str.endswith(" dup")
    assert a.dup.any() and a.dup.equals(b.dup) and a.words.equals(b.words)
    la, lb = (gen.embeddings(s, TINY).column("label") for s in (1, 2))
    assert la.equals(lb)


def test_ivm_batches_touch_only_live_events(tmp_path):
    paths = gen.write_ivm_batches(str(tmp_path), 1, TINY, 3)
    live = set(range(TINY.boot_days * TINY.events_per_day))
    for p in paths:
        b = pq.read_table(p).to_pandas()
        old = b[b.event_id < (b.event_id.max() // TINY.events_per_day) * TINY.events_per_day]
        assert set(old.event_id) <= live
        assert b["__del"].any() and (~b["__del"]).any()
        live |= set(b[~b["__del"]].event_id)
        live -= set(b[b["__del"]].event_id)


def test_frame_diff_catches_a_changed_value():
    want = pd.DataFrame({"k": [1, 2, 3], "v": ["a", None, "c"]})
    assert frame_diff(want.iloc[::-1], want) is None
    bad = want.copy()
    bad.loc[1, "v"] = "b"
    assert frame_diff(bad, want) is not None
    assert frame_diff(want.iloc[1:], want) is not None


def test_union_len():
    assert union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_len([(0, 2)], 1, 10) == 1
    assert union_len([], 0, 1) == 0


# -- end to end (tiny inputs) -------------------------------------------------
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke_prints_end_to_end_metrics(workload):
    code, res, log = run_bench(workload, "--trace", "0")
    assert code == 0, log
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, log
    assert list(res["metrics"]) == E2E
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_per_layer_metrics(workload):
    code, res, log = run_bench(workload, "--trace", "1")
    assert code == 0 and res["correct"], log
    assert sorted(res["metrics"]) == sorted(PER_LAYER)
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in res["metrics"].items())
    assert res["metrics"]["trace.span_coverage"]["value"] >= 0.9
    if workload != "corpus_prep":
        assert res["metrics"]["incremental.commits"]["value"] >= 1


def test_corrupted_result_fails_the_output_check():
    code, res, log = run_bench("corpus_prep", "--corrupt")
    assert code == 0, log
    assert res["correct"] is False and res["failed"] >= 1, log


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res, log = run_bench("dag_incremental", cwd=str(tmp_path))
    assert code != 0 and res is None, log

"""One benchmark run: set up, warm up, a timed closed loop, output
checks, and the metrics the run prints.

Timeline of a run (all in one process, one client):

  process start ─ inputs written (excluded) ─ session ─ workload set-up ─
  warm-up ops ─┬─ timed loop: op, then ``wl.reads_per_op`` reads, until
               │  ``seconds`` have passed ─ checks (outside the clock)
               └─ first timed op: ``setup_s`` ends here
"""

from __future__ import annotations

import statistics
import time

import procstat
from spans import NULL, Tracer, job_intervals, stage_totals, union_len


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0



def _op_layers(tr: Tracer, wl, i: int, t0: float, t1: float, mark, pw0: float,
               files0: dict[str, int]) -> dict[str, float]:
    """Per-layer numbers of op ``i``, run in the window [t0, t1] of a
    traced run; ``mark``, ``pw0`` and ``files0`` were taken before it."""
    jobs, stages, exchanges = tr.new_jobs()
    idx = tr.window(t0, t1)
    jobs_iv = job_intervals(jobs)
    m = stage_totals(jobs, stages)
    m["driver.residual_s"] = (t1 - t0) - union_len(jobs_iv, t0, t1)
    recs = [r for r in tr.listener.records if t0 <= r[0]]
    tr.listener.records.clear()
    m["catalyst.plan_s"] = sum(r[1] for r in recs)
    m["catalyst.queries"] = len(recs)
    m["spark.exchanges"] = exchanges
    for model in ("traffic_pages_agg", "traffic_daily_agg", "lead_activities_agg"):
        m[f"incremental.run_s.{model}"] = tr.sum_spans(idx, f"incremental.run.{model}")
    m["sources.register_s"] = tr.sum_spans(idx, "sources.register")
    m["incremental.watermark_s"] = tr.sum_spans(idx, "incremental.watermark")
    m["ivm.base_commit_s"] = tr.sum_spans(idx, "incremental.run.bv_ev")
    m["ivm.mv_refresh_s"] = tr.sum_spans(idx, "ivm.mv_refresh")
    m["ivm.jv_refresh_s"] = tr.sum_spans(idx, "ivm.jv_refresh")
    refresh = [tr.spans[i] for i in idx if tr.spans[i][0] in ("ivm.mv_refresh", "ivm.jv_refresh")]
    m["streaming.trigger_s"] = sum((b - a) - union_len(jobs_iv, a, b) for _, a, b, _ in refresh)
    m["operators.training_mix_s"] = tr.sum_spans(idx, "operators.training_mix")
    m["operators.semdedup_s"] = tr.sum_spans(idx, "operators.semdedup")
    selfs = tr.self_times(idx)
    for layer in ("sources", "incremental", "ivm", "operators", "workload"):
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    top = [(tr.spans[i][1], tr.spans[i][2]) for i in idx if tr.spans[i][3] == tr.op_span]
    m["trace.span_coverage"] = union_len(top, t0, t1) / (t1 - t0)
    m["ivm.probe_rels"], m["ivm.recompute_groups"] = wl.path_counts(mark)
    m["python_worker.cpu_s"] = procstat.python_worker_cpu_s() - pw0
    new = {p: n for p, n in wl.target_files().items() if p not in files0}
    m["incremental.commits"] = sum(1 for p in new if "/_manifest/v" in p)
    m["incremental.files_written"] = len(new)
    m["incremental.bytes_written"] = sum(new.values())
    inp = wl.op_input_bytes(i)
    m["incremental.write_amp"] = m["incremental.bytes_written"] / inp if inp else 0.0
    return m


def run(wl, seconds: float, tracer: Tracer | None, t_start: float) -> tuple[dict, str]:
    """Run one workload; returns the result object the CLI prints and a
    one-line sample summary."""
    tr = tracer or NULL
    wl.tracer = tr
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t
    # driver_rss_mb covers the program's time only, not input generation
    procstat.reset_driver_peak_rss()

    from mycarely_saas_dbt_spark import session

    t = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    if tracer:
        tracer.attach(spark)
    t = time.perf_counter()
    with tr.span("workload.setup"):
        wl.setup(spark)
    bootstrap_s = time.perf_counter() - t
    t_reg_setup = tracer.sum_spans(range(len(tracer.spans)), "sources.register") if tracer else 0.0

    t = time.perf_counter()
    for i in range(wl.warmup_ops):
        wl.op(i)
        for _ in range(wl.reads_per_op):
            wl.read(i)
    i, warm_ops, warmup_s = wl.warmup_ops, wl.warmup_ops, time.perf_counter() - t
    if tracer:
        tracer.new_jobs()           # drop warm-up jobs from the op windows
        tracer.listener.records.clear()
        tracer.counts.clear()

    t_first = time.perf_counter()
    setup_s = t_first - t_start - gen_s
    op_s, op_cpu, read_s, read_cpu, layers, attempted, failed = [], [], [], [], [], 0, 0
    while time.perf_counter() - t_first < seconds and i < wl.capacity():
        cpu0, mark = procstat.tree_cpu_s(), wl.path_mark()
        pw0 = procstat.python_worker_cpu_s() if tracer else 0.0
        files0 = wl.target_files() if tracer else {}
        w0 = time.time()
        attempted += 1
        with tr.span("workload.op") as sid:
            if tracer:
                tracer.op_span = sid
            a = time.perf_counter()
            try:
                wl.op(i)
                ok = True
            except AssertionError as exc:
                print(f"perfbench: op {i} failed: {exc}", flush=True)
                ok = False
            dt = time.perf_counter() - a
        w1 = time.time()
        op_cpu.append(procstat.tree_cpu_s() - cpu0)
        op_s.append(dt)
        failed += not ok
        if tracer:
            layers.append(_op_layers(tracer, wl, i, w0, w1, mark, pw0, files0))
        for _ in range(wl.reads_per_op):
            attempted += 1
            r0, cpu0 = time.time(), procstat.tree_cpu_s()
            with tr.span("workload.read"):
                a = time.perf_counter()
                try:
                    wl.read(i)
                except AssertionError as exc:
                    print(f"perfbench: read after op {i} failed: {exc}", flush=True)
                    failed += 1
                read_s.append(time.perf_counter() - a)
            read_cpu.append(procstat.tree_cpu_s() - cpu0)
            if tracer:
                tracer.new_jobs()
                tracer.listener.records.clear()
                idx = tracer.window(r0, time.time())
                layers[-1].setdefault("incremental.read_target_s", []).append(
                    tracer.sum_spans(idx, "incremental.read_target"))
                layers[-1].setdefault("operators.topk_s", []).append(
                    tracer.sum_spans(idx, "operators.topk"))
        i += 1

    loop_s = time.perf_counter() - t_first
    rss_mb = procstat.driver_peak_rss_mb()
    t = time.perf_counter()
    bad_ops, errors = wl.check()
    for e in errors:
        print(f"perfbench: check failed: {e}", flush=True)
    failed += bad_ops
    stored = wl.stored_bytes_per_row()
    check_s = time.perf_counter() - t

    if not tracer:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_s.p50": (median(op_cpu), "s"),
            # background JIT and GC threads make single reads' CPU jumpy;
            # CPU over all of a run's reads per read is steadier
            "read_cpu_s.mean": (sum(read_cpu) / max(len(read_cpu), 1), "s"),
            "stored_bytes_per_row": (stored, "bytes"),
            "driver_rss_mb": (rss_mb, "MB"),
        }
    else:
        metrics = {
            "session.get_spark_s": (get_spark_s, "s"),
            "setup.bootstrap_s": (bootstrap_s, "s"),
            "setup.register_s": (t_reg_setup, "s"),
            "setup.warmup_s": (warmup_s, "s"),
            "setup.warmup_ops": (warm_ops, "count"),
            "trace.op_s.p50": (median(op_s), "s"),
            "operators.split_evals": (tracer.counts.get("operators.split_evals", 0) / max(len(op_s), 1),
                                      "count"),
        }
        for k in layers[0] if layers else []:
            vals = [median(m[k]) if isinstance(m[k], list) else m[k] for m in layers]
            metrics[k] = (min(vals) if k == "trace.span_coverage" else median(vals), UNITS.get(k, "s"))
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }, (f"gen_s={gen_s:.1f} setup_s={setup_s:.1f} loop_s={loop_s:.1f} check_s={check_s:.1f} "
        f"op_s={[round(x, 2) for x in op_s]} op_cpu_s={[round(x, 2) for x in op_cpu]} "
        f"read_s={[round(x, 2) for x in read_s]} read_cpu_s={[round(x, 2) for x in read_cpu]}")


UNITS = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_execution_mb": "MB", "spark.exchanges": "count",
    "catalyst.queries": "count", "incremental.commits": "count",
    "incremental.files_written": "count", "incremental.bytes_written": "bytes",
    "incremental.write_amp": "ratio", "ivm.probe_rels": "count", "ivm.recompute_groups": "count",
    "trace.span_coverage": "ratio",
}

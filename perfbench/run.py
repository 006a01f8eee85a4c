"""Benchmark entry point.

    python3 perfbench/run.py --workload ivm_refresh --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Builds the seeded inputs, runs one
workload against the program in this checkout, checks its outputs and
prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).

Fixed run settings, identical on every run: Spark ``local[4]`` (capped
at the machine's cores), 8 shuffle partitions, 2g driver memory, and
private TMPDIR / SPARK_LOCAL_DIRS / warehouse directories under
``.perfbench_work/`` that are removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mycarely_saas_dbt_spark"

SPARK_THREADS = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def _env(work: str, trace: bool) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(SPARK_THREADS),
        "SPARK_SHUFFLE_PARTITIONS": str(SHUFFLE_PARTITIONS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "MYCARELY_UI": "1" if trace else "0",
        # Python workers import the program from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--conf spark.local.dir={os.path.join(work, 'local')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes() -> None:
    """Stop Spark, then the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    import procstat

    pids = procstat.descendants()
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
    except Exception:
        traceback.print_exc()
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="input size class (gen.SIZES)")
    ap.add_argument("--corrupt", action="store_true",
                    help="test hook: perturb one result before the output check")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a checkout of the "
              "program", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS or args.size not in gen.SIZES:
        print(f"perfbench: unknown workload or size ({sorted(WORKLOADS)}, {sorted(gen.SIZES)})",
              file=sys.stderr)
        return 2
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import procstat

    steal0 = procstat.steal_share()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    _env(work, bool(args.trace))
    try:
        import harness

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
        wl = WORKLOADS[args.workload](work, args.seed, gen.SIZES[args.size], args.corrupt)
        result, summary = harness.run(wl, args.seconds, tracer, T_START)
        if tracer:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-s{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    steal1 = procstat.steal_share()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"perfbench: {args.workload} seed={args.seed} {summary} "
          f"total_s={time.perf_counter() - T_START:.1f} host_steal={steal:.1%}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

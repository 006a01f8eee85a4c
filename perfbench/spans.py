"""The traced run: spans around calls into the program's public
functions, plus counts from the Spark UI REST API and Catalyst's
``QueryExecution`` planning tracker.

Spans (name, start, end, parent) are kept in memory and written once,
when the run ends. Nothing here is installed in an untraced run; there
the workloads' ``span()`` calls go to :data:`NULL`, a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
import urllib.request


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()

    def plan_count(self, name: str, df, needle: str) -> None:
        pass


NULL = NullTracer()

# (module, attribute path, span name or callable(args) -> span name)
PATCHES = [
    ("mycarely_saas_dbt_spark.session", "get_spark", "session.get_spark"),
    ("mycarely_saas_dbt_spark.sources.registry", "register_sources", "sources.register"),
    ("mycarely_saas_dbt_spark.incremental", "run_dag", "incremental.run_dag"),
    ("mycarely_saas_dbt_spark.incremental", "IncrementalRunner.run",
     lambda a, k: f"incremental.run.{a[1].name}"),
    ("mycarely_saas_dbt_spark.incremental", "IncrementalRunner.watermark", "incremental.watermark"),
    ("mycarely_saas_dbt_spark.incremental", "IncrementalRunner.read_target", "incremental.read_target"),
    ("mycarely_saas_dbt_spark.incremental", "IncrementalRunner.merge_txn", "incremental.merge_txn"),
    ("mycarely_saas_dbt_spark.ivm", "MaterializedViewMaintainer.refresh", "ivm.mv_refresh"),
    ("mycarely_saas_dbt_spark.ivm", "MaterializedViewMaintainer.apply_batch", "ivm.mv_apply"),
    ("mycarely_saas_dbt_spark.ivm", "JoinViewMaintainer.refresh", "ivm.jv_refresh"),
    ("mycarely_saas_dbt_spark.ivm", "JoinViewMaintainer.apply_batch", "ivm.jv_apply"),
]

def _final_plan(text: str) -> str:
    # an adaptive plan prints its final plan, then its initial plan
    return text.split("== Initial Plan ==")[0]


class _PlanListener:
    """Catalyst ``QueryExecutionListener`` implemented in Python over the
    py4j callback server: per finished query, the time of its planning
    phases (analysis, optimization, planning)."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.records: list[tuple[float, float]] = []
        self.lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
            plan_ms = sum(phases.get(p).durationMs() for p in ("analysis", "optimization", "planning")
                          if phases.containsKey(p))
        except Exception as exc:  # a listener must never fail the query
            print(f"perfbench: plan listener: {exc!r}", file=sys.stderr)
            plan_ms = 0
        with self.lock:
            self.records.append((time.time(), plan_ms / 1000.0))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self):
        self.spans: list[list] = []      # [name, start, end, parent index]
        self.counts: dict[str, float] = {}
        self._tls = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.spark = None
        self.ui = None
        self.last_job = -1
        self.n_sql = 0
        self.op_span: int | None = None

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        # a span opened on a callback thread (a streaming sink) hangs
        # under the innermost span of the main thread that waits for it
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.time(), None, parent])
        st.append(idx)
        try:
            yield idx
        finally:
            st.pop()
            self.spans[idx][2] = time.time()

    def plan_count(self, name: str, df, needle: str) -> None:
        plan = _final_plan(df._jdf.queryExecution().executedPlan().toString())
        self.counts[name] = self.counts.get(name, 0) + plan.count(needle)

    def install(self) -> None:
        """Wrap the program's public functions in spans; also rebind
        every module-level alias of a wrapped function (modules that did
        ``from x import f`` before the wrap)."""
        import importlib

        for mod_name in ("mycarely_saas_dbt_spark.operators.textops",
                         "mycarely_saas_dbt_spark.operators.similarity",
                         "mycarely_saas_dbt_spark.ivm", "mycarely_saas_dbt_spark.plans"):
            importlib.import_module(mod_name)
        for mod_name, path, namer in PATCHES:
            owner = importlib.import_module(mod_name)
            *cls, attr = path.split(".")
            if cls:
                owner = getattr(owner, cls[0])
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, namer)
            setattr(owner, attr, wrapped)
            if not cls:
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("mycarely_saas_dbt_spark"):
                        for k, v in list(vars(m).items()):
                            if v is orig:
                                setattr(m, k, wrapped)

    def _wrap(self, fn, namer):
        @functools.wraps(fn)
        def inner(*a, **k):
            with self.span(namer(a, k) if callable(namer) else namer):
                return fn(*a, **k)

        return inner

    # -- Spark side ---------------------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self.listener = _PlanListener(sc._jvm)
        spark._jsparkSession.listenerManager().register(self.listener)
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("traced run needs the Spark UI (MYCARELY_UI=1)")
        port = url.rsplit(":", 1)[1]
        self.ui = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.new_jobs()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def flush(self) -> None:
        """Wait until the JVM listener bus has delivered every event, so
        the UI store and the plan listener are complete."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)

    def new_jobs(self) -> tuple[list[dict], list[dict], int]:
        """Jobs and their stages that finished since the last call, and
        the exchanges in the physical plans of the SQL executions that
        finished since then."""
        self.flush()
        jobs = [j for j in self._get("jobs") if j["jobId"] > self.last_job]
        sql = self._get(f"sql?details=true&planDescription=false&offset={self.n_sql}&length=100000")
        self.n_sql += len(sql)
        exchanges = sum(1 for e in sql for n in e.get("nodes", [])
                        if n.get("nodeName") in ("Exchange", "BroadcastExchange"))
        if not jobs:
            return [], [], exchanges
        self.last_job = max(j["jobId"] for j in jobs)
        want = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in self._get("stages") if s["stageId"] in want]
        return jobs, stages, exchanges

    # -- per-window summaries -------------------------------------------
    def window(self, t0: float, t1: float) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s[1] >= t0 and s[2] is not None and s[2] <= t1]

    def sum_spans(self, idxs, prefix: str) -> float:
        return sum(self.spans[i][2] - self.spans[i][1] for i in idxs if self.spans[i][0].startswith(prefix))

    def self_times(self, idxs) -> dict[str, float]:
        """Per layer (span-name prefix before the first dot): span time
        minus the part its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for i in idxs:
            p = self.spans[i][3]
            if p is not None:
                kids.setdefault(p, []).append((self.spans[i][1], self.spans[i][2]))
        out: dict[str, float] = {}
        for i in idxs:
            name, a, b, _ = self.spans[i]
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (b - a) - union_len(kids.get(i, []), a, b)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def parse_ui_time(s: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [
        (parse_ui_time(j["submissionTime"]), parse_ui_time(j["completionTime"]))
        for j in jobs if j.get("submissionTime") and j.get("completionTime")
    ]


def stage_totals(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "spark.shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                 for s in stages),
        "spark.peak_execution_mb": max((s.get("peakExecutionMemory", 0) for s in stages),
                                       default=0) / 2**20,
    }


"""The benchmark's workloads: closed loops of one client in one process.

Each workload has the same life cycle, driven by ``harness.run``:

* ``prepare()``   writes the seeded inputs (outside every clock);
* ``setup()``     the program-side set-up (source registration,
                  bootstrap), timed into ``setup_s``;
* ``op(i)``       one timed operation on input i;
* ``read(i)``     one timed user-shaped read after op i;
* ``check()``     output checks, outside the clock; returns the number
                  of failed ops and a list of messages;
* ``stored_bytes_per_row()`` storage footprint after the last op.

Calls into the program go through its public modules only.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import gen

ORACLE_TABLES = ("orders", "events", "documents", "embeddings")
ORACLE_NAMES = {"traffic_pages_agg", "traffic_daily_agg", "lead_activities_agg",
                "training_mix_pipeline", "semdedup", "ann_cosine_topk"}


def oracles() -> dict[str, str]:
    """The program's registered DuckDB oracle SQL for the queries the
    workloads check."""
    from mycarely_saas_dbt_spark.entry import build_oracle_sql

    return {k: v for k, v in build_oracle_sql().items() if k in ORACLE_NAMES}


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive exact compare (the program's oracle-test rule:
    columns by name, values as strings, NULLs normalised)."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    cols = sorted(got.columns)

    def norm(df):
        df = df[cols].copy()
        mask = df.isna()
        out = df.astype(str)
        out[mask] = "<NULL>"
        return out.sort_values(cols, ignore_index=True)

    a, b = norm(got), norm(want)
    if not a.equals(b):
        return f"value mismatch on {int((a != b).any(axis=1).sum())} rows"
    return None


class Workload:
    name = ""
    reads_per_op = 2
    # Warm-up ops, discarded (their time is part of setup_s). The first op
    # of a run is 1.3-3x slower than later ones (class loading, JIT, Python
    # worker start). A fixed count keeps the timed ops at the same positions
    # in every run; a settle rule would not.
    warmup_ops = 1

    def __init__(self, work: str, seed: int, size: gen.Size, corrupt: bool = False):
        self.work, self.seed, self.size = work, seed, size
        # test hook: perturb one result before the output check, so a
        # test can show the check catches it
        self.corrupt = corrupt
        self.spark = None
        self.n_ops = 0
        self.target: str | None = None
        self.tracer = None   # set by the harness; spans are no-ops untraced

    def span(self, name: str):
        return self.tracer.span(name)

    def capacity(self) -> int:
        """How many ops the prepared inputs can feed."""
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def read(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError

    # -- traced-run counters (defaults: the workload has no such layer) --
    def op_input_bytes(self, i: int) -> int:
        """Bytes of the raw input op i lands (write-amplification base)."""
        return 0

    def target_files(self) -> dict[str, int]:
        """path -> size of every file under the target root."""
        if not self.target or not os.path.isdir(self.target):
            return {}
        return {
            os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.target) for f in fs
        }

    def path_mark(self):
        """Position in the IVM maintainers' path logs (None: no IVM)."""
        return None

    def path_counts(self, mark) -> tuple[int, int]:
        """(probe rels, recompute groups) the IVM maintainers logged
        since ``mark``."""
        return 0, 0


# ---------------------------------------------------------------------------
class DagIncremental(Workload):
    """Bootstrap the three-model DAG over the first January days, then
    land one more day per op and run the DAG incrementally (threads=1)."""

    name = "dag_incremental"
    MODELS = {"traffic_pages_agg": "date", "traffic_daily_agg": "spend_date",
              "lead_activities_agg": "activity_date"}

    def capacity(self) -> int:
        return self.size.batch_days

    def day(self, i: int):
        """The January date op i lands."""
        import datetime as dt

        return (gen.DAY0 + dt.timedelta(days=self.size.boot_days + i)).date()

    def prepare(self) -> None:
        self.dirs = gen.write_dag_dirs(os.path.join(self.work, "in"), self.seed, self.size)
        # what op i must ingest: per model, the rows the program's
        # registered oracle gives for the landed day over the inputs as
        # they stand after the landing (each watermark is strictly-after)
        o = oracles()
        self.expect = []
        for i in range(self.size.batch_days):
            con = duck_over(self.dirs[i + 1])
            self.expect.append({
                m: con.execute(f"SELECT COUNT(*) FROM ({o[m]}) WHERE CAST({dcol} AS DATE) = ?",
                               [self.day(i)]).fetchone()[0]
                for m, dcol in self.MODELS.items()
            })
            con.close()
        self.target = os.path.join(self.work, "target")

    def setup(self, spark) -> None:
        from mycarely_saas_dbt_spark.incremental import IncrementalRunner, run_dag
        from mycarely_saas_dbt_spark.sources.registry import register_sources

        self.spark = spark
        register_sources(spark, self.dirs[0])
        run_dag(spark, self.dirs[0], self.target, full_refresh=True)
        self.runner = IncrementalRunner(spark, self.target)

    def op(self, i: int) -> None:
        from mycarely_saas_dbt_spark.incremental import run_dag

        stats = run_dag(self.spark, self.dirs[i + 1], self.target, threads=1)
        self.n_ops = i + 1
        for s in stats:
            want = self.expect[i][s["model"]]
            if s["rows_written"] != want:
                raise AssertionError(
                    f"{s['model']} ingested {s['rows_written']} rows for {self.day(i)}, "
                    f"expected {want}"
                )

    def op_input_bytes(self, i: int) -> int:
        size = lambda d: sum(os.path.getsize(os.path.join(d, f))
                             for f in ("events.parquet", "orders.parquet"))
        return size(self.dirs[i + 1]) - size(self.dirs[i])

    def read(self, i: int) -> None:
        from pyspark.sql import functions as F

        r = self.runner
        # dashboard: daily traffic per page type, channel totals, lead stages
        tp = r.read_target("traffic_pages_agg").groupBy("date", "type").agg(
            F.sum("traffic").alias("t")).collect()
        td = r.read_target("traffic_daily_agg").groupBy("col_2").agg(
            F.sum("traffic").alias("t"), F.sum("spend").alias("s")).collect()
        la = r.read_target("lead_activities_agg").groupBy("new_stage_name").agg(
            F.count(F.lit(1)).alias("n")).collect()
        if not (tp and td and la):
            raise AssertionError("dashboard read returned an empty panel")

    def _hash(self, df):
        from pyspark.sql import functions as F

        h = F.xxhash64(*sorted(df.columns))
        return df.agg(
            F.count(F.lit(1)),
            F.sum(F.shiftrightunsigned(h, 32)),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        ).first()

    def check(self) -> tuple[int, list[str]]:
        from mycarely_saas_dbt_spark.incremental import IncrementalRunner, run_dag

        errs = []
        # traffic_pages / traffic_daily: the incremental targets equal a
        # full refresh over the final inputs
        ref_root = os.path.join(self.work, "refresh")
        run_dag(self.spark, self.dirs[self.n_ops], ref_root, full_refresh=True,
                models=["traffic_pages_agg", "traffic_daily_agg"])
        ref = IncrementalRunner(self.spark, ref_root)
        for m in ("traffic_pages_agg", "traffic_daily_agg"):
            got = self.runner.read_target(m)
            if self.corrupt and m == "traffic_pages_agg":
                got = got.limit(max(got.count() - 1, 0))
            a, b = self._hash(got), self._hash(ref.read_target(m))
            if tuple(a) != tuple(b):
                errs.append(f"{m}: incremental target {tuple(a)} != full refresh {tuple(b)}")
        # lead_activities: only its CRM side takes the watermark, and a
        # lead's latest session is chosen from the event log as it stood
        # when the lead was ingested; later events never re-attribute an
        # old lead. So the target must equal, day by day, the program's
        # registered oracle over the inputs as they stood at that day's
        # landing: the bootstrap days from dir 0, day i from dir i + 1.
        o = oracles()["lead_activities_agg"]
        parts = []
        for k in range(self.n_ops + 1):
            con = duck_over(self.dirs[k])
            sql = f"SELECT * FROM ({o}) WHERE CAST(activity_date AS DATE) " + (
                f"< DATE '{self.day(0)}'" if k == 0 else f"= DATE '{self.day(k - 1)}'")
            parts.append(con.execute(sql).fetchdf())
            con.close()
        want = pd.concat(parts, ignore_index=True)
        err = frame_diff(_rows(self.runner.read_target("lead_activities_agg")), want)
        if err:
            errs.append(f"lead_activities_agg vs its oracle at each landing: {err}")
        # the final state embodies every op: a wrong state fails them all
        return (self.n_ops if errs else 0), errs

    def stored_bytes_per_row(self) -> float:
        rows = sum(self.runner.read_target(m).count() for m in self.MODELS)
        return sum(self.target_files().values()) / rows


# ---------------------------------------------------------------------------
class CorpusPrep(Workload):
    """Each op runs a fresh corpus shard through training_mix_pipeline and
    semdedup; each read is one top-k cosine retrieval over the shard."""

    name = "corpus_prep"
    # no warm-up: a corpus-prep job runs once per process, so its first
    # op, Python worker start and JIT included, is what the job costs
    warmup_ops = 0
    # more reads per run steady read_cpu_s.mean; a read is ~0.4 s
    reads_per_op = 8
    N_SHARDS = 4

    def capacity(self) -> int:
        return self.N_SHARDS - 1

    def prepare(self) -> None:
        small = gen.write_small(os.path.join(self.work, "in"), self.seed, self.size)
        self.dirs = gen.write_corpus_shards(
            os.path.join(self.work, "in"), self.seed, self.size, self.N_SHARDS, small
        )
        # shards are row permutations with ids kept, so one oracle answer
        # holds for all of them; it is computed on the first shard
        con, o = duck_over(self.dirs[0]), oracles()
        self.want = {k: con.execute(o[k]).fetchdf()
                     for k in ("training_mix_pipeline", "semdedup", "ann_cosine_topk")}
        con.close()
        self.results: list[tuple[int, str, pd.DataFrame]] = []

    def setup(self, spark) -> None:
        from mycarely_saas_dbt_spark.sources.registry import register_sources

        self.spark = spark
        register_sources(spark, self.dirs[0])

    def op(self, i: int) -> None:
        from mycarely_saas_dbt_spark.operators.similarity import semdedup
        from mycarely_saas_dbt_spark.operators.textops import training_mix_pipeline

        d = self.dirs[i + 1]
        # results are small (one row per (source, lang); one per vector),
        # so collecting them forces the whole plan like a noop sink would
        with self.span("operators.training_mix"):
            mix = training_mix_pipeline(self.spark, d)
            self.results.append((i, "training_mix_pipeline", _rows(mix)))
        self.tracer.plan_count("operators.split_evals", mix, "split(")
        with self.span("operators.semdedup"):
            self.results.append((i, "semdedup", _rows(semdedup(self.spark, d))))
        self.n_ops = i + 1

    def read(self, i: int) -> None:
        from mycarely_saas_dbt_spark.operators.similarity import ann_cosine_topk

        with self.span("operators.topk"):
            rows = _rows(ann_cosine_topk(self.spark, self.dirs[i + 1]))
        self.results.append((i, "ann_cosine_topk", rows))

    def check(self) -> tuple[int, list[str]]:
        bad_ops, errs = set(), []
        for k, (i, name, got) in enumerate(self.results):
            if self.corrupt and k == 0:
                got = got.iloc[1:]
            err = frame_diff(got, self.want[name])
            if err:
                bad_ops.add(i)
                errs.append(f"op {i} {name}: {err}")
        return len(bad_ops), errs

    def stored_bytes_per_row(self) -> float:
        # the program stores nothing here; 1.0 is the neutral value that
        # keeps the metric defined (and never 0) on every workload
        return 1.0


def _rows(df) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in df.collect()], columns=df.columns)


# ---------------------------------------------------------------------------
class IvmRefresh(Workload):
    """Change-data base tables with a maintained aggregate chained into a
    maintained LEFT join; each op commits one mixed change batch and
    refreshes both maintainers; each read is ``read()`` on the join view."""

    name = "ivm_refresh"
    # no warm-up: the set-up's own refreshes already ran the streaming
    # path once, and a warm-up op would cost ~20 s of the run budget
    warmup_ops = 0
    # more reads per run steady read_cpu_s.mean; a read is ~0.6 s
    reads_per_op = 8

    def capacity(self) -> int:
        return self.size.batch_days

    def prepare(self) -> None:
        inp = os.path.join(self.work, "in")
        small = gen.write_small(inp, self.seed, self.size)
        self.src = os.path.join(inp, "src")
        self.base = gen.events_for_days(self.seed, self.size, 0, self.size.boot_days)
        gen.write(self.base, os.path.join(self.src, "events.parquet"))
        gen.link_small(small, self.src, skip=("events.parquet",))
        self.batches = gen.write_ivm_batches(inp, self.seed, self.size, self.size.batch_days)
        self.target = os.path.join(self.work, "target")

    def setup(self, spark) -> None:
        from ivm_views import TrafficViews

        self.spark = spark
        self.views = TrafficViews(spark, self.target)
        self.views.bootstrap(self.src)

    def op(self, i: int) -> None:
        self.views.commit_batch(self.src, self.batches[i])
        self.views.m_et.refresh(self.spark)
        self.views.m_jv.refresh(self.spark)
        self.n_ops = i + 1

    def read(self, i: int) -> None:
        if _rows(self.views.read()).empty:
            raise AssertionError("join view read returned no rows")

    def op_input_bytes(self, i: int) -> int:
        return os.path.getsize(self.batches[i])

    def path_mark(self):
        return len(self.views.m_et.path_log), len(self.views.m_jv.path_log)

    def path_counts(self, mark) -> tuple[int, int]:
        mv = self.views.m_et.path_log[mark[0]:]
        jv = self.views.m_jv.path_log[mark[1]:]
        return sum(len(e[0]) for e in mv) + sum(len(e[0]) for e in jv), sum(e[2] for e in mv)

    def check(self) -> tuple[int, list[str]]:
        import pyarrow.parquet as pq
        from ivm_views import CE_SQL, RECOMPUTE_SQL, SP_SQL, VIEW_COLS
        from mycarely_saas_dbt_spark.sources.synthetic import atomic_events_sql

        final = gen.apply_batches(self.base, [pq.read_table(p) for p in self.batches[: self.n_ops]])
        con = duck_over(self.src)
        con.register("events_final", final)
        want = con.execute(RECOMPUTE_SQL.format(
            ce=CE_SQL.format(atomic=f"({atomic_events_sql('events_final')})"), sp=SP_SQL)).fetchdf()
        con.close()
        got = _rows(self.views.read())[VIEW_COLS]
        if self.corrupt:
            got = got.iloc[1:]
        err = frame_diff(got, want)
        return (self.n_ops if err else 0), ([f"bv_join vs full recompute: {err}"] if err else [])

    def stored_bytes_per_row(self) -> float:
        r = self.views.runner
        rows = sum(r.read_target(m).count() for m in ("bv_ev", "bv_sp", "bv_et", "bv_join"))
        return sum(self.target_files().values()) / rows


WORKLOADS = {w.name: w for w in (DagIncremental, CorpusPrep, IvmRefresh)}

"""Small engine utilities shared by the contract harnesses."""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections import deque

from pyspark.sql import DataFrame

# Rotating window of materialize() temp dirs. The driver/bench/pytest
# consume each materialized result immediately (hash/compare, then move to
# the next query), so a bounded window caps disk usage over a 141-query
# session instead of accumulating one copy per call until process exit.
# Contract: the returned DataFrame stays readable for at least the next
# _MAT_KEEP materialize() calls — consume promptly. Sized at 64 so even a
# consumer that batches a few dozen results before comparing (bench's
# multi-run loops, a future aggregate-then-compare harness) stays inside
# the window; a 64-result window of sf0.01 outputs is a few hundred MB.
_MAT_KEEP = 64
_MAT_DIRS: deque[str] = deque()


# Per-call-site bounded persist: operators whose plan reuses an expensive
# intermediate (exploded shingles/fingerprints, candidate pairs) persist
# it; without cleanup, every registered-query invocation leaks its cached
# blocks for the life of the session (160-query driver sweep). Keyed per
# frame ("ingest:new_sig"): the NEXT invocation under the same key
# unpersists the previous frame — bounded at one live generation per
# frame, while the current invocation's (lazy) plan stays cached until
# its consumer runs.
_PERSIST_REGISTRY: dict[str, DataFrame] = {}


def bounded_persist(df: DataFrame, site: str) -> DataFrame:
    prev = _PERSIST_REGISTRY.pop(site, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    _PERSIST_REGISTRY[site] = df
    return df.persist()


# ---------------------------------------------------------------------------
# Phase timing for LIFECYCLE entries (VERDICT r9 item 5): fixtures like
# bm25_index_delete_aware bundle build -> mutate -> query into one bench
# number, so a query-path regression is indistinguishable from build
# noise. Entries wrap their fixture stages in ``timed_phase(...)``; when a
# harness installs a sink via ``capture_phases``, stage wall times land
# there (a no-op two time.time() calls otherwise). The QUERY phase is the
# residual: entries return a lazy DataFrame, so its execution happens at
# the caller's sink — bench reports total - sum(recorded phases).
# ---------------------------------------------------------------------------
import contextlib
import time as _time

_PHASE_SINK: dict | None = None


@contextlib.contextmanager
def timed_phase(name: str):
    t0 = _time.time()
    try:
        yield
    finally:
        if _PHASE_SINK is not None:
            _PHASE_SINK[name] = round(
                _PHASE_SINK.get(name, 0.0) + _time.time() - t0, 3
            )


@contextlib.contextmanager
def capture_phases(sink: dict):
    global _PHASE_SINK
    prev = _PHASE_SINK
    _PHASE_SINK = sink
    try:
        yield sink
    finally:
        _PHASE_SINK = prev


def release_persists(prefix: str) -> None:
    """Unpersist (and drop from the registry) every bounded_persist site
    whose key starts with ``prefix`` — used by session_memo builders to
    free their scaffolding once the final relation is checkpointed."""
    for site in [s for s in _PERSIST_REGISTRY if s.startswith(prefix)]:
        prev = _PERSIST_REGISTRY.pop(site)
        try:
            prev.unpersist()
        except Exception:
            pass


# ---------------------------------------------------------------------------
# Session-scoped materialized intermediates
# ---------------------------------------------------------------------------
# Some relations are INDEX-shaped: expensive to derive, tiny relative to
# the corpus, and consumed by several queries in the same session (the
# MinHash near-dup pair list feeds dedup_minhash_lsh, dedup_cc_clusters,
# dedup_canonical_keep, and training_mix_pipeline). On a production lake
# these are materialized once and committed (the manifest-target shape the
# ANN index uses, incremental.py); inside one Spark session the equivalent
# boundary is an eager localCheckpoint memoized per
# (application, site, input identity). Invalidation is by input-file
# stat (path + mtime + size of the sf_dir files the builder reads) so a
# rewritten test fixture rebuilds while repeated bench rounds reuse.
# MYCARELY_SESSION_MEMO=0 disables memoization entirely (every call
# rebuilds — the cold path, used by the A/B harness).
_MEMO: dict[tuple, DataFrame] = {}


def _input_stat(sf_dir: str, files: tuple[str, ...]) -> tuple:
    import os

    out = []
    for f in files:
        p = os.path.join(sf_dir, f)
        try:
            st = os.stat(p)
            out.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((f, None, None))
    return tuple(out)


def corpus_fingerprint(sf_dir: str, file: str) -> list:
    """JSON-serializable identity of one source file (name + mtime_ns +
    size, then the resolved sf_dir) that committed indexes record in
    their manifest meta and compare on reuse — a rewritten corpus
    invalidates the index the same way the input-stat key invalidates
    ``session_memo``."""
    import os

    root = os.path.realpath(sf_dir)
    return [list(t) for t in _input_stat(root, (file,))] + [root]


def session_memo(site: str, sf_dir: str, files: tuple[str, ...], builder):
    """Memoize ``builder()`` (a () -> DataFrame) as an eagerly
    localCheckpoint'ed relation, keyed by (application id, site,
    resolved sf_dir, input-file stats). Returns the checkpointed
    DataFrame; repeated calls in one session return the same blocks
    without re-running the build lineage."""
    import os

    if os.environ.get("MYCARELY_SESSION_MEMO", "1") == "0":
        return builder().localCheckpoint()
    df0 = None
    key = None
    try:
        # builder() needs an active session to exist; grab it lazily
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        app = spark.sparkContext.applicationId if spark else None
        key = (app, site, os.path.realpath(sf_dir), _input_stat(sf_dir, files))
        cached = _MEMO.get(key)
        if cached is not None:
            return cached
    except Exception:
        key = None
    df0 = builder().localCheckpoint(eager=True)
    if key is not None:
        # one live generation per (site, sf_dir would churn in tests):
        # drop superseded entries for the same site to bound executor
        # storage across many-fixture pytest sessions
        for k in [k for k in _MEMO if k[1] == site and k != key]:
            old = _MEMO.pop(k)
            try:
                old.unpersist()
            except Exception:
                pass
        _MEMO[key] = df0
    return df0


def _prune_mat_dirs() -> None:
    while len(_MAT_DIRS) > _MAT_KEEP:
        shutil.rmtree(_MAT_DIRS.popleft(), ignore_errors=True)


@atexit.register
def _cleanup_mat_dirs() -> None:
    while _MAT_DIRS:
        shutil.rmtree(_MAT_DIRS.popleft(), ignore_errors=True)


def materialize(df: DataFrame) -> DataFrame:
    """Detach a result from inputs that are about to be deleted (temp
    incremental targets, throwaway bucket databases) WITHOUT pulling it
    through the driver.

    The previous pattern — ``spark.createDataFrame(df.collect(), schema)``
    — materializes the entire result in driver memory, which is fine for a
    sf0.01 contract check and an OOM at any real scale. A parquet
    round-trip keeps the copy distributed: executors write, executors read,
    the driver only brokers metadata. Temp dirs are pruned on a rotating
    window (oldest beyond _MAT_KEEP deleted) and fully cleaned at exit.
    """
    path = tempfile.mkdtemp(prefix="mycarely_mat_")
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    _MAT_DIRS.append(path)
    _prune_mat_dirs()
    return out


def global_rank(
    df: DataFrame, order_by, *, rank_col: str = "rank"
) -> DataFrame:
    """Global ROW_NUMBER over ``order_by`` WITHOUT an unpartitioned
    Window (the W1 single-partition-sort hazard): range-partition on the
    sort key, rank locally inside each range partition, then add each
    partition's broadcast cumulative offset. Two distributed shuffles —
    no stage ever holds the whole relation on one task. The only
    unpartitioned window runs over the per-partition COUNTS (<=
    spark.sql.shuffle.partitions rows — metadata scale, like a manifest
    read).

    ``order_by`` must be a list of Column expressions forming a STRICT
    total order (include a unique tiebreak column) — equal keys could
    otherwise land on either side of a range boundary and rank
    nondeterministically."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    local = (
        df.repartitionByRange(n, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrank",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_by)
            ),
        )
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(woff), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__lrank") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrank")
    )


def await_or_raise(q, timeout: float) -> None:
    """``q.awaitTermination(timeout)`` that fails LOUD on a wedged
    stream (VERDICT r13 item 3): a terminating trigger (availableNow)
    that has not finished within ``timeout`` seconds is stopped and
    raised as TimeoutError carrying the query's lastProgress and
    exception context, instead of silently returning False and leaving
    the caller to hang on state that never arrived. A query that
    terminated WITH an error re-raises that error (awaitTermination
    already does), so the timeout path only fires for genuine hangs —
    e.g. a Python worker that never connected back under box
    contention."""
    if q.awaitTermination(timeout):
        return
    exc = None
    try:
        exc = q.exception()
    except Exception:  # noqa: BLE001 — diagnostics only
        pass
    prog = None
    try:
        prog = q.lastProgress
    except Exception:  # noqa: BLE001
        pass
    try:
        q.stop()
    except Exception:  # noqa: BLE001
        pass
    raise TimeoutError(
        f"streaming query {q.id} did not terminate within {timeout}s; "
        f"exception={exc!r}; lastProgress={prog!r}"
    )


def fs_path(uri: str) -> str:
    """Spark's ``_metadata.file_path`` comes back URI-style (``file:/x``,
    ``file:///x``, percent-encoded); normalize it to the plain filesystem
    path that manifest entries and pyarrow readers use. The one rule for
    both the batch reader and the stream source: a second spelling would
    silently stop deletion-vector positions from matching their files."""
    if "://" in uri or uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def dv_dead_rows(sidecars) -> dict[str, set[int]]:
    """Deletion-vector sidecars -> {data file path: {dead row ordinals}}.
    Sidecars are KB-scale ``(file, pos)`` parquet files, read with pyarrow
    on the driver (feed planning, absorb) or inside a stream task."""
    import pyarrow.parquet as pq

    out: dict[str, set[int]] = {}
    for p in sidecars:
        t = pq.read_table(p, columns=["file", "pos"])
        for f, pos in zip(
            t.column("file").to_pylist(), t.column("pos").to_pylist()
        ):
            out.setdefault(fs_path(f), set()).add(pos)
    return out


def dv_rels(root: str, sidecars) -> set[str]:
    """Partition rels (dirs relative to the table ``root``; ``""`` for an
    unpartitioned table) of the data files the sidecars name."""
    import os

    root = os.path.abspath(root)
    rels = set()
    for f in dv_dead_rows(sidecars):
        rel = os.path.relpath(os.path.dirname(f), root)
        rels.add("" if rel == "." else rel)
    return rels

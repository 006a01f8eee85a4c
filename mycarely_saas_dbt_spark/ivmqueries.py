"""Registered incremental view maintenance (IVM) entries.

Every entry here declares its view once — an :class:`~.ivm.MVDefinition`
(grouped aggregate) or a :class:`~.ivm.JoinViewDefinition` (fact ⋈ dim)
— and drives the engine's maintainer (``MaterializedViewMaintainer`` /
``JoinViewMaintainer``) through waves of base commits: bootstrap,
copy-on-write UPDATE/DELETE, netted multi-commit catch-ups, whole-group
deletes, and a replay refresh asserted to commit nothing. The final
view is checked against a DuckDB oracle that derives the live base
state arithmetically, so one stale, double-counted or dangling row
flips the hash.

The ``streaming_ivm_*`` names are kept for the driver's correctness
window; each refresh is a batch drain of the base's change feed
(ivm.py). The entries that exercise the ``mycarely_manifest_cdf``
Structured Streaming source are ``streaming_cdf_propagate`` and
``medallion_multihop`` in sources/pydatasource.py.
"""

from __future__ import annotations

import dataclasses
import shutil
import tempfile

from pyspark.sql import functions as F

from .incremental import IncrementalRunner, ModelSpec
from .ivm import (
    JoinViewDefinition,
    JoinViewMaintainer,
    MaterializedViewMaintainer,
    MVAggregate,
    MVDefinition,
)
from .util import materialize, timed_phase


def _range_build(n: int, wm_col: str = "k", **cols: str):
    """A deterministic base-model build: ``n`` rows of ``spark.range``
    projected through the SQL expressions ``cols`` (alias -> expr over
    ``id``); incremental runs keep only rows past the watermark."""

    def b(sp, sfd, wm):
        rows = sp.range(n).select(
            *[F.expr(e).alias(c) for c, e in cols.items()]
        )
        if wm is not None:
            rows = rows.filter(F.col(wm_col) > F.lit(wm))
        return rows

    return b


def _assert_replay_noop(runner: IncrementalRunner, m, view: str) -> None:
    """A refresh with nothing pending must commit no view version."""
    v = runner.current_manifest(view)["version"]
    m.refresh()
    assert runner.current_manifest(view)["version"] == v


def _refresh_moves_uniques_both_ways(
    runner: IncrementalRunner, m, sup: str
) -> None:
    """Refresh, then diff the distinct-support table's key set across
    that commit: (group, value) pairs must both appear (a distinct count
    rises) and vanish (one falls) within the single netted apply."""
    before = runner.current_manifest(sup)["version"]
    m.refresh()
    after = runner.current_manifest(sup)["version"]

    def keys(v):
        return runner.read_target(sup, version=v).select("__sk")

    appeared = keys(after).subtract(keys(before)).count()
    vanished = keys(before).subtract(keys(after)).count()
    assert appeared > 0 and vanished > 0, (appeared, vanished)


def _detach(root: str, df):
    out = materialize(df)
    shutil.rmtree(root, ignore_errors=True)
    return out


def q_streaming_ivm_aggregate(spark, sf_dir: str):
    """Additive IVM: a gold aggregate ``(day, n_rows, sum_v)`` maintained
    from signed change-feed deltas — insert/update_postimage add +1/+v,
    delete/update_preimage add -1/-v (the preimage is what makes the
    subtraction exact). The base is never re-read; a day whose count
    reaches zero is tombstoned. The base is partitioned by the date
    itself, so the view carries no bucket expression.

    Waves: bootstrap insert -> cow UPDATE (-old +new) -> cow DELETE ->
    full-day delete (count to zero -> tombstone) -> second insert wave
    -> replay no-op."""
    root = tempfile.mkdtemp(prefix="mycarely_ivm_")
    runner = IncrementalRunner(spark, root)

    def bronze_build(n):
        return _range_build(
            n, wm_col="day",
            k="id",
            day="date_add(DATE '2024-01-01', CAST(floor(id / 100) AS INT))",
            v="(id * id) % 1000",
        )

    bronze_spec = ModelSpec(
        "ivm_bronze", "k", "day", bronze_build(300), partition_by=["day"],
        change_data=True, cdc_buckets=16,
    )
    runner.run(bronze_spec, sf_dir)                      # insert wave 1
    m = MaterializedViewMaintainer(runner, MVDefinition(
        "ivm_gold", "ivm_bronze", "k", ["day"],
        [MVAggregate("count", None, "n_rows"), MVAggregate("sum", "v", "sum_v")],
    ))
    m.refresh()
    runner.update_where(bronze_spec, "k % 11 = 5", {"v": "v + 5000"})
    m.refresh()                                          # -old +new
    runner.delete_where(bronze_spec, "k % 7 = 3")        # cow DELETE
    m.refresh()
    runner.delete_where(bronze_spec, "day = DATE '2024-01-01'")
    m.refresh()                                          # day-1 -> tombstone
    runner.run(                                          # insert wave 2
        dataclasses.replace(bronze_spec, build=bronze_build(600)), sf_dir
    )
    m.refresh()
    _assert_replay_noop(runner, m, "ivm_gold")
    return _detach(root, m.read().orderBy("day"))


O_IVM_AGG = """
WITH g AS (
    SELECT i AS k, DATE '2024-01-01' + CAST(i // 100 AS INT) AS day,
           CASE WHEN i < 300 AND i % 11 = 5 THEN (i * i) % 1000 + 5000
                ELSE (i * i) % 1000 END AS v
    FROM UNNEST(range(0, 600)) AS u(i)
),
live AS (
    SELECT * FROM g
    WHERE NOT (k < 300 AND k % 7 = 3) AND k >= 100
)
SELECT day, COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v
FROM live GROUP BY day ORDER BY day
"""


def _join_view_flow(spark, sf_dir: str, prefix: str, pruned: bool):
    """Exact IVM of a row-level join view ``fact ⋈ dim`` (keyed by the
    fact key) off both tables' change feeds — the delta-join
    ΔJ = ΔF ⋈ D' ∪ F' ⋈ ΔD as ``JoinViewMaintainer`` applies it. Shared
    by three entries on one oracle (``O_IVM_JOIN``): layout and API must
    not change semantics.

    ``pruned=False`` partitions the fact by a fact-key bucket
    (``kb = k % 8``), so the dim-churn probe scans the whole fact.
    ``pruned=True`` partitions it by the join-key bucket
    ``ckb = ck % 4``: both probes then resolve via
    ``read_target(rels=...)`` from the change rows alone, and the
    dim-only wave is asserted to open exactly the one ``ckb=1`` rel
    (cks 1, 5, 9, 13, 17) of the 4 committed, every input file under
    it. Its fact UPDATE moves ck AND ckb, so copy-on-write DML migrates
    rows across hive partitions.

    Waves: bootstrap both tables -> dim cow UPDATE (seg re-labels reach
    every joined row) -> fact cow UPDATE (amt and the join key move) +
    cow DELETE caught up in ONE refresh (rows hit by both net to a
    delete) -> dim DELETE of ck=3 plus a fact insert wave in the SAME
    refresh (existing ck=3 rows tombstone; the new ck=3 rows find no
    dim and stay out) -> replay no-op."""
    root = tempfile.mkdtemp(prefix=f"mycarely_{prefix}_")
    runner = IncrementalRunner(spark, root)
    # the mutate refresh catches up two fact commits at once; the lag is
    # covered by the age retention window
    runner.RETENTION_SECONDS = 3600.0
    bucket, bucket_sql = ("ckb", "(id % 20) % 4") if pruned else ("kb", "id % 8")

    def fact_build(n):
        return _range_build(
            n, k="id", ck="id % 20", amt="(id * id) % 1000",
            **{bucket: bucket_sql},
        )

    fact_spec = ModelSpec(
        f"{prefix}_fact", "k", "k", fact_build(300), partition_by=[bucket],
        change_data=True, cdc_buckets=16,
    )
    dim_spec = ModelSpec(
        f"{prefix}_dim", "ck", "ck",
        _range_build(20, wm_col="ck", ck="id", seg="id % 5"),
        change_data=True, cdc_buckets=16,
    )
    runner.run(fact_spec, sf_dir)                        # bootstrap both
    runner.run(dim_spec, sf_dir)
    view = f"{prefix}_mv"
    m = JoinViewMaintainer(runner, JoinViewDefinition(
        view, fact_spec.name, "k", dim_spec.name, "ck",
        fact_cols=["amt"], dim_cols=["seg"],
        view_bucket_expr="k % 8", view_bucket_col="kb",
        **(
            {"fact_bucket_expr": "ck % 4", "fact_bucket_col": "ckb"}
            if pruned else {}
        ),
    ))
    m.refresh()                                          # view = full join
    runner.update_where(dim_spec, "ck % 4 = 1", {"seg": "seg + 10"})
    m.refresh()                                          # F' ⋈ ΔD arm
    moves = {"amt": "amt + 5000", "ck": "(ck + 7) % 20"}
    if pruned:
        moves["ckb"] = "((ck + 7) % 20) % 4"
    runner.update_where(fact_spec, "k % 9 = 2", moves)   # join key MOVES
    runner.delete_where(fact_spec, "k % 13 = 4")         # cow DELETE
    m.refresh()                                          # one netted catch-up
    runner.delete_where(dim_spec, "ck = 3")              # dangling rows out
    runner.run(                                          # insert wave 2
        dataclasses.replace(fact_spec, build=fact_build(600)), sf_dir
    )
    m.refresh()                                          # both feeds at once
    _assert_replay_noop(runner, m, view)
    if pruned:
        # path_log[1] is the dim-only refresh: (probe rels, committed
        # fact rels, every input file under a probed rel)
        d_rels, committed, files_ok = m.path_log[1]
        assert d_rels == ["ckb=1"] and len(committed) == 4 and files_ok, (
            m.path_log
        )
    return _detach(root, m.read().orderBy("k"))


def q_streaming_ivm_join(spark, sf_dir: str):
    return _join_view_flow(spark, sf_dir, "ivmj", pruned=False)


def q_streaming_ivm_join_pruned(spark, sf_dir: str):
    return _join_view_flow(spark, sf_dir, "ivmjp", pruned=True)


def q_jv_incremental_refresh(spark, sf_dir: str):
    return _join_view_flow(spark, sf_dir, "jvr", pruned=True)


O_IVM_JOIN = """
WITH f0 AS (
    SELECT i AS k, i % 20 AS ck, (i * i) % 1000 AS amt
    FROM UNNEST(range(0, 600)) AS u(i)
),
f1 AS (
    -- the cow UPDATE then cow DELETE hit only the bootstrap rows (k<300);
    -- wave-2 inserts (k>=300) arrived after both and are raw
    SELECT k,
           CASE WHEN k < 300 AND k % 9 = 2 THEN (ck + 7) % 20 ELSE ck END
               AS ck,
           CASE WHEN k < 300 AND k % 9 = 2 THEN amt + 5000 ELSE amt END
               AS amt
    FROM f0
    WHERE NOT (k < 300 AND k % 13 = 4)
),
d1 AS (
    SELECT ck,
           CASE WHEN ck % 4 = 1 THEN seg + 10 ELSE seg END AS seg
    FROM (
        SELECT i AS ck, i % 5 AS seg FROM UNNEST(range(0, 20)) AS u(i)
    )
    WHERE ck <> 3
)
SELECT f1.k AS k, f1.ck AS ck, f1.amt AS amt, d1.seg AS seg
FROM f1 JOIN d1 USING (ck)
ORDER BY k
"""


def q_streaming_ivm_minmax(spark, sf_dir: str):
    """Exact IVM for non-additive extrema: ``(g, m_min, m_max, n)``.
    MIN/MAX cannot be maintained by signed deltas alone — deleting the
    row that carries a group's extreme forces a look at the remaining
    rows. The maintainer keeps insert-only and strictly-interior changes
    on the cheap path (monotone extension, no base read) and re-aggregates
    only the groups whose stored extreme was removed, through a
    partition-pruned base read (``gb = g % 8``).

    Waves: bootstrap -> insert wave raising maxima (asserted: zero
    recompute groups) -> netted UPDATE+DELETE catch-up hitting extremes
    (asserted: recompute engaged) -> whole-group delete (tombstone from
    the counts alone, zero recompute) -> replay no-op."""
    root = tempfile.mkdtemp(prefix="mycarely_ivmx_")
    runner = IncrementalRunner(spark, root)
    runner.RETENTION_SECONDS = 3600.0

    def base_build(n):
        return _range_build(
            n, k="id", g="id % 50",
            x="(id * id) % 997"
              " + CASE WHEN id >= 400 AND id % 3 = 0 THEN 1500 ELSE 0 END",
            gb="(id % 50) % 8",
        )

    base_spec = ModelSpec(
        "ivmx_base", "k", "k", base_build(400), partition_by=["gb"],
        change_data=True, cdc_buckets=16,
    )
    runner.run(base_spec, sf_dir)                          # v1 bootstrap
    m = MaterializedViewMaintainer(runner, MVDefinition(
        "ivmx_mv", "ivmx_base", "k", ["g"],
        [
            MVAggregate("min", "x", "m_min"),
            MVAggregate("max", "x", "m_max"),
            MVAggregate("count", None, "n"),
        ],
        bucket_expr="g % 8", bucket_col="gb",
    ))
    m.refresh()                                            # MV = full agg
    runner.run(                                            # insert wave
        dataclasses.replace(base_spec, build=base_build(600)), sf_dir
    )
    m.refresh()                                            # cheap path
    runner.update_where(base_spec, "k % 97 = 5", {"x": "x + 2000"})
    runner.delete_where(base_spec, "k % 101 = 7")
    m.refresh()                                            # extrema hit
    runner.delete_where(base_spec, "g = 13")               # whole group out
    m.refresh()                                            # tombstone, no read
    _assert_replay_noop(runner, m, "ivmx_mv")
    recs = [n for _, _, n in m.path_log]
    assert recs[1] == 0 and recs[2] > 0 and recs[3] == 0, m.path_log
    for rels, committed, _ in m.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)
    return _detach(root, m.read().orderBy("g"))


O_IVM_MINMAX = """
WITH b AS (
    SELECT i AS k, i % 50 AS g,
           (i * i) % 997
             + CASE WHEN i >= 400 AND i % 3 = 0 THEN 1500 ELSE 0 END AS x
    FROM UNNEST(range(0, 600)) AS u(i)
),
u AS (
    SELECT k, g, CASE WHEN k % 97 = 5 THEN x + 2000 ELSE x END AS x FROM b
),
f AS (SELECT * FROM u WHERE k % 101 <> 7 AND g <> 13)
SELECT g, MIN(x) AS m_min, MAX(x) AS m_max, COUNT(*) AS n
FROM f GROUP BY g ORDER BY g
"""


def q_streaming_ivm_distinct(spark, sf_dir: str):
    """Exact IVM for COUNT DISTINCT — the reference's flagship aggregate
    (``traffic_pages_agg``'s ``unique_visits`` is a per-day
    COUNT(DISTINCT domain_userid), reference
    models/traffic_pages_agg.sql:33) — without re-aggregating any base
    group. A delete of a user's LAST event must decrement the distinct
    count, which no signed counter can know; the maintainer keeps exact
    per-(group, value) support counts in ``ivmd_mv__sup_uniq_n`` and
    moves the distinct count on 0 <-> positive transitions. MV and
    support are bucket-partitioned (``gb = g % 8``), so both probes are
    manifest-pruned from the change rows alone.

    Waves: bootstrap -> insert wave (new users raise uniq_n, repeat
    users only total_n) -> netted UPDATE+DELETE catch-up (uniques move
    both ways in one apply, asserted on the support key set) ->
    full-day delete (probe opens exactly 1 of 8 committed buckets; the
    day's MV and support rows are gone, not zeroed) -> replay no-op."""
    root = tempfile.mkdtemp(prefix="mycarely_ivmd_")
    runner = IncrementalRunner(spark, root)
    runner.RETENTION_SECONDS = 3600.0

    def base_build(n):
        return _range_build(
            n, k="id", g="id % 40", u="(id * id) % 23", gb="(id % 40) % 8"
        )

    base_spec = ModelSpec(
        "ivmd_base", "k", "k", base_build(500), partition_by=["gb"],
        change_data=True, cdc_buckets=16,
    )
    sup = "ivmd_mv__sup_uniq_n"
    with timed_phase("bootstrap"):
        runner.run(base_spec, sf_dir)                      # v1 bootstrap
        m = MaterializedViewMaintainer(runner, MVDefinition(
            "ivmd_mv", "ivmd_base", "k", ["g"],
            [
                MVAggregate("count", None, "total_n"),
                MVAggregate("count_distinct", "u", "uniq_n"),
            ],
            bucket_expr="g % 8", bucket_col="gb",
        ))
        m.refresh()                                        # MV = full agg
    with timed_phase("wave_insert"):
        runner.run(                                        # insert wave
            dataclasses.replace(base_spec, build=base_build(800)), sf_dir
        )
        m.refresh()                                        # new + repeat users
    with timed_phase("wave_net"):
        runner.update_where(base_spec, "k % 89 = 3", {"u": "(u + 5) % 23"})
        runner.delete_where(base_spec, "k % 37 = 11")
        _refresh_moves_uniques_both_ways(runner, m, sup)   # netted catch-up
    with timed_phase("wave_day_delete"):
        runner.delete_where(base_spec, "g = 17")           # full-day delete
        m.refresh()                                        # day tombstones
    with timed_phase("replay"):
        _assert_replay_noop(runner, m, "ivmd_mv")
    for rels, committed, _ in m.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)
    assert m.path_log[3][0] == ["gb=1"] and len(m.path_log[3][1]) == 8, (
        m.path_log
    )
    for t in ("ivmd_mv", sup):
        assert runner.read_target(t).filter(F.col("g") == 17).count() == 0, t
    return _detach(root, m.read().orderBy("g"))


O_IVM_DISTINCT = """
WITH b AS (
    SELECT i AS k, i % 40 AS g, (i * i) % 23 AS u
    FROM UNNEST(range(0, 800)) AS t(i)
),
u2 AS (
    SELECT k, g, CASE WHEN k % 89 = 3 THEN (u + 5) % 23 ELSE u END AS u
    FROM b
),
f AS (SELECT * FROM u2 WHERE k % 37 <> 11 AND g <> 17)
SELECT g, COUNT(*) AS total_n, COUNT(DISTINCT u) AS uniq_n
FROM f GROUP BY g ORDER BY g
"""


# The reference model's filtered-events projection (traffic_pages_agg's
# `filtered_events` CTE — reference models/traffic_pages_agg.sql:7-24),
# engine-portable (runs verbatim in Spark SQL and DuckDB): bot/spider/
# crawl NOT ILIKE ladder with NULL drop, internal-referrer rejection,
# page NOT NULL gate. `db` is the day-of-month bucket the IVM state
# partitions on (derivable from any change row — the pruning key).
TPV_FE_SQL = """
SELECT CAST(event_id AS BIGINT) AS eid,
       CAST(collector_tstamp AS DATE) AS event_date,
       app_id AS company_domain,
       domain_userid, page_urlpath,
       EXTRACT(DAY FROM CAST(collector_tstamp AS DATE)) % 8 AS db
FROM atomic_events
WHERE event = 'page_view' AND refr_medium <> 'internal'
  AND useragent NOT ILIKE '%bot%' AND useragent NOT ILIKE '%spider%'
  AND useragent NOT ILIKE '%crawl%' AND page_urlpath IS NOT NULL
"""


def q_streaming_ivm_traffic_pages(spark, sf_dir: str):
    """Exact IVM of the reference's flagship aggregate:
    ``traffic_pages_agg``'s ``page_traffic`` CTE — per (date,
    company_domain, page_urlpath) COUNT(*) AS traffic and
    COUNT(DISTINCT domain_userid) AS unique_visits (reference
    models/traffic_pages_agg.sql:27-36) — maintained off the change
    feed of a filtered-events table. Beyond ``streaming_ivm_distinct``
    it shows NULL users counting toward traffic but never toward
    unique_visits, and a composite group key whose bucket
    (``db`` = day-of-month % 8) keeps both state probes pruned.

    Waves: bootstrap (incl. NULL-user rows) -> insert backfill
    (eid % 5 = 4) -> netted user-reassignment UPDATE + bot-purge DELETE
    (uniques move both ways, asserted on the support key set) ->
    full-bucket delete (db = 7: probe opens exactly 1 of 8 committed
    rels, every group on days 7/15/23/31 tombstones) -> replay no-op."""
    from .sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_ivmtp_")
    runner = IncrementalRunner(spark, root)
    runner.RETENTION_SECONDS = 3600.0
    G3 = ["event_date", "company_domain", "page_urlpath"]

    def base_build(pred):
        def b(sp, sfd, wm):
            register_sources(sp, sfd)
            return sp.sql(TPV_FE_SQL).filter(pred)

        return b

    base_spec = ModelSpec(
        "tpv_base", "eid", "eid", base_build("eid % 5 != 4"),
        partition_by=["db"], change_data=True, cdc_buckets=16,
    )
    sup = "tpv_mv__sup_unique_visits"
    with timed_phase("bootstrap"):
        runner.run(base_spec, sf_dir)                      # v1 bootstrap
        m = MaterializedViewMaintainer(runner, MVDefinition(
            "tpv_mv", "tpv_base", "eid", G3,
            [
                MVAggregate("count", None, "traffic"),
                MVAggregate("count_distinct", "domain_userid", "unique_visits"),
            ],
            bucket_expr="extract(DAY FROM event_date) % 8", bucket_col="db",
        ))
        m.refresh()                                        # MV = full agg
    with timed_phase("wave_insert"):
        runner.run(                                        # insert backfill
            dataclasses.replace(base_spec, build=base_build("eid % 5 = 4")),
            sf_dir,
        )
        m.refresh()
    with timed_phase("wave_net"):
        runner.update_where(                               # user reassignment
            base_spec, "eid % 31 = 5",
            {"domain_userid": "concat(domain_userid, '_x')"},
        )
        runner.delete_where(base_spec, "eid % 23 = 9")     # bot purge
        _refresh_moves_uniques_both_ways(runner, m, sup)   # netted catch-up
    with timed_phase("wave_bucket_delete"):
        runner.delete_where(base_spec, "db = 7")           # whole bucket out
        m.refresh()                                        # tombstone wave
    with timed_phase("replay"):
        _assert_replay_noop(runner, m, "tpv_mv")
    for rels, committed, _ in m.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)
    assert m.path_log[3][0] == ["db=7"] and len(m.path_log[3][1]) == 8, (
        m.path_log
    )
    assert runner.read_target("tpv_mv").filter(F.col("db") == 7).count() == 0
    return _detach(root, m.read().orderBy(*G3))


def _ivm_tp_oracle() -> str:
    from .sources.synthetic import ATOMIC_EVENTS_SQL

    return f"""
WITH atomic_events AS ({ATOMIC_EVENTS_SQL}),
fe AS ({TPV_FE_SQL}),
u2 AS (
    SELECT eid, event_date, company_domain, page_urlpath, db,
           CASE WHEN eid % 31 = 5 THEN domain_userid || '_x'
                ELSE domain_userid END AS domain_userid
    FROM fe
),
f AS (SELECT * FROM u2 WHERE eid % 23 <> 9 AND db <> 7)
SELECT event_date, company_domain, page_urlpath,
       COUNT(*) AS traffic,
       COUNT(DISTINCT domain_userid) AS unique_visits
FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def _mvr_flow(spark, sf_dir: str, make_maintainer):
    """The GENERALIZED IVM engine API end-to-end (r13; fixture shared
    r14 by the SQL-declared twin `sql_create_mv`): one view composing
    every supported aggregate kind — COUNT, SUM, MIN, MAX,
    COUNT DISTINCT — maintained by `MaterializedViewMaintainer.refresh`
    (mycarely_saas_dbt_spark/ivm.py), the engine surface that unifies
    what the four hand-written IVM entries proved strategy-by-strategy
    (additive deltas, the minmax cheap/recompute split, the distinct
    support table). ``make_maintainer(runner)`` binds the definition —
    the hand-built MVDefinition or ivm_sql's parsed CREATE MATERIALIZED
    VIEW. The entry is the USER's flow: declare the view, call
    refresh() after each base commit, read the result — no sink code.

    Waves: bootstrap (asserted ZERO recompute groups — insert-only
    batches stay on the signed-delta path; the insert-extends-extremes
    cheap path on EXISTING groups keeps its oracle via the
    streaming_ivm_minmax sweep entry) -> netted
    UPDATE(x)+UPDATE(u)+DELETE catch-up (moves extremes AND distinct
    supports in one batch; asserted to engage the partition-pruned
    recompute arm) -> whole-group delete (tombstone from counts alone,
    zero recompute) -> replay no-op (version pinned). Every probe's rel
    set is asserted inside the committed bucket set via the
    maintainer's path_log. Final MV hash-matches the five-aggregate
    GROUP BY oracle — integer-exact."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .incremental import IncrementalRunner, ModelSpec
    from .ivm import MaterializedViewMaintainer, MVAggregate, MVDefinition
    from .util import materialize

    root = tempfile.mkdtemp(prefix="mycarely_mvr_")
    runner = IncrementalRunner(spark, root)
    runner.RETENTION_SECONDS = 3600.0

    def base_build(n):
        def b(sp, sfd, wm):
            rows = sp.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") % 50).alias("g"),
                (
                    (F.col("id") * F.col("id")) % 997
                    + F.when(
                        (F.col("id") >= 400) & (F.col("id") % 3 == 0), 1500
                    ).otherwise(0)
                ).alias("x"),
                ((F.col("id") * 3) % 13).alias("u"),
                ((F.col("id") % 50) % 8).alias("gb"),
            )
            if wm is not None:
                rows = rows.filter(F.col("k") > F.lit(wm))
            return rows

        return b

    base_spec = ModelSpec(
        "mvr_base", "k", "k", base_build(600), partition_by=["gb"],
        change_data=True, cdc_buckets=16,
    )
    runner.run(base_spec, sf_dir)                          # v1 bootstrap
    m = make_maintainer(runner)
    m.refresh(spark)                                       # MV = full agg
    runner.update_where(base_spec, "k % 97 = 5", {"x": "x + 2000"})
    runner.update_where(base_spec, "k % 89 = 3", {"u": "(u + 5) % 13"})
    runner.delete_where(base_spec, "k % 101 = 7")
    m.refresh(spark)                                       # extremes hit
    runner.delete_where(base_spec, "g = 13")               # whole group out
    m.refresh(spark)                                       # tombstone wave
    v_mv = runner.current_manifest("mvr_mv")["version"]
    m.refresh(spark)                                       # replay: no-op
    assert runner.current_manifest("mvr_mv")["version"] == v_mv
    # insert-only stays on signed deltas; the netted catch-up engages
    # the pruned recompute arm; the group tombstone needs no recompute
    recs = [n for _, _, n in m.path_log]
    assert recs[0] == 0 and recs[1] > 0 and recs[2] == 0, m.path_log
    for rels, committed, _ in m.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)

    out = materialize(m.read().orderBy("g"))
    shutil.rmtree(root, ignore_errors=True)
    return out


def q_mv_incremental_refresh(spark, sf_dir: str):
    from .ivm import MaterializedViewMaintainer, MVAggregate, MVDefinition

    def make(runner):
        mv = MVDefinition(
            "mvr_mv", "mvr_base", "k", ["g"],
            [
                MVAggregate("count", None, "n"),
                MVAggregate("sum", "x", "sum_x"),
                MVAggregate("min", "x", "min_x"),
                MVAggregate("max", "x", "max_x"),
                MVAggregate("count_distinct", "u", "uniq_u"),
            ],
            bucket_expr="g % 8", bucket_col="gb",
        )
        return MaterializedViewMaintainer(runner, mv)

    return _mvr_flow(spark, sf_dir, make)


MVR_DDL = """
CREATE MATERIALIZED VIEW mvr_mv
OPTIONS (base_key 'k', bucket_expr 'g % 8', bucket_col 'gb')
AS SELECT g, COUNT(*) AS n, SUM(x) AS sum_x, MIN(x) AS min_x,
          MAX(x) AS max_x, COUNT(DISTINCT u) AS uniq_u
FROM mvr_base
GROUP BY g
"""


def q_sql_create_mv(spark, sf_dir: str):
    """The IVM API's SQL front door end-to-end (r14 — VERDICT r13
    item 7): the SAME fixture, SAME waves, SAME oracle as
    mv_incremental_refresh, with the view declared through

        CREATE MATERIALIZED VIEW ... OPTIONS (base_key ..., bucket_expr
        ..., bucket_col ...) AS SELECT <aggs> FROM <base> GROUP BY <keys>

    parsed by ivm_sql.parse_create_materialized_view into the identical
    MVDefinition — the dbt user's declarative path to the maintainer.
    The parser's refusal matrix (joins / WHERE / HAVING / windows /
    SUM(DISTINCT) / expression group keys / missing aliases) is pinned
    in tests/test_ivm_sql.py; sharing the hand-built entry's oracle is
    the proof the SQL path does not change semantics."""
    from .ivm_sql import create_materialized_view

    return _mvr_flow(
        spark, sf_dir,
        lambda runner: create_materialized_view(runner, MVR_DDL),
    )


O_MV_REFRESH = """
WITH b AS (
    SELECT i AS k, i % 50 AS g,
           (i * i) % 997
             + CASE WHEN i >= 400 AND i % 3 = 0 THEN 1500 ELSE 0 END AS x,
           (i * 3) % 13 AS u
    FROM UNNEST(range(0, 600)) AS t(i)
),
s1 AS (
    SELECT k, g,
           CASE WHEN k % 97 = 5 THEN x + 2000 ELSE x END AS x,
           CASE WHEN k % 89 = 3 THEN (u + 5) % 13 ELSE u END AS u
    FROM b
),
f AS (SELECT * FROM s1 WHERE k % 101 <> 7 AND g <> 13)
SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sum_x,
       MIN(x) AS min_x, MAX(x) AS max_x, COUNT(DISTINCT u) AS uniq_u
FROM f GROUP BY g ORDER BY g
"""


# --- r14: exact IVM of the REFERENCE's traffic_daily_agg DAG ------------
# The classified-events projection of models/traffic_daily_agg.sql:8-75
# (filtered_events + classified_events + the col_3/col_4 pickers),
# engine-portable (runs verbatim in Spark SQL and DuckDB). `db` is the
# day-of-month bucket the IVM state partitions on.
TDV_CE_SQL = """
WITH fe AS (
    SELECT CAST(event_id AS BIGINT) AS eid,
           CAST(collector_tstamp AS DATE) AS event_date,
           app_id, domain_userid, refr_medium, mkt_source, refr_source,
           mkt_network, mkt_campaign, mkt_term
    FROM atomic_events
    WHERE event = 'page_view' AND refr_medium <> 'internal'
      AND useragent NOT ILIKE '%bot%' AND useragent NOT ILIKE '%spider%'
      AND useragent NOT ILIKE '%crawl%'
),
ce AS (
    SELECT eid, event_date, app_id, domain_userid,
           CASE
               WHEN (refr_medium IN ('cpc', 'ppc', 'paidsearch', 'display',
                                     'social', 'search', 'email', '',
                                     'unknown')
                     AND COALESCE(mkt_network, '') <> '')
                    OR (refr_medium = 'paid') THEN 'paid'
               WHEN refr_medium IN ('display', 'social', 'search', 'email',
                                    '', 'unknown')
                    AND refr_medium <> 'paid'
                    AND COALESCE(mkt_network, '') = '' THEN 'organic'
               ELSE NULL
           END AS traffic_type,
           mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
    FROM fe
)
SELECT eid, event_date, app_id, domain_userid, traffic_type,
       CASE
           WHEN traffic_type = 'paid'
               THEN COALESCE(mkt_source, refr_source, mkt_network, 'unknown')
           WHEN traffic_type = 'organic'
               THEN COALESCE(mkt_source, refr_source, 'unknown')
       END AS col_3,
       CASE
           WHEN traffic_type = 'paid' THEN COALESCE(mkt_campaign, 'unknown')
           WHEN traffic_type = 'organic'
               THEN COALESCE(mkt_term, mkt_campaign, 'unknown')
       END AS col_4,
       EXTRACT(DAY FROM event_date) % 8 AS db
FROM ce
WHERE traffic_type IS NOT NULL
"""

# campaign_spend_data with a row identity: the synthetic campaign_spends
# derivation (sources/synthetic.py CAMPAIGN_SPENDS_SQL — one row per
# o_orderkey % 5 = 0) re-expressed with `sid = o_orderkey` so the spend
# table can be a change-data dim (its own unique key, independent of the
# fanning (campaign_name, spend_date) join tuple).
TDV_SP_SQL = """
SELECT
    CAST(o_orderkey AS BIGINT)                        AS sid,
    CAST(o_custkey % 3 + 1 AS INT)                    AS company_id,
    'domain' || CAST(o_custkey % 3 AS STRING) || '.example.com'
                                                      AS company_domain,
    CAST('2024-01-01' AS DATE) + CAST(o_orderkey % 31 AS INT) AS spend_date,
    CASE CAST(o_orderkey % 7 AS INT)
         WHEN 0 THEN 'spring_sale'  WHEN 1 THEN 'brand_push'
         WHEN 2 THEN 'summer_promo' WHEN 3 THEN 'holiday2024'
         WHEN 4 THEN 'retarget_q1'  WHEN 5 THEN 'generic_cmp'
         ELSE 'orphan_campaign' END                   AS campaign_name,
    CASE WHEN o_orderkey % 10 = 0 THEN NULL
         WHEN o_orderkey % 10 = 1 THEN CAST(0 AS DOUBLE)
         ELSE CAST(o_orderkey % 400 AS DOUBLE) / 4 END AS spend
FROM orders
WHERE o_orderkey % 5 = 0
"""


def q_ivm_traffic_daily(spark, sf_dir: str):
    """Exact IVM of the reference's ENTIRE traffic_daily_agg DAG (r14 —
    VERDICT r13 item 1): aggregate-then-LEFT-join, maintained end to
    end through the generalized IVM API as a CHAIN of maintainers —

      events --(MVDefinition: COUNT + COUNT DISTINCT, emit_changes)-->
      tdv_et --(JoinViewDefinition: LEFT, composite keys, constant
                ON-predicate traffic_type='paid', dim_filter spend IS
                NOT NULL, dim FAN-OUT)--> tdv_join --> read() applies
      the row-level unpivot + NVL(spend,0) + md5 surrogate key.

    This is the reference's event_traffic CTE (models/
    traffic_daily_agg.sql:51-76) maintained as a COUNT/COUNT DISTINCT
    MV whose change feed drives the combined_traffic LEFT JOIN
    (models/traffic_daily_agg.sql:92-129) as a maintained join view:
      * a paid group with no spend match stays in the view with NULL
        spend (LEFT semantics) and flips in place when a matching
        spend row appears/vanishes;
      * the ON carries the constant predicate et.traffic_type='paid'
        — organic groups NEVER probe the dim and keep NULL spend;
      * (campaign_name, spend_date) FANS OUT (multiple companies spend
        on the same campaign-day) — the view's merge is delete+insert
        by fact key, replacing each affected group's row SET;
      * the spend dim carries its own unique key (sid) for its change
        feed; dim_filter spend IS NOT NULL is part of the definition,
        so a spend update crossing NULL<->value flips match state.

    Waves: bootstrap -> spend-only churn pinned to one day bucket
    (dim-only batch asserted to open EXACTLY 1 of the 8 committed fact
    rels, every input file under it) -> event insert backfill -> netted
    user-reassignment UPDATE + bot-purge DELETE (moves unique_visitors
    both directions through the MV's support table, propagates through
    the join view) -> replay no-op (both targets version-pinned).
    Final read hash-matches the full traffic_daily_agg-shaped oracle
    (id/company/date/traffic/spend/col_1..col_6) over the mutated
    sources — the reference's TD output maintained incrementally."""
    import dataclasses
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .incremental import IncrementalRunner, ModelSpec
    from .ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
        MaterializedViewMaintainer,
        MVAggregate,
        MVDefinition,
    )
    from .functions.dialect import surrogate_key
    from .sources.registry import register_sources
    from .util import materialize

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_ivmtd_")
    runner = IncrementalRunner(spark, root)
    runner.RETENTION_SECONDS = 3600.0

    def ev_build(pred):
        def b(sp, sfd, wm):
            register_sources(sp, sfd)
            return sp.sql(TDV_CE_SQL).filter(pred)

        return b

    def sp_build(sp, sfd, wm):
        register_sources(sp, sfd)
        return sp.sql(TDV_SP_SQL)

    ev_spec = ModelSpec(
        "tdv_ev", "eid", "eid", ev_build("eid % 5 != 4"),
        partition_by=["db"], change_data=True, cdc_buckets=16,
    )
    sp_spec = ModelSpec(
        "tdv_sp", "sid", "sid", sp_build, change_data=True, cdc_buckets=16
    )
    runner.run(ev_spec, sf_dir)
    runner.run(sp_spec, sf_dir)

    mv = MVDefinition(
        "tdv_et", "tdv_ev", "eid",
        ["event_date", "app_id", "traffic_type", "col_3", "col_4"],
        [
            MVAggregate("count", None, "total_visits"),
            MVAggregate("count_distinct", "domain_userid", "unique_visitors"),
        ],
        bucket_expr="extract(DAY FROM event_date) % 8", bucket_col="db",
        emit_changes=True,
    )
    m_et = MaterializedViewMaintainer(runner, mv)
    m_et.refresh(spark)                                   # MV = full agg
    jv = JoinViewDefinition(
        "tdv_join", "tdv_et", "__gk", "tdv_sp",
        join_on=[("col_4", "campaign_name"), ("event_date", "spend_date")],
        fact_cols=[
            "app_id", "traffic_type", "col_3",
            "total_visits", "unique_visitors",
        ],
        dim_cols=["spend"],
        how="left",
        fact_match_pred="traffic_type = 'paid'",
        dim_filter="spend IS NOT NULL",
        dim_key="sid",
        fact_bucket_expr="extract(DAY FROM event_date) % 8",
        fact_bucket_col="db",
        view_bucket_expr="pmod(xxhash64(__gk), 8)", view_bucket_col="vb",
    )
    m_jv = JoinViewMaintainer(runner, jv)
    m_jv.refresh(spark)                                   # view = full join
    # spend-only churn pinned to day-bucket 3: NULL->value flips
    # (dim_filter boundary), value changes, and deletes
    runner.update_where(
        sp_spec, "sid % 13 = 2 AND extract(DAY FROM spend_date) % 8 = 3",
        {"spend": "coalesce(spend, 0) + 250"},
    )
    runner.delete_where(
        sp_spec, "sid % 17 = 6 AND extract(DAY FROM spend_date) % 8 = 3"
    )
    m_jv.refresh(spark)                                   # dim-only: pruned
    runner.run(                                           # insert backfill
        dataclasses.replace(ev_spec, build=ev_build("eid % 5 = 4")), sf_dir
    )
    m_et.refresh(spark)
    m_jv.refresh(spark)
    runner.update_where(                                  # user reassignment
        ev_spec, "eid % 31 = 5",
        {"domain_userid": "concat(domain_userid, '_x')"},
    )
    runner.delete_where(ev_spec, "eid % 23 = 9")          # bot purge
    m_et.refresh(spark)                                   # netted catch-up
    m_jv.refresh(spark)
    v_et = runner.current_manifest("tdv_et")["version"]
    v_jv = runner.current_manifest("tdv_join")["version"]
    m_et.refresh(spark)                                   # replay: no-ops
    m_jv.refresh(spark)
    assert runner.current_manifest("tdv_et")["version"] == v_et
    assert runner.current_manifest("tdv_join")["version"] == v_jv
    # every MV probe stayed inside the committed bucket set
    for rels, committed, _ in m_et.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)
    # the dim-only wave opened EXACTLY one of the 8 committed fact rels,
    # every input file under it (manifest-resolved pruning, pinned)
    dim_only = [t for t in m_jv.path_log if t[2] is not None]
    assert dim_only and dim_only[0][2], m_jv.path_log
    assert dim_only[0][0] == ["db=3"], m_jv.path_log
    assert len(dim_only[0][1]) == 8, m_jv.path_log

    # the reference model's tail: UNION-ALL unpivot (single-scan stack)
    # + NVL(spend, 0) + md5 surrogate key — row-level derived SELECT
    # over the maintained view (models/traffic_daily_agg.sql:92-145)
    v = m_jv.read().selectExpr(
        "999 AS company_id",
        "app_id AS company_domain",
        "event_date AS spend_date",
        "CAST(COALESCE(spend, 0) AS DOUBLE) AS spend",
        "traffic_type AS col_2",
        "col_3",
        "col_4",
        "stack(2, 'all', total_visits, 'unique', unique_visitors)"
        " AS (col_1, traffic)",
        "CAST(NULL AS STRING) AS col_5",
        "CAST(NULL AS STRING) AS col_6",
    )
    out = materialize(
        v.select(
            surrogate_key(
                "company_domain", "spend_date", "col_1", "col_2", "col_3",
                "col_4",
            ).alias("id"),
            "company_id", "company_domain", "spend_date", "traffic",
            "spend", "col_1", "col_2", "col_3", "col_4", "col_5", "col_6",
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def _ivm_td_oracle() -> str:
    from .plans.traffic_daily import _SURROGATE
    from .sources.synthetic import ATOMIC_EVENTS_SQL

    return f"""
WITH atomic_events AS ({ATOMIC_EVENTS_SQL}),
ce AS ({TDV_CE_SQL}),
ev AS (
    SELECT eid, event_date, app_id, traffic_type, col_3, col_4,
           CASE WHEN eid % 31 = 5 THEN domain_userid || '_x'
                ELSE domain_userid END AS domain_userid
    FROM ce WHERE eid % 23 <> 9
),
et AS (
    SELECT event_date, app_id, traffic_type, col_3, col_4,
           COUNT(*) AS total_visits,
           COUNT(DISTINCT domain_userid) AS unique_visitors
    FROM ev GROUP BY 1, 2, 3, 4, 5
),
sp0 AS ({TDV_SP_SQL}),
sp1 AS (
    SELECT sid, company_id, company_domain, spend_date, campaign_name,
           CASE WHEN sid % 13 = 2 AND EXTRACT(DAY FROM spend_date) % 8 = 3
                THEN COALESCE(spend, 0) + 250 ELSE spend END AS spend
    FROM sp0
    WHERE NOT (sid % 17 = 6 AND EXTRACT(DAY FROM spend_date) % 8 = 3)
),
csd AS (SELECT * FROM sp1 WHERE spend IS NOT NULL),
combined AS (
    SELECT 999 AS company_id, et.app_id AS company_domain,
           et.event_date AS spend_date, et.total_visits AS traffic,
           CAST(COALESCE(csd.spend, 0) AS DOUBLE) AS spend,
           'all' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
           CAST(NULL AS STRING) AS col_5, CAST(NULL AS STRING) AS col_6
    FROM et
    LEFT JOIN csd
        ON et.col_4 = csd.campaign_name
        AND et.event_date = csd.spend_date
        AND et.traffic_type = 'paid'
    UNION ALL
    SELECT 999 AS company_id, et.app_id AS company_domain,
           et.event_date AS spend_date, et.unique_visitors AS traffic,
           CAST(COALESCE(csd.spend, 0) AS DOUBLE) AS spend,
           'unique' AS col_1, et.traffic_type AS col_2, et.col_3, et.col_4,
           CAST(NULL AS STRING) AS col_5, CAST(NULL AS STRING) AS col_6
    FROM et
    LEFT JOIN csd
        ON et.col_4 = csd.campaign_name
        AND et.event_date = csd.spend_date
        AND et.traffic_type = 'paid'
)
SELECT __SURROGATE__ AS id,
       company_id, company_domain, spend_date, traffic, spend,
       col_1, col_2, col_3, col_4, col_5, col_6
FROM combined
""".replace("__SURROGATE__", _SURROGATE)


def register_queries(register) -> None:
    register(
        "streaming_ivm_aggregate", q_streaming_ivm_aggregate, O_IVM_AGG
    )
    register("streaming_ivm_join", q_streaming_ivm_join, O_IVM_JOIN)
    # the ck-partitioned fact variant shares the oracle by design:
    # layout must not change semantics
    register(
        "streaming_ivm_join_pruned", q_streaming_ivm_join_pruned, O_IVM_JOIN
    )
    register("streaming_ivm_minmax", q_streaming_ivm_minmax, O_IVM_MINMAX)
    register(
        "streaming_ivm_distinct", q_streaming_ivm_distinct, O_IVM_DISTINCT
    )
    register(
        "streaming_ivm_traffic_pages",
        q_streaming_ivm_traffic_pages,
        _ivm_tp_oracle(),
    )
    register("mv_incremental_refresh", q_mv_incremental_refresh, O_MV_REFRESH)
    # the SQL-declared twin shares the oracle by design: the front door
    # must not change semantics
    register("sql_create_mv", q_sql_create_mv, O_MV_REFRESH)
    register("ivm_traffic_daily", q_ivm_traffic_daily, _ivm_td_oracle())
    # the join-view entry shares the streaming_ivm_join oracle by
    # design: the API must not change semantics
    register("jv_incremental_refresh", q_jv_incremental_refresh, O_IVM_JOIN)

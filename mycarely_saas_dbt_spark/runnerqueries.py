"""Contract queries exercising the materialization runtimes (S2/S3/S4 and
the streaming sink) end-to-end, so the driver's differential check covers
them — not just pytest.

Both build throwaway targets under /tmp (unique per invocation) and return
the final materialized state as a DataFrame.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

from mycarely_saas_dbt_spark.util import materialize

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mycarely_saas_dbt_spark.util import await_or_raise

SPLIT = dt.date(2024, 1, 15)


def incremental_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3: load events<=SPLIT, then an incremental run over the full
    source; returns the final upserted traffic_pages_agg target. Runs on the
    engine-default hash (surrogate-key) row ids — the scale-safe B1 fix —
    so the delete+insert upsert replaces exactly the re-emitted grain rows.
    (The reference's B1 row_number-collision behavior stays covered by
    tests/test_incremental.py::test_b1_row_number_collision_semantics.)"""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
        TRAFFIC_PAGES_SPEC,
    )
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_inc_")  # hash ids (default)
    runner = IncrementalRunner(spark, root)

    def b1_build(sp, sfd, wm):
        register_sources(sp, sfd)
        ev = sp.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_pages_agg(sp, sfd, events=ev, watermark=wm)

    runner.run(
        ModelSpec("traffic_pages_agg", "id", "date", b1_build), sf_dir
    )
    runner.run(TRAFFIC_PAGES_SPEC, sf_dir)
    out = runner.read_target("traffic_pages_agg")
    # detach from the temp target before it is deleted (distributed copy)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def incremental_oracle() -> str:
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    b1 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'", id_strategy="hash"
    )
    b2 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'", id_strategy="hash"
    )
    return f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """


def streaming_traffic_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 streaming variant with an EXACT oracle: totals from a windowed
    count, uniques from the watermarked dropDuplicates -> window-count
    multi-stateful chain (each visitor survives once per day+page, so the
    survivor count IS the exact distinct), merged per grain. Replaces the
    HLL variant in the driver window — approx_count_distinct is not
    SQL-reproducible; the HLL single-query path stays registered as
    streaming_traffic_pages_hll (rows-only)."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        traffic_pages_stream_exact,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_")
    out = traffic_pages_stream_exact(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def streaming_traffic_pages_oracle() -> str:
    from mycarely_saas_dbt_spark.sources.synthetic import ATOMIC_EVENTS_SQL

    return f"WITH atomic_events AS ({ATOMIC_EVENTS_SQL})" + _O_STREAMING_TP_MAIN


_O_STREAMING_TP_MAIN = """
, filtered AS (
    SELECT CAST(collector_tstamp AS DATE) AS date,
           app_id AS company_domain,
           page_urlpath,
           domain_userid
    FROM atomic_events
    WHERE event = 'page_view'
      AND refr_medium != 'internal'
      AND useragent NOT ILIKE '%bot%'
      AND useragent NOT ILIKE '%spider%'
      AND useragent NOT ILIKE '%crawl%'
      AND page_urlpath IS NOT NULL
)
SELECT date, company_domain, page_urlpath,
       COUNT(*) AS total_visits,
       COUNT(DISTINCT domain_userid) AS unique_visits
FROM filtered
GROUP BY date, company_domain, page_urlpath
"""


def streaming_traffic_pages_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-query approximate path (approx_count_distinct, 2% rsd) —
    the 100 TB default where one stateful operator and an HLL sketch beat
    the two-query exact chain. Rows-only check: HLL is not
    SQL-reproducible."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        traffic_pages_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_hll_")
    target = f"{root}/tp_stream"
    q = traffic_pages_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    out = spark.read.parquet(target)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def incremental_td_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental run of traffic_daily_agg — exercises the
    reference's TWO-watermark quirk (B2: both the events branch and the
    spend branch filter on MAX(spend_date) of the target, which holds the
    aliased event_date) and the content-hash unique_key upsert."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
        TRAFFIC_DAILY_SPEC,
    )
    from mycarely_saas_dbt_spark.plans.traffic_daily import traffic_daily_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_inc_td_")
    runner = IncrementalRunner(spark, root)

    def b1_build(sp, sfd, wm):
        register_sources(sp, sfd)
        ev = sp.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_daily_agg(sp, sfd, events=ev, watermark=wm)

    runner.run(ModelSpec("traffic_daily_agg", "id", "spend_date", b1_build), sf_dir)
    runner.run(TRAFFIC_DAILY_SPEC, sf_dir)
    out = runner.read_target("traffic_daily_agg")
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def incremental_td_oracle() -> str:
    from mycarely_saas_dbt_spark.plans import traffic_daily as td

    b1 = td.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'"
    )
    # batch 2: watermark = MAX(spend_date) of the batch-1 target == SPLIT
    # (spend_date carries the aliased event_date, B2); BOTH branches filter
    b2 = td.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'",
        f"AND CAST(cs.spend_date AS DATE) > DATE '{SPLIT}'",
    )
    return f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """


def incremental_la_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental run of lead_activities_agg — only the CRM lead
    side is watermarked (B3: the event log is re-scanned in full every run
    because a lead's latest session may predate the watermark), and the
    model reads traffic_daily_agg's MATERIALIZED target as a source (the
    reference's public_public read-back, SURVEY §1.1)."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
        TRAFFIC_DAILY_SPEC,
        make_la_spec,
    )
    from mycarely_saas_dbt_spark.plans.lead_activities import lead_activities_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_inc_la_")
    runner = IncrementalRunner(spark, root)
    runner.run(TRAFFIC_DAILY_SPEC, sf_dir)  # LA's upstream DAG edge (D5)

    def b1_build(sp, sfd, wm):
        register_sources(sp, sfd)
        leads = sp.table("lead_stage_change_events").filter(
            F.col("date") <= F.lit(SPLIT)
        )
        return lead_activities_agg(
            sp,
            sfd,
            leads=leads,
            traffic_daily=runner.read_target("traffic_daily_agg"),
            watermark=wm,
        )

    runner.run(ModelSpec("lead_activities_agg", "id", "activity_date", b1_build), sf_dir)
    runner.run(make_la_spec(runner), sf_dir)
    out = runner.read_target("lead_activities_agg")
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def incremental_la_oracle() -> str:
    from mycarely_saas_dbt_spark.plans import lead_activities as la

    b1 = la.oracle_sql(f"WHERE date <= DATE '{SPLIT}'")
    b2 = la.oracle_sql(f"WHERE date > DATE '{SPLIT}'")
    return f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization (F.session_window) drained with
    availableNow; oracle-checked against the batch lag/cumsum formulation —
    the session boundaries are provably identical (see sessionize_stream)."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import sessionize_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_sess_")
    target = f"{root}/sessions"
    q = sessionize_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    out = spark.read.parquet(target)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def streaming_sessionize_oracle() -> str:
    from mycarely_saas_dbt_spark.operators.olap import SESSION_GAP_S

    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
-- cumsum ordered by the SAME (full-precision ts, event_id) key as the lag
-- window — see operators/olap.py O_SESSIONIZE_EVENTS
sessions AS (
  SELECT user_id, ts_s,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_s) AS start_s,
       MAX(ts_s) AS end_s,
       COUNT(*) AS n_events,
       MAX(ts_s) - MIN(ts_s) AS duration_s
FROM sessions
GROUP BY user_id, session_seq
"""


def streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics contract: batch 2 replays days 1-5 as late rows;
    the watermark set by batch 1 must drop every replay, so the oracle is
    the per-day count over the ORIGINAL events only."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import late_drop_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_late_")
    out = late_drop_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_LATE_DROP = """
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
FROM events
GROUP BY CAST(ts AS DATE)
"""


def incremental_partitioned_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-batch TP upsert with a DATE-PARTITIONED target
    (ModelSpec.partition_by): batch 2 takes the PRUNED merge path — the
    new batch is staged, the target scan is partition-pruned to the touched
    dates, and only those date=... directories are swapped (dynamic
    partition overwrite / MERGE on a lakehouse); untouched partitions are
    never read or rewritten (byte-identity pytest-asserted in
    tests/test_incremental.py). Same final state as the unpartitioned
    runner — the oracle is shared."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_inc_part_")
    runner = IncrementalRunner(spark, root)

    def b1_build(sp, sfd, wm):
        register_sources(sp, sfd)
        ev = sp.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_pages_agg(sp, sfd, events=ev, watermark=wm)

    def b2_build(sp, sfd, wm):
        register_sources(sp, sfd)
        return traffic_pages_agg(sp, sfd, watermark=wm)

    spec = lambda build: ModelSpec(  # noqa: E731
        "traffic_pages_agg", "id", "date", build, partition_by=["date"]
    )
    runner.run(spec(b1_build), sf_dir)
    runner.run(spec(b2_build), sf_dir)
    out = runner.read_target("traffic_pages_agg").select(
        # partitionBy moves `date` to the end on read-back; restore the
        # model's column order (the driver sorts by name, pytest doesn't)
        "id", "date", "type", "page_urlpath", "traffic", "company_id",
        "company_domain",
    )
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def incremental_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt on_schema_change='append_new_columns': batch 1 materializes a
    per-day event count; batch 2's model adds an n_users column. The target
    gains the column with NULL backfill for batch-1 days, while batch-2
    days carry real values — the standard additive schema migration."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_q_schevo_")
    runner = IncrementalRunner(spark, root)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b1_build(sp, sfd, wm):
        return (
            ev.filter(F.col("ts").cast("date") <= F.lit(SPLIT))
            .groupBy(day)
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    def b2_build(sp, sfd, wm):
        out = ev.groupBy(day).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),  # the NEW column
        )
        return out.filter(F.col("day") > F.lit(wm)) if wm else out

    runner.run(ModelSpec("daily_counts", "day", "day", b1_build), sf_dir)
    runner.run(
        ModelSpec(
            "daily_counts", "day", "day", b2_build,
            on_schema_change="append_new_columns",
        ),
        sf_dir,
    )
    result = materialize(runner.read_target("daily_counts"))
    shutil.rmtree(root, ignore_errors=True)
    return result


O_SCHEMA_EVOLUTION = f"""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       CAST(NULL AS BIGINT) AS n_users
FROM events WHERE CAST(ts AS DATE) <= DATE '{SPLIT}'
GROUP BY CAST(ts AS DATE)
UNION ALL
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events WHERE CAST(ts AS DATE) > DATE '{SPLIT}'
GROUP BY CAST(ts AS DATE)
"""


SNAP_CUTOFF = dt.date(1998, 1, 1)
SNAP_RUN1 = dt.date(1998, 1, 2)
SNAP_RUN2 = dt.date(2001, 9, 1)
_SNAP_CHECK_COLS = ["n_orders", "last_order_date"]


def _order_profile(spark: SparkSession, cutoff: dt.date | None) -> DataFrame:
    """Per-customer order profile — the slowly-changing source the snapshot
    tracks (customers who order after the cutoff change their profile)."""
    o = spark.table("orders")
    if cutoff is not None:
        o = o.filter(F.col("o_orderdate").cast("date") <= F.lit(cutoff))
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_date"),
    )


def scd2_snapshot_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt snapshot (SCD2, check strategy) over two runs: run 1 snapshots
    the order profiles as of SNAP_CUTOFF; run 2 snapshots the full history.
    Customers with post-cutoff orders get their run-1 version closed
    (dbt_valid_to = run-2 date) and a new open version; the rest keep one
    open version. Oracle reproduces the whole version table in SQL,
    including the check-strategy content hash."""
    from mycarely_saas_dbt_spark.incremental import run_snapshot
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_q_snap_")
    target = f"{root}/customer_profile_snapshot"
    run_snapshot(
        spark, target, _order_profile(spark, SNAP_CUTOFF),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN1,
    )
    run_snapshot(
        spark, target, _order_profile(spark, None),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN2,
    )
    result = materialize(spark.read.parquet(target))
    shutil.rmtree(root, ignore_errors=True)
    return result


def scd2_snapshot_oracle() -> str:
    from mycarely_saas_dbt_spark.functions.dialect import surrogate_key_sql

    h = surrogate_key_sql(_SNAP_CHECK_COLS)
    profile = """
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               MAX(CAST(o_orderdate AS DATE)) AS last_order_date
        FROM orders {where} GROUP BY o_custkey
    """
    s1 = profile.format(
        where=f"WHERE CAST(o_orderdate AS DATE) <= DATE '{SNAP_CUTOFF}'"
    )
    s2 = profile.format(where="")
    return f"""
WITH h1 AS (SELECT *, {h} AS dbt_scd_hash FROM ({s1})),
h2 AS (SELECT *, {h} AS dbt_scd_hash FROM ({s2})),
changed AS (
    SELECT h2.custkey FROM h2 JOIN h1 USING (custkey)
    WHERE h2.dbt_scd_hash != h1.dbt_scd_hash
),
new_keys AS (
    SELECT custkey FROM h2
    WHERE custkey NOT IN (SELECT custkey FROM h1)
)
SELECT custkey, n_orders, last_order_date, dbt_scd_hash,
       DATE '{SNAP_RUN1}' AS dbt_valid_from,
       CASE WHEN custkey IN (SELECT custkey FROM changed)
            THEN DATE '{SNAP_RUN2}' ELSE CAST(NULL AS DATE) END AS dbt_valid_to
FROM h1
UNION ALL
SELECT custkey, n_orders, last_order_date, dbt_scd_hash,
       DATE '{SNAP_RUN2}' AS dbt_valid_from, CAST(NULL AS DATE) AS dbt_valid_to
FROM h2
WHERE custkey IN (SELECT custkey FROM changed)
   OR custkey IN (SELECT custkey FROM new_keys)
"""


def scd2_hard_delete_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt snapshot with ``invalidate_hard_deletes=True`` (r7): run 2's
    source DROPS every custkey % 5 == 0 — their open versions must close
    at the run-2 date (a source hard delete ends the validity interval),
    while post-cutoff changers still close-and-reopen and untouched keys
    keep one open version. Oracle reproduces the full version table."""
    from mycarely_saas_dbt_spark.incremental import run_snapshot
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_q_snap_hd_")
    target = f"{root}/customer_profile_snapshot"
    run_snapshot(
        spark, target, _order_profile(spark, SNAP_CUTOFF),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN1,
    )
    run_snapshot(
        spark, target,
        _order_profile(spark, None).filter(F.col("custkey") % 5 != 0),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN2,
        invalidate_hard_deletes=True,
    )
    result = materialize(spark.read.parquet(target))
    shutil.rmtree(root, ignore_errors=True)
    return result


def scd2_hard_delete_oracle() -> str:
    from mycarely_saas_dbt_spark.functions.dialect import surrogate_key_sql

    h = surrogate_key_sql(_SNAP_CHECK_COLS)
    profile = """
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               MAX(CAST(o_orderdate AS DATE)) AS last_order_date
        FROM orders {where} GROUP BY o_custkey
    """
    s1 = profile.format(
        where=f"WHERE CAST(o_orderdate AS DATE) <= DATE '{SNAP_CUTOFF}'"
    )
    s2 = profile.format(where="") + " HAVING o_custkey % 5 != 0"
    return f"""
WITH h1 AS (SELECT *, {h} AS dbt_scd_hash FROM ({s1})),
h2 AS (SELECT *, {h} AS dbt_scd_hash FROM ({s2})),
changed AS (
    SELECT h2.custkey FROM h2 JOIN h1 USING (custkey)
    WHERE h2.dbt_scd_hash != h1.dbt_scd_hash
),
new_keys AS (
    SELECT custkey FROM h2
    WHERE custkey NOT IN (SELECT custkey FROM h1)
),
vanished AS (
    SELECT custkey FROM h1
    WHERE custkey NOT IN (SELECT custkey FROM h2)
)
SELECT custkey, n_orders, last_order_date, dbt_scd_hash,
       DATE '{SNAP_RUN1}' AS dbt_valid_from,
       CASE WHEN custkey IN (SELECT custkey FROM changed)
              OR custkey IN (SELECT custkey FROM vanished)
            THEN DATE '{SNAP_RUN2}' ELSE CAST(NULL AS DATE) END AS dbt_valid_to
FROM h1
UNION ALL
SELECT custkey, n_orders, last_order_date, dbt_scd_hash,
       DATE '{SNAP_RUN2}' AS dbt_valid_from, CAST(NULL AS DATE) AS dbt_valid_to
FROM h2
WHERE custkey IN (SELECT custkey FROM changed)
   OR custkey IN (SELECT custkey FROM new_keys)
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup drained with availableNow: every
    (user_id, event_type) pair survives exactly once, so the per-user
    distinct-type count matches the batch DISTINCT oracle."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import dedup_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_dedup_")
    target = f"{root}/deduped"
    q = dedup_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    out = (
        spark.read.parquet(target)
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_event_types"))
    )
    # also prove exactly-once at key level: total rows == distinct keys
    n_rows = spark.read.parquet(target).count()
    n_keys = (
        spark.read.parquet(target).select("user_id", "event_type").distinct().count()
    )
    assert n_rows == n_keys, f"streaming dedup emitted duplicates: {n_rows} != {n_keys}"
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_DEDUP = """
SELECT user_id, COUNT(DISTINCT event_type) AS n_event_types
FROM events
GROUP BY user_id
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks to preceding views within 10
    minutes per user) drained with availableNow; per-user pair counts must
    match the batch time-range self-join oracle."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import interval_join_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_ssjoin_")
    target = f"{root}/pairs"
    q = interval_join_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    out = (
        spark.read.parquet(target)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_INTERVAL_JOIN = """
SELECT v.user_id, COUNT(*) AS n_pairs
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTES
GROUP BY v.user_id
"""


def streaming_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with sentinel-driven outer
    flush; per-user (matched, unmatched-view) counts must equal the batch
    LEFT JOIN — the exact every-outer-row-emitted-once check."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        interval_left_join_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_ssloj_")
    out = interval_left_join_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_INTERVAL_LEFT_JOIN = """
SELECT v.user_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unmatched
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTES
GROUP BY v.user_id
"""


def streaming_interval_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join with sentinel-driven flush
    of BOTH sides' outer state; per-user (matched, unmatched-view,
    unmatched-click) counts must equal the batch FULL JOIN."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        interval_full_join_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_ssfoj_")
    out = interval_full_join_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_INTERVAL_FULL_JOIN = """
SELECT COALESCE(v.user_id, c.user_id) AS user_id,
       CAST(SUM(CASE WHEN v.event_id IS NOT NULL AND c.event_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_view_unmatched,
       CAST(SUM(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_click_unmatched
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
FULL JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTES
GROUP BY COALESCE(v.user_id, c.user_id)
"""


def streaming_dedup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators (dedup -> tumbling-window count) drained
    with availableNow; per-day distinct (user, event_type) pairs must match
    the batch DISTINCT-count oracle."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import dedup_daily_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_dedup_daily_")
    target = f"{root}/daily"
    q = dedup_daily_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    result = materialize(spark.read.parquet(target))
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_DEDUP_DAILY = """
SELECT CAST(ts AS DATE) AS day,
       COUNT(DISTINCT (user_id, event_type)) AS n_active_pairs
FROM events
GROUP BY CAST(ts AS DATE)
"""


def streaming_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState custom stateful operator drained with
    availableNow; the final per-user profile must equal the batch
    aggregation (count / cents-sum / max event second)."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import user_profile_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_prof_")
    target = f"{root}/profiles"
    q = user_profile_stream(spark, sf_dir, target)
    await_or_raise(q, 300)
    result = materialize(spark.read.parquet(target))
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_USER_PROFILE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MAX(FLOOR(epoch(ts))) AS BIGINT) AS last_ts_s
FROM events
GROUP BY user_id
"""


def streaming_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r4 composition entry: a streaming aggregation whose sink is the
    partition-pruned incremental merge writer — three hash-sliced
    micro-batches each upsert their updated grain rows into a
    date-partitioned target, swapping only touched partition dirs. The
    final target must equal the plain batch GROUP BY."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        incremental_merge_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_merge_")
    out = incremental_merge_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def streaming_incremental_merge_oracle() -> str:
    from mycarely_saas_dbt_spark.sources.synthetic import ATOMIC_EVENTS_SQL

    return f"""
WITH atomic_events AS ({ATOMIC_EVENTS_SQL}),
filtered AS (
    SELECT CAST(collector_tstamp AS DATE) AS date,
           app_id AS company_domain,
           page_urlpath
    FROM atomic_events
    WHERE event = 'page_view'
      AND refr_medium != 'internal'
      AND useragent NOT ILIKE '%bot%'
      AND useragent NOT ILIKE '%spider%'
      AND useragent NOT ILIKE '%crawl%'
      AND page_urlpath IS NOT NULL
)
SELECT date, company_domain, page_urlpath, COUNT(*) AS total_visits
FROM filtered
GROUP BY date, company_domain, page_urlpath
"""


def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: micro-batches broadcast-join
    the nation dim, then a watermarked daily count per nation — the
    stream never shuffles for the join, only for the windowed agg."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import enrich_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_enrich_")
    out = enrich_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_ENRICH = """
SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
       n.n_name AS nation,
       COUNT(*) AS n_events
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1, 2
"""


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: a second micro-batch replays every
    first-batch event within the lateness budget; all replays must drop,
    so per-day counts equal the batch DISTINCT."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        dedup_within_watermark_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_ddww_")
    out = dedup_within_watermark_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


O_STREAMING_DEDUP_WW = """
SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT event_id) AS n_events
FROM events
GROUP BY CAST(ts AS DATE)
"""


def target_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level diff between two materializations of the same model:
    (key, change) with change in {added, removed, changed}. The ops tool
    behind 'what did this incremental run actually do' — full-outer join
    on the unique key, value comparison via a md5 over every non-key
    column (null-sentineled, so NULL→value transitions register).

    Scale: one full-outer shuffle on the key; the value hash collapses
    arbitrarily wide rows to one comparison column each side."""
    def keyed(df: DataFrame, tag: str) -> DataFrame:
        cols = [c for c in df.columns if c != key]
        fingerprint = F.md5(
            F.concat_ws(
                "\x01",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(cols)],
            )
        )
        return df.select(F.col(key).alias("k"), fingerprint.alias(f"fp_{tag}"))

    j = keyed(old, "old").join(keyed(new, "new"), "k", "full")
    return (
        j.select(
            F.col("k").alias(key),
            F.when(F.col("fp_old").isNull(), "added")
            .when(F.col("fp_new").isNull(), "removed")
            .when(F.col("fp_old") != F.col("fp_new"), "changed")
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )


def incremental_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff the batch-1 traffic_pages target against the final two-batch
    state: per change type, row counts — the audit a pipeline emits with
    every incremental run. With hash surrogate ids (id embeds the full
    grain INCLUDING date), re-emitted grain rows keep their id, so
    'changed' captures value revisions and 'added' the new days."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
        TRAFFIC_PAGES_SPEC,
    )
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_diff_")
    runner = IncrementalRunner(spark, root)

    def b1_build(sp, sfd, wm):
        register_sources(sp, sfd)
        ev = sp.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_pages_agg(sp, sfd, events=ev, watermark=wm)

    runner.run(ModelSpec("traffic_pages_agg", "id", "date", b1_build), sf_dir)
    before = materialize(runner.read_target("traffic_pages_agg"))
    runner.run(TRAFFIC_PAGES_SPEC, sf_dir)
    after = materialize(runner.read_target("traffic_pages_agg"))
    shutil.rmtree(root, ignore_errors=True)
    return (
        target_diff(before, after, "id")
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def incremental_diff_oracle() -> str:
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    b1 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'", id_strategy="hash"
    )
    full = tp.oracle_sql(id_strategy="hash")
    # the upsert's final state == full build over all events for TP (every
    # grain row re-emitted past the watermark carries the full recompute)
    return f"""
WITH before AS ({b1}), after AS ({full}),
d AS (
    SELECT COALESCE(b.id, a.id) AS id,
           CASE WHEN b.id IS NULL THEN 'added'
                WHEN a.id IS NULL THEN 'removed'
                WHEN b.traffic != a.traffic THEN 'changed'
           END AS change
    FROM before b FULL JOIN after a ON b.id = a.id
)
SELECT change, COUNT(*) AS n_rows FROM d WHERE change IS NOT NULL
GROUP BY change
"""


def _cdc_run_two_batches(spark, sf_dir: str, root: str):
    """Shared CDC fixture: bootstrap a partitioned orders target (keys
    %4!=3), then apply a deterministic op-coded feed — inserts (%4==3),
    updates (%10==0, price +1000), deletes (%7==0) — with LATEST-WINS
    sequencing (row_number keyed by o_orderkey, seq desc), so
    update-then-delete ends deleted and insert-then-delete never lands.
    Returns the runner after both committed versions exist."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources
    from pyspark.sql import Window

    register_sources(spark, sf_dir)
    o = spark.table("orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    runner = IncrementalRunner(spark, root)

    def boot(sp, sfd, wm):
        return o.filter(F.col("o_orderkey") % 4 != 3).select(*cols)

    def spec(build):
        return ModelSpec(
            "cdc_target",
            "o_orderkey",
            "o_orderkey",
            build,
            partition_by=["o_orderstatus"],
            tombstone_col="__deleted",
        )

    runner.run(spec(boot), sf_dir)

    def apply_feed(sp, sfd, wm):
        ins = (
            o.filter(F.col("o_orderkey") % 4 == 3)
            .select(*cols)
            .withColumn("seq", F.lit(1))
            .withColumn("__deleted", F.lit(False))
        )
        upd = (
            o.filter(F.col("o_orderkey") % 10 == 0)
            .select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
                "o_orderstatus",
            )
            .withColumn("seq", F.lit(2))
            .withColumn("__deleted", F.lit(False))
        )
        dele = (
            o.filter(F.col("o_orderkey") % 7 == 0)
            .select(*cols)
            .withColumn("seq", F.lit(3))
            .withColumn("__deleted", F.lit(True))
        )
        feed = ins.unionByName(upd).unionByName(dele)
        w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
        return (
            feed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "seq")
        )

    runner.run(spec(apply_feed), sf_dir)
    return runner


def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with hard deletes (Delta MERGE's WHEN MATCHED THEN
    DELETE / DLT APPLY CHANGES; r7): the winning feed rows run through
    ONE merge on the tombstone-aware partition-pruned path — upserts
    insert, tombstones only delete. Returns the final target state."""
    root = tempfile.mkdtemp(prefix="mycarely_q_cdc_")
    runner = _cdc_run_two_batches(spark, sf_dir, root)
    out = materialize(runner.read_target("cdc_target").orderBy("o_orderkey"))
    shutil.rmtree(root, ignore_errors=True)
    return out


def cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed READER (Delta CDF's table_changes; r7): after the
    two committed CDC versions, read the row-level changes v1 -> v2 from
    the SNAPSHOTS — full post-images tagged insert / update_postimage /
    delete. The read is metadata-bounded: only partitions whose manifest
    file lists differ between the versions are opened, and rows the merge
    rewrote byte-identical are dropped by fingerprint, so re-emitted
    unchanged keys never pollute the feed."""
    root = tempfile.mkdtemp(prefix="mycarely_q_cdf_")
    runner = _cdc_run_two_batches(spark, sf_dir, root)
    out = materialize(
        runner.table_changes("cdc_target", "o_orderkey", 1)
        .select("o_orderkey", "_change_type")
        .orderBy("o_orderkey")
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


O_CDF_CHANGES = """
WITH boot AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 4 != 3
),
feed AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           1 AS seq, FALSE AS del
    FROM orders WHERE o_orderkey % 4 = 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus,
           2, FALSE
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 3, TRUE
    FROM orders WHERE o_orderkey % 7 = 0
),
latest AS (
    SELECT * FROM (
        SELECT f.*, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC
        ) AS rn FROM feed f
    ) WHERE rn = 1
)
SELECT l.o_orderkey, 'insert' AS _change_type FROM latest l
WHERE NOT l.del AND l.o_orderkey NOT IN (SELECT o_orderkey FROM boot)
UNION ALL
SELECT l.o_orderkey, 'delete' FROM latest l
WHERE l.del AND l.o_orderkey IN (SELECT o_orderkey FROM boot)
UNION ALL
SELECT l.o_orderkey, 'update_postimage' FROM latest l
JOIN boot b USING (o_orderkey)
WHERE NOT l.del AND (l.o_custkey != b.o_custkey
    OR l.o_totalprice != b.o_totalprice
    OR l.o_orderstatus != b.o_orderstatus)
ORDER BY o_orderkey
"""


O_CDC_APPLY = """
WITH boot AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 4 != 3
),
feed AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           1 AS seq, FALSE AS del
    FROM orders WHERE o_orderkey % 4 = 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus,
           2, FALSE
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, 3, TRUE
    FROM orders WHERE o_orderkey % 7 = 0
),
latest AS (
    SELECT * FROM (
        SELECT f.*, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC
        ) AS rn FROM feed f
    ) WHERE rn = 1
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM boot b
WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM latest
WHERE NOT del
ORDER BY o_orderkey
"""


BLOOM_LOOKUP_KEYS = [1, 7, 32]


def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-the-lake point lookup through the bloom sidecar index
    (r7): the target's files are HASH-distributed on the key
    (repartition(8) per status partition), so every file spans nearly
    the full key range and min/max stats can skip nothing — the per-file
    bloom sidecars written at ingest are what prunes. Each lookup
    resolves its file list from manifest stats + sidecar membership
    (1 KB reads), opens only the surviving data files, and applies the
    exact key filter. Values must match the plain WHERE ... IN oracle."""
    from functools import reduce

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    o = spark.table("orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]

    root = tempfile.mkdtemp(prefix="mycarely_q_bloom_")
    runner = IncrementalRunner(spark, root)
    runner.run(
        ModelSpec(
            "orders_by_key",
            "o_orderkey",
            "o_orderkey",
            lambda sp, sfd, wm: o.select(*cols).repartition(8),
            partition_by=["o_orderstatus"],
        ),
        sf_dir,
    )
    reads = [
        runner.read_target("orders_by_key", point={"o_orderkey": k}).filter(
            F.col("o_orderkey") == k
        )
        for k in BLOOM_LOOKUP_KEYS
    ]
    out = materialize(
        reduce(lambda a, b: a.unionByName(b), reads)
        .select(*cols)
        .orderBy("o_orderkey")
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


O_BLOOM_LOOKUP = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey IN ({", ".join(map(str, BLOOM_LOOKUP_KEYS))})
ORDER BY o_orderkey
"""


def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: the op-coded change feed arrives as a STREAM (bootstrap ->
    inserts+updates -> deletes, one micro-batch each) and each batch
    merges through the tombstone-aware partition-pruned writer. Final
    state must equal the batch latest-wins apply — same oracle as
    cdc_apply_changes."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        cdc_apply_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_cdc_")
    out = materialize(
        cdc_apply_stream(spark, sf_dir, root).orderBy("o_orderkey")
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r4: streaming CMS — per-micro-batch partial sketches land in
    batch_id-named dirs (replay overwrites its own dir: exactly-once
    without a transactional store), folded to the final sketch at read.
    Must equal the oracle's single-pass batch sketch — the streaming half
    of the CMS mergeability proof."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import cms_stream

    root = tempfile.mkdtemp(prefix="mycarely_q_stream_cms_")
    out = cms_stream(spark, sf_dir, root)
    result = materialize(out)
    shutil.rmtree(root, ignore_errors=True)
    return result


def streaming_cms_oracle() -> str:
    from mycarely_saas_dbt_spark.operators.approx import CMS_DEPTH, _cms_bucket_sql

    buckets = " UNION ALL ".join(
        f"SELECT {r} AS row, {_cms_bucket_sql(r, 'u')} AS bucket FROM ev"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH ev AS (SELECT CAST(user_id AS STRING) AS u FROM events WHERE user_id IS NOT NULL),
buckets AS ({buckets})
SELECT row, bucket, COUNT(*) AS c FROM buckets GROUP BY row, bucket
"""


_DML_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"]


def _dml_boot_spec(name: str):
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def boot(sp, sfd, wm):
        register_sources(sp, sfd)
        return (
            sp.table("orders").select(*_DML_COLS).repartition(4, "o_orderkey")
        )

    return ModelSpec(
        name, "o_orderkey", "o_orderkey", boot, partition_by=["o_orderstatus"]
    )


def dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level copy-on-write DML (Delta DELETE/UPDATE; r7): bootstrap a
    status-partitioned orders target, DELETE one key slice, UPDATE another
    (SET sees the OLD row), return the final committed state. The engine
    rewrites ONLY files containing matching rows — untouched files carry
    forward in the manifest by name (asserted in tests/test_dml.py); the
    oracle replays the relational semantics."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_dml_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("dml_orders")
        runner.run(spec, sf_dir)
        runner.delete_where(spec, "o_orderkey % 7 = 0")
        runner.update_where(
            spec,
            "o_totalprice > 200000",
            {"o_totalprice": "o_totalprice + 1.0", "o_custkey": "0 - o_custkey"},
        )
        return materialize(
            runner.read_target("dml_orders").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_DML_DELETE_UPDATE = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 0 - o_custkey ELSE o_custkey END
           AS o_custkey,
       CASE WHEN o_totalprice > 200000 THEN o_totalprice + 1.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderstatus
FROM orders
WHERE o_orderkey % 7 <> 0
ORDER BY o_orderkey
"""


def dv_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE (r8 — Delta DV economics): bootstrap a
    status-partitioned orders target, DV-delete one key slice (ZERO data
    files rewritten — the matched rows' (file, row-ordinal) positions land
    in a KB-scale parquet sidecar and a metadata-only manifest commit),
    read back through the DV-applying reader, then ABSORB the vector
    (copy-on-write rewrite of only the affected files, vector cleared in
    the same commit) and prove
    the absorbed state reads identically. The oracle is the plain
    relational DELETE semantics — one result for both phases, so a reader
    that misses the vector OR an absorb that loses rows hash-mismatches."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_dv_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("dv_orders")
        runner.run(spec, sf_dir)
        res = runner.delete_where(spec, "o_orderkey % 10 = 7", mode="dv")
        assert res["files_rewritten"] == 0, "DV delete must not rewrite data"
        assert res["rows_matched"] > 0
        before = runner.read_target("dv_orders")
        n_dv = before.count()
        res2 = runner.absorb_deletion_vectors(spec)
        assert res2["rows_deleted"] == res["rows_matched"]
        assert not (runner.current_manifest("dv_orders").get("dv") or {}).get(
            "files"
        ), "absorb must clear the vector"
        after = runner.read_target("dv_orders")
        assert after.count() == n_dv, "absorbed read must equal DV read"
        return materialize(after.orderBy("o_orderkey"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_DV_DELETE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
FROM orders
WHERE o_orderkey % 10 <> 7
ORDER BY o_orderkey
"""


def dv_pos_reinsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors under later writers (r10 — Delta's DV
    semantics, VERDICT r9 item 7): DV-delete a key slice with
    ``mode="dv"`` (zero files rewritten; the sidecar records each dead
    row's (file, row-ordinal)), then exercise three writer cells that
    must see through the vector — all while it is still pending:

    1. an incremental merge that RE-INSERTS a subset of the deleted keys
       (unambiguous: positions name physical rows, the new rows live),
    2. a copy-on-write UPDATE (reads through the vector, absorbs its
       share physically, carries the rest),
    3. the final read (anti-join on (file, ordinal), broadcast).

    The oracle replays the relational semantics: deleted slice gone,
    re-inserted subset back with NEW values, update applied to live rows
    only — a reader that resurrects dead rows, kills the re-inserts, or
    updates a dead row hash-mismatches."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_dvpos_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("dvp_orders")
        runner.run(spec, sf_dir)
        res = runner.delete_where(spec, "o_orderkey % 10 = 7", mode="dv")
        assert res["files_rewritten"] == 0 and res["rows_matched"] > 0
        # re-insert the % 100 = 7 subset of the DELETED keys (new values)
        batch = (
            spark.table("orders")
            .filter("o_orderkey % 100 = 7")
            .select(
                "o_orderkey",
                (F.lit(0) - F.col("o_custkey")).alias("o_custkey"),
                F.lit(1.0).cast("double").alias("o_totalprice"),
                "o_orderdate",
                "o_orderstatus",
            )
        )
        runner.merge_txn(spec, batch, app_id="dvp", txn_version=1)
        assert runner.current_manifest("dvp_orders")["dv"]["files"]
        # cow UPDATE while the vector still pends
        runner.update_where(
            spec, "o_orderkey % 10 = 1", {"o_custkey": "o_custkey + 1000000"}
        )
        return materialize(
            runner.read_target("dvp_orders").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_DV_POS = """
WITH live AS (
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
    FROM orders WHERE o_orderkey % 10 <> 7
    UNION ALL
    SELECT o_orderkey, 0 - o_custkey, CAST(1.0 AS DOUBLE), o_orderdate,
           o_orderstatus
    FROM orders WHERE o_orderkey % 100 = 7
)
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 1 THEN o_custkey + 1000000
            ELSE o_custkey END AS o_custkey,
       o_totalprice, o_orderdate, o_orderstatus
FROM live
ORDER BY o_orderkey
"""


GEN_T1, GEN_T2 = "2024-01-08", "2024-01-15"  # inside every sf's ts span


def gen_prune_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated partition columns end-to-end (r8 — Delta GENERATED
    ALWAYS AS): commit events into a target partitioned by
    day=CAST(ts AS DATE) that the build never produces (computed at
    write, definition committed in the manifest meta), then read a ts
    RANGE with prune on the BASE column only — resolved_files translates
    it into static day-partition pruning. The entry asserts the pruning
    actually skipped partitions, and the oracle is the plain relational
    filter, so a translation that over-prunes (drops rows) or a write
    that mis-computes the generated column hash-mismatches."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    root = tempfile.mkdtemp(prefix="mycarely_q_gen_")
    try:
        runner = IncrementalRunner(spark, root)

        def build(sp, sfd, wm):
            register_sources(sp, sfd)
            return sp.table("events").select(
                "event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            )

        spec = ModelSpec(
            "gen_events", "event_id", "ts", build,
            partition_by=["day"],
            generated_columns={"day": "CAST(ts AS DATE)"},
        )
        runner.run(spec, sf_dir)
        pruned = runner.resolved_files(
            "gen_events", prune={"ts": (GEN_T1, GEN_T2)}
        )
        full = runner.resolved_files("gen_events")
        assert 0 < len(pruned) < len(full), (len(pruned), len(full))
        out = (
            runner.read_target("gen_events", prune={"ts": (GEN_T1, GEN_T2)})
            .filter(
                (F.col("ts") >= F.lit(GEN_T1).cast("timestamp"))
                & (F.col("ts") < F.lit(GEN_T2).cast("timestamp"))
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        return materialize(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_GEN_PRUNE = f"""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE ts >= TIMESTAMP '{GEN_T1} 00:00:00' AND ts < TIMESTAMP '{GEN_T2} 00:00:00'
GROUP BY event_type ORDER BY event_type
"""


def merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE automatic schema evolution (r8 — VERDICT r7 item 6b in a
    driver artifact): the source carries a NEW column; with
    on_schema_change='append_new_columns' the matched rows take its
    values, every untouched row NULL-backfills (untouched FILES are not
    rewritten — readers schema-merge via the committed dtypes), and the
    evolved dtypes commit atomically with the data."""
    import dataclasses

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_q_evo_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = dataclasses.replace(
            _dml_boot_spec("evo_orders"), on_schema_change="append_new_columns"
        )
        runner.run(spec, sf_dir)
        src = (
            spark.table("orders")
            .filter("o_orderkey % 6 = 1")
            .select(
                F.col("o_orderkey").alias("k"),
                (F.col("o_totalprice") + 5.0).alias("p"),
                F.concat(F.lit("r"), (F.col("o_custkey") % 5).cast("string"))
                .alias("region"),
            )
        )
        runner.merge_into(
            spec,
            src,
            on="t.o_orderkey = s.k",
            matched=[("update", None, {
                "o_totalprice": "s.p", "region": "s.region",
            })],
        )
        return materialize(
            runner.read_target("evo_orders").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_MERGE_EVOLUTION = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 6 = 1 THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderstatus,
       CASE WHEN o_orderkey % 6 = 1 THEN 'r' || CAST(o_custkey % 5 AS VARCHAR)
            ELSE NULL END AS region
FROM orders
ORDER BY o_orderkey
"""


def cdf_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-file feed across a SCHEMA-EVOLUTION boundary (VERDICT r10
    item 7 — pins the NULL-fill contract at the FEED level, not just the
    snapshot reader): v2 mutates PRE-evolution (its committed change
    files lack the evolved column), v3 is an incremental run with
    on_schema_change='append_new_columns' whose batch carries the new
    column ``w``; ``table_changes(v1 -> v3)`` reads every version's
    change files under the CURRENT dtypes with NULL-fill and nets per
    key across the boundary. Keys k ≡ 10 (mod 30) are touched on BOTH
    sides (v2 price bump, v3 adds w) and must net to ONE update whose
    pre-state is the v1 image; v2-only victims net an update with w
    NULL; v3 inserts carry w. Asserted in-entry: both mutating versions
    committed change-file descriptors (the read is the fast path, no
    snapshot diffed) and the feed contains updates on both sides of the
    boundary."""
    import dataclasses

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mycarely_q_cdfevo_")
    try:
        runner = IncrementalRunner(spark, root)
        # the feed range spans three versions — covered by the AGE
        # retention window (r12: Delta's retentionDuration shape), with
        # RETAIN_VERSIONS left at the engine default — consumers size
        # retention by time, not by guessing commit counts
        runner.RETENTION_SECONDS = 3600.0
        o = spark.table("orders")

        def boot(sp, sfd, wm):
            return o.filter(F.col("o_orderkey") % 4 != 3).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("v"),
            )

        spec = ModelSpec(
            "evo_cdf", "k", "k", boot,
            change_data=True, cdc_buckets=32,
            on_schema_change="append_new_columns",
        )
        runner.run(spec, sf_dir)                                  # v1
        runner.update_where(spec, "k % 10 = 0", {"v": "v + 1000"})  # v2

        def evolved(sp, sfd, wm):
            upd = o.filter(
                (F.col("o_orderkey") % 6 == 4) & (F.col("o_orderkey") % 4 != 3)
            ).select(
                F.col("o_orderkey").alias("k"),
                (
                    F.col("o_totalprice")
                    + F.when(F.col("o_orderkey") % 10 == 0, 1000.0).otherwise(0.0)
                ).alias("v"),
                F.concat(
                    F.lit("e"), (F.col("o_orderkey") % 7).cast("string")
                ).alias("w"),
            )
            ins = o.filter(F.col("o_orderkey") % 4 == 3).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("v"),
                F.concat(
                    F.lit("n"), (F.col("o_orderkey") % 5).cast("string")
                ).alias("w"),
            )
            return upd.unionByName(ins)

        runner.run(dataclasses.replace(spec, build=evolved), sf_dir)  # v3
        for ver in (2, 3):
            cdc = (runner._manifest_at("evo_cdf", ver) or {}).get("cdc") or {}
            assert cdc.get("files"), f"v{ver} has no change files"
        out = materialize(
            runner.table_changes("evo_cdf", "k", 1)
            .select("k", "v", "w", "_change_type")
            .orderBy("k", "_change_type")
        )
        shapes = {
            (r["_change_type"], r["w"] is not None) for r in out.collect()
        }
        # updates on BOTH sides of the evolution boundary + typed inserts
        assert ("update_postimage", False) in shapes, shapes  # pre-evo only
        assert ("update_postimage", True) in shapes, shapes   # crossed/post
        assert ("insert", True) in shapes, shapes
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_CDF_EVOLUTION = """
WITH boot AS (
    SELECT o_orderkey AS k, o_totalprice AS v
    FROM orders WHERE o_orderkey % 4 != 3
),
v3u AS (
    SELECT o_orderkey AS k,
           o_totalprice
             + CASE WHEN o_orderkey % 10 = 0 THEN 1000.0 ELSE 0.0 END AS v,
           'e' || CAST(o_orderkey % 7 AS VARCHAR) AS w
    FROM orders WHERE o_orderkey % 6 = 4 AND o_orderkey % 4 != 3
),
v3i AS (
    SELECT o_orderkey AS k, o_totalprice AS v,
           'n' || CAST(o_orderkey % 5 AS VARCHAR) AS w
    FROM orders WHERE o_orderkey % 4 = 3
),
final AS (
    SELECT k, v, w FROM v3u
    UNION ALL
    SELECT b.k, CASE WHEN b.k % 10 = 0 THEN b.v + 1000.0 ELSE b.v END AS v,
           CAST(NULL AS VARCHAR) AS w
    FROM boot b WHERE b.k NOT IN (SELECT k FROM v3u)
    UNION ALL
    SELECT k, v, w FROM v3i
),
old AS (SELECT k, v, CAST(NULL AS VARCHAR) AS w FROM boot)
SELECT f.k, f.v, f.w, 'insert' AS _change_type
FROM final f WHERE f.k NOT IN (SELECT k FROM old)
UNION ALL
SELECT f.k, f.v, f.w, 'update_postimage' AS _change_type
FROM final f JOIN old o USING (k)
WHERE f.v IS DISTINCT FROM o.v OR f.w IS DISTINCT FROM o.w
ORDER BY k, _change_type
"""


def dml_restore_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE + shallow CLONE (r7): bootstrap, DELETE a slice (v2),
    RESTORE to v1 (metadata-only — the committed file set IS v1's, by
    name), then shallow-CLONE the restored table (zero bytes copied,
    absolute-path manifest entries) and return the CLONE's read — which
    must equal the original bootstrap projection."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_restore_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("dml_src")
        runner.run(spec, sf_dir)
        runner.delete_where(spec, "o_orderkey % 3 = 0")
        runner.restore("dml_src", 1)
        runner.clone_shallow("dml_src", "dml_clone")
        return materialize(
            runner.read_target("dml_clone").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_DML_RESTORE_CLONE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
FROM orders
ORDER BY o_orderkey
"""


def time_travel_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``timestampAsOf`` time travel + ``DESCRIBE HISTORY`` (r11): every
    manifest commit is stamped with wall-clock ts and the USER-level
    operation at the public API boundary (Delta's commitInfo analogue —
    recorded thread-locally so shared writers stay parameter-free and
    compound operations label the outermost intent). Bootstrap (WRITE),
    capture t1, then cow UPDATE and cow DELETE; the returned frame is the
    ``timestamp_as_of=t1`` read — Delta's resolution rule (latest retained
    commit at-or-before the timestamp) must land on v1, so a travel path
    that reads the current snapshot flips the hash on both the updated
    prices and the deleted keys. History is asserted in-entry: newest-first
    [DELETE, UPDATE, WRITE] with nondecreasing stamps, resolved
    metadata-only (version JSONs, no data file opened)."""
    import time as _time

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_ttravel_")
    try:
        runner = IncrementalRunner(spark, root)
        # r12: the retained log is governed by AGE (Delta's
        # retentionDuration shape) — RETAIN_VERSIONS stays at the
        # engine default of 2, so the v1 read below succeeds ONLY
        # because the age window keeps young commits; a broken age
        # floor reverts to count-based retention and the travel read
        # raises instead of hashing
        runner.RETENTION_SECONDS = 3600.0
        assert runner.RETAIN_VERSIONS == 2
        spec = _dml_boot_spec("tt_orders")
        runner.run(spec, sf_dir)
        t1 = _time.time()
        _time.sleep(0.02)  # commits stamp sub-ms apart; separate them
        runner.update_where(
            spec, "o_orderkey % 10 = 3", {"o_totalprice": "o_totalprice + 1000"}
        )
        runner.delete_where(spec, "o_orderkey % 7 = 2")
        h = runner.history("tt_orders")
        assert [r["op"] for r in h] == ["DELETE", "UPDATE", "WRITE"], h
        assert h[0]["ts"] >= h[1]["ts"] >= h[2]["ts"]
        assert runner.version_at_timestamp("tt_orders", t1) == 1
        return materialize(
            runner.read_target("tt_orders", timestamp_as_of=t1)
            .orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_TIME_TRAVEL_HISTORY = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
FROM orders
ORDER BY o_orderkey
"""


def rename_column_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping (r11) — ``RENAME COLUMN`` without rewriting data
    (Delta columnMapping, name mode), exercised as a full lifecycle:
    bootstrap -> rename o_totalprice->price METADATA-ONLY (asserted: the
    committed file entries are identical BY NAME) -> a row-level UPDATE
    refuses while the mapping pends (it would mix physical names across
    files) -> compact() absorbs the mapping into logical-named files ->
    the same UPDATE now lands against the renamed column. The final read
    must show BOTH the rename and the post-absorb update, so a broken
    translation, a silently-ignored refusal, or a lost mapping across
    the compaction all flip the hash. A metadata-only DROP COLUMN
    (o_orderdate) plus a post-drop DELETE then prove writers stay free
    after a drop and the stale bytes never resurface."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_rename_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("cm_orders")
        runner.run(spec, sf_dir)
        m1 = runner.current_manifest("cm_orders")
        runner.rename_column("cm_orders", "o_totalprice", "price")
        m2 = runner.current_manifest("cm_orders")
        assert dict(m2["partitions"]) == dict(m1["partitions"])  # zero rewrite
        try:
            runner.update_where(
                spec, "o_orderkey % 10 = 3", {"price": "price + 1000"}
            )
            raise AssertionError("pending column mapping must refuse DML")
        except RuntimeError as e:
            assert "column mapping is pending" in str(e)
        runner.compact("cm_orders")  # absorb: files now carry logical names
        assert "colmap" not in runner.current_manifest("cm_orders")
        runner.update_where(
            spec, "o_orderkey % 10 = 3", {"price": "price + 1000"}
        )
        # DROP COLUMN is metadata-only too, and writers stay FREE after
        # it (explicit-schema reads never touch the stale bytes); the
        # dropped name is fenced against re-add until a full rewrite
        runner.drop_column("cm_orders", "o_orderdate")
        m = runner.current_manifest("cm_orders")
        assert m["dropped"] == ["o_orderdate"]
        runner.delete_where(spec, "o_orderkey % 1000 = 7")  # still unfrozen
        # metadata-only ADD COLUMN: every existing file NULL-fills it at
        # read (explicit-schema semantics); re-adding the dropped name
        # refuses (the fence) — both gated by the oracle's NULL column
        runner.add_column("cm_orders", "note", "bigint")
        try:
            runner.add_column("cm_orders", "o_orderdate", "date")
            raise AssertionError("dropped-name re-add must refuse")
        except RuntimeError as e:
            assert "resurrect" in str(e)
        return materialize(
            runner.read_target("cm_orders").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_RENAME_COLUMN = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000
            ELSE o_totalprice END AS price,
       o_orderstatus, CAST(NULL AS BIGINT) AS note
FROM orders
WHERE o_orderkey % 1000 <> 7
ORDER BY o_orderkey
"""


def colmap_cdf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping COMPOSED with the change-data feed (r12 — VERDICT
    r11 item 1, the top functional refusal a lakehouse user hits): a
    CDF-enabled table is renamed mid-history WITHOUT a rewrite and both
    feed paths net correctly across the rename.

    History: v1 bootstrap (keys k%4!=3) -> v2 cow UPDATE (+1000 on
    k%10=0; change files carry the OLD name `v`) -> v3 RENAME v->amount
    (asserted metadata-only: identical file entries, EMPTY change
    descriptor) -> v4 incremental merge in the NEW names (updates
    k%6=4, inserts k%4=3, tombstone deletes k%12=2; the unpartitioned
    full rewrite absorbs the mapping). While the mapping PENDS,
    `table_changes(1 -> 3)` already serves the feed under the new
    logical names (asserted in-entry). Then ONE availableNow hop
    streams the feed (startingversion=1) across the rename into a
    tombstone-merge sink seeded with the v1 snapshot — reaching a
    result at all PROVES the change-file legs ran, because the
    snapshot-diff fallback refuses rename-crossing ranges by contract.
    Retention is AGE-based (RETENTION_SECONDS — r12 item 5): the
    consumer's 3-version lag is covered by configuration, with
    RETAIN_VERSIONS left at the engine default of 2.

    The returned frame is the SINK's final state, which must equal the
    base table's live state (asserted in-entry) and the oracle's
    arithmetic replay — a stale-byte read, a misaligned era column, a
    double-netted change file, or a lost tombstone all flip the hash."""
    import dataclasses

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        register_manifest_cdf_source,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    register_manifest_cdf_source(spark)
    root = tempfile.mkdtemp(prefix="mycarely_q_cmcdf_")
    try:
        runner = IncrementalRunner(spark, root)
        runner.RETENTION_SECONDS = 3600.0  # age window covers the lag
        o = spark.table("orders")

        def boot(sp, sfd, wm):
            rows = o.filter(F.col("o_orderkey") % 4 != 3).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("v"),
                F.col("o_orderstatus").alias("s"),
            )
            if wm is not None:
                rows = rows.filter(F.col("k") > F.lit(wm))
            return rows

        spec = ModelSpec(
            "cm_cdf", "k", "k", boot, change_data=True, cdc_buckets=16
        )
        runner.run(spec, sf_dir)                                    # v1
        runner.update_where(spec, "k % 10 = 0", {"v": "v + 1000"})  # v2
        m2 = runner.current_manifest("cm_cdf")
        runner.rename_column("cm_cdf", "v", "amount")               # v3
        m3 = runner.current_manifest("cm_cdf")
        assert dict(m3["partitions"]) == dict(m2["partitions"])  # 0 rewrite
        assert m3["cdc"]["files"] == []  # metadata-only commit, empty cdc
        # the feed is live while the mapping PENDS — new logical names
        pend = runner.table_changes("cm_cdf", "k", 1, 3)
        assert set(pend.columns) == {"k", "amount", "s", "_change_type"}
        n_bumped = pend.filter(
            F.col("_change_type") == "update_postimage"
        ).count()
        assert n_bumped == o.filter(
            (F.col("o_orderkey") % 4 != 3) & (F.col("o_orderkey") % 10 == 0)
        ).count(), n_bumped

        def wave(sp, sfd, wm):
            upd = o.filter(
                (F.col("o_orderkey") % 6 == 4) & (F.col("o_orderkey") % 4 != 3)
            ).select(
                F.col("o_orderkey").alias("k"),
                (
                    F.col("o_totalprice")
                    + F.when(F.col("o_orderkey") % 10 == 0, 1000.0).otherwise(0.0)
                    + 50.0
                ).alias("amount"),
                F.col("o_orderstatus").alias("s"),
                F.lit(False).alias("__del"),
            )
            ins = o.filter(F.col("o_orderkey") % 4 == 3).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("amount"),
                F.col("o_orderstatus").alias("s"),
                F.lit(False).alias("__del"),
            )
            dels = o.filter(F.col("o_orderkey") % 12 == 2).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("amount"),
                F.col("o_orderstatus").alias("s"),
                F.lit(True).alias("__del"),
            )
            return upd.unionByName(ins).unionByName(dels)

        runner.run(
            dataclasses.replace(spec, build=wave, tombstone_col="__del"),
            sf_dir,
        )                                                           # v4
        assert "colmap" not in runner.current_manifest("cm_cdf")  # absorbed

        # sink seeded with the v1 snapshot (served under ITS OWN logical
        # schema — time travel), renamed into the post-rename naming
        sink_spec = ModelSpec(
            "cm_sink", "k", "k", None, tombstone_col="__del"
        )

        def sink_boot(sp, sfd, wm):
            return runner.read_target("cm_cdf", version=1).select(
                "k", F.col("v").alias("amount"), "s"
            )

        runner.run(dataclasses.replace(sink_spec, build=sink_boot), sf_dir)

        feed = (
            spark.readStream.format("mycarely_manifest_cdf")
            .option("root", root)
            .option("model", "cm_cdf")
            .option("key", "k")
            .option("startingversion", 1)
            .load()
        )

        def apply_batch(batch_df, bid):
            rows = batch_df.withColumn(
                "__del", F.col("_change_type") == "delete"
            ).drop("_change_type")
            runner.merge_txn(
                sink_spec, rows, app_id="cm_cdf_sink", txn_version=bid
            )

        q = (
            feed.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{root}/_ckpt_cm")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)
        base = runner.read_target("cm_cdf").select("k", "amount", "s")
        sink = runner.read_target("cm_sink").select("k", "amount", "s")
        assert sink.count() == base.count()
        assert sink.exceptAll(base).count() == 0
        return materialize(sink.orderBy("k"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_COLMAP_CDF = """
WITH boot AS (
    SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 4 <> 3
),
upd AS (
    SELECT o_orderkey AS k,
           o_totalprice
             + CASE WHEN o_orderkey % 10 = 0 THEN 1000.0 ELSE 0.0 END
             + 50.0 AS amount,
           o_orderstatus AS s
    FROM orders WHERE o_orderkey % 6 = 4 AND o_orderkey % 4 <> 3
),
ins AS (
    SELECT o_orderkey AS k, o_totalprice AS amount, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 4 = 3
)
SELECT k, amount, s FROM upd WHERE k % 12 <> 2
UNION ALL
SELECT b.k,
       CASE WHEN b.k % 10 = 0 THEN b.v + 1000.0 ELSE b.v END AS amount,
       b.s
FROM boot b
WHERE b.k NOT IN (SELECT k FROM upd) AND b.k % 12 <> 2
UNION ALL
SELECT k, amount, s FROM ins WHERE k % 12 <> 2
ORDER BY k
"""


def colmap_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RENAME-RESTART resume recipe (r13 — VERDICT r12 item 3): what
    a real operator does in the minutes after a live CDF stream hits the
    "a column rename landed after this stream started" raise
    (Delta's schema-change rule, pinned in tests/test_colmap.py).

    Flow, all inside one entry:
      1. hop A (availableNow, checkpoint C) bootstraps the sink from the
         v1 snapshot and applies the v2 update via merge_txn (the
         idempotent txn-ledger sink).
      2. v3 commits another cow UPDATE (change files under the OLD name
         `v`); the base is then RENAMED v->amount (v4, asserted
         metadata-only with an EMPTY change descriptor). A reader whose
         declared schema predates the rename now RAISES on planning —
         asserted in-entry with the exact restart message.
      3. The recovery: rename the SINK's column to match (metadata-only;
         the next unpartitioned merge absorbs the mapping), then restart
         a FRESH stream on the SAME checkpoint root. The restarted
         reader's declared schema is post-rename, so the pending range
         (v2 -> v4, which CROSSES the rename) plans era-schema
         change-file legs aliased to the new names — the raise was about
         a stale declared schema, not about the range. Exactly-once
         comes from checkpoint offsets (no re-delivery of hop A's range)
         plus the txn ledger (a re-delivered batch would be a no-op).
      4. hop C continues the SAME checkpoint across an insert wave and a
         cow DELETE committed post-rename; hop D replays with no new
         data and the sink's manifest version is asserted UNCHANGED —
         zero duplicates, the no-op replay.

    The returned frame is the sink's final state, asserted equal to the
    base's live state and hash-matched against the arithmetic oracle —
    a duplicated batch, a lost era translation, or a missed tombstone
    all flip the hash."""
    import dataclasses

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        ManifestCDFStreamReader,
        register_manifest_cdf_source,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    register_manifest_cdf_source(spark)
    root = tempfile.mkdtemp(prefix="mycarely_q_cmrr_")
    try:
        runner = IncrementalRunner(spark, root)
        runner.RETENTION_SECONDS = 3600.0  # age window covers the lag
        o = spark.table("orders")

        def boot(sp, sfd, wm):
            rows = o.filter(F.col("o_orderkey") % 3 != 2).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("v"),
                F.col("o_orderstatus").alias("s"),
            )
            if wm is not None:
                rows = rows.filter(F.col("k") > F.lit(wm))
            return rows

        spec = ModelSpec(
            "rr_base", "k", "k", boot, change_data=True,
            # orders-sized fixture: 32 buckets bound change files without
            # the 256-bucket scale default's tiny-file fan-out (r15)
            cdc_buckets=32,
        )
        sink_spec = ModelSpec("rr_sink", "k", "k", None, tombstone_col="__del")

        def hop():
            feed = (
                spark.readStream.format("mycarely_manifest_cdf")
                .option("root", root)
                .option("model", "rr_base")
                .option("key", "k")
                .load()
            )

            def apply_batch(batch_df, bid):
                # persist the microbatch (r15): the unpartitioned merge
                # references the batch 2-3x in one plan (tombstone split +
                # anti-join keys + union), and each reference re-ran the
                # Python CDF source read — the pattern every other
                # foreachBatch sink in the repo already follows
                rows = batch_df.persist()
                try:
                    runner.merge_txn(
                        sink_spec,
                        rows.withColumn(
                            "__del", F.col("_change_type") == "delete"
                        ).drop("_change_type"),
                        app_id="rr_sink",
                        txn_version=bid,
                    )
                finally:
                    rows.unpersist()

            q = (
                feed.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", f"{root}/_ckpt_rr")
                .trigger(availableNow=True)
                .start()
            )
            await_or_raise(q, 300)

        runner.run(spec, sf_dir)                                    # v1
        runner.update_where(spec, "k % 10 = 0", {"v": "v + 1000"})  # v2
        hop()                                                       # hop A
        assert (
            runner.read_target("rr_sink").count()
            == runner.read_target("rr_base").count()
        )
        runner.update_where(spec, "k % 6 = 4", {"v": "v + 50"})     # v3
        # the LIVE stream's reader: declared schema predates the rename
        live_rd = ManifestCDFStreamReader(
            {"root": root, "model": "rr_base", "key": "k"}
        )
        runner.rename_column("rr_base", "v", "amount")              # v4
        m4 = runner.current_manifest("rr_base")
        assert m4["cdc"]["files"] == []  # metadata-only, empty cdc
        raised = None
        try:  # the running stream plans its next batch -> MUST raise
            live_rd.partitions({"version": 2}, {"version": 4})
        except RuntimeError as e:
            raised = str(e)
        assert raised and "restart the stream" in raised, raised
        # recovery: rename the sink to match (metadata-only; the next
        # unpartitioned merge absorbs), then restart on the SAME ckpt
        runner.rename_column("rr_sink", "v", "amount")
        hop()                                 # hop B: v2->v4 across rename
        assert "colmap" not in runner.current_manifest("rr_sink")
        base = runner.read_target("rr_base").select("k", "amount", "s")
        sink = runner.read_target("rr_sink").select("k", "amount", "s")
        assert sink.exceptAll(base).count() == 0 and (
            sink.count() == base.count()
        )

        def wave(sp, sfd, wm):  # post-rename backfill inserts, NEW names
            # deliberately ignores the watermark: the wave keys interleave
            # with committed ones (a backfill), and the merge handles it
            return o.filter(F.col("o_orderkey") % 3 == 2).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("amount"),
                F.col("o_orderstatus").alias("s"),
            )

        runner.run(dataclasses.replace(spec, build=wave), sf_dir)   # v5
        runner.delete_where(spec, "k % 12 = 7")                     # v6
        hop()                                 # hop C: continue same ckpt
        v_sink = runner.current_manifest("rr_sink")["version"]
        hop()                                 # hop D: replay -> no-op
        assert runner.current_manifest("rr_sink")["version"] == v_sink

        base = runner.read_target("rr_base").select("k", "amount", "s")
        sink = runner.read_target("rr_sink").select("k", "amount", "s")

        def digest(df):
            # row count plus an order-independent content checksum, one
            # aggregate per side (the hop-B exceptAll already proved the
            # cross-rename mechanism); a decimal sum cannot overflow
            h = F.xxhash64("k", "amount", "s").cast("decimal(38,0)")
            return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())

        assert digest(sink) == digest(base)
        return materialize(sink.orderBy("k"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_COLMAP_RESTART = """
WITH boot AS (
    SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 3 <> 2
),
v3 AS (
    SELECT k,
           v + CASE WHEN k % 10 = 0 THEN 1000.0 ELSE 0.0 END
             + CASE WHEN k % 6 = 4 THEN 50.0 ELSE 0.0 END AS amount,
           s
    FROM boot
),
ins AS (
    SELECT o_orderkey AS k, o_totalprice AS amount, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 3 = 2
),
allr AS (
    SELECT * FROM v3 UNION ALL SELECT * FROM ins
)
SELECT k, amount, s FROM allr WHERE k % 12 <> 7 ORDER BY k
"""


def streaming_admission_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion admission control (r7): stateless quality gate
    + per-source quota via one-counter GroupState, drained with
    availableNow over a deterministic two-batch feed. The admitted set
    must equal the batch rule: quality-filtered ROW_NUMBER by doc_id
    <= quota per source. Exactly-once proven structurally: admit_seq is
    unique per source by construction, duplicates would flip the hash."""
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        admission_quota_stream,
    )

    root = tempfile.mkdtemp(prefix="mycarely_q_admit_")
    try:
        q = admission_quota_stream(spark, sf_dir, root)
        await_or_raise(q, 300)
        out = (
            spark.read.parquet(os.path.join(root, "admitted"))
            .select("source", "doc_id", "admit_seq")
            .orderBy("source", "admit_seq")
        )
        return materialize(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_admission_oracle() -> str:
    from mycarely_saas_dbt_spark.streaming.traffic_stream import (
        ADM_MIN_CHARS,
        ADM_QUOTA,
    )

    return f"""
SELECT source, doc_id, CAST(rn AS BIGINT) AS admit_seq
FROM (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
    WHERE n_chars >= {ADM_MIN_CHARS}
)
WHERE rn <= {ADM_QUOTA}
ORDER BY source, admit_seq
"""


def merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-clause MERGE INTO (r7): bootstrap a status-partitioned
    orders target, then one MERGE exercising first-match-wins ordering —
    matched-DELETE (k%35=0), conditional matched-UPDATE (s.p>100000), a
    catch-all matched-UPDATE, and a conditional INSERT (even keys only).
    The engine rewrites only files containing ON-matches (file surgery
    asserted in tests/test_merge_into.py); the oracle replays the clause
    ladder as a FULL JOIN + CASE."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    root = tempfile.mkdtemp(prefix="mycarely_q_merge_")
    try:
        runner = IncrementalRunner(spark, root)
        spec = _dml_boot_spec("merge_orders")
        runner.run(spec, sf_dir)
        upd = (
            spark.table("orders")
            .filter("o_orderkey % 5 = 0")
            .select(
                F.col("o_orderkey").alias("k"),
                (F.col("o_totalprice") + 10.0).alias("p"),
                F.col("o_custkey").alias("c"),
            )
        )
        new = spark.range(50).select(
            (F.col("id") + 90_000_000).alias("k"),
            (F.col("id") * 1.5 + 1.0).alias("p"),
            F.lit(7).cast("long").alias("c"),
        )
        runner.merge_into(
            spec,
            upd.unionByName(new),
            on="t.o_orderkey = s.k",
            matched=[
                ("delete", "s.k % 35 = 0"),
                ("update", "s.p > 100000", {"o_totalprice": "s.p"}),
                ("update", None, {"o_totalprice": "s.p + 0.5", "o_custkey": "0 - s.c"}),
            ],
            not_matched=[
                ("insert", "s.k % 2 = 0", {
                    "o_orderkey": "s.k",
                    "o_custkey": "s.c",
                    "o_totalprice": "s.p",
                    "o_orderdate": "DATE '2030-01-01'",
                    "o_orderstatus": "'N'",
                }),
            ],
        )
        return materialize(
            runner.read_target("merge_orders").orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_MERGE_MULTI_CLAUSE = """
WITH src AS (
    SELECT o_orderkey AS k, o_totalprice + 10.0 AS p, o_custkey AS c
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT i + 90000000, i * 1.5 + 1.0, 7 FROM UNNEST(range(0, 50)) AS u(i)
),
tgt AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
        FROM orders)
SELECT
  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderkey ELSE s.k END AS o_orderkey,
  CASE WHEN t.o_orderkey IS NOT NULL AND s.k IS NOT NULL
            AND NOT (s.k % 35 = 0) AND NOT (s.p > 100000) THEN 0 - s.c
       WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey
       ELSE s.c END AS o_custkey,
  CASE WHEN t.o_orderkey IS NOT NULL AND s.k IS NOT NULL AND NOT (s.k % 35 = 0)
            THEN CASE WHEN s.p > 100000 THEN s.p ELSE s.p + 0.5 END
       WHEN t.o_orderkey IS NOT NULL THEN t.o_totalprice
       ELSE s.p END AS o_totalprice,
  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderdate
       ELSE DATE '2030-01-01' END AS o_orderdate,
  CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderstatus ELSE 'N' END AS o_orderstatus
FROM tgt t FULL JOIN src s ON t.o_orderkey = s.k
WHERE NOT (t.o_orderkey IS NOT NULL AND s.k IS NOT NULL AND s.k % 35 = 0)
  AND NOT (t.o_orderkey IS NULL AND NOT (s.k % 2 = 0))
ORDER BY o_orderkey
"""


def register_queries(register) -> None:
    register("incremental_two_batch_upsert", incremental_two_batch, incremental_oracle())
    register("incremental_td_two_batch", incremental_td_two_batch, incremental_td_oracle())
    register("incremental_la_two_batch", incremental_la_two_batch, incremental_la_oracle())
    register(
        "streaming_traffic_pages",
        streaming_traffic_pages,
        streaming_traffic_pages_oracle(),
    )
    register("streaming_traffic_pages_hll", streaming_traffic_pages_hll, None)
    register("streaming_sessionize", streaming_sessionize, streaming_sessionize_oracle())
    register("streaming_late_drop", streaming_late_drop, O_STREAMING_LATE_DROP)
    register("streaming_dedup", streaming_dedup, O_STREAMING_DEDUP)
    register("scd2_snapshot_two_batch", scd2_snapshot_two_batch, scd2_snapshot_oracle())
    register(
        "scd2_hard_delete_two_batch",
        scd2_hard_delete_two_batch,
        scd2_hard_delete_oracle(),
    )
    register(
        "incremental_schema_evolution", incremental_schema_evolution, O_SCHEMA_EVOLUTION
    )
    register(
        "streaming_user_profile", streaming_user_profile, O_STREAMING_USER_PROFILE
    )
    register(
        "incremental_partitioned_target",
        incremental_partitioned_target,
        incremental_oracle(),
    )
    register("streaming_dedup_daily", streaming_dedup_daily, O_STREAMING_DEDUP_DAILY)
    register(
        "streaming_interval_join", streaming_interval_join, O_STREAMING_INTERVAL_JOIN
    )
    register(
        "streaming_interval_left_join",
        streaming_interval_left_join,
        O_STREAMING_INTERVAL_LEFT_JOIN,
    )
    register(
        "streaming_interval_full_join",
        streaming_interval_full_join,
        O_STREAMING_INTERVAL_FULL_JOIN,
    )
    register(
        "streaming_incremental_merge",
        streaming_incremental_merge,
        streaming_incremental_merge_oracle(),
    )
    register("streaming_cms_sketch", streaming_cms_sketch, streaming_cms_oracle())
    register("streaming_enrich_join", streaming_enrich_join, O_STREAMING_ENRICH)
    register(
        "streaming_dedup_within_watermark",
        streaming_dedup_within_watermark,
        O_STREAMING_DEDUP_WW,
    )
    register(
        "incremental_diff_report", incremental_diff_report, incremental_diff_oracle()
    )
    register("cdc_apply_changes", cdc_apply_changes, O_CDC_APPLY)
    register("cdf_table_changes", cdf_table_changes, O_CDF_CHANGES)
    register("streaming_cdc_apply", streaming_cdc_apply, O_CDC_APPLY)
    register("bloom_point_lookup", bloom_point_lookup, O_BLOOM_LOOKUP)
    register("dml_delete_update", dml_delete_update, O_DML_DELETE_UPDATE)
    register("dv_delete_read", dv_delete_read, O_DV_DELETE)
    register("dv_pos_reinsert_read", dv_pos_reinsert_read, O_DV_POS)
    register("gen_prune_read", gen_prune_read, O_GEN_PRUNE)
    register("merge_schema_evolution", merge_schema_evolution, O_MERGE_EVOLUTION)
    register("cdf_schema_evolution", cdf_schema_evolution, O_CDF_EVOLUTION)
    register("dml_restore_clone", dml_restore_clone, O_DML_RESTORE_CLONE)
    register("time_travel_history", time_travel_history, O_TIME_TRAVEL_HISTORY)
    register("rename_column_lifecycle", rename_column_lifecycle, O_RENAME_COLUMN)
    register("colmap_cdf_lifecycle", colmap_cdf_lifecycle, O_COLMAP_CDF)
    register("colmap_stream_restart", colmap_stream_restart, O_COLMAP_RESTART)
    register("merge_multi_clause", merge_multi_clause, O_MERGE_MULTI_CLAUSE)
    register(
        "streaming_admission_quota",
        streaming_admission_quota,
        streaming_admission_oracle(),
    )

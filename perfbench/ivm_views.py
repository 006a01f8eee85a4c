"""The ``ivm_refresh`` workload's tables and views, defined here through
the program's public ``incremental`` and ``ivm`` API.

The shape is the reference's traffic_daily model maintained
incrementally: a COUNT + COUNT DISTINCT aggregate over change-data page
views, chained through its change feed into a LEFT join with campaign
spend (composite key, constant ON-predicate, dim filter, fan-out).
The SQL strings are portable: the same text runs in Spark and DuckDB,
so the full-recompute check uses an independent engine.
"""

from __future__ import annotations

# classified page views of the raw events, one row per event; the day
# bucket ``db`` is the fact's partition column
CE_SQL = """
WITH fe AS (
    SELECT CAST(event_id AS BIGINT) AS eid,
           CAST(collector_tstamp AS DATE) AS event_date,
           app_id, domain_userid, refr_medium, mkt_source, refr_source,
           mkt_network, mkt_campaign, mkt_term
    FROM {atomic}
    WHERE event = 'page_view' AND refr_medium <> 'internal'
      AND NOT (lower(useragent) LIKE '%bot%' OR lower(useragent) LIKE '%spider%'
               OR lower(useragent) LIKE '%crawl%')
),
ce AS (
    SELECT eid, event_date, app_id, domain_userid,
           CASE
               WHEN (refr_medium IN ('cpc', 'ppc', 'paidsearch', 'display',
                                     'social', 'search', 'email', '', 'unknown')
                     AND COALESCE(mkt_network, '') <> '')
                    OR refr_medium = 'paid' THEN 'paid'
               WHEN refr_medium IN ('display', 'social', 'search', 'email', '', 'unknown')
                    AND COALESCE(mkt_network, '') = '' THEN 'organic'
           END AS traffic_type,
           mkt_source, refr_source, mkt_network, mkt_campaign, mkt_term
    FROM fe
)
SELECT eid, event_date, app_id, domain_userid, traffic_type,
       CASE WHEN traffic_type = 'paid'
                THEN COALESCE(mkt_source, refr_source, mkt_network, 'unknown')
            ELSE COALESCE(mkt_source, refr_source, 'unknown') END AS col_3,
       CASE WHEN traffic_type = 'paid' THEN COALESCE(mkt_campaign, 'unknown')
            ELSE COALESCE(mkt_term, mkt_campaign, 'unknown') END AS col_4,
       CAST(EXTRACT(DAY FROM event_date) % 8 AS INT) AS db
FROM ce
WHERE traffic_type IS NOT NULL
"""

# campaign spend with its own row identity (sid), so it can be a
# change-data dim whose join tuple (campaign_name, spend_date) fans out
SP_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS sid,
       CAST('2024-01-01' AS DATE) + CAST(o_orderkey % 31 AS INT) AS spend_date,
       CASE CAST(o_orderkey % 7 AS INT)
            WHEN 0 THEN 'spring_sale'  WHEN 1 THEN 'brand_push'
            WHEN 2 THEN 'summer_promo' WHEN 3 THEN 'holiday2024'
            WHEN 4 THEN 'retarget_q1'  WHEN 5 THEN 'generic_cmp'
            ELSE 'orphan_campaign' END AS campaign_name,
       CASE WHEN o_orderkey % 10 = 0 THEN NULL
            ELSE CAST(o_orderkey % 400 AS DOUBLE) / 4 END AS spend
FROM orders
WHERE o_orderkey % 5 = 0
"""

GROUP = ["event_date", "app_id", "traffic_type", "col_3", "col_4"]
VIEW_COLS = [*GROUP, "total_visits", "unique_visitors", "spend"]

# the view, recomputed from scratch over {ce} and {sp}
RECOMPUTE_SQL = """
WITH et AS (
    SELECT event_date, app_id, traffic_type, col_3, col_4,
           COUNT(*) AS total_visits,
           COUNT(DISTINCT domain_userid) AS unique_visitors
    FROM ({ce}) c
    GROUP BY event_date, app_id, traffic_type, col_3, col_4
)
SELECT et.event_date, et.app_id, et.traffic_type, et.col_3, et.col_4,
       et.total_visits, et.unique_visitors, sp.spend
FROM et LEFT JOIN ({sp}) sp
  ON et.col_4 = sp.campaign_name AND et.event_date = sp.spend_date
 AND et.traffic_type = 'paid' AND sp.spend IS NOT NULL
"""


class TrafficViews:
    """Base tables ``bv_ev`` (fact) and ``bv_sp`` (dim) committed through
    :class:`IncrementalRunner`, with the maintained aggregate ``bv_et``
    chained into the maintained LEFT join ``bv_join``."""

    def __init__(self, spark, target_root: str):
        from mycarely_saas_dbt_spark.incremental import IncrementalRunner

        self.spark = spark
        self.runner = IncrementalRunner(spark, target_root)
        self.m_et = self.m_jv = None

    def fact_spec(self, build):
        from mycarely_saas_dbt_spark.incremental import ModelSpec

        return ModelSpec(
            "bv_ev", "eid", "eid", build, partition_by=["db"],
            change_data=True, tombstone_col="__del", cdc_buckets=4,
        )

    def bootstrap(self, sf_dir: str) -> None:
        from mycarely_saas_dbt_spark.incremental import ModelSpec
        from mycarely_saas_dbt_spark.ivm import (
            JoinViewDefinition, JoinViewMaintainer,
            MaterializedViewMaintainer, MVAggregate, MVDefinition,
        )
        from mycarely_saas_dbt_spark.sources.registry import register_sources

        register_sources(self.spark, sf_dir)
        runner = self.runner

        def ev_build(sp, sfd, wm):
            return sp.sql(CE_SQL.format(atomic="atomic_events")).selectExpr(
                "*", "false AS __del"
            )

        runner.run(self.fact_spec(ev_build), sf_dir)
        runner.run(
            ModelSpec("bv_sp", "sid", "sid", lambda sp, sfd, wm: sp.sql(SP_SQL),
                      change_data=True, cdc_buckets=4),
            sf_dir,
        )
        bucket = "extract(DAY FROM event_date) % 8"
        self.m_et = MaterializedViewMaintainer(runner, MVDefinition(
            "bv_et", "bv_ev", "eid", GROUP,
            [MVAggregate("count", None, "total_visits"),
             MVAggregate("count_distinct", "domain_userid", "unique_visitors")],
            bucket_expr=bucket, bucket_col="db", emit_changes=True,
        ))
        self.m_et.refresh(self.spark)
        self.m_jv = JoinViewMaintainer(runner, JoinViewDefinition(
            "bv_join", "bv_et", "__gk", "bv_sp",
            join_on=[("col_4", "campaign_name"), ("event_date", "spend_date")],
            fact_cols=["app_id", "traffic_type", "col_3", "total_visits", "unique_visitors"],
            dim_cols=["spend"], how="left",
            fact_match_pred="traffic_type = 'paid'", dim_filter="spend IS NOT NULL",
            dim_key="sid", fact_bucket_expr=bucket, fact_bucket_col="db",
            view_bucket_expr="pmod(xxhash64(__gk), 8)", view_bucket_col="vb",
        ))
        self.m_jv.refresh(self.spark)

    def commit_batch(self, sf_dir: str, batch_path: str) -> dict:
        """Upsert/delete one raw change batch (``__del`` marks deletes)
        into the fact: one incremental commit."""
        from mycarely_saas_dbt_spark.sources.synthetic import atomic_events_sql

        def build(sp, sfd, wm):
            raw = sp.read.parquet(batch_path)
            raw.createOrReplaceTempView("bv_batch")
            sp.sql(atomic_events_sql("bv_batch")).createOrReplaceTempView("bv_batch_atomic")
            flags = raw.selectExpr("event_id AS eid", "__del")
            return sp.sql(CE_SQL.format(atomic="bv_batch_atomic")).join(flags, "eid")

        return self.runner.run(self.fact_spec(build), sf_dir)

    def read(self):
        return self.m_jv.read(self.spark)

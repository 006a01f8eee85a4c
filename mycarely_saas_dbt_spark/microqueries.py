"""Operator-level micro-queries: one registered (query, oracle) pair per
inventory row of SURVEY.md §2 not already proven end-to-end by the three
model pipelines, plus classic TPC-H-shaped headline queries used by bench.py.

Conventions:
  * every Spark side is DataFrame-API (Spark-first) except A5/A6 which
    deliberately exercise Spark SQL's ordinal/alias grouping;
  * every aggregate/computed column is aliased identically in Spark and
    oracle SQL (the driver sorts columns by name before hashing);
  * sums over integers are CAST(... AS BIGINT) in the oracle (DuckDB SUM
    yields HUGEINT, Spark yields long);
  * raw timestamps are cast to date/string at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark.functions.dialect import (
    not_ilike,
    nvl,
    surrogate_key,
    surrogate_key_sql,
)
from mycarely_saas_dbt_spark.sources.registry import oracle_query, register_sources


def _src(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_sources(spark, sf_dir)
    return spark.table(name)


def _d12(c):
    return F.col(c).cast("decimal(12,2)")


def _one12():
    # built lazily — constructing a Column at import time requires an
    # active SparkContext, which pytest collection doesn't have yet
    return F.lit(1).cast("decimal(12,2)")


# --------------------------------------------------------------------------
# S / P series — scans, projections, predicates
# --------------------------------------------------------------------------

def q_s01_scan_counts(spark, sf_dir):
    """S1: full scans of the raw sources, one row per table."""
    register_sources(spark, sf_dir)
    out = None
    for t in ["lineitem", "orders", "customer", "events"]:
        d = spark.table(t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        ).select("table_name", "n_rows")
        out = d if out is None else out.unionByName(d)
    return out


O_S01 = """
SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows FROM lineitem
UNION ALL SELECT 'orders', COUNT(*) FROM orders
UNION ALL SELECT 'customer', COUNT(*) FROM customer
UNION ALL SELECT 'events', COUNT(*) FROM events
"""


def q_p01_projection(spark, sf_dir):
    """P1+F7: projection, aliasing, arithmetic, casts on the fact table."""
    return _src(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_quantity").cast("string").alias("qty_str"),
    )


O_P01 = """
SELECT l_orderkey AS okey, l_linenumber AS line_no,
       l_extendedprice * (1 - l_discount) AS disc_price,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(l_quantity AS STRING) AS qty_str
FROM lineitem
"""


def q_p02_literals(spark, sf_dir):
    """P2: literal/constant columns incl. typed NULL."""
    return (
        _src(spark, sf_dir, "region")
        .select(
            F.lit("all").alias("label"),
            F.lit(999).alias("const_int"),
            F.lit(None).cast("string").alias("col_5"),
        )
        .distinct()
    )


O_P02 = """
SELECT DISTINCT 'all' AS label, 999 AS const_int, CAST(NULL AS STRING) AS col_5
FROM region
"""


def q_p03_p04_filters(spark, sf_dir):
    """P3/P4/B6: equality + NULL-rejecting inequality (NULL refr_medium rows
    are dropped by `!=` — 3-valued logic, do not null-safe)."""
    return (
        _src(spark, sf_dir, "atomic_events")
        .filter((F.col("event") == "page_view") & (F.col("refr_medium") != "internal"))
        .groupBy("refr_medium")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_P03 = """
SELECT refr_medium, COUNT(*) AS n
FROM atomic_events
WHERE event = 'page_view' AND refr_medium != 'internal'
GROUP BY refr_medium
"""


def q_p05_not_ilike(spark, sf_dir):
    """P5/B6: NOT ILIKE bot-scrub; NULL useragent rows drop out."""
    ev = _src(spark, sf_dir, "atomic_events")
    kept = ev.filter(
        not_ilike("useragent", "%bot%")
        & not_ilike("useragent", "%spider%")
        & not_ilike("useragent", "%crawl%")
    )
    return kept.agg(
        F.count(F.lit(1)).alias("kept"),
        F.count("useragent").alias("kept_nonnull"),
    )


O_P05 = """
SELECT COUNT(*) AS kept, COUNT(useragent) AS kept_nonnull
FROM atomic_events
WHERE useragent NOT ILIKE '%bot%'
  AND useragent NOT ILIKE '%spider%'
  AND useragent NOT ILIKE '%crawl%'
"""


def q_p06_null_predicates(spark, sf_dir):
    """P6: IS NULL / IS NOT NULL."""
    ev = _src(spark, sf_dir, "atomic_events")
    return ev.agg(
        F.sum(F.when(F.col("page_urlpath").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_paths"),
        F.sum(F.when(F.col("page_urlpath").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("nonnull_paths"),
    )


O_P06 = """
SELECT CAST(SUM(CASE WHEN page_urlpath IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_paths,
       CAST(SUM(CASE WHEN page_urlpath IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nonnull_paths
FROM atomic_events
"""


def q_p07_in_list(spark, sf_dir):
    """P7: IN-list membership (includes '' member, not NULL)."""
    return (
        _src(spark, sf_dir, "atomic_events")
        .filter(
            F.col("refr_medium").isin(
                ["cpc", "ppc", "paidsearch", "display", "social", "search", "email", "", "unknown"]
            )
        )
        .groupBy("refr_medium")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_P07 = """
SELECT refr_medium, COUNT(*) AS n
FROM atomic_events
WHERE refr_medium IN ('cpc','ppc','paidsearch','display','social','search','email','','unknown')
GROUP BY refr_medium
"""


def q_p08_watermark_subquery(spark, sf_dir):
    """P8: range predicate vs uncorrelated scalar subquery — evaluated
    eagerly driver-side exactly like the incremental watermark (D2)."""
    register_sources(spark, sf_dir)
    orders = spark.table("orders")
    wm = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .agg(F.max(F.col("o_orderdate").cast("date")))
        .first()[0]
    )
    li = spark.table("lineitem")
    return li.filter(F.col("l_shipdate").cast("date") > F.lit(wm)).agg(
        F.count(F.lit(1)).alias("n_after_watermark")
    )


O_P08 = """
SELECT COUNT(*) AS n_after_watermark
FROM lineitem
WHERE CAST(l_shipdate AS DATE) > (
    SELECT COALESCE(MAX(CAST(o_orderdate AS DATE)), DATE '1900-01-01')
    FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


def q_p09_compound_and(spark, sf_dir):
    """P9: compound AND chain — the reference's full page_view scrub
    predicate as one conjunction (models/traffic_pages_agg.sql:14-19
    stacks event = 'page_view' AND refr_medium <> 'internal' AND three
    NOT ILIKE useragent guards AND a NOT-NULL urlpath). All five
    conjuncts must reach the parquet scan as pushed filters."""
    e = _src(spark, sf_dir, "atomic_events")
    return (
        e.filter(
            (F.col("event") == "page_view")
            & (F.col("refr_medium") != "internal")
            & ~F.lower("useragent").like("%bot%")
            & F.col("page_urlpath").isNotNull()
            & (F.col("domain_userid").isNotNull())
        )
        .groupBy("refr_medium")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_P09 = """
SELECT refr_medium, COUNT(*) AS n
FROM atomic_events
WHERE event = 'page_view'
  AND refr_medium <> 'internal'
  AND LOWER(useragent) NOT LIKE '%bot%'
  AND page_urlpath IS NOT NULL
  AND domain_userid IS NOT NULL
GROUP BY refr_medium
"""


def q_p10_derived_filter(spark, sf_dir):
    """P10+F6: filter on a CASE-derived column (paid/organic classifier)."""
    from mycarely_saas_dbt_spark.plans.traffic_daily import classify_traffic_type

    return (
        _src(spark, sf_dir, "atomic_events")
        .withColumn("traffic_type", classify_traffic_type())
        .filter(F.col("traffic_type").isNotNull())
        .groupBy("traffic_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_P10 = """
SELECT traffic_type, COUNT(*) AS n
FROM (
    SELECT CASE
        WHEN (refr_medium IN ('cpc','ppc','paidsearch','display','social','search','email','','unknown')
              AND COALESCE(mkt_network, '') <> '')
             OR (refr_medium = 'paid') THEN 'paid'
        WHEN refr_medium IN ('display','social','search','email','','unknown')
             AND refr_medium <> 'paid'
             AND COALESCE(mkt_network, '') = '' THEN 'organic'
        ELSE NULL END AS traffic_type
    FROM atomic_events
) t
WHERE traffic_type IS NOT NULL
GROUP BY traffic_type
"""


def q_p11_notnull_gate(spark, sf_dir):
    """P11: multi-column NOT-NULL output gate."""
    return _src(spark, sf_dir, "lead_stage_change_events").filter(
        F.col("new_stage_id").isNotNull()
        & F.col("new_stage_name").isNotNull()
        & F.col("pipeline_id").isNotNull()
        & F.col("pipeline_name").isNotNull()
    ).agg(F.count(F.lit(1)).alias("n_gated"))


O_P11 = """
SELECT COUNT(*) AS n_gated
FROM lead_stage_change_events
WHERE new_stage_id IS NOT NULL AND new_stage_name IS NOT NULL
  AND pipeline_id IS NOT NULL AND pipeline_name IS NOT NULL
"""


# --------------------------------------------------------------------------
# J series — joins
# --------------------------------------------------------------------------

def q_j01_left_join_const_pred(spark, sf_dir):
    """J1: LEFT join, 2 keys + constant predicate in ON. The constant does
    NOT filter left rows — it nulls the match side (spend defaulted to 0)."""
    register_sources(spark, sf_dir)
    o = spark.table("orders").alias("o")
    c = F.broadcast(spark.table("customer").alias("c"))
    return o.join(
        c,
        (F.col("o.o_custkey") == F.col("c.c_custkey"))
        & (F.col("o.o_orderstatus") == F.lit("F")),
        "left",
    ).select(
        F.col("o.o_orderkey").alias("okey"),
        F.col("o.o_orderstatus").alias("status"),
        nvl(F.col("c.c_name"), F.lit("no_match")).alias("cust_name"),
        nvl(F.col("c.c_acctbal"), F.lit(0)).cast("double").alias("acctbal"),
    )


O_J01 = """
SELECT o.o_orderkey AS okey, o.o_orderstatus AS status,
       COALESCE(c.c_name, 'no_match') AS cust_name,
       CAST(COALESCE(c.c_acctbal, 0) AS DOUBLE) AS acctbal
FROM orders o
LEFT JOIN customer c
    ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
"""


def q_j02_left_join_single_key(spark, sf_dir):
    """J2: plain single-key LEFT join (dimension enrichment)."""
    register_sources(spark, sf_dir)
    c = spark.table("customer").alias("c")
    n = F.broadcast(spark.table("nation").alias("n"))
    return c.join(n, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left").select(
        F.col("c.c_custkey").alias("custkey"),
        F.col("n.n_name").alias("nation_name"),
    )


O_J02 = """
SELECT c.c_custkey AS custkey, n.n_name AS nation_name
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_j03_join_computed_key(spark, sf_dir):
    """J3: LEFT join on a computed (LOWER) key + date + constant."""
    register_sources(spark, sf_dir)
    ev = spark.table("atomic_events").alias("ev")
    cs = F.broadcast(
        spark.table("campaign_spends")
        .filter(F.col("spend").isNotNull())
        .select("campaign_name", "spend_date", "spend")
        .distinct()
        .alias("cs")
    )
    return (
        ev.filter(F.col("mkt_campaign").isNotNull())
        .join(
            cs,
            (F.lower(F.col("ev.mkt_campaign")) == F.col("cs.campaign_name"))
            & (F.col("ev.collector_tstamp").cast("date") == F.col("cs.spend_date")),
            "left",
        )
        .groupBy(F.lower(F.col("ev.mkt_campaign")).alias("campaign"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("cs.spend").alias("n_matched"),
        )
    )


O_J03 = """
SELECT LOWER(ev.mkt_campaign) AS campaign,
       COUNT(*) AS n_events,
       COUNT(cs.spend) AS n_matched
FROM atomic_events ev
LEFT JOIN (
    SELECT DISTINCT campaign_name, spend_date, spend
    FROM campaign_spends WHERE spend IS NOT NULL
) cs
    ON LOWER(ev.mkt_campaign) = cs.campaign_name
    AND CAST(ev.collector_tstamp AS DATE) = cs.spend_date
WHERE ev.mkt_campaign IS NOT NULL
GROUP BY LOWER(ev.mkt_campaign)
"""


def q_j04_distinct_before_join(spark, sf_dir):
    """J4/A7: DISTINCT the lookup side before joining to prevent fan-out."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem").alias("li")
    flags = (
        spark.table("lineitem")
        .select("l_orderkey", "l_returnflag")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_flags"))
        .alias("fl")
    )
    return (
        spark.table("orders")
        .alias("o")
        .join(F.broadcast(flags), F.col("o.o_orderkey") == F.col("fl.l_orderkey"), "left")
        .select(
            F.col("o.o_orderkey").alias("okey"),
            nvl(F.col("fl.n_flags"), F.lit(0)).cast("long").alias("n_flags"),
        )
    )


O_J04 = """
SELECT o.o_orderkey AS okey,
       CAST(COALESCE(fl.n_flags, 0) AS BIGINT) AS n_flags
FROM orders o
LEFT JOIN (
    SELECT l_orderkey, COUNT(*) AS n_flags
    FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem) d
    GROUP BY l_orderkey
) fl ON o.o_orderkey = fl.l_orderkey
"""


def q_j05_semi_anti(spark, sf_dir):
    """Semi/anti joins — engine-delegated in the reference (SURVEY §2.3
    'not present'), first-class here (the anti-join IS our upsert S3)."""
    register_sources(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders").select("o_custkey").distinct()
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(
        F.lit("with_orders").alias("bucket"), F.count(F.lit(1)).alias("n")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.lit("without_orders").alias("bucket"), F.count(F.lit(1)).alias("n")
    )
    return with_orders.unionByName(without)


O_J05 = """
SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'without_orders', COUNT(*) FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --------------------------------------------------------------------------
# A series — aggregations
# --------------------------------------------------------------------------

def q_a01_a02_count_distinct(spark, sf_dir):
    """A1+A2: COUNT(*) and COUNT(DISTINCT) in one hash aggregate
    (Catalyst RewriteDistinctAggregates handles the two-phase split)."""
    return (
        _src(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


O_A01 = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_a03_ungrouped_max(spark, sf_dir):
    """A3: ungrouped MAX — the watermark aggregate."""
    return _src(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("max_day"),
        F.min(F.col("ts").cast("date")).alias("min_day"),
    )


O_A03 = """
SELECT MAX(CAST(ts AS DATE)) AS max_day, MIN(CAST(ts AS DATE)) AS min_day
FROM events
"""


def q_a04_ungrouped_counts(spark, sf_dir):
    """A4/D3: observability counts (the run_query/log pattern)."""
    return _src(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


O_A04 = "SELECT COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users FROM events"


def q_a05_a06_ordinal_alias_group(spark, sf_dir):
    """A5+A6: GROUP BY ordinal and by SELECT alias — Spark SQL mode
    (spark.sql.groupByOrdinal / groupByAliases, both default-on)."""
    register_sources(spark, sf_dir)
    return spark.sql(
        """
        SELECT upper(l_returnflag) AS flag, l_linestatus AS status,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY 1, status
        """
    )


O_A05 = """
SELECT upper(l_returnflag) AS flag, l_linestatus AS status, COUNT(*) AS n
FROM lineitem GROUP BY 1, status
"""


def q_a07_distinct(spark, sf_dir):
    """A7: SELECT DISTINCT row dedup."""
    return _src(spark, sf_dir, "lead_stage_change_events").distinct().agg(
        F.count(F.lit(1)).alias("n_distinct_rows")
    )


O_A07 = """
SELECT COUNT(*) AS n_distinct_rows
FROM (SELECT DISTINCT * FROM lead_stage_change_events) d
"""


# --------------------------------------------------------------------------
# W series — windows
# --------------------------------------------------------------------------

def q_w01_global_row_number(spark, sf_dir):
    """W1: global (unpartitioned) ROW_NUMBER — single-partition by design;
    only ever applied to post-aggregation row counts (see traffic_pages
    id_strategy note for the 100 TB alternative)."""
    register_sources(spark, sf_dir)
    n = spark.table("nation")
    w = Window.orderBy("n_name")
    return n.select(
        F.row_number().over(w).cast("long").alias("seq"),
        F.col("n_name").alias("nation_name"),
    )


O_W01 = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS BIGINT) AS seq,
       n_name AS nation_name
FROM nation
"""


def q_w02_argmax_per_group(spark, sf_dir):
    """W2: top-1-per-group with multi-level tiebreak (priority CASE, then
    latest ts, then highest id) — the LA 'most relevant session' pattern."""
    register_sources(spark, sf_dir)
    ev = spark.table("events")
    priority = F.when(F.col("event_type") == "purchase", 1).otherwise(2)
    w = Window.partitionBy("user_id").orderBy(
        priority.asc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("top_event_id"),
            F.col("event_type").alias("top_event_type"),
            F.col("ts").cast("date").alias("top_day"),
        )
    )


O_W02 = """
SELECT user_id, event_id AS top_event_id, event_type AS top_event_type,
       CAST(ts AS DATE) AS top_day
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END,
                 ts DESC, event_id DESC) AS rn
    FROM events
) t WHERE rn = 1
"""


# --------------------------------------------------------------------------
# U series — set ops
# --------------------------------------------------------------------------

def q_u01_unpivot(spark, sf_dir):
    """U1: UNION-ALL unpivot — aggregate once, emit twice labeled."""
    register_sources(spark, sf_dir)
    agg = spark.table("lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("l_orderkey").alias("unique_orders"),
    )

    def branch(label, col):
        return agg.select(
            F.col("l_returnflag").alias("flag"),
            F.lit(label).alias("type"),
            F.col(col).alias("metric"),
        )

    return branch("all", "total_rows").unionByName(branch("unique", "unique_orders"))


O_U01 = """
WITH agg AS (
    SELECT l_returnflag AS flag, COUNT(*) AS total_rows,
           COUNT(DISTINCT l_orderkey) AS unique_orders
    FROM lineitem GROUP BY l_returnflag
)
SELECT flag, 'all' AS type, total_rows AS metric FROM agg
UNION ALL
SELECT flag, 'unique' AS type, unique_orders AS metric FROM agg
"""


def q_posexplode_outer(spark, sf_dir):
    """OUTER lateral fan-out NULL semantics: posexplode_outer must emit
    one (NULL pos, NULL token) row for a NULL array instead of dropping
    the parent row (the silent-row-loss bug of a plain explode in
    enrichment pipelines). Every 7th doc's array is NULLed to exercise
    the edge; the oracle reproduces the exact outer semantics with a
    UNION of the NULL-parent branch and the indexed unnest."""
    d = _src(spark, sf_dir, "documents")
    arr = F.when(
        F.pmod("n_chars", F.lit(7)) != 0, F.slice(F.split("text", " "), 1, 3)
    )
    return d.select("doc_id", arr.alias("arr")).select(
        "doc_id", F.posexplode_outer("arr").alias("p", "tok")
    )


O_POSEXPLODE_OUTER = """
WITH t AS (
    SELECT doc_id,
           CASE WHEN n_chars % 7 != 0
                THEN string_split(text, ' ')[1:3] END AS arr
    FROM documents
)
SELECT doc_id, CAST(NULL AS INT) AS p, CAST(NULL AS VARCHAR) AS tok
FROM t WHERE arr IS NULL
UNION ALL
SELECT t.doc_id, CAST(g.i - 1 AS INT) AS p, t.arr[g.i] AS tok
FROM t, UNNEST(generate_series(1, len(t.arr))) AS g(i)
WHERE t.arr IS NOT NULL
"""


def q_f_agg_suite(spark, sf_dir):
    """Modern aggregate-function parity per return flag: count_if,
    bool_and/bool_or (EVERY/ANY), conditional sums, sum(DISTINCT) over
    integers, min_by/max_by with deterministic struct tiebreaks — the
    aggregate surface beyond the reference's COUNT/SUM/MAX, all
    integer/boolean outputs so the compare is exact."""
    li = _src(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
        F.sum(F.when(F.col("l_linenumber") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_first_lines"),
        F.sum_distinct(F.col("l_linenumber")).cast("long").alias("sum_distinct_ln"),
        F.min_by(
            "l_orderkey",
            F.struct(F.col("l_quantity").alias("a"), F.col("l_orderkey").alias("b")),
        ).alias("min_qty_order"),
        F.max_by(
            "l_orderkey",
            F.struct(F.col("l_quantity").alias("a"), F.col("l_orderkey").alias("b")),
        ).alias("max_qty_order"),
    )


O_F_AGG = """
WITH ranked AS (
    SELECT l_returnflag, l_orderkey,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY l_quantity ASC, l_orderkey ASC) AS rn_min,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY l_quantity DESC, l_orderkey DESC) AS rn_max
    FROM lineitem
),
ends AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rn_min = 1 THEN l_orderkey END) AS min_qty_order,
           MAX(CASE WHEN rn_max = 1 THEN l_orderkey END) AS max_qty_order
    FROM ranked GROUP BY l_returnflag
)
SELECT a.l_returnflag,
       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
       bool_and(l_quantity > 0) AS all_positive,
       bool_or(l_discount > 0.05) AS any_discounted,
       CAST(SUM(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_first_lines,
       CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_ln,
       MIN(e.min_qty_order) AS min_qty_order,
       MIN(e.max_qty_order) AS max_qty_order
FROM lineitem a JOIN ends e ON a.l_returnflag = e.l_returnflag
GROUP BY a.l_returnflag
"""


def q_attribution_models(spark, sf_dir):
    """Multi-model marketing attribution over the reference's own domain
    (the reference hard-codes ONE model — paid-preferred latest touch,
    models/lead_activities_agg.sql:45-55; real attribution work compares
    models): per campaign, leads credited by FIRST touch (earliest
    pageview), LAST touch (latest), and LINEAR (each of a lead's n
    touches credits floor(1e6/n) micro-units — integer, so the
    cross-engine sum is exact; double 1/n sums would be
    addition-order-dependent).

    Scale shape: the lead set is small → broadcast semi-join restricts
    the event scan; first/last are map-side-combinable min_by/max_by per
    lead (no window sort); linear is one count join + one aggregation."""
    ev = _src(spark, sf_dir, "atomic_events")
    leads = (
        _src(spark, sf_dir, "lead_stage_change_events")
        .select(F.lower("domain_userid").alias("domain_userid"))
        .distinct()
    )
    touches = (
        ev.filter(
            (F.col("event") == "page_view")
            & F.col("mkt_campaign").isNotNull()
            & F.col("domain_userid").isNotNull()
        )
        .select(
            F.lower("domain_userid").alias("domain_userid"),
            F.lower("mkt_campaign").alias("campaign"),
            "collector_tstamp",
            "event_id",
        )
        .join(F.broadcast(leads), "domain_userid")
    )
    key = F.struct(
        F.col("collector_tstamp").alias("t"), F.col("event_id").alias("e")
    )
    ends = touches.groupBy("domain_userid").agg(
        F.min_by("campaign", key).alias("first_campaign"),
        F.max_by("campaign", key).alias("last_campaign"),
        F.count(F.lit(1)).alias("n_touches"),
    )
    first = ends.groupBy(F.col("first_campaign").alias("campaign")).agg(
        F.count(F.lit(1)).alias("first_touch_leads")
    )
    last = ends.groupBy(F.col("last_campaign").alias("campaign")).agg(
        F.count(F.lit(1)).alias("last_touch_leads")
    )
    linear = (
        touches.join(ends.select("domain_userid", "n_touches"), "domain_userid")
        .groupBy("campaign")
        .agg(
            F.sum(F.floor(F.lit(1_000_000) / F.col("n_touches")))
            .cast("long")
            .alias("linear_microcredits")
        )
    )
    return (
        first.join(last, "campaign", "full")
        .join(linear, "campaign", "full")
        .select(
            "campaign",
            F.coalesce("first_touch_leads", F.lit(0)).cast("long").alias("first_touch_leads"),
            F.coalesce("last_touch_leads", F.lit(0)).cast("long").alias("last_touch_leads"),
            F.coalesce("linear_microcredits", F.lit(0)).cast("long").alias("linear_microcredits"),
        )
    )


def q_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning visitor split — the acquisition metric every
    traffic dashboard pairs with the reference's daily rollups: a visitor
    is NEW on their first-seen day, RETURNING on later active days.

    Scale shape: first-seen is one map-side-combinable min per user; the
    per-(day, user) activity relation joins it back on user (both sides
    already hashed on the same key) and the final rollup is a narrow
    count — no windows, no self-join on the event log."""
    ev = _src(spark, sf_dir, "atomic_events")
    pv = ev.filter(
        (F.col("event") == "page_view") & F.col("domain_userid").isNotNull()
    ).select(
        F.col("collector_tstamp").cast("date").alias("date"),
        F.lower("domain_userid").alias("u"),
    )
    active = pv.distinct()
    first_seen = active.groupBy("u").agg(F.min("date").alias("first_date"))
    return (
        active.join(first_seen, "u")
        .groupBy("date")
        .agg(
            F.sum(F.when(F.col("date") == F.col("first_date"), 1).otherwise(0))
            .cast("long")
            .alias("new_visitors"),
            F.sum(F.when(F.col("date") != F.col("first_date"), 1).otherwise(0))
            .cast("long")
            .alias("returning_visitors"),
        )
    )


O_NEW_VS_RETURNING = """
, pv AS (
    SELECT DISTINCT CAST(collector_tstamp AS DATE) AS date,
           LOWER(domain_userid) AS u
    FROM atomic_events
    WHERE event = 'page_view' AND domain_userid IS NOT NULL
),
first_seen AS (SELECT u, MIN(date) AS first_date FROM pv GROUP BY u)
SELECT p.date,
       CAST(SUM(CASE WHEN p.date = f.first_date THEN 1 ELSE 0 END) AS BIGINT)
           AS new_visitors,
       CAST(SUM(CASE WHEN p.date != f.first_date THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_visitors
FROM pv p JOIN first_seen f USING (u)
GROUP BY p.date
"""


O_ATTRIBUTION = """
, leads AS (
    SELECT DISTINCT LOWER(domain_userid) AS domain_userid
    FROM lead_stage_change_events
),
touches AS (
    SELECT LOWER(e.domain_userid) AS domain_userid,
           LOWER(e.mkt_campaign) AS campaign,
           e.collector_tstamp, e.event_id
    FROM atomic_events e
    JOIN leads l ON LOWER(e.domain_userid) = l.domain_userid
    WHERE e.event = 'page_view'
      AND e.mkt_campaign IS NOT NULL
      AND e.domain_userid IS NOT NULL
),
ranked AS (
    SELECT domain_userid, campaign,
           ROW_NUMBER() OVER (PARTITION BY domain_userid
               ORDER BY collector_tstamp ASC, event_id ASC) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY domain_userid
               ORDER BY collector_tstamp DESC, event_id DESC) AS rn_d
    FROM touches
),
ends AS (
    SELECT domain_userid,
           MAX(CASE WHEN rn_a = 1 THEN campaign END) AS first_campaign,
           MAX(CASE WHEN rn_d = 1 THEN campaign END) AS last_campaign,
           COUNT(*) AS n_touches
    FROM ranked GROUP BY domain_userid
),
first_t AS (
    SELECT first_campaign AS campaign, COUNT(*) AS first_touch_leads
    FROM ends GROUP BY first_campaign
),
last_t AS (
    SELECT last_campaign AS campaign, COUNT(*) AS last_touch_leads
    FROM ends GROUP BY last_campaign
),
linear_t AS (
    SELECT t.campaign,
           CAST(SUM(CAST(FLOOR(1000000 / e.n_touches) AS BIGINT)) AS BIGINT)
               AS linear_microcredits
    FROM touches t JOIN ends e USING (domain_userid)
    GROUP BY t.campaign
)
SELECT COALESCE(f.campaign, l.campaign, n.campaign) AS campaign,
       CAST(COALESCE(f.first_touch_leads, 0) AS BIGINT) AS first_touch_leads,
       CAST(COALESCE(l.last_touch_leads, 0) AS BIGINT) AS last_touch_leads,
       CAST(COALESCE(n.linear_microcredits, 0) AS BIGINT) AS linear_microcredits
FROM first_t f
FULL JOIN last_t l ON f.campaign = l.campaign
FULL JOIN linear_t n ON COALESCE(f.campaign, l.campaign) = n.campaign
"""


# --------------------------------------------------------------------------
# F series — scalar functions & expressions
# --------------------------------------------------------------------------

def q_f_datetime_suite(spark, sf_dir):
    """Datetime function parity, value-by-value on a deterministic order
    sample: extract family (year/quarter/month/day/dayofyear/ISO week),
    day-of-week (Spark's 1=Sunday convention shifted to DuckDB's
    0=Sunday), last_day, month truncation, add_months, and day-diff vs a
    fixed anchor. Row-wise outputs so a single function regressing on a
    single date flips the hash."""
    o = _src(spark, sf_dir, "orders").filter(F.pmod("o_orderkey", F.lit(97)) == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        F.month(d).cast("long").alias("mon"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        (F.dayofweek(d) - 1).cast("long").alias("dow_sun0"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        F.add_months(d, 3).alias("plus_3m"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_95"
        ),
    )


O_F_DATETIME = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
       CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
       CAST(EXTRACT(day FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS dom,
       CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow_sun0,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
       CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_3m,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
           AS days_since_95
FROM orders
WHERE o_orderkey % 97 = 0
"""


def q_f_string_suite(spark, sf_dir):
    """String function parity, value-by-value on a deterministic customer
    sample: length/case/trim family, pad, reverse, substring, locate,
    replace, translate, repeat, left/right slices, split+element,
    levenshtein vs a constant, regexp_extract/replace. Row-wise so one
    function regressing on one value flips the hash."""
    c = _src(spark, sf_dir, "customer").filter(F.pmod("c_custkey", F.lit(53)) == 0)
    s = F.col("c_name")
    return c.select(
        "c_custkey",
        s.alias("s"),
        F.length(s).cast("long").alias("len"),
        F.upper(s).alias("up"),
        F.ltrim(F.rtrim(s)).alias("trimmed"),
        F.lpad(s, 25, "*").alias("padded"),
        F.reverse(s).alias("rev"),
        F.substring(s, 10, 5).alias("sub"),
        F.locate("#", s).cast("long").alias("hash_at"),
        F.regexp_replace(s, "[0-9]", "").alias("no_digits"),
        F.translate(s, "Ceo", "XYZ").alias("translated"),
        F.repeat(F.substring(s, 1, 2), 3).alias("repeated"),
        F.split(s, "#").getItem(1).alias("after_hash"),
        F.levenshtein(s, F.lit("Customer#000000000")).cast("long").alias("lev"),
        F.regexp_extract(s, "([0-9]+)$", 1).alias("digits"),
    )


O_F_STRING = """
SELECT c_custkey,
       c_name AS s,
       CAST(length(c_name) AS BIGINT) AS len,
       upper(c_name) AS up,
       ltrim(rtrim(c_name)) AS trimmed,
       lpad(c_name, 25, '*') AS padded,
       reverse(c_name) AS rev,
       substr(c_name, 10, 5) AS sub,
       CAST(strpos(c_name, '#') AS BIGINT) AS hash_at,
       regexp_replace(c_name, '[0-9]', '', 'g') AS no_digits,
       translate(c_name, 'Ceo', 'XYZ') AS translated,
       repeat(substr(c_name, 1, 2), 3) AS repeated,
       string_split(c_name, '#')[2] AS after_hash,
       CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT) AS lev,
       COALESCE(regexp_extract(c_name, '([0-9]+)$', 1), '') AS digits
FROM customer
WHERE c_custkey % 53 = 0
"""


def q_f_scalar_suite(spark, sf_dir):
    """F1-F9 in one projection over atomic_events: COALESCE, 2-arg and
    variadic NVL, NULLIF guard, LOWER, CASE, casts, surrogate key,
    ''-vs-NULL sentinel."""
    ev = _src(spark, sf_dir, "atomic_events")
    return (
        ev.select(
            F.col("event_id").alias("event_id"),
            nvl("refr_source", F.lit("none")).alias("f2_nvl2"),
            nvl("mkt_source", "refr_source", "mkt_network", F.lit("unknown")).alias(
                "f3_nvl4"
            ),
            (
                F.col("event_id").cast("double")
                / F.when(
                    F.col("event_id").cast("long") % 10 != 0,
                    F.col("event_id").cast("long") % 10,
                )
            ).alias("f4_nullif_div"),
            F.lower("mkt_campaign").alias("f5_lower"),
            F.when(nvl(F.col("mkt_network"), F.lit("")) != "", "has_network")
            .otherwise("no_network")
            .alias("f9_empty_sentinel"),
            F.col("collector_tstamp").cast("date").alias("f7_date"),
            surrogate_key("event_id", "refr_medium", "mkt_campaign").alias("f8_key"),
        )
    )


O_F = f"""
SELECT
    event_id,
    COALESCE(refr_source, 'none') AS f2_nvl2,
    COALESCE(mkt_source, refr_source, mkt_network, 'unknown') AS f3_nvl4,
    CAST(event_id AS DOUBLE) / NULLIF(CAST(event_id AS BIGINT) % 10, 0) AS f4_nullif_div,
    LOWER(mkt_campaign) AS f5_lower,
    CASE WHEN COALESCE(mkt_network, '') <> '' THEN 'has_network'
         ELSE 'no_network' END AS f9_empty_sentinel,
    CAST(collector_tstamp AS DATE) AS f7_date,
    {surrogate_key_sql(['event_id', 'refr_medium', 'mkt_campaign'])} AS f8_key
FROM atomic_events
"""


# --------------------------------------------------------------------------
# TPC-H-shaped headline queries (bench workload)
# --------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: wide scan -> hash agg with multiple
    measures. The bench's scan/agg throughput probe."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money/avg math in DECIMAL then cast to double: double sums are
            # summation-order-dependent in the last bits, and the oracle
            # compare is exact — decimal sums are exact in both engines.
            # DECIMAL(12,2) keeps the 3-factor charge product within p38.
            F.sum(_d12("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_d12("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_d12("l_extendedprice") * (_one12() - _d12("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                _d12("l_extendedprice")
                * (_one12() - _d12("l_discount"))
                * (_one12() + _d12("l_tax"))
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_d12("l_quantity")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            (F.sum(_d12("l_extendedprice")).cast("double") / F.count(F.lit(1)))
            .alias("avg_price"),
            (F.sum(_d12("l_discount")).cast("double") / F.count(F.lit(1)))
            .alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


O_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-shaped: selective dim filter -> 2 joins -> agg. The bench's
    shuffle-join probe (customer broadcast, orders|xlineitem shuffle)."""
    register_sources(spark, sf_dir)
    c = F.broadcast(
        spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = spark.table("orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date")
    )
    li = spark.table("lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("okey"),
            F.col("o_orderdate").cast("date").alias("odate"),
        )
        .agg(
            F.sum(_d12("l_extendedprice") * (_one12() - _d12("l_discount"))).cast("double").alias("revenue")
        )
    )


O_TPCH_Q3 = """
SELECT l.l_orderkey AS okey, CAST(o.o_orderdate AS DATE) AS odate,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-shaped: 5-way join (lineitem⋈orders⋈customer⋈supplier⋈nation
    ⋈region) with the co-nation constraint, revenue by nation. Probes join
    ordering + broadcast of the dim chain; at 100 TB only orders⋈lineitem
    shuffles — nation/region/supplier/customer broadcast."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    o = spark.table("orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1994-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    c = spark.table("customer")
    s = F.broadcast(spark.table("supplier"))
    n = F.broadcast(spark.table("nation"))
    r = F.broadcast(spark.table("region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(_d12("l_extendedprice") * (_one12() - _d12("l_discount"))), 2).cast("double").alias("revenue")
        )
    )


O_TPCH_Q5 = """
SELECT n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1994-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n.n_name
"""


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-shaped: fully-pushable selective scan -> single global sum.
    The predicate-pushdown probe — all three filters reach the parquet
    row-group stats, so at 100 TB this reads a fraction of the table."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1994-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1995-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_d12("l_extendedprice") * _d12("l_discount")), 2)
            .cast("double")
            .alias(
                "revenue"
            )
        )
    )


O_TPCH_Q6 = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10-shaped: returned-item revenue per customer, one quarter of
    orders, customer+nation enrichment. Probes fact⋈fact shuffle join plus
    broadcast dim enrichment and a high-cardinality groupBy."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    o = spark.table("orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    c = spark.table("customer")
    n = F.broadcast(spark.table("nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(F.sum(_d12("l_extendedprice") * (_one12() - _d12("l_discount"))), 2).cast("double").alias("revenue")
        )
    )


O_TPCH_Q10 = """
SELECT c.c_custkey, c.c_name, c.c_acctbal AS acctbal, n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
"""


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14-shaped: promo-revenue ratio — conditional aggregation
    (SUM(CASE WHEN ...)) over a part⋈lineitem join, one month of shipments.
    Part is the broadcast side at any scale that fits; the conditional sum
    runs map-side inside codegen."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1995-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1995-10-01").cast("date"))
    )
    p = spark.table("part")
    disc = _d12("l_extendedprice") * (_one12() - _d12("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), disc)).cast("double")
                / F.sum(disc).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


O_TPCH_Q14 = """
SELECT ROUND(
         100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0.0 END)
         / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-09-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1995-10-01'
"""


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18-shaped: large-volume customers — pre-aggregate lineitem per
    order, HAVING-style filter on the aggregate, then semi-join back through
    orders/customer. The agg-before-join pattern that keeps the shuffle on
    the narrow pre-aggregated side (SURVEY §4 'pre-aggregate before join')."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 212)
    )
    o = spark.table("orders")
    c = spark.table("customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "total_qty",
        )
    )


O_TPCH_Q18 = """
SELECT c.c_name, c.c_custkey, o.o_orderkey AS orderkey,
       CAST(o.o_orderdate AS DATE) AS orderdate,
       o.o_totalprice AS totalprice, big.total_qty
FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 212) big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-shaped: EXISTS rewritten as LEFT SEMI join — orders with at
    least one returned lineitem, counted by priority. The semi join never
    materializes the probe side's payload; dedup is implicit."""
    register_sources(spark, sf_dir)
    o = spark.table("orders")
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


O_TPCH_Q4 = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
"""


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13-shaped: orders-per-customer distribution — LEFT OUTER join
    preserving order-less customers, COUNT of a nullable key (0 for no
    match), then a second tiny aggregation over the counts."""
    register_sources(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


O_TPCH_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey) t
GROUP BY c_count
"""


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17-shaped: correlated AVG subquery decorrelated into an
    aggregate-then-join-back — lineitems below half their part's average
    quantity. The per-part aggregate is small (one row per part) so it
    broadcasts; the fact table is scanned once per side."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    half_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(half_avg), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum(_d12("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


O_TPCH_Q17 = """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey, AVG(l_quantity) * 0.5 AS half_avg_qty
      FROM lineitem GROUP BY l_partkey) h
  ON l.l_partkey = h.l_partkey
WHERE l.l_quantity < h.half_avg_qty
"""


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19-shaped: disjunction of conjunctive predicates (OR-of-ANDs)
    across a part⋈lineitem join. Catalyst extracts the common l_partkey
    equi-key and keeps the disjunction as join residual — no cartesian."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    p = spark.table("part")
    disc = _d12("l_extendedprice") * (_one12() - _d12("l_discount"))
    cond1 = (
        F.col("p_type").like("PROMO%")
        & (F.col("l_quantity") <= 10)
        & (F.col("p_size") <= 20)
    )
    cond2 = (
        F.col("p_type").like("STANDARD%")
        & (F.col("l_quantity") >= 30)
        & (F.col("p_size") >= 10)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond1 | cond2)
        .agg(F.round(F.sum(disc), 2).cast("double").alias("revenue"))
    )


O_TPCH_Q19 = """
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))), 2)
       AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_type LIKE 'PROMO%' AND l.l_quantity <= 10 AND p.p_size <= 20)
   OR (p.p_type LIKE 'STANDARD%' AND l.l_quantity >= 30 AND p.p_size >= 10)
"""


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22-shaped: above-average-balance customers with no orders —
    an uncorrelated scalar aggregate (kept in-plan as a 1-row broadcast
    cross join, not a driver collect) plus NOT EXISTS as LEFT ANTI join.
    The anti side is restricted to finished ('F') orders so the predicate
    is non-vacuous on the synthetic data (every customer has some order)."""
    register_sources(spark, sf_dir)
    c = spark.table("customer")
    o = spark.table("orders").filter(F.col("o_orderstatus") == "F")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


O_TPCH_Q22 = """
SELECT c.c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c.c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c.c_nationkey
"""


def _dec(c):
    """Money math in DECIMAL(18,2): double sums land on half-cent rounding
    ties that depend on summation order; decimal is exact in both engines."""
    return F.col(c).cast("decimal(18,2)")


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7-shaped: bilateral shipping volume between two nations by
    year — a 6-table snowflake join with a symmetric pair predicate. The
    nation dimension joins broadcast; only lineitem⋈orders shuffles."""
    register_sources(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    s, c = spark.table("supplier"), spark.table("customer")
    n1 = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


O_TPCH_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(CAST(l.l_shipdate AS DATE))
"""


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8-shaped: a nation's market share inside one region's trade
    of one part type, by order year — conditional aggregation (share =
    SUM(CASE)/SUM) over a 7-table join."""
    register_sources(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    s, c, p = spark.table("supplier"), spark.table("customer"), spark.table("part")
    n1 = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    r = spark.table("region")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .filter((F.col("r_name") == "EUROPE") & (F.col("p_type") == "STANDARD"))
        .withColumn("volume", rev)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_8", F.col("volume")))
                .cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


O_TPCH_Q8 = f"""
SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
       ROUND(SUM(CASE WHEN n1.n_name = 'NATION_8' THEN {_REV} END)
             / SUM({_REV}), 6) AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
GROUP BY year(CAST(o.o_orderdate AS DATE))
"""


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12-shaped (adapted: the driver's lineitem has no
    commit/receipt dates, so "late" = shipped >60 days after the order
    date): priority-class counts per lateness bucket via conditional
    aggregation after an orders⋈lineitem join."""
    register_sources(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("bucket", F.when(late, "late").otherwise("ontime"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


O_TPCH_Q12 = """
SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) > 60
            THEN 'late' ELSE 'ontime' END AS bucket,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15-shaped: top supplier(s) by quarterly revenue — per-supplier
    aggregate, then an in-plan scalar MAX joined back (no driver collect).
    Decimal revenue so the MAX-equality join is exact."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-07-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    s = spark.table("supplier")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


O_TPCH_Q15 = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no, SUM({_REV}) AS total_revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-07-01'
      AND CAST(l_shipdate AS DATE) < DATE '1996-10-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM revenue r
JOIN supplier s ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21-shaped (adapted to available columns): suppliers whose
    lineitem was the LAST shipped in a multi-supplier order — EXISTS
    (another supplier in the order) as LEFT SEMI + NOT EXISTS (anyone
    shipping later) as LEFT ANTI, both self-joins on the order key."""
    register_sources(spark, sf_dir)
    li = spark.table("lineitem")
    s = spark.table("supplier")
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    straggler = (
        l1.join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        straggler.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


O_TPCH_Q21 = """
SELECT s.s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey != l1.l_suppkey
                    AND CAST(l3.l_shipdate AS DATE) > CAST(l1.l_shipdate AS DATE))
GROUP BY s.s_name
"""


# The driver testdata has no partsupp table; the five remaining TPC-H shapes
# (q2/q9/q11/q16/q20) run over a partsupp-LIKE relation derived
# deterministically from lineitem: supply cost = min observed unit price,
# availability = total shipped quantity. Both engines derive it identically,
# so the oracle compare still proves the operator shapes. MIN and integral
# SUM are summation-order-independent — no decimal gymnastics needed.

PARTSUPP_SQL = """
SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       MIN(l_extendedprice) AS ps_supplycost,
       CAST(SUM(l_quantity) AS BIGINT) AS ps_availqty
FROM lineitem
GROUP BY l_partkey, l_suppkey
"""


def _partsupp(spark):
    li = spark.table("lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min("l_extendedprice").alias("ps_supplycost"),
        F.sum("l_quantity").cast("bigint").alias("ps_availqty"),
    )


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2-shaped: the minimum-cost supplier per part within one
    region — correlated MIN subquery decorrelated into a per-part aggregate
    joined back on (part, cost) equality."""
    register_sources(spark, sf_dir)
    ps = _partsupp(spark)
    s = spark.table("supplier")
    p = spark.table("part").filter(
        (F.col("p_size") == 15) & F.col("p_type").isin("STANDARD")
    )
    n = spark.table("nation")
    r = spark.table("region").filter(F.col("r_name") == "EUROPE")
    eu_ps = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    min_cost = eu_ps.groupBy(
        F.col("ps_partkey").alias("mk_partkey")
    ).agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        eu_ps.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mk_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").alias("supplycost"),
        )
    )


O_TPCH_Q2 = f"""
WITH partsupp AS ({PARTSUPP_SQL}),
eu_ps AS (
    SELECT ps.*, s.s_acctbal, s.s_name, n.n_name
    FROM partsupp ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
)
SELECT e.s_acctbal, e.s_name, e.n_name AS nation, p.p_partkey, p.p_brand,
       e.ps_supplycost AS supplycost
FROM eu_ps e
JOIN part p ON e.ps_partkey = p.p_partkey
WHERE p.p_size = 15 AND p.p_type IN ('STANDARD')
  AND e.ps_supplycost = (SELECT MIN(ps_supplycost) FROM eu_ps m
                         WHERE m.ps_partkey = e.ps_partkey)
"""


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9-shaped: profit by supplier nation × order year for one part
    family — revenue minus supply cost, 5-table join through the derived
    partsupp."""
    register_sources(spark, sf_dir)
    li, o = spark.table("lineitem"), spark.table("orders")
    s, p, n = spark.table("supplier"), spark.table("part"), spark.table("nation")
    ps = _partsupp(spark)
    amount = _d12("l_extendedprice") * (_one12() - _d12("l_discount")) - _d12(
        "ps_supplycost"
    ) * _d12("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .filter(F.col("p_name").like("%widget%"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


O_TPCH_Q9 = f"""
WITH partsupp AS ({PARTSUPP_SQL})
SELECT n.n_name AS nation,
       CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))
                      - CAST(ps.ps_supplycost AS DECIMAL(12,2))
                        * CAST(l.l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
           AS sum_profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN partsupp ps ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(CAST(o.o_orderdate AS DATE))
"""


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11-shaped: stock value by part within one nation, keeping
    parts above a fraction of the national total — a HAVING against an
    uncorrelated scalar aggregate kept in-plan as a 1-row broadcast."""
    register_sources(spark, sf_dir)
    ps = _partsupp(spark)
    s = spark.table("supplier")
    n = spark.table("nation").filter(F.col("n_name") == "NATION_7")
    value = _d12("ps_supplycost") * F.col("ps_availqty").cast("decimal(12,0)")
    nat = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("v", value)
    )
    per_part = nat.groupBy("ps_partkey").agg(F.sum("v").alias("part_value"))
    # scale-free threshold (1.5x the mean per-part value) — a fixed share
    # of the national total goes vacuous as part cardinality grows
    total = per_part.agg(
        (F.sum("part_value").cast("double") / F.count(F.lit(1)) * 1.5).alias(
            "threshold"
        )
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select(
            "ps_partkey",
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


O_TPCH_Q11 = f"""
WITH partsupp AS ({PARTSUPP_SQL}),
nat AS (
    SELECT ps.ps_partkey,
           CAST(ps.ps_supplycost AS DECIMAL(12,2))
           * CAST(ps.ps_availqty AS DECIMAL(12,0)) AS v
    FROM partsupp ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
)
, per_part AS (
    SELECT ps_partkey, SUM(v) AS part_value FROM nat GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM per_part
WHERE part_value > (SELECT CAST(SUM(part_value) AS DOUBLE) / COUNT(*) * 1.5
                    FROM per_part)
"""


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16-shaped: supplier count per (brand, type, size) excluding a
    blacklisted supplier set — NOT IN as LEFT ANTI join, then
    COUNT DISTINCT per grouped dimension."""
    register_sources(spark, sf_dir)
    ps = _partsupp(spark)
    p = spark.table("part").filter(
        (F.col("p_brand") != "BRAND_1") & (F.col("p_size").isin(5, 10, 15, 20))
    )
    bad = spark.table("supplier").filter(F.col("s_name").like("%_3%")).select(
        F.col("s_suppkey").alias("ps_suppkey")
    )
    return (
        ps.join(bad, "ps_suppkey", "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


O_TPCH_Q16 = f"""
WITH partsupp AS ({PARTSUPP_SQL})
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps
JOIN part p ON ps.ps_partkey = p.p_partkey
WHERE p.p_brand != 'BRAND_1' AND p.p_size IN (5, 10, 15, 20)
  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%_3%')
GROUP BY p.p_brand, p.p_type, p.p_size
"""


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20-shaped: suppliers holding excess stock of a part family —
    nested IN subqueries decorrelated into semi joins against a per-
    (part,supplier) shipped-quantity aggregate."""
    register_sources(spark, sf_dir)
    ps = _partsupp(spark)
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = spark.table("part").filter(F.col("p_name").like("red%")).select(
        F.col("p_partkey").alias("ps_partkey")
    )
    s = spark.table("supplier")
    shipped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg((F.sum("l_quantity") * 0.5).alias("half_qty"))
    excess = (
        ps.join(F.broadcast(p), "ps_partkey", "left_semi")
        .join(shipped, ["ps_partkey", "ps_suppkey"])
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


O_TPCH_Q20 = f"""
WITH partsupp AS ({PARTSUPP_SQL})
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
    SELECT ps.ps_suppkey
    FROM partsupp ps
    JOIN (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 SUM(l_quantity) * 0.5 AS half_qty
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
          GROUP BY l_partkey, l_suppkey) sh
      ON ps.ps_partkey = sh.ps_partkey AND ps.ps_suppkey = sh.ps_suppkey
    WHERE ps.ps_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
      AND ps.ps_availqty > sh.half_qty
)
"""


# --------------------------------------------------------------------------
# registration
# --------------------------------------------------------------------------

PAIRS = [
    ("s01_scan_counts", q_s01_scan_counts, O_S01),
    ("p01_projection", q_p01_projection, O_P01),
    ("p02_literals", q_p02_literals, O_P02),
    ("p03_p04_filters", q_p03_p04_filters, O_P03),
    ("p05_not_ilike", q_p05_not_ilike, O_P05),
    ("p06_null_predicates", q_p06_null_predicates, O_P06),
    ("p07_in_list", q_p07_in_list, O_P07),
    ("p08_watermark_subquery", q_p08_watermark_subquery, O_P08),
    ("p09_compound_and", q_p09_compound_and, O_P09),
    ("p10_derived_filter", q_p10_derived_filter, O_P10),
    ("p11_notnull_gate", q_p11_notnull_gate, O_P11),
    ("j01_left_join_const_pred", q_j01_left_join_const_pred, O_J01),
    ("j02_left_join_single_key", q_j02_left_join_single_key, O_J02),
    ("j03_join_computed_key", q_j03_join_computed_key, O_J03),
    ("j04_distinct_before_join", q_j04_distinct_before_join, O_J04),
    ("j05_semi_anti", q_j05_semi_anti, O_J05),
    ("a01_a02_count_distinct", q_a01_a02_count_distinct, O_A01),
    ("a03_ungrouped_max", q_a03_ungrouped_max, O_A03),
    ("a04_ungrouped_counts", q_a04_ungrouped_counts, O_A04),
    ("a05_a06_ordinal_alias_group", q_a05_a06_ordinal_alias_group, O_A05),
    ("a07_distinct", q_a07_distinct, O_A07),
    ("w01_global_row_number", q_w01_global_row_number, O_W01),
    ("w02_argmax_per_group", q_w02_argmax_per_group, O_W02),
    ("u01_unpivot", q_u01_unpivot, O_U01),
    ("f_scalar_suite", q_f_scalar_suite, O_F),
    ("f_datetime_suite", q_f_datetime_suite, O_F_DATETIME),
    ("f_string_suite", q_f_string_suite, O_F_STRING),
    ("f_agg_suite", q_f_agg_suite, O_F_AGG),
    ("posexplode_outer_nulls", q_posexplode_outer, O_POSEXPLODE_OUTER),
    ("attribution_models", q_attribution_models, O_ATTRIBUTION),
    ("new_vs_returning", q_new_vs_returning, O_NEW_VS_RETURNING),
    ("tpch_q1", q_tpch_q1, O_TPCH_Q1),
    ("tpch_q3", q_tpch_q3, O_TPCH_Q3),
    ("tpch_q5", q_tpch_q5, O_TPCH_Q5),
    ("tpch_q6", q_tpch_q6, O_TPCH_Q6),
    ("tpch_q10", q_tpch_q10, O_TPCH_Q10),
    ("tpch_q14", q_tpch_q14, O_TPCH_Q14),
    ("tpch_q18", q_tpch_q18, O_TPCH_Q18),
    ("tpch_q4", q_tpch_q4, O_TPCH_Q4),
    ("tpch_q13", q_tpch_q13, O_TPCH_Q13),
    ("tpch_q17", q_tpch_q17, O_TPCH_Q17),
    ("tpch_q19", q_tpch_q19, O_TPCH_Q19),
    ("tpch_q22", q_tpch_q22, O_TPCH_Q22),
    ("tpch_q7", q_tpch_q7, O_TPCH_Q7),
    ("tpch_q8", q_tpch_q8, O_TPCH_Q8),
    ("tpch_q12", q_tpch_q12, O_TPCH_Q12),
    ("tpch_q15", q_tpch_q15, O_TPCH_Q15),
    ("tpch_q21", q_tpch_q21, O_TPCH_Q21),
    ("tpch_q2", q_tpch_q2, O_TPCH_Q2),
    ("tpch_q9", q_tpch_q9, O_TPCH_Q9),
    ("tpch_q11", q_tpch_q11, O_TPCH_Q11),
    ("tpch_q16", q_tpch_q16, O_TPCH_Q16),
    ("tpch_q20", q_tpch_q20, O_TPCH_Q20),
]

# queries whose oracle needs the derived snowplow-shaped CTEs
_NEEDS_VIEWS = {
    "p03_p04_filters": ["atomic_events"],
    "p05_not_ilike": ["atomic_events"],
    "p06_null_predicates": ["atomic_events"],
    "p07_in_list": ["atomic_events"],
    "p09_compound_and": ["atomic_events"],
    "p10_derived_filter": ["atomic_events"],
    "p11_notnull_gate": ["lead_stage_change_events"],
    "j03_join_computed_key": ["atomic_events", "campaign_spends"],
    "a07_distinct": ["lead_stage_change_events"],
    "f_scalar_suite": ["atomic_events"],
    "attribution_models": ["atomic_events", "lead_stage_change_events"],
    "new_vs_returning": ["atomic_events"],
}


def register_all(register) -> None:
    for name, fn, oracle in PAIRS:
        views = _NEEDS_VIEWS.get(name, [])
        register(name, fn, oracle_query(oracle, *views))

    from mycarely_saas_dbt_spark.operators import (
        approx,
        datatests,
        dedup,
        graph,
        joins,
        multimodal,
        olap,
        semistructured,
        similarity,
        textops,
    )
    from mycarely_saas_dbt_spark.sources import bucketing, formats, pydatasource, zorder

    olap.register_queries(register)
    joins.register_queries(register)
    approx.register_queries(register)
    datatests.register_queries(register)
    semistructured.register_queries(register)
    formats.register_queries(register)
    bucketing.register_queries(register)
    zorder.register_queries(register)
    pydatasource.register_queries(register)
    from mycarely_saas_dbt_spark import ivmqueries

    ivmqueries.register_queries(register)
    from mycarely_saas_dbt_spark.functions import udtfs

    udtfs.register_queries(register)
    textops.register_queries(register)
    textops.register_extra(register)
    dedup.register_queries(register)
    similarity.register_queries(register)
    multimodal.register_queries(register)
    graph.register_queries(register)

    from mycarely_saas_dbt_spark import runnerqueries, testing

    runnerqueries.register_queries(register)
    testing.register_queries(register)

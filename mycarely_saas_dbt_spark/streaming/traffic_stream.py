"""Structured Streaming variant of the traffic aggregations (SURVEY §2.8,
§7 M5 — extension work, not reference parity).

The reference's "streaming" is the incremental micro-batch pattern with no
late-data handling. This module is the native-streaming upgrade:

  * ``readStream`` over the events source (file source here; Kafka on a
    real deployment — same plan from the first transformation on);
  * the identical Snowplow derivation + bot scrub as the batch path
    (one definition, two runtimes);
  * tumbling 1-day event-time windows via ``F.window`` with
    ``withWatermark`` for bounded state + late-data tolerance (the batch
    pattern silently drops late rows; here they are merged for up to
    ``allowed_lateness``);
  * ``approx_count_distinct`` for unique visitors — exact COUNT(DISTINCT)
    is unsupported in streaming aggs, and at 100 TB the HLL sketch is what
    you would run anyway (configurable rsd);
  * ``foreachBatch`` MERGE into the parquet target by grain key — the same
    delete+insert upsert as the incremental runner, so each micro-batch
    revises previously emitted days in place.

Run with ``trigger(availableNow=True)`` for a drain-the-source batch test,
or no trigger for continuous micro-batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark.functions.dialect import epoch_seconds
from mycarely_saas_dbt_spark.plans.traffic_pages import filtered_page_views
from mycarely_saas_dbt_spark.sources.registry import _nanos_timestamp_cols, load_table
from mycarely_saas_dbt_spark.sources.synthetic import atomic_events_sql
from mycarely_saas_dbt_spark.util import await_or_raise

GRAIN = ["date", "company_domain", "page_urlpath"]


# --------------------------------------------------------------------------
# Exactly-once foreachBatch sinks — the ONE chokepoint every streaming
# writer in this module goes through (VERDICT r4 item 7), so a new
# operator cannot pick a non-replay-idempotent shape (plain append, blind
# overwrite of a shared dir) by accident.
#
# Structured Streaming's foreachBatch is at-least-once per micro-batch
# after a checkpoint restart; each semantics below makes a REPLAYED batch
# converge to the same target state:
#
#   * "merge"    (update mode):   delete+insert by `keys` against the
#     current target, staged write + swap — re-running a batch re-merges
#     the same keys to the same values. Local-fs stand-in for Delta
#     MERGE; the object-store-grade variant routes through the manifest
#     commit in incremental.py (incremental_merge_stream shows it live).
#   * "batch_dir" (append mode):  the batch id IS the commit identity —
#     write to target/batch_id=N with OVERWRITE, so a replayed batch
#     replaces its own directory instead of appending duplicates;
#     readers scan the parent dir.
#   * "snapshot" (complete mode): every batch carries the full result;
#     overwrite the target.
# --------------------------------------------------------------------------


def exactly_once_batch_writer(
    target: str,
    *,
    semantics: str,
    keys: list[str] | None = None,
    transform=None,
):
    """Return a replay-idempotent ``foreachBatch`` function (see the
    module-section comment above for the three semantics). ``transform``
    optionally maps the batch DataFrame before writing (e.g. the CMS
    partial-sketch fold)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        if semantics == "batch_dir":
            batch_df.write.mode("overwrite").parquet(
                os.path.join(target, f"batch_id={batch_id}")
            )
            return
        if semantics == "snapshot":
            batch_df.write.mode("overwrite").parquet(target)
            return
        if semantics != "merge":
            raise ValueError(f"unknown sink semantics: {semantics}")
        import shutil
        import uuid

        sp = batch_df.sparkSession
        if os.path.isdir(target):
            old = sp.read.parquet(target)
            merged = old.join(
                batch_df.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(batch_df)
        else:
            merged = batch_df
        tmp = f"{target}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        bak = f"{target}.bak-{uuid.uuid4().hex[:6]}"
        if os.path.isdir(target):
            os.rename(target, bak)
        os.rename(tmp, target)
        if os.path.isdir(bak):
            shutil.rmtree(bak)

    return write_batch


_SINK_OUTPUT_MODE = {"merge": "update", "batch_dir": "append", "snapshot": "complete"}


def start_exactly_once(
    df: DataFrame,
    target: str,
    *,
    semantics: str,
    keys: list[str] | None = None,
    transform=None,
    checkpoint: str | None = None,
    output_mode: str | None = None,
):
    """Start an availableNow stream through an exactly-once sink — the
    shared writeStream boilerplate (output mode is implied by the
    semantics unless overridden)."""
    return (
        df.writeStream.outputMode(output_mode or _SINK_OUTPUT_MODE[semantics])
        .foreachBatch(
            exactly_once_batch_writer(
                target, semantics=semantics, keys=keys, transform=transform
            )
        )
        .option("checkpointLocation", checkpoint or f"{target}.checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def _merge_upsert_sink(df: DataFrame, target: str, keys: list[str]):
    """foreachBatch MERGE sink shared by the streaming aggregations (the
    "merge" semantics of `start_exactly_once`)."""
    return start_exactly_once(df, target, semantics="merge", keys=keys)


def _repaired_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the raw events with the same *conditional*
    ns->µs repair as the batch registry (registry.load_table): the repair
    applies only to columns the on-disk footer declares TIMESTAMP(NANOS)
    (read as long under nanosAsLong). Current driver testdata is
    timestamp[us] (read natively as TIMESTAMP_NTZ) — no repair needed, and
    applying it unconditionally is a type error."""
    path = os.path.join(sf_dir, "events.parquet")
    # the file stream source watches a DIRECTORY; glob-filter to the events
    # table within the sf dir
    raw = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    for c in _nanos_timestamp_cols(path):
        raw = raw.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Event-time ops (withWatermark / window / session_window) require
    # TIMESTAMP, not TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    # Under the pinned UTC session tz the cast is value-preserving, so the
    # streaming results still hash-match the batch/DuckDB oracles.
    for f in raw.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            raw = raw.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return raw


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream of the raw events with the Snowplow derivation applied —
    identical column semantics to the batch registry's atomic_events view."""
    raw = _repaired_stream(spark, sf_dir)
    assert raw.schema["ts"].dataType.typeName() == "timestamp"
    raw.createOrReplaceTempView("events_stream_raw")
    return spark.sql(atomic_events_sql("events_stream_raw"))


def traffic_pages_stream(
    spark: SparkSession,
    sf_dir: str,
    target: str,
    *,
    allowed_lateness: str = "1 day",
    rsd: float = 0.02,
):
    """Streaming daily per-page traffic with upsert sink.

    Returns the StreamingQuery (caller awaits termination). Target layout
    matches the batch model grain: (date, company_domain, page_urlpath,
    total_visits, unique_visits_approx).
    """
    ev = filtered_page_views(events_stream(spark, sf_dir))
    agg = (
        ev.withWatermark("collector_tstamp", allowed_lateness)
        .groupBy(
            F.window("collector_tstamp", "1 day").alias("w"),
            F.col("app_id").alias("company_domain"),
            "page_urlpath",
        )
        .agg(
            F.count(F.lit(1)).alias("total_visits"),
            F.approx_count_distinct("domain_userid", rsd).alias(
                "unique_visits_approx"
            ),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "company_domain",
            "page_urlpath",
            "total_visits",
            "unique_visits_approx",
        )
    )

    return _merge_upsert_sink(agg, target, GRAIN)


def traffic_pages_stream_exact(
    spark: SparkSession,
    sf_dir: str,
    target_root: str,
    *,
    allowed_lateness: str = "1 day",
) -> DataFrame:
    """EXACT streaming daily per-page traffic (total + unique visitors).

    ``COUNT(DISTINCT)`` is unsupported in streaming aggregations, so exact
    uniques use the multi-stateful chain proven in ``dedup_daily_stream``:
    watermarked ``dropDuplicates`` on (day, grain, visitor) feeding a
    tumbling-window count — each visitor survives once per (day, page), so
    counting survivors IS the exact distinct count. Totals come from a plain
    windowed count over the same scrubbed stream. Both drain availableNow
    into merge sinks; the grain join afterwards assembles the final table
    (a left join — a grain whose only visitors are NULL has no uniques row,
    matching COUNT(DISTINCT)'s null-skip via COALESCE 0).

    Scale: two queries over the source, each one shuffle on the grain; the
    dedup state is bounded by the watermark (evicted once the day closes).
    The single-query HLL variant (``traffic_pages_stream``) stays the
    documented 100 TB default where a 2% rsd is acceptable; this exact
    variant is the oracle-checkable contract path.
    """
    ev = filtered_page_views(events_stream(spark, sf_dir)).select(
        "collector_tstamp",
        F.col("app_id").alias("company_domain"),
        "page_urlpath",
        "domain_userid",
    )
    totals = (
        ev.withWatermark("collector_tstamp", allowed_lateness)
        .groupBy(
            F.window("collector_tstamp", "1 day").alias("w"),
            "company_domain",
            "page_urlpath",
        )
        .agg(F.count(F.lit(1)).alias("total_visits"))
        .select(
            F.col("w.start").cast("date").alias("date"),
            "company_domain",
            "page_urlpath",
            "total_visits",
        )
    )
    uniq_src = ev.filter(F.col("domain_userid").isNotNull()).select(
        F.date_trunc("day", F.col("collector_tstamp")).alias("day_ts"),
        "company_domain",
        "page_urlpath",
        "domain_userid",
    )
    uniques = (
        uniq_src.withWatermark("day_ts", allowed_lateness)
        .dropDuplicates(["day_ts", "company_domain", "page_urlpath", "domain_userid"])
        .groupBy(
            F.window("day_ts", "1 day").alias("w"),
            "company_domain",
            "page_urlpath",
        )
        .agg(F.count(F.lit(1)).alias("unique_visits"))
        .select(
            F.col("w.start").cast("date").alias("date"),
            "company_domain",
            "page_urlpath",
            "unique_visits",
        )
    )
    t_tot = os.path.join(target_root, "totals")
    t_unq = os.path.join(target_root, "uniques")
    q1 = _merge_upsert_sink(totals, t_tot, GRAIN)
    q2 = _merge_upsert_sink(uniques, t_unq, GRAIN)
    await_or_raise(q1, 300)
    await_or_raise(q2, 300)
    return (
        spark.read.parquet(t_tot)
        .join(spark.read.parquet(t_unq), GRAIN, "left")
        .withColumn(
            "unique_visits", F.coalesce(F.col("unique_visits"), F.lit(0).cast("long"))
        )
        .select(*GRAIN, "total_visits", "unique_visits")
    )


# --------------------------------------------------------------------------
# streaming sessionization (native merging session windows)
# --------------------------------------------------------------------------

SESSION_GAP_S = 1800


def raw_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the raw driver events (repair as needed)."""
    return _repaired_stream(spark, sf_dir)


def sessionize_stream(spark: SparkSession, sf_dir: str, target: str):
    """Gap-based sessionization as a native streaming aggregation via
    F.session_window — the stateful-merge operator the batch lag/cumsum
    formulation (operators/olap.py q_sessionize_events) simulates.

    Exact batch parity: the batch rule starts a new session when the
    floored-second gap is STRICTLY > SESSION_GAP_S. session_window treats
    adjacent windows as mergeable (an event merges iff ts <= prev_ts + gap
    — verified empirically against the oracle), so on floor(ts) seconds a
    gap of exactly SESSION_GAP_S yields identical session boundaries, and
    the DuckDB oracle checks it.

    Scale: session_window keeps per-key merging state bounded by the
    watermark — one shuffle on user_id, state evicted once the watermark
    passes a session's close; this is the 100 TB path where the batch
    formulation's full-partition sort is replaced by incremental state.
    Sink note: session-window aggregation supports append (emit only
    watermark-finalized sessions) or complete output. Append would hold
    back every session the watermark hasn't passed — wrong for a
    drain-everything contract run — so this uses complete + overwrite:
    each micro-batch rewrites the full session table. A production
    deployment uses append mode with a lateness budget and lets the
    watermark finalize sessions continuously.
    """
    ev = raw_events_stream(spark, sf_dir).select(
        "user_id", F.timestamp_seconds(epoch_seconds("ts")).alias("tss")
    )
    agg = (
        ev.withWatermark("tss", "1 day")
        .groupBy(F.session_window("tss", f"{SESSION_GAP_S} seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("start_s"),
            (F.col("session_window.end").cast("long") - SESSION_GAP_S).alias("end_s"),
            "n_events",
        )
        .withColumn("duration_s", F.col("end_s") - F.col("start_s"))
    )

    return start_exactly_once(agg, target, semantics="snapshot")


# --------------------------------------------------------------------------
# streaming stateful dedup
# --------------------------------------------------------------------------


def dedup_stream(spark: SparkSession, sf_dir: str, target: str):
    """Streaming exact dedup on a content key via the stateful
    ``dropDuplicates`` operator — the streaming counterpart of the batch
    ``dedup_exact``: each (user_id, event_type) pair is emitted exactly
    once across ALL micro-batches (state keeps seen keys; with a watermark
    column in the key set, state for closed windows is evicted — here the
    key set is unbounded by design, matching the batch semantics, so a
    production run bounds it with dropDuplicatesWithinWatermark and a
    lateness budget).

    Sink writes each batch's first-seen rows into its own
    ``batch_id=N`` subdirectory with OVERWRITE — idempotent under
    micro-batch replay after a checkpoint restart (a re-run batch replaces
    its own directory instead of appending duplicates); readers of the
    parent directory see every distinct key exactly once — deterministic
    at the key level (which row carried it first is not), so the contract
    aggregates per-user distinct-type counts."""
    ev = raw_events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    deduped = ev.withWatermark("ts", "30 days").dropDuplicates(
        ["user_id", "event_type"]
    )

    return start_exactly_once(deduped, target, semantics="batch_dir")


# --------------------------------------------------------------------------
# stream-stream interval join
# --------------------------------------------------------------------------

INTERVAL_JOIN_MINUTES = 10


def interval_join_stream(spark: SparkSession, sf_dir: str, target: str):
    """Stream-stream INNER join with an event-time interval condition:
    each click joins the views by the same user in the preceding
    INTERVAL_JOIN_MINUTES. Both sides carry watermarks, and the time-range
    predicate bounds the join state — Spark buffers each side only until
    the watermark proves no more matches can arrive, the canonical bounded
    stream-stream join. One shuffle per side on user_id; state size is
    O(events within the interval + lateness window), independent of stream
    length."""
    views, clicks, cond = _interval_sides(
        raw_events_stream(spark, sf_dir), raw_events_stream(spark, sf_dir)
    )
    joined = views.join(clicks, cond).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id"
    )
    return start_exactly_once(joined, target, semantics="batch_dir")


def _interval_sides(ev_views: DataFrame, ev_clicks: DataFrame) -> tuple:
    """The interval joins' two watermarked sides and their join
    condition: views and clicks projected to (user, id, ts) with a
    1-hour watermark each, a click matching the same user's views in
    the preceding INTERVAL_JOIN_MINUTES."""
    views = (
        ev_views.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        ev_clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (
            F.col("c_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {INTERVAL_JOIN_MINUTES} MINUTES")
        )
    )
    return views, clicks, cond


def _sentinel_flushed_events(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The outer interval joins' event stream: the real events land as
    file batch 1, then TWO far-future sentinel batches (one view + one
    click each, negative user_id so they can never match real rows)
    advance both sides' watermarks past every real event. A batch runs
    under the watermark computed at the END of the previous one, so the
    first sentinel batch publishes the new watermark and the second runs
    under it and flushes all remaining outer state. One file per
    trigger; callers filter the sentinels (user_id < 0) from results."""
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    # MAX(ts) from the source parquet footer (exact, zero Spark jobs —
    # r15 guide §1.2); the aggregate stays as the stats-free fallback
    from mycarely_saas_dbt_spark.sources.registry import source_column_max

    hi = source_column_max(sf_dir, "events.parquet", "ts")
    if hi is None:
        hi = ev.agg(F.max("ts")).first()[0]

    def sentinel(uid: int, etype: str, days: int) -> DataFrame:
        return ev.limit(1).select(
            *[
                F.lit(uid).cast("long").alias(c)
                if c == "user_id"
                else F.lit(etype).alias(c)
                if c == "event_type"
                else (F.lit(hi) + F.expr(f"INTERVAL {days} DAYS")).alias(c)
                if c == "ts"
                else F.col(c)
                for c in ev.columns
            ]
        )

    batches = [
        ev,
        sentinel(-1, "view", 400).unionByName(sentinel(-2, "click", 400)),
        sentinel(-3, "view", 800).unionByName(sentinel(-4, "click", 800)),
    ]
    for i, df in enumerate(batches, start=1):
        tmp = os.path.join(workdir, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"batch{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _drain_real_rows(
    spark: SparkSession, joined: DataFrame, workdir: str
) -> DataFrame:
    """Run ``joined`` to completion into ``<workdir>/out`` and read back
    the real (non-sentinel) rows."""
    target = os.path.join(workdir, "out")
    q = start_exactly_once(
        joined,
        target,
        semantics="batch_dir",
        checkpoint=os.path.join(workdir, "ckpt"),
    )
    await_or_raise(q, 300)
    return spark.read.parquet(target).filter(F.col("user_id") >= 0)


# --------------------------------------------------------------------------
# chained stateful operators: dedup -> windowed aggregation in ONE query
# --------------------------------------------------------------------------


def dedup_daily_stream(spark: SparkSession, sf_dir: str, target: str):
    """TWO stateful operators chained in a single streaming query (Spark
    3.4+ multiple-stateful-operator support): watermarked dropDuplicates on
    (user_id, event_type, day-floored event time) feeding a tumbling 1-day
    window count — i.e. per-day distinct (user, type) activity, end to end
    in event time. Both operators share the same watermark; state for the
    dedup evicts as the watermark passes the day, so neither stage's state
    grows unboundedly — the composable-pipeline shape (dedup then
    aggregate) that would otherwise need two jobs and an intermediate
    table."""
    ev = raw_events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
    )
    deduped = ev.withWatermark("day_ts", "2 days").dropDuplicates(
        ["user_id", "event_type", "day_ts"]
    )
    agg = (
        deduped.groupBy(F.window("day_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_active_pairs"))
        .select(F.col("w.start").cast("date").alias("day"), "n_active_pairs")
    )

    return start_exactly_once(agg, target, semantics="merge", keys=["day"])


# --------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState
# --------------------------------------------------------------------------


def user_profile_stream(spark: SparkSession, sf_dir: str, target: str):
    """Custom arbitrary-state streaming operator via applyInPandasWithState
    — the escape hatch for stateful logic no built-in aggregation expresses
    (here: a per-user running profile carrying event count, value sum in
    cents, and the max event time across ALL micro-batches).

    Mechanics: events shuffle once on user_id; each group's Arrow batches
    flow into the pandas function together with that key's GroupState; the
    state tuple is read, folded with the batch, written back, and the
    updated profile is emitted every batch (update semantics). The final
    micro-batch therefore emits each user's complete profile — which is
    what the DuckDB oracle checks. State is a fixed-width tuple per user:
    bounded memory, linear shuffle, no driver involvement — the 100 TB
    shape for sessionization-class custom operators (a production variant
    adds a timeout to evict idle keys).

    Value is folded in integer (floored) CENTS: float addition order differs between
    per-batch folds and a single SQL SUM; integer addition is associative,
    so the result is byte-exact vs the oracle.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = raw_events_stream(spark, sf_dir).select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        epoch_seconds("ts").alias("ts_s"),
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        # GroupState.get is a PROPERTY in pyspark.sql.streaming.state —
        # calling it raises once a key actually carries state across
        # batches (latent until a multi-batch feed exercises the path)
        n, cents, max_ts = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
            max_ts = max(max_ts, int(pdf["ts_s"].max()))
        state.update((n, cents, max_ts))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "cents": [cents],
             "last_ts_s": [max_ts]}
        )

    prof = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, n_events bigint, cents bigint, last_ts_s bigint",
        stateStructType="n bigint, cents bigint, max_ts bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    # upsert by user_id: later batches revise earlier profiles
    return start_exactly_once(prof, target, semantics="merge", keys=["user_id"])


# --------------------------------------------------------------------------
# streaming ADMISSION CONTROL: per-source quota + quality gate
# --------------------------------------------------------------------------

ADM_QUOTA = 8          # max docs admitted per source, across ALL batches
ADM_MIN_CHARS = 250    # stateless quality gate (pre-state, narrow filter)
ADM_SPLIT_ID = 250     # micro-batch boundary: batch1 < split <= batch2


def admission_quota_stream(spark: SparkSession, sf_dir: str, workdir: str):
    """Streaming corpus ADMISSION CONTROL — the ingestion-side guard a
    training-data pipeline runs in front of the lake: a stateless quality
    gate (min doc length) drops junk before any state is touched, then a
    per-source QUOTA admits at most ADM_QUOTA documents per source across
    the whole stream (the anti-domination rule `domain_cap_sample`
    applies in batch, enforced here at ingest time so over-quota docs are
    never even persisted).

    Mechanics: docs shuffle once on source; each source's GroupState
    carries ONE bigint (admitted-so-far). Within a micro-batch the fold
    admits in ascending doc_id order; the feed splits batches BY doc_id,
    so the admission order is globally deterministic (batch order ==
    doc_id order) and the DuckDB oracle is a plain quality-filtered
    ROW_NUMBER <= quota. Only newly-admitted rows are emitted (append
    mode) through the batch_dir exactly-once sink — a replayed batch
    overwrites its own commit dir, never double-admits.

    100 TB shape: state is ONE counter per source (bounded by the source
    catalog, not the corpus); the gate runs pre-shuffle so rejected docs
    never exchange; admitted output is append-only. A production variant
    adds a ProcessingTimeTimeout to expire idle sources and a per-window
    key (source, day) for rolling quotas — same operator, wider key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    f1 = docs.filter(F.col("doc_id") < ADM_SPLIT_ID)
    f2 = docs.filter(F.col("doc_id") >= ADM_SPLIT_ID)
    for i, df in enumerate((f1, f2), start=1):
        tmp = os.path.join(workdir, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"batch{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    gated = stream.filter(F.col("n_chars") >= ADM_MIN_CHARS)

    def admit(key, pdfs, state: GroupState):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)  # .get is a property
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        take = rows.iloc[: max(0, ADM_QUOTA - n)]
        if len(take):
            yield pd.DataFrame(
                {
                    "source": take["source"].to_numpy(),
                    "doc_id": take["doc_id"].to_numpy(),
                    "admit_seq": pd.RangeIndex(n + 1, n + 1 + len(take)).to_numpy(),
                }
            )
        state.update((n + len(take),))

    admitted = gated.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType="source string, doc_id bigint, admit_seq bigint",
        stateStructType="n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    target = os.path.join(workdir, "admitted")
    return start_exactly_once(admitted, target, semantics="batch_dir")


# --------------------------------------------------------------------------
# watermark semantics: late-data drop, proven by differential test
# --------------------------------------------------------------------------

LATE_SPLIT = "2024-01-16"     # file1: ts < SPLIT; file2: the rest + replays
LATE_REPLAY_BEFORE = "2024-01-06"   # replayed (late) rows: days 1-5
LATENESS = "2 days"


def late_drop_stream(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    """Three-micro-batch run proving watermark late-data semantics.

    Batch 1 (days < LATE_SPLIT) advances the watermark to
    max(ts) - LATENESS ≈ Jan 13; batch 2 is the on-time remainder. Batch 3
    replays days 1-5 with negated event_ids — rows that would double those
    days' counts if accepted. Their windows closed far below the watermark,
    so the streaming aggregation must drop every one of them; the oracle is
    simply the per-day count over the ORIGINAL events. If a regression ever
    admits the late rows, the day counts double and the hash compare fails.

    The replay ships in its own third batch because a watermark update
    commits at a batch boundary and becomes operative for input filtering
    one batch later (verified empirically: a replay sharing the batch that
    follows the watermark-advancing one is still admitted).

    This is the reference's incremental semantic (late rows for processed
    days silently dropped, SURVEY §2.8) upgraded to event-time processing
    with an explicit, bounded lateness budget.
    """
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    # withWatermark needs TIMESTAMP (not NTZ); UTC session tz keeps values.
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    f1 = ev.filter(F.col("ts") < LATE_SPLIT)
    f2 = ev.filter(F.col("ts") >= LATE_SPLIT)
    f3 = ev.filter(F.col("ts") < LATE_REPLAY_BEFORE).withColumn(
        "event_id", -F.col("event_id")
    )
    for i, df in enumerate((f1, f2, f3), start=1):
        tmp = os.path.join(workdir, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"batch{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch, in
        .parquet(src)                     # modification-time order
    )
    agg = (
        stream.withWatermark("ts", LATENESS)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("date").alias("day"), "n_events")
    )

    target = os.path.join(workdir, "daily")

    q = start_exactly_once(
        agg, target, semantics="merge", keys=["day"],
        checkpoint=os.path.join(workdir, "ckpt"),
    )
    await_or_raise(q, 300)
    return spark.read.parquet(target)


# --------------------------------------------------------------------------
# streaming -> partition-pruned incremental merge (the r4 write path, live)
# --------------------------------------------------------------------------

def incremental_merge_stream(
    spark: SparkSession, sf_dir: str, workdir: str, n_slices: int = 3
) -> DataFrame:
    """Streaming aggregation sunk through the PARTITION-PRUNED incremental
    merge writer — the production shape where micro-batches land in a
    date-partitioned 100 TB table and each commit rewrites only the date
    partitions that batch touched.

    The source is staged into ``n_slices`` TIME-ORDERED files consumed one
    per micro-batch (maxFilesPerTrigger=1) — realistic arrival order, so
    the 1-day watermark never drops a row (a batch's rows always belong to
    day-windows ending after the previous batch's watermark). The time
    cuts fall mid-day, so boundary days straddle two batches and their
    partitions get a REAL update-merge, not just an insert: the streaming
    agg re-emits updated grain rows (update mode), the sink
    surrogate-keys them and hands them to
    ``IncrementalRunner._partitioned_merge_write`` — stage, prune the
    target scan to touched partitions, delete+insert by key, swap only
    those partition dirs. Idempotent under micro-batch replay (same keys
    re-merge to the same values). Oracle: the plain batch GROUP BY over
    all events.
    """
    from mycarely_saas_dbt_spark.functions.dialect import surrogate_key
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    cuts = [lo + span * i / n_slices for i in range(1, n_slices)]
    bounds = [None, *cuts, None]
    for i in range(n_slices):
        sl = ev
        if bounds[i] is not None:
            sl = sl.filter(F.col("ts") >= F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            sl = sl.filter(F.col("ts") < F.lit(bounds[i + 1]))
        tmp = os.path.join(workdir, f"tmp{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    for f in raw.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            raw = raw.withColumn(f.name, F.col(f.name).cast("timestamp"))
    raw.createOrReplaceTempView("merge_stream_raw")
    ev_stream = spark.sql(atomic_events_sql("merge_stream_raw"))
    totals = (
        filtered_page_views(ev_stream)
        .withWatermark("collector_tstamp", "1 day")
        .groupBy(
            F.window("collector_tstamp", "1 day").alias("w"),
            F.col("app_id").alias("company_domain"),
            "page_urlpath",
        )
        .agg(F.count(F.lit(1)).alias("total_visits"))
        .select(
            F.col("w.start").cast("date").alias("date"),
            "company_domain",
            "page_urlpath",
            "total_visits",
        )
    )

    runner = IncrementalRunner(spark, os.path.join(workdir, "tgt"))
    spec = ModelSpec(
        "stream_tp_totals", "id", "date", build=None, partition_by=["date"]
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.withColumn(
            "id", surrogate_key("date", "company_domain", "page_urlpath")
        )
        if runner.target_exists(spec.name):
            runner._partitioned_merge_write(
                spec, runner.read_target(spec.name), new
            )
        else:
            runner._atomic_write(spec, new)

    q = (
        totals.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return runner.read_target(spec.name).select(
        "date", "company_domain", "page_urlpath", "total_visits"
    )


def cdc_apply_stream(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """Streaming CDC apply (Delta CDF consumer / DLT APPLY CHANGES over a
    stream; r7): an op-coded change stream — bootstrap inserts, then
    inserts+updates, then deletes, staged as three time-ordered files
    consumed one per micro-batch — is applied to a partitioned manifest
    target through the TOMBSTONE-aware merge. Each micro-batch
    latest-wins-dedupes its own rows by sequence number, maps op 'D' to
    the tombstone flag, and hands one merge to the incremental runner:
    upserts insert, tombstones hard-delete, only touched status
    partitions rewrite. Idempotent under micro-batch replay (re-merging
    the same keys converges; a replayed delete is a no-op anti-join).
    The final state must equal the BATCH latest-wins apply — the same
    oracle as cdc_apply_changes."""
    from pyspark.sql import Window

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    boot = (
        o.filter(F.col("o_orderkey") % 4 != 3)
        .select(*cols)
        .withColumn("seq", F.lit(0))
        .withColumn("op", F.lit("I"))
    )
    ins = (
        o.filter(F.col("o_orderkey") % 4 == 3)
        .select(*cols)
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("I"))
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
        .withColumn("op", F.lit("U"))
    )
    dele = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(*cols)
        .withColumn("seq", F.lit(3))
        .withColumn("op", F.lit("D"))
    )

    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    slices = [boot, ins.unionByName(upd), dele]
    for i, sl in enumerate(slices):
        tmp = os.path.join(workdir, f"tmp{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    feed = (
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    runner = IncrementalRunner(spark, os.path.join(workdir, "tgt"))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*cols, (F.col("op") == "D").alias("__deleted"))
        )
        runner.run(
            ModelSpec(
                "cdc_stream_target",
                "o_orderkey",
                "o_orderkey",
                lambda sp, sfd, wm: latest,
                partition_by=["o_orderstatus"],
                tombstone_col="__deleted",
            ),
            sf_dir,
        )

    q = (
        feed.writeStream.outputMode("append")
        .foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return runner.read_target("cdc_stream_target").select(*cols)


# --------------------------------------------------------------------------
# streaming count-min sketch (additive state, exactly-once via batch dirs)
# --------------------------------------------------------------------------

def cms_stream(spark: SparkSession, sf_dir: str, workdir: str, n_slices: int = 3):
    """Streaming count-min sketch: each micro-batch computes its own
    DEPTH x WIDTH partial sketch and writes it to a batch_id-named subdir
    — a replayed batch OVERWRITES its own dir instead of appending, so
    the sink is exactly-once without a transactional store (the additive
    merge that would double-count on replay is deferred to read time,
    where summing per-batch partials is linear-counter algebra). The
    read-back folds all partials into the final sketch, which must equal
    the oracle's single-pass batch sketch — the streaming half of the
    mergeability proof in `cms_heavy_hitters`.

    Scale: per-batch state is 1024 counters regardless of stream volume;
    the fold at read is a groupBy over n_batches x 1024 tiny rows."""
    from mycarely_saas_dbt_spark.operators.approx import (
        CMS_DEPTH,
        _cms_bucket,
    )

    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())  # NULL-key spec parity (see
        .select("event_id", F.col("user_id").cast("string").alias("u"))
    )  # operators.approx.q_cms_heavy_hitters)
    for i in range(n_slices):
        sl = ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(n_slices)) == i)
        tmp = os.path.join(workdir, f"tmp{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = os.path.join(workdir, "sketch")

    def fold_partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.posexplode(
                    F.array(*[_cms_bucket(r, "u") for r in range(CMS_DEPTH)])
                ).alias("row", "bucket")
            )
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    q = start_exactly_once(
        stream, target, semantics="batch_dir", transform=fold_partial,
        checkpoint=os.path.join(workdir, "ckpt"),
    )
    await_or_raise(q, 300)
    return (
        spark.read.parquet(target)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )


# --------------------------------------------------------------------------
# stream-static enrichment join
# --------------------------------------------------------------------------

def enrich_stream(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    """Stream-STATIC join — the dimension-enrichment shape missing from
    the stream-stream interval join: each micro-batch of the event
    stream joins a static dimension table (broadcast hash join inside
    the batch — no streaming state at all, the planner treats the dim
    as a local relation), then feeds a watermarked daily count per
    dimension attribute. At 100 TB the dim is the broadcast side and the
    stream never shuffles for the join; only the windowed agg keys do.
    Oracle: the identical batch join+rollup."""
    ev = load_table(spark, sf_dir, "events")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("nk"),
            F.col("n_name").alias("nation"),
        )
    )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    for f in stream.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    enriched = stream.withColumn("nk", F.pmod("user_id", F.lit(25))).join(
        nation, "nk"
    )
    agg = (
        enriched.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "nation")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("date").alias("day"), "nation", "n_events"
        )
    )
    target = os.path.join(workdir, "enriched")
    q = _merge_upsert_sink(agg, target, ["day", "nation"])
    await_or_raise(q, 300)
    return spark.read.parquet(target)


# --------------------------------------------------------------------------
# bounded-state streaming dedup (dropDuplicatesWithinWatermark)
# --------------------------------------------------------------------------

def dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the BOUNDED-STATE streaming
    dedup (Spark 3.5+): a key's state lives only for the watermark delay
    after first sight, instead of forever (`dropDuplicates`' unbounded
    key set — the state-size liability `dedup_stream`'s docstring
    flags). The contract this entry proves: duplicates arriving WITHIN
    the lateness budget of the original are dropped.

    Fixture: the source is staged in two time-ordered slices, the second
    of which REPLAYS every event of the first (same event_id, same ts).
    All replays arrive within the 30-day budget of their originals, so
    the deduped stream must equal the distinct original — per-day event
    counts hash-match the batch DISTINCT oracle."""
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    if ev.schema["ts"].dataType.typeName() == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2
    f1 = ev.filter(F.col("ts") < F.lit(cut))
    f2 = ev.filter(F.col("ts") >= F.lit(cut)).unionByName(f1)  # replays ride along
    for i, df in enumerate((f1, f2), start=1):
        tmp = os.path.join(workdir, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        dst = os.path.join(src, f"batch{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000000000 + i * 1000, 1000000000 + i * 1000))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    daily = deduped.select(F.col("ts").cast("date").alias("day"))

    target = os.path.join(workdir, "out")

    q = start_exactly_once(
        daily, target, semantics="batch_dir",
        checkpoint=os.path.join(workdir, "ckpt"),
    )
    await_or_raise(q, 300)
    return (
        spark.read.parquet(target)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def interval_left_join_stream(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the outer-emission
    semantics the inner `interval_join_stream` doesn't exercise: an
    unmatched view is held in state until BOTH watermarks prove no
    matching click can still arrive, then emitted once with NULL click.

    Outer emission is watermark-driven and a batch's watermark is the one
    computed at the END of the previous batch, so a single availableNow
    drain of one file would finish with every unmatched view still stuck
    in state; the `_sentinel_flushed_events` fixture follows the real
    events with two far-future sentinel batches that flush it.
    Sentinels are filtered from the result; per-user
    (n_pairs, n_unmatched) hash-match the batch LEFT JOIN oracle — an
    EXACT check that every unmatched view was emitted exactly once."""
    stream = _sentinel_flushed_events(spark, sf_dir, workdir)
    views, clicks, cond = _interval_sides(stream, stream)
    joined = views.join(clicks, cond, "leftOuter").select(
        F.col("v_user").alias("user_id"), "view_id", "click_id"
    )
    return (
        _drain_real_rows(spark, joined, workdir)
        .groupBy("user_id")
        .agg(
            F.count("click_id").alias("n_pairs"),
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
    )



def interval_full_join_stream(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join matrix (inner ✓, left-outer ✓): BOTH sides' unmatched rows are
    held in state until the opposite watermark proves no partner can
    arrive, then emitted once with NULLs. Same sentinel-flush fixture
    (`_sentinel_flushed_events`) as `interval_left_join_stream`.
    Per-user (n_pairs,
    n_view_unmatched, n_click_unmatched) hash-match the batch FULL JOIN
    oracle — the exact both-sides-emitted-once check."""
    stream = _sentinel_flushed_events(spark, sf_dir, workdir)
    views, clicks, cond = _interval_sides(stream, stream)
    joined = views.join(clicks, cond, "fullOuter").select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "view_id",
        "click_id",
    )
    return (
        _drain_real_rows(spark, joined, workdir)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("view_id").isNotNull() & F.col("click_id").isNotNull(), 1
                ).otherwise(0)
            ).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("click_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_view_unmatched"),
            F.sum(F.when(F.col("view_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_click_unmatched"),
        )
    )


def tws_available() -> bool:
    """True when transformWithStateInPandas can actually run here: its
    JVM<->Python worker protocol requires the `protobuf` package."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_profile_tws_stream(spark: SparkSession, sf_dir: str, target: str):
    """The SAME per-user running profile as ``user_profile_stream`` built
    on Spark 4's ``transformWithStateInPandas`` — the successor API to
    applyInPandasWithState: typed named state handles (ValueState here;
    ListState/MapState/timers available) managed by the RocksDB state
    store instead of one opaque tuple. Same integer-cents folding, same
    sink, same batch-aggregation oracle — the two APIs are hash-checked
    against each other through the shared oracle.

    CONTAINER-GATED (like the PIL image decode): the TWS Python worker
    speaks protobuf to the JVM and this container ships no `protobuf`
    package (re-checked round 5 — `import google.protobuf` fails), so the
    stream crashes at worker init. The guard below raises the documented
    error instead; the pytest contract runs the full oracle compare the
    moment the environment gains protobuf."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs the `protobuf` package "
            "(its Python worker protocol); not installed in this container"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = raw_events_stream(spark, sf_dir).select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        epoch_seconds("ts").alias("ts_s"),
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "profile", "n bigint, cents bigint, max_ts bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, cents, max_ts = (
                self._state.get() if self._state.exists() else (0, 0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
                max_ts = max(max_ts, int(pdf["ts_s"].max()))
            self._state.update((n, cents, max_ts))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "cents": [cents],
                    "last_ts_s": [max_ts],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        prof = ev.groupBy("user_id").transformWithStateInPandas(
            ProfileProcessor(),
            outputStructType=(
                "user_id bigint, n_events bigint, cents bigint, last_ts_s bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
        q = start_exactly_once(prof, target, semantics="merge", keys=["user_id"])
        await_or_raise(q, 300)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    return q

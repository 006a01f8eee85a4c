"""Two-batch incremental correctness: watermark slicing, unique-key upsert
(delete+insert), late-data drop, and the reference's B1 row_number-id
collision semantics — all differentially checked against DuckDB."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_df_matches_oracle

SPLIT = dt.date(2024, 1, 15)


@pytest.fixture()
def target_root(tmp_path):
    p = str(tmp_path / "target")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _tp_batch1_spec():
    """TP restricted to events <= SPLIT — simulates the first load."""
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def build(spark, sf_dir, wm):
        register_sources(spark, sf_dir)
        ev = spark.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_pages_agg(spark, sf_dir, events=ev, watermark=wm)

    return ModelSpec(
        name="traffic_pages_agg", unique_key="id", watermark_col="date", build=build
    )


def test_two_batch_upsert_matches_oracle(spark, duck, target_root):
    """Run batch1 (<=SPLIT), then an incremental run over the full source,
    on the engine-default hash (surrogate-key) ids. Expected final state:
    b1 rows not re-emitted by b2, plus all b2 rows (strictly-after-watermark
    slice; late rows for processed days dropped). With grain-derived ids the
    two batches are id-disjoint (date is in the grain), so nothing is
    overwritten — the B1 fix.
    """
    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)

    s1 = runner.run(_tp_batch1_spec(), SF_DIR)
    assert s1["mode"] == "full"
    wm = runner.watermark("traffic_pages_agg", "date")
    assert wm == SPLIT  # events exist on the split day

    s2 = runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    assert s2["mode"] == "incremental"
    assert s2["watermark"] == str(SPLIT)

    b1 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'", id_strategy="hash"
    )
    b2 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'", id_strategy="hash"
    )
    expected = f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """
    assert_df_matches_oracle(runner.read_target("traffic_pages_agg"), duck, expected)

    # Hash ids are grain-derived and the batches split on date (a grain
    # column), so no upsert collisions: the final state is the full union.
    n_b1 = duck.execute(f"SELECT COUNT(*) FROM ({b1})").fetchone()[0]
    n_final = runner.read_target("traffic_pages_agg").count()
    n_b2 = duck.execute(f"SELECT COUNT(*) FROM ({b2})").fetchone()[0]
    assert n_final == n_b1 + n_b2


def test_b1_row_number_collision_semantics(spark, duck, target_root):
    """Reference-parity regression (B1, SURVEY §2.12): with
    id_strategy='row_number' — the reference's global ROW_NUMBER ids
    (models/traffic_pages_agg.sql:60) — batch2 ids restart at 1 and collide
    with batch1 ids, so the delete+insert upsert overwrites unrelated old
    rows. Deliberately preserved behind the non-default strategy."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def b1_build(spark_, sf_dir, wm):
        register_sources(spark_, sf_dir)
        ev = spark_.table("atomic_events").filter(
            F.col("collector_tstamp").cast("date") <= F.lit(SPLIT)
        )
        return traffic_pages_agg(
            spark_, sf_dir, events=ev, watermark=wm, id_strategy="row_number"
        )

    def b2_build(spark_, sf_dir, wm):
        return traffic_pages_agg(spark_, sf_dir, watermark=wm, id_strategy="row_number")

    runner = IncrementalRunner(spark, target_root)
    runner.run(
        ModelSpec("traffic_pages_agg", "id", "date", b1_build), SF_DIR
    )
    runner.run(ModelSpec("traffic_pages_agg", "id", "date", b2_build), SF_DIR)

    b1 = tp.oracle_sql(f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'")
    b2 = tp.oracle_sql(f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'")
    expected = f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """
    assert_df_matches_oracle(runner.read_target("traffic_pages_agg"), duck, expected)

    # B1 really bites: batch2 ids collide with batch1 ids, so some old rows
    # were overwritten (the reference bug we deliberately preserve).
    n_b1 = duck.execute(f"SELECT COUNT(*) FROM ({b1})").fetchone()[0]
    n_final = runner.read_target("traffic_pages_agg").count()
    n_b2 = duck.execute(f"SELECT COUNT(*) FROM ({b2})").fetchone()[0]
    assert n_final < n_b1 + n_b2  # collisions removed old rows


def test_idempotent_rerun_and_late_data_drop(spark, target_root):
    """A second incremental run with no new data must be a no-op (all
    candidate days <= watermark are filtered out)."""
    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    before = runner.read_target("traffic_pages_agg").toPandas()
    stats = runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    # partitioned target + no new data -> pruned path rewrites 0 partitions
    assert stats["mode"] == "incremental-pruned"
    assert stats["partitions_rewritten"] == 0
    after = runner.read_target("traffic_pages_agg").toPandas()
    cols = sorted(before.columns)
    assert before[cols].sort_values(cols, ignore_index=True).equals(
        after[cols].sort_values(cols, ignore_index=True)
    )


def test_full_refresh_equals_oneshot(spark, duck, target_root):
    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(_tp_batch1_spec(), SF_DIR)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR, full_refresh=True)
    assert_df_matches_oracle(
        runner.read_target("traffic_pages_agg"), duck,
        tp.oracle_sql(id_strategy="hash"),
    )


def _schevo_specs(spark, with_col: bool, mode: str):
    """Per-day count model; batch2 optionally adds/drops the n_users col."""
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def build(sp, sfd, wm):
        aggs = [F.count(F.lit(1)).alias("n_events")]
        if with_col:
            aggs.append(F.countDistinct("user_id").alias("n_users"))
        out = ev.groupBy(day).agg(*aggs)
        return out.filter(F.col("day") > F.lit(wm)) if wm else out

    return ModelSpec("daily_counts", "day", "day", build, on_schema_change=mode)


def test_on_schema_change_fail_and_ignore(spark, target_root):
    import pytest as _pytest

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, target_root)
    runner.run(_schevo_specs(spark, with_col=False, mode="ignore"), SF_DIR)

    # fail: any drift raises
    with _pytest.raises(RuntimeError, match="on_schema_change='fail'"):
        runner.run(_schevo_specs(spark, with_col=True, mode="fail"), SF_DIR)

    # ignore (dbt default): the new column is silently not added
    runner.run(_schevo_specs(spark, with_col=True, mode="ignore"), SF_DIR)
    assert runner.read_target("daily_counts").columns == ["day", "n_events"]


def test_on_schema_change_sync_drops_removed(spark, target_root):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, target_root)
    runner.run(_schevo_specs(spark, with_col=True, mode="ignore"), SF_DIR)
    # model drops n_users; sync_all_columns drops it from the target too
    runner.run(
        _schevo_specs(spark, with_col=False, mode="sync_all_columns"), SF_DIR
    )
    assert runner.read_target("daily_counts").columns == ["day", "n_events"]


def test_merge_exclude_columns_preserve_old_values(spark, target_root):
    """dbt merge_exclude_columns: a re-emitted key keeps the target's old
    value (even NULL) for excluded columns; brand-new keys take the
    build's value."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b1(sp, sfd, wm):
        return (
            ev.filter(F.col("ts").cast("date") <= F.lit(SPLIT))
            .groupBy(day)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("first_batch", F.lit(1))
        )

    def b2(sp, sfd, wm):
        # re-emit EVERYTHING (ignore wm) with revised n and batch tag 2
        return (
            ev.groupBy(day)
            .agg((F.count(F.lit(1)) + 1000).alias("n"))
            .withColumn("first_batch", F.lit(2))
        )

    runner = IncrementalRunner(spark, target_root)
    runner.run(ModelSpec("d", "day", "day", b1), SF_DIR)
    runner.run(
        ModelSpec("d", "day", "day", b2, merge_exclude_columns=["first_batch"]),
        SF_DIR,
    )
    out = runner.read_target("d")
    # every row took batch 2's revised metric...
    assert out.filter(F.col("n") < 1000).count() == 0
    # ...but re-emitted keys kept first_batch=1; only new keys show 2
    old_days = out.filter(F.col("day") <= F.lit(SPLIT))
    new_days = out.filter(F.col("day") > F.lit(SPLIT))
    assert old_days.filter(F.col("first_batch") != 1).count() == 0
    assert new_days.filter(F.col("first_batch") != 2).count() == 0


def test_model_contract_enforced(spark, target_root):
    """dbt model contracts: the built schema must match the declaration
    exactly or the run fails before writing anything."""
    import pytest as _pytest

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")

    def build(sp, sfd, wm):
        return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )

    runner = IncrementalRunner(spark, target_root)
    good = {"day": "date", "n": "bigint"}
    runner.run(ModelSpec("d", "day", "day", build, contract=good), SF_DIR)

    bad = {"day": "date", "n": "int"}  # wrong type
    with _pytest.raises(RuntimeError, match="contract violation"):
        runner.run(ModelSpec("d", "day", "day", build, contract=bad), SF_DIR)
    # nothing was written by the failed run
    import os

    assert not [p for p in os.listdir(target_root) if p.startswith("d.tmp")]


def test_run_observed_collects_metrics_on_write_pass(spark, target_root):
    """Observation metrics ride the materialization scan: rows + per-column
    null counts arrive without re-reading the output."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")

    def build(sp, sfd, wm):
        return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )

    runner = IncrementalRunner(spark, target_root)
    stats, metrics = runner.run_observed(ModelSpec("d", "day", "day", build), SF_DIR)
    assert metrics["rows"] == stats["rows_written"] > 0
    assert metrics["nulls_day"] == 0 and metrics["nulls_n"] == 0


def test_incremental_predicates_limit_delete_scope(spark, target_root):
    """dbt incremental_predicates: the delete-side of the upsert scans only
    the predicate slice of the target. A predicate covering everything the
    new batch re-emits gives the normal upsert; a too-narrow predicate
    leaves stale rows in place next to their replacements — dbt's
    documented footgun, asserted here so the semantics stay pinned."""
    import datetime as _dt

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b_full(sp, sfd, wm):
        return ev.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    def b_revised(sp, sfd, wm):
        return (
            ev.filter(F.col("ts").cast("date") > F.lit(SPLIT))
            .groupBy(day)
            .agg((F.count(F.lit(1)) + 1000).alias("n"))
        )

    # correct use: predicate covers the re-emitted range
    runner = IncrementalRunner(spark, target_root + "/ok")
    runner.run(ModelSpec("d", "day", "day", b_full), SF_DIR)
    runner.run(
        ModelSpec(
            "d", "day", "day", b_revised,
            incremental_predicates=[f"day > DATE '{SPLIT}'"],
        ),
        SF_DIR,
    )
    out = runner.read_target("d")
    assert out.filter(F.col("day") > F.lit(SPLIT)).filter(F.col("n") < 1000).count() == 0
    assert out.filter(F.col("day") <= F.lit(SPLIT)).filter(F.col("n") >= 1000).count() == 0
    assert out.groupBy("day").count().filter(F.col("count") > 1).count() == 0

    # footgun: predicate narrower than the re-emitted range -> stale rows
    # survive beside their replacements for the uncovered days
    narrow_from = SPLIT + _dt.timedelta(days=8)
    runner2 = IncrementalRunner(spark, target_root + "/narrow")
    runner2.run(ModelSpec("d", "day", "day", b_full), SF_DIR)
    runner2.run(
        ModelSpec(
            "d", "day", "day", b_revised,
            incremental_predicates=[f"day > DATE '{narrow_from}'"],
        ),
        SF_DIR,
    )
    dups = (
        runner2.read_target("d")
        .filter((F.col("day") > F.lit(SPLIT)) & (F.col("day") <= F.lit(narrow_from)))
        .groupBy("day")
        .count()
        .filter(F.col("count") != 2)
        .count()
    )
    assert dups == 0  # every uncovered re-emitted day has exactly old+new


def test_compaction_preserves_content_and_shrinks_file_count(
    spark, target_root, monkeypatch
):
    """After incremental runs fragment the target into shuffle.partitions
    files, compact() must rewrite it to the byte-size-derived file count
    with identical content."""
    import dataclasses
    import os

    from mycarely_saas_dbt_spark import incremental as inc

    # the premise is a FRAGMENTED target; the r14 rebalance-clustered
    # write already lands one file — pin the raw layout for the fixture
    monkeypatch.setenv("MYCARELY_WRITE_REBALANCE", "0")

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(_tp_batch1_spec(), SF_DIR)
    # unpartitioned variant: flat-layout compaction (partitioned layout is
    # covered by test_compaction_preserves_partition_layout)
    runner.run(
        dataclasses.replace(inc.TRAFFIC_PAGES_SPEC, partition_by=[]), SF_DIR
    )
    path = runner.target_path("traffic_pages_agg")

    def live_files():
        # LIVE files per the committed manifest — vacuum retention keeps
        # superseded versions' files on disk for time travel, so raw
        # directory listings over-count
        m = runner.current_manifest("traffic_pages_agg")
        return [f for fl in m["partitions"].values() for f in fl]

    before_files = len(live_files())
    before = runner.read_target("traffic_pages_agg").toPandas()
    stats = runner.compact("traffic_pages_agg")
    after_files = len(live_files())
    assert after_files == stats["files"] == 1  # tiny table -> one 128MB file
    assert after_files < before_files
    after = runner.read_target("traffic_pages_agg").toPandas()
    cols = sorted(before.columns)
    assert before[cols].sort_values(cols, ignore_index=True).equals(
        after[cols].sort_values(cols, ignore_index=True)
    )


def test_compaction_preserves_partition_layout(spark, target_root):
    """Compacting a date-partitioned target must keep the date=... dirs."""
    import os

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg

    runner = IncrementalRunner(spark, target_root)
    runner.run(
        ModelSpec(
            "traffic_pages_agg", "id", "date",
            lambda sp, sfd, wm: traffic_pages_agg(sp, sfd, watermark=wm),
            partition_by=["date"],
        ),
        SF_DIR,
    )
    path = runner.target_path("traffic_pages_agg")
    before = runner.read_target("traffic_pages_agg").toPandas()
    runner.compact("traffic_pages_agg")
    assert any(d.startswith("date=") for d in os.listdir(path))
    after = runner.read_target("traffic_pages_agg").toPandas()
    cols = sorted(before.columns)
    assert before[cols].sort_values(cols, ignore_index=True).equals(
        after[cols].sort_values(cols, ignore_index=True)
    )


def test_snapshot_rerun_without_changes_is_noop(spark, target_root):
    """SCD2 snapshot (check strategy): a third run over an unchanged source
    must not close or insert any version — same rows, byte for byte."""
    import datetime as _dt

    from mycarely_saas_dbt_spark.incremental import run_snapshot
    from mycarely_saas_dbt_spark.runnerqueries import (
        SNAP_CUTOFF,
        SNAP_RUN1,
        SNAP_RUN2,
        _SNAP_CHECK_COLS,
        _order_profile,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    target = f"{target_root}/snap"
    run_snapshot(
        spark, target, _order_profile(spark, SNAP_CUTOFF),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN1,
    )
    run_snapshot(
        spark, target, _order_profile(spark, None),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS, run_date=SNAP_RUN2,
    )
    before = spark.read.parquet(target).toPandas()
    run_snapshot(
        spark, target, _order_profile(spark, None),
        unique_key="custkey", check_cols=_SNAP_CHECK_COLS,
        run_date=SNAP_RUN2 + _dt.timedelta(days=30),
    )
    after = spark.read.parquet(target).toPandas()
    cols = sorted(before.columns)
    assert before[cols].sort_values(cols, ignore_index=True).equals(
        after[cols].sort_values(cols, ignore_index=True)
    )


def _file_state(root):
    """path -> (size, mtime_ns, sha256) for every data file under root."""
    import hashlib
    import os

    state = {}
    for dp, dns, fs in os.walk(root):
        dns[:] = [d for d in dns if not d.startswith((".", "_"))]  # _manifest etc.
        for f in fs:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dp, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            state[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, digest)
    return state


def test_partitioned_incremental_rewrites_only_touched_partitions(
    spark, duck, target_root
):
    """The 100 TB write-path contract: with a date-partitioned target, an
    incremental run must swap ONLY the partitions the new batch touches.
    Every batch-1 partition at or below the watermark stays byte-identical
    (same files, same content, same mtime — never rewritten, never read for
    writing), and the final state still matches the delete+insert oracle."""
    import os

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)

    # batch 1 partitioned (same build slice as _tp_batch1_spec)
    import dataclasses

    spec1 = dataclasses.replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner.run(spec1, SF_DIR)
    path = runner.target_path("traffic_pages_agg")
    assert any(d.startswith("date=") for d in os.listdir(path))
    before = _file_state(path)
    assert before, "partitioned CTAS wrote no files"

    stats = runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    assert stats["mode"] == "incremental-pruned"
    assert stats["partitions_rewritten"] > 0

    after = _file_state(path)
    touched_prefix = []
    for rel, st in before.items():
        if after.get(rel) != st:
            touched_prefix.append(rel.split(os.sep)[0])
    # batch 2 is strictly after the watermark (SPLIT): every pre-existing
    # file that changed or vanished would be in a date<=SPLIT dir — none may
    untouched = {
        rel: st for rel, st in before.items()
        if rel.split(os.sep)[0] <= f"date={SPLIT}"
    }
    for rel, st in untouched.items():
        assert after.get(rel) == st, f"untouched partition file rewritten: {rel}"
    # and only the new dates were added
    new_dirs = {
        rel.split(os.sep)[0] for rel in after if rel not in before
    }
    assert new_dirs and all(d > f"date={SPLIT}" for d in new_dirs), new_dirs

    # final state still equals the delete+insert oracle
    b1 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'", id_strategy="hash"
    )
    b2 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'", id_strategy="hash"
    )
    expected = f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """
    assert_df_matches_oracle(runner.read_target("traffic_pages_agg"), duck, expected)


def test_partitioned_merge_replaces_reemitted_partition_in_place(
    spark, target_root
):
    """Pruned-path delete+insert: when a batch re-emits rows for an existing
    partition, that partition is rewritten (old rows replaced), while every
    other partition's files stay byte-identical."""
    import os

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b_full(sp, sfd, wm):
        return ev.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    redo_day = SPLIT  # re-emit exactly one existing partition, revised
    def b_redo(sp, sfd, wm):
        return (
            ev.filter(F.col("ts").cast("date") == F.lit(redo_day))
            .groupBy(day)
            .agg((F.count(F.lit(1)) + 1000).alias("n"))
        )

    spec = lambda b: ModelSpec("d", "day", "day", b, partition_by=["day"])  # noqa: E731
    runner = IncrementalRunner(spark, target_root)
    runner.run(spec(b_full), SF_DIR)
    path = runner.target_path("d")
    before = _file_state(path)
    # watermark is MAX(day); force the incremental branch to accept the
    # re-emitted old day by running with the build ignoring wm (b_redo does)
    stats = runner.run(spec(b_redo), SF_DIR)
    assert stats["mode"] == "incremental-pruned"
    assert stats["partitions_rewritten"] == 1
    after = _file_state(path)
    redo_dir = f"day={redo_day}"
    m = runner.current_manifest("d")
    live_redo = {
        os.path.join(redo_dir, f) for f in m["partitions"].get(redo_dir, [])
    }
    for rel, st in before.items():
        if rel.split(os.sep)[0] == redo_dir:
            # the old file may remain on disk (vacuum retention keeps one
            # superseded version for time travel) but must be DELISTED
            assert rel not in live_redo, f"replaced file still live: {rel}"
        else:
            assert after.get(rel) == st, f"unrelated partition touched: {rel}"
    assert live_redo, "rewritten partition has no live files"
    out = runner.read_target("d")
    assert out.filter(F.col("day") == F.lit(redo_day)).first()["n"] > 1000
    assert out.groupBy("day").count().filter(F.col("count") > 1).count() == 0


def test_dag_order_and_la_reads_td_target(spark, target_root):
    """D5: TP -> TD -> LA; LA consumes TD's *materialized* output (the
    source-read-back quirk), and its result matches the chained-plan oracle
    because a full-refresh TD target equals the inline TD plan."""
    from mycarely_saas_dbt_spark.incremental import run_dag

    results = run_dag(spark, SF_DIR, target_root, full_refresh=True)
    assert [r["model"] for r in results] == [
        "traffic_pages_agg",
        "traffic_daily_agg",
        "lead_activities_agg",
    ]
    assert all(r["rows_written"] > 0 for r in results)


def test_la_incremental_events_not_watermarked(spark, duck, target_root):
    """B3: LA's event side is never watermark-filtered — after an
    incremental LA run with an old watermark, enrichment still reflects the
    full event history (matches the full chained oracle restricted to new
    activity dates)."""
    import __spark_entry__ as e
    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import lead_activities as la_mod

    runner = inc.IncrementalRunner(spark, target_root)
    # materialize TD first (LA reads it back)
    runner.run(inc.TRAFFIC_DAILY_SPEC, SF_DIR, full_refresh=True)

    # batch1: leads with activity_date <= SPLIT
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.plans.lead_activities import lead_activities_agg
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def b1_build(spark_, sf_dir, wm):
        register_sources(spark_, sf_dir)
        leads = spark_.table("lead_stage_change_events").filter(
            F.col("date") <= F.lit(SPLIT)
        )
        return lead_activities_agg(
            spark_, sf_dir, leads=leads,
            traffic_daily=runner.read_target("traffic_daily_agg"), watermark=wm,
        )

    spec1 = ModelSpec(
        name="lead_activities_agg", unique_key="id",
        watermark_col="activity_date", build=b1_build,
    )
    runner.run(spec1, SF_DIR)
    spec2 = inc.make_la_spec(runner)
    stats = runner.run(spec2, SF_DIR)
    assert stats["mode"] == "incremental"

    # oracle: full chained LA, final state = b1-not-overwritten + b2
    full = e.oracle_sql()["lead_activities_agg"]
    expected = f"""
    WITH la_full AS ({full}),
    b1 AS (SELECT * FROM la_full WHERE activity_date <= DATE '{SPLIT}'),
    b2 AS (SELECT * FROM la_full WHERE activity_date > DATE '{SPLIT}')
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """
    assert_df_matches_oracle(
        runner.read_target("lead_activities_agg"), duck, expected
    )


def test_pre_and_post_hooks_run_around_materialization(spark, target_root):
    """dbt pre_hook/post_hook semantics: pre runs before the build, post
    runs only after a successful commit with {{ this }} resolving to the
    just-committed target; a failing build fires no post-hook."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    spark.sql("DROP VIEW IF EXISTS hook_audit")
    spark.sql("DROP VIEW IF EXISTS hook_rowcount")
    runner = IncrementalRunner(spark, target_root)

    spec = _tp_batch1_spec()
    spec.pre_hook = [
        "CREATE OR REPLACE TEMP VIEW hook_audit AS SELECT 'pre_ran' AS stage"
    ]
    spec.post_hook = [
        "CREATE OR REPLACE TEMP VIEW hook_rowcount AS "
        "SELECT COUNT(*) AS n FROM {{ this }}"
    ]
    stats = runner.run(spec, SF_DIR)

    assert spark.table("hook_audit").first().stage == "pre_ran"
    assert spark.table("hook_rowcount").first().n == stats["rows_written"]

    # a failing build must not fire the post-hook
    def broken_build(sp, sfd, wm):
        raise RuntimeError("boom")

    bad = ModelSpec(
        name="broken_model", unique_key="id", watermark_col="date",
        build=broken_build,
        post_hook=["CREATE OR REPLACE TEMP VIEW hook_never AS SELECT 1 AS x"],
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        runner.run(bad, SF_DIR)
    assert "hook_never" not in [t.name for t in spark.catalog.listTables()]


def test_backfill_rebuilds_only_the_requested_range(spark, duck, target_root):
    """Backfill contract: after corrupting two days' partitions, a
    backfill of exactly that range restores them from the build while
    every file outside the range stays byte-identical (never read for
    writing, never rewritten), and the whole table again matches the
    full-build oracle."""
    import dataclasses
    import os
    import shutil as sh

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)  # full partitioned build
    path = runner.target_path("traffic_pages_agg")

    lo, hi = dt.date(2024, 1, 10), dt.date(2024, 1, 11)
    for d in (lo, hi):
        sh.rmtree(os.path.join(path, f"date={d}"))  # simulate lost days
    before = _file_state(path)

    stats = runner.backfill(inc.TRAFFIC_PAGES_SPEC, SF_DIR, lo, hi)
    assert stats["mode"] == "backfill"
    assert stats["partitions_rewritten"] == 2

    after = _file_state(path)
    for rel, st in before.items():
        assert after.get(rel) == st, f"out-of-range file touched: {rel}"
    assert {r.split(os.sep)[0] for r in after if r not in before} == {
        f"date={lo}", f"date={hi}"
    }

    assert_df_matches_oracle(
        runner.read_target("traffic_pages_agg"),
        duck,
        tp.oracle_sql(id_strategy="hash"),
    )


def test_backfill_deletes_days_the_build_retracted(spark, duck, target_root):
    """REPLACE semantics include 'this day should not exist': a bogus
    partition inside the backfill range with no rebuilt successor must be
    deleted, and an entirely-empty rebuild range must not crash."""
    import os

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    path = runner.target_path("traffic_pages_agg")

    # fabricate a COMMITTED corrupted future day the source knows nothing
    # about: copy a partition dir and register it in the current manifest
    # (under the manifest protocol, unreferenced files are by definition
    # not part of the table — the bad day must be committed to count)
    import json

    bogus = dt.date(2030, 1, 1)
    src_dir = sorted(d for d in os.listdir(path) if d.startswith("date="))[0]
    import shutil as sh

    sh.copytree(os.path.join(path, src_dir), os.path.join(path, f"date={bogus}"))
    mdir = runner._manifest_dir("traffic_pages_agg")
    with open(os.path.join(mdir, "CURRENT")) as fh:
        ver = fh.read().strip()
    with open(os.path.join(mdir, ver)) as fh:
        m = json.load(fh)
    m["partitions"][f"date={bogus}"] = m["partitions"][src_dir]
    with open(os.path.join(mdir, ver), "w") as fh:
        json.dump(m, fh)

    stats = runner.backfill(
        inc.TRAFFIC_PAGES_SPEC, SF_DIR, bogus, dt.date(2030, 1, 2)
    )
    assert stats["rows_written"] == 0
    assert stats["partitions_rewritten"] == 1  # the deleted bogus day
    # delisted from the committed manifest (the on-disk dir survives one
    # retention generation for time travel, then vacuums)
    m2 = runner.current_manifest("traffic_pages_agg")
    assert f"date={bogus}" not in m2["partitions"]
    assert (
        runner.read_target("traffic_pages_agg")
        .filter(F.col("date") >= "2030-01-01")
        .count()
        == 0
    )
    assert_df_matches_oracle(
        runner.read_target("traffic_pages_agg"),
        duck,
        tp.oracle_sql(id_strategy="hash"),
    )


def test_crash_before_manifest_swap_keeps_old_version_readable(
    spark, duck, target_root
):
    """THE manifest-commit crash contract: kill the writer after the new
    files are already sitting in the partition dirs but BEFORE the
    CURRENT pointer swap — readers must still see the old committed
    version exactly (the new files are unreferenced and invisible), and a
    clean re-run must converge to the correct merged state and vacuum the
    orphans."""
    import dataclasses
    import os

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.plans import traffic_pages as tp

    runner = inc.IncrementalRunner(spark, target_root)
    spec1 = dataclasses.replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner.run(spec1, SF_DIR)
    path = runner.target_path("traffic_pages_agg")
    v1 = runner.current_manifest("traffic_pages_agg")
    before_rows = runner.read_target("traffic_pages_agg").count()
    before_files = _file_state(path)

    orig_commit = runner._commit_manifest

    def crash_commit(name, manifest, **kw):
        raise OSError("simulated writer death before pointer swap")

    runner._commit_manifest = crash_commit
    with _pytest.raises(OSError, match="simulated writer death"):
        runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    runner._commit_manifest = orig_commit

    # orphan (uncommitted) files ARE on disk next to the live ones...
    assert set(_file_state(path)) > set(before_files)
    # ...but the committed version is untouched: same manifest, same rows
    assert runner.current_manifest("traffic_pages_agg") == v1
    assert runner.read_target("traffic_pages_agg").count() == before_rows
    b1 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) <= DATE '{SPLIT}'", id_strategy="hash"
    )
    assert_df_matches_oracle(runner.read_target("traffic_pages_agg"), duck, b1)

    # clean re-run converges and vacuums the orphans (grace 0: this is a
    # single-writer runner and the test verifies reclamation itself)
    runner.VACUUM_GRACE_SECONDS = 0.0
    stats = runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    assert stats["mode"] == "incremental-pruned"
    m2 = runner.current_manifest("traffic_pages_agg")
    live = {
        os.path.join(rel, f) if rel else f
        for v in runner.list_versions("traffic_pages_agg")
        if v > m2["version"] - runner.RETAIN_VERSIONS
        for rel, fl in runner._manifest_at("traffic_pages_agg", v)[
            "partitions"
        ].items()
        for f in fl
    }
    assert set(_file_state(path)) == live, "unvacuumed orphans remain"
    b2 = tp.oracle_sql(
        f"AND CAST(collector_tstamp AS DATE) > DATE '{SPLIT}'", id_strategy="hash"
    )
    expected = f"""
    WITH b1 AS ({b1}), b2 AS ({b2})
    SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM b2)
    UNION ALL SELECT * FROM b2
    """
    assert_df_matches_oracle(runner.read_target("traffic_pages_agg"), duck, expected)


def test_read_target_refuses_torn_legacy_commit(spark, target_root):
    """Pre-manifest (legacy) targets committed via directory renames; a
    crash mid-swap left the _commit_in_progress marker. read_target must
    still refuse to read through it (reading would advance the watermark
    past unswapped partitions) — but ONLY for legacy targets; a
    manifest-committed target has no torn window at all."""
    import os

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    path = runner.target_path("traffic_pages_agg")
    # strip the manifest -> the target degrades to a legacy hive layout
    import shutil as sh

    sh.rmtree(runner._manifest_dir("traffic_pages_agg"))
    assert runner.read_target("traffic_pages_agg").count() > 0  # legacy read ok

    marker = os.path.join(path, runner._COMMIT_MARKER)
    open(marker, "w").close()
    with _pytest.raises(RuntimeError, match="unfinished partition commit"):
        runner.read_target("traffic_pages_agg")
    os.remove(marker)
    assert runner.read_target("traffic_pages_agg").count() > 0


def test_time_travel_reads_previous_version_within_retention(
    spark, target_root
):
    """Manifest versions double as snapshots: `read_target(version=N-1)`
    resolves the older manifest's file list (vacuum retains
    RETAIN_VERSIONS generations), and versions beyond the horizon raise
    loudly instead of silently returning partial data."""
    import dataclasses

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    spec1 = dataclasses.replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner.run(spec1, SF_DIR)  # v1
    v1 = runner.current_manifest("traffic_pages_agg")["version"]
    v1_rows = runner.read_target("traffic_pages_agg").count()

    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)  # v2: merge adds new days
    v2_rows = runner.read_target("traffic_pages_agg").count()
    assert v2_rows > v1_rows

    # time travel: v1 is one generation back — fully readable
    assert runner.list_versions("traffic_pages_agg") == [v1, v1 + 1]
    old = runner.read_target("traffic_pages_agg", version=v1)
    assert old.count() == v1_rows

    # two full rewrites (compactions) push the merge version beyond the
    # RETAIN_VERSIONS=2 horizon: its files are NOT shared with any
    # retained manifest, so vacuum reclaims them and the read must fail
    # LOUDLY (no silent partial table)
    runner.compact("traffic_pages_agg")  # v3: all-new files
    pre_compact = runner.read_target("traffic_pages_agg", version=v1 + 1)
    assert pre_compact.count() == v2_rows  # v2 still in horizon
    runner.compact("traffic_pages_agg")  # v4: v2's files now reclaimed
    assert (
        runner.read_target("traffic_pages_agg", version=v1 + 2).count()
        == v2_rows
    )  # v3 in horizon
    with _pytest.raises(RuntimeError, match="retention horizon|no committed version"):
        runner.read_target("traffic_pages_agg", version=v1 + 1).count()
    # unknown version is a loud error too
    with _pytest.raises(RuntimeError, match="no committed version"):
        runner.read_target("traffic_pages_agg", version=99)


def test_concurrent_commit_is_refused_not_clobbered(spark, target_root):
    """Optimistic concurrency on the manifest commit: a writer whose
    version number derives from a stale read must FAIL when another
    writer committed in between — never silently overwrite the other
    writer's merge."""
    import dataclasses

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    runner_a = inc.IncrementalRunner(spark, target_root)
    runner_b = inc.IncrementalRunner(spark, target_root)
    spec1 = dataclasses.replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner_a.run(spec1, SF_DIR)  # v1

    # writer B reads v1 and prepares a commit; writer A commits v2 first
    stale = runner_b.current_manifest("traffic_pages_agg")
    runner_a.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)  # v2
    v2 = runner_a.current_manifest("traffic_pages_agg")
    doomed = {
        "version": stale["version"] + 1,  # == v2: stale derivation
        "partition_by": stale["partition_by"],
        "dtypes": stale["dtypes"],
        "partitions": stale["partitions"],
    }
    with _pytest.raises(RuntimeError, match="concurrent commit"):
        runner_b._commit_manifest("traffic_pages_agg", doomed)
    # the winning commit is untouched
    assert runner_a.current_manifest("traffic_pages_agg") == v2


def test_manifest_stats_prune_opens_only_matching_files(spark, target_root):
    """r6 (VERDICT r5 item 4): the manifest carries per-file column
    min/max, and a pruned read resolves ONLY the files whose stats
    intersect the predicate — decided from the manifest, no parquet
    footer opened. Proven on FILE granularity (range-clustered files
    inside one unpartitioned target, so partition-dir pruning can't be
    what skips)."""
    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)

    def build(sp, sfd, wm):
        ev = sp.table("events")
        out = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events")
        )
        # range-clustered layout: 4 files, disjoint day ranges
        return out.repartitionByRange(4, "day").sortWithinPartitions("day")

    runner = inc.IncrementalRunner(spark, target_root)
    spec = inc.ModelSpec("daily_counts", "day", "day", build)
    runner.run(spec, SF_DIR)

    man = runner.current_manifest("daily_counts")
    assert man is not None and man.get("stats"), "manifest must carry stats"
    all_files = runner.resolved_files("daily_counts")
    assert len(all_files) == 4

    full = runner.read_target("daily_counts")
    days = sorted(r[0] for r in full.select("day").distinct().collect())
    probe = days[0]  # earliest day lives in exactly the first range file

    pruned_files = runner.resolved_files("daily_counts", prune={"day": (probe, probe)})
    assert len(pruned_files) < len(all_files), (pruned_files, all_files)
    assert len(pruned_files) == 1

    # the pruned read still returns exactly the matching rows
    got = (
        runner.read_target("daily_counts", prune={"day": (probe, probe)})
        .filter(F.col("day") == F.lit(probe))
        .count()
    )
    want = full.filter(F.col("day") == F.lit(probe)).count()
    assert got == want and got > 0


def test_racing_commits_exactly_one_wins(spark, target_root):
    """r6 (VERDICT r5 item 7): two writers that BOTH derived the same next
    version race `_commit_manifest` concurrently — the O_EXCL create of
    the version file serializes them: exactly one commit lands, the other
    gets the concurrent-commit error, and CURRENT points at the winner."""
    import dataclasses
    import threading

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    spec1 = dataclasses.replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner.run(spec1, SF_DIR)  # v1
    base = runner.current_manifest("traffic_pages_agg")

    results: list[str] = []
    barrier = threading.Barrier(2)

    def attempt(tag: str) -> None:
        w = inc.IncrementalRunner(spark, target_root)
        manifest = {
            "version": base["version"] + 1,
            "partition_by": base["partition_by"],
            "dtypes": base["dtypes"],
            "partitions": base["partitions"],
            "stats": base.get("stats") or {},
        }
        barrier.wait()
        try:
            w._commit_manifest("traffic_pages_agg", manifest)
            results.append(f"{tag}:ok")
        except RuntimeError as exc:
            assert "concurrent commit" in str(exc)
            results.append(f"{tag}:refused")

    ts = [threading.Thread(target=attempt, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(r.split(":")[1] for r in results) == ["ok", "refused"], results
    assert runner.current_manifest("traffic_pages_agg")["version"] == base["version"] + 1


def test_premanifest_crash_between_ingest_and_commit_fails_loudly(
    spark, target_root, monkeypatch
):
    """r6 (ADVICE r5, medium): on a target with NO manifest yet, a crash
    between `_ingest_files` and `_commit_manifest` must not leave the
    half-ingested files silently readable through the legacy path — the
    `_commit_in_progress` marker written before ingest makes the next
    read fail loudly, and a full-refresh re-run recovers."""
    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    spec = inc.TRAFFIC_PAGES_SPEC

    real_commit = inc.IncrementalRunner._commit_manifest

    def crash(self, name, manifest, **kw):
        raise OSError("simulated crash before manifest commit")

    monkeypatch.setattr(inc.IncrementalRunner, "_commit_manifest", crash)
    with _pytest.raises(OSError, match="simulated crash"):
        runner.run(spec, SF_DIR)

    # files were ingested but never committed: reads refuse instead of
    # silently computing over partial data
    assert runner.target_exists("traffic_pages_agg")
    with _pytest.raises(RuntimeError, match="unfinished partition commit"):
        runner.read_target("traffic_pages_agg")

    # recovery: a full-refresh re-run commits a real manifest and clears
    # the marker
    monkeypatch.setattr(inc.IncrementalRunner, "_commit_manifest", real_commit)
    runner.run(spec, SF_DIR, full_refresh=True)
    assert runner.read_target("traffic_pages_agg").count() > 0


def test_watermark_resolves_from_manifest_stats_without_scan(
    spark, target_root, monkeypatch
):
    """r6: the incremental watermark is answered from the manifest's
    per-file stats (metadata-only — no Spark job, no file opened) and
    agrees exactly with the scan MAX; targets without full stats fall
    back to the scan."""
    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)

    # metadata path fires and matches the scan exactly
    meta = runner._watermark_from_stats("traffic_pages_agg", "date")
    scan = (
        runner.read_target("traffic_pages_agg").agg(F.max("date")).first()[0]
    )
    assert meta is not None and meta == scan

    # watermark() must not touch read_target when stats answer it
    def boom(*a, **k):
        raise AssertionError("watermark read the target despite full stats")

    monkeypatch.setattr(runner, "read_target", boom)
    assert runner.watermark("traffic_pages_agg", "date") == scan
    monkeypatch.undo()

    # non-partition column: answered from per-file stats; stripping a
    # file's stats forces the scan fallback
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)

    def build(sp, sfd, wm):
        return sp.table("events").groupBy(
            F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("n_events"))

    spec = inc.ModelSpec("daily_counts", "day", "day", build)
    runner.run(spec, SF_DIR)
    meta2 = runner._watermark_from_stats("daily_counts", "day")
    scan2 = runner.read_target("daily_counts").agg(F.max("day")).first()[0]
    assert meta2 is not None and meta2 == scan2

    man = runner.current_manifest("daily_counts")
    rel = next(iter(man["stats"]))
    f = next(iter(man["stats"][rel]))
    man["stats"][rel][f].pop("day", None)
    import json as _json
    import os as _os

    mdir = runner._manifest_dir("daily_counts")
    ver = open(_os.path.join(mdir, "CURRENT")).read().strip()
    with open(_os.path.join(mdir, ver), "w") as fh:
        _json.dump(man, fh)
    assert runner._watermark_from_stats("daily_counts", "day") is None
    assert runner.watermark("daily_counts", "day") == scan2  # scan path


def test_crash_after_version_claim_recovers_on_rerun(spark, target_root, monkeypatch):
    """r6 review fix: a writer that dies AFTER the O_EXCL version-file
    claim but BEFORE the CURRENT swap must not make the table permanently
    uncommittable — the next writer run removes the orphan version file
    (never published, readers only follow CURRENT) and commits normally."""
    import os as _os

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    spec1 = __import__("dataclasses").replace(
        inc.TRAFFIC_PAGES_SPEC, build=_tp_batch1_spec().build
    )
    runner.run(spec1, SF_DIR)  # v1
    v1 = runner.current_manifest("traffic_pages_agg")["version"]

    # simulate the crash window: version file exists, CURRENT not swapped
    real_replace = _os.replace

    def crash_replace(srcp, dstp):
        if dstp.endswith("CURRENT"):
            raise OSError("simulated crash before pointer swap")
        return real_replace(srcp, dstp)

    monkeypatch.setattr(inc.os, "replace", crash_replace)
    with _pytest.raises(OSError, match="simulated crash"):
        runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    monkeypatch.undo()

    # the orphan v2 file exists but CURRENT still points at v1
    assert runner.current_manifest("traffic_pages_agg")["version"] == v1
    assert v1 + 1 in runner.list_versions("traffic_pages_agg")

    # re-run: orphan recovered, commit succeeds (this raised
    # "concurrent commit detected" forever before the fix)
    stats = runner.run(inc.TRAFFIC_PAGES_SPEC, SF_DIR)
    assert stats["mode"].startswith("incremental")
    assert runner.current_manifest("traffic_pages_agg")["version"] == v1 + 1
    assert runner.read_target("traffic_pages_agg").count() > 0


def test_prune_date_bound_against_timestamp_stats_keeps_overlapping_file(
    spark, target_root
):
    """r6 review fix: a DATE bound against TIMESTAMP file stats compares
    on the common ISO prefix — a file whose rows all fall inside the
    bound's day must NOT be pruned ('2024-01-05T00:00:11' > '2024-01-05'
    lexically, but the file overlaps the day)."""
    import datetime as _dt

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)

    def build(sp, sfd, wm):
        return (
            sp.table("events")
            .select("event_id", "ts")
            .repartitionByRange(4, "ts")
            .sortWithinPartitions("ts")
        )

    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(inc.ModelSpec("ev_ts", "event_id", "ts", build), SF_DIR)

    first_day = (
        runner.read_target("ev_ts").agg(F.min(F.col("ts").cast("date"))).first()[0]
    )
    probe = (first_day, first_day)  # date bounds vs timestamp stats
    pruned = runner.resolved_files("ev_ts", prune={"ts": probe})
    assert pruned, "date-granularity bound must keep the overlapping file"
    got = (
        runner.read_target("ev_ts", prune={"ts": probe})
        .filter(F.col("ts").cast("date") == F.lit(first_day))
        .count()
    )
    want = (
        runner.read_target("ev_ts")
        .filter(F.col("ts").cast("date") == F.lit(first_day))
        .count()
    )
    assert got == want and got > 0


def test_run_dag_threaded_matches_sequential(spark, target_root, tmp_path):
    """r6 (dbt `threads` execution model): a 2-thread DAG run — TP ∥ TD
    concurrently, LA after TD — must produce exactly the sequential
    results (same targets, same row counts, LA strictly after its
    dependency)."""
    from mycarely_saas_dbt_spark import incremental as inc

    seq_root = str(tmp_path / "seq")
    inc.run_dag(spark, SF_DIR, seq_root, threads=1)
    par_root = str(tmp_path / "par")
    results = inc.run_dag(spark, SF_DIR, par_root, threads=2)
    assert {r["model"] for r in results} == {
        "traffic_pages_agg", "traffic_daily_agg", "lead_activities_agg"
    }
    seq = inc.IncrementalRunner(spark, seq_root)
    par = inc.IncrementalRunner(spark, par_root)
    for m in ("traffic_pages_agg", "traffic_daily_agg", "lead_activities_agg"):
        assert par.read_target(m).count() == seq.read_target(m).count()


def test_run_dag_failed_dependency_skips_descendants(spark, tmp_path, monkeypatch):
    """A TD failure must skip LA (dbt semantics) and surface the error."""
    import dataclasses

    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc

    def boom(sp, sfd, wm):
        raise RuntimeError("TD build exploded")

    broken_td = dataclasses.replace(inc.TRAFFIC_DAILY_SPEC, build=boom)
    monkeypatch.setattr(inc, "TRAFFIC_DAILY_SPEC", broken_td)
    with _pytest.raises(RuntimeError, match="models failed.*traffic_daily"):
        inc.run_dag(spark, SF_DIR, str(tmp_path / "t"), threads=2)


def test_disjoint_partition_writers_both_commit_racing(spark, target_root):
    """r7 (VERDICT r6 item 6): two writers racing partition-scoped commits
    with DISJOINT partition footprints must BOTH land — the loser of the
    O_EXCL race rebases onto the winner's CURRENT (conflict detection on
    the partition set, not the version number — the Delta/Iceberg
    conflict-resolution shape) and the final manifest carries both
    writers' files."""
    import dataclasses
    import threading

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b_full(sp, sfd, wm):
        return ev.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    spec = inc.ModelSpec("d", "day", "day", b_full, partition_by=["day"])
    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(spec, SF_DIR)
    base = runner.current_manifest("d")

    results: list[str] = []
    barrier = threading.Barrier(2)

    def attempt(tag: str, rel: str) -> None:
        w = inc.IncrementalRunner(spark, target_root)
        manifest = {
            "version": base["version"] + 1,
            "partition_by": base["partition_by"],
            "dtypes": base["dtypes"],
            "partitions": {**base["partitions"], rel: [f"{tag}.parquet"]},
            "stats": dict(base.get("stats") or {}),
        }
        barrier.wait()
        try:
            w._commit_manifest("d", manifest, base=base, touched={rel})
            results.append(f"{tag}:ok")
        except RuntimeError:  # pragma: no cover - failure path
            results.append(f"{tag}:refused")

    ts = [
        threading.Thread(target=attempt, args=(t, r))
        for t, r in (("a", "day=2031-01-01"), ("b", "day=2031-01-02"))
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(results) == ["a:ok", "b:ok"]
    final = runner.current_manifest("d")
    assert final["version"] == base["version"] + 2
    assert final["partitions"]["day=2031-01-01"] == ["a.parquet"]
    assert final["partitions"]["day=2031-01-02"] == ["b.parquet"]
    # every base partition rides through untouched
    for rel, files in base["partitions"].items():
        assert final["partitions"][rel] == files


def test_overlapping_partition_writers_still_serialize(spark, target_root):
    """The rebase is partition-scoped: a racing commit whose footprint
    OVERLAPS the winner's still refuses (its merge read partition state
    the winner just replaced)."""
    import pytest as _pytest

    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b_full(sp, sfd, wm):
        return ev.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    spec = inc.ModelSpec("d", "day", "day", b_full, partition_by=["day"])
    runner = inc.IncrementalRunner(spark, target_root)
    runner.run(spec, SF_DIR)
    base = runner.current_manifest("d")
    rel = sorted(base["partitions"])[0]

    def stale_commit(tag: str):
        return {
            "version": base["version"] + 1,
            "partition_by": base["partition_by"],
            "dtypes": base["dtypes"],
            "partitions": {**base["partitions"], rel: [f"{tag}.parquet"]},
            "stats": dict(base.get("stats") or {}),
        }

    runner._commit_manifest("d", stale_commit("a"), base=base, touched={rel})
    with _pytest.raises(RuntimeError, match="overlapping partitions"):
        runner._commit_manifest("d", stale_commit("b"), base=base, touched={rel})
    assert runner.current_manifest("d")["partitions"][rel] == ["a.parquet"]


def test_disjoint_partition_merges_rebase_end_to_end(
    spark, target_root, monkeypatch
):
    """End-to-end: writer B's REAL pruned merge commit finds that writer A
    committed a different partition after B's read — B rebases, both
    writers' rows are readable from the final snapshot."""
    from mycarely_saas_dbt_spark import incremental as inc
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    ev = spark.table("events")
    day = F.col("ts").cast("date").alias("day")

    def b_full(sp, sfd, wm):
        return ev.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    days = sorted(
        r[0] for r in ev.select(F.col("ts").cast("date")).distinct().collect()
    )
    day_a, day_b = days[0], days[-1]
    assert day_a != day_b

    def b_redo(d, bump):
        def build(sp, sfd, wm):
            return (
                ev.filter(F.col("ts").cast("date") == F.lit(d))
                .groupBy(day)
                .agg((F.count(F.lit(1)) + bump).alias("n"))
            )

        return build

    def spec(b):
        return inc.ModelSpec("d", "day", "day", b, partition_by=["day"])

    runner_a = inc.IncrementalRunner(spark, target_root)
    runner_b = inc.IncrementalRunner(spark, target_root)
    runner_a.run(spec(b_full), SF_DIR)
    v1 = runner_a.current_manifest("d")["version"]

    orig_commit = runner_b._commit_manifest
    fired = {"done": False}

    def inject(name, manifest, **kw):
        if not fired["done"]:
            fired["done"] = True
            # A lands its disjoint-partition merge AFTER B read the table
            # but BEFORE B's commit — the classic stale-read race
            runner_a.run(spec(b_redo(day_a, 1000)), SF_DIR)
        return orig_commit(name, manifest, **kw)

    monkeypatch.setattr(runner_b, "_commit_manifest", inject)
    stats = runner_b.run(spec(b_redo(day_b, 2000)), SF_DIR)
    assert stats["mode"] == "incremental-pruned"

    final = runner_b.current_manifest("d")
    assert final["version"] == v1 + 2  # both commits landed
    out = runner_b.read_target("d")
    assert out.filter(F.col("day") == F.lit(day_a)).first()["n"] > 1000
    assert out.filter(F.col("day") == F.lit(day_b)).first()["n"] > 2000
    # one row per day — the rebase didn't duplicate or drop partitions
    assert out.groupBy("day").count().filter(F.col("count") > 1).count() == 0


def test_tombstone_merge_hard_deletes_partition_pruned(spark, target_root):
    """r7 CDC tombstones: rows flagged by tombstone_col delete their key
    instead of upserting, a delete-ONLY partition still registers as
    touched (and its rows go away), and a partition with no changes at
    all keeps its exact committed files."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, target_root)

    def mk(rows):
        return spark.createDataFrame(rows, "k bigint, p string, v bigint")

    def spec(build):
        return ModelSpec(
            "cdc_t", "k", "k", build,
            partition_by=["p"], tombstone_col="__del",
        )

    runner.run(
        spec(lambda sp, sfd, wm: mk(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40), (5, "c", 50)]
        )),
        SF_DIR,
    )
    m1 = runner.current_manifest("cdc_t")
    c_files_before = m1["partitions"]["p=c"]

    def batch2(sp, sfd, wm):
        up = mk([(1, "a", 11)]).withColumn("__del", F.lit(False))
        dead = mk([(3, "b", 30)]).withColumn("__del", F.lit(True))
        return up.unionByName(dead)

    s = runner.run(spec(batch2), SF_DIR)
    assert s["mode"] == "incremental-pruned"
    assert s["partitions_rewritten"] == 2  # 'a' upserted, 'b' delete-only

    out = {
        r["k"]: r["v"]
        for r in runner.read_target("cdc_t").collect()
    }
    assert out == {1: 11, 2: 20, 4: 40, 5: 50}  # 3 hard-deleted
    m2 = runner.current_manifest("cdc_t")
    assert m2["partitions"]["p=c"] == c_files_before  # untouched partition
    assert m2["partitions"]["p=b"] != m1["partitions"]["p=b"]
    # the tombstone flag never lands in the committed schema
    assert "__del" not in runner.read_target("cdc_t").columns


def test_tombstone_merge_unpartitioned_and_bootstrap_noop(spark, target_root):
    """Unpartitioned targets hard-delete through the full-rewrite merge;
    tombstones in a FIRST run (no target yet) are simply dropped."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, target_root)

    def mk(rows, schema="k bigint, v bigint"):
        return spark.createDataFrame(rows, schema)

    def spec(build):
        return ModelSpec("cdc_u", "k", "k", build, tombstone_col="__del")

    # bootstrap WITH a tombstone column: flagged rows never materialize
    runner.run(
        spec(lambda sp, sfd, wm: mk(
            [(1, 10, False), (2, 20, False), (9, 90, True)],
            "k bigint, v bigint, __del boolean",
        )),
        SF_DIR,
    )
    assert {r["k"] for r in runner.read_target("cdc_u").collect()} == {1, 2}

    runner.run(
        spec(lambda sp, sfd, wm: mk(
            [(2, 21, False), (1, 10, True)],
            "k bigint, v bigint, __del boolean",
        )),
        SF_DIR,
    )
    out = {r["k"]: r["v"] for r in runner.read_target("cdc_u").collect()}
    assert out == {2: 21}


def test_table_changes_reads_only_changed_partitions(spark, target_root):
    """r7 CDF reader: table_changes(v1, v2) resolves its reads from the
    manifest DIFF — partitions whose file lists are identical across the
    two snapshots are never opened — and tags row-level post-images
    insert / update_postimage / delete (tombstone)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, target_root)

    def mk(rows, schema="k bigint, p string, v bigint"):
        return spark.createDataFrame(rows, schema)

    def spec(build):
        return ModelSpec(
            "cdf_t", "k", "k", build,
            partition_by=["p"], tombstone_col="__del",
        )

    runner.run(
        spec(lambda sp, sfd, wm: mk(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30), (5, "c", 50)]
        )),
        SF_DIR,
    )
    runner.run(
        spec(lambda sp, sfd, wm: mk(
            [(1, "a", 11, False), (6, "a", 60, False), (2, "a", 20, True)],
            "k bigint, p string, v bigint, __del boolean",
        )),
        SF_DIR,
    )

    cdf = runner.table_changes("cdf_t", "k", 1)
    got = {(r["k"], r["_change_type"]) for r in cdf.collect()}
    assert got == {
        (1, "update_postimage"), (6, "insert"), (2, "delete"),
    }
    # partitions b and c were untouched by batch 2: their files must not
    # appear among the CDF read's inputs
    files = cdf.inputFiles()
    assert files and all("p=a" in f for f in files), files
    # the post-image carries real values
    row = {r["k"]: r for r in cdf.collect()}
    assert row[1]["v"] == 11 and row[2]["v"] == 20


def test_bloom_sidecar_bits_match_reader_positions(spark, target_root):
    """The r14 vectorized sidecar build (numpy uint64 wraparound) must set
    EXACTLY the bits the per-value reader hash (_bloom_positions) expects —
    the no-false-negative contract lives or dies on this equivalence."""
    import base64
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, target_root)
    vals = (
        [f"key|{i}é" for i in range(997)]
        + [None, "", "0", "None"]
        + [str(-(1 << 62)), str((1 << 63) + 7)]
    )
    path = os.path.join(target_root, "bloomvals.parquet")
    pq.write_table(pa.table({"k": vals}), path)
    runner._write_bloom_sidecar(path, "k")
    with open(runner._bloom_sidecar_path(path)) as fh:
        j = json.load(fh)
    got = base64.b64decode(j["bits"])
    # reference: the reader's own per-value positions
    ref = bytearray(len(got))
    for v in vals:
        if v is None:
            continue
        for idx in runner._bloom_positions(v, j["m"]):
            ref[idx >> 3] |= 1 << (idx & 7)
    assert bytes(ref) == got
    assert all(
        runner._bloom_might_contain(path, "k", v)
        for v in vals
        if v is not None
    )


def test_bloom_sidecars_prune_point_lookups_without_false_negatives(
    spark, target_root
):
    """r7 bloom index: on a hash-distributed key layout min/max stats
    keep every file, the bloom sidecars skip most of them, present keys
    are NEVER skipped (no false negatives by construction), and vacuum
    reclaims a sidecar with its data file.

    The build ends in an explicit .repartition(8) — the r14 rebalance-
    clustered write must RESPECT that user-shaped layout (this test
    doubles as the pin for that rule)."""
    import os

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    o = spark.table("orders")
    runner = IncrementalRunner(spark, target_root)
    spec = ModelSpec(
        "orders_bloom",
        "o_orderkey",
        "o_orderkey",
        lambda sp, sfd, wm: o.select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        ).repartition(8),
        partition_by=["o_orderstatus"],
    )
    runner.run(spec, SF_DIR)

    all_files = runner.resolved_files("orders_bloom")
    assert len(all_files) >= 8
    # every data file got a sidecar
    assert all(
        os.path.isfile(runner._bloom_sidecar_path(f)) for f in all_files
    )

    keys = [r["o_orderkey"] for r in o.select("o_orderkey").limit(60).collect()]
    pruned_counts = []
    for k in keys:
        kept = runner.resolved_files("orders_bloom", point={"o_orderkey": k})
        pruned_counts.append(len(kept))
        # no false negative: the pruned read still finds the key
        got = (
            runner.read_target("orders_bloom", point={"o_orderkey": k})
            .filter(F.col("o_orderkey") == k)
            .count()
        )
        assert got == 1, k
    # the bloom pass must actually skip files (min/max alone keeps all)
    assert sum(pruned_counts) < 0.5 * len(keys) * len(all_files)

    # vacuum reclaims sidecars with their files: full-refresh twice so the
    # original generation falls out of retention
    runner.RETAIN_VERSIONS = 1
    runner.VACUUM_GRACE_SECONDS = 0.0
    runner.run(spec, SF_DIR, full_refresh=True)
    live = set(runner.resolved_files("orders_bloom"))
    orphans = [
        f
        for f in all_files
        if f not in live and os.path.isfile(runner._bloom_sidecar_path(f))
    ]
    assert orphans == []


def test_merge_txn_idempotent_batch_replay(spark, target_root):
    """Delta txnAppId/txnVersion ledger (r8): a replayed micro-batch
    (same txn_version, even with DIFFERENT data — the poisoned-replay
    case) is skipped without touching the table; a new version merges;
    ledgers are per-app; the ledger and the data commit atomically."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    spec = inc.ModelSpec("txn_t", "k", "day", None, partition_by=["day"])

    def mk(rows):
        return spark.createDataFrame(rows, "k bigint, day date, v bigint")

    import datetime as dt

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    r1 = runner.merge_txn(
        spec, mk([(1, d1, 10), (2, d1, 20)]), app_id="hop1", txn_version=1
    )
    assert not r1["skipped"]
    assert runner.txn_last_version("txn_t", "hop1") == 1

    # replay batch 1 with POISONED data: must be skipped entirely
    r2 = runner.merge_txn(
        spec, mk([(1, d1, 999_999)]), app_id="hop1", txn_version=1
    )
    assert r2["skipped"] and r2["last_committed"] == 1
    out = {r["k"]: r["v"] for r in runner.read_target("txn_t").collect()}
    assert out == {1: 10, 2: 20}

    # next version merges (upsert of k=1 + insert of k=3)
    r3 = runner.merge_txn(
        spec, mk([(1, d1, 11), (3, d2, 30)]), app_id="hop1", txn_version=2
    )
    assert not r3["skipped"]
    out = {r["k"]: r["v"] for r in runner.read_target("txn_t").collect()}
    assert out == {1: 11, 2: 20, 3: 30}

    # a DIFFERENT app's ledger is independent
    assert runner.txn_last_version("txn_t", "hop2") is None
    r4 = runner.merge_txn(
        spec, mk([(4, d2, 40)]), app_id="hop2", txn_version=1
    )
    assert not r4["skipped"]
    assert runner.txn_last_version("txn_t", "hop1") == 2
    assert runner.txn_last_version("txn_t", "hop2") == 1
    assert runner.read_target("txn_t").count() == 4


def test_check_constraints_enforced_at_every_write_path(spark, target_root):
    """Delta CHECK constraints (r8): a violating batch ABORTS before the
    manifest commit on all three write paths — full refresh, incremental
    merge, copy-on-write UPDATE — leaving the table at its previous
    committed state. NULL check results violate (Delta's rule). The
    counters ride the write pass (Observation) — no extra scan."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    d1 = dt.date(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(rows, "k bigint, day date, v bigint")

    def spec(build):
        return inc.ModelSpec(
            "chk_t", "k", "day", build, partition_by=["day"],
            check_constraints=["v >= 0", "k IS NOT NULL"],
        )

    # clean bootstrap passes
    runner.run(spec(lambda sp, sfd, wm: mk([(1, d1, 10), (2, d1, 20)])), "x")
    v1 = runner.current_manifest("chk_t")["version"]

    # violating incremental merge aborts; table unchanged
    with _pytest.raises(RuntimeError, match="CHECK constraint violated"):
        runner.run(spec(lambda sp, sfd, wm: mk([(3, d1, -5)])), "x")
    assert runner.current_manifest("chk_t")["version"] == v1
    assert runner.read_target("chk_t").count() == 2

    # NULL result violates (v >= 0 on NULL v is not TRUE)
    with _pytest.raises(RuntimeError, match="CHECK constraint violated"):
        runner.run(spec(lambda sp, sfd, wm: mk([(4, d1, None)])), "x")
    assert runner.current_manifest("chk_t")["version"] == v1

    # violating UPDATE (copy-on-write path) aborts too
    with _pytest.raises(RuntimeError, match="CHECK constraint violated"):
        runner.update_where(
            spec(None), "k = 1", {"v": "0 - v"}
        )
    assert runner.current_manifest("chk_t")["version"] == v1
    assert {r["v"] for r in runner.read_target("chk_t").collect()} == {10, 20}

    # violating full refresh aborts; passing one still works end-to-end
    with _pytest.raises(RuntimeError, match="CHECK constraint violated"):
        runner.run(
            spec(lambda sp, sfd, wm: mk([(9, d1, -1)])), "x", full_refresh=True
        )
    assert runner.current_manifest("chk_t")["version"] == v1
    runner.run(spec(lambda sp, sfd, wm: mk([(5, d1, 50)])), "x")
    assert runner.read_target("chk_t").count() == 3


def test_merge_txn_unpartitioned_with_tombstones(spark, target_root):
    """merge_txn on an UNPARTITIONED target dispatches to the
    merge+full-rewrite path (same rule as run()); tombstone-flagged rows
    hard-delete; the ledger still upgrades redelivery to exactly-once."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark import incremental as inc

    spec = inc.ModelSpec(
        "txn_unpart", "k", "k", None, tombstone_col="__del"
    )
    runner = inc.IncrementalRunner(spark, target_root)

    def mk(rows):
        return spark.createDataFrame(rows, "k long, v long, __del boolean")

    runner.merge_txn(
        spec, mk([(1, 10, False), (2, 20, False), (3, 30, False)]),
        app_id="u", txn_version=1,
    )
    r2 = runner.merge_txn(
        spec, mk([(2, 99, False), (3, 0, True), (4, 40, False)]),
        app_id="u", txn_version=2,
    )
    assert not r2.get("skipped")
    out = {r["k"]: r["v"] for r in runner.read_target("txn_unpart").collect()}
    assert out == {1: 10, 2: 99, 4: 40}
    # poisoned redelivery of txn 2 is skipped from the ledger alone
    r2b = runner.merge_txn(
        spec, mk([(1, 777, True)]), app_id="u", txn_version=2
    )
    assert r2b["skipped"]
    out = {r["k"]: r["v"] for r in runner.read_target("txn_unpart").collect()}
    assert out == {1: 10, 2: 99, 4: 40}


def test_table_changes_preimages_and_empty_merge_output(spark, target_root):
    """preimages=True adds an update_preimage row (the OLD image) per
    update — Delta's four-type feed, the contract exact IVM subtracts
    from; default stays post-only. Also: a tombstone batch that deletes
    EVERY row of a partition commits an empty rewrite (the IVM
    count-reaches-zero case) instead of failing schema inference."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark import incremental as inc

    runner = inc.IncrementalRunner(spark, target_root)
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)

    def mk(rows):
        return spark.createDataFrame(rows, "k long, day date, v long")

    spec = inc.ModelSpec(
        "pre_t", "k", "day",
        lambda sp, sfd, wm: mk([(1, d1, 10), (2, d1, 20), (3, d2, 30)]),
        partition_by=["day"],
    )
    runner.run(spec, "x")  # v1
    runner.update_where(spec, "k = 2", {"v": "v + 1"})  # v2

    post_only = runner.table_changes("pre_t", "k", 1).collect()
    assert sorted(r["_change_type"] for r in post_only) == ["update_postimage"]
    four = runner.table_changes("pre_t", "k", 1, preimages=True).collect()
    got = {r["_change_type"]: r["v"] for r in four}
    assert got == {"update_preimage": 20, "update_postimage": 21}

    # delete-everything-in-a-partition tombstone batch
    spec_t = inc.ModelSpec("pre_t", "k", "day", None,
                           partition_by=["day"], tombstone_col="__del")
    batch = spark.createDataFrame(
        [(1, d1, 0, True), (2, d1, 0, True)],
        "k long, day date, v long, __del boolean",
    )
    runner.merge_txn(spec_t, batch, app_id="z", txn_version=1)
    out = runner.read_target("pre_t")
    assert out.count() == 1 and out.first()["k"] == 3
    m = runner.current_manifest("pre_t")
    assert "day=2024-01-01" not in m["partitions"]


def test_ingest_threads_env_parse_falls_back_on_malformed(monkeypatch):
    """MYCARELY_INGEST_THREADS: an integer overrides (floored at 1); an
    unset or malformed value falls back to the CPU-derived default
    instead of raising inside every commit."""
    from mycarely_saas_dbt_spark.incremental import _ingest_threads

    monkeypatch.delenv("MYCARELY_INGEST_THREADS", raising=False)
    default = _ingest_threads()
    assert 4 <= default <= 16
    monkeypatch.setenv("MYCARELY_INGEST_THREADS", "3")
    assert _ingest_threads() == 3
    monkeypatch.setenv("MYCARELY_INGEST_THREADS", "0")
    assert _ingest_threads() == 1
    for bad in ("auto", "", "2.5"):
        monkeypatch.setenv("MYCARELY_INGEST_THREADS", bad)
        assert _ingest_threads() == default, bad

"""The generalized IVM engine API (mycarely_saas_dbt_spark/ivm.py):
contract refusals fast-fail, and a small end-to-end proves the
maintained view equals the batch GROUP BY after mixed waves plus a
replay no-op. The five-aggregate composition at driver scale is pinned
by the `mv_incremental_refresh` entry's DuckDB oracle."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def target_root(tmp_path):
    p = str(tmp_path / "target")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _defn(**kw):
    from mycarely_saas_dbt_spark.ivm import MVAggregate, MVDefinition

    base = dict(
        name="mv_t", base="ivm_b", base_key="k", group_by=["g"],
        aggregates=[
            MVAggregate("count", None, "n"),
            MVAggregate("sum", "x", "sum_x"),
        ],
        bucket_expr="g % 4", bucket_col="gb",
    )
    base.update(kw)
    return MVDefinition(**base)


def _base_spec(n=100, partition_by=("gb",), change_data=True):
    from mycarely_saas_dbt_spark.incremental import ModelSpec

    def b(sp, sfd, wm):
        rows = sp.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("g"),
            ((F.col("id") * 7) % 101).alias("x"),
            ((F.col("id") * 3) % 5).alias("u"),
            ((F.col("id") % 10) % 4).alias("gb"),
        )
        if wm is not None:
            rows = rows.filter(F.col("k") > F.lit(wm))
        return rows

    return ModelSpec(
        "ivm_b", "k", "k", b, partition_by=list(partition_by),
        change_data=change_data,
    )


def test_definition_validation():
    from mycarely_saas_dbt_spark.ivm import MVAggregate

    with pytest.raises(ValueError, match="unsupported aggregate kinds"):
        _defn(aggregates=[MVAggregate("median", "x", "a")])
    with pytest.raises(ValueError, match="duplicate aggregate aliases"):
        _defn(
            aggregates=[
                MVAggregate("count", None, "n"),
                MVAggregate("sum", "x", "n"),
            ]
        )


def test_refuses_uncommitted_and_unpartitioned_base(spark, target_root):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import MaterializedViewMaintainer

    r = IncrementalRunner(spark, target_root)
    with pytest.raises(RuntimeError, match="not committed"):
        MaterializedViewMaintainer(r, _defn())
    r.run(_base_spec(partition_by=()), SF_DIR)
    with pytest.raises(RuntimeError, match="unpartitioned"):
        MaterializedViewMaintainer(r, _defn())


def test_refuses_base_without_change_files_past_v1(spark, target_root):
    """v1 bootstrap stamps no cdc descriptor (served as snapshot
    inserts), so the check is version-aware: accepted at v1, refused
    once a mutating commit proves the base never opted in."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import MaterializedViewMaintainer

    r = IncrementalRunner(spark, target_root)
    spec = _base_spec(change_data=False)
    r.run(spec, SF_DIR)
    MaterializedViewMaintainer(r, _defn())  # v1: accepted
    r.update_where(spec, "k = 3", {"x": "x + 1"})
    with pytest.raises(RuntimeError, match="writes no change files"):
        MaterializedViewMaintainer(r, _defn())


def test_maintained_view_equals_batch_group_by(spark, target_root):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    spec = _base_spec()
    r.run(spec, SF_DIR)
    mv = _defn(
        aggregates=[
            MVAggregate("count", None, "n"),
            MVAggregate("sum", "x", "sum_x"),
            MVAggregate("min", "x", "min_x"),
            MVAggregate("max", "x", "max_x"),
            MVAggregate("count_distinct", "u", "uniq_u"),
        ]
    )
    m = MaterializedViewMaintainer(r, mv)
    m.refresh(spark)
    r.update_where(spec, "k % 7 = 2", {"x": "x + 500", "u": "(u + 1) % 5"})
    r.delete_where(spec, "k % 11 = 3")
    m.refresh(spark)
    r.delete_where(spec, "g = 4")  # whole-group tombstone
    m.refresh(spark)
    v = r.current_manifest("mv_t")["version"]
    m.refresh(spark)  # replay: no-op
    assert r.current_manifest("mv_t")["version"] == v

    expected = (
        r.read_target("ivm_b")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sum_x"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("x").cast("bigint").alias("max_x"),
            F.count_distinct("u").cast("bigint").alias("uniq_u"),
        )
    )
    got = m.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # every probe stayed inside the committed bucket set
    for rels, committed, _ in m.path_log[1:]:
        assert set(rels) <= set(committed), (rels, committed)


def test_join_view_refusals(spark, target_root):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    r = IncrementalRunner(spark, target_root)
    jv = JoinViewDefinition(
        "jv_t", "ivm_b", "k", "jv_dim", "g",
        fact_cols=["x"], dim_cols=["label"],
        fact_bucket_expr="g % 4", fact_bucket_col="gb",
    )
    with pytest.raises(RuntimeError, match="not committed"):
        JoinViewMaintainer(r, jv)
    r.run(_base_spec(partition_by=()), SF_DIR)  # fact, unpartitioned
    from mycarely_saas_dbt_spark.incremental import ModelSpec

    dim_spec = ModelSpec(
        "jv_dim", "g", "g",
        lambda sp, sfd, wm: sp.range(10).select(
            F.col("id").alias("g"),
            F.concat(F.lit("L"), F.col("id")).alias("label"),
        ),
        change_data=True,
    )
    r.run(dim_spec, SF_DIR)
    with pytest.raises(RuntimeError, match="unpartitioned"):
        JoinViewMaintainer(r, jv)


def test_join_view_equals_batch_join(spark, target_root):
    """The maintained fact ⋈ dim view equals the batch join after dim
    churn, a key-moving fact update, deletes on both sides, and a
    replay no-op — inner-join dangling rows tombstone and return."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    fact_spec = _base_spec()
    dim_spec = ModelSpec(
        "jv_dim", "g", "g",
        lambda sp, sfd, wm: sp.range(10).select(
            F.col("id").alias("g"),
            F.concat(F.lit("L"), F.col("id")).alias("label"),
        ),
        change_data=True,
    )
    r.run(fact_spec, SF_DIR)
    r.run(dim_spec, SF_DIR)
    jv = JoinViewDefinition(
        "jv_t", "ivm_b", "k", "jv_dim", "g",
        fact_cols=["x"], dim_cols=["label"],
        fact_bucket_expr="g % 4", fact_bucket_col="gb",
        view_bucket_expr="k % 4", view_bucket_col="kb",
    )
    m = JoinViewMaintainer(r, jv)
    m.refresh(spark)
    r.update_where(dim_spec, "g % 3 = 1", {"label": "concat(label, '_v2')"})
    m.refresh(spark)  # dim-only: pruned probe
    r.update_where(
        fact_spec, "k % 7 = 2",
        {"x": "x + 500", "g": "(g + 1) % 10", "gb": "((g + 1) % 10) % 4"},
    )
    r.delete_where(fact_spec, "k % 11 = 3")
    r.delete_where(dim_spec, "g = 5")  # dangling fact rows tombstone
    m.refresh(spark)
    v = r.current_manifest("jv_t")["version"]
    m.refresh(spark)  # replay: no-op
    assert r.current_manifest("jv_t")["version"] == v

    expected = r.read_target("ivm_b").join(
        r.read_target("jv_dim"), "g", "inner"
    ).select("k", "g", "x", "label")
    got = m.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # the dim-only wave's probe stayed inside its bucket set
    dim_only = [t for t in m.path_log if t[2] is not None]
    assert dim_only and all(ok for _, _, ok in dim_only), m.path_log


# --------------------------------------------------------------------------
# r14: ADVICE-r13 regressions + the generalized (left/composite/fan-out)
# join views and avg/derived aggregates


def test_mv_bucket_name_differs_from_base_partition(spark, target_root):
    """ADVICE r13 (high): the recompute arm's base probe must name its
    rels with the BASE's partition column. With bucket_col left at a
    name that differs from the base's ('__mvb' vs 'gb'), the pre-fix
    code resolved an EMPTY base slice and silently kept stale extrema."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    spec = _base_spec()
    r.run(spec, SF_DIR)
    mv = _defn(
        aggregates=[
            MVAggregate("min", "x", "min_x"),
            MVAggregate("max", "x", "max_x"),
        ],
        bucket_col="__mvb",  # NOT the base's partition column name
    )
    m = MaterializedViewMaintainer(r, mv)
    m.refresh(spark)
    # remove stored extrema so the recompute arm MUST read the base
    r.delete_where(spec, "x >= 90 OR x <= 10")
    m.refresh(spark)
    assert any(nrec > 0 for _, _, nrec in m.path_log), m.path_log
    expected = (
        r.read_target("ivm_b")
        .groupBy("g")
        .agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"))
    )
    got = m.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_sum_avg_over_double_keep_fraction(spark, target_root):
    """ADVICE r13 (medium): sum/min/max/avg over a double column carry
    the SQL result type — the pre-fix blanket bigint cast truncated
    fractions. Values are dyadic (k * 0.25) so float addition is exact
    in any order and the incremental sum equals the batch sum bit-for-
    bit."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
        MVDefinition,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0

    def b(sp, sfd, wm):
        rows = sp.range(120).select(
            F.col("id").alias("k"),
            (F.col("id") % 6).alias("g"),
            (((F.col("id") * 13) % 41).cast("double") * 0.25).alias("x"),
            ((F.col("id") % 6) % 4).alias("gb"),
        )
        if wm is not None:
            rows = rows.filter(F.col("k") > F.lit(wm))
        return rows

    spec = ModelSpec(
        "dbl_b", "k", "k", b, partition_by=["gb"], change_data=True
    )
    r.run(spec, SF_DIR)
    mv = MVDefinition(
        "dbl_mv", "dbl_b", "k", ["g"],
        [
            MVAggregate("sum", "x", "sum_x"),
            MVAggregate("min", "x", "min_x"),
            MVAggregate("avg", "x", "avg_x"),
        ],
        bucket_expr="g % 4", bucket_col="gb",
        derived=[("half_avg", "avg_x / 2")],
    )
    m = MaterializedViewMaintainer(r, mv)
    m.refresh(spark)
    r.update_where(spec, "k % 5 = 2", {"x": "x + 10.25"})
    r.delete_where(spec, "k % 9 = 4")
    m.refresh(spark)
    exp = (
        r.read_target("dbl_b")
        .groupBy("g")
        .agg(
            F.sum("x").alias("sum_x"),
            F.min("x").alias("min_x"),
            F.avg("x").alias("avg_x"),
        )
        .withColumn("half_avg", F.col("avg_x") / 2)
    )
    got = m.read()
    assert dict(got.dtypes)["sum_x"] == "double"
    assert dict(got.dtypes)["avg_x"] == "double"
    assert got.exceptAll(exp).count() == 0 and got.count() == exp.count()
    # pre-fix behavior check: the fractions actually survive
    frac = got.agg(
        F.sum(F.abs(F.col("sum_x") - F.round("sum_x"))).alias("f")
    ).collect()[0]["f"]
    assert frac > 0


def test_sum_over_string_fast_fails(spark, target_root):
    """ADVICE r13 (medium): SUM over a non-numeric source refuses at
    construction instead of truncating through a cast."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
        MVDefinition,
    )

    r = IncrementalRunner(spark, target_root)

    def b(sp, sfd, wm):
        return sp.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("g"),
            F.col("id").cast("string").alias("x"),
        )

    r.run(ModelSpec("str_b", "k", "k", b, change_data=True), SF_DIR)
    mv = MVDefinition(
        "str_mv", "str_b", "k", ["g"], [MVAggregate("sum", "x", "s")]
    )
    with pytest.raises(ValueError, match="non-numeric"):
        MaterializedViewMaintainer(r, mv)


def test_state_key_pipe_and_null_collision_free(spark, target_root):
    """ADVICE r13 (low): composite state keys are hex-encoded per
    component — groups ('a|b','c') and ('a','b|c') keep separate MV
    state (the pre-fix concat_ws('|') merged them)."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
        MVDefinition,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0

    def b(sp, sfd, wm):
        rows = sp.createDataFrame(
            [
                (1, "a|b", "c", 5),
                (2, "a", "b|c", 7),
                (3, "a|b", "c", 9),
            ],
            "k int, g1 string, g2 string, x int",
        )
        if wm is not None:
            rows = rows.filter(F.col("k") > F.lit(wm))
        return rows

    spec = ModelSpec("pipe_b", "k", "k", b, change_data=True)
    r.run(spec, SF_DIR)
    mv = MVDefinition(
        "pipe_mv", "pipe_b", "k", ["g1", "g2"],
        [MVAggregate("count", None, "n"), MVAggregate("sum", "x", "s")],
    )
    m = MaterializedViewMaintainer(r, mv)
    m.refresh(spark)
    got = {(row["g1"], row["g2"]): (row["n"], row["s"]) for row in m.read().collect()}
    assert got == {("a|b", "c"): (2, 14), ("a", "b|c"): (1, 7)}


def test_replay_after_partial_commit_recovers(spark, target_root):
    """ADVICE r13 (medium): a crash BETWEEN the MV merge and the
    checkpoint commit redelivers the batch; the maintainer must detect
    the already-committed MV via the txn ledger, skip the (now post-
    state) MV arithmetic and its sanity assert, and commit the missing
    support merge — ending exactly at the batch GROUP BY."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    spec = _base_spec()
    r.run(spec, SF_DIR)
    mv = _defn(
        aggregates=[
            MVAggregate("count", None, "n"),
            MVAggregate("count_distinct", "u", "uniq_u"),
        ]
    )
    m = MaterializedViewMaintainer(r, mv)
    m.refresh(spark)
    r.update_where(spec, "k % 7 = 2", {"u": "(u + 1) % 5"})
    r.delete_where(spec, "k % 11 = 3")

    # crash injection: the SUPPORT merge fails after the MV merge
    # committed — the stream dies with the checkpoint NOT advanced
    orig = m._merge_support
    calls = {"n": 0}

    def boom(a, tj, batch_id):
        calls["n"] += 1
        raise RuntimeError("injected crash before the support commit")

    m._merge_support = boom
    with pytest.raises(Exception, match="injected crash"):
        m.refresh(spark)
    assert calls["n"] == 1
    m._merge_support = orig
    m.refresh(spark)  # redelivery of the SAME batch
    expected = (
        r.read_target("ivm_b")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("u").cast("bigint").alias("uniq_u"),
        )
    )
    got = m.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # and the NEXT regular wave still maintains correctly
    r.delete_where(spec, "g = 2")
    m.refresh(spark)
    expected2 = (
        r.read_target("ivm_b")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct("u").cast("bigint").alias("uniq_u"),
        )
    )
    got2 = m.read()
    assert got2.count() == expected2.count()
    assert got2.exceptAll(expected2).count() == 0


def _spend_dim_spec(name="jvg_dim"):
    """Fan-out dim: 2 rows per (c1, c2) key tuple, ~1/3 NULL w (the
    dim_filter boundary), sid is the dim's own unique key."""
    from mycarely_saas_dbt_spark.incremental import ModelSpec

    def b(sp, sfd, wm):
        rows = sp.range(40).select(
            F.col("id").alias("sid"),
            (F.col("id") % 5).alias("c1"),
            ((F.col("id") / 5).cast("bigint") % 4).alias("c2"),
            F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(
                (F.col("id") * 11) % 97
            ).cast("bigint").alias("w"),
        )
        if wm is not None:
            rows = rows.filter(F.col("sid") > F.lit(wm))
        return rows

    return ModelSpec(name, "sid", "sid", b, change_data=True)


def _jvg_fact_spec(n=120, name="jvg_fact"):
    from mycarely_saas_dbt_spark.incremental import ModelSpec

    def b(sp, sfd, wm):
        rows = sp.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("c1"),
            ((F.col("id") * 7) % 4).alias("c2"),
            ((F.col("id") * 13) % 50).alias("amt"),
            ((F.col("id") % 5) % 4).alias("cb"),
        )
        if wm is not None:
            rows = rows.filter(F.col("k") > F.lit(wm))
        return rows

    return ModelSpec(
        name, "k", "k", b, partition_by=["cb"], change_data=True
    )


def _jvg_expected(r, pred_sql="amt % 2 = 0"):
    fact = r.read_target("jvg_fact").alias("f")
    dim = r.read_target("jvg_dim").filter(F.col("w").isNotNull()).alias("d")
    cond = (
        (F.col("f.c1") == F.col("d.c1"))
        & (F.col("f.c2") == F.col("d.c2"))
        & F.expr(pred_sql)
    )
    return fact.join(dim, cond, "left").select(
        "k", F.col("f.c1").alias("c1"), F.col("f.c2").alias("c2"),
        "amt", "sid", "w",
    )


def test_left_join_view_composite_fanout(spark, target_root):
    """r14 (VERDICT r13 item 1): LEFT-outer join view with COMPOSITE
    equi-keys, a constant fact-side ON-predicate, a dim row filter, and
    dim fan-out (2 dim rows per key tuple) — maintained through dim
    churn that crosses the filter boundary, a key-moving fact update,
    deletes on both sides, and a replay no-op. Unmatched fact rows stay
    with NULL dim columns throughout (the J1 left-join shape,
    reference models/traffic_daily_agg.sql:106-109)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    fs, ds = _jvg_fact_spec(), _spend_dim_spec()
    r.run(fs, SF_DIR)
    r.run(ds, SF_DIR)
    jv = JoinViewDefinition(
        "jvg_view", "jvg_fact", "k", "jvg_dim",
        join_on=[("c1", "c1"), ("c2", "c2")],
        fact_cols=["amt"], dim_cols=["sid", "w"],
        how="left",
        fact_match_pred="amt % 2 = 0",
        dim_filter="w IS NOT NULL",
        dim_key="sid",
        fact_bucket_expr="c1 % 4", fact_bucket_col="cb",
        view_bucket_expr="k % 4", view_bucket_col="kb",
    )
    m = JoinViewMaintainer(r, jv)
    m.refresh(spark)
    got = m.read()
    exp = _jvg_expected(r)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0

    # dim-only wave crossing the filter boundary both ways + a delete
    r.update_where(ds, "sid % 6 = 0", {"w": "coalesce(w, 0) + 500"})
    r.update_where(ds, "sid % 7 = 2", {"w": "NULL"})
    r.delete_where(ds, "sid % 11 = 4")
    m.refresh(spark)
    got = m.read()
    exp = _jvg_expected(r)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0

    # fact churn: key move + delete + parity flip (match-pred boundary)
    r.update_where(
        fs, "k % 9 = 1",
        {"amt": "amt + 1", "c1": "(c1 + 2) % 5", "cb": "((c1 + 2) % 5) % 4"},
    )
    r.delete_where(fs, "k % 13 = 6")
    m.refresh(spark)
    v = r.current_manifest("jvg_view")["version"]
    m.refresh(spark)  # replay: no-op
    assert r.current_manifest("jvg_view")["version"] == v
    got = m.read()
    exp = _jvg_expected(r)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    for rels, committed, ok in m.path_log:
        assert set(rels) <= set(committed), (rels, committed)
        assert ok is not False, m.path_log


def test_jv_fact_bucket_col_mismatch_fast_fails(spark, target_root):
    """ADVICE r13 (high, join-view side): a fact_bucket_col that does
    not name the fact's partition column would prune to an EMPTY slice;
    construction refuses."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    r = IncrementalRunner(spark, target_root)
    r.run(_jvg_fact_spec(), SF_DIR)
    r.run(_spend_dim_spec(), SF_DIR)
    jv = JoinViewDefinition(
        "jvg_view", "jvg_fact", "k", "jvg_dim", "c1",
        fact_bucket_expr="c1 % 4", fact_bucket_col="__wrong",
    )
    with pytest.raises(RuntimeError, match="partition column"):
        JoinViewMaintainer(r, jv)


def test_jv_definition_refusals():
    from mycarely_saas_dbt_spark.ivm import JoinViewDefinition

    with pytest.raises(ValueError, match="how must be"):
        JoinViewDefinition("v", "f", "k", "d", "j", how="full")
    with pytest.raises(ValueError, match="join_key or join_on"):
        JoinViewDefinition("v", "f", "k", "d")
    with pytest.raises(ValueError, match="dim_key"):
        JoinViewDefinition(
            "v", "f", "k", "d", join_on=[("a", "x"), ("b", "y")]
        )


def test_aggregate_over_join_composition(spark, target_root):
    """r14 (VERDICT r13 item 1b): an MVDefinition whose base is a
    maintained join view (emit_changes=True) — the aggregate-over-join
    composition. Dim churn reclassifies fact rows across groups; the
    chained MV must track the batch GROUP-BY-over-join oracle."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
        MaterializedViewMaintainer,
        MVAggregate,
        MVDefinition,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    fs = _jvg_fact_spec(name="aoj_fact")
    dim_spec = ModelSpec(
        "aoj_dim", "c1", "c1",
        lambda sp, sfd, wm: sp.range(5).select(
            F.col("id").alias("c1"), (F.col("id") % 2).alias("seg")
        ),
        change_data=True,
    )
    r.run(fs, SF_DIR)
    r.run(dim_spec, SF_DIR)
    jv = JoinViewDefinition(
        "aoj_view", "aoj_fact", "k", "aoj_dim", "c1",
        fact_cols=["amt"], dim_cols=["seg"],
        fact_bucket_expr="c1 % 4", fact_bucket_col="cb",
        view_bucket_expr="k % 4", view_bucket_col="kb",
        emit_changes=True,
    )
    mj = JoinViewMaintainer(r, jv)
    mv = MVDefinition(
        "aoj_mv", "aoj_view", "k", ["seg"],
        [
            MVAggregate("count", None, "n"),
            MVAggregate("sum", "amt", "sum_amt"),
            MVAggregate("avg", "amt", "avg_amt"),
        ],
    )
    mj.refresh(spark)
    ma = MaterializedViewMaintainer(r, mv)
    ma.refresh(spark)

    def check():
        exp = (
            r.read_target("aoj_fact")
            .join(r.read_target("aoj_dim"), "c1", "inner")
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("amt").cast("bigint").alias("sum_amt"),
                F.avg("amt").alias("avg_amt"),
            )
        )
        got = ma.read()
        assert got.count() == exp.count()
        assert got.exceptAll(exp).count() == 0

    check()
    # dim churn RECLASSIFIES fact rows across MV groups
    r.update_where(dim_spec, "c1 % 2 = 1", {"seg": "(seg + 1) % 2"})
    r.delete_where(dim_spec, "c1 = 4")  # dangling fact rows leave the agg
    mj.refresh(spark)
    ma.refresh(spark)
    check()
    # fact churn flows through both hops
    r.update_where(fs, "k % 8 = 3", {"amt": "amt + 1000"})
    r.delete_where(fs, "k % 10 = 7")
    mj.refresh(spark)
    ma.refresh(spark)
    check()


def _record_applies(monkeypatch, m) -> list:
    """Batch ids of every apply_batch call on maintainer ``m``."""
    calls, orig = [], m.apply_batch

    def rec(batch_df, batch_id, *a):
        calls.append(batch_id)
        return orig(batch_df, batch_id, *a)

    monkeypatch.setattr(m, "apply_batch", rec)
    return calls


def test_refresh_applies_whole_pending_range_once(
    spark, target_root, monkeypatch
):
    """One refresh is one apply: three pending base versions drain in a
    single apply_batch over the whole range (consumed, current], whose
    batch id is the range-end base version — the consumed position each
    target commits in its own txn ledger. The result equals the batch
    GROUP BY, and a refresh with nothing pending commits no version on
    the MV or its support table. Neither does a refresh over a base
    commit whose change set is empty; the next real change still
    applies."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    spec = _base_spec()
    r.run(spec, SF_DIR)
    m = MaterializedViewMaintainer(r, _defn(aggregates=[
        MVAggregate("count", None, "n"),
        MVAggregate("min", "x", "min_x"),
        MVAggregate("count_distinct", "u", "uniq_u"),
    ]))
    calls = _record_applies(monkeypatch, m)
    m.refresh(spark)  # bootstrap: the v1 snapshot as inserts
    assert calls == [1]
    r.update_where(spec, "k % 7 = 2", {"x": "x + 500", "u": "(u + 1) % 5"})
    r.delete_where(spec, "k % 11 = 3")
    r.delete_where(spec, "g = 4")
    end = r.current_manifest("ivm_b")["version"]
    assert end == 4
    m.refresh(spark)
    assert calls == [1, end]
    for name, app in m.ledgers.values():
        assert r.txn_last_version(name, app) == end, name

    def recompute():
        return (
            r.read_target("ivm_b")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("x").cast("bigint").alias("min_x"),
                F.count_distinct("u").cast("bigint").alias("uniq_u"),
            )
        )

    expected = recompute()
    got = m.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0

    versions = {n: r.current_manifest(n)["version"] for n, _ in m.ledgers.values()}
    m.refresh(spark)  # nothing pending
    assert calls == [1, end]
    assert {n: r.current_manifest(n)["version"] for n in versions} == versions

    # an empty change set: x = x rewrites rows but changes none, so the
    # base commits no change files and the refresh commits no version
    r.update_where(spec, "k % 3 = 0", {"x": "x"})
    assert r.current_manifest("ivm_b")["cdc"]["files"] == []
    m.refresh(spark)
    assert {n: r.current_manifest(n)["version"] for n in versions} == versions
    # the next real change still applies, re-reading the empty version
    # with it, and the MV equals the batch recompute
    r.update_where(spec, "k % 5 = 1", {"x": "x + 3", "u": "(u + 2) % 5"})
    m.refresh(spark)
    assert calls == [1, end, end + 1, end + 2]
    got, expected = m.read(), recompute()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_join_view_catch_up_and_dim_only_refresh(
    spark, target_root, monkeypatch
):
    """The join view drains both feeds with one apply per refresh: a
    dim-only refresh over two pending dim versions (the pruned fact
    probe, fact position unchanged), then a catch-up over several fact
    AND dim versions, each equal to the batch join; both positions
    commit in the view's manifest, and nothing pending commits
    nothing. Empty change sets on both feeds commit no view version
    and leave the positions where they were; the next real change
    still applies."""
    from mycarely_saas_dbt_spark.incremental import (
        IncrementalRunner,
        ModelSpec,
    )
    from mycarely_saas_dbt_spark.ivm import (
        JoinViewDefinition,
        JoinViewMaintainer,
    )

    r = IncrementalRunner(spark, target_root)
    r.RETENTION_SECONDS = 3600.0
    fact_spec = _base_spec()
    dim_spec = ModelSpec(
        "jv_dim", "g", "g",
        lambda sp, sfd, wm: sp.range(10).select(
            F.col("id").alias("g"),
            F.concat(F.lit("L"), F.col("id")).alias("label"),
        ),
        change_data=True,
    )
    r.run(fact_spec, SF_DIR)
    r.run(dim_spec, SF_DIR)
    m = JoinViewMaintainer(r, JoinViewDefinition(
        "jv_t", "ivm_b", "k", "jv_dim", "g",
        fact_cols=["x"], dim_cols=["label"],
        fact_bucket_expr="g % 4", fact_bucket_col="gb",
        view_bucket_expr="k % 4", view_bucket_col="kb",
    ))
    calls = _record_applies(monkeypatch, m)

    def positions():
        return r.current_manifest("jv_t")["meta"]["feed_positions"]

    def check():
        exp = r.read_target("ivm_b").join(
            r.read_target("jv_dim"), "g", "inner"
        ).select("k", "g", "x", "label")
        got = m.read()
        assert got.count() == exp.count()
        assert got.exceptAll(exp).count() == 0

    m.refresh(spark)
    assert calls == [1] and positions() == {"fact": 1, "dim": 1}
    check()

    r.update_where(dim_spec, "g = 1", {"label": "concat(label, '_a')"})
    r.update_where(dim_spec, "g = 5", {"label": "concat(label, '_b')"})
    m.refresh(spark)  # dim-only, two pending dim versions
    assert calls == [1, 2] and positions() == {"fact": 1, "dim": 3}
    d_rels, _, files_ok = m.path_log[-1]
    assert d_rels == ["gb=1"] and files_ok is True, m.path_log
    check()

    r.update_where(fact_spec, "k % 7 = 2", {"x": "x + 500"})
    r.delete_where(fact_spec, "k % 11 = 3")
    r.delete_where(dim_spec, "g = 6")
    r.update_where(dim_spec, "g = 2", {"label": "concat(label, '_c')"})
    m.refresh(spark)  # catch-up: 2 fact + 2 dim versions, one apply
    assert calls == [1, 2, 3] and positions() == {"fact": 3, "dim": 5}
    check()

    v = r.current_manifest("jv_t")["version"]
    m.refresh(spark)  # nothing pending
    assert calls == [1, 2, 3]
    assert r.current_manifest("jv_t")["version"] == v

    # empty change sets: a zero-match dim update commits nothing, and an
    # identity update on each side commits a version with no change
    # files; the refresh reads an empty batch over both feeds and
    # commits no view version
    dim_v = r.current_manifest("jv_dim")["version"]
    r.update_where(dim_spec, "g > 100", {"label": "concat(label, '_z')"})
    assert r.current_manifest("jv_dim")["version"] == dim_v
    r.update_where(fact_spec, "k % 3 = 0", {"x": "x"})
    r.update_where(dim_spec, "g = 7", {"label": "label"})
    for t in ("ivm_b", "jv_dim"):
        assert r.current_manifest(t)["cdc"]["files"] == [], t
    m.refresh(spark)
    assert calls == [1, 2, 3, 4]
    assert r.current_manifest("jv_t")["version"] == v
    assert positions() == {"fact": 3, "dim": 5}
    # the next real change still applies, and the view equals the join
    r.update_where(dim_spec, "g = 3", {"label": "concat(label, '_d')"})
    m.refresh(spark)
    assert calls == [1, 2, 3, 4, 4]
    assert positions() == {"fact": 4, "dim": 7}
    check()


def test_mv_maintainer_races_disjoint_writer(spark, target_root, monkeypatch):
    """r14 (VERDICT r13 item 6): the disjoint-footprint rebase proven
    through MaterializedViewMaintainer.refresh()'s merge_txn path — a
    racer lands an unrelated-partition commit on the MV target after
    the maintainer read its manifest but before its commit, and again
    on the SUPPORT table (so the MV-before-support crash ordering
    interacts with a rebase on each side). Both racer commits and both
    maintainer commits must land, and the MV must still match the batch
    GROUP BY — including on the NEXT wave, which probes the
    post-rebase state."""
    import pyspark.sql.functions as F  # noqa: F811

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.ivm import (
        MaterializedViewMaintainer,
        MVAggregate,
    )

    runner = IncrementalRunner(spark, target_root)   # the maintainer
    racer = IncrementalRunner(spark, target_root)    # unrelated writer
    runner.RETENTION_SECONDS = 3600.0
    spec = _base_spec()
    runner.run(spec, SF_DIR)
    mv = _defn(
        aggregates=[
            MVAggregate("count", None, "n"),
            MVAggregate("sum", "x", "sum_x"),
            MVAggregate("count_distinct", "u", "uniq_u"),
        ]
    )
    m = MaterializedViewMaintainer(runner, mv)
    m.refresh(spark)                                 # bootstrap
    v0 = runner.current_manifest("mv_t")["version"]
    s0 = runner.current_manifest("mv_t__sup_uniq_u")["version"]

    # narrow wave: touches ONLY MV bucket gb=1 (groups g in {1, 5, 9})
    runner.update_where(spec, "g % 4 = 1 AND k % 3 = 0", {"u": "(u + 2) % 5"})
    runner.delete_where(spec, "g % 4 = 1 AND k % 7 = 1")

    orig = runner._commit_manifest
    fired = {"mv": False, "sup": False}

    def content_idempotent_rewrite(name, app_id):
        # the racer recomputes bucket gb=3's rows VERBATIM and commits
        # them through its own merge_txn — a disjoint-partition,
        # content-idempotent backfill
        rows = racer.read_target(name).filter("gb = 3").withColumn(
            "__del", F.lit(False)
        )
        racer.merge_txn(
            dataclasses_replace_meta(m, name), rows,
            app_id=app_id, txn_version=1,
        )

    def dataclasses_replace_meta(maintainer, name):
        return (
            maintainer.mv_spec
            if name == "mv_t"
            else maintainer.sup_specs["uniq_u"]
        )

    def inject(name, manifest, **kw):
        if name == "mv_t" and not fired["mv"]:
            fired["mv"] = True
            content_idempotent_rewrite("mv_t", "mv_racer")
        if name == "mv_t__sup_uniq_u" and not fired["sup"]:
            fired["sup"] = True
            content_idempotent_rewrite("mv_t__sup_uniq_u", "sup_racer")
        return orig(name, manifest, **kw)

    monkeypatch.setattr(runner, "_commit_manifest", inject)
    m.refresh(spark)                                 # maintenance races both
    monkeypatch.setattr(runner, "_commit_manifest", orig)
    assert fired["mv"] and fired["sup"]
    # BOTH the racer's and the maintainer's commits landed on each target
    assert runner.current_manifest("mv_t")["version"] == v0 + 2
    assert runner.current_manifest("mv_t__sup_uniq_u")["version"] == s0 + 2

    def check():
        exp = (
            runner.read_target("ivm_b")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("sum_x"),
                F.count_distinct("u").cast("bigint").alias("uniq_u"),
            )
        )
        got = m.read()
        assert got.count() == exp.count()
        assert got.exceptAll(exp).count() == 0

    check()
    # the NEXT wave probes post-rebase MV/support state
    runner.update_where(spec, "k % 5 = 2", {"u": "(u + 1) % 5"})
    runner.delete_where(spec, "g = 7")
    m.refresh(spark)
    check()

"""Row-level DML (copy-on-write DELETE/UPDATE), RESTORE, and shallow CLONE
— the Delta-parity table operations over the manifest commit protocol.

The scale contract under test: DML rewrites ONLY the files that contain
matching rows (untouched files carry forward in the manifest BY NAME),
RESTORE is metadata-only, and a shallow clone copies zero data bytes.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def target_root(tmp_path):
    p = str(tmp_path / "target")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _orders_spec(name="dml_target", partition_by=("o_orderstatus",), nfiles=4):
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def build(sp, sfd, wm):
        register_sources(sp, sfd)
        df = sp.table("orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"
        )
        # several files per partition dir so partial-file rewrites are
        # observable
        return df.repartition(nfiles, "o_orderkey")

    return ModelSpec(
        name,
        "o_orderkey",
        "o_orderkey",
        build,
        partition_by=list(partition_by),
    )


def _rows(df, *cols):
    key = cols or df.columns
    return sorted(tuple(r) for r in df.select(*key).collect())


def _runner(spark, root):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    return IncrementalRunner(spark, root)


def test_delete_where_rewrites_only_touched_files(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    before = runner.read_target(spec.name)
    keys = [r[0] for r in before.select("o_orderkey").orderBy("o_orderkey").head(3)]
    m1 = runner.current_manifest(spec.name)
    n_files = sum(len(v) for v in m1["partitions"].values())

    res = runner.delete_where(spec, f"o_orderkey IN ({','.join(map(str, keys))})")
    assert res["rows_matched"] == len(keys)
    assert 0 < res["files_rewritten"] <= min(len(keys), n_files)
    assert res["files_rewritten"] < n_files  # untouched files survived

    after = runner.read_target(spec.name)
    assert _rows(after) == _rows(before.filter(~F.col("o_orderkey").isin(keys)))

    # untouched files carry forward BY NAME — the copy-on-write contract
    m2 = runner.current_manifest(spec.name)
    old = {(rel, f) for rel, fl in m1["partitions"].items() for f in fl}
    new = {(rel, f) for rel, fl in m2["partitions"].items() for f in fl}
    assert len(old & new) == n_files - res["files_rewritten"]

    # the pre-delete snapshot stays time-travelable
    assert _rows(runner.read_target(spec.name, version=m1["version"])) == _rows(before)


def test_delete_null_condition_keeps_rows(spark, target_root):
    """SQL three-valued logic: DELETE WHERE cond drops only cond=TRUE rows;
    NULL-condition rows survive."""
    runner = _runner(spark, target_root)
    spec = _orders_spec(partition_by=())
    runner.run(spec, SF_DIR)
    n = runner.read_target(spec.name).count()
    # NULLIF makes the comparison NULL for every key%2=0 row
    res = runner.delete_where(
        spec, "NULLIF(o_orderkey % 2, 0) = CASE WHEN o_orderkey % 3 = 0 THEN 1 END"
    )
    expected_deleted = (
        runner.read_target(spec.name, version=1)
        .filter("o_orderkey % 2 = 1 AND o_orderkey % 3 = 0")
        .count()
    )
    assert res["rows_matched"] == expected_deleted
    assert runner.read_target(spec.name).count() == n - expected_deleted


def test_delete_prune_narrows_candidate_files(spark, target_root):
    """Manifest-stats pruning bounds the FIND job's scan before any file
    is opened: with a range-clustered layout most files never join the
    candidate set."""
    from mycarely_saas_dbt_spark.incremental import ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def build(sp, sfd, wm):
        register_sources(sp, sfd)
        return (
            sp.table("orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .repartitionByRange(8, "o_orderkey")
        )

    spec = ModelSpec("dml_pruned", "o_orderkey", "o_orderkey", build)
    runner = _runner(spark, target_root)
    runner.run(spec, SF_DIR)
    n_files = sum(
        len(v) for v in runner.current_manifest(spec.name)["partitions"].values()
    )
    hi = runner.read_target(spec.name).agg(F.max("o_orderkey")).first()[0]
    res = runner.delete_where(
        spec,
        f"o_orderkey >= {hi - 5}",
        prune={"o_orderkey": (hi - 5, None)},
    )
    assert res["files_scanned"] < n_files
    assert res["files_rewritten"] >= 1
    assert runner.read_target(spec.name).agg(F.max("o_orderkey")).first()[0] < hi - 5


def test_update_where_set_exprs(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    before = runner.read_target(spec.name)
    cond = "o_totalprice > 150000"
    n_match = before.filter(cond).count()
    res = runner.update_where(
        spec,
        cond,
        {"o_totalprice": "o_totalprice * 2", "o_custkey": "o_custkey + 1000000"},
    )
    assert res["rows_matched"] == n_match
    expected = before.select(
        "o_orderkey",
        F.when(F.expr(cond), F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.expr(cond), F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderstatus",
    )
    after = runner.read_target(spec.name)
    assert after.dtypes == before.dtypes  # schema must not drift
    assert _rows(after) == _rows(expected)


def test_update_unknown_column_raises(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    with pytest.raises(RuntimeError, match="unknown columns"):
        runner.update_where(spec, "o_orderkey = 1", {"nope": "1"})


def test_update_partition_column_moves_rows(spark, target_root):
    """Delta allows SET on a partition column: rewritten rows land in their
    new partition dirs and the manifest moves the entries."""
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    before = runner.read_target(spec.name)
    n_o = before.filter("o_orderstatus = 'O'").count()
    n_x = before.filter("o_orderstatus = 'X'").count()
    assert n_x == 0 and n_o > 0
    res = runner.update_where(
        spec, "o_orderstatus = 'O'", {"o_orderstatus": "'X'"}
    )
    assert res["rows_matched"] == n_o
    after = runner.read_target(spec.name)
    assert after.filter("o_orderstatus = 'O'").count() == 0
    assert after.filter("o_orderstatus = 'X'").count() == n_o
    m = runner.current_manifest(spec.name)
    assert not any(rel.startswith("o_orderstatus=O") for rel in m["partitions"])
    assert any(rel.startswith("o_orderstatus=X") for rel in m["partitions"])


def test_restore_is_metadata_only(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    v1 = runner.current_manifest(spec.name)
    before = _rows(runner.read_target(spec.name))
    runner.delete_where(spec, "o_orderkey % 2 = 0")
    assert len(_rows(runner.read_target(spec.name))) < len(before)

    res = runner.restore(spec.name, v1["version"])
    assert res == {"restored_to": v1["version"], "version": v1["version"] + 2}
    m3 = runner.current_manifest(spec.name)
    # metadata-only: the restored version's file set IS v1's, by name
    assert m3["partitions"] == v1["partitions"]
    assert _rows(runner.read_target(spec.name)) == before


def test_restore_beyond_retention_raises(spark, target_root):
    runner = _runner(spark, target_root)
    runner.VACUUM_GRACE_SECONDS = 0.0
    runner.RETAIN_VERSIONS = 1
    spec = _orders_spec(partition_by=())
    runner.run(spec, SF_DIR)
    runner.delete_where(spec, "o_orderkey % 2 = 0")  # vacuums v1's files
    with pytest.raises(RuntimeError, match="no committed version 1"):
        runner.restore(spec.name, 1)


def test_clone_shallow_zero_copy_and_cow(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec()
    runner.run(spec, SF_DIR)
    src_rows = _rows(runner.read_target(spec.name))

    info = runner.clone_shallow(spec.name, "dml_clone")
    assert info["files"] == sum(
        len(v) for v in runner.current_manifest(spec.name)["partitions"].values()
    )
    # zero data bytes copied: the clone dir holds ONLY the manifest
    clone_dir = runner.target_path("dml_clone")
    data_files = [
        f
        for dp, _, fs in os.walk(clone_dir)
        for f in fs
        if not dp.endswith("_manifest")
    ]
    assert data_files == []
    assert _rows(runner.read_target("dml_clone")) == src_rows

    # copy-on-write: DML on the clone rewrites into the CLONE's dir and
    # never touches the source
    import dataclasses

    clone_spec = dataclasses.replace(spec, name="dml_clone")
    res = runner.delete_where(clone_spec, "o_orderstatus = 'F' AND o_orderkey % 2 = 0")
    assert res["rows_matched"] > 0
    assert _rows(runner.read_target(spec.name)) == src_rows  # source intact
    got = _rows(runner.read_target("dml_clone"))
    assert got == [t for t in src_rows if not (t[4] == "F" and t[0] % 2 == 0)]
    m = runner.current_manifest("dml_clone")
    # untouched partitions still point at the source (absolute entries);
    # rewritten ones are native
    for rel, fl in m["partitions"].items():
        if rel.startswith("o_orderstatus=F"):
            assert all(not os.path.isabs(f) for f in fl)
        else:
            assert all(os.path.isabs(f) for f in fl)


def test_clone_shallow_at_version(spark, target_root):
    runner = _runner(spark, target_root)
    spec = _orders_spec(partition_by=())
    runner.run(spec, SF_DIR)
    v1_rows = _rows(runner.read_target(spec.name))
    runner.delete_where(spec, "o_orderkey % 3 = 0")
    runner.clone_shallow(spec.name, "clone_v1", version=1)
    assert _rows(runner.read_target("clone_v1")) == v1_rows
    with pytest.raises(RuntimeError, match="already exists"):
        runner.clone_shallow(spec.name, "clone_v1")


def _dv_boot(spark, target_root, name):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    def boot(sp, sfd, wm):
        register_sources(sp, sfd)
        return (
            sp.table("orders")
            .select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
            )
            .repartition(4, "o_orderkey")
        )

    from mycarely_saas_dbt_spark.incremental import ModelSpec

    spec = ModelSpec(
        name, "o_orderkey", "o_orderkey", boot, partition_by=["o_orderstatus"]
    )
    runner = IncrementalRunner(spark, target_root)
    runner.run(spec, SF_DIR)
    return runner, spec


def test_dv_delete_is_metadata_only_and_reader_applies_it(spark, tmp_path):
    """mode='dv': zero files rewritten, the manifest's file lists are
    BYTE-IDENTICAL to the previous version, and read_target hides the
    keys. A second DV delete stacks; time travel to the pre-delete
    version still sees every row."""
    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv1")
    m1 = runner.current_manifest("dv1")
    n0 = runner.read_target("dv1").count()

    res = runner.delete_where(spec, "o_orderkey % 11 = 3", mode="dv")
    assert res["files_rewritten"] == 0 and res["rows_matched"] > 0
    m2 = runner.current_manifest("dv1")
    assert {r: list(fl) for r, fl in m1["partitions"].items()} == {
        r: list(fl) for r, fl in m2["partitions"].items()
    }
    out = runner.read_target("dv1")
    assert out.filter("o_orderkey % 11 = 3").count() == 0
    assert out.count() == n0 - res["rows_matched"]
    # time travel: pre-DV snapshot unaffected
    assert runner.read_target("dv1", version=m1["version"]).count() == n0
    # stacking: second vector composes; already-deleted keys don't recount
    res2 = runner.delete_where(spec, "o_orderkey % 11 IN (3, 5)", mode="dv")
    assert res2["files_rewritten"] == 0
    out2 = runner.read_target("dv1")
    assert out2.filter("o_orderkey % 11 IN (3, 5)").count() == 0
    assert out2.count() == n0 - res["rows_matched"] - res2["rows_matched"]


def test_dv_blocks_mutating_writers_until_absorbed(spark, tmp_path):
    """The writers that cannot carry a pending vector refuse until it is
    absorbed: shallow clone (the sidecars live under the source table),
    replace_rels (a layout rewrite would resurrect the named files' dead
    rows) and rename column. Merges and cow DML proceed under a vector
    (tests/test_dv_positional.py)."""
    import pytest as _pytest

    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv2")
    runner.delete_where(spec, "o_orderkey % 13 = 1", mode="dv")
    n_dv = runner.read_target("dv2").count()
    rel = sorted(runner.current_manifest("dv2")["partitions"])[0]
    with _pytest.raises(RuntimeError, match="pending deletion vector"):
        runner.clone_shallow("dv2", "dv2_clone")
    with _pytest.raises(RuntimeError, match="pending deletion vector"):
        runner.replace_rels(spec, [rel], runner.read_target("dv2", rels=[rel]))
    with _pytest.raises(RuntimeError, match="pending deletion vector"):
        runner.rename_column("dv2", "o_totalprice", "price")
    # absorb unblocks; the deleted keys stay deleted in the clone
    runner.absorb_deletion_vectors(spec)
    runner.clone_shallow("dv2", "dv2_clone")
    out = runner.read_target("dv2_clone")
    assert out.filter("o_orderkey % 13 = 1").count() == 0
    assert out.count() == n_dv


def test_dv_deletes_flow_through_cdf_and_deleted_keys_since(spark, tmp_path):
    """table_changes emits DV'd keys as deletes even though no file list
    changed, and deleted_keys_since (the index deletion feed) sees them —
    the composition the delete-aware indexes rely on."""
    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv3")
    v1 = runner.current_manifest("dv3")["version"]
    res = runner.delete_where(spec, "o_orderkey % 17 = 2", mode="dv")
    ch = runner.table_changes("dv3", "o_orderkey", v1)
    rows = ch.collect()
    assert rows and all(r["_change_type"] == "delete" for r in rows)
    assert len(rows) == res["rows_matched"]
    assert all(r["o_orderkey"] % 17 == 2 for r in rows)
    dk = runner.deleted_keys_since("dv3", "o_orderkey", v1)
    assert dk is not None and dk.count() == res["rows_matched"]
    # absorb then diff across the absorb only: no NEW deletes reported
    v2 = runner.current_manifest("dv3")["version"]
    runner.absorb_deletion_vectors(spec)
    ch2 = runner.table_changes("dv3", "o_orderkey", v2)
    assert ch2.filter("_change_type = 'delete'").count() == 0


def test_dv_sidecar_gc_and_restore(spark, tmp_path, monkeypatch):
    """Vacuum reclaims sidecars no retained manifest references; RESTORE
    to a DV-bearing version revives its vector."""
    import os

    from mycarely_saas_dbt_spark import incremental as inc

    monkeypatch.setattr(inc.IncrementalRunner, "VACUUM_GRACE_SECONDS", 0)
    monkeypatch.setattr(inc.IncrementalRunner, "RETAIN_VERSIONS", 1)
    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv4")
    runner.delete_where(spec, "o_orderkey % 19 = 4", mode="dv")
    v_dv = runner.current_manifest("dv4")["version"]
    n_dv = runner.read_target("dv4").count()
    dvdir = os.path.join(runner.target_path("dv4"), runner._DV_DIR)
    assert os.listdir(dvdir)
    runner.absorb_deletion_vectors(spec)
    assert runner.read_target("dv4").count() == n_dv
    # absorb committed + vacuumed with RETAIN_VERSIONS=1: sidecar gone
    assert not [f for f in os.listdir(dvdir)] if os.path.isdir(dvdir) else True


def test_dv_restore_revives_vector(spark, tmp_path):
    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv5")
    runner.delete_where(spec, "o_orderkey % 23 = 6", mode="dv")
    v_dv = runner.current_manifest("dv5")["version"]
    n_dv = runner.read_target("dv5").count()
    runner.absorb_deletion_vectors(spec)
    runner.restore("dv5", v_dv)
    m = runner.current_manifest("dv5")
    assert (m.get("dv") or {}).get("files")
    assert runner.read_target("dv5").count() == n_dv


def test_compact_preserves_meta_and_absorbs_dv(spark, tmp_path):
    """OPTIMIZE semantics (r8): compaction must carry the manifest meta
    forward (txn ledgers / codebooks / generated-column defs survive a
    layout rewrite) and ABSORB a pending deletion vector — the rewrite
    reads through the DV filter, so deleted rows never land and the
    vector drops with the commit (Delta's compaction-absorbs-DVs)."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, str(tmp_path / "t"))
    spec = ModelSpec(
        "cmp_dv", "k", "day", None, partition_by=["day"],
        manifest_meta={"custom": {"payload": 42}},
    )
    import datetime as dt

    d1 = dt.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, d1, i * 10) for i in range(100)], "k bigint, day date, v bigint"
    )
    runner._atomic_write(spec, df)
    res = runner.delete_where(spec, "k % 10 = 3", mode="dv")
    assert res["rows_matched"] == 10

    out = runner.compact("cmp_dv", target_file_mb=1)
    m = runner.current_manifest("cmp_dv")
    assert m.get("meta") == {"custom": {"payload": 42}}, "meta lost in compact"
    assert not (m.get("dv") or {}).get("files"), "DV must be absorbed"
    back = runner.read_target("cmp_dv")
    assert back.count() == 90
    assert back.filter("k % 10 = 3").count() == 0
    # absorbed table is writable again (the DV guard no longer fires)
    runner.delete_where(spec, "k = 0")
    assert runner.read_target("cmp_dv").count() == 89


def test_backfill_preserves_meta_and_carries_pending_dv(spark, tmp_path):
    """Backfill (range rewrite) keeps the meta like compact does, and
    carries a pending deletion vector: the rebuilt range is
    authoritative (its keys come back from the build), while deletes
    outside the range survive — before and after the absorb."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    runner = IncrementalRunner(spark, str(tmp_path / "t"))
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)

    def build(sp, sfd, wm):
        return sp.createDataFrame(
            [(i, d1 if i < 50 else d2, i) for i in range(100)],
            "k bigint, day date, v bigint",
        )

    spec = ModelSpec(
        "bf_dv", "k", "day", build, partition_by=["day"],
        manifest_meta={"custom": {"payload": 7}},
    )
    runner.run(spec, SF_DIR)

    runner.backfill(spec, SF_DIR, start=d2, end=d2)
    m = runner.current_manifest("bf_dv")
    assert m.get("meta", {}).get("custom") == {"payload": 7}

    runner.delete_where(spec, "k % 9 = 4", mode="dv")
    runner.backfill(spec, SF_DIR, start=d2, end=d2)
    assert (runner.current_manifest("bf_dv").get("dv") or {}).get("files")
    # day-1 rows keep their deletes; day-2 was rebuilt by the full build
    # (which reintroduces its keys — authoritative range)
    for _ in range(2):
        out = runner.read_target("bf_dv")
        assert out.filter("day = DATE '2024-01-01' AND k % 9 = 4").count() == 0
        assert out.filter("day = DATE '2024-01-02' AND k % 9 = 4").count() == 5
        assert out.count() == 100 - 6
        runner.absorb_deletion_vectors(spec)


def test_dv_fallback_feed_reads_only_changed_and_dv_named_rels(
    spark, tmp_path
):
    """The snapshot-diff feed across a DV commit reads only the rels
    whose file lists changed plus the rels holding files the range's new
    sidecars name — never an unbounded snapshot — and nothing extra over
    a range in which the vector did not change."""
    runner, spec = _dv_boot(spark, str(tmp_path / "t"), "dv6")
    v1 = runner.current_manifest("dv6")["version"]
    cond = "o_orderkey BETWEEN 100 AND 200 AND o_orderstatus <> 'P'"
    # the rels holding the victims, from the data itself
    named = sorted(
        f"o_orderstatus={r[0]}"
        for r in runner.read_target("dv6")
        .filter(cond)
        .select("o_orderstatus")
        .distinct()
        .collect()
    )
    all_rels = sorted(runner.current_manifest("dv6")["partitions"])
    assert named and len(named) < len(all_rels), (named, all_rels)

    calls = []
    orig = runner.read_target

    def spy(name, **kw):
        calls.append(kw)
        return orig(name, **kw)

    runner.read_target = spy
    try:
        res = runner.delete_where(spec, cond, mode="dv")
        assert res["rows_matched"] > 0
        calls.clear()
        ch = runner.table_changes("dv6", "o_orderkey", v1).collect()
        assert len(ch) == res["rows_matched"]
        assert all(r["_change_type"] == "delete" for r in ch)
        # the DV commit changed no file list: exactly the named rels,
        # one read per end
        assert [kw.get("rels") for kw in calls] == [named, named], calls

        # a cow UPDATE in one rel while the vector stays unchanged: the
        # feed over it reads that rel only
        v2 = runner.current_manifest("dv6")["version"]
        row = orig("dv6").filter("o_orderkey > 1000").orderBy("o_orderkey").first()
        key = row["o_orderkey"]
        runner.update_where(spec, f"o_orderkey = {key}", {"o_custkey": "0"})
        calls.clear()
        ch2 = runner.table_changes("dv6", "o_orderkey", v2).collect()
        assert [r["o_orderkey"] for r in ch2] == [key]
        rel = [f"o_orderstatus={row['o_orderstatus']}"]
        assert [kw.get("rels") for kw in calls] == [rel, rel], calls
    finally:
        runner.read_target = orig

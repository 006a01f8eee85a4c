"""Deletion vectors: ``delete_where(mode="dv")`` records the
(file, row-ordinal) of each deleted PHYSICAL row in a sidecar, Delta's
semantics. A position never names a row written later, so re-inserting a
deleted key is unambiguous and every writer below proceeds under a
pending vector with read-through guarantees:

| writer                                   | pending DV behavior           |
|------------------------------------------|-------------------------------|
| incremental merge / merge_txn            | works (re-inserted keys live);|
|                                          | vector rides forward          |
| MERGE INTO insert-only                   | works; 0 files rewritten      |
| MERGE INTO matched / by-source clauses   | works; reads live rows only   |
| row-level DELETE/UPDATE (cow)            | works; absorbs its share      |
| backfill                                 | works; out-of-range deletes   |
|                                          | survive                       |
| full refresh (CTAS)                      | absorbs: authoritative        |
|                                          | rebuild drops the vector      |
| incremental full-rewrite (unpartitioned) | absorbs: rewrite reads        |
|                                          | through the vector            |
| compact / optimize_incremental           | absorb / carry (test_dml.py,  |
|                                          | test_optimize_incremental.py) |
| shallow clone, replace_rels, rename      | refuse until absorbed         |
|                                          | (test_dml.py)                 |

The change feed across a DV commit works with or without change_data:
without it, rels holding files named by sidecars added in the range join
the snapshot diff, each end read through its own vector."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, day string, v long")


def _boot(spark, root, name, partitioned=True, **spec_kw):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    def build(sp, sfd, wm):
        return _mk(
            sp, [(i, "d1" if i % 2 == 0 else "d2", i * 10) for i in range(40)]
        )

    spec = ModelSpec(
        name, "k", "k", build,
        partition_by=["day"] if partitioned else [], **spec_kw,
    )
    runner = IncrementalRunner(spark, root)
    runner.run(spec, SF_DIR)
    res = runner.delete_where(spec, "k % 10 = 3", mode="dv")
    assert res["files_rewritten"] == 0 and res["rows_matched"] == 4
    # the vector is its sidecar list; sidecars hold (file, pos) only
    dv = runner.current_manifest(name)["dv"]
    assert set(dv) == {"files"} and dv["files"]
    side = spark.read.parquet(
        *[os.path.join(root, name, "_dv", f) for f in dv["files"]]
    )
    assert side.columns == ["file", "pos"]
    return runner, spec


def test_reinserted_key_works_and_other_deletes_survive(spark, tmp_path):
    """An incremental merge re-inserting a deleted key: the new row
    lives (new file — no position can name it), the other deleted rows
    stay dead by (file, ordinal), and the vector rides forward."""
    runner, spec = _boot(spark, str(tmp_path / "t"), "p1")
    r = runner.merge_txn(
        spec, _mk(spark, [(3, "d2", 999), (100, "d1", 1)]),
        app_id="a", txn_version=1,
    )
    assert not r.get("skipped")
    out = runner.read_target("p1")
    assert [tuple(x) for x in out.filter("k = 3").collect()] == [(3, "d2", 999)]
    assert out.filter("k IN (13, 23, 33)").count() == 0
    assert out.count() == 36 + 2
    assert runner.current_manifest("p1")["dv"]["files"]


def test_incremental_merge_disjoint_keys_allowed_vector_survives(
    spark, tmp_path
):
    runner, spec = _boot(spark, str(tmp_path / "t"), "m1")
    batch = _mk(spark, [(100, "d1", 1), (101, "d2", 2)])
    r = runner.merge_txn(spec, batch, app_id="a", txn_version=1)
    assert not r.get("skipped")
    m = runner.current_manifest("m1")
    assert (m.get("dv") or {}).get("files"), "vector must ride forward"
    out = runner.read_target("m1")
    assert out.filter("k % 10 = 3").count() == 0, "deleted keys stay dead"
    assert out.filter("k >= 100").count() == 2
    assert out.count() == 40 - 4 + 2


def test_merge_into_matched_by_source_and_reused_insert_work(spark, tmp_path):
    """Matched UPDATE, by-source DELETE, and an insert-only merge
    re-using a deleted key all proceed reading through the vector."""
    runner, spec = _boot(spark, str(tmp_path / "t"), "p2")
    runner.merge_into(
        spec, _mk(spark, [(0, "d1", 555)]),
        on="t.k = s.k", matched=[("update", None, {"v": "s.v"})],
    )
    out = runner.read_target("p2")
    assert out.filter("k = 0").first()["v"] == 555
    assert out.filter("k % 10 = 3").count() == 0 and out.count() == 36

    # insert-only re-use of a dead key: lands as a NEW live row
    runner.merge_into(
        spec, _mk(spark, [(13, "d2", 777)]),
        on="t.k = s.k", not_matched=[("insert", None, None)],
    )
    out = runner.read_target("p2")
    assert out.filter("k = 13").first()["v"] == 777
    assert out.count() == 37

    # by-source delete sees only LIVE target rows
    runner.merge_into(
        spec, _mk(spark, [(0, "d1", 0)]),
        on="t.k = s.k", not_matched_by_source=[("delete", "t.k = 2", None)],
    )
    out = runner.read_target("p2")
    assert out.filter("k = 2").count() == 0 and out.count() == 36


def test_merge_into_insert_only_disjoint_allowed_zero_rewrites(
    spark, tmp_path
):
    runner, spec = _boot(spark, str(tmp_path / "t"), "m3")
    src = _mk(spark, [(200, "d1", 5), (201, "d2", 6)])
    res = runner.merge_into(
        spec, src, on="t.k = s.k", not_matched=[("insert", None, None)]
    )
    assert res["files_rewritten"] == 0
    assert res["rows_inserted"] == 2
    m = runner.current_manifest("m3")
    assert (m.get("dv") or {}).get("files"), "vector must ride forward"
    out = runner.read_target("m3")
    assert out.filter("k % 10 = 3").count() == 0
    assert out.count() == 36 + 2


def test_row_level_dml_works_and_absorbs_its_share(spark, tmp_path):
    runner, spec = _boot(spark, str(tmp_path / "t"), "p3")
    runner.update_where(spec, "k = 0", {"v": "v + 7"})
    out = runner.read_target("p3")
    assert out.filter("k = 0").first()["v"] == 7
    assert out.filter("k % 10 = 3").count() == 0 and out.count() == 36
    runner.delete_where(spec, "k = 2")  # cow delete under pending vector
    out = runner.read_target("p3")
    assert out.count() == 35


def test_backfill_in_range_rebuild_keeps_out_of_range_deletes(
    spark, tmp_path
):
    """Backfill flips too: replaced partitions are authoritative; the
    carried vector keeps out-of-range files' deletes."""
    import datetime as dt

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)

    def build(sp, sfd, wm):
        return sp.createDataFrame(
            [(i, d1 if i % 2 == 0 else d2, i * 10) for i in range(40)],
            "k long, day date, v long",
        )

    spec = ModelSpec("p4", "k", "k", build, partition_by=["day"])
    runner = IncrementalRunner(spark, str(tmp_path / "t"))
    runner.run(spec, SF_DIR)
    runner.delete_where(spec, "k % 10 = 3", mode="dv")
    runner.backfill(spec, SF_DIR, d1, d1)  # rebuild ONLY the d1 partition
    out = runner.read_target("p4")
    # d1 rebuilt authoritative (k=...even... no even k ends in 3, so d1
    # unaffected by deletes); d2's deletes (3, 13, 23, 33) survive
    assert out.filter("k IN (3, 13, 23, 33)").count() == 0
    assert out.count() == 36


def test_absorb_positional_rewrites_named_files_then_clears(spark, tmp_path):
    runner, spec = _boot(spark, str(tmp_path / "t"), "p5")
    res = runner.absorb_deletion_vectors(spec)
    assert res["rows_deleted"] == 4 and res["files_rewritten"] > 0
    m = runner.current_manifest("p5")
    assert not (m.get("dv") or {}).get("files")
    out = runner.read_target("p5")
    assert out.filter("k % 10 = 3").count() == 0 and out.count() == 36
    # re-running is a no-op
    assert runner.absorb_deletion_vectors(spec)["rows_deleted"] == 0


def _stream_rows(reader, s, e):
    return sorted(
        tuple(b.to_pylist()[i].values())
        for p in reader.partitions({"version": s}, {"version": e})
        for b in reader.read(p)
        for i in range(b.num_rows)
    )


def test_feed_works_without_change_data_and_with_it(
    spark, tmp_path, monkeypatch
):
    """The change feed across a DV commit, with and without
    change_data: batch table_changes and the streaming reader agree on
    every range, and a key deleted then re-inserted inside the range
    nets to an UPDATE. Without change files the snapshot diff serves it
    — the rel the new sidecar names joins the diff, each end read
    through its own vector."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        ManifestCDFStreamReader,
    )

    monkeypatch.setattr(IncrementalRunner, "RETAIN_VERSIONS", 10)
    for i, change_data in enumerate((False, True)):
        root, name = str(tmp_path / f"t{i}"), f"p6{i}"
        kw = {"change_data": True, "cdc_buckets": 3} if change_data else {}
        runner, spec = _boot(spark, root, name, **kw)  # v1 boot, v2 DV
        runner.merge_txn(
            spec, _mk(spark, [(3, "d2", 999)]), app_id="a", txn_version=1
        )  # v3: re-insert a key deleted at v2
        r = ManifestCDFStreamReader({"root": root, "model": name, "key": "k"})
        for s, e in [(1, 2), (2, 3), (1, 3)]:
            want = sorted(
                tuple(row) for row in runner.table_changes(name, "k", s, e).collect()
            )
            assert _stream_rows(r, s, e) == want, (change_data, s, e)
        ch = {
            (row["k"], row["_change_type"]): row["v"]
            for row in runner.table_changes(name, "k", 1, 3).collect()
        }
        # net over (v1, v3]: k=3 deleted (image 30) then re-inserted
        # (999) -> UPDATE; 13/23/33 -> plain deletes
        assert ch == {
            (3, "update_postimage"): 999,
            (13, "delete"): 130,
            (23, "delete"): 230,
            (33, "delete"): 330,
        }, (change_data, ch)


def test_streaming_fallback_reads_through_unchanged_positional_vector(
    spark, tmp_path, monkeypatch
):
    """A NON-change-data commit after a DV delete (dv unchanged
    across the batch): the rel-diff fallback must read both snapshots
    through the (file, ordinal) map — a reader that ignored positions
    would emit spurious deletes for the rewritten partition's dead
    rows."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        ManifestCDFStreamReader,
    )

    monkeypatch.setattr(IncrementalRunner, "RETAIN_VERSIONS", 10)
    runner, spec = _boot(spark, str(tmp_path / "t"), "p8")  # v1 boot, v2 DV
    runner.merge_txn(
        spec, _mk(spark, [(100, "d1", 1)]), app_id="a", txn_version=1
    )  # v3: plain append into d1 (rewrites d1's partition)
    r = ManifestCDFStreamReader(
        {"root": str(tmp_path / "t"), "model": "p8", "key": "k"}
    )
    rows = _stream_rows(r, 2, 3)
    assert rows == [(100, "d1", 1, "insert")], rows


def test_rebase_carries_cdc_and_refuses_concurrent_dv_change(
    spark, tmp_path, monkeypatch
):
    """r10 rebase hardening: (a) a partition-scoped writer racing a
    DISJOINT commit keeps its own change-data descriptor through the
    rebase (previously any extra manifest field was silently dropped);
    (b) a deletion-vector commit landing between a writer's read and its
    commit REFUSES — the staged rewrite was produced without that
    vector's deletes, so neither side's vector can be carried blindly."""
    import dataclasses

    import pytest

    from mycarely_saas_dbt_spark import incremental as inc

    def mkspec(name, build, **kw):
        return inc.ModelSpec(
            name, "k", "k", build, partition_by=["day"], **kw
        )

    def rows(lo, hi, day):
        def build(sp, sfd, wm):
            return _mk(sp, [(i, day, i * 10) for i in range(lo, hi)])

        return build

    # --- (a) cdc survives the rebase
    root = str(tmp_path / "a")
    ra, rb = inc.IncrementalRunner(spark, root), inc.IncrementalRunner(
        spark, root
    )
    boot = mkspec("t", rows(0, 4, "d1"), change_data=True, cdc_buckets=2)
    ra.run(boot, SF_DIR)  # v1 bootstrap (d1)
    ra.run(
        dataclasses.replace(boot, build=rows(100, 104, "d2")), SF_DIR
    )  # v2: d2

    orig = rb._commit_manifest
    fired = {}

    def inject(name, manifest, **kw):
        if not fired:
            fired["x"] = 1
            # A lands a DISJOINT d2 merge after B's read, before B's commit
            ra.run(
                dataclasses.replace(boot, build=rows(104, 108, "d2")), SF_DIR
            )
        return orig(name, manifest, **kw)

    monkeypatch.setattr(rb, "_commit_manifest", inject)
    rb.run(dataclasses.replace(boot, build=rows(4, 8, "d1")), SF_DIR)
    cur = rb.current_manifest("t")
    assert cur["version"] == 4  # both landed
    cdc = cur.get("cdc")
    assert cdc and cdc.get("files"), "rebased commit lost its cdc descriptor"
    # B's change rows are intact: the feed reports exactly B's inserts
    ch = rb.table_changes("t", "k", 3, 4).collect()
    assert sorted(r["k"] for r in ch) == [4, 5, 6, 7]
    assert all(r["_change_type"] == "insert" for r in ch)

    # --- (b) concurrent DV change refuses the rebase
    root2 = str(tmp_path / "b")
    rc, rd = inc.IncrementalRunner(spark, root2), inc.IncrementalRunner(
        spark, root2
    )
    boot2 = mkspec("u", rows(0, 8, "d1"))
    rc.run(boot2, SF_DIR)
    rc.run(dataclasses.replace(boot2, build=rows(100, 104, "d2")), SF_DIR)

    orig2 = rd._commit_manifest
    fired2 = {}

    def inject2(name, manifest, **kw):
        if not fired2:
            fired2["x"] = 1
            rc.delete_where(boot2, "k = 0", mode="dv")  # DV lands mid-race
        return orig2(name, manifest, **kw)

    monkeypatch.setattr(rd, "_commit_manifest", inject2)
    with pytest.raises(RuntimeError, match="deletion-vector"):
        rd.run(dataclasses.replace(boot2, build=rows(104, 108, "d2")), SF_DIR)


def test_streaming_fallback_drops_dead_ordinals_in_diffed_rel(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: the untested leg — a DIFFED rel whose OLD-side files
    actually CARRY tombstoned ordinals. _boot's victims (k%10=3, all
    odd) live in d2; a later non-change-data merge into d2 rewrites that
    partition (new files absorb, old files stay dirty), dv unchanged
    across the batch. The rel diff must read the OLD side through the
    (file, ordinal) map — a reader that skipped it (or whose sidecar
    path normalization failed to match load()'s plain os paths) would
    resurrect the dead rows as spurious deletes."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        ManifestCDFStreamReader,
    )

    monkeypatch.setattr(IncrementalRunner, "RETAIN_VERSIONS", 10)
    runner, spec = _boot(spark, str(tmp_path / "t"), "p9")  # v1 boot, v2 DV
    runner.merge_txn(
        spec, _mk(spark, [(101, "d2", 1)]), app_id="a", txn_version=1
    )  # v3: merge into d2 — the partition holding the dead ordinals
    r = ManifestCDFStreamReader(
        {"root": str(tmp_path / "t"), "model": "p9", "key": "k"}
    )
    rows = _stream_rows(r, 2, 3)
    assert rows == [(101, "d2", 1, "insert")], rows


def test_fs_path_normalizes_every_uri_spelling():
    """The sidecar 'file' column is Spark's _metadata.file_path verbatim;
    the batch reader and the stream source both map it through the one
    util.fs_path rule, which must turn every Hadoop path spelling —
    file:/x, file:///x, percent-encoded — into the plain path manifests
    and pyarrow readers use."""
    from mycarely_saas_dbt_spark.util import fs_path

    table = [
        ("/plain/path/part-0.parquet", "/plain/path/part-0.parquet"),
        ("file:/data/t/day=d2/part-0.parquet", "/data/t/day=d2/part-0.parquet"),
        ("file:///data/t/day=d2/part-0.parquet", "/data/t/day=d2/part-0.parquet"),
        ("file:/data/t/day=d%202/part-0.parquet", "/data/t/day=d 2/part-0.parquet"),
        ("file:///data/t/day=d%202/part-0.parquet", "/data/t/day=d 2/part-0.parquet"),
    ]
    for uri, want in table:
        assert fs_path(uri) == want, uri


def test_full_refresh_absorbs_vector(spark, tmp_path):
    runner, spec = _boot(spark, str(tmp_path / "t"), "m7")
    runner.run(spec, SF_DIR, full_refresh=True)
    m = runner.current_manifest("m7")
    assert not (m.get("dv") or {}).get("files")
    # authoritative rebuild: the build fn's rows are the table
    assert runner.read_target("m7").count() == 40


def test_unpartitioned_incremental_rewrite_absorbs_vector(spark, tmp_path):
    """The full-rewrite incremental path reads the target THROUGH the
    vector and commits a fresh file set: the vector is absorbed in the
    same commit (deleted rows stay gone, the manifest drops `dv`)."""
    import dataclasses

    runner, spec = _boot(spark, str(tmp_path / "t"), "m8", partitioned=False)

    def build2(sp, sfd, wm):
        return _mk(sp, [(300, "d1", 1)])

    runner.run(dataclasses.replace(spec, build=build2), SF_DIR)
    m = runner.current_manifest("m8")
    assert not (m.get("dv") or {}).get("files"), "full rewrite absorbs"
    out = runner.read_target("m8")
    assert out.filter("k % 10 = 3").count() == 0
    assert out.count() == 36 + 1


def test_degenerate_dv_shapes_commit_nothing(spark, tmp_path):
    """A DV delete matching no row, a DV delete whose prune excludes
    every file, and an absorb with no pending vector each commit no
    version and leave no sidecar, staging dir or empty ``_dv/``; the
    retired ``dv_pos`` mode is an unknown mode."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec

    root = str(tmp_path / "t")

    def build(sp, sfd, wm):
        return _mk(sp, [(i, "d1" if i % 2 == 0 else "d2", i) for i in range(10)])

    spec = ModelSpec("g", "k", "k", build, partition_by=["day"])
    runner = IncrementalRunner(spark, root)
    runner.run(spec, SF_DIR)
    v = runner.current_manifest("g")["version"]
    before = sorted(os.listdir(root)), sorted(os.listdir(runner.target_path("g")))

    res = runner.delete_where(spec, "k > 1000", mode="dv")
    assert res["rows_matched"] == 0 and res["version"] == v
    res = runner.delete_where(spec, "k = 1", mode="dv", prune={"k": (500, 600)})
    assert res["files_scanned"] == 0 and res["version"] == v
    res = runner.absorb_deletion_vectors(spec)
    assert res["files_rewritten"] == 0 and res["version"] == v

    assert runner.current_manifest("g")["version"] == v
    assert "dv" not in runner.current_manifest("g")
    after = sorted(os.listdir(root)), sorted(os.listdir(runner.target_path("g")))
    assert after == before, (before, after)
    with pytest.raises(ValueError, match="unknown delete mode"):
        runner.delete_where(spec, "k = 1", mode="dv_pos")
    assert runner.read_target("g").count() == 10

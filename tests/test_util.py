"""Unit coverage for the engine utilities' caching contracts."""

from __future__ import annotations


def test_bounded_persist_unpersists_previous_generation(spark):
    from mycarely_saas_dbt_spark.util import bounded_persist

    a = spark.range(10)
    pa = bounded_persist(a, "test:frame")
    pa.count()
    assert pa.storageLevel.useMemory or pa.storageLevel.useDisk

    pb = bounded_persist(spark.range(20), "test:frame")
    # the previous generation under the same key must be released
    assert not (pa.storageLevel.useMemory or pa.storageLevel.useDisk)
    pb.count()
    assert pb.storageLevel.useMemory or pb.storageLevel.useDisk
    # different keys do not evict each other
    pc = bounded_persist(spark.range(5), "test:other")
    pc.count()
    assert pb.storageLevel.useMemory or pb.storageLevel.useDisk
    pb.unpersist(), pc.unpersist()


def test_session_memo_builds_once_and_invalidates_on_input_change(
    spark, tmp_path, monkeypatch
):
    """session_memo must (a) run the builder exactly once for repeated
    calls over unchanged inputs, (b) rebuild when the keyed input file's
    stat changes, and (c) rebuild every call when disabled via
    MYCARELY_SESSION_MEMO=0 — the cold/A-B path."""
    import os

    from mycarely_saas_dbt_spark import util

    p = tmp_path / "documents.parquet"
    spark.range(5).write.mode("overwrite").parquet(str(p))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    a = util.session_memo("test:memo", str(tmp_path), ("documents.parquet",), build)
    b = util.session_memo("test:memo", str(tmp_path), ("documents.parquet",), build)
    assert calls["n"] == 1
    assert a is b
    assert a.count() == 3

    # stat change (rewrite) invalidates
    spark.range(7).write.mode("overwrite").parquet(str(p))
    os.utime(p, ns=(1, 1))  # force an mtime delta even on coarse clocks
    util.session_memo("test:memo", str(tmp_path), ("documents.parquet",), build)
    assert calls["n"] == 2

    # kill switch: every call rebuilds
    monkeypatch.setenv("MYCARELY_SESSION_MEMO", "0")
    c = util.session_memo("test:memo", str(tmp_path), ("documents.parquet",), build)
    d = util.session_memo("test:memo", str(tmp_path), ("documents.parquet",), build)
    assert calls["n"] == 4
    assert c is not d

"""Write-time change files are range-clustered on the key bucket: each
file holds a disjoint, contiguous bucket range recorded in the commit's
cdc descriptor. Every degenerate shape must give the same feed three
ways — the batch ``table_changes`` (change files), the streaming CDF
reader (bucket-range legs) and the ``_changes_between`` snapshot diff."""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import pytest

D1 = dt.date(2024, 1, 1)
BUCKETS = 256


def _spec(build):
    from mycarely_saas_dbt_spark.incremental import ModelSpec

    return ModelSpec(
        "t", "k", "day", build, partition_by=["day"], change_data=True,
        cdc_buckets=BUCKETS,
    )


@pytest.fixture
def runner(spark, tmp_path, monkeypatch):
    """A change-data table of keys 0..599, committed as version 1."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner

    monkeypatch.setattr(IncrementalRunner, "RETAIN_VERSIONS", 10)
    r = IncrementalRunner(spark, str(tmp_path / "tgt"))
    r.run(
        _spec(lambda sp, sfd, wm: sp.createDataFrame(
            [(i, D1, i) for i in range(600)], "k bigint, day date, v bigint"
        )),
        "x",
    )
    return r


def _reader(r, **opts):
    from mycarely_saas_dbt_spark.sources.pydatasource import (
        ManifestCDFStreamReader,
    )

    return ManifestCDFStreamReader({
        "root": r.target_root, "model": "t", "key": "k", "preimages": "true",
        **opts,
    })


def _stream_rows(reader, legs):
    return sorted(
        tuple(b.to_pylist()[i].values())
        for p in legs for b in reader.read(p) for i in range(b.num_rows)
    )


def _feeds_agree(r, s, e, **opts):
    """Batch, streaming and snapshot-diff feeds over (s, e] are one row
    set; returns it with the streaming legs that produced it."""
    from mycarely_saas_dbt_spark.incremental import _changes_between
    from mycarely_saas_dbt_spark.sources.pydatasource import _CdfChangeBucket

    batch = sorted(
        tuple(x) for x in r.table_changes("t", "k", s, e, preimages=True)
        .collect()
    )
    diff = _changes_between(
        r.read_target("t", version=s), r.read_target("t", version=e), "k",
        preimages=True,
    )
    snap = sorted(tuple(x) for x in diff.collect())
    reader = _reader(r, **opts)
    legs = reader.partitions({"version": s}, {"version": e})
    stream = _stream_rows(reader, legs)
    assert batch == snap, (batch[:4], snap[:4])
    assert stream == snap, (stream[:4], snap[:4])
    cdf_legs = [p for p in legs if isinstance(p, _CdfChangeBucket)]
    buckets = [b for p in cdf_legs for b in p.buckets]
    assert len(buckets) == len(set(buckets))  # legs never share a bucket
    return snap, cdf_legs


def _bucket_of(spark, keys):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    return {
        x["k"]: x["b"]
        for x in df.select(
            "k", F.pmod(F.xxhash64("k"), F.lit(BUCKETS)).alias("b")
        ).collect()
    }


def _cdc(r):
    return r.current_manifest("t")["cdc"]


def _file_buckets(r, cdc, f):
    import pyarrow.parquet as pq

    p = os.path.join(
        r.target_path("t"), "_change_data", cdc["dir"], f["path"]
    )
    return pq.read_table(p, columns=["__cdc_bucket"]).column(0).to_pylist()


def test_empty_change_set_writes_no_files(runner):
    cdir = os.path.join(runner.target_path("t"), "_change_data")
    before = set(os.listdir(cdir)) if os.path.isdir(cdir) else set()
    # rewrites key 3 with its own value: the commit changes nothing
    runner.update_where(_spec(None), "k = 3", {"v": "v"})
    v = runner.current_manifest("t")["version"]
    assert v == 2
    assert _cdc(runner) == {"key": "k", "buckets": BUCKETS, "files": []}
    after = set(os.listdir(cdir)) if os.path.isdir(cdir) else set()
    assert after == before  # no directory (nor staging dir) left behind
    rows, legs = _feeds_agree(runner, 1, 2)
    assert rows == [] and legs == []


def test_one_row_commit(spark, runner):
    runner.delete_where(_spec(None), "k = 7")
    cdc = _cdc(runner)
    b = _bucket_of(spark, [7])[7]
    assert [(f["lo"], f["hi"]) for f in cdc["files"]] == [(b, b)]
    rows, legs = _feeds_agree(runner, 1, 2)
    assert rows == [(7, D1, 7, "delete")]
    assert [(p.lo, p.hi) for p in legs] == [(b, b)]


def test_every_change_in_one_bucket(spark, runner):
    bmap = _bucket_of(spark, range(600))
    ((b, _),) = Counter(bmap.values()).most_common(1)
    keys = sorted(k for k, v in bmap.items() if v == b)
    assert len(keys) >= 2
    runner.update_where(
        _spec(None), f"k IN ({','.join(map(str, keys))})", {"v": "v + 1"}
    )
    cdc = _cdc(runner)
    assert [(f["lo"], f["hi"]) for f in cdc["files"]] == [(b, b)]
    rows, legs = _feeds_agree(runner, 1, 2, cdftasktargetbytes="1")
    assert len(rows) == 2 * len(keys)  # pre + post image per key
    # the one-bucket floor: a bucket over the byte cap still rides alone
    assert [(p.lo, p.hi) for p in legs] == [(b, b)]


def test_commit_over_all_buckets_spans_several_files(spark, runner):
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2k")
    # AQE's coalescing target never drops below the minimum partition
    # size (1 MB by default), so it is lowered along with the advisory
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k"
    )
    try:
        runner.update_where(_spec(None), "k % 2 = 0", {"v": "v + 1000"})
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        )
    cdc = _cdc(runner)
    files = cdc["files"]
    assert len(files) > 1
    ranges = sorted((f["lo"], f["hi"]) for f in files)
    # disjoint, contiguous ranges, each exactly its file's bucket span
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges
    for f in files:
        got = _file_buckets(runner, cdc, f)
        assert (min(got), max(got)) == (f["lo"], f["hi"])
    bmap = _bucket_of(spark, range(0, 600, 2))
    assert ranges[0][0] == min(bmap.values())
    assert ranges[-1][1] == max(bmap.values())
    rows, legs = _feeds_agree(runner, 1, 2)
    assert len(rows) == 600
    # a later commit's one file overlaps every earlier file's range: a
    # two-version feed nets across both layouts
    runner.update_where(_spec(None), "k % 3 = 0", {"v": "v + 7"})
    assert len(_cdc(runner)["files"]) == 1
    _feeds_agree(runner, 1, 3, cdftasktargetbytes="3000")


def test_stream_leg_cuts_through_a_file(spark, runner):
    """A small commit writes ONE change file at 256 buckets; a tight byte
    target then cuts that file into several legs, each keeping only the
    rows of its own bucket range."""
    runner.update_where(_spec(None), "k < 200", {"v": "v + 1"})
    cdc = _cdc(runner)
    assert len(cdc["files"]) == 1  # 400 change rows, one file
    (f,) = cdc["files"]
    rows, legs = _feeds_agree(runner, 1, 2, cdftasktargetbytes="1000")
    assert len(rows) == 400
    assert len(legs) > 1
    assert all(len(p.files) == 1 for p in legs)  # every leg reads the file
    assert any((p.lo, p.hi) != (f["lo"], f["hi"]) for p in legs)
    bmap = _bucket_of(spark, range(200))
    reader = _reader(runner, cdftasktargetbytes="1000")
    for p in legs:
        keys = {x[0] for x in _stream_rows(reader, [p])}
        assert keys and all(p.lo <= bmap[k] <= p.hi for k in keys)

def test_bm25_index_warm_build_is_metadata_only(spark):
    """A second whole-corpus build with an unchanged corpus is ONE
    manifest JSON read — no Spark touch (poisoned-session proof, the
    ANN-index pattern). A different ``bound``, or an append since the
    bootstrap, rebuilds; the rebuilt bootstrap is warm again."""
    import tempfile

    from mycarely_saas_dbt_spark.operators import textops as t
    from tests.conftest import SF_DIR

    class _Poison:
        def __getattr__(self, name):  # pragma: no cover - failure path
            raise AssertionError(f"Spark touched (.{name}) on warm path")

    root = tempfile.mkdtemp(prefix="bm25_idx_test_")
    m1 = t.bm25_seg_index_build(spark, SF_DIR, root)
    m2 = t.bm25_seg_index_build(_Poison(), SF_DIR, root)
    assert m2 == m1
    meta1 = m1["meta"]["bm25"]
    assert meta1["N"] > 0 and meta1["bound"] is None and meta1["segs"] == 1

    hi = t._source_max_doc_id(spark, SF_DIR)
    m3 = t.bm25_seg_index_build(spark, SF_DIR, root, bound=hi)
    assert m3["version"] == m1["version"] + 1
    assert m3["meta"]["bm25"]["bound"] == hi
    assert m3["meta"]["bm25"]["N"] < meta1["N"]
    assert t.bm25_seg_index_build(_Poison(), SF_DIR, root, bound=hi) == m3

    m4 = t.bm25_seg_index_append(spark, SF_DIR, root)
    assert m4["meta"]["bm25"]["segs"] == 2
    m5 = t.bm25_seg_index_build(spark, SF_DIR, root, bound=hi)
    assert m5["version"] == m4["version"] + 1
    assert m5["meta"]["bm25"] == m3["meta"]["bm25"]
    assert t.bm25_seg_index_build(_Poison(), SF_DIR, root, bound=hi) == m5


def test_bm25_index_search_matches_transient_and_prunes_buckets(spark):
    """The committed-index query returns exactly bm25_search's rows, and
    its postings scan statically prunes to the query terms' bucket
    partitions."""
    import re

    from mycarely_saas_dbt_spark.operators.textops import (
        bm25_index_search,
        bm25_search,
    )
    from tests.conftest import SF_DIR

    idx = bm25_index_search(spark, SF_DIR)
    got = {tuple(r) for r in idx.collect()}
    want = {tuple(r) for r in bm25_search(spark, SF_DIR).collect()}
    assert got == want
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan

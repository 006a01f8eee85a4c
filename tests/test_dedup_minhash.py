"""Per-document MinHash signatures on degenerate documents, the cold
(unmemoized) pair build, and the distributed connected-components loop,
each against the DuckDB oracle at sf0.001."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL, assert_df_matches_oracle

NULL_IDS = (900_001, 900_002)


@pytest.fixture(scope="module")
def small_duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'")
    yield con
    con.close()


def _degenerate_docs(spark):
    """sf0.001's documents plus: two NULL texts, two empty texts, two
    identical texts shorter than one shingle, two docs whose shingles all
    repeat (one distinct shingle each, different lengths), and an exact
    copy of an existing doc under a new id."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.operators.dedup import SHINGLE_LEN

    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    first = base.orderBy("doc_id").first()
    short = "x" * (SHINGLE_LEN - 3)
    extra = spark.createDataFrame(
        [
            (NULL_IDS[0], None),
            (NULL_IDS[1], None),
            (900_003, ""),
            (900_004, ""),
            (900_005, short),
            (900_006, short),
            (900_007, "abcd" * 6),
            (900_008, "abcd" * 9),
            (900_009, first["text"]),
        ],
        "doc_id bigint, text string",
    )
    return base.unionByName(extra.withColumn("doc_id", F.col("doc_id").cast("long")))


def _duck_over(docs):
    con = duckdb.connect()
    con.register("docs_df", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_df")
    return con


def test_degenerate_docs_signatures_match_oracle(spark):
    """doc_signatures' in-row arrays equal the exploded shingle-row form
    (DuckDB) doc by doc — including NULL text (NULL minhashes, one NULL
    shingle), empty text, sub-shingle text and all-repeat shingles."""
    from mycarely_saas_dbt_spark.operators.dedup import (
        MINHASH_P,
        N_HASHES,
        SHINGLE_LEN,
        SHINGLE_STRIDE,
        _sig_with_nsh,
    )

    docs = _degenerate_docs(spark)
    mh = ", ".join(
        f"CAST(MIN((h1 + {i} * h2) % {MINHASH_P}) AS BIGINT) AS mh{i}"
        for i in range(N_HASHES)
    )
    sql = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS s
        FROM documents,
             UNNEST(range(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1) + 1,
                          {SHINGLE_STRIDE})) AS t(i)
    ), hh AS (
        SELECT doc_id,
               ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS h1,
               ('0x' || substr(md5(s), 17, 15))::BIGINT % {MINHASH_P} AS h2
        FROM sh
    )
    SELECT doc_id, {mh}, CAST(COUNT(*) AS BIGINT) AS n_sh FROM hh GROUP BY doc_id
    """
    con = _duck_over(docs)
    try:
        assert_df_matches_oracle(_sig_with_nsh(docs), con, sql)
    finally:
        con.close()
    nulls = {
        r["doc_id"]: r
        for r in _sig_with_nsh(docs).filter("doc_id >= 900001").collect()
    }
    assert nulls[NULL_IDS[0]]["mh0"] is None and nulls[NULL_IDS[0]]["n_sh"] == 1
    assert nulls[900_007]["n_sh"] == 1 and nulls[900_008]["n_sh"] == 1


def test_degenerate_docs_pairs_match_oracle(spark):
    """The pair build over the degenerate corpus equals the DuckDB
    oracle, and NULL-text docs never become candidates: their band keys
    are NULL, not md5('') (which would pair them with each other, and
    array_intersect([NULL], [NULL]) would then verify them at 1.0)."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.operators.dedup import (
        _banded_candidates,
        _build_minhash_pairs,
        _minhash_oracle,
        doc_signatures,
    )

    docs = _degenerate_docs(spark)
    con = _duck_over(docs)
    try:
        assert_df_matches_oracle(
            _build_minhash_pairs(spark, docs=docs), con, _minhash_oracle()
        )
    finally:
        con.close()
    got = {(r["doc_a"], r["doc_b"]) for r in _build_minhash_pairs(spark, docs=docs).collect()}
    # empty, sub-shingle, all-repeat and copied docs pair up exactly
    assert {(900_003, 900_004), (900_005, 900_006), (900_007, 900_008)} <= got
    assert any(b == 900_009 for _, b in got)
    cand = _banded_candidates(doc_signatures(docs))
    assert cand.filter(
        F.col("doc_a").isin(*NULL_IDS) | F.col("doc_b").isin(*NULL_IDS)
    ).count() == 0


def test_cold_pair_build_equals_memoized(spark, small_duck, monkeypatch):
    """MYCARELY_SESSION_MEMO=0 rebuilds the pair relation on every call;
    it must return exactly the memoized pairs (and the oracle's)."""
    from mycarely_saas_dbt_spark.operators.dedup import (
        _minhash_oracle,
        dedup_minhash_lsh,
    )

    warm = dedup_minhash_lsh(spark, SF_SMALL)
    assert dedup_minhash_lsh(spark, SF_SMALL) is warm  # memo hit
    monkeypatch.setenv("MYCARELY_SESSION_MEMO", "0")
    cold = dedup_minhash_lsh(spark, SF_SMALL)
    assert cold is not warm
    assert sorted(map(tuple, cold.collect())) == sorted(map(tuple, warm.collect()))
    assert_df_matches_oracle(cold, small_duck, _minhash_oracle())


@pytest.mark.parametrize(
    "name", ["dedup_cc_clusters", "dedup_canonical_keep"]
)
def test_cc_distributed_loop_matches_driver_path(spark, small_duck, monkeypatch, name):
    """MYCARELY_CC_DRIVER=0 forces connected_components' distributed
    min-label loop (otherwise taken only above CC_DRIVER_MAX edges): its
    clusters equal the driver-side union-find's and the oracle's. The
    loop is told apart by its checkpoints: the driver path takes none
    (the pair relation it reads is a checkpoint already; the memoized
    pair build may add one)."""
    from mycarely_saas_dbt_spark.operators import dedup as dd

    fn, oracle = {
        "dedup_cc_clusters": (dd.dedup_cc_clusters, dd._cc_oracle()),
        "dedup_canonical_keep": (dd.dedup_canonical_keep, dd._canonical_keep_oracle()),
    }[name]
    calls = []
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    orig = frame_cls.localCheckpoint

    def counted(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counted)
    driver = fn(spark, SF_SMALL)
    assert len(calls) <= 1
    driver = sorted(map(tuple, driver.collect()))
    monkeypatch.setenv("MYCARELY_CC_DRIVER", "0")
    calls.clear()
    distributed = fn(spark, SF_SMALL)
    assert len(calls) >= 3  # edges, symmetric edges, >= 1 label round
    assert sorted(map(tuple, distributed.collect())) == driver
    assert_df_matches_oracle(distributed, small_duck, oracle)

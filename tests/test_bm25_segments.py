"""Segmented BM25 postings index (r9): true APPEND with exact scoring.

The lifecycle entry's oracle already proves cross-segment score
exactness (full-corpus BM25 hash); these pin the ECONOMICS: an append
commits only new seg= partitions — every pre-existing file list rides
forward byte-identical — and the meta scalars accumulate."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_append_touches_no_old_files_and_accumulates_meta(spark, tmp_path):
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators.textops import (
        BM25_SEG_INDEX_NAME,
        bm25_seg_index_append,
        bm25_seg_index_build,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    split = int(
        (spark.table("documents").agg(F.max("doc_id")).first()[0] + 1) * 0.7
    )
    root = str(tmp_path / "idx")
    m0 = bm25_seg_index_build(spark, SF_DIR, root, bound=split)
    base_parts = {r: list(fl) for r, fl in m0["partitions"].items()}
    assert all(r.startswith("seg=0/") for r in base_parts)
    S0, N0 = m0["meta"]["bm25"]["S"], m0["meta"]["bm25"]["N"]

    m1 = bm25_seg_index_append(spark, SF_DIR, root)
    parts1 = {r: list(fl) for r, fl in m1["partitions"].items()}
    # every seg=0 entry byte-identical; additions are seg=1 only
    for r, fl in base_parts.items():
        assert parts1[r] == fl, r
    new_rels = set(parts1) - set(base_parts)
    assert new_rels and all(r.startswith("seg=1/") for r in new_rels)
    meta1 = m1["meta"]["bm25"]
    assert meta1["segs"] == 2
    assert meta1["S"] > S0 and meta1["N"] > N0

    runner = IncrementalRunner(spark, root)
    n_docs = (
        runner.read_target(BM25_SEG_INDEX_NAME)
        .select("doc_id")
        .distinct()
        .count()
    )
    assert n_docs == spark.table("documents").count()
    assert meta1["N"] == n_docs  # accumulated N == docs indexed


def test_seg_query_prunes_buckets_across_segments(spark, tmp_path):
    import re

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators.textops import (
        _bm25_seg_query,
        bm25_seg_index_append,
        bm25_seg_index_build,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    split = int(
        (spark.table("documents").agg(F.max("doc_id")).first()[0] + 1) * 0.7
    )
    root = str(tmp_path / "idx")
    bm25_seg_index_build(spark, SF_DIR, root, bound=split)
    bm25_seg_index_append(spark, SF_DIR, root)
    out = _bm25_seg_query(spark, IncrementalRunner(spark, root))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # static pruning on the bucket partition column survives the
    # two-level (seg, bucket) layout; no cartesian anywhere
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert out.count() > 0


def test_seg_query_counts_shared_term_df_once(spark, tmp_path, monkeypatch):
    """df counts postings, not query-join rows: with "spark" and "data"
    each named by two queries, the two-segment query must still return
    exactly bm25_search's rows (whose df is a per-term count over the
    postings)."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators import textops as t

    monkeypatch.setattr(
        t, "BM25_QUERIES", t.BM25_QUERIES + [(3, ["spark", "data"])]
    )
    monkeypatch.setattr(t, "_BM25_QBUCKET_CACHE", None)
    split = int((t._source_max_doc_id(spark, SF_DIR) + 1) * 0.7)
    root = str(tmp_path / "idx")
    t.bm25_seg_index_build(spark, SF_DIR, root, bound=split)
    t.bm25_seg_index_append(spark, SF_DIR, root)
    got = t._bm25_seg_query(spark, IncrementalRunner(spark, root)).collect()
    want = t.bm25_search(spark, SF_DIR).collect()
    assert {r["qid"] for r in want} == {0, 1, 2, 3}
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_seg_index_auto_delete_aware_from_base_meta(spark, tmp_path):
    """No new asymmetry (the r8 lesson): a segmented index built with
    ``base=`` auto-applies deleted_keys_since at query time — deleted
    docs vanish from results while the committed df/S/N hold (a deleted
    doc influences scores until a rebuild, the tombstone-at-read contract
    of bm25_index_delete_aware). Deletes pend across an APPEND too."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.textops import (
        _bm25_seg_query,
        bm25_seg_index_append,
        bm25_seg_index_build,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    root = str(tmp_path / "idx")
    runner = IncrementalRunner(spark, root)
    base = ModelSpec(
        "seg_docs_base",
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: sp.table("documents").select("doc_id", "text"),
    )
    runner.run(base, SF_DIR)
    split = int(
        (spark.table("documents").agg(F.max("doc_id")).first()[0] + 1) * 0.7
    )
    m = bm25_seg_index_build(spark, SF_DIR, root, bound=split,
                             base="seg_docs_base")
    assert m["meta"]["bm25"]["base"] == "seg_docs_base"
    bm25_seg_index_append(spark, SF_DIR, root)
    m2 = runner.current_manifest("bm25_postings_seg")
    assert m2["meta"]["bm25"]["base_version"] == 1  # append never absorbs

    before = {r["doc_id"] for r in _bm25_seg_query(spark, runner).collect()}
    assert before, "fixture must return results"
    victim = sorted(before)[0]
    runner.delete_where(base, f"doc_id = {victim}")
    rows = _bm25_seg_query(spark, runner).collect()
    assert rows and all(r["doc_id"] != victim for r in rows)


def test_append_with_nothing_new_is_a_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.operators.textops import (
        bm25_seg_index_append,
        bm25_seg_index_build,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    hi = spark.table("documents").agg(F.max("doc_id")).first()[0]
    root = str(tmp_path / "idx")
    m0 = bm25_seg_index_build(spark, SF_DIR, root, bound=hi + 1)  # all docs
    m1 = bm25_seg_index_append(spark, SF_DIR, root)
    assert m1["version"] == m0["version"]
    assert m1["meta"]["bm25"]["segs"] == 1


def test_optimize_merges_segments_and_absorbs_deletes(spark, tmp_path):
    """Lucene forceMerge(1) (VERDICT r9 item 3): after append + base
    DELETE, optimize leaves exactly ONE live segment, the tombstoned
    doc's postings are physically gone, (S, N) shrink to the live
    corpus, the base pointer advances (deletes absorbed), and a replay
    optimize is a metadata no-op."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.textops import (
        BM25_SEG_INDEX_NAME,
        bm25_seg_index_append,
        bm25_seg_index_build,
        bm25_seg_index_optimize,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    root = str(tmp_path / "idx")
    runner = IncrementalRunner(spark, root)
    base = ModelSpec(
        "seg_docs_base",
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: sp.table("documents").select("doc_id", "text"),
    )
    runner.run(base, SF_DIR)
    split = int(
        (spark.table("documents").agg(F.max("doc_id")).first()[0] + 1) * 0.7
    )
    bm25_seg_index_build(spark, SF_DIR, root, bound=split,
                         base="seg_docs_base")
    m1 = bm25_seg_index_append(spark, SF_DIR, root)
    assert m1["meta"]["bm25"]["segs"] == 2
    S1, N1 = m1["meta"]["bm25"]["S"], m1["meta"]["bm25"]["N"]

    victims = [
        r["doc_id"]
        for r in runner.read_target(BM25_SEG_INDEX_NAME)
        .select("doc_id").distinct().orderBy("doc_id").limit(3).collect()
    ]
    runner.delete_where(base, f"doc_id IN ({','.join(map(str, victims))})")

    m2 = bm25_seg_index_optimize(spark, root)
    meta = m2["meta"]["bm25"]
    assert meta["segs"] == 1
    assert {r.split("/", 1)[0] for r in m2["partitions"] if r} == {"seg=0"}
    assert meta["N"] == N1 - 3 and meta["S"] < S1
    assert meta["base_version"] == (
        runner.current_manifest("seg_docs_base")["version"]
    )
    live_docs = {
        r["doc_id"]
        for r in runner.read_target(BM25_SEG_INDEX_NAME)
        .select("doc_id").distinct().collect()
    }
    assert not (live_docs & set(victims))
    # replay: already one segment, nothing pending -> zero-job no-op
    assert bm25_seg_index_optimize(spark, root)["version"] == m2["version"]


def test_tiered_merge_folds_smallest_segments_untouched_largest(
    spark, tmp_path
):
    """Lucene's tiered policy (max_segments=K): three bounded appends
    make four segments; the tiered optimize folds the smallest three
    into ONE new level so two remain, the LARGEST segment's files ride
    forward byte-identical, (S, N) and the meta are layout-only changed
    (segs advances as a next-id counter), and the query still matches
    the pre-merge answer exactly. A follow-up call within policy is a
    zero-job no-op; a later forceMerge still collapses to one segment."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators.textops import (
        BM25_SEG_INDEX_NAME,
        _bm25_seg_query,
        bm25_seg_index_append,
        bm25_seg_index_build,
        bm25_seg_index_optimize,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    hi = spark.table("documents").agg(F.max("doc_id")).first()[0] + 1
    root = str(tmp_path / "idx")
    runner = IncrementalRunner(spark, root)
    # seg0 = 70% (the big one), then three small appends of ~10% each
    bm25_seg_index_build(spark, SF_DIR, root, bound=int(hi * 0.7))
    for frac in (0.8, 0.9, 1.0):
        bm25_seg_index_append(spark, SF_DIR, root, bound=int(hi * frac) + 1)
    m0 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    meta0 = m0["meta"]["bm25"]
    assert meta0["segs"] == 4
    seg0_files = {
        rel: list(fl)
        for rel, fl in m0["partitions"].items()
        if rel.startswith("seg=0/")
    }
    before = sorted(tuple(r) for r in _bm25_seg_query(spark, runner).collect())

    m1 = bm25_seg_index_optimize(spark, root, max_segments=2)
    live = {rel.split("/", 1)[0] for rel in m1["partitions"]}
    assert live == {"seg=0", "seg=4"}, live
    for rel, fl in seg0_files.items():
        assert list(m1["partitions"][rel]) == fl, f"{rel} was rewritten"
    meta1 = m1["meta"]["bm25"]
    assert meta1["segs"] == 5  # next-id counter advanced
    assert (meta1["S"], meta1["N"]) == (meta0["S"], meta0["N"])
    n_docs = (
        runner.read_target(BM25_SEG_INDEX_NAME)
        .select("doc_id").distinct().count()
    )
    assert n_docs == spark.table("documents").count()
    after = sorted(tuple(r) for r in _bm25_seg_query(spark, runner).collect())
    assert after == before
    # within policy: no-op
    assert (
        bm25_seg_index_optimize(spark, root, max_segments=2)["version"]
        == m1["version"]
    )
    # forceMerge still collapses the remaining two levels
    m2 = bm25_seg_index_optimize(spark, root)
    assert {r.split("/", 1)[0] for r in m2["partitions"]} == {"seg=0"}
    assert sorted(
        tuple(r) for r in _bm25_seg_query(spark, runner).collect()
    ) == before


def test_tiered_merge_not_escalated_by_pure_base_appends(spark, tmp_path):
    """ADVICE r10: deleted_keys_since returns a non-None (empty) frame
    for any base commit — including pure appends. The tiered path must
    treat an EMPTY delete set as no-deletes, not escalate to the full
    forceMerge (which rewrites the whole index and loses the documented
    'reads only the small segments it folds' cost shape). Pinned by the
    largest segment's files riding forward byte-identical."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.textops import (
        BM25_SEG_INDEX_NAME,
        bm25_seg_index_append,
        bm25_seg_index_build,
        bm25_seg_index_optimize,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    hi = spark.table("documents").agg(F.max("doc_id")).first()[0] + 1
    root = str(tmp_path / "idx")
    runner = IncrementalRunner(spark, root)
    base = ModelSpec(
        "seg_docs_base2",
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: (
            sp.table("documents").select("doc_id", "text").filter(
                F.col("doc_id") < int(hi * 0.9)
                if wm is None
                else F.col("doc_id") > wm
            )
        ),
    )
    runner.run(base, SF_DIR)
    bm25_seg_index_build(
        spark, SF_DIR, root, bound=int(hi * 0.7), base="seg_docs_base2"
    )
    bm25_seg_index_append(spark, SF_DIR, root, bound=int(hi * 0.8))
    bm25_seg_index_append(spark, SF_DIR, root)  # -> 3 segments
    m0 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    seg0_files = {
        rel: list(fl)
        for rel, fl in m0["partitions"].items()
        if rel.startswith("seg=0/")
    }
    # PURE APPEND to the base since the index's base_version: a commit
    # happened, but nothing was deleted
    runner.run(base, SF_DIR)
    m1 = bm25_seg_index_optimize(spark, root, max_segments=2)
    live = {rel.split("/", 1)[0] for rel in m1["partitions"]}
    assert live == {"seg=0", "seg=3"}, live  # tiered, NOT forceMerge
    for rel, fl in seg0_files.items():
        assert list(m1["partitions"][rel]) == fl, f"{rel} was rewritten"


def _mk_batch(spark, rows):
    """Hand-built four-type change rows (doc_id, text, _change_type)."""
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, _change_type string"
    )


def test_live_docs_maintenance_masks_updates_and_survives_merges(
    spark, tmp_path
):
    """The live-docs protocol's merge interactions, which the streaming
    entry can't see directly:

    * update = mask old + re-add: the updated doc's postings come ONLY
      from the new segment (old tf masked), and (S, N) track the live
      corpus exactly;
    * a delete-only batch commits metadata-only (no partition changes)
      and is idempotent under redelivery (S/N must not double-subtract);
    * the TIERED merge filters the segments it folds through the mask —
      a dead doc must not resurrect when its segment is re-id'd above
      its cutoff — while keeping entries for untouched segments;
    * forceMerge absorbs the mask physically and clears dead_dirs."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators.textops import (
        BM25_SEG_INDEX_NAME,
        bm25_seg_index_apply_changes,
        bm25_seg_index_build,
        bm25_seg_index_optimize,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    hi = spark.table("documents").agg(F.max("doc_id")).first()[0] + 1
    root = str(tmp_path / "idx")
    runner = IncrementalRunner(spark, root)
    runner.RETAIN_VERSIONS = 10
    bm25_seg_index_build(spark, SF_DIR, root, bound=int(hi * 0.5))
    m0 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    S0, N0 = m0["meta"]["bm25"]["S"], m0["meta"]["bm25"]["N"]
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.table("documents").filter("doc_id < 9").collect()
    }

    # batch 0: update doc 1 (text gains a token), delete doc 2
    batch = _mk_batch(spark, [
        (1, docs[1], "update_preimage"),
        (1, docs[1] + " qqq", "update_postimage"),
        (2, docs[2], "delete"),
    ])
    bm25_seg_index_apply_changes(
        spark, runner, batch, app_id="m", txn_version=0
    )
    m1 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    meta1 = m1["meta"]["bm25"]
    dl = {d: len(docs[d].split(" ")) for d in (1, 2)}
    assert meta1["N"] == N0 - 1                      # doc2 gone, doc1 kept
    assert meta1["S"] == S0 - dl[2] + 1              # doc1 gained ONE token
    assert meta1["segs"] == 2 and len(meta1["dead_dirs"]) == 1

    post = runner.read_target(BM25_SEG_INDEX_NAME)
    from mycarely_saas_dbt_spark.operators.textops import (
        _bm25_apply_dead,
        _bm25_dead_df,
    )

    live = _bm25_apply_dead(post, _bm25_dead_df(spark, runner, meta1))
    d1 = live.filter("doc_id = 1")
    assert d1.filter("seg = 0").count() == 0          # old postings masked
    assert d1.filter("term = 'qqq'").count() == 1     # new image live
    assert live.filter("doc_id = 2").count() == 0     # deleted doc gone

    # delete-only batch: metadata-only commit, idempotent on redelivery
    batch2 = _mk_batch(spark, [(3, docs[3], "delete")])
    bm25_seg_index_apply_changes(
        spark, runner, batch2, app_id="m", txn_version=1
    )
    m2 = runner.current_manifest(BM25_SEG_INDEX_NAME)
    meta2 = m2["meta"]["bm25"]
    assert m2["partitions"] == m1["partitions"]       # no data file moved
    assert meta2["N"] == meta1["N"] - 1
    bm25_seg_index_apply_changes(                      # redelivery
        spark, runner, batch2, app_id="m", txn_version=1
    )
    m2b = runner.current_manifest(BM25_SEG_INDEX_NAME)
    assert m2b["version"] == m2["version"]
    assert m2b["meta"]["bm25"]["N"] == meta2["N"]      # no double-subtract

    # tiered merge folds seg0+seg1 -> seg2: dead docs must NOT resurrect
    m3 = bm25_seg_index_optimize(spark, root, max_segments=1)
    meta3 = m3["meta"]["bm25"]
    assert {r.split("/", 1)[0] for r in m3["partitions"]} == {"seg=2"}
    assert meta3["dead_dirs"]                          # entries carried
    folded = runner.read_target(BM25_SEG_INDEX_NAME)
    assert folded.filter("doc_id IN (2, 3)").count() == 0
    assert folded.filter("doc_id = 1 AND term = 'qqq'").count() == 1
    assert folded.filter("doc_id = 1").count() == (
        folded.filter("doc_id = 1").select("term").distinct().count()
    )  # exactly one posting set for the updated doc — no stale twin

    # forceMerge absorbs + clears the mask
    m4 = bm25_seg_index_optimize(spark, root)
    meta4 = m4["meta"]["bm25"]
    assert not meta4.get("dead_dirs")
    assert meta4["N"] == meta2["N"] and meta4["S"] == meta2["S"]

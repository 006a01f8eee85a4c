"""Persistent IVFADC index through the manifest protocol (VERDICT r6
item 4): build-once (codes as committed data files, codebooks in the same
manifest version's "meta"), query-many with zero training jobs.
"""

from __future__ import annotations

import tempfile

import pytest

from tests.conftest import SF_DIR


class _PoisonSpark:
    """Raises on ANY attribute access — proves a code path never touches
    the SparkSession (the same proof style as the watermark tests'
    monkeypatched read_target)."""

    def __getattr__(self, name):  # pragma: no cover - failure path
        raise AssertionError(f"SparkSession touched (.{name}) on the warm path")


def test_build_commits_codes_and_codebooks_in_one_snapshot(spark):
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators.similarity import (
        ANN_INDEX_NAME,
        PQ_M,
        ann_index_build,
    )

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    m = ann_index_build(spark, SF_DIR, root)
    ann = m["meta"]["ann"]
    assert ann["m"] == PQ_M and len(ann["codebooks"]) == PQ_M
    codes = IncrementalRunner(spark, root).read_target(ANN_INDEX_NAME)
    n = codes.count()
    assert n == spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert set(codes.columns) == {"vid", "cid", "codes"}


def test_second_build_is_metadata_only_zero_spark_zero_training(
    spark, monkeypatch
):
    """The warm path must not train, not encode, and not even touch the
    SparkSession — a second invocation is one manifest JSON read."""
    from mycarely_saas_dbt_spark.operators import similarity

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    m1 = similarity.ann_index_build(spark, SF_DIR, root)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("training ran on the warm path")

    monkeypatch.setattr(similarity, "_pq_train_core", boom)
    monkeypatch.setattr(similarity, "_pq_encode_df", boom)
    m2 = similarity.ann_index_build(_PoisonSpark(), SF_DIR, root)
    assert m2 == m1


def test_corpus_fingerprint_mismatch_triggers_rebuild(spark, monkeypatch):
    from mycarely_saas_dbt_spark import util
    from mycarely_saas_dbt_spark.operators import similarity

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    m1 = similarity.ann_index_build(spark, SF_DIR, root)
    # simulate a rewritten corpus: fingerprint changes -> rebuild commits v2
    monkeypatch.setattr(
        util, "corpus_fingerprint", lambda d, f: ["changed"]
    )
    m2 = similarity.ann_index_build(spark, SF_DIR, root)
    assert m2["version"] == m1["version"] + 1
    assert m2["meta"]["ann"]["corpus"] == ["changed"]


def test_index_query_matches_transient_path(spark):
    """The committed-index query path returns the exact same (qid, vid)
    top-k as the transient train+encode+rank path — the split changes
    WHERE the codebooks live, not the math."""
    from mycarely_saas_dbt_spark.operators.similarity import (
        pq_adc_topk,
        pq_index_topk,
    )

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    got = {(r.qid, r.vid) for r in pq_index_topk(spark, SF_DIR, root).collect()}
    want = {(r.qid, r.vid) for r in pq_adc_topk(spark, SF_DIR).collect()}
    assert got == want


def test_index_query_plan_has_no_encode_stage(spark):
    """Once the index is committed the query plan reads codes from
    parquet — no ArrowEvalPython/MapInPandas encode pass over the raw
    corpus (the raw vectors appear only in the bounded re-rank scan)."""
    from mycarely_saas_dbt_spark.operators.similarity import pq_index_topk

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    pq_index_topk(spark, SF_DIR, root)  # first call builds + commits
    plan = (
        pq_index_topk(spark, SF_DIR, root)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" not in plan


def test_append_encodes_only_new_vectors_without_retraining(spark, monkeypatch):
    """FAISS add(): the append run must not retrain (codebooks come from
    the committed meta), must run in incremental mode off the integer
    watermark, and the composed index must cover the full corpus with
    the bootstrap rows' codes byte-identical to their pre-append values."""
    from mycarely_saas_dbt_spark.incremental import IncrementalRunner
    from mycarely_saas_dbt_spark.operators import similarity as sim

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_total = e.count()
    split = int((n_total) * 0.7)  # vec_ids are dense 0..n-1

    m1 = sim.ann_index_build(spark, SF_DIR, root, bound=split)
    runner = IncrementalRunner(spark, root)
    before = {
        r["vid"]: (r["cid"], tuple(r["codes"]))
        for r in runner.read_target(sim.ANN_INDEX_NAME).collect()
    }
    assert len(before) == split

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("append retrained the codebooks")

    monkeypatch.setattr(sim, "_pq_train_core", boom)
    m2 = sim.ann_index_append(spark, SF_DIR, root)
    assert m2["version"] == m1["version"] + 1
    assert m2["meta"]["ann"]["bound"] is None
    assert m2["meta"]["ann"]["codebooks"] == m1["meta"]["ann"]["codebooks"]

    after = {
        r["vid"]: (r["cid"], tuple(r["codes"]))
        for r in runner.read_target(sim.ANN_INDEX_NAME).collect()
    }
    assert len(after) == n_total
    assert all(after[v] == before[v] for v in before)


def test_index_query_prunes_unprobed_cell_partitions(spark):
    """The cid-partitioned layout turns the probed-cell restriction into
    static partition pruning: the codes scan carries a PartitionFilters
    entry on cid, so unprobed cells' files never open."""
    import re

    from mycarely_saas_dbt_spark.operators.similarity import pq_index_topk

    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    plan = (
        pq_index_topk(spark, SF_DIR, root)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PartitionFilters: \[[^\]]*cid", plan), plan


def test_index_query_delete_aware_excludes_deleted_vectors(spark):
    """VERDICT r7 item 2 (ANN leg): base-table deletes compose with the
    committed index at read time. Lifecycle: commit embeddings as a base
    target -> build the index -> row-level DELETE from the base -> query
    with deleted_keys_since feeding pq_index_topk's anti-join. Deleted
    vectors never appear, and the probed-cell partition pruning SURVIVES
    the anti-join (the scan still carries a cid PartitionFilters entry)."""
    import re

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.similarity import (
        ann_index_build,
        pq_index_topk,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    root = tempfile.mkdtemp(prefix="ann_da_test_")
    runner = IncrementalRunner(spark, root)
    base = ModelSpec(
        "emb_base",
        "vec_id",
        "vec_id",
        lambda sp, sfd, wm: sp.table("embeddings"),
    )
    runner.run(base, SF_DIR)
    v0 = runner.current_manifest("emb_base")["version"]
    ann_index_build(spark, SF_DIR, root)

    runner.delete_where(base, "vec_id % 9 = 0")
    deleted = runner.deleted_keys_since("emb_base", "vec_id", v0)
    assert deleted is not None and deleted.count() > 0

    res = pq_index_topk(spark, SF_DIR, root, deleted=deleted)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cid", plan), plan
    rows = res.collect()
    assert rows, "delete-aware query returned nothing"
    assert all(r["vid"] % 9 != 0 for r in rows)

    # no commits since the recorded version -> fast path skips the read
    v_now = runner.current_manifest("emb_base")["version"]
    assert runner.deleted_keys_since("emb_base", "vec_id", v_now) is None


def test_minhash_signature_index_forgets_deleted_docs(spark):
    """The signature index is a keyed manifest table, so its delete story
    is row-level DELETE on the index itself: after deleting one doc's
    signature, an arriving near-dup of that doc no longer matches any
    index band (the probe that previously hit now returns nothing)."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.dedup import (
        MINHASH_INDEX_NAME,
        _bands_of,
        _sig_with_nsh,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    docs = spark.table("documents")
    root = tempfile.mkdtemp(prefix="minhash_da_test_")
    runner = IncrementalRunner(spark, root)
    spec = ModelSpec(
        MINHASH_INDEX_NAME,
        "doc_id",
        "doc_id",
        lambda sp, sfd, wm: _sig_with_nsh(docs),
    )
    runner.run(spec, SF_DIR)

    probe_id = docs.agg(F.min("doc_id")).first()[0]
    probe_bands = _bands_of(
        _sig_with_nsh(docs.filter(F.col("doc_id") == probe_id))
    ).select("band", "band_key")

    def hits():
        idx_bands = _bands_of(runner.read_target(MINHASH_INDEX_NAME))
        return (
            idx_bands.join(F.broadcast(probe_bands), ["band", "band_key"])
            .select("doc_id")
            .distinct()
            .collect()
        )

    before = {r["doc_id"] for r in hits()}
    assert probe_id in before, "sanity: a doc's own bands must self-match"
    runner.delete_where(spec, f"doc_id = {probe_id}")
    after = {r["doc_id"] for r in hits()}
    assert probe_id not in after
    assert after <= before


def test_index_auto_delete_aware_from_base_meta(spark):
    """VERDICT r8 item 3: an index built with ``base=`` is
    self-describingly delete-aware — the PLAIN pq_index_topk call (no
    deleted= argument) must exclude vectors deleted from the base, and
    the probed-cell PartitionFilters must survive the auto anti-join.
    With no deletes since build, the fast path applies no anti-join."""
    import re

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators.similarity import (
        ANN_INDEX_NAME,
        ann_index_build,
        pq_index_topk,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    root = tempfile.mkdtemp(prefix="ann_auto_da_test_")
    runner = IncrementalRunner(spark, root)
    base = ModelSpec(
        "emb_base2",
        "vec_id",
        "vec_id",
        lambda sp, sfd, wm: sp.table("embeddings"),
    )
    runner.run(base, SF_DIR)
    m = ann_index_build(spark, SF_DIR, root, base="emb_base2")
    assert m["meta"]["ann"]["base"] == "emb_base2"
    assert m["meta"]["ann"]["base_version"] == 1

    # fast path: no commits since build -> no anti-join in the plan
    res0 = pq_index_topk(spark, SF_DIR, root)
    plan0 = res0._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan0, plan0

    runner.delete_where(base, "vec_id % 9 = 0")
    res = pq_index_topk(spark, SF_DIR, root)  # NO deleted= anywhere
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cid", plan), plan
    assert "LeftAnti" in plan, plan
    rows = res.collect()
    assert rows, "auto delete-aware query returned nothing"
    assert all(r["vid"] % 9 != 0 for r in rows)

    # a second build call for the same corpus reuses the based index
    # (base=None accepts strictly-more-described metadata)
    m2 = ann_index_build(spark, SF_DIR, root)
    assert m2["version"] == m["version"]


def test_append_drift_policy_retrains_and_restores_recall(
    spark, monkeypatch
):
    """VERDICT r9 item 4 — the append-drift contract, both arms:

    * frozen arm: with the policy disabled, a 70%-appended index keeps
      the committed codebooks (no training call). At sf0.01 this
      MEASURABLY breaks the recall floor — the decay the policy exists
      to bound (if this arm ever starts passing the floor, the corpus
      got easier, not the policy wrong);
    * trigger arm: the default policy trips on the same append
      (appended fraction 0.7 >= 0.5), refits codebooks on the full
      corpus in one commit, resets the drift state (n_trained == n),
      and restores recall to the floor."""
    import tempfile

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.operators import similarity as S

    e = __import__(
        "mycarely_saas_dbt_spark.sources.registry", fromlist=["register_sources"]
    )
    e.register_sources(spark, SF_DIR)
    emb = spark.table("embeddings")
    n_corpus = emb.count()
    split = int((emb.agg(F.max("vec_id")).first()[0] + 1) * 0.3)
    exact = S.ann_cosine_topk(spark, SF_DIR)

    def recall(root):
        a = (
            S.pq_index_topk(spark, SF_DIR, root=root)
            .drop_duplicates(["qid", "vid"])
            .withColumn("hit", F.lit(1))
        )
        total, hits = (
            exact.select("qid", "vid")
            .join(a, ["qid", "vid"], "left")
            .agg(F.count(F.lit(1)), F.count("hit"))
            .first()
        )
        return hits / total

    # frozen arm: policy disabled, training must NOT run on append
    root1 = tempfile.mkdtemp(prefix="ann_frozen_")
    S.ann_index_build(spark, SF_DIR, root1, bound=split)
    trained = []
    orig = S._pq_train_core
    monkeypatch.setattr(
        S, "_pq_train_core", lambda U: trained.append(1) or orig(U)
    )
    m = S.ann_index_append(spark, SF_DIR, root1, retrain_frac=1.1)
    assert not trained, "frozen arm must not retrain"
    ann = m["meta"]["ann"]
    assert ann["n"] == n_corpus and ann["n_trained"] < n_corpus
    frozen = recall(root1)

    # trigger arm: default policy fires and resets the drift state
    root2 = tempfile.mkdtemp(prefix="ann_retrain_")
    S.ann_index_build(spark, SF_DIR, root2, bound=split)
    trained.clear()
    m2 = S.ann_index_append(spark, SF_DIR, root2)
    assert trained, "default policy must retrain at 0.7 appended"
    ann2 = m2["meta"]["ann"]
    assert ann2["n"] == ann2["n_trained"] == n_corpus
    assert ann2["bound"] is None
    retrained = recall(root2)
    assert retrained >= S.PQ_RECALL_FLOOR, retrained
    # the policy's value, measured: retraining beats frozen codebooks at
    # this append fraction on this corpus
    assert retrained > frozen, (retrained, frozen)

    # custom committed threshold SURVIVES the retrain commit (ADVICE
    # r10): the retrain arm used to hardcode the default back into the
    # meta, silently resetting a caller-tuned policy
    root3 = tempfile.mkdtemp(prefix="ann_thresh_")
    S.ann_index_build(spark, SF_DIR, root3, bound=split, retrain_frac=0.3)
    m3 = S.ann_index_append(spark, SF_DIR, root3)
    ann3 = m3["meta"]["ann"]
    assert ann3["n_trained"] == ann3["n"], "0.7 appended >= 0.3 must fire"
    assert ann3["retrain_frac"] == 0.3, ann3["retrain_frac"]


def test_maintenance_moves_cells_and_never_reads_base_on_plain_arm(
    spark, tmp_path, monkeypatch
):
    """ann_index_apply_changes invariants the entry can't see directly:

    * an UPDATE whose re-encode lands in a DIFFERENT cid leaves exactly
      one code row per live vid (tombstone at the old cell + insert at
      the new one — the partition-pruned merge's same-key-same-partition
      rule held by construction);
    * the plain (non-retrain) arm is change-proportional: it must never
      read the BASE table (only the batch's row images);
    * a redelivered batch is a ledger no-op."""
    import numpy as np
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.operators import similarity as S

    root = str(tmp_path / "r")
    runner = IncrementalRunner(spark, root)

    def build(sp, sfd, wm):
        e = sp.table("embeddings").select("vec_id", "embedding")
        return e if wm is None else e.filter(F.col("vec_id") > wm)

    base_spec = ModelSpec(
        "ann_m_unit_base", "vec_id", "vec_id", build, change_data=True
    )
    e = __import__(
        "mycarely_saas_dbt_spark.sources.registry",
        fromlist=["register_sources"],
    )
    e.register_sources(spark, SF_DIR)
    runner.run(base_spec, SF_DIR)
    S.ann_index_build(spark, SF_DIR, root, base="ann_m_unit_base")
    v_base = runner.current_manifest("ann_m_unit_base")["version"]

    # mutate: reversing the embedding moves most vectors' coarse cell
    runner.update_where(
        base_spec, "vec_id % 7 = 3", {"embedding": "reverse(embedding)"}
    )
    batch = runner.table_changes(
        "ann_m_unit_base", "vec_id", v_base, preimages=True
    )

    # the plain arm must not read the base: poison read_target for it
    orig_read = runner.read_target

    def guarded(name, *a, **kw):
        if name == "ann_m_unit_base":
            raise AssertionError("plain maintenance arm read the base")
        return orig_read(name, *a, **kw)

    monkeypatch.setattr(runner, "read_target", guarded)
    S.ann_index_apply_changes(
        spark, runner, batch, app_id="m", txn_version=0, sf_dir=SF_DIR
    )
    monkeypatch.setattr(runner, "read_target", orig_read)

    codes = runner.read_target(S.ANN_INDEX_NAME)
    n_base = runner.read_target("ann_m_unit_base").count()
    assert codes.count() == n_base  # one row per live vid, no stale dup
    assert codes.select("vid").distinct().count() == n_base

    # moved victims sit in the cell their NEW embedding encodes to
    ann = runner.current_manifest(S.ANN_INDEX_NAME)["meta"]["ann"]
    C = np.array(ann["coarse"], dtype=np.float64)
    victims = runner.read_target("ann_m_unit_base").filter(
        "vec_id % 7 = 3"
    ).collect()
    got_cid = {
        r["vid"]: r["cid"]
        for r in codes.filter("vid % 7 = 3").collect()
    }
    moved = 0
    for r in victims:
        x = np.array(r["embedding"], dtype=np.float64)
        u = x / np.linalg.norm(x)
        want = int(np.argmax(u @ C.T))
        assert got_cid[r["vec_id"]] == want, r["vec_id"]
        x0 = x[::-1]  # the pre-update embedding
        if int(np.argmax((x0 / np.linalg.norm(x0)) @ C.T)) != want:
            moved += 1
    assert moved > 0, "fixture too easy: no vector changed cells"

    # redelivered batch: ledger no-op (same txn_version)
    v = runner.current_manifest(S.ANN_INDEX_NAME)["version"]
    S.ann_index_apply_changes(
        spark, runner, batch, app_id="m", txn_version=0, sf_dir=SF_DIR
    )
    assert runner.current_manifest(S.ANN_INDEX_NAME)["version"] == v

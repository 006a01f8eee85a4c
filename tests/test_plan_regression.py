"""Physical-plan regression gates for the scale-design claims in
PLAN_AUDIT.md — enforced, not descriptive. If a code or Spark-version
change degrades a broadcast join to a sort-merge join, re-introduces a
second source scan under the unpivot, or turns a bucketed candidate join
into a cross product, these fail before any benchmark notices."""

from __future__ import annotations

import re

from tests.conftest import SF_DIR, SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, text) per node line of a plan tree string; depth is the
    column where the node's text starts."""
    out = []
    for ln in plan.splitlines():
        body = ln.lstrip(" :+-")
        if body:
            out.append((len(ln) - len(body), body))
    return out


def _subtree(nodes: list[tuple[int, str]], i: int) -> list[tuple[int, str]]:
    """The node lines below node ``i``."""
    j = i + 1
    while j < len(nodes) and nodes[j][0] > nodes[i][0]:
        j += 1
    return nodes[i + 1 : j]


def test_traffic_daily_small_sides_broadcast(spark):
    """TD joins the (tiny) spend/company dims — they must ride as
    broadcasts, never a shuffled sort-merge join."""
    from mycarely_saas_dbt_spark.plans.traffic_daily import traffic_daily_agg

    plan = _plan(traffic_daily_agg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lead_activities_small_sides_broadcast(spark):
    """LA's lead/company/TD-rollup sides are small: all joins broadcast."""
    from mycarely_saas_dbt_spark.plans.lead_activities import lead_activities_agg

    plan = _plan(lead_activities_agg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_traffic_pages_unpivot_scans_source_once(spark):
    """The stack() unpivot must reuse ONE scan+aggregate (a literal
    UNION ALL would re-scan events and re-aggregate twice, SURVEY §4)."""
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg

    plan = _plan(traffic_pages_agg(spark, SF_DIR))
    assert plan.count("events.parquet") == 1, plan


def test_traffic_pages_hash_default_needs_no_global_window(spark):
    """The engine-default hash id is computed per-row: no Window operator
    (the row_number parity mode pays a deliberate single-partition sort)."""
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg

    assert "Window" not in _plan(traffic_pages_agg(spark, SF_DIR))
    assert "Window" in _plan(
        traffic_pages_agg(spark, SF_DIR, id_strategy="row_number")
    )


def test_lead_activities_maxby_argmax_has_no_window_sort(spark):
    """The aggregate argmax strategy must plan as a hash aggregation with
    map-side partials (skew-resistant), not a per-partition Window sort;
    the default window strategy keeps its Window for reference parity."""
    from mycarely_saas_dbt_spark.plans.lead_activities import lead_activities_agg

    assert "Window" not in _plan(
        lead_activities_agg(spark, SF_DIR, argmax_strategy="aggregate")
    )
    assert "Window" in _plan(lead_activities_agg(spark, SF_DIR))


def test_minhash_lsh_has_no_cross_product(spark):
    """LSH candidate generation is a bucketed equi-join on (band,
    band_key) — an all-pairs CartesianProduct would be the quadratic
    blow-up the whole design avoids."""
    from mycarely_saas_dbt_spark.operators.dedup import _build_minhash_pairs
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    # gate the BUILD plan: the registered query returns the memoized
    # checkpoint (a block scan — trivially join-free), so the structural
    # assertion must look at the lineage that produces it
    register_sources(spark, SF_DIR)
    plan = _plan(_build_minhash_pairs(spark))
    assert "CartesianProduct" not in plan, plan


def test_minhash_signature_stage_is_narrow(spark):
    """The signature stage is one per-document projection: no Generate
    over shingles anywhere in the pair build (the only generators are
    the band stack and the candidate-member explode), and no Exchange
    below the band join's own input exchanges — the signature needs no
    shuffle."""
    from mycarely_saas_dbt_spark.operators.dedup import _build_minhash_pairs
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    plan = _plan(_build_minhash_pairs(spark))
    nodes = _nodes(plan)
    gens = [t for _, t in nodes if t.startswith("Generate ")]
    assert gens, plan
    assert all(
        t.startswith(("Generate stack(", "Generate explode(array(doc_a"))
        for t in gens
    ), gens
    joins = [i for i, (_, t) in enumerate(nodes) if "Join [band#" in t]
    assert joins, plan
    for i in joins:
        sub = _subtree(nodes, i)
        for k, (_, t) in enumerate(sub):
            if "Exchange" not in t:
                continue
            assert t.startswith("BroadcastExchange") or "hashpartitioning(band#" in t, t
            below = [u for _, u in _subtree(sub, k) if "Exchange" in u]
            assert not below, below


def test_training_mix_splits_each_document_once(spark):
    """Each scan of `documents.text` in training_mix_pipeline's executed
    plan evaluates split( at most once per row: the gopher keep-list
    filter is one struct-valued feature expression, not 16 inlined
    copies of the tokenization (the scan's own DataFilters listing is
    metadata, not evaluated, and not counted)."""
    from mycarely_saas_dbt_spark.operators.textops import training_mix_pipeline

    df = training_mix_pipeline(spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    nodes = _nodes(plan)
    scans = [
        i for i, (_, t) in enumerate(nodes)
        if t.startswith("FileScan parquet [") and "text#" in t.split("]")[0]
    ]
    assert len(scans) >= 2, plan
    per_scan = []
    for i in scans:
        # walk up the scan's pipeline to its stage boundary
        n, depth, j = 0, nodes[i][0], i - 1
        while j >= 0:
            d, t = nodes[j]
            if d < depth:
                if "Exchange" in t or "QueryStage" in t:
                    break
                n += t.count("split(")
                depth = d
            j -= 1
        per_scan.append(n)
    assert max(per_scan) <= 1, (per_scan, plan)
    assert sum(per_scan) >= 2, (per_scan, plan)  # gopher filter + token sum


def test_partitioned_incremental_target_prunes_on_date(spark, tmp_path):
    """A ModelSpec(partition_by=['date']) target must lay out date=...
    directories and turn a date predicate into a PartitionFilter on
    read-back — the 'rewrite only affected partitions' contract."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.incremental import IncrementalRunner, ModelSpec
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg

    runner = IncrementalRunner(spark, str(tmp_path / "t"))
    runner.run(
        ModelSpec(
            "traffic_pages_agg", "id", "date",
            lambda sp, sfd, wm: traffic_pages_agg(sp, sfd, watermark=wm),
            partition_by=["date"],
        ),
        SF_DIR,
    )
    path = runner.target_path("traffic_pages_agg")
    assert any(d.startswith("date=") for d in os.listdir(path))
    back = spark.read.parquet(path).filter(F.col("date") == dt.date(2024, 1, 10))
    plan = _plan(back)
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "date" in pf, plan


def test_embedding_neardup_pairs_join_is_bucketed(spark):
    """The near-dup candidate join must be an equi-join on the centroid
    cell (cid) — only the corpus×centroids assignment pass may be a
    broadcast nested loop (N_CENTROIDS rows). The pair join itself being
    a nested-loop/cartesian would mean the label-block quadratic is back."""
    from mycarely_saas_dbt_spark.operators.similarity import embedding_neardup

    plan = _plan(embedding_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*cid", plan
    ), plan


def test_simhash64_aggregation_buffer_is_lane_packed(spark):
    """The r4 lane-packed simhash64 must aggregate 16 packed BIGINT sums
    (+ n_tok), not 64 per-bit columns, and candidate generation stays an
    equi-join (no cross product)."""
    from mycarely_saas_dbt_spark.operators.dedup import dedup_simhash64, simhash64
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    agg_plan = _plan(simhash64(spark.table("documents")))
    assert "ps0" in agg_plan and "ps15" in agg_plan, agg_plan
    assert "s63" not in agg_plan, agg_plan  # old 64-wide buffer resurrected
    pair_plan = _plan(dedup_simhash64(spark, SF_DIR))
    assert "CartesianProduct" not in pair_plan, pair_plan


def test_pq_adc_scoring_joins_codes_not_raw_vectors(spark):
    """PQ-ADC must broadcast the tiny query distance tables (the corpus
    side never shuffles for scoring) and keep the exact re-rank confined
    to the shortlist join — no SortMergeJoin anywhere in the pipeline."""
    from mycarely_saas_dbt_spark.operators.similarity import pq_adc_topk

    plan = _plan(pq_adc_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan  # codes x broadcast dtabs
    assert "CartesianProduct" not in plan, plan


def test_domain_cap_window_runs_on_prefiltered_survivors(spark):
    """The per-domain cap must rank only hash-prefiltered survivors: the
    window's input must carry the h*count prefilter (pushed before the
    rank), and the per-domain counts must broadcast."""
    from mycarely_saas_dbt_spark.operators.textops import domain_cap_sample

    plan = _plan(domain_cap_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the prefilter predicate must appear below the Window in the plan
    win_at = plan.index("Window")
    assert "171798691840" in plan[win_at:], plan  # 4*CAP*2^32 literal


def test_canonical_keep_broadcasts_cluster_maps(spark):
    """Canonical selection must broadcast the (tiny) cluster relation and
    canonical map — the corpus-side documents scan never shuffles."""
    from mycarely_saas_dbt_spark.operators.dedup import dedup_canonical_keep

    plan = _plan(dedup_canonical_keep(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_adc_recall_floor_with_trained_codebooks(spark):
    """r5 recall contract (VERDICT r4 item 5): trained per-subspace
    codebooks + fraction-sized shortlist must hold measured recall@5 of
    the PQ-ADC pipeline at >= 0.75 vs the exact brute-force top-k — while
    the plan stays shortlist+re-rank (no cartesian blowup; asserted by
    test_pq_adc_scoring_joins_codes_not_raw_vectors)."""
    from mycarely_saas_dbt_spark.operators.similarity import (
        PQ_RECALL_FLOOR,
        ann_cosine_topk,
        pq_adc_topk,
    )

    assert PQ_RECALL_FLOOR >= 0.75
    pq = pq_adc_topk(spark, SF_DIR)
    exact = ann_cosine_topk(spark, SF_DIR).select("qid", "vid")
    hits = pq.join(exact, ["qid", "vid"]).count()
    total = exact.count()
    assert total > 0
    assert hits / total >= PQ_RECALL_FLOOR, (hits, total)


def test_line_dedup_plan_is_narrow_and_equijoined(spark):
    """C4 repeated-span removal must read only (doc_id, text) from the
    scan and route candidates through an equi-join on the span key —
    never a cartesian pairing."""
    from mycarely_saas_dbt_spark.operators.textops import line_dedup

    plan = _plan(line_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    scan = plan[plan.index("ReadSchema"):][:200]
    assert "text" in scan and "lang" not in scan and "source" not in scan, scan


def test_temperature_mixture_broadcasts_rates(spark):
    """The per-source rates relation is tiny and must broadcast onto the
    corpus scan — no sort-merge join, no global window."""
    from mycarely_saas_dbt_spark.operators.textops import temperature_mixture

    plan = _plan(temperature_mixture(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_cogroup_asof_uses_cogrouped_arrow_exec(spark):
    """The cogrouped-map as-of join must run through the
    FlatMapCoGroupsInPandas node (both sides shuffled once on the key
    into one Arrow merge) — not a JVM join that would defeat the point
    of the API demonstration."""
    from mycarely_saas_dbt_spark.operators.joins import q_asof_spend_cogroup

    plan = _plan(q_asof_spend_cogroup(spark, SF_DIR))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_bm25_broadcasts_query_and_df_sides(spark):
    """BM25 must broadcast the tiny relations (query terms, per-term df,
    corpus totals) against the postings — the postings build is the only
    corpus shuffle, and nothing is a cartesian product."""
    from mycarely_saas_dbt_spark.operators.textops import bm25_search

    plan = _plan(bm25_search(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_repetition_filter_is_shuffle_free(spark):
    """The within-doc repetition metrics are per-document (r15): one
    narrow scan computing the gram stats with an in-row sort+run-length
    fold — ZERO exchanges, no join, no explode of corpus n-grams."""
    from mycarely_saas_dbt_spark.operators.textops import (
        gopher_quality,
        repetition_filter,
    )

    plan = _plan(repetition_filter(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    gplan = _plan(gopher_quality(spark, SF_DIR))
    assert "Exchange" not in gplan, gplan
    assert "Join" not in gplan, gplan


def test_pagerank_iterations_broadcast_ranks_over_persisted_edges(spark):
    """Each PageRank step must join the (metadata-scale) rank relation as
    a broadcast against the persisted edge relation — no SortMergeJoin,
    no cartesian — and the rollup keys on dst (map-side combinable)."""
    from mycarely_saas_dbt_spark.operators.graph import _edges
    from mycarely_saas_dbt_spark.sources.registry import register_sources
    from pyspark.sql import functions as F

    register_sources(spark, SF_DIR)
    edges = _edges(spark)
    rdf = F.broadcast(
        spark.createDataFrame([(0, 1_000_000)], "node int, r bigint")
    )
    step = (
        edges.join(rdf, edges["src"] == rdf["node"])
        .select("dst", F.expr("(r * w) DIV w").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
    )
    plan = _plan(step)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_graph_degree_stats_no_cartesian(spark):
    from mycarely_saas_dbt_spark.operators.graph import graph_degree_stats

    plan = _plan(graph_degree_stats(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_pagerank_distributed_path_matches_driver_path(spark, monkeypatch):
    """VERDICT r6 item 2: above PR_DRIVER_MAX (or with
    MYCARELY_PR_DRIVER=0) the rank vector must stay a DataFrame — and
    produce rank_ppb labels IDENTICAL to the driver-dict fast path."""
    from mycarely_saas_dbt_spark.operators.graph import pagerank_clicks

    driver = {
        (r["node"], r["rank_ppb"])
        for r in pagerank_clicks(spark, SF_DIR).collect()
    }
    monkeypatch.setenv("MYCARELY_PR_DRIVER", "0")
    dist = {
        (r["node"], r["rank_ppb"])
        for r in pagerank_clicks(spark, SF_DIR).collect()
    }
    assert driver == dist
    assert len(driver) > 0


def test_pagerank_distributed_step_plan_is_equijoined(spark):
    """The distributed iteration (_pr_step) must be equi-joins + a
    map-combinable dst rollup — no cartesian, no nested-loop join."""
    from pyspark.sql import functions as F

    from mycarely_saas_dbt_spark.operators.graph import (
        PR_SCALE,
        _edges,
        _pr_step,
    )
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, SF_DIR)
    edges = _edges(spark)
    edges = edges.join(
        edges.groupBy("src").agg(F.sum("w").alias("out_w")), "src"
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.withColumn("r", F.lit(PR_SCALE // 100).cast("long"))
    plan = _plan(_pr_step(edges, ranks, nodes, 123))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_scoring_broadcasts_bucket_ratios(spark):
    """DSIR's scoring join must broadcast the DSIR_BUCKETS-row ratio table
    (the doc-bucket side is corpus-scale — a shuffle join there would
    re-exchange the whole feature relation), and candidate generation
    must stay equi-joined."""
    from mycarely_saas_dbt_spark.operators.textops import dsir_select

    plan = _plan(dsir_select(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_delete_aware_bm25_keeps_pruning_and_broadcasts_deleted_set(spark):
    """The delete-aware postings read must keep the query-bucket
    partition pruning AND apply the deleted-keys anti-join as a
    BROADCAST (never reshuffling the postings), with no cartesian."""
    from mycarely_saas_dbt_spark.operators.textops import (
        bm25_index_delete_aware,
    )

    plan = _plan(bm25_index_delete_aware(spark, SF_DIR))
    assert "PartitionFilters: [" in plan and "bucket" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti, BuildRight" in plan or "LeftAnti" in plan, plan


def test_bm25_seg_query_scans_postings_once(spark):
    """The segmented query reads its postings ONCE: df is a per-term
    window count over the pruned slice, not a second scan feeding a
    broadcast df aggregate. The one scan keeps the query-bucket
    partition pruning."""
    from mycarely_saas_dbt_spark.operators.textops import (
        bm25_index_append_search,
    )

    plan = _plan(bm25_index_append_search(spark, SF_DIR))
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "bm25_postings_seg" in ln
    ]
    assert len(scans) == 1, plan
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", scans[0]), plan


def test_semdedup_no_cross_cluster_cartesian(spark):
    """SemDeDup's pairwise verify runs as ONE Arrow-batched matrix pass
    per cluster (r15: FlatMapGroupsInPandas after the cid shuffle — each
    vector crosses the exchange once, never as n²/K join rows). A
    CartesianProduct across clusters would be the N^2 plan the
    clustering exists to avoid. The centroid assignment's broadcast
    nested loop against the 8-row centroid table is the documented
    tiny-side pattern."""
    from mycarely_saas_dbt_spark.operators.similarity import semdedup

    plan = _plan(semdedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # exactly one exchange feeds the pairwise group stage: hash on cid
    assert "hashpartitioning(cid" in plan, plan


def test_semdedup_block_split_path_matches_single_task_path(
    spark, monkeypatch
):
    """The skew-split path (r15: oversized corpora sub-split each cluster
    into hash blocks, one task per block pair — guide §2.5, a groupBy's
    giant key cannot be split by AQE) must return EXACTLY the single-
    task-per-cluster result: every unordered pair is evaluated in exactly
    one task with the identical fold and the per-vector OR is order-free.
    Forced here via the block-size knob so sf0.001 (N=500) splits S=5."""
    from mycarely_saas_dbt_spark.operators.similarity import semdedup

    base = [tuple(r) for r in semdedup(spark, SF_DIR).collect()]
    monkeypatch.setenv("MYCARELY_SEMDEDUP_BLOCK", "100")
    split = [tuple(r) for r in semdedup(spark, SF_DIR).collect()]
    assert base == split
    plan = _plan(semdedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_semdedup_split_path_tolerates_clusters_missing_a_block(
    spark, monkeypatch
):
    """Regression: with one vector per block target, sf0.001 splits into
    S=32 blocks, so most clusters leave some block empty and many
    off-diagonal (cid, b1, b2) groups have one side empty. Those groups
    hold no cross pair and must yield no rows (they used to fail on
    np.stack of nothing); the result equals the single-task path."""
    from mycarely_saas_dbt_spark.operators.similarity import semdedup

    base = [tuple(r) for r in semdedup(spark, SF_SMALL).collect()]
    monkeypatch.setenv("MYCARELY_SEMDEDUP_BLOCK", "1")
    split = [tuple(r) for r in semdedup(spark, SF_SMALL).collect()]
    assert split == base


def test_hybrid_rrf_query_path_uses_committed_prior(spark):
    """VERDICT r8 item 1: hybrid_rrf_search's quality prior must be the
    PRECOMPUTED committed column, not a query-time global Window over
    the corpus. The returned plan therefore (a) never scans the
    documents corpus at all (the prior is a committed target; the BM25
    leg already ran), (b) prunes the prior's qbucket partitions to the
    candidates' buckets, (c) broadcasts the tiny candidate set, and
    (d) contains no unpartitioned Window (every Window is per-qid)."""
    from mycarely_saas_dbt_spark.operators.textops import hybrid_rrf_search

    plan = _plan(hybrid_rrf_search(spark, SF_DIR))
    assert "documents.parquet" not in plan, plan
    assert "PartitionFilters: [" in plan and "qbucket" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # every Window operator is partitioned by qid — a global corpus-wide
    # rank would appear as a Window line without the qid partition spec
    win_lines = [
        ln for ln in plan.splitlines() if re.match(r"\s*[+:*-]*\s*Window ", ln)
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "qid" in ln, f"unpartitioned Window in query path: {ln}\n{plan}"


def test_interval_bin_join_is_hash_not_nested_loop(spark):
    """The point-in-interval join must plan as a HASH join on the bin
    key (the binned range-join rewrite) — never the
    BroadcastNestedLoopJoin the raw BETWEEN predicate would produce."""
    from mycarely_saas_dbt_spark.operators.joins import q_interval_bin_join

    plan = _plan(q_interval_bin_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan

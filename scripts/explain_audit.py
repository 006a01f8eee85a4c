"""Plan-shape audit: for each headline query, report scan pruning
(ReadSchema width, PushedFilters), join strategies, exchange count, and
whole-stage-codegen coverage — the 100 TB health checks from SURVEY §4.

Usage: python scripts/explain_audit.py [names...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    "traffic_pages_agg",
    "traffic_daily_agg",
    "lead_activities_agg",
    "tpch_q1",
    "tpch_q3",
    "tpch_q7",
    "tpch_q8",
    "tpch_q21",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "asof_join_spend",
    "skew_salted_join",
    "sessionize_events",
    "corpus_curation_pipeline",
    "data_tests_suite",
    "sample_stratified",
    "embedding_neardup",
    "ann_ivf_topk",
    "doc_chunking",
    "chunk_packing",
    "text_gopher_quality",
    "text_pii_scrub",
    # round 4 additions
    "dedup_simhash64",
    "dedup_canonical_keep",
    "domain_cap_sample",
    "tfidf_keywords",
    "rollup_multires",
    "p09_compound_and",
    # round 5 additions
    "line_dedup",
    "temperature_mixture",
    "asof_join_spend_cogroup",
    "substring_containment",
    "training_mix_pipeline",
    # round 6 additions
    "bm25_search",
    "repetition_filter",
    "graph_degree_stats",
    "ann_pq_adc_recall",
    # round 7 additions (index/CDC surface; the materialization-runtime
    # entries — dedup_index_ingest, cdc_*, pyds_manifest_stream — execute
    # committed-target reads whose shapes the audit below captures via
    # ann_pq_index_recall / bm25_index_search; the latter is the
    # one-segment case of the segmented BM25 read: one bucket-pruned
    # postings scan, df as a per-term window over it)
    "ann_pq_index_recall",
    "bm25_index_search",
    # r7 continuation: DSIR scoring (broadcast ratio join over the
    # doc-bucket relation). merge_multi_clause materializes through the
    # commit protocol (its job-1/job-2 shapes are pinned in
    # tests/test_merge_into.py; the audit driver only captures SELECT
    # plans).
    "dsir_select",
    # round 8 additions: delete-aware index read (anti-join composed on
    # the pruned postings scan) and SemDeDup (broadcast centroid
    # assignment + within-cluster equi-join verify). The DV/medallion
    # entries materialize through the commit protocol — their shapes are
    # pinned in tests/test_dml.py / the entry's own replay asserts.
    "bm25_index_delete_aware",
    "semdedup",
    "hybrid_rrf_search",
    # round 9 additions: the auto delete-aware ANN lifecycle read and the
    # sketch-only profiler scan. streaming_cdf_propagate materializes
    # through stream checkpoints + the commit protocol — its per-rel diff
    # shape is pinned in tests/test_pydatasource.py.
    "ann_index_delete_aware",
    "profile_table_approx",
    # round 10 additions: the segment-merged BM25 read (bucket-pruned
    # slice across seg= levels post-forceMerge), the retrained ANN read,
    # the binned interval join (hash-not-nested-loop), the stdlib PNG
    # decode pipeline (two Arrow-batched narrow passes), and the
    # deletion-vector read (broadcast (file, ordinal) anti-join composed
    # on the partitioned scan). The CDF change-file paths materialize
    # through stream checkpoints/commits — their no-base-file plan shape
    # is pinned in tests/test_pydatasource.py.
    "bm25_index_optimize_search",
    "ann_index_retrain_recall",
    "interval_bin_join",
    "mm_image_decode",
    "dv_pos_reinsert_read",
    # round 11 additions: the tiered-merge BM25 read (same bucket-pruned
    # slice, tiered policy), the timestampAsOf snapshot read (resolution
    # is metadata; the read is the plain pruned scan), and the
    # column-mapped lifecycle's final read (post-absorb logical-named
    # scan; the pre-absorb translated read is pinned in
    # tests/test_colmap.py). The streaming maintenance entries
    # (ANN/BM25/IVM-join) materialize through stream checkpoints + the
    # commit protocol — their change-proportional task shapes are pinned
    # in tests/test_pydatasource.py and the entries' replay asserts.
    "bm25_index_tiered_search",
    "time_travel_history",
    "rename_column_lifecycle",
    # round 12 additions: the ENGINE-DEFAULT hash-id model path and the
    # SQL-API verbatim model (Catalyst must push the same
    # filters/pruning through the CTE text as the DataFrame build), and
    # the colmap×CDF lifecycle's final read (the sink state after the
    # rename-crossing feed applied). streaming_ivm_join_pruned's probe
    # pruning is asserted in-entry on JoinViewMaintainer.path_log, which
    # checks the probe's inputFiles against the rels resolved from the
    # manifest — no SELECT plan to audit.
    "traffic_pages_agg_hash",
    "sql_api_traffic_pages",
    "colmap_cdf_lifecycle",
]


def audit(name: str, plan: str) -> None:
    # drop AQE's "Initial Plan" echo so operators aren't double-counted
    plan = plan.split("== Initial Plan ==")[0]
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)
    exchanges = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
    # simple plan strings mark codegen stages as "*(N) Operator"
    wsc = len(set(re.findall(r"\*\((\d+)\)", plan)) | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    print(f"== {name}")
    for s in scans:
        cols = [c.split("#")[0] for c in s.split(",")]
        print(f"   scan cols ({len(cols)}): {cols}")
    for p in pushed:
        if p.strip():
            print(f"   pushed: {p[:160]}")
    from collections import Counter

    print(f"   joins: {dict(Counter(joins))}  exchanges: {exchanges}  codegen spans: {wsc}")


def main() -> None:
    import __spark_entry__ as e
    from mycarely_saas_dbt_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or AUDIT
    for name in names:
        df = qs[name](spark, sf_dir)
        # Execute first: with AQE the physical plan (and its WholeStageCodegen
        # spans) is only final after the job runs. collect() finalizes THIS
        # DataFrame's queryExecution (a write would execute a fresh copy).
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        audit(name, plan)
    spark.stop()


if __name__ == "__main__":
    main()

"""The analytic suite: the 27 headline registry queries of ``bench.py``
suite_rev 7, frozen here so a later edit to ``bench.py`` cannot change
what this benchmark measures."""

HEADLINE = (
    "q1_pricing_summary",
    "agg_group_having",
    "join_multi_chain",
    "join_left_agg",
    "window_agg_frames",
    "orderby_limit_offset",
    "events_reconstruct_current",
    "events_asof_sequence",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "text_token_df",
    "q8_market_share",
    "q21_waiting_supplier",
    "pipeline_training_corpus",
    "events_retention_cohorts",
    "dedup_cluster_components",
    "graph_pagerank_nations",
    "q2_min_cost_supplier",
    "q20_potential_promotion",
    "fulltext_tfidf_search",
    "sim_kmeans_lloyd",
    "dedup_substring_spans",
    "text_chunk_overlap",
    "text_bpe_learn_merges",
    "sim_cosine_topk_batch",
    "sample_pareto_frontier",
)

#: Queries whose builder runs a driver-side fixpoint loop and returns a
#: persisted result. Built once, a timed pass would only read the cache,
#: so each pass rebuilds them with the cache cleared, as bench.py does.
ITERATIVE = frozenset(
    {
        "dedup_cluster_components",
        "graph_pagerank_nations",
        "text_bpe_learn_merges",
        "sample_pareto_frontier",
    }
)

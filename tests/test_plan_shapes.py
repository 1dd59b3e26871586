"""Physical-plan regression tests: the shapes this engine promises at scale
(pushdown to the scan, broadcast for bounded dims, codegen) must not silently
degrade. These are the checks SURVEY §7 prescribes after correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from driftdb_spark.plans.stats import explain_plan, plan_facts
from driftdb_spark.registry import QUERIES, query_map

SF = "/root/testdata/sf0.001"

query_map()


def test_filter_pushdown_reaches_scan(spark):
    facts = plan_facts(QUERIES["filter_eq_range"].fn(spark, SF))
    assert facts["has_pushed_filters"]
    assert facts["whole_stage_codegen"]


def test_q1_pushdown_and_partial_agg(spark):
    df = QUERIES["q1_pricing_summary"].fn(spark, SF)
    plan = explain_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # partial aggregation (map-side combine) before the exchange
    assert plan.count("HashAggregate") >= 2


def test_multi_join_broadcasts_dims(spark):
    facts = plan_facts(QUERIES["join_multi_chain"].fn(spark, SF))
    assert facts["has_broadcast_join"], "bounded dims must broadcast"


def test_scan_prunes_columns(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey", "l_quantity")
    )
    plan = explain_plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, (
        "projection must prune the scan to 2 columns"
    )


def test_semi_join_stays_semi(spark):
    plan = explain_plan(QUERIES["join_semi"].fn(spark, SF))
    assert "LeftSemi" in plan


def test_reconstruction_single_exchange(spark):
    """The analytic-window reconstruction must shuffle exactly once on pk
    (plus AQE wrappers) — the 2-groupBy+join formulation had three."""
    import re

    df = QUERIES["events_reconstruct_current"].fn(spark, SF)
    plan = explain_plan(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, f"expected 1 pk exchange, saw {n_exchanges}\n{plan}"


def _state_log(spark, tmp_path):
    from driftdb_spark.events import EventLog

    log = EventLog(spark, str(tmp_path / "t"), pk_col="id")
    schema = "id bigint, name string, qty bigint"
    log.insert(spark.createDataFrame([(1, "a", 1), (2, "b", 2)], schema))
    log.patch(spark.createDataFrame([(1, 5)], "id bigint, qty bigint"))
    log.soft_delete(spark.createDataFrame([(2,)], "id bigint"))
    return log


def test_state_fold_one_exchange_no_join(spark, tmp_path):
    """``EventLog.state_at`` is one aggregation on pk: exactly one
    ``Exchange hashpartitioning(pk…)`` and no join."""
    import re

    plan = explain_plan(_state_log(spark, tmp_path).state_at())
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 1, plan
    assert len(re.findall(r"hashpartitioning\(pk#", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_state_df_pk_predicate_below_fold(spark, tmp_path):
    """``WHERE <pk> = K`` on ``state_df`` is a predicate on the fold's
    grouping key: it runs on the scan side, below every aggregate."""
    import re

    log = _state_log(spark, tmp_path)
    cols = {"id": "bigint", "name": "string", "qty": "bigint"}
    df = log.state_df(cols).filter("id = 1")
    plan = explain_plan(df)
    # formatted plans number operators bottom-up from the scan
    nodes = re.findall(r"^\((\d+)\) (\w+)", plan, re.MULTILINE)
    first_agg = min(int(i) for i, op in nodes if op.endswith("Aggregate"))
    below = [
        int(i)
        for i, cond in re.findall(
            r"^\((\d+)\) Filter\n(?:.*\n)*?Condition : (.*)$", plan, re.MULTILINE
        )
        if re.search(r"cast\(pk#\d+ as bigint\) = 1", cond)
    ]
    assert below and min(below) < first_agg, plan
    assert [tuple(r)[2:] for r in df.collect()] == [(1, "a", 5)]


def test_topk_uses_window_group_limit(spark):
    """Rank-filter top-k must compile to WindowGroupLimit (per-partition
    k-row pre-pruning) rather than ranking every row then filtering."""
    plan = explain_plan(QUERIES["topk_per_group"].fn(spark, SF))
    assert "WindowGroupLimit" in plan


def test_hot_paths_are_python_free(spark):
    """Dedup/similarity/text operators promise JVM-side execution (SCALE.md
    §4): no row-at-a-time or Arrow Python eval nodes in their plans."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "sim_cosine_topk",
        "text_token_df",
        "fulltext_fuzzy_search",
        "agg_skew_salted",
    ):
        plan = explain_plan(QUERIES[name].fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name

def test_asof_literal_bound_pushes_to_scan(spark):
    """The user-API time-travel path (apply_asof with a resolved sequence)
    must reach the parquet scan as a pushed filter — SCALE.md §2. (The
    benchmark AS OF queries compute an SF-relative cap, which is dynamic by
    design and filters post-scan.)"""
    from driftdb_spark.temporal import AsOf, apply_asof

    ev = spark.read.parquet(f"{SF}/events.parquet")
    bounded = apply_asof(ev, AsOf(sequence=500), seq_col="event_id")
    plan = explain_plan(bounded)
    assert "LessThanOrEqual(event_id,500)" in plan, plan[:800]


def test_stratified_sample_uses_window_group_limit(spark):
    """Hash-ordered stratified sampling must pre-prune to N rows per
    partition (WindowGroupLimit) before the stratum shuffle, and stay
    entirely JVM-side."""
    plan = explain_plan(QUERIES["sample_stratified_topn"].fn(spark, SF))
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_sample_is_narrow(spark):
    """Hash-threshold sampling is a map-only plan: no Exchange anywhere —
    the filter is row-local so the corpus is never shuffled."""
    import re

    plan = explain_plan(QUERIES["sample_hash_pct"].fn(spark, SF))
    assert not re.search(r"^\(\d+\) Exchange", plan, re.MULTILINE), plan


def test_minhash_pipeline_flat_signature(spark):
    """The MinHash candidate pipeline (one fold signature over hashed
    shingles, xxhash64-keyed band buckets) must stay flat: no
    ObjectHashAggregate (the old collect_list regroup), no explode-by-32
    Generate (only the 8-band unpack), and the md5 token hash — the
    portability contract — computed in ONE projection below the signature
    fold, never re-derived inside it."""
    import re

    from driftdb_spark.catalog import load_tables
    from driftdb_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures

    d = load_tables(spark, SF)["documents"]
    plan = explain_plan(lsh_candidate_pairs(minhash_signatures(d)))
    assert "ObjectHashAggregate" not in plan
    lines = plan.splitlines()
    generators = [
        next(l for l in lines[i:] if l.startswith("Arguments:"))
        for i, l in enumerate(lines)
        if re.fullmatch(r"\(\d+\) Generate", l)
    ]
    # every Generate is the 8-band unpack of a finished signature
    assert generators and all("xxhash64(element_at(sig" in g for g in generators), plan
    md5_lines = [l for l in lines if "md5(" in l]
    assert len(md5_lines) == 1, plan
    assert "aggregate(" not in md5_lines[0], plan


def test_above_group_mean_broadcasts_means(spark):
    """Aggregate-then-rejoin quality gate: the tiny per-group means must
    broadcast back to the corpus scan, not trigger a sort-merge self-join."""
    facts = plan_facts(QUERIES["filter_above_group_mean"].fn(spark, SF))
    assert facts["has_broadcast_join"]


def test_pipeline_fuses_into_two_shuffles(spark):
    """The end-to-end corpus pipeline (quality -> dedup -> sample -> pack ->
    rollup) must compile to ONE scan and TWO exchanges: the dedup window and
    the packing window. The final rollup reuses the packing window's lang
    partitioning, and the dedup survivor-pick gets WindowGroupLimit
    pre-pruning."""
    import re

    plan = explain_plan(QUERIES["pipeline_training_corpus"].fn(spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 2, plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 1, plan
    assert "WindowGroupLimit" in plan


def test_q6_all_predicates_push_to_scan(spark):
    """Q6 is THE scan-bound query: every predicate (date range, discount
    range, quantity cap) must reach the parquet reader as a pushed filter —
    at 100 TB these become row-group min/max prunes."""
    plan = explain_plan(QUERIES["q6_forecast_revenue"].fn(spark, SF))
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in plan, f"missing pushed filter {frag}"
    assert plan.count("HashAggregate") >= 2  # map-side partial sum


def test_q4_exists_becomes_semi_join(spark):
    """The correlated EXISTS must plan as LeftSemi (probe-side short
    circuit), never as an inner join + distinct."""
    plan = explain_plan(QUERIES["q4_order_priority"].fn(spark, SF))
    assert "LeftSemi" in plan


def test_q8_single_shuffled_join_edge(spark):
    """8-table tree: every dim edge broadcasts; the only shuffled join is
    the lineitem⋈orders fact edge (merge-hinted)."""
    import re

    plan = explain_plan(QUERIES["q8_market_share"].fn(spark, SF))
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.MULTILINE)) == 1, plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.MULTILINE)) >= 5, plan


def test_q15_aggregate_reused_not_recomputed(spark):
    """The per-supplier revenue aggregate feeds both the row source and the
    scalar MAX; the second consumer must read the first's shuffle output
    (ReusedExchange), not rescan+reshuffle lineitem."""
    df = QUERIES["q15_top_supplier"].fn(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_q21_single_fact_pass(spark):
    """EXISTS + NOT EXISTS over the same fact must not re-scan it: one
    lineitem scan, one orders scan, one supplier scan; both quantifier
    branches read ReusedExchanges; no distinct-Expand; exactly three real
    shuffles (two SMJ inputs + final s_name rollup)."""
    df = QUERIES["q21_waiting_supplier"].fn(spark, SF)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan") == 3, final
    assert final.count("ReusedExchange") == 2, final
    assert "Expand" not in final


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """At 100 TB the selective-dim⋈fact shuffle join gets a runtime bloom
    filter: Spark builds a bloom over the filtered creation side's join
    keys and injects might_contain() into the fact scan, cutting shuffle
    write volume before the exchange. The rule is size-gated (application
    side >10 GB, creation side broadcast-able → skip), so at harness scale
    we simulate cluster-relative sizes: broadcast off + app threshold 0.
    Asserts the mechanism is live, not config-disabled."""
    from pyspark.sql import functions as F

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized
        assert "bloom_filter_agg" in optimized, optimized
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_lateral_topn_decorrelates_to_window_limit(spark):
    """The correlated LATERAL (ORDER BY ... LIMIT 3) must NOT plan as a
    per-row nested loop: Catalyst rewrites it to a window rank with
    WindowGroupLimit, so orders is shuffled once on the correlation key."""
    plan = explain_plan(QUERIES["join_lateral_topn"].fn(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_no_python_or_cartesian_in_any_registered_plan(spark):
    """Global hot-path audit over EVERY registered query: no Python
    evaluation nodes anywhere except the multimodal decode boundary (where
    Arrow-batched pandas IS the design), and no CartesianProduct anywhere
    (scalar broadcasts plan as 1-row BroadcastNestedLoopJoin, which is
    fine). This is the engine-wide enforcement of SCALE.md §4 — a new
    operator that accidentally drops into a Python UDF or an unkeyed join
    fails here, not in production."""
    PY_NODES = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    )
    PY_ALLOWED = {
        # the five sanctioned Arrow-batched decode boundaries (pixel/
        # sample decode is the one place Python is the design — SCALE.md §4)
        "multimodal_audio_features",
        "multimodal_image_features",
        "multimodal_ppm_decode",
        "multimodal_wav_decode",
        "multimodal_phash_dedup",  # dHash decode; banding/hamming stay JVM
        "multimodal_phash_recall_audit",  # same decode boundary, audit slice
    }
    offenders_py, offenders_cart = [], []
    for name, spec in sorted(QUERIES.items()):
        plan = explain_plan(spec.fn(spark, SF))
        if any(n in plan for n in PY_NODES) and name not in PY_ALLOWED:
            offenders_py.append(name)
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
    assert not offenders_py, f"Python in hot path: {offenders_py}"
    assert not offenders_cart, f"cartesian joins: {offenders_cart}"

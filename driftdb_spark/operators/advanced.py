"""Advanced join/set/subquery shapes.

These go beyond the reference's surface: it supports only single-column
equi-joins (extract_join_columns sql_bridge.rs:3341-3371 — non-equi ON
errors or falls back) and its INTERSECT/EXCEPT are first-column-only.
Spark expresses all of these natively; the as-of join is the composition
pattern SURVEY §2.3 prescribes (union + window trick → here: range join +
window survivor pick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register


@register(
    "subquery_not_in",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 30000)
      AND c_custkey <= 400
    """,
    tags=("subquery", "null"),
)
def subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (subquery) with standard three-valued-logic semantics (a NULL
    in the subquery result would empty the output — Catalyst plans this as
    null-aware anti join; the reference's row-interpreter treats it as plain
    set-absence, sql_bridge.rs:4208-4219)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 30000)
          AND c_custkey <= 400
        """
    )


_SETA = "SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'"
_SETB = "SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 7000"


@register("setop_except_all", oracle=f"{_SETA} EXCEPT ALL {_SETB}", tags=("setop",))
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics, per-occurrence subtraction) — beyond the
    reference's distinct-only, first-column-only EXCEPT."""
    c = load_tables(spark, sf_dir)["customer"]
    a = c.filter(F.col("c_mktsegment") == "MACHINERY").select(F.col("c_nationkey").alias("nationkey"))
    b = c.filter(F.col("c_acctbal") > 7000).select(F.col("c_nationkey").alias("nationkey"))
    return a.exceptAll(b)


@register("setop_intersect_all", oracle=f"{_SETA} INTERSECT ALL {_SETB}", tags=("setop",))
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    a = c.filter(F.col("c_mktsegment") == "MACHINERY").select(F.col("c_nationkey").alias("nationkey"))
    b = c.filter(F.col("c_acctbal") > 7000).select(F.col("c_nationkey").alias("nationkey"))
    return a.intersectAll(b)


@register(
    "groupby_expression_keys",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CASE WHEN o_totalprice >= 50000 THEN 'big' ELSE 'small' END AS size_band,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("agg",),
)
def groupby_expression_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY computed expressions (the reference groups only on plain
    columns — group key is a stringified concat, sql_bridge.rs:3806-4002)."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.when(F.col("o_totalprice") >= 50000, "big").otherwise("small").alias("size_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )


@register(
    "join_range",
    oracle="""
    SELECT p.p_partkey, p.p_size, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM part p JOIN lineitem l
      ON p.p_partkey = l.l_partkey
     AND l.l_quantity BETWEEN p.p_size AND p.p_size + 15
    GROUP BY p.p_partkey, p.p_size
    """,
    tags=("join",),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range composite join condition (reference: equi-only). The
    equi key carries the shuffle; the range predicate evaluates post-match,
    so this stays a hash join — no O(n·m) blowup at scale."""
    t = load_tables(spark, sf_dir)
    p, li = t["part"], t["lineitem"]
    return (
        p.join(
            li,
            (p.p_partkey == li.l_partkey)
            & li.l_quantity.between(p.p_size, p.p_size + 15),
        )
        .groupBy("p_partkey", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
        )
    )


@register(
    "join_asof",
    oracle="""
    WITH scored AS (
        SELECT o.o_orderkey, o.o_custkey, e.event_id, e.value,
               ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY e.event_id DESC) AS rn
        FROM orders o
        JOIN events e
          ON e.user_id = o.o_custkey % 20
         AND CAST(e.ts AS TIMESTAMP) <= o.o_orderdate + INTERVAL 9000 DAY
        WHERE o.o_orderkey <= 200
    )
    SELECT o_orderkey, o_custkey, event_id AS asof_event, value AS asof_value
    FROM scored WHERE rn = 1
    """,
    tags=("join", "temporal"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each order, the latest event for its (mapped) user at
    or before a horizon — the point-in-time enrichment join every temporal
    store needs; the reference cannot express it (equi-only joins). Built as
    equi+range join → row_number survivor pick; at scale the window
    partitioning rides the join's existing hash partitioning.

    (The testdata's event clock (2024) postdates order dates (1995-2001), so
    the horizon shifts orders forward; the join keys are synthetic — the
    *operator semantics* are what's exercised.)"""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 200)
    e = t["events"]
    joined = o.join(
        e,
        (e.user_id == o.o_custkey % 20)
        & (e.ts <= F.col("o_orderdate") + F.expr("INTERVAL 9000 DAY")),
    )
    w = W.partitionBy("o_orderkey").orderBy(F.col("event_id").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("event_id").alias("asof_event"),
            F.col("value").alias("asof_value"),
        )
    )


@register(
    "agg_median_percentile",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, both linear interpolation; rounded to absorb last-ulp
    interpolation differences). The reference has no percentile support."""
    o = load_tables(spark, sf_dir)["orders"]
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT n_regionkey AS regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("agg",),
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (collect → sort → join renders the order
    explicit, so the concat is deterministic across engines)."""
    n = load_tables(spark, sf_dir)["nation"]
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the sketch path for 100 TB
    cardinality estimation — made oracle-checkable: the projection carries
    the exact distinct count, the group size, and a boolean asserting the
    default-rsd (0.05) HLL++ estimate lands within 5×rsd of exact. The
    engine-specific estimate stays OUT of the projection (DuckDB's sketch
    differs by construction); the cross-engine contract is the BOUND.

    Margin choice (r8 ADVICE): rsd is a standard deviation, not a hard
    cap, so the oracle's TRUE is probabilistic on arbitrary data. At
    5×rsd the per-group exceedance probability is ~6e-7 under the
    Gaussian error model (≲1e-5 even with HLL++'s slightly heavy tails)
    — ~2e-6 per run over the 3 lineitem groups, i.e. negligible as a
    correctness gate. The TIGHT 3×rsd envelope (observed max 1.73×rsd
    across SFs) stays asserted in pytest on the fixed test data, where
    the sketch is deterministic — precision regressions still trip CI;
    the cross-engine oracle no longer gambles on a 3σ event
    (tests/test_functions.py::test_approx_distinct_error_within_bound).
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    # Two-level aggregation instead of countDistinct + approx in one agg:
    # mixing them forced an Expand that duplicated every fact row per
    # aggregate family before the exchange. Level 1 reduces to distinct
    # (flag, orderkey) pairs map-side (carrying per-pair row counts for
    # n); level 2 computes exact = COUNT(*), n = SUM, and feeds the
    # sketch the deduplicated keys — HLL insertion is idempotent, so the
    # estimate is the very same sketch state as over the raw rows.
    pairs = li.groupBy("l_returnflag", "l_orderkey").agg(
        F.count(F.lit(1)).alias("_rows")
    )
    agg = pairs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.sum("_rows").alias("n"),
    )
    rel_err = (
        F.abs(F.col("approx_orders") - F.col("exact_orders")) / F.col("exact_orders")
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "n",
        (rel_err <= F.lit(5 * 0.05)).alias("approx_ok"),
    )


#: HLL++ relative standard deviation used by the audit; the ORACLE-facing
#: bound below is 5×rsd (r8 ADVICE: rsd is a standard deviation, not a hard
#: cap — a 3×rsd oracle gate would fail spuriously ~0.3 % per group on
#: arbitrary data; at 5×rsd that residual is ~6e-7 Gaussian, ≲1e-5 with
#: HLL++'s tails). The TIGHT envelope stays in pytest where the input is
#: fixed and the sketch deterministic: measured max error across
#: sf0.001/0.01/0.1 on (l_returnflag, l_orderkey) is 1.73×rsd, and
#: test_approx_distinct_error_within_bound asserts 3×rsd — so precision
#: regressions still trip CI; only the cross-engine gate got slack.
APPROX_RSD = 0.02
APPROX_ERR_BOUND = 5 * APPROX_RSD


@register(
    "agg_approx_distinct_error_audit",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "approx", "audit"),
)
def agg_approx_distinct_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error guarantee for the HLL sketch path, oracle-checked:
    per group, the exact distinct count plus a boolean asserting the
    HLL++ estimate (rsd=0.02) lands within 5×rsd of it (the margin is
    deliberately wider than the 3×rsd pytest envelope — see the
    APPROX_ERR_BOUND note above for the residual-probability math). The
    oracle projects the same exact counts with ``within_bound = TRUE`` —
    so if the sketch ever leaves its error envelope, the driver's value
    hash goes red rather than the approximation silently degrading (the
    measured-guarantee discipline of dedup_lsh_recall_audit applied to
    cardinality estimation). The estimate itself stays out of the
    projection because its exact value is engine-specific; the BOUND is
    the cross-engine contract. At 100 TB the sketch is the only viable
    distinct count (fixed-size partial state, map-side combinable), and
    this audit is the standing evidence it's trustworthy."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # Same two-level shape as agg_approx_distinct (see note there): dedup
    # to (flag, orderkey) map-side, then exact = COUNT(*) and the sketch
    # over the deduplicated keys — identical HLL state, no Expand.
    pairs = li.groupBy("l_returnflag", "l_orderkey").agg(F.lit(1).alias("_one"))
    agg = pairs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", APPROX_RSD).alias("approx"),
    )
    rel_err = F.abs(F.col("approx") - F.col("exact_orders")) / F.col("exact_orders")
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (rel_err <= F.lit(APPROX_ERR_BOUND)).alias("within_bound"),
    )


@register(
    "agg_skew_salted",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "scale"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed grouping keys.

    ``l_returnflag`` has 3 values over 600 K+ rows — the worst-case shape
    where a plain groupBy funnels each key through one reducer. Phase 1
    groups by (key, salt) so partials spread across ``16 × |keys|``
    reducers; phase 2 combines the per-salt partials. Decimal partial sums
    re-add exactly, so the result is bit-identical to the direct group-by
    (the oracle IS the direct group-by). AQE's skew handling covers joins;
    salting is the aggregation-side equivalent, written once here as the
    pattern for any hot-key rollup at 100 TB.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("_sq"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n"),
        F.sum("_sq").cast("double").alias("sum_qty"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_SQL,
    tags=("join", "subquery", "limit"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (each
    customer's 3 priciest orders) — identical SQL text on both engines.
    The naive execution is a nested loop re-sorting orders per customer;
    Catalyst decorrelates it into a window rank over o_custkey with
    WindowGroupLimit pruning (plan-asserted), i.e. the correlated LIMIT
    costs one shuffle of orders, not |customer| sorted probes. The
    reference has no lateral support at all (sql_bridge.rs FROM-clause
    grammar binds plain table refs only). Tie-break on o_orderkey keeps
    the cut deterministic for the oracle hash."""
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "scale"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join — the join-side companion to
    ``agg_skew_salted``. A hot join key funnels every matching probe row
    through one reducer; the fix replicates each BUILD row S times (explode
    over the salt range) and tags each PROBE row with a row-local salt, so
    one hot key spreads across S reducers. The join condition becomes
    (key, salt) — semantics are UNCHANGED (each probe row matches exactly
    the one replica carrying its salt), which is why the oracle is the
    plain join. AQE's skew-join splitter handles this automatically when
    partition-size stats reveal the skew; the explicit pattern is for the
    cases AQE can't see (skew inside one key, non-shuffle joins) and is
    written once here for reuse. Cost: S× the build side — pick S ≈ the
    hot key's excess factor, not shuffle-partition count."""
    t = load_tables(spark, sf_dir)
    s = 8
    li = t["lineitem"].withColumn(
        # row-local deterministic salt: spreads every key uniformly
        "_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(s)).cast("int"),
    )
    o = t["orders"].withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    )
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (li["_salt"] == o["_salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_PR_EDGES = """
    edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src)
"""

_PR_STEP = """
    c{i} AS (
        SELECT e.dst AS node,
               SUM(CAST(ROUND(r.r * e.w / outw.ow, 12) AS DECIMAL(24,12))) AS s
        FROM edges e
        JOIN outw ON e.src = outw.src
        JOIN r{prev} r ON r.node = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT n.n_nationkey AS node,
               ROUND(CAST(0.006 AS DOUBLE)
                     + CAST(0.85 AS DOUBLE)
                     * CAST(COALESCE(c{i}.s, 0) AS DOUBLE), 12) AS r
        FROM nation n LEFT JOIN c{i} ON c{i}.node = n.n_nationkey
    )
"""


@register(
    "graph_pagerank_nations",
    oracle=(
        "WITH "
        + _PR_EDGES
        + ", r0 AS (SELECT n_nationkey AS node, CAST(0.04 AS DOUBLE) AS r FROM nation),"
        + ",".join(_PR_STEP.format(i=i, prev=i - 1) for i in (1, 2, 3))
        + """
    SELECT n.n_name AS nation, r3.r AS pagerank
    FROM r3 JOIN nation n ON n.n_nationkey = r3.node
    """
    ),
    tags=("graph", "agg"),
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the nation-level trade
    graph — customer nation → supplier nation, edge weight = line count.
    The iterative-message-passing shape beyond connected components: each
    step is contribution-scatter (join ranks onto edges) + gather (sum per
    destination), exactly two shuffles per iteration on the node key.
    Determinism: each per-edge contribution does (rank·w)/out_w in double
    then ROUNDS to 12 decimals and sums as EXACT decimals, and each new
    rank is two double ops then a round — so both engines walk identical
    rank vectors every iteration (the oracle unrolls the three steps as
    chained CTEs). Dangling mass is dropped (simplified PR). At real graph
    scale the loop is `recursive_cte`'s checkpointed driver iteration; 3
    fixed rounds keep it SQL-expressible for the oracle."""
    t = load_tables(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(
            t["orders"].hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # NOT persisted, deliberately: the edge aggregate appears twice per
        # iteration in the lineage (directly + via out-weights), but all
        # occurrences are identical subtrees, so ReuseExchange dedupes them
        # within the one job — isolated-run A/B at sf0.1 (single query per
        # session; in-suite bench medians run higher and are a different
        # condition): single-job reuse 1.31 s vs eager persist + extra
        # job 1.69 s.
    )
    # Out-weights as a window over the (tiny, ≤|nations|²-row) edge
    # aggregate instead of a separate groupBy + join: same ow per src,
    # but each of the three iterations now embeds ONE edges subtree
    # (edges + window) rather than TWO (edges, and edges→outw rejoined) —
    # the unrolled lazy plan roughly halves, which is pure Catalyst
    # planning/ReuseExchange load at bench scale and one less shuffle
    # lineage per iteration at cluster scale (guide §2.4: two operations
    # keyed the same way share one exchange — the window rides the
    # src-keyed layout the join needed anyway).
    norm = edges.withColumn("ow", F.sum("w").over(W.partitionBy("src")))
    nodes = t["nation"].select(F.col("n_nationkey").alias("node"))
    ranks = nodes.select("node", F.lit(0.04).cast("double").alias("r"))
    # r14 dead end (kept as the record, code unchanged): explicit
    # F.broadcast() on the per-iteration rank and contribution sides —
    # motivated by the r13 driver scaling block reading 8 cores beating
    # 32 by 3× here — was implemented, A/B'd, measured a consistent
    # 1.20–1.35× REGRESSION at local[32] (`git show
    # 52710e8:BENCH_query_ab_r14_batch2.json`; interleaved arms, plus an
    # isolated 8-vs-32-core four-way check), and reverted. Two findings:
    # (1) the r13 anti-scaling did not reproduce on a clean machine
    # (base medians 1.35 s at 8 cores vs
    # 1.33 s at 32 — flat, scheduling-floor-bound; the r13 ratio was the
    # degraded-machine artifact its own control arm flagged at 2.1×);
    # (2) static broadcast hints force each iteration's contribution
    # aggregate through a driver-coordinated BroadcastExchange build,
    # which costs MORE than the AQE-managed tiny shuffles they replace —
    # AQE already coalesces/converts these KB-sized exchanges at
    # runtime. SortMergeJoin in the STATIC plan here is not what
    # executes; judge the executed plan, not explain() (guide §7.2).
    for _ in range(3):
        contrib = (
            norm.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.round(F.col("r") * F.col("w") / F.col("ow"), 12).cast(
                        "decimal(24,12)"
                    )
                ).alias("s")
            )
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(0.006).cast("double")
                + F.lit(0.85).cast("double")
                * F.coalesce(F.col("s"), F.lit(0)).cast("double"),
                12,
            ).alias("r"),
        )
    return ranks.join(
        F.broadcast(t["nation"]), F.col("node") == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), F.col("r").alias("pagerank"))


@register(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey <= 2000
    ), deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ), oriented AS (
      -- degree-ordered orientation: low-degree -> high-degree (ties by id)
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
      FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
    ), tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM oriented e1
      JOIN oriented e2 ON e2.s = e1.t
      JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS n_apex_nodes
    FROM tri
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts sharing an
    order are adjacent; bounded to the first 2 000 orders so the oracle's
    three-way join stays tractable at sf0.01). Uses the degree-ordered
    orientation (Schank/Wagner "forward" algorithm, the MapReduce-classic
    from Suri & Vassilvitskii "Counting Triangles and the Curse of the
    Last Reducer"): every edge points low-degree → high-degree, so each
    triangle is counted exactly once and — the 100 TB point — the wedge
    join fans out per node by its ORIENTED out-degree, which is
    O(sqrt(m)) max even for celebrity nodes, instead of the unoriented
    d² blowup that makes the last reducer the bottleneck.

    Plan shape: one orderkey-keyed self-join builds co-purchase pairs,
    one degree aggregate (node-keyed), then wedge-join (s-keyed exchange)
    + closing semi-equality join (edge-keyed). Counts are exact
    integers — no float anywhere."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_orderkey") <= 2000
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # Deliberately NOT persisted (r13 A/B: eager persist+count of the edge
    # list measured 3.86x SLOWER at sf0.1 — the re-derived consumers are
    # pruned sub-second scans while the persist adds a blocking job and
    # cache pressure; the same lazy-beats-persist result as pagerank's
    # committed A/B). Runtime exchange reuse dedupes the identical
    # distinct exchange; only the cheap post-distinct joins re-run.
    pairs = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        pairs.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
        F.countDistinct("a").cast("bigint").alias("n_apex_nodes"),
    )


@register(
    "graph_common_neighbor_similarity",
    oracle="""
    WITH li AS (
        SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        WHERE l_orderkey <= 2000
    ),
    pairs AS (
        SELECT DISTINCT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    ),
    und AS (
        SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM und GROUP BY u),
    wedges AS (
        SELECT a.u AS x, b.u AS y, COUNT(*) AS common
        FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
        GROUP BY a.u, b.u
    )
    SELECT w.x, w.y, w.common,
           ROUND(CAST(w.common AS DOUBLE)
                 / (dx.d + dy.d - w.common), 6) AS jaccard
    FROM wedges w
    JOIN deg dx ON dx.node = w.x
    JOIN deg dy ON dy.node = w.y
    WHERE CAST(w.common AS DOUBLE) / (dx.d + dy.d - w.common) >= 0.5
    """,
    tags=("graph",),
)
def graph_common_neighbor_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by neighborhood Jaccard |N(x)∩N(y)| / |N(x)∪N(y)|
    over the part co-purchase graph — the link-prediction / substitute-
    detection primitive (two parts whose order neighborhoods coincide
    are interchangeable). Common neighbors come from ONE wedge join
    through the shared neighbor (the triangle-count exchange shape —
    candidate pairs only where a wedge exists, never all pairs); degrees
    are a node-keyed aggregate broadcast onto the scored pairs. Exact
    integer counts; bounded to the first 2 000 orders like
    graph_triangle_count so the oracle's joins stay tractable."""
    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_orderkey") <= 2000
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # Deliberately NOT persisted — same measured result as
    # graph_triangle_count: the r13 eager-persist attempt read 2.71x
    # SLOWER at sf0.1 (pruned recomputes are cheaper than the blocking
    # cache build at this scale; pagerank's committed A/B, again).
    pairs = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    und = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    wa = und.select(F.col("u").alias("x"), F.col("v").alias("n"))
    wb = und.select(F.col("u").alias("y"), F.col("v").alias("n"))
    wedges = (
        wa.join(wb, "n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    jac = F.col("common").cast("double") / (
        F.col("dx") + F.col("dy") - F.col("common")
    )
    return (
        wedges.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .filter(jac >= 0.5)
        .select("x", "y", "common", F.round(jac, 6).alias("jaccard"))
    )

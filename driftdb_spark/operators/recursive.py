"""Recursive CTE support via a driver-side fixpoint loop.

Spark SQL has no native ``WITH RECURSIVE``; the reference implements it as an
anchor + iterated recursive arm over the previous iteration's working set,
with UNION dedup vs UNION ALL accumulation and a 1000-iteration cap
(reference crates/driftdb-core/src/sql_bridge.rs:785-904). We implement the
same working-set algorithm over DataFrames.

Scale note: each iteration's frontier is a DataFrame — the loop only adds
plan nodes, so a deep recursion builds a deep plan. We checkpoint each
frontier via ``localCheckpoint`` to cut lineage and pin the one execution the
emptiness probe already forces, which is the standard Spark idiom for
iterative algorithms (same reason GraphX/ALS do it). Static relations
referenced by the recursive arm must be materialized ONCE by the caller
(see ``cte_recursive_walk``) — real WITH RECURSIVE engines evaluate the
non-recursive side once, and re-deriving it per iteration multiplies the
scan count by the recursion depth.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register

MAX_ITERATIONS = 1000  # reference cap: sql_bridge.rs:827

#: below this frontier size the next iteration's job is pure scheduling
#: overhead at default parallelism — coalesce it to ONE partition
SMALL_FRONTIER_ROWS = 10_000


def recursive_cte(
    anchor: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    distinct: bool = False,
    max_iterations: int = MAX_ITERATIONS,
    batch: int = 1,
) -> DataFrame:
    """Fixpoint-iterate ``step`` from ``anchor`` (UNION ALL semantics by
    default; ``distinct=True`` gives UNION semantics where already-seen rows
    do not re-enter the working set, exactly the reference's algorithm).

    Per-iteration mechanics, settled by an isolated A/B
    (``git show 52710e8:scripts/bench_recursive_ab.py``, 26-step walk at
    sf0.01, median of 5 interleaved reps): lazy ``localCheckpoint``
    materialized by the emptiness probe's ``count()`` — one job per
    iteration — plus a
    ``coalesce(1)`` of each frontier whose MEASURED count is tiny, so a
    near-empty working set stops scheduling default-parallelism tasks to
    move a handful of rows (the decision keys on the counted frame
    itself, never a prediction — a frontier that explodes in one step
    keeps its natural partitioning). Measured medians (quiet machine,
    load 0.00): eager checkpoint + isEmpty (r8) 2.86 s, lazy + count
    alone (r9) 3.40 s — the r9 docstring's claimed halving was wrong;
    lazy alone is a 0.84x REGRESSION in isolation because count() is a
    two-stage job while eager's materialize + limit-1 probe are two
    one-stage jobs — and lazy + measured-small coalesce 2.41 s (1.18x
    over r8; 1.12-1.21x across three invocations,
    ``git show 52710e8:BENCH_recursive_ab_r10.json``). That sits
    at the driver-side floor: a recursive CTE must materialize every
    frontier before the driver can decide to continue, so wall ==
    iterations x per-job fixed cost (~0.11 s on this machine) no matter
    how the probe is phrased; deeper wins need fewer round-trips, not
    cheaper ones. That is what ``batch`` does (r13): run ``batch`` lazy
    steps per driver round-trip and probe only the last one — the probe
    count drops from depth to depth/batch jobs.

    ``batch > 1`` is OPT-IN and exact only under two conditions the
    caller must guarantee: UNION ALL semantics (``distinct=False`` —
    the dedup arm needs the accumulated set materialized each step) and
    ``step(empty) == empty`` (true for any join/filter/project
    composition over the frontier; NOT true if the frontier sits on the
    null-padded side of an outer join). When the fixpoint lands inside
    a batch, the overshot tail steps run on empty frontiers and union
    zero rows — the accumulated result is row-identical to batch=1.

    The SQL ``WITH RECURSIVE`` surface does not route through this
    helper at all (r14 audit, VERDICT item #6): Spark 4.1 executes
    recursive CTEs natively (SPARK-24497's UnionLoop operator), so a
    ``WITH RECURSIVE`` statement through the SQL frontend iterates
    entirely inside the JVM with ZERO per-step driver probes — already
    strictly better than any batch=k driver loop. Native support is
    UNION ALL arms only (UNION-distinct raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, pinned by a test); this
    helper remains for Python-built fixpoints — distinct working-set
    semantics, measured-count gates, per-round collected state.

    At scale the coalesce heuristic is inert: frontiers above
    SMALL_FRONTIER_ROWS keep their natural partitioning."""
    if distinct:
        batch = 1
    acc = anchor
    frontier = anchor
    done = 0
    while done < max_iterations:
        tail: list[DataFrame] = []
        for _ in range(min(batch, max_iterations - done)):
            nxt = step(frontier)
            if distinct:
                nxt = nxt.distinct().subtract(acc)
            tail.append(nxt)
            frontier = nxt
            done += 1
        probe = tail[-1].localCheckpoint(eager=False)
        n = probe.count()
        if n <= SMALL_FRONTIER_ROWS:
            # coalesce AFTER counting, so the decision is about THIS
            # frame's measured size — gating on the previous frontier
            # would force a frontier that exploded in one step (small
            # prev, fan-out join) into a single partition. A coalesce of
            # a checkpointed tiny frame is a narrow no-shuffle read of
            # its blocks; the next iteration's job runs one task instead
            # of default-parallelism tasks moving a handful of rows.
            probe = probe.coalesce(1)
        tail[-1] = probe
        frontier = probe
        for f in tail:
            acc = acc.unionByName(f)
        if n == 0:
            break
    return acc


@register(
    "cte_recursive_walk",
    oracle="""
    WITH RECURSIVE walk(nk, running) AS (
        SELECT CAST(0 AS INTEGER) AS nk, CAST(0 AS BIGINT) AS running
        UNION ALL
        SELECT walk.nk + 1,
               walk.running + COALESCE(cnt.n, 0)
        FROM walk
        LEFT JOIN (SELECT c_nationkey AS nk2, COUNT(*) AS n
                   FROM customer GROUP BY c_nationkey) cnt
          ON cnt.nk2 = walk.nk
        WHERE walk.nk < 25
    )
    SELECT nk, running FROM walk
    """,
    tags=("cte", "recursive"),
)
def cte_recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE: walk nationkeys 0..25 accumulating a running customer
    count — anchor + recursive arm with a join, UNION ALL accumulation.
    DuckDB runs the equivalent WITH RECURSIVE as the oracle."""
    t = load_tables(spark, sf_dir)
    # Static side of the recursive arm: evaluate ONCE (localCheckpoint), as
    # WITH RECURSIVE engines do — otherwise every iteration re-runs the
    # customer scan+aggregate, depth × full-table scans.
    cnt = (
        t["customer"]
        .groupBy(F.col("c_nationkey").alias("nk2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    anchor = spark.range(1).select(
        F.lit(0).cast("int").alias("nk"), F.lit(0).cast("bigint").alias("running")
    )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.filter(F.col("nk") < 25)
            .join(F.broadcast(cnt), frontier.nk == cnt.nk2, "left")
            .select(
                (F.col("nk") + 1).cast("int").alias("nk"),
                (F.col("running") + F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("running"),
            )
        )

    # batch=9 is exact here: UNION ALL accumulation and a step that is a
    # filter + broadcast-left-join + project over the frontier, so
    # step(empty) == empty (see recursive_cte). 26-step walk → 3 driver
    # probes instead of 26; each probe job is fixed scheduling cost,
    # which WAS the whole runtime of this query (measured same-session:
    # batch=1 4.33 s, batch=5 3.22 s, batch=9 2.46 s; single digits keep
    # the lazy overshoot tail shallow — see the batch contract note).
    #
    # r14 dead ends (code unchanged, kept as the record):
    # - NATIVE rewrite — issuing this walk as a WITH RECURSIVE statement
    #   over a temp view of the checkpointed cnt (UnionLoop, zero driver
    #   probes; output proven row-identical and oracle-verified at three
    #   SFs) measured NEUTRAL-TO-WORSE in the interleaved cross-checkout
    #   A/B at sf0.1 (1.07×, second run machine-drift-polluted with clean
    #   arms ~0.9× — no consistent direction). Mechanism: UnionLoop
    #   materializes EVERY step as its own JVM job (26 jobs) where
    #   batch=9 composes 9 lazy steps into ONE probe job (~3 jobs total);
    #   the 3 saved driver round-trips don't cover the 23 extra jobs at
    #   this frontier size. Native wins only where per-probe driver
    #   latency dominates per-job cost — not the case at local[32].
    # - batch re-tuning: batch=13 (2 probes) 0.91× = noise; batch=26
    #   (1 probe) 1.42× WORSE — the un-checkpointed within-batch chains
    #   re-execute on final materialization, O(batch²) step evaluations.
    return recursive_cte(anchor, step, batch=9)

"""Math/semantics checks for the pipeline operators that lack a DuckDB
oracle: MinHash vs a NumPy reimplementation, LSH recall, recursive CTE."""

from __future__ import annotations

from pyspark.sql import functions as F

from driftdb_spark.functions.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from driftdb_spark.functions.similarity import cosine_topk, lsh_bucket
from driftdb_spark.operators.recursive import recursive_cte

SF = "/root/testdata/sf0.001"


def test_minhash_detects_near_duplicates(spark):
    """Two near-identical synthetic docs must share band buckets; two
    unrelated ones must not."""
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"
    other = " ".join(f"x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_fold_matches_python_model(spark):
    """The unrolled-step signature fold (r13: permutation constants
    pre-folded into a flat array constructor) must equal a direct Python
    fold with the ORIGINAL per-permutation formula
    min_h pmod(h·(1000003·j+12345) + (999983·j+7919), p). The shingle
    hashes come from the same Spark pipeline, so this isolates exactly
    the fold that changed."""
    from driftdb_spark.functions.dedup import N_PERMS, hashed_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    rows = hashed_shingles(docs).select("doc_id", "hshingles").collect()
    p = 2_147_483_647
    expected = {}
    for r in rows:
        sig = [p] * N_PERMS
        for h in r.hshingles:
            for j in range(N_PERMS):
                v = (h * (1000003 * j + 12345) + (999983 * j + 7919)) % p
                if v < sig[j]:
                    sig[j] = v
        expected[r.doc_id] = sig
    actual = {
        r.doc_id: list(r.sig) for r in minhash_signatures(docs).collect()
    }
    assert actual == expected


def test_minhash_signature_is_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    a = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    b = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    assert a == b


def test_exact_duplicate_has_identical_signature(spark):
    text = " ".join(f"tok{i}" for i in range(50))
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    sigs = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]


def test_minhash_lsh_skips_docs_without_shingles(spark, tmp_path):
    """Documents of fewer than 3 words have no shingles: they used to get
    an all-p signature, collide with each other in every band, and divide
    0 by 0 in the Jaccard verify (DIVIDE_BY_ZERO under ANSI). They are
    dropped before the signature step, and the DuckDB oracle agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from driftdb_spark.registry import QUERIES
    from tests.oracle import compare

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"
    docs = {"doc_id": [1, 2, 4, 10, 11], "text": ["a b", "c", "", base, near]}
    pq.write_table(pa.table(docs), str(tmp_path / "documents.parquet"))
    spec = QUERIES["dedup_minhash_lsh"]
    df = spec.fn(spark, str(tmp_path))
    assert [(r.id_a, r.id_b) for r in df.collect()] == [(10, 11)]
    compare(df, spec.oracle, str(tmp_path))


def test_cosine_topk_self_similarity(spark):
    """The most similar vector to a duplicate of v0 must be v0's twin with
    cos ≈ 1."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    twin = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"), "embedding", "label"
    )
    top = cosine_topk(emb.unionByName(twin), query_vec_id=0, k=3).collect()
    assert top[0].vec_id == 9999
    assert abs(top[0].cos_sim - 1.0) < 1e-6


def test_lsh_bucket_deterministic_and_bounded(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    b1 = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    b2 = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    assert b1 == b2
    assert all(0 <= v < 64 for v in b1.values())


def test_recursive_cte_union_distinct_semantics(spark):
    """UNION (distinct) mode: revisited rows don't re-enter the frontier
    (reference sql_bridge.rs:785-904 working-set algorithm)."""
    anchor = spark.createDataFrame([(0,)], "n int")

    def step(frontier):
        # cycle 0→1→2→0…: without dedup this never terminates
        return frontier.select(((F.col("n") + 1) % 3).alias("n"))

    out = recursive_cte(anchor, step, distinct=True, max_iterations=50)
    assert sorted(r.n for r in out.collect()) == [0, 1, 2]


def test_recursive_cte_batched_matches_unbatched(spark):
    """batch>1 (fewer driver probes, r13) must be row-identical to
    batch=1 for UNION ALL arms — including when the fixpoint lands
    mid-batch and the tail steps run on empty frontiers."""
    anchor = spark.createDataFrame([(0, 1)], "n int, v int")

    def step(frontier):
        # terminates after 7 steps (n=7 filtered out) — not a multiple
        # of any batch size used below, so every batch overshoots
        return frontier.filter(F.col("n") < 7).select(
            (F.col("n") + 1).alias("n"), (F.col("v") * 2).alias("v")
        )

    expected = sorted(
        (r.n, r.v) for r in recursive_cte(anchor, step).collect()
    )
    assert len(expected) == 8  # anchor + 7 steps
    # batch stays single-digit by design: the overshot tail is lazy, so a
    # huge batch builds a deep unexecuted plan whose constant folding can
    # even overflow (v*2 folded batch times) — bounded overshoot is part
    # of the contract, not just a perf preference.
    for batch in (2, 3, 5, 8):
        got = sorted(
            (r.n, r.v)
            for r in recursive_cte(anchor, step, batch=batch).collect()
        )
        assert got == expected, f"batch={batch} diverged"
    # the distinct path silently degrades to batch=1 (needs materialized
    # accumulator every step) — same cycle fixture as the test above
    def cycle(frontier):
        return frontier.select((F.col("n") + 1) % 3, "v").toDF("n", "v")

    out = recursive_cte(
        spark.createDataFrame([(0, 1)], "n int, v int"),
        cycle,
        distinct=True,
        max_iterations=50,
        batch=4,
    )
    assert sorted(r.n for r in out.collect()) == [0, 1, 2]


def test_cosine_norms_folded_outside_pair_projection(spark):
    """r14 hoist pin: sim_cosine_topk_batch folds the corpus norm ONCE
    per row (pre-crossJoin column) and the query norms ONCE per query
    (inside the broadcast block) — the scoring projection that runs per
    (row × query) PAIR carries only the dot fold. The interpreted
    64-term folds neither codegen nor share subexpressions, so inline
    norms cost 3 folds per pair (24 per corpus row at Q=8) for
    bit-identical values. Pins (a) the plan shape — no SQRT(aggregate
    on the round(...) scoring line — and (b) the same per-query top-3
    ranking and values as the inline-norms formulation it replaced."""
    from driftdb_spark.catalog import load_tables
    from driftdb_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    df = QUERIES["sim_cosine_topk_batch"].fn(spark, SF)
    # one casing source for both needles, so the guard cannot drift
    # apart from the anchor that finds the scoring line
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).lower()
    scoring = [l for l in plan.splitlines() if "round((aggregate" in l]
    assert scoring, "scoring projection (round of a dot fold) not found"
    assert all("sqrt(aggregate" not in l for l in scoring), (
        "a norm fold is back inside the per-pair scoring projection"
    )

    def dots(v, q):
        return F.aggregate(
            F.zip_with(v, q, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    emb = load_tables(spark, SF)["embeddings"]
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    ref = (
        emb.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dots(F.col("embedding"), F.col("qe"))
                / (
                    F.sqrt(dots(F.col("embedding"), F.col("embedding")))
                    * F.sqrt(dots(F.col("qe"), F.col("qe")))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    # the whole ranking, not only the values of the rows that survive: a
    # pair whose score wrongly dropped would leave the top-3 with
    # replacement rows whose values still match the reference
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    ref_top = {
        (r.q_id, r.vec_id, r.rank, r.cos_sim)
        for r in ref.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= 3)
        .collect()
    }
    got = {(r.q_id, r.vec_id, r.rank, r.cos_sim) for r in df.collect()}
    assert got == ref_top, (
        "hoisted-norm cosine top-3 diverges from the inline-norms formulation"
    )


def test_sql_with_recursive_is_spark_native(spark):
    """The SQL WITH RECURSIVE surface (r14 audit, VERDICT item #6)
    executes through Spark 4.1's native UnionLoop — one JVM-internal
    fixpoint, zero per-step driver probes — not through the Python
    recursive_cte helper, so no batch=k driver-loop work applies there.
    Pins the plan shape, the values, and the boundary: native support is
    UNION ALL only; the UNION-distinct form raises a clear
    AnalysisException (cycle-terminating distinct recursion remains the
    Python helper's distinct=True mode)."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    df = spark.sql(
        "WITH RECURSIVE t(n, acc) AS ("
        "  SELECT 1, CAST(10 AS BIGINT)"
        "  UNION ALL SELECT n + 1, acc * 2 FROM t WHERE n < 6"
        ") SELECT * FROM t"
    )
    assert "UnionLoop" in df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert sorted((r.n, r.acc) for r in df.collect()) == [
        (1, 10), (2, 20), (3, 40), (4, 80), (5, 160), (6, 320)
    ]
    with pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            "WITH RECURSIVE c(n) AS ("
            "  SELECT 0 UNION SELECT (n + 1) % 3 FROM c"
            ") SELECT * FROM c"
        ).collect()


def test_ivf_probe_recall_vs_exact(spark):
    """IVF with nprobe=4 of 16 lists must recover most of the exact top-10
    (structural recall check: the probed lists are the ones nearest the
    query, so its true neighbors' lists are likely probed)."""
    from driftdb_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    exact = {r.vec_id for r in cosine_topk(
        spark.read.parquet(f"{SF}/embeddings.parquet"), query_vec_id=0, k=10
    ).collect()}
    approx = {r.vec_id for r in QUERIES["sim_ann_ivf"].fn(spark, SF).collect()}
    assert len(exact & approx) / len(exact) >= 0.5


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """30 byte-identical docs put 30 members in every band bucket —
    uncapped that is 435 candidate pairs; a cap of 10 drops the buckets
    entirely and the audit frame reports each one with its size."""
    from driftdb_spark.functions.dedup import N_BANDS, lsh_oversized_buckets

    text = " ".join(f"tok{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs)
    assert lsh_candidate_pairs(sigs, max_bucket_size=1000).count() == 435
    assert lsh_candidate_pairs(sigs, max_bucket_size=10).count() == 0
    audit = lsh_oversized_buckets(sigs, max_bucket_size=10).collect()
    assert len(audit) == N_BANDS
    assert all(r.bucket_size == 30 for r in audit)


def test_lsh_cap_keeps_normal_pairs(spark):
    """The cap must not disturb buckets under the limit — near-dup recall
    from the uncapped test still holds at the default cap."""
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"
    docs = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert (1, 2) in pairs


def test_lsh_capped_join_plan_filters_both_sides(spark):
    """Plan shape: the bucket-size filter sits on the join inputs (a
    windowed count over the same (band, bh) keys the join shuffles on)."""
    import io
    from contextlib import redirect_stdout

    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(5)],
        "doc_id long, text string",
    )
    pairs = lsh_candidate_pairs(minhash_signatures(docs), max_bucket_size=7)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    assert "_bsz" in plan and "Window" in plan


def test_approx_distinct_error_within_bound(spark):
    """HLL++ estimate must land within 3×rsd of the exact distinct count
    across rsd configs and key distributions (the numeric side of the
    oracle-checked agg_approx_distinct_error_audit bound; rsd is one
    standard deviation, measured max error across SFs is 1.73×rsd)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    cases = [
        (li, "l_returnflag", "l_orderkey"),  # few groups, dense keys
        (ev, "event_type", "user_id"),  # more groups, skewed keys
    ]
    for df, group, key in cases:
        for rsd in (0.05, 0.02, 0.01):
            rows = df.groupBy(group).agg(
                F.countDistinct(key).alias("exact"),
                F.approx_count_distinct(key, rsd).alias("approx"),
            ).collect()
            assert rows
            for r in rows:
                rel = abs(r.approx - r.exact) / r.exact
                assert rel <= 3 * rsd, (
                    f"{group}/{key} rsd={rsd}: group {r[group]} "
                    f"exact={r.exact} approx={r.approx} rel={rel:.4f}"
                )


def test_approx_distinct_audit_all_within_bound(spark):
    """The registered audit query itself: every group's within_bound flag
    is True at the test SF (the oracle asserts the same at the driver's
    SF — a False here means the sketch left its 5×rsd error envelope;
    the tighter 3×rsd envelope is asserted numerically above)."""
    from driftdb_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    rows = QUERIES["agg_approx_distinct_error_audit"].fn(spark, SF).collect()
    assert rows and all(r.within_bound for r in rows)


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom membership can over-approximate but never under-approximate:
    every exact train/test shingle hit must also be a Bloom hit, at both
    gram and doc granularity (a miss would mean a train shingle's bits
    were not all set — a construction bug, not a tuning issue)."""
    from driftdb_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    rows = QUERIES["decontaminate_bloom"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.gram_hits_bloom >= r.gram_hits_exact, r
        assert r.flagged_bloom >= r.flagged_exact, r
        assert r.gram_false_pos == r.gram_hits_bloom - r.gram_hits_exact, r


def test_bloom_decontaminate_matches_exact_overlap_flags(spark):
    """The Bloom query's exact-path columns must agree with the standalone
    exact operator (`decontaminate_ngram_overlap`) — they implement the
    same ground truth, so a divergence is a bug in one of them."""
    from driftdb_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    bloom = {
        r.lang: (r.n_test_docs, r.flagged_exact)
        for r in QUERIES["decontaminate_bloom"].fn(spark, SF).collect()
    }
    exact = {
        r.lang: (r.n_test_docs, r.n_contaminated)
        for r in QUERIES["decontaminate_ngram_overlap"].fn(spark, SF).collect()
    }
    assert bloom == exact


def test_pca_rowlocal_s2_matches_explode_join_reduction(spark):
    """r13 rewrite pin: sim_pca_power_iteration computes s2 = G·v1 as a
    ROW-LOCAL zip_with/aggregate fold against the collapsed 64-element v1
    array (no vec_id-keyed exchange). This must equal the shape it
    replaced — posexplode → broadcast-join v1 on dim → groupBy(vec_id)
    SUM — exactly, not approximately: both are integer sums, which are
    order-independent, so any divergence is a construction bug (wrong
    dim ordering in the collapsed array being the likely one)."""
    from driftdb_spark.catalog import load_tables
    from driftdb_spark.registry import _ensure_loaded

    _ensure_loaded()
    emb = load_tables(spark, SF)["embeddings"]
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 100).cast("long")
        ).alias("qv"),
    ).withColumn(
        "s1", F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x)
    )
    e = q.select(
        "vec_id", "s1", F.posexplode("qv").alias("pos", "qc")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "qc", "s1")
    v1 = e.groupBy("dim").agg(F.sum(F.col("qc") * F.col("s1")).alias("v1"))
    # reference: the replaced explode → join → groupBy reduction
    ref = {
        r.vec_id: r.s2
        for r in e.join(F.broadcast(v1), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qc") * F.col("v1")).alias("s2"))
        .collect()
    }
    # shipped: row-local fold against the collapsed dim-ordered v1 array
    v1row = v1.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "v1"))),
            lambda s: s["v1"],
        ).alias("v1a")
    )
    got = {
        r.vec_id: r.s2
        for r in q.crossJoin(F.broadcast(v1row))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("qv", "v1a", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("s2"),
        )
        .collect()
    }
    assert got == ref and len(got) > 0

"""Similarity search over the ``embeddings`` table (array<float> vectors).

Brute-force cosine top-k is the oracle-checked baseline: one broadcast of the
query vector + a narrow map stage + TakeOrderedAndProject — no shuffle of the
corpus at all, so even the "brute force" path scales linearly. The LSH
(random-hyperplane) variant is the 100 TB path: bucket the corpus once, probe
only the query's bucket.

Determinism: all arithmetic is promoted to float64 *before* any sum on both
engines, sums fold sequentially (``aggregate``/``list_sum`` over 64 elements),
and the final similarity is ROUND(...,6) so last-ulp accumulation-order
differences cannot flip the hash or the top-k cut (tie-break by vec_id on the
rounded value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register

DIM = 64
# 6 planes → 64 buckets: sized so buckets hold ~1/64 of the corpus. At real
# scale you'd grow planes with log2(corpus) and multi-probe neighboring
# buckets; recall vs exact top-k is asserted in tests.
N_PLANES = 6


def _dots(v: str, q: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({v}, {q}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
    )


def cosine_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 20
) -> DataFrame:
    """Exact top-k by cosine similarity against one stored vector.

    The query norm is folded ONCE inside the broadcast block (r14): the
    interpreted 64-term norm fold neither codegens nor shares
    subexpressions (the r13 executed-plan audits), so an inline
    sqrt(_dots(qe, qe)) in the scoring projection re-ran the identical
    fold for EVERY corpus row. Same expression, same double, same
    ROUND — bit-identical output; per-row folds drop 3 → 2 (the corpus
    row's own norm is per-row work either way)."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe"),
        F.sqrt(_dots("embedding", "embedding")).alias("qn"),
    )
    scored = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(
                _dots("embedding", "qe")
                / (F.sqrt(_dots("embedding", "embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(k)


_COSINE_ORACLE = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    s AS (
        SELECT e.vec_id, e.label,
          list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS dot,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS na,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))) AS nq
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, ROUND(dot / (na * nq), 6) AS cos_sim
    FROM s
    ORDER BY cos_sim DESC, vec_id
    LIMIT 20
"""


@register("sim_cosine_topk", oracle=_COSINE_ORACLE, tags=("similarity",))
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 for the vec_id=0 query vector."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return cosine_topk(emb, query_vec_id=0, k=20)


@register(
    "sim_label_centroid_norm",
    oracle=f"""
    WITH e AS (
        SELECT label,
          list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS sq_norm
        FROM embeddings
    )
    SELECT label, COUNT(*) AS n,
           ROUND(SUM(ROUND(sq_norm, 8)), 4) AS sum_sq_norm,
           ROUND(MIN(sq_norm), 6) AS min_sq_norm,
           ROUND(MAX(sq_norm), 6) AS max_sq_norm
    FROM e GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def sim_label_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics — the aggregation shape of centroid
    computation (sum over group of per-row reductions). Per-row norms are
    rounded to 8dp before the group sum so the cross-engine sum stays exact."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    sq = _dots("embedding", "embedding")
    return (
        emb.select("label", F.round(sq, 8).alias("sq_norm_r"), sq.alias("sq_norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("sq_norm_r").cast("decimal(20,8)")).cast("double"), 4).alias(
                "sum_sq_norm"
            ),
            F.round(F.min("sq_norm"), 6).alias("min_sq_norm"),
            F.round(F.max("sq_norm"), 6).alias("max_sq_norm"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
          list_transform(range(1, {DIM + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS e,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
        FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, {DIM + 1}), i -> a.e[i] * b.e[i]))
          / (a.nrm * b.nrm) >= 0.5
    """,
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup stage of a
    training pipeline). Bounded to vec_id<300 so the oracle's O(n²) pairwise
    join stays tractable; the unbounded scale path buckets by LSH first
    (sim_ann_lsh_probe) so only co-bucketed vectors ever meet."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 300)
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    ).withColumn("nrm", F.sqrt(_dots("e", "e")))
    a = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dots("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.5)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


def _plane_sign_matrix(spark, sign_sql: str, n_planes: int) -> list:
    """The deterministic ±1 hyperplane matrix, evaluated ONCE as a 1-row
    job over literals and inlined into the bucketing expression as array
    literals (r13). The planes are CONSTANTS — the previous form
    re-derived each component's hash inside the per-row dot-product
    lambda, i.e. |corpus| × n_planes × DIM hash calls of literal strings
    that Catalyst cannot constant-fold through the lambda boundary.
    ``sign_sql`` sees ``j`` (plane) and ``i`` (dimension) and must
    reproduce the historical per-plane strings exactly so bucket ids are
    unchanged."""
    expr = (
        f"transform(sequence(0, {n_planes - 1}), j -> "
        f"transform(sequence(0, {DIM - 1}), i -> {sign_sql}))"
    )
    return spark.range(1).select(F.expr(expr).alias("m")).first()["m"]


def _plane_dot(plane: list) -> F.Column:
    vals = ",".join(f"{s}D" for s in plane)
    return F.expr(
        f"aggregate(zip_with(embedding, array({vals}), "
        "(x, s) -> CAST(x AS DOUBLE) * s), "
        "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
    )


#: ±1 pseudo-random plane component from md5 parity — identical on both
#: engines, so bucket ids are oracle-checkable. Spark side, in the
#: (j, i)-parameterized form _plane_sign_matrix evaluates once (r13; the
#: per-row re-derivation this replaces is documented there). The concat
#: reproduces the historical 'plane{j}:{i}' strings byte-for-byte.
_MD5_SIGN_SQL = (
    "CAST(pmod(cast(conv(substr(md5(concat('plane', CAST(j AS STRING), ':', "
    "CAST(i AS STRING))), 1, 1), 16, 10) as bigint), 2) * 2 - 1 AS DOUBLE)"
)


def _md5_dot_duck(j: int) -> str:
    sign = (
        f"((CAST('0x' || substr(md5('plane{j}:' || CAST(i - 1 AS VARCHAR)), 1, 1) AS BIGINT) % 2) * 2 - 1)"
    )
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {sign}))"
    )


def _lsh_probe_oracle() -> str:
    bucket_duck = " + ".join(
        f"(CASE WHEN {_md5_dot_duck(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    probe_cond = " OR ".join(
        ["b.bucket = q.qb"] + [f"b.bucket = xor(q.qb, {1 << j})" for j in range(N_PLANES)]
    )
    return f"""
    WITH b AS (
        SELECT vec_id, label, embedding, ({bucket_duck}) AS bucket FROM embeddings
    ),
    q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
    cand AS (
        SELECT b.vec_id, b.label, b.embedding, q.qe
        FROM b, q WHERE b.vec_id <> 0 AND ({probe_cond})
    ),
    s AS (
        SELECT vec_id, label,
          list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS dot,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS na,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) AS nq
        FROM cand
    )
    SELECT vec_id, label, ROUND(dot / (na * nq), 6) AS cos_sim
    FROM s
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """


def lsh_bucket(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign bits of dot(v, r_j) for
    deterministic pseudo-random ±1 planes r_j (md5-derived; matrix
    pre-evaluated once — see _plane_sign_matrix). One narrow map stage;
    at scale the corpus is written bucketed-by so probes touch one
    bucket."""
    mat = _plane_sign_matrix(emb.sparkSession, _MD5_SIGN_SQL, n_planes)
    bits = []
    for j in range(n_planes):
        dot_j = _plane_dot(mat[j])
        bits.append(F.when(dot_j > 0, F.lit(1 << j)).otherwise(0))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return emb.select("vec_id", "label", "embedding", bucket.cast("long").alias("bucket"))


_LSH_PROBE_ORACLE = _lsh_probe_oracle()


@register("sim_ann_lsh_probe", oracle=_LSH_PROBE_ORACLE, tags=("similarity",))
@register("sim_ann_lsh_portable", oracle=_LSH_PROBE_ORACLE, tags=("similarity",))
def sim_ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via LSH: bucket the corpus, multi-probe the query's bucket plus
    all Hamming-distance-1 neighbors (the standard multi-probe LSH recall
    fix), exact cosine within the probed buckets only. Bucket assignment,
    the probe set and the in-bucket cosine top-10 are all recomputed by
    the DuckDB oracle (md5 planes); bucketing is one narrow map stage and
    the probes broadcast. ``sim_ann_lsh_portable`` is the same query under
    its older name."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    bucketed = lsh_bucket(emb)
    probes = (
        bucketed.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qe"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {N_PLANES}), "
                    f"j -> CASE WHEN j = {N_PLANES} THEN bucket "
                    "ELSE CAST(bucket AS BIGINT) ^ shiftleft(1L, j) END)"
                )
            ).alias("qbucket"),
        )
    )
    cand = bucketed.join(
        F.broadcast(probes), F.col("bucket") == F.col("qbucket")
    ).filter(F.col("vec_id") != 0)
    scored = cand.select(
        "vec_id",
        "label",
        F.round(
            _dots("embedding", "qe")
            / (F.sqrt(_dots("embedding", "embedding")) * F.sqrt(_dots("qe", "qe"))),
            6,
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


# --- IVF (inverted-file) ANN -------------------------------------------------
# Coarse quantizer: K seed vectors (vec_id < K) act as list centroids; every
# vector is assigned to its nearest list (cosine argmax), the query probes the
# N_PROBE nearest lists, exact cosine runs only inside probed lists. At 100 TB
# the corpus is written PARTITIONED BY list_id, so a probe is partition
# pruning: nprobe/K of the data is read, everything else never leaves disk.
K_LISTS = 16
N_PROBE = 4

_SIM = (
    "round(aggregate(zip_with({v}, {c}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) / ({nv} * {nc}), 6)"
)


def ivf_centroid_row(emb: DataFrame) -> DataFrame:
    """The 1-row broadcastable coarse quantizer: the K seed vectors
    (vec_id < K_LISTS) collected into one sorted struct array with
    precomputed norms. The quantizer of sim_ann_ivf; the probe-pruning
    audit that measured this construction is retired to git history
    (``git show 52710e8:scripts/bench_scaling.py``)."""
    return (
        emb.filter(F.col("vec_id") < K_LISTS)
        .select(
            F.struct(
                F.col("vec_id").alias("cid"),
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ce"),
            ).alias("c")
        )
        .withColumn(
            "c",
            F.struct("c.cid", "c.ce", F.sqrt(_dots("c.ce", "c.ce")).alias("cnrm")),
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )


def ivf_probe_explode() -> F.Column:
    """Explode the N_PROBE nearest-centroid ids for a query row carrying
    (qe, qnrm, qcents) — the probe-selection expression, defined once."""
    probe_sim = _SIM.format(v="qe", c="c.ce", nv="qnrm", nc="c.cnrm")
    return F.explode(
        F.expr(
            "transform(slice(reverse(array_sort(transform(qcents, c -> "
            f"struct({probe_sim} AS s, c.cid AS cid)))), 1, {N_PROBE}), p -> p.cid)"
        )
    )


def ivf_assign(emb: DataFrame, cent_row: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid — row-local argmax over the
    broadcast quantizer (array_max on (sim, cid) structs: ties take the higher
    cid). No shuffle: one narrow map stage over the corpus."""
    best = F.expr(
        "array_max(transform(cents, c -> struct("
        + _SIM.format(v="embedding", c="c.ce", nv="enrm", nc="c.cnrm")
        + " AS s, c.cid AS cid))).cid"
    )
    return (
        emb.crossJoin(F.broadcast(cent_row))
        .withColumn("enrm", F.sqrt(_dots("embedding", "embedding")))
        .withColumn("list_id", best)
    )


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH cn AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm
        FROM embeddings WHERE vec_id < {K_LISTS}
    ),
    en AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS enrm
        FROM embeddings
    ),
    assign AS (
        SELECT vec_id, cid AS list_id FROM (
            SELECT en.vec_id, cn.cid,
                   ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
                       ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                            i -> en.ee[i] * cn.ce[i])) / (en.enrm * cn.cnrm), 6) DESC,
                       cn.cid DESC) AS rk
            FROM en CROSS JOIN cn
        ) ranked WHERE rk = 1
    ),
    q AS (SELECT ee AS qe, enrm AS qnrm FROM en WHERE vec_id = 0),
    probes AS (
        SELECT cn.cid FROM cn CROSS JOIN q
        ORDER BY ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                     i -> q.qe[i] * cn.ce[i])) / (q.qnrm * cn.cnrm), 6) DESC,
                 cn.cid DESC
        LIMIT {N_PROBE}
    )
    SELECT en.vec_id, en.label,
           ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                i -> en.ee[i] * q.qe[i])) / (en.enrm * q.qnrm), 6) AS cos_sim
    FROM en
    JOIN assign a ON en.vec_id = a.vec_id
    CROSS JOIN q
    WHERE a.list_id IN (SELECT cid FROM probes) AND en.vec_id <> 0
    ORDER BY cos_sim DESC, en.vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted file, Faiss-style coarse quantization): K=16
    centroid lists, nprobe=4. Unlike the LSH variant this one is fully
    SQL-expressible — both engines compute bit-identical IEEE sums (same
    sequential fold over 64 doubles) so the argmax assignment, the probe
    choice, and the final top-k all match the DuckDB oracle exactly.
    Spark plan: quantizer is a 1-row broadcast (collect_list of 16
    centroids), assignment + scoring are narrow map stages, final top-10 is
    TakeOrderedAndProject — the only wide operation at any scale."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    assigned = ivf_assign(emb, ivf_centroid_row(emb))

    qrow = (
        assigned.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qe"),
            F.col("enrm").alias("qnrm"),
            F.col("cents").alias("qcents"),
        )
    )
    probes = qrow.select("qe", "qnrm", ivf_probe_explode().alias("pcid"))
    cand = assigned.join(
        F.broadcast(probes), F.col("list_id") == F.col("pcid")
    ).filter(F.col("vec_id") != 0)
    cos = F.expr(_SIM.format(v="embedding", c="qe", nv="enrm", nc="qnrm"))
    return (
        cand.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                                       v -> abs(CAST(v AS DOUBLE)))) AS scale
        FROM embeddings
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(embedding,
                v -> CAST(round(CAST(v AS DOUBLE) / scale * 127) AS INTEGER)))
             AS BIGINT) AS q_sum,
           CAST(list_min(list_transform(embedding,
                v -> CAST(round(CAST(v AS DOUBLE) / scale * 127) AS INTEGER)))
             AS INTEGER) AS q_min,
           CAST(list_max(list_transform(embedding,
                v -> CAST(round(CAST(v AS DOUBLE) / scale * 127) AS INTEGER)))
             AS INTEGER) AS q_max
    FROM s
    WHERE scale > 0
    """,
    tags=("similarity", "multimodal"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (absmax scaling:
    q = round(x/scale·127), scale = max|x|) — the standard 4× compression
    before shipping vectors to an ANN index or training shard. Entirely
    row-local higher-order functions: no shuffle, no UDF, scales linearly.
    The audit projects per-vector scalars (scale, q_sum/min/max) rather
    than the int8 array so the oracle hash stays representation-agnostic;
    arithmetic is pinned to double with one division then one multiply —
    bit-identical on both engines, and exact-.5 rounding goes away from
    zero in both. Zero vectors (scale=0) are excluded rather than mapped
    to NULLs. Reference has no vector surface at all (SURVEY §2.2)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))
    )
    q = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") / F.col("scale") * 127).cast("int"),
    )
    return (
        emb.select("vec_id", scale.alias("scale"), "embedding")
        .where(F.col("scale") > 0)
        .select(
            "vec_id",
            "scale",
            F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias(
                "q_sum"
            ),
            F.array_min(q).alias("q_min"),
            F.array_max(q).alias("q_max"),
        )
    )


M_SUB = 8  # PQ subspaces (64 dims -> 8 x 8)
K_SUB = 16  # codewords per subspace (seed vectors vec_id < 16)


@register(
    "sim_ann_pq_adc",
    oracle=f"""
    WITH cb AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        FROM embeddings WHERE vec_id < {K_SUB}
    ),
    en AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ee
        FROM embeddings
    ),
    sub AS (
        SELECT en.vec_id, m.m, cb.cid,
               CAST(ROUND(list_sum(list_transform(range(1, 9),
                    i -> (en.ee[m.m * 8 + i] - cb.ce[m.m * 8 + i])
                       * (en.ee[m.m * 8 + i] - cb.ce[m.m * 8 + i])))
                    * 1000000.0) AS BIGINT) AS d_micro
        FROM en CROSS JOIN range(0, {M_SUB}) m(m) CROSS JOIN cb
    ),
    codes AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d_micro, cid) AS rk
            FROM sub
        ) ranked WHERE rk = 1
    ),
    qtab AS (SELECT m, cid, d_micro FROM sub WHERE vec_id = 0),
    approx AS (
        SELECT c.vec_id,
               CAST(SUM(q.d_micro) AS DOUBLE) / 1000000.0 AS approx_dist
        FROM codes c JOIN qtab q ON c.m = q.m AND c.code = q.cid
        WHERE c.vec_id <> 0
        GROUP BY c.vec_id
    )
    SELECT a.vec_id, en.label, a.approx_dist
    FROM approx a JOIN en ON en.vec_id = a.vec_id
    ORDER BY a.approx_dist, a.vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Faiss IVFPQ's
    compression half, deterministic variant): 64-dim vectors split into 8
    subspaces, each encoded as its nearest of 16 codewords (seed vectors,
    same discipline as sim_ann_ivf), query scored against CODES via a
    per-subspace lookup table — 64 floats become 8 codes, a 32× memory
    cut, and scoring touches the table, not the vectors. Determinism:
    subspace distances round to exact MICRO-INTEGERS (bigint), so argmin
    tie-breaks on (distance, codeword id) and the ADC total is an exact
    integer sum on both engines — no float-summation-order exposure at
    all. Spark side is pure higher-order functions over a broadcast
    codebook: array_min over structs IS the argmin (struct ordering =
    (d, cid)), encoding is a narrow map, and only the final top-10 is
    wide (TakeOrderedAndProject). At 100 TB: codes live next to the
    row (8 bytes), the codebook broadcasts, re-training is an offline
    job — compose with sim_ann_ivf's partition-pruned lists for
    IVF+PQ."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cb_row = (
        emb.filter(F.col("vec_id") < K_SUB)
        .select(
            F.struct(
                F.col("vec_id").cast("int").alias("cid"),
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ce"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    en = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ee"),
    ).crossJoin(F.broadcast(cb_row))

    d_micro = (
        "CAST(ROUND(aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE),"
        " (s, i) -> s + ({v}[m * 8 + i] - c.ce[m * 8 + i])"
        " * ({v}[m * 8 + i] - c.ce[m * 8 + i])) * 1000000.0) AS BIGINT)"
    )
    codes = F.expr(
        "transform(sequence(0, 7), m -> array_min(transform(cents, c -> "
        f"struct({d_micro.format(v='ee')} AS d, c.cid AS cid))))"
    )
    encoded = en.select("vec_id", "label", codes.alias("codes"))

    qtab = F.expr(
        "transform(sequence(0, 7), m -> transform(cents, c -> "
        f"{d_micro.format(v='ee')}))"
    )
    q_row = (
        en.filter(F.col("vec_id") == 0).select(qtab.alias("qtab"))
    )
    adist = (
        F.expr(
            "aggregate(sequence(0, 7), CAST(0 AS BIGINT),"
            " (s, m) -> s + qtab[m][codes[m].cid])"
        ).cast("double")
        / 1000000.0
    )
    return (
        encoded.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q_row))
        .select("vec_id", "label", adist.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(10)
    )


from driftdb_spark.registry import QUERIES as _QUERIES  # noqa: E402

_IVF_ORACLE = _QUERIES["sim_ann_ivf"].oracle


@register(
    "sim_ann_ivf_recall",
    oracle=f"""
    WITH ivf AS ({_IVF_ORACLE}),
    exact AS (
        SELECT vec_id FROM ({_COSINE_ORACLE})
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           ROUND(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall_at_10
    FROM ivf JOIN exact USING (vec_id)
    """,
    tags=("similarity",),
)
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against exact brute-force top-10 — the
    self-audit every approximate index needs before anyone trusts it (the
    production analog compares on a held-out query sample; here the
    registry's own IVF and exact operators feed both sides, so the audit
    measures exactly what users run). Both inputs are top-10 lists, so the
    overlap join is broadcast-trivial regardless of corpus size."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    ivf = _QUERIES["sim_ann_ivf"].fn(spark, sf_dir).select("vec_id")
    exact = cosine_topk(emb, query_vec_id=0, k=10).select("vec_id")
    return ivf.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        F.round(F.count(F.lit(1)).cast("double") / 10.0, 6).alias("recall_at_10"),
    )


# --- k-means (Lloyd) ---------------------------------------------------------
# Clustering is the other half of the IVF story: sim_ann_ivf consumes a fixed
# coarse quantizer; this operator TRAINS one. Two assignment rounds with a
# centroid update between (assign -> update -> assign) over integer-exact
# arithmetic so both engines walk identical centroid trajectories: embeddings
# quantize to 1e4-scaled bigints, a centroid is the exact rational (sum_d,
# count), and the squared-Euclidean comparison is multiplied through by
# count^2 — Σ(cnt·x_d − s_d)², pure bigint (max ≈ 3.5e16 « int64). Ties take
# the lower cluster id on both engines (struct array_min / ORDER BY dist,cid).
KM_K = 8
KM_SCALE = 10_000
KM_ITERS = 2


def _km_qx_expr() -> F.Column:
    """The 1e4-scaled bigint quantization of ``embedding`` (see above)."""
    return F.expr(
        f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT))"
    )


def _km_quantize(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", _km_qx_expr().alias("qx"))


def _km_assign(
    q: DataFrame, cents: DataFrame, cols: tuple[str, ...] = ("vec_id", "qx")
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K (cid, sums, count)
    rows, row-local bigint distance fold, argmin via struct array_min —
    a narrow map stage, zero corpus shuffle (the IVF probe pattern).
    ``cols`` picks which input columns ride along with the assignment
    (the distance fold always reads ``qx``); callers that need the raw
    embedding downstream pass it here instead of re-joining the corpus
    on vec_id afterwards."""
    cent_row = cents.groupBy().agg(
        F.collect_list(F.struct("cid", "s", "cnt")).alias("cents")
    )
    best = F.expr(
        "array_min(transform(cents, c -> struct("
        "aggregate(zip_with(qx, c.s, (x, y) -> (c.cnt * x - y) * (c.cnt * x - y)), "
        "0L, (a, e) -> a + e) AS d, c.cid AS cid))).cid"
    )
    return q.crossJoin(F.broadcast(cent_row)).select(
        *cols, best.alias("cluster")
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """Centroid update: explode dims -> one (cluster, dim) exchange with
    map-side partial sums -> regroup to (cid, sums array, count). At 100 TB
    this is the canonical 2-stage tree aggregate; sums stay exact bigints."""
    per_dim = (
        assigned.select("cluster", F.posexplode("qx").alias("d", "x"))
        .groupBy("cluster", "d")
        .agg(F.sum("x").alias("sd"), F.count(F.lit(1)).alias("cnt"))
    )
    return per_dim.groupBy("cluster").agg(
        F.expr("transform(array_sort(collect_list(struct(d, sd))), e -> e.sd)").alias("s"),
        F.max("cnt").alias("cnt"),
    ).select(F.col("cluster").alias("cid"), "s", "cnt")


_KM_ORACLE_PRELUDE = f"""
    WITH q AS (
      SELECT vec_id, gs.d,
             CAST(ROUND(CAST(embedding[gs.d] AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS d) gs
    ),
    c0 AS (
      SELECT vec_id AS cid, d, x AS s, CAST(1 AS BIGINT) AS cnt
      FROM q WHERE vec_id < {KM_K}
    )"""


def _km_oracle_round(prev_c: str, out_a: str, out_c: str) -> str:
    return f"""
    {out_a}_d AS (
      SELECT q.vec_id, c.cid,
             SUM((c.cnt * q.x - c.s) * (c.cnt * q.x - c.s)) AS dist
      FROM q JOIN {prev_c} c USING (d) GROUP BY q.vec_id, c.cid
    ),
    {out_a} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM {out_a}_d) WHERE rn = 1
    ),
    {out_c} AS (
      SELECT a.cluster AS cid, q.d, SUM(q.x) AS s, COUNT(*) AS cnt
      FROM q JOIN {out_a} a USING (vec_id) GROUP BY a.cluster, q.d
    )"""


@register(
    "sim_kmeans_lloyd",
    oracle=_KM_ORACLE_PRELUDE
    + ","
    + _km_oracle_round("c0", "a1", "c1")
    + ","
    + _km_oracle_round("c1", "a2", "c2")
    + """
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
    FROM a2
    """,
    tags=("similarity", "iterative"),
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over embeddings: K=8 seeds (vec_id < 8, the IVF seeding
    convention), 2 Lloyd iterations, final assignment + cluster sizes.
    Every vector's final cluster is value-checked against the oracle —
    possible only because the distance math is integer-exact (see module
    notes above). The whole loop is ONE lazy Catalyst plan: per iteration,
    an assignment map stage (broadcast centroids) and a (cluster, dim)
    tree-aggregate exchange; nothing collects to the driver."""
    from pyspark.sql.window import Window as W

    q = _km_quantize(load_tables(spark, sf_dir)["embeddings"])
    # iteration 0 centroids: the seed vectors themselves (count = 1)
    cents = q.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"),
        F.col("qx").alias("s"),
        F.lit(1).cast("long").alias("cnt"),
    )
    assigned = None
    for i in range(KM_ITERS):
        assigned = _km_assign(q, cents)
        if i < KM_ITERS - 1:
            cents = _km_update(assigned)
    return assigned.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.count(F.lit(1))
        .over(W.partitionBy("cluster"))
        .cast("bigint")
        .alias("cluster_size"),
    )


@register(
    "sim_hard_negatives",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    anchors AS (SELECT vec_id AS aid, label AS alabel, e AS ae, nrm AS anrm
                FROM v WHERE vec_id < 8),
    scored AS (
      SELECT a.aid, v.vec_id, v.label = a.alabel AS same_label,
             ROUND(list_dot_product(v.e, a.ae) / (v.nrm * a.anrm), 6) AS cos_sim
      FROM v, anchors a WHERE v.vec_id <> a.aid
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY aid, same_label
                                   ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT aid AS anchor_id, vec_id, cos_sim,
           CASE WHEN same_label THEN 'positive' ELSE 'hard_negative' END AS role,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked
    WHERE (same_label AND rnk <= 1) OR (NOT same_label AND rnk <= 3)
    """,
    tags=("similarity", "pipeline"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: for each anchor,
    the top same-label neighbor (positive) and the top-3 most-similar
    DIFFERENT-label vectors (hard negatives — the pairs that actually
    move a contrastive loss). Anchors broadcast onto the corpus (zero
    corpus shuffle for scoring, the cosine-top-k pattern), one
    (anchor, label-match) window ranks the candidates. Cosines round to
    6 before ranking with vec_id tie-breaks, so the mined pair set is
    value-exact cross-engine. At scale, anchors stream through in
    broadcast-sized batches and the ranking stays per-anchor."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    from pyspark.sql.window import Window as W

    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dots("embedding", "embedding")).alias("nrm"),
    )
    anchors = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("ae"),
        F.col("nrm").alias("anrm"),
    )
    scored = (
        v.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "aid",
            "vec_id",
            (F.col("label") == F.col("alabel")).alias("same_label"),
            F.round(
                _dots("embedding", "ae") / (F.col("nrm") * F.col("anrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("aid", "same_label").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.filter(
            (F.col("same_label") & (F.col("rnk") <= 1))
            | (~F.col("same_label") & (F.col("rnk") <= 3))
        )
        .select(
            F.col("aid").alias("anchor_id"),
            "vec_id",
            "cos_sim",
            F.when(F.col("same_label"), "positive")
            .otherwise("hard_negative")
            .alias("role"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "sim_retrieval_metrics",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    anchors AS (SELECT vec_id AS aid, label AS alabel, e AS ae, nrm AS anrm
                FROM v WHERE vec_id < 8),
    ranked AS (
      SELECT a.aid, a.alabel, v.label,
             ROW_NUMBER() OVER (PARTITION BY a.aid ORDER BY
               ROUND(list_dot_product(v.e, a.ae) / (v.nrm * a.anrm), 6) DESC,
               v.vec_id) AS rnk
      FROM v, anchors a WHERE v.vec_id <> a.aid
    )
    SELECT aid AS anchor_id, MAX(alabel) AS label,
           CAST(SUM(CASE WHEN label = alabel THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_10,
           ROUND(SUM(CASE WHEN label = alabel THEN 1.0 ELSE 0.0 END) / 10.0, 6)
             AS precision_at_10,
           ROUND(COALESCE(MAX(CASE WHEN label = alabel
                 THEN 1.0 / rnk END), 0.0), 6) AS reciprocal_rank
    FROM ranked WHERE rnk <= 10 GROUP BY aid
    """,
    tags=("similarity", "pipeline"),
)
def sim_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation — precision@10 and MRR per anchor, with
    same-label as the relevance oracle. This is the measurement loop any
    embedding-pipeline change (quantization, ANN indexing, dedup) is
    judged by, expressed as the same broadcast-anchor scoring pass as
    the mining/top-k operators plus one per-anchor ranking window; the
    metric arithmetic is exact ratios of small integers (1/rnk, hits/10),
    so values hash-match cross-engine."""
    from pyspark.sql.window import Window as W

    emb = load_tables(spark, sf_dir)["embeddings"]
    v = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dots("embedding", "embedding")).alias("nrm"),
    )
    anchors = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("ae"),
        F.col("nrm").alias("anrm"),
    )
    cos = F.round(_dots("embedding", "ae") / (F.col("nrm") * F.col("anrm")), 6)
    ranked = (
        v.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("aid"))
        .select("aid", "alabel", "label", cos.alias("cos_sim"), "vec_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("aid").orderBy(F.col("cos_sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rnk") <= 10)
    )
    rel = F.col("label") == F.col("alabel")
    return ranked.groupBy(F.col("aid").alias("anchor_id")).agg(
        F.max("alabel").alias("label"),
        F.sum(F.when(rel, 1).otherwise(0)).cast("bigint").alias("hits_at_10"),
        F.round(F.sum(F.when(rel, 1.0).otherwise(0.0)) / 10.0, 6).alias(
            "precision_at_10"
        ),
        F.round(
            F.coalesce(F.max(F.when(rel, 1.0 / F.col("rnk"))), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
    )


@register(
    "dedup_semantic_clusters",
    oracle=_KM_ORACLE_PRELUDE
    + ","
    + _km_oracle_round("c0", "a1", "c1")
    + ","
    + _km_oracle_round("c1", "a2", "c2")
    + f""",
    v AS (
      SELECT e.vec_id, a.cluster,
        list_transform(range(1, {DIM + 1}), i -> CAST(e.embedding[i] AS DOUBLE)) AS ev,
        sqrt(list_sum(list_transform(range(1, {DIM + 1}),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm
      FROM embeddings e JOIN a2 a USING (vec_id)
    )
    SELECT CAST(a.cluster AS BIGINT) AS cluster,
           a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> a.ev[i] * b.ev[i])) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, {DIM + 1}), i -> a.ev[i] * b.ev[i]))
          / (a.nrm * b.nrm) >= 0.5
    """,
    tags=("dedup", "similarity", "pipeline", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED semantic near-duplicate detection — the SemDeDup pattern
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication"): k-means-cluster the embeddings,
    then compute cosine pairs only WITHIN clusters. This closes the
    documented bounded-slice limitation of `dedup_embedding_cosine`
    (vec_id < 300): here every vector participates, and the candidate
    set is bounded by cluster size instead of corpus size — O(Σ|C_k|²)
    not O(n²), with K growing ∝ corpus so |C_k| stays constant.

    Clustering reuses the integer-exact Lloyd machinery
    (`sim_kmeans_lloyd`, same 2-iteration trajectory), so the oracle
    reproduces the exact same assignment and the pair set is
    value-checked end-to-end — a clustered ANN dedup whose output is
    provably identical on two engines.

    Plan shape: the k-means rounds are broadcast-assign + (cluster, dim)
    tree aggregates (see sim_kmeans_lloyd); the pairing stage is ONE
    exchange of the corpus on the cluster key followed by a within-
    partition self-join. Skew guard at 100 TB: a runaway cluster is
    re-split by another Lloyd round or LSH-bucketed internally — the
    per-cluster quadratic never sees the whole corpus."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _km_quantize(emb)
    cents = q.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"),
        F.col("qx").alias("s"),
        F.lit(1).cast("long").alias("cnt"),
    )
    for _ in range(KM_ITERS - 1):
        cents = _km_update(_km_assign(q, cents))
    # Final assignment carries the raw embedding through the map stage
    # (cols=) instead of re-joining the corpus on vec_id afterwards —
    # that join was a second full scan plus an exchange pair. The single
    # repartition on the cluster key is then the ONE corpus exchange of
    # the pairing stage: both self-join sides hang off the SAME Exchange
    # subtree, so runtime ReuseExchange computes the assign pipeline once
    # (before: each side recomputed scan→assign→join independently), and
    # the float→double promotion happens after the exchange so it ships
    # 4-byte floats, not 8-byte doubles (guide §2.3/§2.4).
    qe = emb.select("vec_id", "embedding", _km_qx_expr().alias("qx"))
    assigned = _km_assign(qe, cents, cols=("vec_id", "embedding"))
    # Persisted EAGERLY: both self-join sides consume v, and at local
    # scale AQE converts the pairing join to a broadcast — the two sides
    # then cannot share an exchange, so a lazy v would run the whole
    # scan→assign pipeline twice (the dedup_minhash_lsh persist
    # rationale). The repartition stays: it is the one corpus exchange
    # of the pairing stage, paid inside the persist job, and the cached
    # frame keeps its cluster partitioning for the at-scale SMJ path.
    v = (
        assigned.select(
            "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "embedding"
        )
        .repartition("cluster")
        .select(
            "vec_id",
            "cluster",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("ev"),
        )
        .withColumn("nrm", F.sqrt(_dots("ev", "ev")))
        .persist()
    )
    v.count()
    a = v.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("ev").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("ev").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, ["cluster"]).filter(F.col("id_a") < F.col("id_b"))
    cos = _dots("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.5)
        .select("cluster", "id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


@register(
    "sim_embedding_dim_stats",
    oracle=f"""
    WITH comp AS (
        SELECT gs.d AS dim,
               ROUND(CAST(embedding[gs.d] AS DOUBLE), 8) AS x
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, {DIM})) AS d) gs
    )
    SELECT dim, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*), 6) AS mean,
           ROUND(CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*)
                 - POW(CAST(SUM(CAST(x AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*), 2),
                 6) AS variance
    FROM comp GROUP BY dim
    """,
    tags=("similarity", "agg"),
)
def sim_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus — the
    normalization statistics every whitening / feature-scaling /
    quantization-calibration step needs. One posexplode (n·d rows) into a
    d-keyed aggregation: partial aggregation reduces map-side, the final
    exchange carries d=64 groups regardless of corpus size. Sums route
    through DECIMAL on both engines (IEEE summation is order-dependent)
    so the hashes agree exactly."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    comp = emb.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("xf").cast("double"), 8).alias("x"),
    )
    n = F.count(F.lit(1))
    s = F.sum(F.col("x").cast("decimal(24,8)")).cast("double")
    sq = F.sum(F.round(F.col("x") * F.col("x"), 8).cast("decimal(24,8)")).cast(
        "double"
    )
    return comp.groupBy("dim").agg(
        n.alias("n"),
        F.round(s / n, 6).alias("mean"),
        F.round(sq / n - F.pow(s / n, F.lit(2)), 6).alias("variance"),
    )


@register(
    "sim_pca_power_iteration",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
        FROM embeddings
    ),
    E AS (
        SELECT vec_id, gs.d AS dim, qv[gs.d] AS qc, list_sum(qv) AS s1
        FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS d) gs
    ),
    v1 AS (SELECT dim, SUM(qc * s1) AS v1 FROM E GROUP BY dim),
    s2 AS (
        SELECT e.vec_id, SUM(e.qc * v.v1) AS s2
        FROM E e JOIN v1 v ON e.dim = v.dim GROUP BY e.vec_id
    ),
    v2 AS (
        SELECT e.dim, SUM(e.qc * s.s2) AS v2
        FROM E e JOIN s2 s ON e.vec_id = s.vec_id GROUP BY e.dim
    )
    SELECT dim,
           ROUND(CAST(v2 AS DOUBLE)
                 / (SELECT MAX(ABS(CAST(v2 AS DOUBLE))) FROM v2), 6) AS component
    FROM v2
    """,
    tags=("similarity", "iterative"),
)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding corpus via two unrolled power
    iterations v ← Gᵀ(G v), G = quantized embedding matrix — the whitening
    / drift-detection primitive. The Gram matrix is never materialized:
    s = G v is a ROW-LOCAL dot product against the broadcast 64-element
    direction array (no shuffle at all), and v' = Gᵀ s is one dim-keyed
    reduce (64 groups) whose map-side partials mean the exchange carries
    64 rows per partition — never n·d², never even n. Arithmetic is integer-exact end-to-end
    (round(x·100) quantization; magnitudes bounded ≤ ~2e18 at these SFs)
    so the DuckDB oracle reproduces the trajectory bit-for-bit — the same
    exactness discipline as sim_kmeans_lloyd. Output normalized by the
    max |component| with one final double division, rounded 6dp."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 100).cast("long"),
        ).alias("qv"),
    )
    # s1 = G·1 computed inside the row (array reduce, no shuffle)
    q = q.withColumn(
        "s1",
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
    e = q.select(
        "vec_id",
        "s1",
        F.posexplode("qv").alias("pos", "qc"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "qc", "s1")
    v1 = e.groupBy("dim").agg(F.sum(F.col("qc") * F.col("s1")).alias("v1"))
    # v1 collapsed to ONE 64-element array row (dim-ordered), so s2 = G·v1
    # is a row-local dot product against the broadcast array — the explode →
    # broadcast-join → groupBy(vec_id) reduction this replaces shuffled n
    # rows and, worse, fed the v2 pass through an e⋈s2 join whose e side
    # re-exploded the corpus into an n·64-row exchange (guide §2.3/§2.4).
    # Integer sums are order-independent, so s2/v2 are bit-identical.
    v1row = v1.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "v1"))),
            lambda s: s["v1"],
        ).alias("v1a")
    )
    qs = q.crossJoin(F.broadcast(v1row)).withColumn(
        "s2",
        F.aggregate(
            F.zip_with("qv", "v1a", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    v2 = (
        qs.select(F.posexplode("qv").alias("pos", "qc"), "s2")
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(F.sum(F.col("qc") * F.col("s2")).alias("v2"))
    )
    mx = v2.agg(F.max(F.abs(F.col("v2").cast("double"))).alias("_mx"))
    return (
        v2.crossJoin(F.broadcast(mx))
        .select(
            "dim",
            F.round(F.col("v2").cast("double") / F.col("_mx"), 6).alias(
                "component"
            ),
        )
    )


@register(
    "sample_coreset_kcenter",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS id0, qv AS qv0 FROM q
           WHERE vec_id = (SELECT MIN(vec_id) FROM q)),
    d1 AS (
        SELECT q.vec_id, q.qv,
               list_sum(list_transform(range(1, {DIM + 1}),
                 i -> (q.qv[i] - c.qv0[i]) * (q.qv[i] - c.qv0[i]))) AS dmin
        FROM q, c0 c
    ),
    c1 AS (SELECT vec_id AS id1, qv AS qv1, dmin AS r1 FROM d1
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d2 AS (
        SELECT d.vec_id, d.qv,
               LEAST(d.dmin,
                 list_sum(list_transform(range(1, {DIM + 1}),
                   i -> (d.qv[i] - c.qv1[i]) * (d.qv[i] - c.qv1[i])))) AS dmin
        FROM d1 d, c1 c
    ),
    c2 AS (SELECT vec_id AS id2, qv AS qv2, dmin AS r2 FROM d2
           ORDER BY dmin DESC, vec_id LIMIT 1),
    d3 AS (
        SELECT d.vec_id, d.qv,
               LEAST(d.dmin,
                 list_sum(list_transform(range(1, {DIM + 1}),
                   i -> (d.qv[i] - c.qv2[i]) * (d.qv[i] - c.qv2[i])))) AS dmin
        FROM d2 d, c2 c
    ),
    c3 AS (SELECT vec_id AS id3, dmin AS r3 FROM d3
           ORDER BY dmin DESC, vec_id LIMIT 1)
    SELECT 0 AS round, id0 AS vec_id, CAST(0 AS BIGINT) AS radius_sq FROM c0
    UNION ALL SELECT 1, id1, CAST(r1 AS BIGINT) FROM c1
    UNION ALL SELECT 2, id2, CAST(r2 AS BIGINT) FROM c2
    UNION ALL SELECT 3, id3, CAST(r3 AS BIGINT) FROM c3
    """,
    tags=("similarity", "iterative", "sampling"),
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 2-approximation) — the
    diversity-sampling primitive for training-data selection: each round
    picks the point FARTHEST from every chosen center, so k points cover
    the embedding space with provable radius. Per round the corpus does
    ONE map-stage distance evaluation against the single newest center
    (broadcast literal) folded into a running min — k·n distance
    evaluations total, never a pairwise matrix; the only driver traffic
    is one (vec_id, 64-int vector) row per round (the k-means
    model-sized-sync pattern). Integer-quantized distances make every
    argmax (vec_id tie-break) bit-deterministic; the DuckDB oracle
    replays the identical greedy trajectory as an unrolled CTE chain.
    radius_sq of the LAST pick bounds the covering radius of the
    selection."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 100).cast("long")
        ).alias("qv"),
    )
    seed = q.orderBy("vec_id").limit(1).first()
    centers = [(0, int(seed["vec_id"]), 0, list(seed["qv"]))]
    cur = None
    for rnd in range(1, 4):
        cvec = F.array(*[F.lit(int(v)) for v in centers[-1][3]])
        dist = F.aggregate(
            F.zip_with("qv", cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        # r14: round 1 seeds dmin with dist directly and later rounds fold
        # with a plain least(dmin, dist) — the old
        # least(coalesce(dmin, dist), dist) form referenced the interpreted
        # 64-step distance fold TWICE per row (HOF lambdas neither codegen
        # nor share subexpressions), doubling every round's per-row
        # arithmetic for the same value.
        if cur is None:
            cur = q.withColumn("dmin", dist)
        else:
            cur = cur.withColumn("dmin", F.least(F.col("dmin"), dist))
        pick = cur.orderBy(F.col("dmin").desc(), "vec_id").limit(1).first()
        centers.append(
            (rnd, int(pick["vec_id"]), int(pick["dmin"]), list(pick["qv"]))
        )
    # r14: the 4-row result ships as an inline-VALUES JVM LocalRelation —
    # createDataFrame(list) is a pickled-RDD-backed frame whose scan
    # re-enters a Python worker on every action (the multimodal-fixture
    # mechanism, guide §4).
    vals = ",".join(
        f"({r}, CAST({i} AS BIGINT), CAST({d} AS BIGINT))"
        for (r, i, d, _v) in centers
    )
    return spark.sql(
        f"SELECT round, vec_id, radius_sq FROM VALUES {vals} "
        "AS t(round, vec_id, radius_sq)"
    )


@register(
    "sim_matryoshka_prefix_fidelity",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id < 150
    ),
    n AS (
        SELECT vec_id, e,
          sqrt(list_sum(list_transform(range(1, {DIM + 1}),
            i -> e[i] * e[i]))) AS nrm_full,
          sqrt(list_sum(list_transform(range(1, 17),
            i -> e[i] * e[i]))) AS nrm_pfx
        FROM v
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_sum(list_transform(range(1, {DIM + 1}),
            i -> a.e[i] * b.e[i])) / (a.nrm_full * b.nrm_full) AS cos_full,
          list_sum(list_transform(range(1, 17),
            i -> a.e[i] * b.e[i])) / (a.nrm_pfx * b.nrm_pfx) AS cos_pfx
        FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(ABS(cos_full - cos_pfx), 8)
                 AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6) AS avg_abs_delta,
           ROUND(MAX(ROUND(ABS(cos_full - cos_pfx), 8)), 6) AS max_abs_delta,
           CAST(SUM(CASE WHEN (cos_full >= 0.5) = (cos_pfx >= 0.5)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_threshold_agree
    FROM pairs
    """,
    tags=("similarity", "audit"),
)
def sim_matryoshka_prefix_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured truncation fidelity for Matryoshka-style embedding
    shortening (Kusupati et al. 2022): on an audit slice of pairs, how
    far does cosine under the 16-dim PREFIX drift from the full 64-dim
    cosine, and how often would a 0.5 dedup threshold decide
    differently. The decision every pipeline faces before storing
    truncated vectors (4× cheaper ANN) — made with a measurement, not a
    guess (the sim_ann_ivf_recall / dedup_lsh_recall_audit discipline).
    Per-row array folds are order-fixed, so both engines compute
    bit-identical cosines; per-pair deltas round 8dp before the exact
    DECIMAL aggregation. The audit is slice-bounded; production
    truncation applies map-only (``slice`` on the stored array)."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 150)
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    ).select(
        "vec_id",
        "e",
        F.expr("slice(e, 1, 16)").alias("ep"),
    )
    v = v.withColumn("nrm_full", F.sqrt(_dots("e", "e"))).withColumn(
        "nrm_pfx", F.sqrt(_dots("ep", "ep"))
    )
    a = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("ep").alias("epa"),
        F.col("nrm_full").alias("nfa"),
        F.col("nrm_pfx").alias("npa"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("ep").alias("epb"),
        F.col("nrm_full").alias("nfb"),
        F.col("nrm_pfx").alias("npb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos_full = _dots("ea", "eb") / (F.col("nfa") * F.col("nfb"))
    cos_pfx = _dots("epa", "epb") / (F.col("npa") * F.col("npb"))
    scored = pairs.select(
        F.round(F.abs(cos_full - cos_pfx), 8).alias("adelta"),
        ((cos_full >= 0.5) == (cos_pfx >= 0.5)).alias("agree"),
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("adelta").cast("decimal(20,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_abs_delta"),
        F.round(F.max("adelta"), 6).alias("max_abs_delta"),
        F.sum(F.when(F.col("agree"), 1).otherwise(0)).alias(
            "n_threshold_agree"
        ),
    )


@register(
    "sim_cosine_topk_batch",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8
    ),
    s AS (
        SELECT q.q_id, e.vec_id,
          ROUND(
            list_sum(list_transform(range(1, {DIM + 1}),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))))
          , 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id >= 8
    )
    SELECT q_id, vec_id, rank, cos_sim
    FROM (
        SELECT q_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM s
    )
    WHERE rank <= 3
    """,
    tags=("similarity",),
)
def sim_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact top-k: 8 query vectors scored against the corpus in
    ONE pass — the hard-negative-mining / retrieval-eval shape, where
    queries arrive by the thousand and per-query scans would read the
    corpus Q times.

    Scale: the query block broadcasts (Q·DIM floats); each corpus row
    fans out Q-fold inside the scan (bounded, no shuffle of the corpus);
    the per-query cutoff compiles to WindowGroupLimit, so each partition
    keeps ≤ k rows per query BEFORE the single exchange on q_id. Corpus
    read exactly once regardless of Q. Same float64-promote + sequential
    fold + ROUND(...,6) determinism discipline as sim_cosine_topk."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    from pyspark.sql import Window

    # Norms folded BEFORE the Q-fold fan-out (r14): the interpreted
    # 64-term folds neither codegen nor share subexpressions (r13
    # audits), so inlining both norms in the scoring projection paid
    # 3 folds per (row × query) PAIR — 24 folds per corpus row at Q=8.
    # Precomputing the corpus norm as a column pre-crossJoin and the
    # query norms inside the broadcast block leaves 1 fold per pair
    # (the dot) + 1 per row. Same expressions evaluated on the same
    # inputs — bit-identical doubles, same ROUND, oracle-verified.
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.sqrt(_dots("embedding", "embedding")).alias("qn"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= 8)
        .select(
            "vec_id",
            "embedding",
            F.sqrt(_dots("embedding", "embedding")).alias("en"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "vec_id",
            F.round(
                _dots("embedding", "qe") / (F.col("en") * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.select("q_id", "vec_id", "cos_sim", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= 3)
        .select("q_id", "vec_id", "rank", "cos_sim")
    )

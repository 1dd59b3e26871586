"""Deduplication operators over the ``documents`` table.

Exact dedup is a hash-groupBy (one shuffle on the content hash — fully
SQL-expressible, oracle-checked). Near-dup detection is MinHash + LSH:
shingle → per-permutation min-hash signature → band buckets → bucket-join
for candidate pairs — the standard scale recipe (band join replaces the
O(n²) pairwise comparison; at 100 TB only co-bucketed docs ever meet).

Token hashes are md5-derived: the first 15 hex digits of ``md5(token)``
as a 60-bit BIGINT (SimHash), or its low 32 bits (MinHash). md5's hex text
is identical on both engines and ``conv(hex, 16, 10)`` / ``CAST('0x' || hex
AS BIGINT)`` parse it to identical BIGINTs, so every near-dup pipeline —
signatures, band buckets, candidate join, Jaccard verify and SimHash
fingerprints — has a value-for-value DuckDB oracle. xxhash64 is cheaper
per token but DuckDB lacks it, and an approximate operator nobody checks
against an exact reference is a guess. The md5 hash is paid once per
token (shingle hashes combine token hashes arithmetically), which costs
~0.35 s of build at sf0.1 on 4 cores. Band keys stay one multi-argument
xxhash64: they never leave the candidate join, so only their equality
matters, and the oracle keys bands by the ordered minima list instead.

No Python UDFs anywhere: signatures are built with ``transform`` /
``array_min`` higher-order functions over the shingle array, entirely
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register

N_PERMS = 32
BAND_SIZE = 4
N_BANDS = N_PERMS // BAND_SIZE  # 8
SHINGLE_WORDS = 3
#: universal-hash permutation modulus (2^31 - 1)
_PERM_P = 2_147_483_647


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.groupBy(F.md5(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "dedup_exact_survivors",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) t
    WHERE rn = 1
    """,
    tags=("dedup",),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself (window LWW on the content hash)."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"]
    w = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


def _shingles(text: F.Column) -> F.Column:
    """Distinct word n-gram shingles as an array column (JVM-side)."""
    return F.expr(
        f"""
        array_distinct(
          transform(
            sequence(0, greatest(size(split(text, ' ')) - {SHINGLE_WORDS}, 0)),
            i -> concat_ws(' ', slice(split(text, ' '), i + 1, {SHINGLE_WORDS}))
          )
        )
        """
    )


#: token ``t`` → 60-bit BIGINT from md5's first 15 hex digits, per engine
_MD5_60 = "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"
_MD5_60_DUCK = "CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)"

HASHED_SHINGLES_EXPR = f"""
    array_distinct(transform(
      sequence(0, size(th) - {SHINGLE_WORDS}),
      i -> pmod(th[i] * 1048573 + th[i + 1] * 8191 + th[i + 2], 4294967291)))
"""


def hashed_shingles(docs: DataFrame) -> DataFrame:
    """Add an ``hshingles`` array<long> column: distinct word n-gram shingles
    as 32-bit hashes. Tokens are hashed once (the low 32 bits of the md5
    60-bit hash); a shingle hash combines the n consecutive token hashes
    arithmetically — no per-shingle string building (the string-concat
    shingle pipeline costs ~3× this one).

    Documents with no shingles (fewer than SHINGLE_WORDS tokens) are
    dropped, which also keeps the shingle indexing in bounds under ANSI:
    their all-``p`` MinHash signature would collide with every other such
    document in every band, and their Jaccard is 0/0. Identical short texts
    are ``dedup_exact``'s job. The filter tests the token count, not
    ``hshingles``: Catalyst pushes a filter below the projection that
    defines its column, which would hash every token twice."""
    return (
        docs.filter(F.size(F.split("text", " ")) >= SHINGLE_WORDS)
        .withColumn(
            "th", F.expr(f"transform(split(text, ' '), t -> {_MD5_60} & 4294967295)")
        )
        .withColumn("hshingles", F.expr(HASHED_SHINGLES_EXPR))
        .drop("th")
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", shingle_col: str | None = None
) -> DataFrame:
    """(id, sig array<long>) — MinHash signature per document.

    A single narrow map stage — no explode, no shuffle. Design for scale:

    - tokens are hashed ONCE (md5 → 32 bits); shingle hashes combine
      consecutive token hashes arithmetically; the permutation family is
      universal hashing (a_j * h + b_j mod p). Zero string building after
      tokenization.
    - the whole signature is ONE fold over the shingle-hash array updating
      all N_PERMS minima per step, so the heavy work appears exactly once in
      the expression tree — Catalyst's projection collapse cannot duplicate
      it (per-permutation columns get the pipeline inlined N_PERMS times).
    - all products stay < 2^57, so ANSI overflow checking never fires.

    Pass ``shingle_col`` (array<long> hashed shingles) to reuse a
    materialized shingle column; it must come from :func:`hashed_shingles`,
    which drops documents without shingles.
    """
    p = _PERM_P
    # One fold over the shingle hashes, all N_PERMS minima per step — but
    # the per-step accumulator update is a flat unrolled array constructor
    # with the permutation constants a_j·h + b_j PRE-FOLDED in Python
    # (the fold lambda is interpreted, so the nested
    # zip_with(acc, sequence(...)) paid a sequence+zip allocation plus 32
    # inner lambda invocations and 64 constant multiplications per
    # shingle). Values are identical (same a_j, b_j, same pmod).
    # A/B at sf0.1: dedup_minhash_lsh 2.49 → 1.72 s (0.69×).
    step = ", ".join(
        f"least(acc[{j}], pmod(h * {1000003 * j + 12345}L"
        f" + {999983 * j + 7919}L, {p}))"
        for j in range(N_PERMS)
    )
    sig = F.expr(
        f"""
        aggregate(
          hshingles,
          array_repeat(CAST({p} AS BIGINT), {N_PERMS}),
          (acc, h) -> array({step}))
        """
    )
    if shingle_col is None:
        docs = hashed_shingles(docs)
    else:
        docs = docs.withColumn("hshingles", F.col(shingle_col))
    return docs.select(F.col(id_col), sig.alias("sig"))


MAX_BUCKET_SIZE = 200


def _band_buckets(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bh): one row per document per band bucket.

    r14: the bucket key hashes the 4 slice elements DIRECTLY
    (multi-argument xxhash64) instead of hashing their ','-joined string —
    bh is join/window-internal (no registered query outputs it), so only
    its equality semantics matter, and those are unchanged: equal slices
    hash equal, differing slices differ w.h.p. exactly as before. The
    per-band long→string casts, the string concat, and the string-hash
    pass disappear; the key stays 8 bytes on the shuffle."""
    slots = ", ".join(
        f"element_at(sig, b * {BAND_SIZE} + {i + 1})" for i in range(BAND_SIZE)
    )
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), "
                f"b -> struct(b AS band, xxhash64({slots}) AS bh))"
            )
        ).alias("band"),
    ).select(id_col, F.col("band.band").alias("band"), F.col("band.bh").alias("bh"))


def lsh_oversized_buckets(
    sigs: DataFrame, id_col: str = "doc_id", max_bucket_size: int = MAX_BUCKET_SIZE
) -> DataFrame:
    """Audit frame: the band buckets the candidate join will DROP, with
    their member counts. A huge bucket means a degenerate band (boilerplate
    text hashing identically for thousands of docs) — its members are
    near-identical to each other anyway and are far better handled by
    exact dedup than by an O(bucket²) pair explosion."""
    return (
        _band_buckets(sigs, id_col)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int = MAX_BUCKET_SIZE,
    probe: F.Column | None = None,
) -> DataFrame:
    """Band the signatures and self-join buckets → candidate pairs
    (``id_a < id_b``).

    The signature frame feeds BOTH sides of the join — materialize it once
    (persist) or every candidate probe recomputes the shingle+hash pipeline
    twice. At corpus scale you'd write signatures to storage bucketed by
    band hash; persist is the in-session equivalent.

    Degenerate buckets are capped: a windowed count over (band, bh) tags
    each membership row with its bucket size, and buckets larger than
    ``max_bucket_size`` are excluded from BOTH join sides. Without the cap
    one boilerplate-heavy bucket (N docs sharing a band) contributes N²/2
    candidate pairs — the classic LSH skew blow-up at corpus scale. The
    windowed count shuffles on the same (band, bh) keys the self-join
    needs, so the cap rides the shuffle the join was going to do anyway.
    Use :func:`lsh_oversized_buckets` to audit what was dropped.

    ``probe`` (a predicate on the documents) restricts the left join side
    to the matching documents' bands, which probe every bucket — the
    incremental shape: a new batch against the corpus plus itself, with
    corpus×corpus pairs never formed. Bucket sizes still count the whole
    corpus.
    """
    from pyspark.sql.window import Window as W

    sigs = sigs.persist()
    bands = _band_buckets(sigs, id_col)
    w = W.partitionBy("band", "bh")
    capped = (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    id_a, id_b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    if probe is None:
        a, ids = capped.alias("a"), [id_a.alias("id_a"), id_b.alias("id_b")]
        other_doc = id_a < id_b
    else:
        a = capped.filter(probe).alias("a")
        ids = [F.least(id_a, id_b).alias("id_a"), F.greatest(id_a, id_b).alias("id_b")]
        other_doc = id_a != id_b
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & other_doc,
        )
        .select(*ids)
        .distinct()
    )


def _minhash_oracle_ctes(where: str = "") -> str:
    """The DuckDB side of hashed_shingles → minhash_signatures →
    lsh_candidate_pairs, written once for every MinHash query. Defines
    ``hsh`` (doc_id, h): the distinct hashed shingles of each document with
    at least SHINGLE_WORDS tokens (``where`` filters ``documents``);
    ``bands`` (doc_id, band, bkey): the band buckets of at most
    MAX_BUCKET_SIZE members, keyed by the ordered minima list (Spark keys
    them by one xxhash64 of the same 4 minima — equal w.h.p., and the key
    never leaves the join); ``cand`` (id_a, id_b): the candidate pairs.
    DuckDB lists are 1-indexed."""
    return f"""th AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              t -> {_MD5_60_DUCK} & 4294967295) AS th
        FROM documents {where}
    ),
    hsh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(th) - 1),
                      i -> (th[i] * 1048573 + th[i + 1] * 8191 + th[i + 2])
                           % 4294967291)) AS h
        FROM th WHERE len(th) >= {SHINGLE_WORDS}
    ),
    sig AS (
        SELECT doc_id, j.j,
               MIN((h * (1000003 * j.j + 12345) + (999983 * j.j + 7919))
                   % {_PERM_P}) AS mh
        FROM hsh, (SELECT UNNEST(range(0, {N_PERMS})) AS j) j
        GROUP BY doc_id, j.j
    ),
    keyed AS (
        SELECT doc_id, j // {BAND_SIZE} AS band, list(mh ORDER BY j) AS bkey
        FROM sig GROUP BY doc_id, j // {BAND_SIZE}
    ),
    bands AS (
        SELECT doc_id, band, bkey FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY band, bkey) AS bsz FROM keyed
        ) k
        WHERE bsz <= {MAX_BUCKET_SIZE}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )"""


def _jaccard_verify_oracle(pairs: str) -> str:
    """DuckDB: the pairs in CTE ``pairs`` whose hashed-shingle Jaccard over
    ``hsh`` is ≥ 0.5 — the oracle side of :func:`_verified_pairs`."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM hsh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS shared
        FROM {pairs} p
        JOIN hsh a ON a.doc_id = p.id_a
        JOIN hsh b ON b.doc_id = p.id_b AND a.h = b.h
        GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.5"""


def _verified_pairs(
    spark: SparkSession, sf_dir: str, probe: F.Column | None = None
) -> DataFrame:
    """The full near-dedup pipeline: hashed shingles → MinHash signatures →
    capped band buckets → candidate pairs (see :func:`lsh_candidate_pairs`
    for ``probe``) → exact Jaccard over the hashed-shingle sets, kept at
    ≥ 0.5."""
    d = load_tables(spark, sf_dir)["documents"]
    # Hashed shingles feed the signature stage AND both sides of the Jaccard
    # verify join — materialize them once (eagerly: the band self-join and
    # the verify both fan out from this frame, and a lazy persist would race
    # both branches through the uncached pipeline in a single job).
    sh = hashed_shingles(d).select("doc_id", "hshingles").persist()
    sh.count()
    sigs = minhash_signatures(sh, shingle_col="hshingles")
    pairs = lsh_candidate_pairs(sigs, probe=probe)

    a = sh.select(F.col("doc_id").alias("id_a"), F.col("hshingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("hshingles").alias("sh_b"))
    verified = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_MINHASH_ORACLE = f"""
    WITH {_minhash_oracle_ctes()},
    {_jaccard_verify_oracle("cand")}
    """


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup",))
@register("dedup_minhash_lsh_portable", oracle=_MINHASH_ORACLE, tags=("dedup",))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs, verified with exact Jaccard
    over the hashed-shingle sets and filtered at 0.5 — the full near-dedup
    pipeline, value-for-value oracle-checked. ``dedup_minhash_lsh_portable``
    is the same query under its older name."""
    return _verified_pairs(spark, sf_dir)


def _shingle_jaccard(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard), ``id_a < id_b``: exact unrounded Jaccard over
    word-shingle STRING sets for every pair sharing a shingle, via an
    inverted-index join (explode shingles → equi-join on shingle →
    |A∩B| / (|A|+|B|-|A∩B|)). All-pairs in the worst case, so callers
    bound ``docs`` to a slice."""
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    return inter.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", jac.alias("jaccard"))


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 25
        ) d
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.05
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted-index join (explode
    shingles → equi-join on shingle → |A∩B| / (|A|+|B|-|A∩B|)). Bounded to a
    doc_id<25 slice so the oracle's pairwise join stays tractable; the
    unbounded scale path is dedup_minhash_lsh."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 25)
    return (
        _shingle_jaccard(d)
        .filter(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


_SIMHASH_BITS = 60  # 15 md5 hex chars


def _simhash_fold_expr() -> F.Column:
    """Row-local SimHash (r13): per-bit ±1 majority vote folded over the
    token array in ONE pass, then the sign bits assembled — the
    minhash_signatures all-minima-in-one-fold trick applied to the
    majority vote. Replaces the token explode + per-doc aggregate with
    ``_SIMHASH_BITS`` conditional sums (and its exchange) with a narrow
    map stage; values are identical (same ±1 per (token, bit), same
    count>0 assembly)."""
    bits = _SIMHASH_BITS
    counts = (
        f"aggregate(transform(split(text, ' '), t -> {_MD5_60}), "
        f"array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(c, b) -> c + IF((shiftright(h, b) & 1) = 1, 1, -1)))"
    )
    return F.expr(
        f"aggregate(zip_with({counts}, sequence(0, {bits - 1}), "
        f"(c, b) -> IF(c > 0, shiftleft(1L, b), 0L)), 0L, (a, e) -> a + e)"
    ).cast("long")


def _simhash_oracle() -> str:
    """DuckDB: the same per-bit majority vote as a token UNNEST and one
    doc-keyed aggregate of _SIMHASH_BITS conditional sums."""
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    hashed AS (SELECT doc_id, {_MD5_60_DUCK} AS h FROM tok),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM bits
    """


_SIMHASH_ORACLE = _simhash_oracle()


@register("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup",))
@register("dedup_simhash_portable", oracle=_SIMHASH_ORACLE, tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document: per-bit majority vote over the md5
    token hashes, folded row-locally (see _simhash_fold_expr), value-for-
    value oracle-checked. ``dedup_simhash_portable`` is the same query
    under its older name."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select("doc_id", _simhash_fold_expr().alias("simhash"))


from driftdb_spark.registry import QUERIES as _QUERIES  # noqa: E402

_NGRAM_PAIRS_ORACLE = _QUERIES["dedup_ngram_jaccard"].oracle


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_ORACLE}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, q.r FROM edges e JOIN reach q ON e.dst = q.node
    )
    SELECT node AS doc_id, MIN(r) AS component
    FROM reach
    GROUP BY node
    """,
    tags=("dedup",),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the verified near-dup
    pair graph, labeling every member with the cluster's minimum doc_id —
    the step that turns pairwise similarity into "keep one canonical doc
    per cluster". Iterative min-label propagation: each round is one
    shuffle (join + groupBy-min) and the round count is the graph
    DIAMETER, not the node count — near-dup graphs are dense little
    cliques, so this converges in 2-3 rounds regardless of corpus size.
    The driver-side loop only checks a scalar convergence count, mirroring
    ``cte_recursive_walk``; the oracle is the same fixpoint as a recursive
    CTE transitive closure (viable for DuckDB at test scale only)."""
    pairs = _QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir).select("id_a", "id_b")
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # Measured-small coalesce (r14, guide §2.2 — recursive_cte's pattern
    # extended here per the r13 scaling finding: 8 cores BEAT 32 by 5× on
    # this query because every propagation round re-read the KB-sized
    # cached edge list at its natural partitioning and shuffled at
    # spark.sql.shuffle.partitions — dozens of scheduling-only tasks per
    # round). The count() materializes the cache eagerly (previously paid
    # lazily inside round 1) and gates a coalesce(1) — a narrow no-shuffle
    # read of the cached blocks, so each round's join scans one task.
    # Gated on the MEASURED count: a genuinely large dup graph keeps its
    # natural partitioning, so the heuristic is inert at 100 TB.
    from driftdb_spark.operators.recursive import SMALL_FRONTIER_ROWS

    edges_cached = edges
    small = edges.count() <= SMALL_FRONTIER_ROWS
    if small:
        edges = edges_cached.coalesce(1)
    labels_cached = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    # |labels| ≤ 2·|edges| (one node per edge endpoint), so the edge gate
    # covers the label frames too — including every round's new_labels
    # below, whose node set never grows past this one. unpersist() must
    # target the PERSISTED frame, not the coalesced wrapper, so both
    # references are kept.
    labels = labels_cached.coalesce(1) if small else labels_cached
    # Convergence signal: labels are per-node minima, so propagation is
    # monotone non-increasing — the label SUM strictly decreases until the
    # fixpoint. One scalar aggregate per round both materializes the new
    # labels into the cache and detects convergence (the old
    # count-then-compare-join needed two actions and an extra join).
    # NOTE (r13): batching two propagation rounds per driver probe (the
    # recursive_cte batch= trick) was tried and measured SLOWER here
    # (interleaved in-session A/B at sf0.1: 1.3-1.5 s single vs
    # 1.7-2.2 s batched): near-dup graphs converge in 2-3 rounds, so the
    # overshot extra rounds cost more than the one saved probe. Batching
    # only pays on deep recursions (cte_recursive_walk's 26 steps).
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(20):
        propagated = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_cached = (
            labels.unionByName(propagated).groupBy("node").agg(F.min("label").alias("label"))
        ).persist()
        cur_sum = new_cached.agg(F.sum("label")).first()[0]
        labels_cached.unpersist()
        labels_cached = new_cached
        labels = new_cached.coalesce(1) if small else new_cached
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges_cached.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


@register(
    "dedup_ngram_containment",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 25
        ) d
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           ROUND(CAST(i.shared AS DOUBLE) / sa.n, 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    WHERE CAST(i.shared AS DOUBLE) / sa.n >= 0.5
    """,
    tags=("dedup",),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment C(A→B) = |shingles(A) ∩ shingles(B)| / |A| —
    the Broder containment twin of dedup_ngram_jaccard. Jaccard misses the
    quote/subset case (a short document wholly embedded in a long one has
    tiny Jaccard but containment ≈ 1); corpus pipelines gate on BOTH.
    Same inverted-index join shape — one shingle-keyed exchange, pairs
    only where shingles actually collide — but normalized by the SOURCE
    doc alone, so the output is directional (id_a contained-in id_b).
    Bounded to the doc_id<25 oracle slice; the unbounded scale path
    shares dedup_minhash_lsh's band-bucket candidate generation."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 25)
    # no .distinct(): _shingles is array_distinct per doc, so the exploded
    # (doc_id, shingle) pairs are already unique — the old distinct was a
    # full no-op exchange (guide §2.4)
    sh = d.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    cont = F.col("shared").cast("double") / F.col("na")
    return (
        inter.join(sa, "id_a")
        .filter(cont >= 0.5)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


@register(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 60
        ) d
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    truth AS (
        SELECT i.id_a, i.id_b,
               ROUND(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared), 6) AS jaccard
        FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) >= 0.5
    ),
    {_minhash_oracle_ctes("WHERE doc_id < 60")}
    SELECT t.id_a, t.id_b, t.jaccard,
           (c.id_a IS NOT NULL) AS caught
    FROM truth t LEFT JOIN cand c
      ON t.id_a = c.id_a AND t.id_b = c.id_b
    """,
    tags=("dedup", "audit"),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH quality: every ground-truth near-duplicate pair
    (exact Jaccard ≥ 0.5 over string shingles on the doc_id<60 audit
    slice) annotated with whether the banded-MinHash candidate generation
    CAUGHT it — the dedup counterpart of sim_ann_ivf_recall's
    measured-recall discipline (an approximation you haven't measured is
    a guess). Ground truth needs the all-pairs inverted-index join, which
    is why the audit runs on a bounded slice; the LSH side is
    dedup_minhash_lsh's own signatures and band buckets, so a recall miss
    here is a real banding miss. At 100 TB the audit stays a sampled
    side-channel while production candidates remain bucket-bounded."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60)
    truth = (
        _shingle_jaccard(d)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    cand = lsh_candidate_pairs(minhash_signatures(d)).withColumn("_hit", F.lit(1))
    return (
        truth.join(cand, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.col("_hit").isNotNull().alias("caught"),
        )
    )


@register(
    "dedup_canonical_mapping",
    oracle="""
    WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    canon AS (SELECT fp, MIN(doc_id) AS canonical_id FROM fp GROUP BY fp)
    SELECT f.doc_id, c.canonical_id
    FROM fp f JOIN canon c ON f.fp = c.fp
    WHERE f.doc_id <> c.canonical_id
    """,
    tags=("dedup",),
)
def dedup_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remap table dedup actually SHIPS: duplicate doc_id →
    canonical (first-seen) doc_id, so downstream references (citations,
    labels, shard manifests) rewrite to survivors instead of dangling.
    One fingerprint aggregation + an equi-join back — the
    dedup_exact_survivors twin from the pointer side; identity rows are
    dropped (the mapping is only the rewrites). At 100 TB the mapping
    is duplicate-count-sized and joins back onto reference tables by
    broadcast or bucketed key."""
    d = load_tables(spark, sf_dir)["documents"]
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    return (
        fp.join(canon, "fp")
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id")
    )


@register(
    "dedup_paragraph_keepfirst",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE n_chars > 0
    ), segs AS (
      SELECT doc_id, (k.k - 1) * 10 + 1 AS seg_start,
             array_to_string(t[(k.k - 1) * 10 + 1 : (k.k - 1) * 10 + 10], ' ') AS seg
      FROM toks, LATERAL (SELECT unnest(generate_series(1, n // 10)) AS k) k
      WHERE n >= 10
    ), ranked AS (
      SELECT doc_id, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_start) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
           ROUND(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
             AS kept_frac
    FROM ranked GROUP BY doc_id
    """,
    tags=("dedup", "text", "pipeline"),
)
def dedup_paragraph_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup with keep-first semantics
    (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
    from Web Crawl Data" — duplicated paragraphs are removed corpus-wide,
    keeping one occurrence): segment each document into consecutive
    10-token blocks, keep a block only where it is the FIRST occurrence
    of that exact text corpus-wide (ordered by doc_id, then position —
    deterministic because the pair is unique), and report per-document
    retention. A doc whose kept_frac collapses toward 0 is boilerplate.

    This differs from `dedup_substring_spans` (Lee et al. span REMOVAL
    marks every occurrence of a duplicated 13-gram) exactly where CCNet
    differs from suffix-array dedup: one canonical copy of each paragraph
    survives.

    Plan shape: explode fixed blocks (map-only: sequence + slice HOFs,
    no shuffle), ONE exchange keyed on the block text for the keep-first
    ranking window, then a doc-keyed aggregate. At 100 TB the ranking
    exchange keys on xxhash64(seg) (8-byte keys, same topology); the
    window state per key is one row
    counter, and no doc's full text ever concatenates back together —
    retention stats and the kept-block set are the pipeline outputs."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    toks = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 10)
    )
    segs = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), (F.col("n") / 10).cast("int"))
        ).alias("k"),
    ).select(
        "doc_id",
        ((F.col("k") - 1) * 10 + 1).alias("seg_start"),
        F.concat_ws(
            " ", F.expr("slice(t, (k - 1) * 10 + 1, 10)")
        ).alias("seg"),
    )
    rn = F.row_number().over(
        W.partitionBy("seg").orderBy("doc_id", "seg_start")
    )
    ranked = segs.withColumn("rn", rn)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("kept_segs"),
        F.round(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("kept_frac"),
    )


@register(
    "dedup_jaccard_histogram",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 60
        ) d
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT CAST(LEAST(FLOOR(jaccard * 20), 19) AS BIGINT) AS bin,
           ROUND(CAST(LEAST(FLOOR(jaccard * 20), 19) AS DOUBLE) * 0.05, 2) AS bin_lo,
           COUNT(*) AS n_pairs
    FROM pairs
    GROUP BY 1, 2
    """,
    tags=("dedup",),
)
def dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning aid: the distribution of pairwise Jaccard over
    EVERY candidate pair (any shared shingle, no floor), bucketed to
    0.05-wide bins — how a pipeline picks the dedup cutoff (the valley
    between the noise mass in the low bins and the near-dup mass near
    1.0) instead of guessing 0.5. Same inverted-index join as
    dedup_ngram_jaccard on the bounded doc_id<60 audit slice; the bin is
    integer floor arithmetic (jaccard==1.0 clamps into the top bin) so
    both engines bucket identically. At scale the histogram runs over a
    sampled pair stream while production stays banded."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60)
    bin_col = F.least(F.floor(F.col("jaccard") * 20), F.lit(19)).cast("long")
    return (
        _shingle_jaccard(d)
        .select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select("bin", F.round(F.col("bin") * 0.05, 2).alias("bin_lo"), "n_pairs")
    )


@register(
    "corpus_dup_rate_by_source",
    oracle="""
    WITH d AS (
      SELECT source, text, COUNT(*) AS c FROM documents GROUP BY source, text
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_docs,
           ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS dup_rate
    FROM d GROUP BY source
    """,
    tags=("dedup", "corpus"),
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate health: for each source/domain, how many
    documents and what share of them are verbatim copies of another doc
    in the SAME source — the standard first look at where a crawl's
    duplication lives before choosing per-domain dedup aggressiveness
    (a boilerplate-heavy domain wants harder near-dedup; a clean one
    doesn't). Spark groups on (source, xxhash64(text)) so the wide text
    column never rides the shuffle — only an 8-byte key does (the
    dedup_exact discipline); the oracle groups the text itself, which is
    value-identical short of a 2^-64 hash collision. Two keyed
    aggregations with map-side partials; no row ever leaves its
    (source)-keyed partition twice."""
    d = load_tables(spark, sf_dir)["documents"]
    groups = d.groupBy("source", F.xxhash64("text").alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dup_c = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    return groups.groupBy("source").agg(
        F.sum("c").alias("docs"),
        F.sum(dup_c).alias("dup_docs"),
        F.round(F.sum(dup_c).cast("double") / F.sum("c"), 6).alias("dup_rate"),
    )


@register(
    "dedup_incremental_vs_corpus",
    oracle=f"""
    WITH {_minhash_oracle_ctes()},
    pairs AS (SELECT id_a, id_b FROM cand WHERE id_a % 10 >= 8 OR id_b % 10 >= 8),
    {_jaccard_verify_oracle("pairs")}
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup: dedup a NEW batch against an EXISTING
    corpus plus within itself — the nightly-crawl production shape the
    one-shot pipelines don't cover. New batch = ``doc_id % 10 >= 8``
    (a deterministic 20% slice); output = every candidate-verified pair
    with at least one NEW side, canonical ``id_a < id_b``.

    The scale property is the JOIN ASYMMETRY: band rows are built for
    both sides, but the candidate join probes NEW bands into the
    bucket-keyed corpus — corpus×corpus pairs are never formed, so daily
    cost is O(batch·bands + matched buckets), not O(corpus²). At 100 TB
    the corpus band table is precomputed and stored bucketed by
    (band, bh); the nightly batch shuffles only itself and the matched
    buckets. Signatures, buckets and verify are dedup_minhash_lsh's."""
    return _verified_pairs(spark, sf_dir, probe=(F.col("doc_id") % 10) >= 8)

"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never trained on whole: pipelines carve out samples,
strata, and train/val/test splits. Random sampling (``df.sample``) is not
reproducible across engines or re-runs, so production pipelines key sampling
off a content hash instead — the same row lands in the same split on every
engine, every run, every re-shard. That hash-based discipline is what makes
these operators fully DuckDB-oracle-checkable despite being "sampling".

The reference has no sampling surface (its SELECT path is exhaustive scan —
reference crates/driftdb-core/src/query/executor.rs:109-235); these extend
the engine for the pipeline mandate.

Scale notes:
- Hash-threshold sampling is a narrow map + filter — no shuffle, fully
  pushdown-friendly, and the selectivity is uniform across partitions, so it
  never skews downstream stages.
- Stratified top-N uses one shuffle on the stratum key; Spark's
  WindowGroupLimit pushes the rank cutoff below the sort so each partition
  keeps only N rows before the exchange.
- The above-mean filter is the canonical "aggregate then rejoin" shape: the
  per-group means are a tiny aggregate broadcast back to the fact scan, so
  the big side is read exactly once with no self-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register

# First two hex chars of md5 as the sampling key: 256 buckets, uniform on
# digests, identical lowercase-hex text on both engines.
_HASH2 = "substr(md5(cast(doc_id as varchar)), 1, 2)"


def _hash2(col: str = "doc_id") -> F.Column:
    return F.substring(F.md5(F.col(col).cast("string")), 1, 2)


@register(
    "sample_hash_pct",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_HASH2} < '1a'
    """,
    tags=("sampling",),
)
def sample_hash_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: keep rows whose md5(doc_id) prefix
    falls under 0x1a/0x100 ≈ 10.2%. Content-addressed, so membership is
    stable under re-partitioning, engine changes, and incremental re-runs."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.where(_hash2() < F.lit("1a")).select("doc_id", "lang", "source", "n_chars")


@register(
    "sample_stratified_topn",
    oracle=f"""
    SELECT lang, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_HASH2}, doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 20
    """,
    tags=("sampling",),
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: exactly 20 documents per language, chosen by hash
    order (not file order), so every stratum is a uniform, reproducible
    draw. The rank cutoff plan-compiles to WindowGroupLimit."""
    d = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("lang").orderBy(_hash2(), F.col("doc_id"))
    return (
        d.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .drop("rn")
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "sample_train_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_HASH2} < 'cc' THEN 'train'
                WHEN {_HASH2} < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("sampling",),
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range train/val/test split (≈80/10/10: 0x00-0xcb / 0xcc-0xe5 /
    0xe6-0xff) with per-language audit counts. Split assignment is a pure
    row-local expression — at scale it tags a write-partition column with
    zero shuffle; the audit aggregate here is the verification surface."""
    d = load_tables(spark, sf_dir)["documents"]
    h = _hash2()
    split = (
        F.when(h < F.lit("cc"), F.lit("train"))
        .when(h < F.lit("e6"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "pack_token_budget",
    oracle="""
    SELECT lang, doc_id, n_tokens,
           CAST((cum_tokens - n_tokens) // 4096 AS BIGINT) AS bin_id
    FROM (
        SELECT lang, doc_id,
               CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS BIGINT)
                   AS n_tokens,
               SUM(CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS BIGINT))
                   OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM documents
    )
    """,
    tags=("sampling", "text"),
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to ~4096-token training bins by
    running token count in deterministic (doc_id) order, one independent
    bin stream per language. The window is partitioned on the stream key,
    so packing parallelizes across strata — there is no global sequential
    scan, which is what makes greedy packing viable at corpus scale.
    (Boundary docs may straddle bins; trainers truncate/continue — the
    contract is deterministic assignment, not perfect bin fill.)"""
    d = load_tables(spark, sf_dir)["documents"]
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    ).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("lang", "doc_id", n_tokens.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            F.expr("(cum_tokens - n_tokens) div 4096").alias("bin_id"),
        )
    )


@register(
    "filter_above_group_mean",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    JOIN (
        SELECT lang, AVG(n_chars) AS lang_mean
        FROM documents
        GROUP BY lang
    ) m ON d.lang = m.lang
    WHERE CAST(d.n_chars AS DOUBLE) > m.lang_mean
    """,
    tags=("sampling",),
)
def filter_above_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate shape: keep documents longer than their language's mean
    length. Aggregate-then-rejoin with the tiny per-group means broadcast
    back, so the corpus is scanned once and never self-shuffled. AVG over
    int64 is sum-then-one-divide — deterministic on both engines."""
    d = load_tables(spark, sf_dir)["documents"]
    means = d.groupBy("lang").agg(F.avg("n_chars").alias("lang_mean"))
    return (
        d.join(F.broadcast(means), "lang")
        .where(F.col("n_chars").cast("double") > F.col("lang_mean"))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "pipeline_training_corpus",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, text,
               CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    quality AS (
        SELECT * FROM toks WHERE n_tokens >= 20 AND lang IS NOT NULL
    ),
    deduped AS (
        SELECT doc_id, lang, n_tokens
        FROM (
            SELECT doc_id, lang, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM quality
        )
        WHERE rn = 1
    ),
    sampled AS (
        SELECT * FROM deduped
        WHERE substr(md5(cast(doc_id as varchar)), 1, 2) < '80'
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) // 4096 AS BIGINT) AS bin_id
        FROM sampled
    )
    SELECT lang, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM packed
    GROUP BY lang, bin_id
    """,
    tags=("sampling", "pipeline"),
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus pipeline as ONE declarative program:
    quality gate → exact dedup (content-hash survivor pick) → deterministic
    50% hash sample → per-language sequence packing → bin audit rollup.
    Catalyst fuses the whole chain: one scan of documents, the dedup window
    and the packing window are the only two shuffles (both on bounded
    keys), and every intermediate stays columnar — no materialization
    between "stages" because there are no stages, just one plan. This is
    the shape a 100 TB corpus build actually runs."""
    d = load_tables(spark, sf_dir)["documents"]
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    ).cast("bigint")
    quality = (
        d.select("doc_id", "lang", "text", n_tokens.alias("n_tokens"))
        .where((F.col("n_tokens") >= 20) & F.col("lang").isNotNull())
    )
    dedup_w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(dedup_w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    sampled = deduped.where(_hash2() < F.lit("80"))
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sampled.withColumn("cum", F.sum("n_tokens").over(pack_w)).withColumn(
        "bin_id", F.expr("(cum - n_tokens) div 4096")
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


_HASH4 = "substr(md5(cast(doc_id as varchar)), 1, 4)"


@register(
    "sample_domain_mixture",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 10 THEN 'web'
                    WHEN CAST(SUBSTR(source, 4) AS INTEGER) < 15 THEN 'books'
                    ELSE 'code' END AS domain,
               n_chars, {_HASH4} AS h4
        FROM documents
    )
    SELECT domain, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    WHERE h4 < CASE domain WHEN 'web' THEN '4000'
                           WHEN 'books' THEN 'c000'
                           ELSE 'g' END
    GROUP BY domain
    """,
    tags=("sampling",),
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: re-weight a corpus toward target domain
    proportions by giving each domain its own deterministic hash-keep rate
    (web 25%, books 75%, code 100% — the usual up-weight-code,
    down-weight-web shape). The rates live in a tiny config DataFrame
    broadcast onto the corpus — mixture ratios are DATA, retunable without
    code — and membership stays content-addressed (md5(doc_id), 65536
    buckets), so a retuned rate only adds/removes the marginal band of
    documents instead of reshuffling the whole sample. Row-local filter →
    zero shuffle before the audit aggregate."""
    d = load_tables(spark, sf_dir)["documents"]
    # inline VALUES, not createDataFrame(list): the pickled-RDD-backed
    # config frame re-entered a Python worker inside the broadcast build
    # on every action (guide §4; the multimodal-fixture mechanism)
    rates = spark.sql(
        "SELECT domain, keep_below FROM VALUES "
        "('web', '4000'), ('books', 'c000'), ('code', 'g') "
        "AS t(domain, keep_below)"
    )
    idx = F.expr("substring(source, 4)").cast("int")
    domain = (
        F.when(idx < 10, "web").when(idx < 15, "books").otherwise("code")
    )
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        d.select(domain.alias("domain"), "n_chars", h4.alias("h4"))
        .join(F.broadcast(rates), "domain")
        .where(F.col("h4") < F.col("keep_below"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "sample_weighted_topk",
    oracle="""
    SELECT doc_id, lang, n_chars,
           ROUND(ln((CAST(('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))
                          AS BIGINT) + 1) / 4294967296.0)
                 / n_chars, 9) AS draw_key
    FROM documents
    ORDER BY draw_key DESC, doc_id
    LIMIT 100
    """,
    tags=("sampling",),
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-Res): each
    document draws u ∈ (0,1] from its md5 (content-addressed, so the draw
    is reproducible across engines and re-runs — the same discipline as
    every sampler here) and ranks by ln(u)/weight; the global top-k IS a
    weighted-without-replacement sample, here weighted by document length.
    One narrow map + TakeOrderedAndProject: no shuffle of the corpus, the
    same plan shape at any scale. The key rounds to 9 decimals so the two
    engines' last-ulp ln() differences cannot reorder the cut; ties break
    on doc_id."""
    d = load_tables(spark, sf_dir)["documents"]
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        + 1
    ) / F.lit(4294967296.0)
    key = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("draw_key"))
        .orderBy(F.desc("draw_key"), "doc_id")
        .limit(100)
    )


@register(
    "sample_temperature_mixture",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT SUM(n) AS total FROM c),
    r AS (
      SELECT lang, n,
             CAST(FLOOR(65536 * LEAST(CAST(1.0 AS DOUBLE),
                  0.35 * SQRT(CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT) AS cut
      FROM c, t
    ),
    h AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS b
      FROM documents
    )
    SELECT h.lang,
           CAST(MAX(r.n) AS BIGINT) AS n_orig,
           COUNT(*) AS n_kept,
           CAST(SUM(h.n_chars) AS BIGINT) AS kept_chars,
           MAX(r.cut) AS keep_cut
    FROM h JOIN r USING (lang) WHERE h.b < r.cut GROUP BY h.lang
    """,
    tags=("sampling", "pipeline"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (the multilingual-corpus
    alpha-sampling step: rare languages keep a higher fraction so the
    mixture flattens toward p^alpha with alpha = 0.5). Each language's
    keep rate is computed FROM the corpus — ``min(1, tau * sqrt(N/n_l))``
    — so the operator is self-tuning, and membership stays
    content-addressed (md5 bucket < floor(65536 * rate)): a rate change
    moves only the marginal band of documents.

    Determinism note: the rate is sqrt/mul/min/floor of exact integer
    ratios — every step is a correctly-rounded IEEE scalar op with NO
    multi-term float summation, so both engines compute bit-identical
    cuts. Plan: one tiny lang-count aggregate broadcast back onto the
    corpus, a row-local filter, then the audit aggregate — the corpus
    itself shuffles once (final group) at most."""
    d = load_tables(spark, sf_dir)["documents"]
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n",
        F.floor(
            65536
            * F.least(
                F.lit(1.0).cast("double"),
                0.35
                * F.sqrt(F.col("total").cast("double") / F.col("n").cast("double")),
            )
        )
        .cast("bigint")
        .alias("cut"),
    )
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    return (
        d.select("doc_id", "lang", "n_chars", b.alias("b"))
        .join(F.broadcast(rates), "lang")
        .where(F.col("b") < F.col("cut"))
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_orig"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.max("cut").alias("keep_cut"),
        )
    )


@register(
    "sample_importance_dsir",
    oracle="""
    WITH big AS (
      SELECT doc_id,
             CAST(SUBSTR(source, 4) AS INTEGER) >= 10
               AND CAST(SUBSTR(source, 4) AS INTEGER) < 15 AS is_target,
             UNNEST(list_transform(range(1, length(lower(text))),
                    i -> substr(lower(text), i, 2))) AS bg
      FROM documents WHERE length(text) >= 2
    ),
    model AS (
      SELECT bg,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cs
      FROM big GROUP BY bg
    ),
    tot AS (SELECT SUM(ct) AS tt, SUM(cs) AS ts FROM model),
    ratio AS (
      SELECT bg,
             CAST(ROUND(LN(((ct + 0.5) * ts) / ((cs + 0.5) * tt)), 6)
                  AS DECIMAL(12,6)) AS lr
      FROM model, tot
    )
    SELECT doc_id,
           COUNT(*) AS n_feats,
           CAST(SUM(lr) AS DOUBLE) AS log_weight
    FROM big JOIN ratio USING (bg)
    GROUP BY doc_id
    ORDER BY log_weight DESC, doc_id
    LIMIT 100
    """,
    tags=("sampling", "pipeline"),
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR-style): score every
    document by how much more likely its hashed n-gram features are under
    the TARGET distribution (here the 'books' domain) than under the raw
    corpus, then keep the top-k. The per-feature log ratio
    ln(p_target(f)/p_raw(f)) — Laplace-smoothed so unseen features stay
    finite — is computed ONCE per feature, rounded, and summed per
    document as an exact decimal, so ranking is bit-stable cross-engine
    (a raw double sum over a variable-length feature bag is not).

    Plan shape: one bigram explode feeds a vocabulary-sized model
    aggregate; the (feature -> log-ratio) table broadcasts back onto the
    feature stream; the corpus shuffles once on doc_id for the weight
    sum; TakeOrderedAndProject cuts the top-k. At 100 TB the model stays
    broadcast-size (|charset|^2) and everything else is the same two
    exchanges."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.length("text") >= 2)
    idx = F.expr("substring(source, 4)").cast("int")
    big = (
        # The corpus file is tiny relative to the explode fan-out: without
        # a repartition the whole O(chars) generate runs on the file's one
        # input split. Round-robin the DOCS (cheap) so the heavy stage
        # parallelizes; and hoist lower(text) to a column — referenced
        # inside the lambda it re-lowercases the whole doc PER ELEMENT
        # (O(len^2)). Together: 8.0 s -> sub-second at sf0.1.
        d.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            ((idx >= 10) & (idx < 15)).alias("is_target"),
            F.lower(F.col("text")).alias("lt"),
        )
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(lt) - 1), "
                    "i -> substring(lt, i, 2))"
                )
            ).alias("bg"),
        )
    )
    model = big.groupBy("bg").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cs"),
    )
    tot = model.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ts"))
    ratio = model.crossJoin(F.broadcast(tot)).select(
        "bg",
        F.round(
            F.log(
                ((F.col("ct") + 0.5) * F.col("ts"))
                / ((F.col("cs") + 0.5) * F.col("tt"))
            ),
            6,
        )
        .cast("decimal(12,6)")
        .alias("lr"),
    )
    # Materialize the vocabulary-sized model ONCE (|charset|^2 rows — the
    # same driver-scalar budget as the BPE best-pair collect): left lazy,
    # Catalyst re-derives the model inside the broadcast AND inside the
    # totals, re-running the corpus explode 3x — measured 7.97 s vs
    # 1.77 s at sf0.1 (scaling bench, isolated runs) after this pin.
    #
    # r14: re-upload as an inline-VALUES JVM LocalRelation instead of
    # createDataFrame(rows) — the pickled-RDD-backed frame re-entered a
    # Python worker on EVERY action (the multimodal-fixture mechanism,
    # guide §4; measured there at ~2 s per materialization). Bigrams are
    # hex-encoded so arbitrary document characters can't break the SQL
    # literal; the log-ratio decimal round-trips exactly through its
    # canonical string form.
    model_rows = ratio.collect()
    vals = ",".join(
        f"('{r['bg'].encode('utf-8').hex()}', CAST('{r['lr']}' AS DECIMAL(12,6)))"
        for r in model_rows
    )
    ratio_local = spark.sql(
        "SELECT decode(unhex(bghex), 'UTF-8') AS bg, lr "
        f"FROM VALUES {vals} AS t(bghex, lr)"
    )
    return (
        big.join(F.broadcast(ratio_local), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lr").cast("double").alias("log_weight"),
        )
        .orderBy(F.col("log_weight").desc(), "doc_id")
        .limit(100)
    )


@register(
    "sample_mixture_epochs",
    oracle="""
    WITH src AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars, COUNT(*) AS docs
        FROM documents GROUP BY source
    ),
    total AS (SELECT SUM(chars) AS total_chars FROM src),
    weighted AS (
        -- target mixture: flatten by sqrt (alpha=0.5), then renormalize
        SELECT s.source, s.chars, s.docs,
               SQRT(CAST(s.chars AS DOUBLE)) AS w
        FROM src s
    ),
    norm AS (SELECT SUM(w) AS wsum FROM weighted)
    SELECT w.source, w.docs, w.chars,
           ROUND(w.w / n.wsum, 6) AS target_frac,
           ROUND((w.w / n.wsum) * t.total_chars / w.chars, 4) AS epochs
    FROM weighted w, norm n, total t
    """,
    tags=("sampling",),
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight → epoch planning (the data-budgeting step of corpus
    assembly, Hoffmann/Chinchilla-style): given a sqrt-flattened target
    mixture over sources (alpha=0.5 — upweight small sources without
    letting them dominate), compute each source's repetition factor
    ``epochs = target_share · total / available`` — >1 means the source
    repeats, <1 means it's subsampled. Pure aggregate arithmetic: one
    source-keyed rollup (source-cardinality-sized), scalars broadcast
    back; the corpus is scanned once. Pairs with sample_domain_mixture /
    sample_temperature_mixture, which EXECUTE a mixture this operator
    PLANS."""
    d = load_tables(spark, sf_dir)["documents"]
    src = d.groupBy("source").agg(
        F.sum("n_chars").alias("chars"), F.count(F.lit(1)).alias("docs")
    )
    total = src.agg(F.sum("chars").alias("total_chars"))
    weighted = src.withColumn("w", F.sqrt(F.col("chars").cast("double")))
    norm = weighted.agg(F.sum("w").alias("wsum"))
    return (
        weighted.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "docs",
            "chars",
            F.round(F.col("w") / F.col("wsum"), 6).alias("target_frac"),
            F.round(
                (F.col("w") / F.col("wsum"))
                * F.col("total_chars")
                / F.col("chars"),
                4,
            ).alias("epochs"),
        )
    )


@register(
    "sample_pareto_frontier",
    oracle="""
    WITH stats AS (
      SELECT doc_id, n_chars,
             COUNT(*) AS n_tok, COUNT(DISTINCT token) AS n_uniq
      FROM (SELECT doc_id, n_chars, UNNEST(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, n_chars
    )
    SELECT p.doc_id, p.n_chars, p.n_tok, p.n_uniq
    FROM stats p
    WHERE NOT EXISTS (
      SELECT 1 FROM stats d
      WHERE d.n_chars >= p.n_chars
        AND d.n_uniq * p.n_tok >= p.n_uniq * d.n_tok
        AND (d.n_chars > p.n_chars OR d.n_uniq * p.n_tok > p.n_uniq * d.n_tok)
    )
    """,
    tags=("sampling",),
)
def sample_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal (skyline) document selection on two quality axes —
    length (n_chars) and lexical diversity (distinct-token fraction): keep
    exactly the documents no other document dominates on both. The
    multi-criteria analog of weighted top-k for curating "long AND
    diverse" training data without inventing a single blended score.

    Exactness: diversity fractions are compared by integer
    cross-multiplication (d.n_uniq·p.n_tok vs p.n_uniq·d.n_tok), so
    domination has no float edge cases and matches the oracle bit-for-bit.

    Scale (the naive skyline is an all-pairs NOT EXISTS — quadratic):
    1. per-doc stats: one explode + keyed aggregate over the corpus;
    2. bin-prune: 32 fixed-width integer bins over n_chars; per-bin max
       diversity (tiny aggregate) → suffix-max over strictly-higher bins
       (32-row window) broadcast back. A doc below the suffix-max is
       dominated by that bin's maximizer (strictly longer AND more
       diverse) and is pruned. Every frontier doc provably survives, and
       every dominator of a survivor is itself a survivor, so
    3. the exact all-pairs anti-join runs only among the ~frontier-sized
       candidate set (broadcast nested loop over a few rows), never the
       corpus. The double-valued ratio is used ONLY inside the
       conservative prune (with 1e-6 slack); the exact check is integer.
    """
    d = load_tables(spark, sf_dir)["documents"]
    # Per-doc token stats are ROW-LOCAL: token count = size of the split
    # array, distinct count = size of array_distinct — JVM higher-order
    # functions, zero shuffle (optimization guide §4.1: built-ins over
    # anything that ships rows). The previous explode + groupBy +
    # COUNT(DISTINCT) formulation paid a Generate over every token plus
    # TWO token-level exchanges (the count-distinct two-phase aggregate);
    # all of it vanished from the plan (`git show
    # 52710e8:plans/r13/sample_pareto_frontier_before.txt`, and _after.txt:
    # stats subtree Generate+2×Exchange → Project only).
    # size() yields INT, the old aggregates yielded BIGINT — cast to keep
    # the driver-checked schema identical.
    toks = F.split(F.col("text"), " ")
    stats = (
        d.select(
            "doc_id",
            "n_chars",
            F.size(toks).cast("long").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        )
        # Referenced by the range aggregate, the bin maxima, and the
        # candidate filter — Spark does not dedupe those subtrees, so the
        # pin keeps the (now map-only) stats pass from re-running per
        # reference; the pinned frame is doc-count-sized. With the explode
        # gone the materialization barrier that made persist a local loss
        # (old A/B: 1.77 s no-persist vs 2.64 s persist) is gone too.
        .persist()
    )
    n_bins = 32
    rng = stats.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    pts = (
        stats.crossJoin(F.broadcast(rng))
        .withColumn(
            "bin",
            F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    (F.col("n_chars") - F.col("lo"))
                    * n_bins
                    / (F.col("hi") - F.col("lo") + 1),
                ).cast("int")
            ),
        )
        .withColumn(
            "ratio", F.col("n_uniq").cast("double") / F.col("n_tok").cast("double")
        )
        .drop("lo", "hi")
    )
    # Global window on purpose: it runs over the n_bins (32) bin rows only.
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    suffix = (
        pts.groupBy("bin")
        .agg(F.max("ratio").alias("bin_max"))
        .select("bin", F.max("bin_max").over(w).alias("smax"))
    )
    cand = (
        pts.join(F.broadcast(suffix), "bin")
        .where(F.col("smax").isNull() | (F.col("ratio") >= F.col("smax") - 1e-6))
        .select("doc_id", "n_chars", "n_tok", "n_uniq")
        .persist()  # frontier-sized; both sides of the exact check
    )
    dom = cand.select(
        F.col("doc_id").alias("d_id"),
        F.col("n_chars").alias("d_chars"),
        F.col("n_tok").alias("d_tok"),
        F.col("n_uniq").alias("d_uniq"),
    )
    strict = (F.col("d_chars") > F.col("n_chars")) | (
        F.col("d_uniq") * F.col("n_tok") > F.col("n_uniq") * F.col("d_tok")
    )
    dominated_by = (
        (F.col("d_chars") >= F.col("n_chars"))
        & (F.col("d_uniq") * F.col("n_tok") >= F.col("n_uniq") * F.col("d_tok"))
        & strict
    )
    return cand.join(F.broadcast(dom), dominated_by, "left_anti")


@register(
    "sample_balanced_classes",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n) AS min_n FROM counts),
    ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_HASH2}, doc_id) AS rn
        FROM documents
    )
    SELECT r.lang, r.doc_id
    FROM ranked r, mn
    WHERE r.rn <= mn.min_n
    """,
    tags=("sampling",),
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing: downsample every language to the
    size of the SMALLEST language, members chosen by content-hash order —
    the uniform-prior rebalance before training a language-ID or quality
    classifier, reproducible across engines and re-shards (no rand()).

    Scale: one tiny per-class count aggregate (broadcast scalar), one
    shuffle on the class key for the hash-ranked window; the rank cutoff
    compiles to WindowGroupLimit so partitions drop rows past min_n
    before the exchange when min_n is known; selection is stable under
    incremental corpus growth except at the hash boundary."""
    d = load_tables(spark, sf_dir)["documents"]
    min_n = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("min_n"))
    )
    w = Window.partitionBy("lang").orderBy(_hash2(), F.col("doc_id"))
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .crossJoin(F.broadcast(min_n))
        .where(F.col("rn") <= F.col("min_n"))
        .select("lang", "doc_id")
    )


@register(
    "sample_epoch_order",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, e.epoch,
               md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents, (SELECT UNNEST([0, 1]) AS epoch) e
    )
    SELECT epoch,
           CAST(substr(h, 1, 1) AS VARCHAR) AS shard,
           doc_id,
           ROW_NUMBER() OVER (PARTITION BY epoch, substr(h, 1, 1)
                              ORDER BY h, doc_id) AS pos
    FROM keyed
    """,
    tags=("sampling",),
)
def sample_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: every epoch reshuffles the
    whole corpus by md5(epoch:doc_id) — a full, independent permutation
    per epoch with no rand(), so a resumed or re-run job replays the
    exact same order (the data-loader reproducibility contract).

    Scale: a true global position would serialize each epoch through one
    reducer, so the order is factored as (shard, pos): the hash's first
    hex digit shards each epoch 16 ways and positions are ranked within
    (epoch, shard) — the global order IS (epoch, shard, pos) lexically,
    every rank window is corpus/16 sized, and shard count widens freely
    (more hash digits) as the corpus grows. Writers emit one file per
    (epoch, shard); trainers consume shards in name order."""
    d = load_tables(spark, sf_dir)["documents"]
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    )
    w = Window.partitionBy("epoch", F.substring("h", 1, 1)).orderBy(
        "h", "doc_id"
    )
    return keyed.select(
        "epoch",
        F.substring("h", 1, 1).alias("shard"),
        "doc_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )

"""Text analysis operators over the ``documents`` table.

The reference ships a TF-IDF full-text engine (tokenizer, inverted index,
Text/Boolean/Phrase queries — reference crates/driftdb-core/src/fulltext.rs:
120-135, TF-IDF :541-551) that is API-only, never SQL-exposed. Here the same
capabilities — tokenization, document frequency, quality scoring, language-ID
heuristics, fingerprinting — are expressed as DataFrame programs that stay
entirely JVM-side (built-in functions, whole-stage codegen; no Python UDFs in
the hot path), so they hold at 100 TB.

Cross-engine determinism: counts/lengths are exact integers; the only floats
are divisions of identical integers (IEEE-deterministic) and ROUND(LN(x), 6)
where rounding absorbs libm last-ulp differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register


def _occurrences(text: F.Column, needle: str) -> F.Column:
    """Non-overlapping occurrence count via the length/replace identity —
    same algorithm on both engines."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def _occurrences_sql(expr: str, needle: str) -> str:
    return (
        f"CAST((LENGTH({expr}) - LENGTH(REPLACE({expr}, '{needle}', ''))) / {len(needle)} AS BIGINT)"
    )


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars,
           LENGTH(text) AS text_len,
           {_occurrences_sql("text", " ")} + 1 AS n_tokens,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / ({_occurrences_sql("text", " ")} + 1) AS avg_token_len,
           {_occurrences_sql("text", "the")} AS the_count
    FROM documents
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/length statistics (token counting from SURVEY's
    pipeline mandate; whitespace tokenization matches the testdata's
    single-space word stream)."""
    d = load_tables(spark, sf_dir)["documents"]
    text = F.col("text")
    n_tokens = _occurrences(text, " ") + 1
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length(text).cast("bigint").alias("text_len"),
        n_tokens.alias("n_tokens"),
        (F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double") / n_tokens).alias(
            "avg_token_len"
        ),
        _occurrences(text, "the").alias("the_count"),
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.5
             + (CASE WHEN text LIKE '%the%' THEN 0.25 ELSE 0.0 END)
             + LEAST(CAST(n_chars AS DOUBLE) / 1000.0, 1.0) * 0.25 AS quality,
           CASE WHEN LENGTH(text) < 50 THEN 'short'
                WHEN LENGTH(text) < 400 THEN 'medium'
                ELSE 'long' END AS length_band
    FROM documents
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring (length saturation + stopword
    presence), the filter stage of a training-data pipeline."""
    d = load_tables(spark, sf_dir)["documents"]
    text = F.col("text")
    quality = (
        F.least(F.length(text).cast("double") / 500.0, F.lit(1.0)) * 0.5
        + F.when(text.like("%the%"), 0.25).otherwise(0.0)
        + F.least(F.col("n_chars").cast("double") / 1000.0, F.lit(1.0)) * 0.25
    )
    band = (
        F.when(F.length(text) < 50, "short")
        .when(F.length(text) < 400, "medium")
        .otherwise("long")
    )
    return d.select("doc_id", quality.alias("quality"), band.alias("length_band"))


@register(
    "text_lang_id",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, lang,
               {_occurrences_sql("' ' || text || ' '", " the ")} AS c_en,
               {_occurrences_sql("' ' || text || ' '", " le ")} AS c_fr,
               {_occurrences_sql("' ' || text || ' '", " der ")} AS c_de
        FROM documents
    )
    SELECT doc_id, lang, c_en, c_fr, c_de,
           CASE WHEN c_en >= c_fr AND c_en >= c_de THEN 'en'
                WHEN c_fr >= c_de THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM m
    """,
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-marker frequency (n-gram heuristic from the
    pipeline mandate). The testdata vocabulary is synthetic, so the label is
    not expected to match ``lang`` — the operator contract (deterministic
    marker counts + argmax) is what's under test."""
    d = load_tables(spark, sf_dir)["documents"]
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    c_en = _occurrences(padded, " the ")
    c_fr = _occurrences(padded, " le ")
    c_de = _occurrences(padded, " der ")
    return d.select(
        "doc_id",
        "lang",
        c_en.alias("c_en"),
        c_fr.alias("c_fr"),
        c_de.alias("c_de"),
        F.when((c_en >= c_fr) & (c_en >= c_de), "en")
        .when(c_fr >= c_de, "fr")
        .otherwise("de")
        .alias("predicted_lang"),
    )


@register(
    "text_token_df",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT token,
           COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df,
           ROUND(LN(CAST(n.n_docs AS DOUBLE) / COUNT(DISTINCT doc_id)), 6) AS idf
    FROM tok, n
    GROUP BY token, n.n_docs
    """,
    tags=("text",),
)
def text_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequency + IDF — the inverted-index statistics
    behind the reference's TF-IDF ranking (fulltext.rs:541-551), as one
    explode + aggregate (map-side partials keep the shuffle narrow)."""
    d = load_tables(spark, sf_dir)["documents"]
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    # The corpus-size scalar joins AFTER the token aggregate: grouping on
    # (token, n_docs) carried the constant through BOTH count-distinct
    # exchanges as an extra 8-byte hash key on every token row (plan
    # _before: hashpartitioning(token, n_docs, doc_id) then
    # hashpartitioning(token, n_docs)); attached post-aggregate it rides
    # a broadcast onto token-cardinality rows instead (guide §2.3:
    # shuffle fewer bytes).
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "tf",
            "df",
            F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6).alias("idf"),
        )
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           md5(SUBSTR(text, 1, 64)) AS prefix_fp,
           SUBSTR(md5(lower(text)), 1, 8) AS short_fp
    FROM documents
    """,
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (content hash + prefix hash) — the exact-dup
    key and a cheap clustering key. md5 hex is identical across engines."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.md5(F.substring(F.col("text"), 1, 64)).alias("prefix_fp"),
        F.substring(F.md5(F.lower(F.col("text"))), 1, 8).alias("short_fp"),
    )


@register(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               substr(md5(cast(doc_id as varchar)), 1, 2) AS h2,
               string_split(lower(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(lower(text), ' ')) >= 5
    ),
    grams AS (
        SELECT doc_id, lang, h2,
               unnest(list_transform(generate_series(1, len(toks) - 4),
                                     i -> array_to_string(toks[i:i+4], ' ')))
                 AS gram
        FROM base
    ),
    train_grams AS (
        SELECT DISTINCT gram FROM grams WHERE h2 < 'cc'
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM grams g JOIN train_grams t ON g.gram = t.gram
        WHERE g.h2 >= 'cc'
    )
    SELECT b.lang,
           COUNT(*) AS n_test_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_contaminated
    FROM base b LEFT JOIN contaminated c ON b.doc_id = c.doc_id
    WHERE b.h2 >= 'cc'
    GROUP BY b.lang
    """,
    tags=("text", "dedup", "sampling"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag evaluation-split documents sharing
    any 5-token shingle with the training split (the standard benchmark-
    leakage check run before every training job). Split membership is the
    same md5 hash band as ``sample_train_split`` (train <0xcc ≈80%, test
    ≥0xcc), so the check composes with the split op it audits. Shingles
    stay JVM-side (split → sequence → slice inside one codegen span); the
    overlap test is a LeftSemi against the DISTINCT train-shingle set —
    at 100 TB both sides shuffle once on the shingle string (equivalently
    its hash), contaminated doc-ids collapse by doc, and the verdict joins
    back to the (much smaller) test-doc list. No Python, no driver state.

    sequence(1, n) in Spark generates DESCENDING sequences when n < 1
    (unlike DuckDB's empty range), so short docs are excluded explicitly
    on BOTH engines rather than relying on generator emptiness."""
    d = load_tables(spark, sf_dir)["documents"]
    base = (
        d.select(
            "doc_id",
            "lang",
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("h2"),
            F.split(F.lower("text"), " ").alias("toks"),
        )
        .where(F.size("toks") >= 5)
    )
    grams = base.select(
        "doc_id",
        "h2",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 4),"
                " i -> array_join(slice(toks, i, 5), ' '))"
            )
        ).alias("gram"),
    )
    train_grams = grams.where(F.col("h2") < "cc").select("gram").distinct()
    contaminated = (
        grams.where(F.col("h2") >= "cc")
        .join(train_grams, "gram", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        base.where(F.col("h2") >= "cc")
        .select("doc_id", "lang")
        .join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_test_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
    )


# Bloom layout shared by the Spark query and its DuckDB oracle: m = 2^24 bits
# stored as 524288 x 32-bit words (bits live in the low half of a BIGINT so
# two's-complement sign never participates), k = 4 hashes drawn from the four
# disjoint 8-hex-char quarters of md5(gram).  Sizing note: per-gram FP is
# (1 - e^(-kn/m))^k — ~2e-8 at sf0.01 shingle cardinality (~5e4), ~2e-4 at
# sf0.1 (~5e5) — and doc-level flagging ORs over every gram in the doc, so
# per-gram FP must stay well under 1/grams-per-doc or the prefilter flags
# everything (measured: the first cut used m=2^18, k=2 and false-flagged
# ~half of all docs at sf0.001).  At larger corpora you grow m, not k.
_BLOOM_WORDS = 524288
_BLOOM_BITS = _BLOOM_WORDS * 32


@register(
    "decontaminate_bloom",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang,
               substr(md5(cast(doc_id as varchar)), 1, 2) AS h2,
               string_split(lower(text), ' ') AS toks
        FROM documents
        WHERE len(string_split(lower(text), ' ')) >= 5
    ),
    grams AS (
        SELECT doc_id, lang, h2,
               unnest(list_transform(generate_series(1, len(toks) - 4),
                                     i -> array_to_string(toks[i:i+4], ' ')))
                 AS gram
        FROM base
    ),
    hashed AS (
        SELECT doc_id, lang, h2, gram,
               CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)
                 % {_BLOOM_BITS} AS p1,
               CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT)
                 % {_BLOOM_BITS} AS p2,
               CAST(('0x' || substr(md5(gram), 17, 8)) AS BIGINT)
                 % {_BLOOM_BITS} AS p3,
               CAST(('0x' || substr(md5(gram), 25, 8)) AS BIGINT)
                 % {_BLOOM_BITS} AS p4
        FROM grams
    ),
    bloom AS (
        SELECT p // 32 AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
        FROM (SELECT unnest([p1, p2, p3, p4]) AS p FROM hashed WHERE h2 < 'cc')
        GROUP BY 1
    ),
    train_grams AS (
        SELECT DISTINCT gram FROM hashed WHERE h2 < 'cc'
    ),
    probed AS (
        SELECT t.doc_id, t.lang,
               CASE WHEN (b1.bits & (CAST(1 AS BIGINT) << CAST(t.p1 % 32 AS INTEGER))) != 0
                     AND (b2.bits & (CAST(1 AS BIGINT) << CAST(t.p2 % 32 AS INTEGER))) != 0
                     AND (b3.bits & (CAST(1 AS BIGINT) << CAST(t.p3 % 32 AS INTEGER))) != 0
                     AND (b4.bits & (CAST(1 AS BIGINT) << CAST(t.p4 % 32 AS INTEGER))) != 0
                    THEN 1 ELSE 0 END AS bloom_hit,
               CASE WHEN g.gram IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
        FROM hashed t
        LEFT JOIN bloom b1 ON b1.w = t.p1 // 32
        LEFT JOIN bloom b2 ON b2.w = t.p2 // 32
        LEFT JOIN bloom b3 ON b3.w = t.p3 // 32
        LEFT JOIN bloom b4 ON b4.w = t.p4 // 32
        LEFT JOIN train_grams g ON g.gram = t.gram
        WHERE t.h2 >= 'cc'
    ),
    docs AS (
        SELECT doc_id, lang,
               COUNT(*) AS n_grams,
               SUM(bloom_hit) AS gram_bloom,
               SUM(exact_hit) AS gram_exact,
               MAX(bloom_hit) AS doc_bloom,
               MAX(exact_hit) AS doc_exact
        FROM probed GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) AS n_test_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_test_grams,
           CAST(SUM(gram_exact) AS BIGINT) AS gram_hits_exact,
           CAST(SUM(gram_bloom) AS BIGINT) AS gram_hits_bloom,
           CAST(SUM(gram_bloom - gram_exact) AS BIGINT) AS gram_false_pos,
           CAST(SUM(doc_exact) AS BIGINT) AS flagged_exact,
           CAST(SUM(doc_bloom) AS BIGINT) AS flagged_bloom,
           CAST(SUM(CASE WHEN doc_bloom = 1 AND doc_exact = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bloom_false_pos_docs
    FROM docs
    GROUP BY lang
    """,
    tags=("text", "dedup", "sampling", "pipeline"),
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prefilter with a measured
    false-positive audit — the query-level counterpart of the reference's
    storage-side Bloom filters (reference
    crates/driftdb-core/src/bloom_filter.rs: bit array + k hashes,
    contains-maybe semantics), applied to the train/test shingle-overlap
    check that ``decontaminate_ngram_overlap`` runs exactly.

    Why it matters at 100 TB: the exact check shuffles EVERY distinct
    train shingle to meet the test shingles on the join key. The Bloom
    build instead folds train shingles into a fixed 2 MiB bitmap with a
    map-side partial ``bit_or`` — the exchange carries at most
    ``_BLOOM_WORDS`` rows per map partition regardless of corpus size,
    and the probe is four broadcast lookups per test shingle (no corpus
    shuffle at all). No false negatives by construction (every train
    shingle's bits are set — asserted in tests); the price is the
    measured ``gram_false_pos`` / ``bloom_false_pos_docs`` columns, so
    the rate is a published number instead of a guess. This query keeps
    the exact path alongside as ground truth; a production prefilter
    runs the Bloom stage alone and routes only the (far smaller) flagged
    slice into the exact join.

    Determinism: bit positions derive from the four disjoint md5(gram)
    quarters via exact integer conv/mod — identical on both engines;
    bits stay in the low 32 of a BIGINT so ``bit_or``/``&`` never touch
    the sign bit."""
    d = load_tables(spark, sf_dir)["documents"]
    base = d.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("h2"),
        F.split(F.lower("text"), " ").alias("toks"),
    ).where(F.size("toks") >= 5)
    grams = base.select(
        "doc_id",
        "lang",
        "h2",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 4),"
                " i -> array_join(slice(toks, i, 5), ' '))"
            )
        ).alias("gram"),
    )

    def _pos(start: int) -> F.Column:
        return (
            F.conv(F.substring(F.md5("gram"), start, 8), 16, 10).cast("long")
            % _BLOOM_BITS
        )

    hashed = grams.select(
        "doc_id",
        "lang",
        "h2",
        "gram",
        _pos(1).alias("p1"),
        _pos(9).alias("p2"),
        _pos(17).alias("p3"),
        _pos(25).alias("p4"),
    )
    # Build: no DISTINCT on the train side — bit_or is idempotent, so the
    # dedup exchange the exact path needs simply disappears here.
    bloom = (
        hashed.where(F.col("h2") < "cc")
        .select(F.explode(F.array("p1", "p2", "p3", "p4")).alias("p"))
        .groupBy(F.expr("p DIV 32").alias("w"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, CAST(p % 32 AS INT))")).alias("bits")
        )
    )
    train_grams = hashed.where(F.col("h2") < "cc").select("gram").distinct()
    test = hashed.where(F.col("h2") >= "cc")
    probe = test
    hit = F.lit(True)
    for i in (1, 2, 3, 4):
        side = F.broadcast(
            bloom.select(F.col("w").alias(f"w{i}"), F.col("bits").alias(f"bits{i}"))
        )
        probe = probe.join(side, F.expr(f"p{i} DIV 32") == F.col(f"w{i}"), "left")
        hit = hit & (
            F.coalesce(F.col(f"bits{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1L, CAST(p{i} % 32 AS INT))")
            )
            != 0
        )
    probed = probe.join(
        train_grams.withColumn("exact", F.lit(1)), "gram", "left"
    ).select(
        "doc_id",
        "lang",
        F.when(hit, 1).otherwise(0).alias("bloom_hit"),
        F.coalesce(F.col("exact"), F.lit(0)).alias("exact_hit"),
    )
    docs = probed.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("bloom_hit").alias("gram_bloom"),
        F.sum("exact_hit").alias("gram_exact"),
        F.max("bloom_hit").alias("doc_bloom"),
        F.max("exact_hit").alias("doc_exact"),
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        F.sum("n_grams").cast("bigint").alias("n_test_grams"),
        F.sum("gram_exact").cast("bigint").alias("gram_hits_exact"),
        F.sum("gram_bloom").cast("bigint").alias("gram_hits_bloom"),
        F.sum(F.col("gram_bloom") - F.col("gram_exact"))
        .cast("bigint")
        .alias("gram_false_pos"),
        F.sum("doc_exact").cast("bigint").alias("flagged_exact"),
        F.sum("doc_bloom").cast("bigint").alias("flagged_bloom"),
        F.sum(
            F.when((F.col("doc_bloom") == 1) & (F.col("doc_exact") == 0), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("bloom_false_pos_docs"),
    )


@register(
    "text_repetition_ngram",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(toks) - 2),
                              i -> array_to_string(toks[i:i+2], ' ')) AS grams
        FROM base
        WHERE len(toks) >= 3
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           ROUND(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / len(grams), 6) AS dup_frac
    FROM g
    """,
    tags=("text", "quality"),
)
def text_repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate token 3-grams per
    document — the classic repetitious-text quality gate from large-LM
    data pipelines (a doc whose 3-grams are mostly repeats is boilerplate
    or degenerate generation). Entirely array-local: gram construction,
    distinct, and the ratio all happen inside one projection — a pure map
    stage with ZERO shuffle, the best possible 100 TB shape."""
    d = load_tables(spark, sf_dir)["documents"]
    base = d.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 3
    )
    grams = F.expr(
        "transform(sequence(1, size(toks) - 2),"
        " i -> array_join(slice(toks, i, 3), ' '))"
    )
    g = base.select("doc_id", grams.alias("grams"))
    n = F.size("grams").cast("bigint")
    nd = F.size(F.array_distinct("grams")).cast("bigint")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.round((n - nd).cast("double") / n, 6).alias("dup_frac"),
    )


@register(
    "text_top_bigram_frac",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    b AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+1], ' ')))
                 AS gram
        FROM base
    ),
    cnt AS (
        SELECT doc_id, gram, COUNT(*) AS c FROM b GROUP BY doc_id, gram
    ),
    rk AS (
        SELECT doc_id, gram, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram) AS rn,
               CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS total
        FROM cnt
    )
    SELECT doc_id, gram AS top_bigram, c AS top_n, total AS total_bigrams,
           ROUND(CAST(c AS DOUBLE) / CAST(total AS DOUBLE), 6) AS top_frac
    FROM rk WHERE rn = 1
    """,
    tags=("text", "quality"),
)
def text_top_bigram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of the document covered by its single most frequent bigram
    (Gopher-style repetition rule: high top-bigram coverage flags
    templated/boilerplate text). One explode + per-(doc, gram) count, then
    a per-doc window pick — both stages key on doc_id so the shuffle is a
    single co-partitioned exchange; ties break lexicographically so both
    engines pick the same bigram."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"]
    base = d.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2
    )
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> array_join(slice(toks, i, 2), ' '))"
    )
    cnt = (
        base.select("doc_id", F.explode(bigrams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("doc_id")
    rk = cnt.select(
        "doc_id",
        "gram",
        "c",
        F.row_number().over(w.orderBy(F.desc("c"), "gram")).alias("rn"),
        F.sum("c").over(w).alias("total"),
    )
    return rk.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("gram").alias("top_bigram"),
        F.col("c").alias("top_n"),
        F.col("total").alias("total_bigrams"),
        F.round(F.col("c").cast("double") / F.col("total").cast("double"), 6).alias(
            "top_frac"
        ),
    )


# GPT-2-style pretokenizer, ASCII-simplified so Java regex (Spark) and RE2
# (DuckDB) tokenize identically: a token is an optionally space-prefixed
# letter run, digit run, or punctuation run; residual spaces chunk together.
_BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"


@register(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))
                AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(LENGTH(text) AS DOUBLE)
                 / len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')),
                 6) AS chars_per_token
    FROM documents
    WHERE LENGTH(text) > 0
    """,
    tags=("text",),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both flavors from the pipeline mandate: whitespace
    tokens AND a BPE-ish regex pretokenization (the GPT-2 pretokenizer
    shape: space-prefixed letter/digit/punctuation runs). The regex run
    count is the standard pre-tokenizer proxy for "how many BPE tokens
    will this doc cost" before a real merges table is applied;
    chars-per-token is the budget-planning ratio. Entirely JVM-side
    (`regexp_extract_all` in codegen), one map stage, no shuffle."""
    d = load_tables(spark, sf_dir)["documents"]
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), F.lit(0))
    n_bpe = F.size(bpe).cast("bigint")
    return d.filter(F.length("text") > 0).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.length("text").cast("double") / n_bpe, 6).alias("chars_per_token"),
    )


# ~25% seed slice, identical on both engines (md5 hex prefix)
_LM_SEED_DUCK = "substr(md5(cast(doc_id as varchar)), 1, 1) < '4'"
_LM_SEED_SPARK = "substr(md5(cast(doc_id as string)), 1, 1) < '4'"


@register(
    "text_lm_quality",
    oracle=f"""
    WITH big AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, length(lower(text))),
                      i -> substr(lower(text), i, 2))) AS bg
        FROM documents WHERE length(text) >= 2
    ),
    model AS (
        SELECT bg, COUNT(*) AS cnt FROM big WHERE {_LM_SEED_DUCK} GROUP BY bg
    ),
    total AS (SELECT SUM(cnt) AS tot FROM model),
    scored AS (
        SELECT b.doc_id,
               COUNT(*) AS n_bigrams,
               AVG(LN(COALESCE(m.cnt, 0.5) / t.tot)) AS raw
        FROM big b LEFT JOIN model m ON b.bg = m.bg, total t
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, ROUND(raw, 6) AS lm_score,
           raw > -9.0 AS keep
    FROM scored
    """,
    tags=("text", "quality"),
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram LM quality score — the CCNet/KenLM-style
    perplexity filter a pretraining pipeline runs, in miniature: train
    bigram statistics on a deterministic md5-keyed 25% seed slice of the
    corpus, score every document by its mean log-probability under that
    model, and gate on a threshold. Unseen bigrams get a 0.5 pseudo-count
    (so the score stays finite and both engines agree exactly).

    Plan shape: one bigram explode feeds the model aggregate (tiny — the
    bigram vocabulary) and the scorer; the model and its total broadcast
    into the scoring join, so the corpus shuffles once on doc_id for the
    per-doc average. At 100 TB the seed slice is the same hash filter and
    the model is still broadcast-size (|charset|²)."""
    d = load_tables(spark, sf_dir)["documents"]
    # repartition before the explode (a tiny source file is one input
    # split — the O(chars) generate must not run on one core) and hoist
    # lower(text) out of the lambda (referenced inside, it re-lowercases
    # the whole doc per element: O(len^2)) — the sample_importance_dsir
    # scaling fix, same shape.
    big = (
        d.filter(F.length("text") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.lower(F.col("text")).alias("lt"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(lt) - 1), "
                    "i -> substring(lt, i, 2))"
                )
            ).alias("bg"),
        )
    )
    model = (
        big.filter(F.expr(_LM_SEED_SPARK))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = model.agg(F.sum("cnt").alias("tot"))
    scored = (
        big.join(F.broadcast(model), "bg", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(F.coalesce(F.col("cnt"), F.lit(0.5)) / F.col("tot"))).alias(
                "raw"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("raw", 6).alias("lm_score"),
        (F.col("raw") > -9.0).alias("keep"),
    )


_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 7 = 0
                            THEN ' contact user' || doc_id || '@example.com or admin@test.org'
                            ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           md5(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g')) AS clean_fp
    FROM seeded
    """,
    tags=("text", "quality"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — detect and redact email addresses, a compliance
    pass every training-data pipeline runs before tokenization. The corpus
    is synthetic, so deterministic PII is seeded into every 7th document
    INSIDE the query; detection counts and the md5 fingerprint of the
    redacted text are then value-checked against the oracle (proving the
    redaction output matches byte-for-byte, not just the counts). Map-only
    plan: regexp runs JVM-side in codegen, no shuffle, no Python."""
    d = load_tables(spark, sf_dir)["documents"]
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or admin@test.org"),
            ),
        ).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.md5(F.regexp_replace(t, _EMAIL_RE, "<EMAIL>")).alias("clean_fp"),
    )


@register(
    "text_chunk_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           CAST(s.start AS BIGINT) AS chunk_start,
           CAST(LEAST(32, n - s.start) AS BIGINT) AS chunk_tokens,
           array_to_string(t[s.start + 1 : s.start + 32], ' ') AS chunk_text
    FROM toks, LATERAL (SELECT unnest(generate_series(0, n - 1, 24)) AS start) s
    """,
    tags=("text", "pipeline"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking — every RAG / long-context training
    pipeline splits documents into token windows (32 tokens, stride 24 →
    8-token overlap) before embedding or packing. One map-only plan: the
    chunk starts are a per-row ``sequence``, exploded, and each chunk is an
    ``array slice`` + join — all JVM-side HOFs, zero shuffles, so at 100 TB
    it scales with input splits. The full chunk text round-trips through the
    oracle, proving byte-identical chunk boundaries on both engines."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    d = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    ex = d.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(24))).alias("start"),
    )
    return ex.select(
        "doc_id",
        F.col("start").cast("bigint").alias("chunk_start"),
        F.least(F.lit(32), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("chunk_tokens"),
        F.array_join(F.slice("toks", F.col("start") + 1, 32), " ").alias("chunk_text"),
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE n_chars > 0
    ), sh AS (
      SELECT doc_id, s.start,
             array_to_string(t[s.start : s.start + 12], ' ') AS shingle
      FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 12)) AS start) s
      WHERE n >= 13
    ), dup AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) >= 2
    ), hits AS (
      SELECT doc_id, start, start + 12 AS stop
      FROM sh SEMI JOIN dup USING (shingle)
    ), islands AS (
      SELECT doc_id, start, stop,
             CASE WHEN start > COALESCE(MAX(stop) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ), labeled AS (
      SELECT doc_id, start, stop,
             SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM islands
    )
    SELECT doc_id,
           CAST(MIN(start) AS BIGINT) AS span_start,
           CAST(MAX(stop) AS BIGINT) AS span_end,
           CAST(MAX(stop) - MIN(start) + 1 AS BIGINT) AS span_tokens
    FROM labeled GROUP BY doc_id, island
    """,
    tags=("dedup", "text", "pipeline"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup: find every maximal token span covered
    by a 13-gram that occurs >= 2 times corpus-wide — the span-removal
    preprocessing of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (suffix-array dedup; 13 tokens is the paper's
    threshold, expressed here as the equivalent shingle self-join).

    Plan shape: explode positions -> slice 13-gram (map-only HOFs) -> one
    COUNT window on the shingle key (the only corpus-wide exchange; see
    the A/B note inline) -> per-doc islands merge (window keyed on
    doc_id). The shingle key here is the raw token string so the oracle
    is value-exact; the 100 TB variant keys the exchange on
    xxhash64(shingle) — same topology, 8-byte keys (the key never leaves
    the exchange, like dedup.py's band keys)."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    d = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    sh = (
        d.filter(F.col("n") >= 13)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.col("n") - 12)).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.array_join(F.slice("toks", F.col("start"), 13), " ").alias("shingle"),
        )
    )
    # Corpus-wide dup detection as a COUNT window over the shingle key:
    # one exchange of the shingle rows, one pass over the explode. A/B'd
    # at sf0.1 against groupBy-count + broadcast-semi-join-back (median of
    # 3, isolated runs): window 0.79 s vs agg+semi 1.42 s — the agg
    # variant pays the explode twice AND carries a broadcast whose size
    # grows with the duplicated-shingle set (an OOM hazard at 100 TB);
    # the window variant has neither.
    n_dup = F.count(F.lit(1)).over(W.partitionBy("shingle"))
    hits = (
        sh.withColumn("_c", n_dup)
        .filter(F.col("_c") >= 2)
        .select("doc_id", "start", (F.col("start") + 12).alias("stop"))
    )
    w = W.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("stop").over(w.rowsBetween(W.unboundedPreceding, -1))
    labeled = hits.withColumn(
        "new_island",
        F.when(F.col("start") > F.coalesce(prev_max, F.lit(-1)) + 1, 1).otherwise(0),
    ).withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return labeled.groupBy("doc_id", "island").agg(
        F.min("start").cast("bigint").alias("span_start"),
        F.max("stop").cast("bigint").alias("span_end"),
        (F.max("stop") - F.min("start") + 1).cast("bigint").alias("span_tokens"),
    ).drop("island")


_BPE_ROUNDS = 5


def _bpe_oracle() -> str:
    prelude = """
    WITH words AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS w)
      WHERE length(w) > 0
      GROUP BY w
    ),
    r0 AS (
      SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS repr, cnt
      FROM words
    )"""
    rounds = []
    for k in range(_BPE_ROUNDS):
        rounds.append(f""",
    p{k} AS (
      SELECT t[i] || ' ' || t[i+1] AS pair, SUM(cnt) AS pcnt
      FROM (SELECT string_split(trim(repr), ' ') AS t, cnt FROM r{k}),
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
      GROUP BY 1
    ),
    b{k} AS (
      SELECT pair, pcnt FROM p{k} ORDER BY pcnt DESC, pair LIMIT 1
    ),
    r{k + 1} AS (
      SELECT replace(repr, ' ' || b.pair || ' ',
                     ' ' || replace(b.pair, ' ', '') || ' ') AS repr, cnt
      FROM r{k}, b{k} b
    )""")
    union = " UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS round, pair, "
        f"CAST(pcnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(_BPE_ROUNDS)
    )
    return prelude + "".join(rounds) + f" SELECT * FROM ({union})"


@register("text_bpe_learn_merges", oracle=_bpe_oracle(), tags=("text", "pipeline", "iterative"))
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning — the actual tokenizer-training inner loop,
    declarative: each round counts adjacent-symbol pairs over the corpus
    word distribution (weighted by word frequency) and merges the most
    frequent pair everywhere (greedy leftmost-first, the textbook BPE
    semantics, which is exactly what non-overlapping string REPLACE
    implements on the space-separated symbol representation). Both
    engines learn the merge TRAJECTORY — pair chosen and its count, five
    rounds — value-for-value.

    Plan shape per round: the word distribution is a one-exchange
    aggregate computed once (cached); pair counting is explode + one
    pair-keyed exchange with map-side partials; the chosen pair is ONE
    aggregated row collected to the driver (the connected-components
    convergence-scalar pattern — the merge decision is inherently
    sequential, everything data-sized stays distributed). Ties break
    lexicographically on both engines."""
    d = load_tables(spark, sf_dir)["documents"]
    # NOTE: no repartition here, unlike the other document explodes — the
    # rounds operate on the VOCAB (small), so fanning the initial word
    # explode to 32 partitions only multiplies per-round task overhead
    # (A/B at sf0.1: 2.2 s without vs 3.9 s with).
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur_cached = words.select(
        F.concat(
            F.lit(" "),
            F.rtrim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
            F.lit(" "),
        ).alias("repr"),
        "cnt",
    ).persist()
    # Measured-small coalesce (r14, guide §2.2 — the recursive_cte pattern,
    # extended per the r13 scaling finding: 8 cores beat 32 by 3× here).
    # The per-round state is the VOCAB — thousands of rows — but each of
    # the 5 rounds re-read it from cache at the cache's natural partition
    # count and every merge rebuild re-wrote it the same way: scheduling-
    # only tasks. The count() materializes the cache eagerly (round 0's
    # first() previously paid the corpus explode) and gates a coalesce(1)
    # on the measured vocab size; REPLACE preserves row count, so the one
    # decision covers every round's rebuilt vocab. Inert at 100 TB: a
    # vocab above the gate keeps its natural partitioning.
    from driftdb_spark.operators.recursive import SMALL_FRONTIER_ROWS

    small = cur_cached.count() <= SMALL_FRONTIER_ROWS
    cur = cur_cached.coalesce(1) if small else cur_cached
    merges = []
    try:
        for k in range(_BPE_ROUNDS):
            pairs = cur.select(
                # hoist the symbol array to a column: referenced inside
                # the lambda, split(trim(repr)) would re-split the whole
                # word per element (O(len^2))
                F.split(F.trim(F.col("repr")), " ").alias("t"),
                "cnt",
            ).select(
                F.explode(
                    # guard: Spark's sequence(1, 0) DESCENDS for
                    # single-symbol words; DuckDB's generate_series is
                    # empty there — make both empty explicitly
                    F.expr(
                        "CASE WHEN size(t) < 2 THEN array() "
                        "ELSE transform(sequence(1, size(t) - 1), "
                        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) END"
                    )
                ).alias("pair"),
                "cnt",
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("pcnt"))
                .orderBy(F.col("pcnt").desc(), F.col("pair"))
                .limit(1)
                .first()
            )
            merges.append((k + 1, best["pair"], int(best["pcnt"])))
            nxt_cached = cur.withColumn(
                "repr",
                F.replace(
                    F.col("repr"),
                    F.lit(f" {best['pair']} "),
                    F.lit(" " + best["pair"].replace(" ", "") + " "),
                ),
            ).persist()
            cur_cached.unpersist()
            cur_cached = nxt_cached
            cur = nxt_cached.coalesce(1) if small else nxt_cached
    finally:
        cur_cached.unpersist()
    # inline VALUES, not createDataFrame(list): the pickled-RDD-backed
    # result frame re-entered a Python worker on every action (guide §4;
    # the multimodal-fixture mechanism). Pairs are hex-encoded so arbitrary
    # corpus characters can't break the SQL literal.
    vals = ",".join(
        f"(CAST({r} AS BIGINT), '{p.encode('utf-8').hex()}', "
        f"CAST({c} AS BIGINT))"
        for (r, p, c) in merges
    )
    return spark.sql(
        "SELECT round, decode(unhex(pairhex), 'UTF-8') AS pair, pair_count "
        f"FROM VALUES {vals} AS t(round, pairhex, pair_count)"
    )


@register(
    "corpus_health_report",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id, lang, n_chars,
             CAST((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) + 1 AS BIGINT)
               AS n_tokens,
             md5(text) AS fp
      FROM documents
    ),
    dup AS (
      SELECT SUM(cnt - 1) AS n_dup_docs
      FROM (SELECT fp, COUNT(*) AS cnt FROM per_doc GROUP BY fp)
    )
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST((SELECT n_dup_docs FROM dup) AS BIGINT) AS n_exact_dup_docs,
           ROUND(CAST((SELECT n_dup_docs FROM dup) AS DOUBLE) / COUNT(*), 6)
             AS dup_fraction,
           CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens) AS DOUBLE)
             AS p50_tokens,
           CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY n_tokens) AS DOUBLE)
             AS p95_tokens
    FROM per_doc
    """,
    tags=("text", "pipeline"),
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus dashboard every ingest run publishes: document
    and language counts, token totals, size extremes, the exact-duplicate
    fraction (fingerprint groups), and token-count percentiles — all from
    ONE scan feeding a fingerprint aggregate and a global aggregate.
    Percentiles are exact (Spark ``percentile`` ≡ DuckDB
    ``percentile_cont``: linear interpolation on sorted values), and the
    duplicate count is a scalar subquery Catalyst folds into the final
    single-row plan."""
    d = load_tables(spark, sf_dir)["documents"]
    per_doc = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            + 1
        )
        .cast("bigint")
        .alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dup = (
        per_doc.groupBy("fp")
        .count()
        .agg(F.sum(F.col("count") - 1).alias("n_dup_docs"))
    )
    return (
        per_doc.crossJoin(F.broadcast(dup))
        .groupBy("n_dup_docs")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.round(
                F.first("n_dup_docs").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
            F.expr("CAST(percentile(n_tokens, 0.5) AS DOUBLE)").alias("p50_tokens"),
            F.expr("CAST(percentile(n_tokens, 0.95) AS DOUBLE)").alias("p95_tokens"),
        )
        .select(
            "n_docs",
            "n_langs",
            "total_tokens",
            "min_chars",
            "max_chars",
            F.col("n_dup_docs").cast("bigint").alias("n_exact_dup_docs"),
            "dup_fraction",
            "p50_tokens",
            "p95_tokens",
        )
    )


@register(
    "text_pmi_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE n_chars > 0
    ), big AS (
      SELECT t[s.s] AS w1, t[s.s + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 1)) AS s) s
      WHERE n >= 2
    ), pair_counts AS (
      SELECT w1, w2, COUNT(*) AS pair_n FROM big GROUP BY w1, w2
    ), uni AS (
      SELECT w1 AS w, COUNT(*) AS c1 FROM big GROUP BY w1
    ), uni2 AS (
      SELECT w2 AS w, COUNT(*) AS c2 FROM big GROUP BY w2
    ), tot AS (
      SELECT COUNT(*) AS n_pairs FROM big
    )
    SELECT w1, w2, pair_n,
           ROUND(LN(CAST(pair_n AS DOUBLE) * n_pairs / (c1 * c2)), 6) AS pmi
    FROM pair_counts
    JOIN uni  ON uni.w = w1
    JOIN uni2 ON uni2.w = w2
    CROSS JOIN tot
    WHERE pair_n >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 30
    """,
    tags=("text", "pipeline"),
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise mutual information
    ``ln(p(xy) / (p(x)·p(y)))`` over adjacent-token pairs — the classic
    corpus-analysis pass for multiword expressions ("new york"-style
    units) a tokenizer or phrase-mining stage feeds on.

    Plan shape: one explode to the bigram stream (map-only HOF slice+zip),
    ONE exchange keyed on the pair for counts; the two marginal count
    tables and the scalar total are vocabulary-bounded, so they broadcast
    back onto the pair counts — at 100 TB the corpus crosses the wire
    once, the model tables never grow past |V| and |V|² · selectivity.
    Counts are exact integers; the single LN rounds at 6 to absorb libm
    last-ulp differences (module-header determinism discipline)."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    toks = d.select(F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    big = (
        toks.filter(F.col("n") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    pair_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    uni2 = big.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    tot = big.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        pair_counts.filter(F.col("pair_n") >= 5)
        .join(F.broadcast(uni), "w1")
        .join(F.broadcast(uni2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "pair_n",
            F.round(
                F.log(
                    F.col("pair_n").cast("double")
                    * F.col("n_pairs")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(30)
    )


@register(
    "text_lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE n_chars > 0
    ), big AS (
      SELECT doc_id, t[s.s] AS w1, t[s.s + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 1)) AS s) s
      WHERE n >= 2
    ), pair_counts AS (
      SELECT w1, w2, COUNT(*) AS pc FROM big GROUP BY w1, w2
    ), uni AS (
      SELECT w1 AS w, COUNT(*) AS uc FROM big GROUP BY w1
    ), vocab AS (
      SELECT COUNT(DISTINCT tok) AS v FROM (
        SELECT w1 AS tok FROM big UNION SELECT w2 FROM big
      )
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN(CAST(pc + 1 AS DOUBLE) / (uc + v))), 6) AS cross_entropy
    FROM big
    JOIN pair_counts USING (w1, w2)
    JOIN uni ON uni.w = w1
    CROSS JOIN vocab
    GROUP BY doc_id
    """,
    tags=("text", "pipeline", "quality"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on the corpus itself — the CCNet-style perplexity filter
    (Wenzek et al. 2020): documents whose token transitions are unlikely
    under the corpus model (boilerplate, gibberish, wrong language) score
    high and get filtered or bucketed before pretraining.

    Plan shape: explode once to the per-doc bigram stream; the LM —
    bigram counts, unigram counts, vocab scalar — is aggregated from that
    stream and is vocabulary-bounded, so it BROADCASTS back onto the
    stream (the scoring join carries no corpus-sized shuffle); the only
    doc-keyed exchange is the final per-doc average. At 100 TB the model
    side stays |V|²-bounded exactly like the DSIR importance model
    (sampling.py). Counts are exact; the per-bigram LN rounds only after
    the per-doc average (per-doc sums are ~10² doubles, far inside the
    6-decimal round's absorption)."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    toks = d.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    big = (
        toks.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    pair_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pc"))
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("uc"))
    vocab = (
        big.select(F.col("w1").alias("tok"))
        .union(big.select("w2"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    return (
        big.join(F.broadcast(pair_counts), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        (F.col("pc") + 1).cast("double") / (F.col("uc") + F.col("v"))
                    )
                ),
                6,
            ).alias("cross_entropy"),
        )
    )


@register(
    "text_vocab_growth",
    oracle="""
    WITH firsts AS (
        SELECT tok, MIN(doc_id) AS first_doc
        FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents
        )
        WHERE tok <> ''
        GROUP BY tok
    ),
    per_bucket AS (
        SELECT CAST(FLOOR(first_doc / 10) AS BIGINT) AS bucket,
               COUNT(*) AS new_tokens
        FROM firsts GROUP BY 1
    )
    SELECT bucket, new_tokens,
           CAST(SUM(new_tokens) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
    FROM per_bucket
    """,
    tags=("text", "agg"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: distinct vocabulary size after
    each 100-document slice of the corpus. Every token is attributed to
    its FIRST document, so the running sum of first-occurrences IS the
    exact cumulative distinct count — one token-keyed aggregation + one
    bucket rollup, replacing the naive O(buckets × corpus) per-prefix
    COUNT(DISTINCT) rescan; the final window runs over bucket-count rows
    only (the same first-occurrence reshape as
    events_cumulative_distinct_users). Tokenizer-capacity planning uses
    exactly this curve."""
    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"]
    firsts = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = firsts.groupBy(
        F.floor(F.col("first_doc") / 10).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_tokens"))
    # Global window on purpose: one row per 10-document bucket, not per token.
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).alias("vocab_size"),
    )


@register(
    "text_novelty_score",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, GREATEST(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d
    ),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    scored AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM sh s JOIN firsts f ON s.shingle = f.shingle
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           ROUND(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
    FROM scored WHERE novelty < 0.5
    """,
    tags=("text", "dedup"),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's 3-gram
    shingles whose FIRST corpus occurrence is in that doc — a streaming-
    order redundancy score (low novelty = mostly-recycled content, the
    curation signal behind 'process in crawl order, drop late copies').
    One shingle-keyed aggregation builds the first-occurrence map, one
    equi-join + doc-keyed aggregation scores — no pairwise comparison
    anywhere, so unlike Jaccard/containment this redundancy signal costs
    O(corpus), not O(candidates²). Output filtered to the
    low-novelty (<0.5) tail — the drop candidates."""
    from driftdb_spark.functions.dedup import _shingles

    from pyspark.sql.window import Window as W

    d = load_tables(spark, sf_dir)["documents"]
    # No .distinct(): _shingles is array_distinct per doc, so the exploded
    # (doc_id, shingle) pairs are already unique — the old distinct was a
    # full no-op exchange (guide §2.4). first_doc as a window min over the
    # shingle key instead of a separate aggregate joined back: one shingle
    # exchange replaces agg + join + the duplicated sh subtree (the same
    # window-beats-agg+rejoin A/B dedup_substring_spans documents inline).
    sh = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    first_doc = F.min("doc_id").over(W.partitionBy("shingle"))
    scored = (
        sh.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    novelty = F.col("n_novel").cast("double") / F.col("n_shingles")
    return scored.select(
        "doc_id", "n_shingles", "n_novel", F.round(novelty, 6).alias("novelty")
    ).filter(F.round(novelty, 6) < 0.5)


@register(
    "text_keyword_extraction",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id < 40
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    scored AS (
        SELECT t.doc_id, t.token,
               ROUND(t.tf * LN((CAST(n.n_docs AS DOUBLE) + 1) / (d.df + 1)), 8)
                   AS score
        FROM tf t JOIN df d ON t.token = d.token, n
    ),
    ranked AS (
        SELECT doc_id, token, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token) AS rnk
        FROM scored
    )
    SELECT doc_id, token, ROUND(score, 6) AS score, rnk
    FROM ranked WHERE rnk <= 3
    """,
    tags=("text",),
)
def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by smoothed TF-IDF — the tagging /
    routing primitive (every doc gets its most distinctive terms). One
    token explode feeds term and document frequencies; df is
    vocabulary-bounded and broadcast back; the per-doc ranking is a
    WindowGroupLimit (top-k per group without a global sort). Token
    tie-breaks make rank cuts deterministic cross-engine. Bounded to a
    doc_id<40 slice only to keep the oracle's double window cheap — the
    Spark plan is corpus-shaped (doc-keyed exchange + vocab broadcast)."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 40)
    from pyspark.sql.window import Window as W

    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs").cast("double") + 1) / (F.col("df") + 1)
                ),
                8,
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", F.round("score", 6).alias("score"), "rnk")
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
    ranked AS (
        SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
        FROM freq
    ),
    top AS (SELECT rank, tf FROM ranked WHERE rank <= 500),
    pts AS (
        SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
               CAST(ROUND(LN(CAST(tf AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        FROM top
    ),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM pts
    )
    SELECT n AS n_ranks,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS zipf_exponent,
           ROUND((CAST(sy AS DOUBLE)
                  - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n, 6) AS log_c,
           ROUND(POW(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
               / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM m
    """,
    tags=("text",),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: log-log OLS of term
    frequency against frequency rank over the top 500 terms. The fitted
    exponent (≈ −1 for natural language) is a standard corpus-health
    diagnostic — a synthetic or template-heavy corpus shows a visibly
    flatter or steeper tail, and the r² says how law-like the tail is.

    Numerics: ln(rank)/ln(tf) are rounded to 9 decimals and summed as
    DECIMAL (the agg_corr_exact discipline) so the five OLS moments are
    order-independent; the closed form then runs in a fixed handful of
    double ops both engines evaluate identically.

    Scale: term frequencies are one explode + keyed aggregate; the top
    500 come from a distributed top-k (TakeOrderedAndProject — each
    partition keeps ≤ 500 rows before the single merge), so ranking
    never globally sorts the vocabulary; the OLS runs on a 500-row
    frame."""
    d = load_tables(spark, sf_dir)["documents"]
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = freq.orderBy(F.col("tf").desc(), F.col("token")).limit(500)
    # Global window on purpose: ``top`` is at most 500 rows.
    w = Window.orderBy(F.col("tf").desc(), F.col("token"))
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("tf").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
        F.col("syy").cast("double"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.alias("n_ranks"),
        F.round(slope, 6).alias("zipf_exponent"),
        F.round((sy - slope * sx) / n, 6).alias("log_c"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


from driftdb_spark.registry import QUERIES as _REG  # noqa: E402


@register(
    "text_langid_confusion",
    oracle=None,  # assembled below from the text_lang_id oracle CTE
    tags=("text",),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    language-ID heuristic against the labeled ``lang`` column, with
    per-cell share of the true-label row — the standard
    eval-your-filter step a pipeline runs before trusting a heuristic
    at corpus scale (precision/recall fall straight out of these cells).
    One keyed aggregate over the scored scan; the matrix is
    |langs|²-sized. (The synthetic corpus makes the heuristic mostly
    wrong — the measurement, not the accuracy, is the operator.)"""
    scored = _REG["text_lang_id"].fn(spark, sf_dir)
    cells = scored.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "row_share"
        ),
    )


# the oracle wraps text_lang_id's oracle as a CTE so both engines score
# identically before aggregating
_REG["text_langid_confusion"].oracle = f"""
    WITH scored AS ({_REG["text_lang_id"].oracle})
    SELECT lang, predicted_lang, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS row_share
    FROM scored
    GROUP BY lang, predicted_lang
"""


@register(
    "text_gopher_rules",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             ROUND(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                   / len(ws), 6) AS mean_word_len,
             ROUND(CAST(len(list_filter(ws, x -> regexp_matches(x, '^[a-z]')))
                        AS DOUBLE) / len(ws), 6) AS alpha_frac,
             CAST(len(list_filter(ws,
                  x -> x IN ('the', 'a', 'and', 'of', 'to', 'in')))
                  AS BIGINT) AS stop_hits
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           (n_words BETWEEN 10 AND 100000)
           AND (mean_word_len BETWEEN 2 AND 12)
           AND alpha_frac >= 0.7 AND stop_hits >= 2 AS keep
    FROM m
    """,
    tags=("text", "quality"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style HARD quality rules (pass/fail, not a score — the
    complement to ``text_quality_score``'s soft ranking; the Gopher/
    MassiveText filtering recipe is the public standard for pretraining
    corpora): word-count bounds, mean-word-length bounds, minimum
    alphabetic-word fraction, minimum stop-word presence, and the AND of
    all four as the keep decision. Line-shape rules (bullet/ellipsis
    starts) are omitted honestly — the synthetic corpus is single-line.

    All four signals are integer counts or ROUND'd divisions of integer
    counts over the SAME word split on both engines, so the keep SET is
    value-exact cross-engine. Plan: one narrow map stage (split once,
    array folds for the counts) — no shuffle at all, the ideal 100 TB
    shape for a per-document filter; at corpus scale this fuses into the
    same scan as the other per-doc signals (pipeline_training_corpus)."""
    d = load_tables(spark, sf_dir)["documents"]
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws).cast("bigint")
    sum_len = F.expr(
        "aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, x) -> a + x)"
    )
    alpha_n = F.expr("size(filter(split(text, ' '), x -> x rlike '^[a-z]'))")
    stop_hits = F.expr(
        "size(filter(split(text, ' '), "
        "x -> x IN ('the', 'a', 'and', 'of', 'to', 'in')))"
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(sum_len.cast("double") / n_words, 6).alias("mean_word_len"),
        F.round(alpha_n.cast("double") / n_words, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(10, 100000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("alpha_frac") >= 0.7)
        & (F.col("stop_hits") >= 2)
    )
    return m.select("*", keep.alias("keep"))

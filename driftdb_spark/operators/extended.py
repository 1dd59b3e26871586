"""Extended operator surface: scalar function library, date/time rollups,
sessionization, and SQL-exposed full-text search.

The reference's scalar function library is essentially empty — an
``Expr::Function`` outside aggregates falls through to a warning + NULL
(reference sql_bridge.rs:4746-4753) — but SURVEY §2.2 directs exposing a
curated set since Spark provides them JVM-side for free. Its full-text
engine (fulltext.rs:120-135, TF-IDF :541-551) exists only as a Rust API,
never reachable from SQL; here search is an ordinary query.

Determinism notes: ROUND to integer is exact at .5 (both engines round away
from zero, and .5 is binary-exact); fractional ROUND of data-born doubles is
avoided. Session gaps compare epoch-millis integers, not intervals, so
DuckDB's ns timestamps and Spark's µs agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from driftdb_spark.catalog import load_tables
from driftdb_spark.registry import register


@register(
    "scalar_functions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           c_name || '-' || c_mktsegment AS name_seg,
           LPAD(c_name, 14, '*') AS name_padded,
           REPLACE(c_name, 'Customer', 'Cust') AS name_short,
           TRIM('  pad  ') AS trimmed,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS seg_nb,
           ROUND(c_acctbal) AS bal_round,
           ABS(c_acctbal - 5000.0) AS bal_dist,
           GREATEST(c_acctbal, 0.0) AS bal_floor0,
           LENGTH(c_name) AS name_len
    FROM customer
    WHERE c_custkey <= 300
    """,
    tags=("functions",),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated scalar-function surface: string case/substring/concat/pad/
    replace/trim, COALESCE/NULLIF, ROUND/ABS/GREATEST (SURVEY §2.2 —
    the reference returns NULL for all of these)."""
    c = load_tables(spark, sf_dir)["customer"].filter(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("-"), F.col("c_mktsegment")).alias("name_seg"),
        F.lpad("c_name", 14, "*").alias("name_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("N/A")).alias(
            "seg_nb"
        ),
        F.round("c_acctbal").alias("bal_round"),
        F.abs(F.col("c_acctbal") - 5000.0).alias("bal_dist"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.length("c_name").cast("bigint").alias("name_len"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
           CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey <= 400
    """,
    tags=("functions",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface — the reference stores timestamps as
    opaque strings with no date functions at all (SURVEY §1.2)."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") <= 400)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_add(F.col("o_orderdate").cast("date"), 90).alias("due_date"),
    )


@register(
    "events_daily_rollup",
    oracle="""
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("temporal", "agg"),
)
def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling calendar-window rollup of the event stream — the batch form
    of the streaming windowed aggregation (streaming/ingest.py)."""
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id,
               CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP))
                         - epoch_ms(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800000
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    sess AS (
        SELECT user_id, event_id,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM ordered
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(event_id) AS first_event, MAX(event_id) AS last_event
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("temporal", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session flag →
    running sum → per-session aggregate. The batch equivalent of a session
    window; gaps compare epoch-millis so both engines do integer math."""
    e = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("event_id")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    new_sess = F.when(gap_ms > 1800000, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = e.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "session_id"
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


_SEARCH_TERMS = ("spark", "join", "window")
_TERMS_SQL = "('spark', 'join', 'window')"


@register(
    "fulltext_tfidf_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE token IN {_TERMS_SQL} GROUP BY token
    ),
    tfreq AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok
        WHERE token IN {_TERMS_SQL} GROUP BY doc_id, token
    )
    SELECT t.doc_id,
           ROUND(SUM(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df)), 6) AS score,
           COUNT(*) AS n_terms
    FROM tfreq t JOIN dfreq d ON t.token = d.token, n
    GROUP BY t.doc_id
    HAVING COUNT(*) = {len(_SEARCH_TERMS)}
    ORDER BY score DESC, t.doc_id
    LIMIT 15
    """,
    tags=("text", "fulltext"),
)
def fulltext_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-AND multi-term search ranked by TF-IDF — the reference's
    full-text capability (fulltext.rs TF-IDF :541-551, Boolean queries
    :120-135) exposed as a query. Inverted index = explode + aggregate;
    document frequencies broadcast to the scorer."""
    d = load_tables(spark, sf_dir)["documents"]
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # Filter INSIDE the array, then explode: the IN test runs on every
    # token either way, but Generate now emits only query-term hits
    # (a handful per doc) instead of materializing every token as a row
    # and filtering after (guide §4.1 higher-order functions; plan diff:
    # Generate's input moves from split(text) to filter(split(text))).
    # filter() keeps duplicates (unlike array_intersect), so per-doc term
    # frequencies are unchanged.
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x.isin(*_SEARCH_TERMS))
        ).alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tfreq = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tfreq.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))), 6
            ).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_SEARCH_TERMS))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


@register(
    "fulltext_phrase_search",
    oracle="""
    SELECT doc_id, CAST(strpos(text, 'the fast') AS BIGINT) AS pos
    FROM documents
    WHERE text LIKE '%the fast%'
    """,
    tags=("text", "fulltext"),
)
def fulltext_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search with position (reference PhraseQuery, fulltext.rs)."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.filter(F.col("text").like("%the fast%")).select(
        "doc_id", F.instr(F.col("text"), "the fast").cast("bigint").alias("pos")
    )


@register(
    "fulltext_fuzzy_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_fuzzy,
           MIN(levenshtein(token, 'sprak')) AS best_dist
    FROM tok
    WHERE levenshtein(token, 'sprak') <= 2
    GROUP BY doc_id
    """,
    tags=("text", "fulltext"),
)
def fulltext_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant (fuzzy) search — reference FuzzyQuery (fulltext.rs
    query types :120-135) as edit-distance matching: tokens within
    levenshtein ≤ 2 of the misspelled query term 'sprak'.

    Scale: levenshtein runs JVM-side in codegen over the exploded tokens; a
    100 TB corpus would pre-filter candidates by length band / first-char
    bucket before the distance call, which composes as one extra filter here.
    """
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dist = F.levenshtein(F.col("token"), F.lit("sprak"))
    return (
        tok.withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fuzzy"), F.min("dist").alias("best_dist"))
    )


@register(
    "fulltext_proximity_search",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    )
    SELECT a.doc_id,
           COUNT(*) AS n_pairs,
           MIN(ABS(a.pos - b.pos)) AS min_gap
    FROM tok a JOIN tok b
      ON a.doc_id = b.doc_id AND ABS(a.pos - b.pos) <= 3
    WHERE a.token = 'fast' AND b.token = 'query'
    GROUP BY a.doc_id
    """,
    tags=("text", "fulltext"),
)
def fulltext_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search — reference ProximityQuery: 'fast' within 3 tokens
    of 'query'. Positions via ``posexplode``; the self-join keys on doc_id
    so it stays a co-partitioned equi-join with the band predicate applied
    post-match (each side is pre-filtered to one term, so the join inputs
    are tiny relative to the corpus — the 100 TB-safe shape)."""
    d = load_tables(spark, sf_dir)["documents"]

    # r13 (guide §4.1): per-term positions via an INDEXED transform +
    # filter inside the array, so each side's Generate emits only that
    # term's occurrences — the old posexplode materialized every token of
    # every document as a row, twice (once per join side). Positions stay
    # 0-based exactly like posexplode; only differences are compared.
    def _positions(term: str):
        return F.expr(
            "filter(transform(split(text, ' '), (t, i) -> "
            f"IF(t = '{term}', i, -1)), p -> p >= 0)"
        )

    a = d.select("doc_id", F.explode(_positions("fast")).alias("pa"))
    b = d.select("doc_id", F.explode(_positions("query")).alias("pb"))
    return (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= 3)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).alias("min_gap"),
        )
    )


_BOOL_MUST = ("fast", "join")
_BOOL_SHOULD = ("spark", "window")
_BOOL_NOT = "slow"
_BOOL_SCORED = _BOOL_MUST + _BOOL_SHOULD
_BOOL_SCORED_SQL = "('fast', 'join', 'spark', 'window')"
_BOOL_MUST_SQL = "('fast', 'join')"


@register(
    "fulltext_boolean_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    hits AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok
        WHERE token IN {_BOOL_SCORED_SQL} GROUP BY doc_id, token
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE token IN {_BOOL_SCORED_SQL} GROUP BY token
    ),
    scored AS (
        SELECT h.doc_id,
               COUNT(DISTINCT CASE WHEN h.token IN {_BOOL_MUST_SQL}
                                   THEN h.token END) AS n_must,
               ROUND(SUM(h.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df)), 6) AS score
        FROM hits h JOIN dfreq d ON h.token = d.token, n
        GROUP BY h.doc_id
    )
    SELECT s.doc_id, s.score
    FROM scored s
    WHERE s.n_must = {len(_BOOL_MUST)}
      AND NOT EXISTS (
          SELECT 1 FROM tok t WHERE t.doc_id = s.doc_id AND t.token = '{_BOOL_NOT}'
      )
    ORDER BY s.score DESC, s.doc_id
    LIMIT 20
    """,
    tags=("text", "fulltext"),
)
def fulltext_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND/OR/NOT search ranked by TF-IDF — the reference's
    BooleanQuery (fulltext.rs:120-141: must / should / must_not term sets)
    completing its query-type surface here: MUST terms all required (AND),
    SHOULD terms optional but score-contributing (OR), the NOT term
    excludes the document outright.

    Plan shape: one token explode feeds three tiny aggregates (per-doc term
    hits, per-term document frequencies, NOT-term doc set); dfreq is
    broadcast into the scorer and the exclusion is a left-anti join on
    doc_id — no cartesian, one doc-keyed exchange, the same inverted-index
    discipline as the other four full-text operators."""
    d = load_tables(spark, sf_dir)["documents"]
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # r13 (guide §4.1): the scored-token explode filters INSIDE the array
    # so Generate emits only query-term hits, and the NOT-term exclusion
    # is a row-local array_contains — the old form exploded the full
    # corpus three subtree-copies deep (hits, dfreq, excluded) and paid a
    # distinct exchange just to collapse the exclusion's duplicates.
    scored_tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda t: t.isin(*_BOOL_SCORED))
        ).alias("token"),
    )
    hits = scored_tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = scored_tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    excluded = d.filter(
        F.array_contains(F.split("text", " "), _BOOL_NOT)
    ).select("doc_id")
    scored = (
        hits.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.countDistinct(
                F.when(F.col("token").isin(*_BOOL_MUST), F.col("token"))
            ).alias("n_must"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.filter(F.col("n_must") == len(_BOOL_MUST))
        .join(excluded, "doc_id", "left_anti")
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@register(
    "json_functions",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                      THEN 1 END) AS n_high
    FROM events
    GROUP BY event_type
    """,
    tags=("functions", "json"),
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON document columns (the reference's entire row model is JSON —
    SURVEY §1.2; here JSON appears where it belongs, as a payload column
    with path extraction). ``get_json_object`` runs JVM-side; integer sums
    stay exact so no decimal routing is needed."""
    e = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
    )


@register(
    "array_functions",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS n_long,
           array_to_string(list_sort(string_split(text, ' '))[1:3], ',') AS first3,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                                              x -> length(x)), 'sum')
                AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("functions", "array"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array columns + higher-order functions (transform/filter/aggregate)
    — all JVM-side lambda expressions, no UDFs (SURVEY §2.2's curated
    function-library extension)."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split("text", " ")
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long").alias("n_long"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), ",").alias("first3"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


@register(
    "events_hopping_window",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM (
        SELECT unnest([tb, tb - INTERVAL 30 MINUTE]) AS ws, event_type, value
        FROM (
            SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS tb,
                   event_type, value
            FROM events
        )
    )
    GROUP BY 1, 2
    """,
    tags=("temporal", "agg", "streaming"),
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-hour windows every 30 minutes, so each
    event lands in exactly two overlapping windows. ``F.window`` with a
    slide is the native form — the same expression runs unchanged on a
    watermarked stream (streaming/ingest.py uses the tumbling variant).
    The oracle expands the two covering window-starts per event by hand;
    both engines' buckets are epoch-aligned at :00/:30."""
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, CAST(value AS DOUBLE) AS value
    FROM (
        UNPIVOT (
            SELECT l_orderkey, l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                   CAST(l_discount AS DOUBLE) AS l_discount,
                   CAST(l_tax AS DOUBLE) AS l_tax
            FROM lineitem WHERE l_orderkey < 200
        ) ON l_quantity, l_extendedprice, l_discount, l_tax
        INTO NAME measure VALUE value
    )
    """,
    tags=("agg",),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide measures to long (name, value) pairs, the inverse
    of ``agg_pivot``. ``DataFrame.unpivot`` compiles to a single Expand
    node: row-local fan-out, no shuffle, no UDF."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.where(F.col("l_orderkey") < 200)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
            F.col("l_tax").cast("double"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "value",
        )
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.v_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    tags=("temporal", "agg"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user, each stage counts
    only if it happens strictly AFTER the previous stage's first
    occurrence. Three stage-aggregates chained by per-user min-timestamps;
    each stage input shrinks, and all three aggregate on the same user_id
    key so AQE reuses the partitioning. The strict ordering is what a
    bare COUNT(DISTINCT ...) per event type gets wrong."""
    e = load_tables(spark, sf_dir)["events"]

    def first_after(event_type: str, prev, prev_ts_col: str, out: str):
        base = e.where(F.col("event_type") == event_type)
        if prev is not None:
            base = base.join(prev, "user_id").where(F.col("ts") > F.col(prev_ts_col))
        return base.groupBy("user_id").agg(F.min("ts").alias(out))

    v = first_after("view", None, "", "v_ts")
    c = first_after("click", v, "v_ts", "c_ts")
    p = first_after("purchase", c, "c_ts", "p_ts")
    # Single declarative plan: three scalar aggregates cross-joined (each is
    # one row, so the joins are broadcast-trivial). No driver-side .count().
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS activity_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.activity_week) // 7 AS INTEGER)
             AS weeks_since,
           COUNT(*) AS n_active_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("temporal", "agg"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their first
    event, counted as active in each later week (the triangle matrix every
    product-analytics stack computes). Both the first-seen aggregate and
    the distinct-activity set hash on user_id, so the cohort join reuses
    one partitioning with no extra exchange; only the final (cohort, week)
    rollup — already reduced to |users|·|weeks| rows — reshuffles. Week
    offsets are exact day-arithmetic on week-truncated timestamps (Monday
    start on both engines), never float date math."""
    e = load_tables(spark, sf_dir)["events"]
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "regex_functions",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+) ([a-z]+)', 1) AS adj,
           regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CASE WHEN regexp_matches(p_name, '^(red|blue) ')
                THEN 1 ELSE 0 END AS is_red_or_blue
    FROM part
    WHERE p_partkey <= 500
    """,
    tags=("functions",),
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: capture-group extraction, global replace, anchored
    match (the reference has no regex functions at all — any Expr::Function
    degrades to NULL, sql_bridge.rs:4746-4753). Dialect note that the
    oracle encodes: DuckDB's regexp_replace replaces only the FIRST match
    unless given the 'g' flag, while Spark's always replaces globally —
    patterns here stay in the RE2 ∩ java.util.regex common subset."""
    p = load_tables(spark, sf_dir)["part"].filter(F.col("p_partkey") <= 500)
    pat = "([a-z]+) ([a-z]+)"
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", pat, 1).alias("adj"),
        F.regexp_extract("p_name", pat, 2).alias("noun"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_name").rlike("^(red|blue) "), 1)
        .otherwise(0)
        .alias("is_red_or_blue"),
    )


@register(
    "window_range_interval",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1995-01-01',
                                  CAST(o_orderdate AS DATE))
               RANGE BETWEEN 89 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_90d_spend
    FROM orders
    """,
    tags=("window",),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: each order's trailing-90-day customer
    spend. Unlike the ROWS frames in window_agg_frames, a RANGE frame is
    value-based — same-day orders are frame peers and always aggregate
    together, which is what makes the result deterministic without a
    unique tie-breaker. Day numbers are exact integers on both engines
    (no interval arithmetic in the frame spec); the sum routes through
    DECIMAL(12,2). One shuffle on o_custkey, sort within partitions."""
    o = load_tables(spark, sf_dir)["orders"]
    dayn = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1995-01-01"))
    )
    w = W.partitionBy("o_custkey").orderBy(dayn).rangeBetween(-89, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_90d_spend"),
    )


@register(
    "data_quality_audit",
    oracle="""
    WITH li AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_qty,
               COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END)
                 AS qty_out_of_range,
               COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 END)
                 AS discount_out_of_range,
               COUNT(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01 00:00:00'
                          THEN 1 END) AS shipdate_before_epoch
        FROM lineitem
    ),
    orphans AS (
        SELECT COUNT(*) AS orphan_lines
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
    ),
    dup_pk AS (
        SELECT COUNT(*) AS dup_order_pks FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
        )
    )
    SELECT li.*, orphans.orphan_lines, dup_pk.dup_order_pks
    FROM li, orphans, dup_pk
    """,
    tags=("agg", "pipeline"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality gate: the expectations a pipeline checks before
    ingesting a batch — null counts, domain-range violations, sentinel
    dates, referential orphans (lineitem→orders anti-join), duplicate
    primary keys. All the column expectations fold into ONE scan of the
    fact (conditional counts in a single aggregate); the FK orphan check is
    the only join and the PK-duplicate check reuses the orders scan. The
    same shape backs `DriftSession.insert_checked`'s FK RESTRICT enforcement
    (sql_frontend.py) — this is the batch-audit form that reports instead
    of rejecting."""
    t = load_tables(spark, sf_dir)
    li, o = t["lineitem"], t["orders"]
    cnt_if = lambda c: F.count(F.when(c, 1))  # noqa: E731
    col_checks = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt_if(F.col("l_quantity").isNull()).alias("null_qty"),
        cnt_if((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "qty_out_of_range"
        ),
        cnt_if((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).alias(
            "discount_out_of_range"
        ),
        cnt_if(F.col("l_shipdate") < "1990-01-01").alias("shipdate_before_epoch"),
    )
    orphans = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "anti")
        .agg(F.count(F.lit(1)).alias("orphan_lines"))
    )
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_order_pks"))
    )
    return col_checks.crossJoin(orphans).crossJoin(dup_pk)


@register(
    "events_gapfill_locf",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
        FROM events WHERE user_id < 50
        GROUP BY 1, 2
    ),
    calendar AS (
        SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
    grid AS (SELECT u.user_id, c.day FROM users u CROSS JOIN calendar c)
    SELECT g.user_id, g.day,
           COALESCE(d.n, 0) AS n_events,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_value
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
    tags=("temporal", "window"),
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward: every
    (user, active day) cell exists even when the user was silent — silent
    days get n_events = 0 and the previous observed daily value carried
    forward (NULL before the first observation). The calendar is derived
    from the data (every day with ANY activity — a trading-calendar fill,
    which also sidesteps engines' non-constant series generators), the
    user×calendar grid is a broadcast cross join (|users|·|days| rows —
    tiny next to the fact), and LOCF is one IGNORE NULLS window per user.
    The hypertable/timescale staple the reference's temporal model never
    reaches (its time axis is the event sequence, not civil time)."""
    e = load_tables(spark, sf_dir)["events"]
    day = F.date_trunc("day", "ts").cast("date").alias("day")
    daily = (
        e.filter(F.col("user_id") < 50)
        .groupBy("user_id", day)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("day_value"),
        )
    )
    calendar = e.select(day).distinct()
    users = e.filter(F.col("user_id") < 50).select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(calendar))
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


@register(
    "agg_histogram_bins",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 60000.0 THEN 13
                ELSE CAST(FLOOR(o_totalprice / 5000.0) AS INTEGER) + 1 END AS bucket,
           COUNT(*) AS n,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi
    FROM orders
    GROUP BY bucket
    """,
    tags=("agg",),
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the binning primitive behind
    every distribution profile (quality dashboards, drift monitors).
    Bucket assignment is pure row-local arithmetic on identical doubles
    (12 buckets of width 5000 over [0, 60000), underflow 0 / overflow 13 —
    width_bucket semantics spelled out, since DuckDB lacks the function),
    so the whole histogram is one map + one aggregate shuffle of ≤14
    rows."""
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.select(
            F.when(F.col("o_totalprice") < 0, 0)
            .when(F.col("o_totalprice") >= 60000.0, 13)
            .otherwise(F.floor(F.col("o_totalprice") / 5000.0).cast("int") + 1)
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("lo"),
            F.max(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("hi"),
        )
    )


@register(
    "agg_corr_exact",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
               SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS corr_qty_price
    FROM m
    """,
    tags=("agg",),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with EXACT moments: the five sums (Σx, Σy, Σx²,
    Σy², Σxy) accumulate as decimals — order-independent, unlike the
    built-in corr()'s streaming float covariance, which drifts with
    partitioning — and the closed form evaluates in a fixed handful of
    double ops, rounded to absorb the final sqrt/divide ulp. Same one-
    shuffle partial-aggregate shape as any groupBy; this is how any moment
    statistic (variance, skew, regression slopes) stays reproducible at
    100 TB."""
    li = load_tables(spark, sf_dir)["lineitem"]
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select("l_returnflag", F.round(corr, 9).alias("corr_qty_price"))


@register(
    "events_rolling_zscore",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, ts,
             CAST(value AS DECIMAL(12,4)) AS x,
             COUNT(*) OVER fr AS n,
             SUM(CAST(value AS DECIMAL(12,4))) OVER fr AS sx,
             SUM(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4)))
               OVER fr AS sxx
      FROM events
      WINDOW fr AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           CAST(x AS DOUBLE) AS value,
           ROUND((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1))), 6) AS zscore
    FROM w
    WHERE n >= 10
      AND (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      AND ABS((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n)
              / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (n - 1)))) >= 2.5
    """,
    tags=("events", "window"),
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection on the event stream: each event's
    value is scored against the PRECEDING 20 events of its type (rolling
    mean/std, trailing frame only — no lookahead leak), and events beyond
    |z| >= 2.5 surface as anomalies. The moments accumulate as exact
    decimals inside the window frame (the ``agg_corr_exact`` discipline:
    order-independent sums, a fixed handful of double ops at the end,
    ROUND to absorb sqrt/divide ulp), so the anomaly SET is value-exact
    cross-engine — which a built-in streaming stddev over doubles cannot
    promise.

    Design for scale — CHUNKED trailing window. A window partitioned on
    ``event_type`` alone serializes: with K types, parallelism is K
    regardless of cluster size (measured: the op was the decade's worst
    scaler at 2.89× time per 100× rows before chunking). Because the
    frame is a bounded 20 rows, the window decomposes exactly:

    * rows are bucketed by day; the trailing frame of any row with ≥20
      same-type predecessors *inside its bucket* ("interior" rows, the
      overwhelming majority) is computed entirely within the
      (type, day) partition — parallelism becomes types × days;
    * the ≤20 bucket-head rows are re-scored over a per-type window on
      a tiny SUBSET: bucket heads (asc row_number ≤ 20) plus bucket
      tails (last 20 of each bucket). Any row outside the subset has
      >20 same-bucket rows after it, so it cannot fall within 20
      preceding of any later bucket's head — the subset provably
      contains every true predecessor, even across runs of near-empty
      buckets, making subset frames identical to global frames.

    Both passes shuffle on keys that are prefixes of the same layout,
    and the pass-B input is ~40 rows per (type, day) — at 100 TB the
    bucket granule just narrows (hour instead of day); the same
    head/tail argument applies unchanged."""
    ev = load_tables(spark, sf_dir)["events"]
    x = F.col("value").cast("decimal(12,4)")
    base = ev.select(
        "event_id", "event_type", "ts", x.alias("x"), F.to_date("ts").alias("day")
    )
    wday = W.partitionBy("event_type", "day").orderBy("ts", "event_id")
    frday = wday.rowsBetween(-20, -1)
    xx = F.col("x") * F.col("x")
    a = base.select(
        "*",
        F.count(F.lit(1)).over(frday).alias("n"),
        F.sum("x").over(frday).alias("sx"),
        F.sum(xx).over(frday).alias("sxx"),
        F.row_number().over(wday).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type", "day")).alias("bn"),
    )
    interior = a.filter(F.col("rn") > 20).select(
        "event_id", "event_type", "x", "n", "sx", "sxx"
    )
    subset = a.filter((F.col("rn") <= 20) | (F.col("bn") - F.col("rn") < 20))
    frg = W.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-20, -1)
    heads = (
        subset.select(
            "event_id",
            "event_type",
            "x",
            "rn",
            F.count(F.lit(1)).over(frg).alias("n"),
            F.sum("x").over(frg).alias("sx"),
            F.sum(xx).over(frg).alias("sxx"),
        )
        .filter(F.col("rn") <= 20)  # tail-only rows were frame feeders
        .drop("rn")
    )
    scored = interior.unionByName(heads)
    n = F.col("n")
    xd, sx, sxx = (
        F.col("x").cast("double"),
        F.col("sx").cast("double"),
        F.col("sxx").cast("double"),
    )
    var_num = n * sxx - sx * sx
    z = (xd - sx / n) / F.sqrt(var_num / (n.cast("double") * (n - 1)))
    return (
        scored.filter((n >= 10) & (var_num > 0) & (F.abs(z) >= 2.5))
        .select(
            "event_id",
            "event_type",
            xd.alias("value"),
            F.round(z, 6).alias("zscore"),
        )
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    """,
    tags=("events", "window"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered (previous event, next event) pair, the count and the
    conditional probability P(next | previous). The per-user ordering is
    one user-keyed window (LAG), transitions aggregate with map-side
    partials, and the row-normalization is a tiny window over the K×K
    matrix itself — at 100 TB the only data-sized exchange is the user
    key, which sessionize/funnel/retention already share, so this composes
    into their existing partitioning. Probabilities are divisions of
    exact counts (IEEE-deterministic), rounded for the ulp."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "events_top_paths",
    oracle="""
    WITH paths AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
    tags=("events",),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path mining: the 20 most common full event-type journeys per
    user-day (the sequence-mining counterpart of the funnel, which fixes
    the steps in advance). Path assembly is the sort_array(collect_list
    (struct(...))) recipe — per-group ordered concatenation with NO
    global sort, the same fold discipline as event reconstruction — so
    one user-keyed exchange plus a path-keyed count, then
    TakeOrderedAndProject for the top-k with lexicographic tie-breaks."""
    ev = load_tables(spark, sf_dir)["events"]
    paths = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(ts, event_id, "
                "event_type))), e -> e.event_type), '>')"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "agg_mode_exact",
    oracle="""
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS mode_quantity,
           cnt AS mode_count
    FROM (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group (most frequent value, lexicographic
    tie-break) — the two-level aggregate recipe: count (group, value)
    pairs, then rank within group. Spark's built-in ``mode()`` breaks
    ties arbitrarily, so the explicit rank is what makes the answer
    deterministic and cross-engine exact. Two exchanges, the second over
    the already-aggregated (group, value) table — tiny at any scale."""
    li = load_tables(spark, sf_dir)["lineitem"]
    from pyspark.sql.window import Window as W

    counted = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), "l_quantity")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("bigint").alias("mode_quantity"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "events_cumulative_distinct_users",
    oracle="""
    WITH fd AS (
        SELECT user_id,
               strftime(MIN(date_trunc('day', CAST(ts AS TIMESTAMP))), '%Y-%m-%d') AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (SELECT first_day AS day, COUNT(*) AS new_users FROM fd GROUP BY first_day)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily
    """,
    tags=("temporal", "agg"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user curve (growth analytics): each user is
    attributed to their FIRST active day, so the running sum of new users
    IS the exact cumulative distinct count — one user-keyed aggregation +
    one day-keyed aggregation, never a per-day rescan of history. At
    100 TB this replaces the naive O(days × users) cumulative
    COUNT(DISTINCT) with two shuffles, and the final window runs over
    day-count rows only (reference has no analytics beyond full scans;
    SURVEY §2.10 event analytics family)."""
    e = load_tables(spark, sf_dir)["events"]
    first_day = e.groupBy("user_id").agg(
        F.date_format(F.min(F.date_trunc("day", F.col("ts"))), "yyyy-MM-dd").alias(
            "day"
        )
    )
    daily = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    # Global window on purpose: one row per calendar day, not per event.
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@register(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(MAX(d.med), 6) AS median_value,
           ROUND(MAX(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
    tags=("temporal", "agg"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via MAD (median absolute
    deviation): med and MAD are each one grouped percentile; the deviation
    join keys on event_type, so both medians and the final count are
    type-keyed aggregations — no global sort, and the med/mad tables are
    type-cardinality-sized (broadcast). The 1.4826 factor scales MAD to
    σ-equivalence under normality, the standard robust-z gate that mean/
    stddev z-scores (events_rolling_zscore) lack under heavy tails."""
    e = load_tables(spark, sf_dir)["events"]
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )


@register(
    "fulltext_bm25_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ),
    dfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE token IN {_TERMS_SQL} GROUP BY token
    ),
    tfreq AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok
        WHERE token IN {_TERMS_SQL} GROUP BY doc_id, token
    ),
    scored AS (
        SELECT t.doc_id,
               ROUND(
                 LN((CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1)
                 * (t.tf * 2.2)
                 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)),
                 8) AS term_score
        FROM tfreq t
        JOIN dfreq d ON t.token = d.token
        JOIN dl l ON l.doc_id = t.doc_id, stats s
    )
    SELECT doc_id, ROUND(SUM(term_score), 6) AS score, COUNT(*) AS n_terms
    FROM scored GROUP BY doc_id
    HAVING COUNT(*) = {len(_SEARCH_TERMS)}
    ORDER BY score DESC, doc_id
    LIMIT 15
    """,
    tags=("text", "fulltext"),
)
def fulltext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking (k1=1.2, b=0.75) — the saturating,
    length-normalized upgrade of fulltext_tfidf_search's raw TF-IDF
    (reference fulltext.rs stops at TF-IDF). Same inverted-index shape:
    one token explode feeds document lengths, document frequencies, and
    term frequencies; df and the (N, avgdl) scalars broadcast onto the
    scorer, so the only corpus-sized exchange is the (doc, term) group.
    Per-term scores round 8dp before the cross-engine sum."""
    k1, b = 1.2, 0.75
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    hits = tok.filter(F.col("token").isin(*_SEARCH_TERMS))
    dfreq = hits.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tfreq = hits.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1
    )
    norm = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = F.round(idf * (F.col("tf") * (k1 + 1)) / norm, 8)
    return (
        tfreq.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_SEARCH_TERMS))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_ms(CAST(ts AS TIMESTAMP))
               - LAG(epoch_ms(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id, event_type
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_ms
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_gaps,
           ROUND(quantile_cont(gap_ms, 0.5), 3) AS p50_ms,
           ROUND(quantile_cont(gap_ms, 0.9), 3) AS p90_ms,
           MAX(gap_ms) AS max_ms
    FROM gaps WHERE gap_ms IS NOT NULL
    GROUP BY event_type
    """,
    tags=("temporal", "agg"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival (dwell-time) distribution: LAG over a
    (user, type)-keyed window feeds grouped percentiles — the latency
    profile behind retention and rate-limit tuning. One exchange keyed
    on (user_id, event_type) for the window (the sessionize/funnel
    partitioning family), one type-keyed aggregate over the gaps;
    event_id tie-breaks make same-timestamp ordering deterministic
    cross-engine."""
    e = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_millis("ts")
            - F.lag(F.unix_millis("ts")).over(w)
        ).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_ms, 0.5)"), 3).alias("p50_ms"),
        F.round(F.expr("percentile(gap_ms, 0.9)"), 3).alias("p90_ms"),
        F.max("gap_ms").alias("max_ms"),
    )


@register(
    "events_concurrency_sweep",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS t, 1 AS delta, event_id
        FROM events
        UNION ALL
        SELECT event_type,
               strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
               epoch_ms(CAST(ts AS TIMESTAMP)) + 300000 AS t, -1 AS delta, event_id
        FROM events
    ),
    run AS (
        SELECT event_type, day,
               SUM(delta) OVER (PARTITION BY event_type, day
                                ORDER BY t, delta, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS live
        FROM pts
    )
    SELECT event_type, day, CAST(MAX(live) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY event_type, day
    """,
    tags=("temporal", "window"),
)
def events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep-line reshape: each event becomes a
    +1 point at its start and a −1 at start+5min; the running sum over
    the ordered points IS the live-interval count, and its max per
    (type, day) is the peak — O(n log n) inside each partition vs the
    O(n²) self-join counting overlaps pairwise. The sweep window
    partitions on (event_type, day), so no global ordering exists
    anywhere in the plan (a single unbounded ORDER BY would serialize at
    100 TB; day-bounded partitions cap window size and skew). Delta
    before event_id in the sort puts −1 ends before +1 starts at ties —
    half-open interval semantics, deterministic cross-engine."""
    e = load_tables(spark, sf_dir)["events"]
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    start = e.select(
        "event_type",
        day.alias("day"),
        F.unix_millis("ts").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    end = e.select(
        "event_type",
        day.alias("day"),
        (F.unix_millis("ts") + 300000).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    pts = start.unionByName(end)
    w = (
        W.partitionBy("event_type", "day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    run = pts.select(
        "event_type", "day", F.sum("delta").over(w).alias("live")
    )
    return run.groupBy("event_type", "day").agg(
        F.max("live").alias("peak_concurrency")
    )


@register(
    "events_funnel_windowed",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND CAST(e.ts AS TIMESTAMP) > v.v_ts
          AND CAST(e.ts AS TIMESTAMP) <= v.v_ts + INTERVAL 6 HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) > c.c_ts
          AND CAST(e.ts AS TIMESTAMP) <= c.c_ts + INTERVAL 6 HOUR
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_converted_click,
           (SELECT COUNT(*) FROM p) AS n_converted_purchase
    """,
    tags=("temporal", "agg"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with a conversion DEADLINE: each stage counts only within
    6 hours of the previous stage's first occurrence — the form product
    analytics actually ships (an unbounded funnel credits conversions
    months late). Same chained per-user min-aggregate shape as
    events_funnel; the deadline is one extra band predicate on the
    already-joined rows, so the plan cost is unchanged — stage inputs
    shrink monotonically and every aggregate reuses the user_id
    partitioning."""
    e = load_tables(spark, sf_dir)["events"]
    win = F.expr("INTERVAL 6 HOUR")

    def first_within(event_type: str, prev, prev_ts: str, out: str):
        base = e.where(F.col("event_type") == event_type)
        if prev is not None:
            base = base.join(prev, "user_id").where(
                (F.col("ts") > F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + win)
            )
        return base.groupBy("user_id").agg(F.min("ts").alias(out))

    v = first_within("view", None, "", "v_ts")
    c = first_within("click", v, "v_ts", "c_ts")
    p = first_within("purchase", c, "c_ts", "p_ts")
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_converted_click")))
        .crossJoin(p.agg(F.count("*").alias("n_converted_purchase")))
    )


@register(
    "events_burst_windows",
    oracle="""
    WITH buckets AS (
        SELECT event_type,
               CAST(FLOOR(epoch_ms(CAST(ts AS TIMESTAMP)) / 3600000) AS BIGINT)
                   AS hour_bucket,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    trail AS (
        SELECT event_type, hour_bucket, n,
               AVG(CAST(n AS DOUBLE)) OVER (
                   PARTITION BY event_type ORDER BY hour_bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_avg,
               COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY hour_bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_n
        FROM buckets
    )
    SELECT event_type, hour_bucket, n,
           ROUND(trail_avg, 6) AS trail_avg,
           ROUND(n / trail_avg, 6) AS burst_ratio
    FROM trail
    WHERE trail_n >= 12 AND n > 2.0 * trail_avg
    """,
    tags=("temporal", "window"),
)
def events_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hour buckets whose event count exceeds 2× the
    trailing-24h average (warm-up gated at ≥12 prior buckets) — the
    rate-anomaly alarm every ingest pipeline runs. The corpus collapses
    to (type, hour) counts FIRST, so the trailing window runs over
    bucket-count rows per type (thousands), never raw events — window
    state is O(24) regardless of event volume; one type-keyed exchange
    for the rollup, one for the window, both on the same key so AQE
    reuses the partitioning. Threshold-crossed rows only (the alarm
    set)."""
    e = load_tables(spark, sf_dir)["events"]
    buckets = e.groupBy(
        "event_type",
        F.floor(F.unix_millis("ts") / 3600000).cast("long").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("hour_bucket").rowsBetween(-24, -1)
    trailing = buckets.select(
        "event_type",
        "hour_bucket",
        "n",
        F.avg(F.col("n").cast("double")).over(w).alias("trail_avg"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )
    return (
        trailing.filter(
            (F.col("trail_n") >= 12) & (F.col("n") > 2.0 * F.col("trail_avg"))
        )
        .select(
            "event_type",
            "hour_bucket",
            "n",
            F.round("trail_avg", 6).alias("trail_avg"),
            F.round(F.col("n") / F.col("trail_avg"), 6).alias("burst_ratio"),
        )
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    cover AS (
        SELECT DISTINCT user_id, day + CAST(g.i AS INTEGER) AS wday
        FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g
    ),
    wau AS (SELECT wday AS day, COUNT(*) AS wau FROM cover GROUP BY wday)
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
    tags=("temporal", "agg"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product teams
    watch. Trailing-7-day distinct users is the trap: computed naively
    it rescans a week of history per day (O(days × corpus)). The
    scalable reshape inverts it: each (user, active-day) row COVERS the
    7 window-end days it contributes to — a bounded 7× fan-out on the
    deduplicated user-day set (already ≪ events), then one distinct +
    count per day. Every exchange keys on (user, day) or day; no window
    rescans history."""
    from pyspark.sql.window import Window as W

    e = load_tables(spark, sf_dir)["events"]
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # r13 (guide §2.3): interval-union coverage instead of explode ×7 +
    # DISTINCT. Each active day covers [day, day+6]; per user the active
    # days are sorted and the cover ends are monotone, so emitting
    # [greatest(day, prev+7), day+6] yields every covered (user, wday)
    # EXACTLY once — no 7× fan-out exchange, no distinct to collapse it;
    # the per-user window replaces both. wau per day is then a plain
    # count, identical to the old distinct-user count.
    w = W.partitionBy("user_id").orderBy("day")
    start = F.greatest(
        F.col("day"), F.coalesce(F.date_add(F.lag("day").over(w), 7), F.col("day"))
    )
    cover = ud.withColumn("start", start).select(
        "user_id",
        F.explode(F.sequence(F.col("start"), F.date_add("day", 6))).alias("day"),
    )
    wau = cover.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "events_seasonal_anomaly",
    oracle="""
    WITH cell AS (
      SELECT event_type,
             CAST(ISODOW(ts) - 1 AS BIGINT) AS dow,
             CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(12,4))) AS sx,
             SUM(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4))) AS sxx
      FROM events
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT e.event_id, e.event_type, c.dow, c.hr,
             CAST(e.value AS DOUBLE) AS value,
             CAST(c.sx AS DOUBLE) / c.n AS mean,
             sqrt((CAST(c.sxx AS DOUBLE) - CAST(c.sx AS DOUBLE) * CAST(c.sx AS DOUBLE) / c.n) / c.n) AS std,
             c.n AS cell_n
      FROM events e
      JOIN cell c
        ON c.event_type = e.event_type
       AND c.dow = CAST(ISODOW(e.ts) - 1 AS BIGINT)
       AND c.hr = CAST(EXTRACT(HOUR FROM e.ts) AS BIGINT)
    )
    SELECT event_id, event_type, dow, hr,
           ROUND(value, 4) AS value,
           ROUND((value - mean) / std, 6) AS zscore
    FROM scored
    WHERE cell_n >= 20 AND std > 0 AND ABS(value - mean) > 3 * std
    """,
    tags=("temporal", "agg"),
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: a (type, day-of-week, hour)
    baseline instead of `events_rolling_zscore`'s trailing window, so a
    Friday-evening spike is judged against Friday evenings, not the last
    N events. Baselines use the exact-decimal moment discipline
    (agg_corr_exact): Σx/Σx² accumulate as DECIMAL so the baseline is
    partitioning-independent, then a handful of double ops per cell.

    Scale: ONE keyed aggregate over the stream builds ≤ |types|·168
    baseline cells; the scoring join broadcasts them back over the fact
    scan (no second shuffle of the big side). Cells below n=20 are
    excluded — a baseline of a handful of points flags noise."""
    e = load_tables(spark, sf_dir)["events"]
    x = F.col("value").cast("decimal(12,4)")
    dow = F.expr("extract(DAYOFWEEK_ISO FROM ts)") - F.lit(1)
    hr = F.hour("ts").cast("bigint")
    keyed = e.select(
        "event_id",
        "event_type",
        dow.cast("bigint").alias("dow"),
        hr.alias("hr"),
        F.col("value").cast("double").alias("value"),
        x.alias("xv"),
    )
    cell = keyed.groupBy("event_type", "dow", "hr").agg(
        F.count(F.lit(1)).alias("cell_n"),
        F.sum("xv").alias("sx"),
        F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
    )
    n = F.col("cell_n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    base = cell.select(
        "event_type",
        "dow",
        "hr",
        "cell_n",
        (sx / n).alias("mean"),
        F.sqrt((sxx - sx * sx / n) / n).alias("std"),
    )
    scored = keyed.join(F.broadcast(base), ["event_type", "dow", "hr"])
    return scored.where(
        (F.col("cell_n") >= 20)
        & (F.col("std") > 0)
        & (F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"))
    ).select(
        "event_id",
        "event_type",
        "dow",
        "hr",
        F.round("value", 4).alias("value"),
        F.round((F.col("value") - F.col("mean")) / F.col("std"), 6).alias("zscore"),
    )

"""The SQL-text lexer and the statement classifier (driftdb_spark.sqltext),
and the consumers built on them — no Spark session needed.

Every consumer that decides something from a statement's text must agree:
the wire server's write-lock gate (``_is_readonly_sql``), RBAC
(``statement_permissions``), the read-only replica gate
(``DriftSession._writes``) and EXPLAIN's query/DML guard (``Head.query``).
"""

from __future__ import annotations

import pytest

from driftdb_spark.rbac import statement_permissions
from driftdb_spark.server import _is_readonly_sql
from driftdb_spark.sql_frontend import DriftSession
from driftdb_spark.sqltext import (
    bind_params,
    classify,
    extract_clause,
    number_params,
    search_code,
    split_top_level,
    strip_leading_ctes,
)
from driftdb_spark.temporal import parse_system_time

READS = [
    "SELECT 1",
    "/* c */ SELECT 1",
    "-- lead\nSELECT 1",
    "/* outer /* nested */ still outer */ SELECT 1",
    "WITH c AS (SELECT 1 AS x) SELECT * FROM c",
    "-- c\nWITH c AS (SELECT 'INSERT (' AS s FROM t) SELECT * FROM c",
    "WITH c AS (SELECT `a,b`, `x``)` FROM t) SELECT * FROM c",
    "WITH a AS (SELECT 'don\\'t DELETE' AS s) SELECT s FROM a",
    "WITH a AS (SELECT 'it''s ) UPDATE' AS s) SELECT s FROM a",
    "WITH a AS (SELECT 1 -- ) INSERT\n) SELECT * FROM a",
    "VALUES (1, 'DELETE')",
    "SELECT 'x FOR SYSTEM_TIME ALL' AS s FROM t",
    "WITH a AS (SELECT R\"\\\" AS s, ') INSERT --' AS t) SELECT * FROM a",
]

WRITES = [
    ("-- c\nINSERT INTO t VALUES (1)", "insert"),
    ("/* a /* b */ c */ DELETE FROM t", "delete"),
    ("WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT x FROM c", "insert"),
    ("WITH c AS (SELECT ')' AS x) /* c */ UPDATE t SET v = 1", "update"),
    (
        "WITH a AS (SELECT 'ab\\' x)' AS s) MERGE INTO t USING a "
        "ON t.id = a.s WHEN MATCHED THEN DELETE",
        "update",
    ),
    ("UPDATE t SET a = 'x\\', y', b = 1", "update"),
    ("INSERT INTO t VALUES (1, 'see RETURNING x')", "insert"),
    # a raw literal has no escapes: r'\' ends at its second quote
    (
        "WITH a AS (SELECT r'\\' AS s, ') SELECT 1 --' AS t) "
        "INSERT INTO w SELECT 1",
        "insert",
    ),
]


@pytest.mark.parametrize("sql", READS)
def test_consumers_agree_on_reads(sql):
    head = classify(sql)
    assert head.query and not head.dml_verbs()
    assert _is_readonly_sql(sql)
    assert statement_permissions(sql) == ["select"]
    assert not DriftSession._writes(sql)
    for explain in ("EXPLAIN ", "EXPLAIN /*c*/ ", "explain analyze -- c\n"):
        assert classify(explain + sql).query  # EXPLAIN plans it as a query
        assert _is_readonly_sql(explain + sql)
        assert statement_permissions(explain + sql) == ["select"]
        assert not DriftSession._writes(explain + sql)


@pytest.mark.parametrize("sql,perm", WRITES)
def test_consumers_agree_on_writes(sql, perm):
    head = classify(sql)
    assert not head.query and head.dml_verbs()
    assert not _is_readonly_sql(sql)
    assert statement_permissions(sql) == [perm]
    assert DriftSession._writes(sql)
    if sql.lstrip().startswith("WITH"):
        assert head.ctes is not None  # _dispatch_dml's CTE-DML route
    for explain in ("EXPLAIN ", "EXPLAIN /*c*/ ", "EXPLAIN ANALYZE -- c\n"):
        inner = classify(explain + sql)
        assert inner.explain and not inner.query  # EXPLAIN's DML guard
        assert not _is_readonly_sql(explain + sql)
        assert statement_permissions(explain + sql) == [perm]
        assert not DriftSession._writes(explain + sql)  # EXPLAIN never writes


@pytest.mark.parametrize(
    "sql,perms",
    [
        ("WITH broken AS (SELECT 1 INSERT", ["insert"]),
        ("WITH broken AS (SELECT 'UPDATE' DELETE", ["delete"]),
        ("WITH broken AS (SELECT 'x' UPDATE INSERT", ["insert", "update"]),
        ("WITH a AS (SELECT 'open INSERT", ["insert"]),
        ("WITH broken AS (SELECT 1", ["select"]),
    ],
)
def test_unlexable_head_is_conservative(sql, perms):
    """A WITH prefix that does not lex has no verb: it takes the lock, RBAC
    demands every DML verb outside literals (in the raw text once even the
    literals do not lex), the replica refuses it when it names one, and
    EXPLAIN does not treat it as a query."""
    head = classify(sql)
    assert head.opaque and not head.query
    assert not _is_readonly_sql(sql)
    assert statement_permissions(sql) == perms
    assert DriftSession._writes(sql) == (perms != ["select"])
    assert not classify("EXPLAIN " + sql).query


def test_lexer_defects_at_the_parent():
    """Each was a hand-written scanner's mistake before the one lexer."""
    # a clause inside a literal is text, not a temporal clause
    sql = "SELECT 'x FOR SYSTEM_TIME ALL' AS s FROM t"
    clean, asof = parse_system_time(sql)
    assert clean == sql and not asof.all_history
    assert parse_system_time("SELECT * FROM t FOR SYSTEM_TIME ALL")[1].all_history
    assert extract_clause("CHECK (name <> ')')", "CHECK") == "name <> ')'"
    assert extract_clause("x /* CHECK (a) */ CHECK (b > 0)", "CHECK") == "b > 0"
    assert split_top_level(r"a = 'x\', y', b = 1") == [r"a = 'x\', y'", "b = 1"]
    assert split_top_level("`a,b` INT, c /* x, y */ INT") == [
        "`a,b` INT",
        "c /* x, y */ INT",
    ]
    assert split_top_level("f(a, b), 'it''s, here'") == ["f(a, b)", "'it''s, here'"]
    body = "INSERT INTO t VALUES (1); -- a;b\nINSERT INTO t VALUES ('a\\';b')"
    assert split_top_level(body, ";") == [
        "INSERT INTO t VALUES (1)",
        "-- a;b\nINSERT INTO t VALUES ('a\\';b')",
    ]
    returning = DriftSession._RETURNING_RE
    assert search_code(returning, "INSERT INTO t VALUES (1, 'see RETURNING x')") is None
    m = search_code(returning, "INSERT INTO t VALUES ('RETURNING') RETURNING id")
    assert m.group(1) == "id"
    assert number_params("SELECT '$1 off', $1") == ("SELECT '$1 off', :p1", 1)
    assert bind_params("INSERT INTO t VALUES (:p1, ':p1')", {"p1": "o'k"}) == (
        "INSERT INTO t VALUES ('o''k', ':p1')",
        None,
    )
    assert bind_params("SELECT ':p1', :p2, x::int", {"p1": 1, "p2": 2, "int": 3}) == (
        "SELECT ':p1', :p2, x::int",
        {"p2": 2},
    )
    assert _is_readonly_sql("/* c */ SELECT 1")
    assert statement_permissions("/* c */ SELECT 1") == ["select"]


def test_unterminated_text_is_refused_or_none():
    assert strip_leading_ctes("WITH a AS (SELECT 'x) SELECT 1") is None
    assert classify("/* never closed SELECT 1").verb is None
    assert not _is_readonly_sql("/* never closed SELECT 1")
    with pytest.raises(ValueError, match="unterminated"):
        split_top_level("'a, b")
    with pytest.raises(ValueError, match="unterminated"):
        number_params("SELECT 'open $1")
    # a peel that would need the lexer on such text does not happen: the
    # clause reaches Spark's parser, which refuses it
    assert parse_system_time("SELECT 'open FOR SYSTEM_TIME ALL")[1].all_history is False


def test_classifier_reads_only_the_head():
    """A 100-row VALUES body is never lexed: an unterminated literal past
    the head does not change the verb."""
    rows = ", ".join(f"({i}, 'v{i}')" for i in range(100))
    assert classify(f"INSERT INTO t VALUES {rows}, (0, 'open").verb == "INSERT"

"""Stored procedures: CREATE PROCEDURE / CALL / DROP PROCEDURE.

Reference: procedures.rs:177-236 (statement model), :457-500 (create),
:533-620 (execute with argument validation); the reference's SQL bridge
leaves CALL unwired (sql_bridge.rs:752) — here the full loop is
SQL-reachable, with SQL-bodied procedures executing through the session
dispatcher and Python-bodied procedures covering control flow.
"""

from __future__ import annotations

import pytest

from driftdb_spark.sql_frontend import DriftSession

COLS = {"id": "int", "name": "string", "qty": "int"}


@pytest.fixture
def sess(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    log = s.create_table("products", COLS)
    log.insert(
        spark.createDataFrame(
            [(1, "bolt", 5), (2, "nut", 9), (3, "gear", 2)],
            "id int, name string, qty int",
        )
    )
    return s


def test_sql_procedure_params_dml_and_result(sess):
    sess.sql(
        "CREATE PROCEDURE restock(pid, amount) AS $$ "
        "UPDATE products SET qty = qty + :amount WHERE id = :pid; "
        "SELECT id, qty FROM products WHERE id = :pid $$"
    )
    out = sess.sql("CALL restock(1, 100)")
    assert out.first()["qty"] == 105
    # string parameter with an embedded quote renders safely as a literal
    sess.sql(
        "CREATE PROCEDURE rename_item(pid, newname) AS "
        "$$ UPDATE products SET name = :newname WHERE id = :pid $$"
    )
    sess.sql("CALL rename_item(2, 'o''ring')")
    assert sess.sql("SELECT name FROM products WHERE id = 2").first()["name"] == "o'ring"
    # a marker or a ';' inside a literal or comment is text, not syntax
    sess.sql(
        "CREATE PROCEDURE tag(pid) AS $$ -- sets :pid; then reads it\n"
        "UPDATE products SET name = ':pid; kept' WHERE id = :pid; "
        "SELECT name, ':pid' AS lit FROM products WHERE id = :pid $$"
    )
    out = sess.sql("CALL tag(2)").first()
    assert (out["name"], out["lit"]) == (":pid; kept", ":pid")


def test_call_argument_expressions_and_arity(sess):
    sess.sql(
        "CREATE PROCEDURE bump(pid, amount) AS "
        "$$ UPDATE products SET qty = qty + :amount WHERE id = :pid $$"
    )
    # arguments are constant SQL expressions, folded before the call
    sess.sql("CALL bump(1 + 2, 10 * 2)")
    assert sess.sql("SELECT qty FROM products WHERE id = 3").first()["qty"] == 22
    with pytest.raises(ValueError, match="expects 2 argument"):
        sess.sql("CALL bump(1)")
    with pytest.raises(KeyError, match="no such procedure"):
        sess.sql("CALL nonexistent(1)")


def test_python_procedure_control_flow(sess):
    """Python-bodied procedures cover the reference's IF/WHILE statements:
    the loop drives distributed jobs, it does not touch rows."""

    def drain(s, pid, floor):
        # WHILE qty > floor: halve it (each iteration one distributed
        # UPDATE; terminates via a scalar read back)
        while True:
            qty = s.sql(f"SELECT qty FROM products WHERE id = {int(pid)}").first()["qty"]
            if qty <= floor:
                return qty
            s.sql(f"UPDATE products SET qty = qty - {max(1, qty // 2)} WHERE id = {int(pid)}")

    sess.procedures.create("drain", ["pid", "floor"], drain)
    assert sess.procedures.call("drain", {"pid": 2, "floor": 3}) <= 3
    assert sess.sql("SELECT qty FROM products WHERE id = 2").first()["qty"] <= 3
    # SQL CALL reaches Python bodies too
    sess.sql("UPDATE products SET qty = 50 WHERE id = 1")
    assert sess.sql("CALL drain(1, 10)") <= 10


def test_procedure_persists_in_catalog(sess, spark, tmp_path):
    sess.sql(
        "CREATE PROCEDURE zero_qty(pid) AS "
        "$$ UPDATE products SET qty = 0 WHERE id = :pid $$"
    )
    fresh = DriftSession(spark, str(tmp_path))
    fresh.sql("CALL zero_qty(3)")
    assert fresh.sql("SELECT qty FROM products WHERE id = 3").first()["qty"] == 0
    # DROP persists too
    fresh.sql("DROP PROCEDURE zero_qty")
    third = DriftSession(spark, str(tmp_path))
    with pytest.raises(KeyError):
        third.sql("CALL zero_qty(1)")


def test_call_inside_transaction_buffers(sess):
    sess.sql(
        "CREATE PROCEDURE nuke(pid) AS $$ DELETE FROM products WHERE id = :pid $$"
    )
    sess.sql("BEGIN")
    sess.sql("CALL nuke(1)")
    assert {r.id for r in sess.sql("SELECT id FROM products").collect()} == {2, 3}
    assert sess.table("products").state_at().count() == 3  # nothing committed
    sess.sql("ROLLBACK")
    assert {r.id for r in sess.sql("SELECT id FROM products").collect()} == {1, 2, 3}


def test_create_or_replace_and_empty_body(sess):
    sess.sql("CREATE PROCEDURE p(x) AS $$ SELECT :x AS v $$")
    sess.sql("CREATE OR REPLACE PROCEDURE p(x) AS $$ SELECT :x + 1 AS v $$")
    assert sess.sql("CALL p(41)").first()["v"] == 42
    with pytest.raises(ValueError, match="empty body"):
        sess.sql("CREATE PROCEDURE q() AS $$ $$")


def test_backslash_parameter_renders_safely(sess):
    """A string parameter ending in a backslash must not escape the
    closing quote of the rendered literal (injection vector: Spark SQL
    processes C-style escapes in string literals)."""
    sess.sql(
        "CREATE PROCEDURE add_item(nm) AS $$ "
        "INSERT INTO products VALUES (77, :nm, 1) $$"
    )
    sess.procedures.call("add_item", {"nm": "trailing\\"})
    got = sess.sql("SELECT name FROM products WHERE id = 77").first()["name"]
    assert got == "trailing\\"

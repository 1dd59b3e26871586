"""SQL-level transaction control + maintenance statements.

Reference: sql_bridge.rs:453-568 (StartTransaction/Commit/Rollback/
Savepoint/ReleaseSavepoint arms), :335-346 (aborted-transaction gate),
:279-302 (VACUUM → Compact, CHECKPOINT TABLE → Snapshot), :671-700
(ANALYZE → statistics collection).
"""

from __future__ import annotations

import os

import pytest

from driftdb_spark.sql_frontend import DriftSession
from driftdb_spark.transactions import TransactionAborted

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


def _ids(sess):
    return {r.id for r in sess.sql("SELECT id FROM products").collect()}


def test_begin_commit_read_your_writes(sess):
    log = sess.table("products")
    entries = len(log._log_entries())
    sess.sql("BEGIN")
    sess.sql("INSERT INTO products VALUES (4, 'cam', 7)")
    # a PK-changing UPDATE buffers its SoftDelete + Insert pair
    sess.sql("UPDATE products SET id = 30 WHERE id = 3")
    # Inside the txn, SELECT sees the buffered rows under their new keys...
    assert _ids(sess) == {1, 2, 30, 4}
    # ...but committed storage does not until COMMIT.
    assert log.state_at().count() == 3
    sess.sql("COMMIT")
    assert _ids(sess) == {1, 2, 30, 4}
    assert sess.sql("SELECT name FROM products WHERE id = 30").first()["name"] == "gear"
    assert len(log._log_entries()) == entries + 1  # one batch for the block


def test_rollback_discards_buffer(sess):
    head = sess.table("products").last_sequence()
    sess.sql("BEGIN")
    sess.sql("DELETE FROM products WHERE id = 2")
    sess.sql("UPDATE products SET qty = qty + 100 WHERE id = 1")
    sess.sql("UPDATE products SET id = 30 WHERE id = 3")
    assert _ids(sess) == {1, 30}
    assert sess.sql("SELECT qty FROM products WHERE id = 1").first()["qty"] == 105
    sess.sql("ROLLBACK")
    assert _ids(sess) == {1, 2, 3}
    assert sess.sql("SELECT qty FROM products WHERE id = 1").first()["qty"] == 5
    assert sess.table("products").last_sequence() == head


def test_update_sees_earlier_txn_insert(sess):
    """Buffered statements compose: an UPDATE's WHERE scans the txn's own
    view, so it patches a row inserted earlier in the same transaction."""
    sess.sql("BEGIN")
    sess.sql("INSERT INTO products VALUES (4, 'cam', 7)")
    sess.sql("UPDATE products SET qty = qty * 10 WHERE id = 4")
    sess.sql("COMMIT")
    assert sess.sql("SELECT qty FROM products WHERE id = 4").first()["qty"] == 70


def test_aborted_gate_and_commit_as_rollback(sess):
    sess.sql("BEGIN")
    sess.sql("INSERT INTO products VALUES (4, 'cam', 7)")
    with pytest.raises(ValueError, match="duplicate primary key"):
        sess.sql("INSERT INTO products VALUES (1, 'dup', 0)")
    # Every statement is now gated with the canonical PostgreSQL message...
    with pytest.raises(TransactionAborted, match="commands ignored"):
        sess.sql("SELECT COUNT(*) AS n FROM products")
    with pytest.raises(TransactionAborted):
        sess.sql("INSERT INTO products VALUES (5, 'rod', 1)")
    # ...and COMMIT of an aborted transaction behaves as ROLLBACK: the
    # pre-abort INSERT of id=4 is discarded too.
    sess.sql("COMMIT")
    assert _ids(sess) == {1, 2, 3}


def test_savepoint_partial_rollback(sess):
    sess.sql("BEGIN")
    sess.sql("INSERT INTO products VALUES (4, 'cam', 7)")
    sess.sql("SAVEPOINT s1")
    sess.sql("INSERT INTO products VALUES (5, 'rod', 1)")
    assert _ids(sess) == {1, 2, 3, 4, 5}
    sess.sql("ROLLBACK TO SAVEPOINT s1")
    assert _ids(sess) == {1, 2, 3, 4}
    sess.sql("COMMIT")
    assert _ids(sess) == {1, 2, 3, 4}


def test_savepoint_clears_abort(sess):
    """ROLLBACK TO SAVEPOINT recovers an aborted transaction (reference
    savepoint recovery, sql_bridge.rs:511-546)."""
    sess.sql("BEGIN")
    sess.sql("SAVEPOINT clean")
    with pytest.raises(ValueError):
        sess.sql("INSERT INTO products VALUES (1, 'dup', 0)")
    with pytest.raises(TransactionAborted):
        sess.sql("SELECT 1 AS x")
    sess.sql("ROLLBACK TO SAVEPOINT clean")
    sess.sql("INSERT INTO products VALUES (6, 'pin', 3)")
    sess.sql("COMMIT")
    assert _ids(sess) == {1, 2, 3, 6}


def test_release_savepoint(sess):
    sess.sql("BEGIN")
    sess.sql("SAVEPOINT s1")
    sess.sql("RELEASE SAVEPOINT s1")
    with pytest.raises(KeyError):
        sess.sql("ROLLBACK TO SAVEPOINT s1")
    sess.sql("ROLLBACK")


def test_txn_time_travel_reads_committed_only(sess):
    """An explicit FOR SYSTEM_TIME target inside a txn reads committed
    history — the uncommitted buffer has no sequence on the time axis."""
    sess.sql("BEGIN")
    sess.sql("INSERT INTO products VALUES (4, 'cam', 7)")
    asof = sess.sql(
        "SELECT COUNT(*) AS n FROM products FOR SYSTEM_TIME AS OF @SEQ:3"
    ).first()["n"]
    assert asof == 3
    # and back in the current view the buffered row is still visible
    assert _ids(sess) == {1, 2, 3, 4}
    sess.sql("ROLLBACK")


def test_nested_begin_and_stray_commit(sess):
    sess.sql("BEGIN")
    with pytest.raises(RuntimeError, match="already a transaction"):
        sess.sql("BEGIN")
    sess.sql("ROLLBACK")
    # COMMIT/ROLLBACK outside a transaction: PostgreSQL warns, no-op.
    assert sess.sql("COMMIT") == 0
    assert sess.sql("ROLLBACK") == 0


def test_txn_fk_restrict_and_parent_in_buffer(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d int PRIMARY KEY, dname string)")
    s.sql(
        "CREATE TABLE emp (e int PRIMARY KEY, d int REFERENCES dept(d), "
        "ename string)"
    )
    s.sql("INSERT INTO dept VALUES (1, 'eng')")
    s.sql("BEGIN")
    # Parent inserted in the SAME txn satisfies the FK for a later child.
    s.sql("INSERT INTO dept VALUES (2, 'ops')")
    s.sql("INSERT INTO emp VALUES (10, 2, 'ada')")
    # FK violation inside the txn aborts it.
    with pytest.raises(ValueError, match="FK violation"):
        s.sql("INSERT INTO emp VALUES (11, 99, 'bob')")
    s.sql("ROLLBACK")
    assert s.sql("SELECT COUNT(*) AS n FROM emp").first()["n"] == 0
    # RESTRICT on DELETE inside a txn: child in committed state blocks.
    s.sql("INSERT INTO emp VALUES (10, 1, 'ada')")
    s.sql("BEGIN")
    with pytest.raises(ValueError, match="FK RESTRICT"):
        s.sql("DELETE FROM dept WHERE d = 1")
    s.sql("ROLLBACK")
    # dept 2 was inserted inside the rolled-back txn — only dept 1 remains
    assert s.sql("SELECT COUNT(*) AS n FROM dept").first()["n"] == 1
    # an auto-increment batch takes the same FK check
    with pytest.raises(ValueError, match="FK violation"):
        s.insert_auto_increment(
            "emp", spark.createDataFrame([(99, "eve")], "d int, ename string")
        )
    assert s.sql("SELECT COUNT(*) AS n FROM emp").first()["n"] == 1


def test_txn_delete_cascade_staged_atomically(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d int PRIMARY KEY, dname string)")
    s.create_table("emp", {"e": "int", "d": "int"}, pk="e")
    s.add_foreign_key("emp", "d", "dept", "d", on_delete="cascade")
    s.sql("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')")
    s.sql("INSERT INTO emp VALUES (10, 1), (11, 1), (12, 2)")
    s.sql("BEGIN")
    s.sql("DELETE FROM dept WHERE d = 1")
    # Cascade staged in the SAME transaction: emp rows 10,11 gone in view,
    # nothing committed yet.
    assert {r.e for r in s.sql("SELECT e FROM emp").collect()} == {12}
    assert s.table("emp").state_at().count() == 3
    s.sql("COMMIT")
    assert {r.e for r in s.sql("SELECT e FROM emp").collect()} == {12}
    assert {r.d for r in s.sql("SELECT d FROM dept").collect()} == {2}


def test_txn_merge_checks_fk_against_buffer(spark, tmp_path):
    """MERGE inside BEGIN reads FK parents and children through the
    transaction's view, like INSERT and DELETE do."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d int PRIMARY KEY, dname string)")
    s.sql(
        "CREATE TABLE emp (e int PRIMARY KEY, d int REFERENCES dept(d), "
        "ename string)"
    )
    s.sql("INSERT INTO dept VALUES (1, 'eng')")
    s.sql("BEGIN")
    # a parent inserted earlier in the transaction satisfies the FK
    s.sql("INSERT INTO dept VALUES (2, 'ops')")
    s.sql(
        "MERGE INTO emp t USING (SELECT 10 AS e, 2 AS d) s ON t.e = s.e "
        "WHEN NOT MATCHED THEN INSERT (e, d, ename) VALUES (s.e, s.d, 'ada')"
    )
    # a child inserted earlier in the transaction blocks the RESTRICT
    s.sql("INSERT INTO emp VALUES (11, 1, 'bob')")
    with pytest.raises(ValueError, match="FK RESTRICT"):
        s.sql(
            "MERGE INTO dept t USING (SELECT 1 AS d) s ON t.d = s.d "
            "WHEN MATCHED THEN DELETE"
        )
    s.sql("ROLLBACK")
    assert s.sql("SELECT COUNT(*) AS n FROM emp").first()["n"] == 0


def test_merge_cascade_publishes_children_first(spark, tmp_path, monkeypatch):
    """A MERGE outside BEGIN commits its DELETE cascade's children before
    the target, so a failure between the two commits leaves no orphan."""
    from driftdb_spark import transactions as T

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d int PRIMARY KEY, dname string)")
    s.sql(
        "CREATE TABLE emp (e int PRIMARY KEY, "
        "d int REFERENCES dept(d) ON DELETE CASCADE)"
    )
    s.sql("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')")
    s.sql("INSERT INTO emp VALUES (10, 1)")
    commit, calls = T.Transaction.commit, []

    def second_commit_fails(txn):
        calls.append(txn)
        if len(calls) == 2:
            raise RuntimeError("lost the append race")
        return commit(txn)

    monkeypatch.setattr(T.Transaction, "commit", second_commit_fails)
    with pytest.raises(RuntimeError, match="append race"):
        s.sql(
            "MERGE INTO dept t USING (SELECT 1 AS d UNION ALL SELECT 2) s "
            "ON t.d = s.d WHEN MATCHED AND t.d = 2 THEN UPDATE SET dname = 'x' "
            "WHEN MATCHED THEN DELETE"
        )
    monkeypatch.undo()
    orphans = s.sql("SELECT e FROM emp WHERE d NOT IN (SELECT d FROM dept)")
    assert orphans.count() == 0


def test_insert_checked_joins_open_transaction(sess, spark):
    """``insert_checked`` (the COPY FROM STDIN path) buffers inside BEGIN
    and is refused inside an aborted transaction."""
    row = spark.createDataFrame([(7, "cog", 1)], "id int, name string, qty int")
    sess.sql("BEGIN")
    sess.insert_checked("products", row)
    assert _ids(sess) == {1, 2, 3, 7}
    sess.sql("ROLLBACK")
    assert _ids(sess) == {1, 2, 3}
    # auto-increment and CTAS rows stay in the transaction too: the base
    # reads the buffer (7 -> 8), ROLLBACK discards both
    sess.sql("BEGIN")
    sess.insert_checked("products", row)
    sess.insert_auto_increment(
        "products", spark.createDataFrame([("pin", 1)], "name string, qty int")
    )
    assert _ids(sess) == {1, 2, 3, 7, 8}
    sess.sql("CREATE TABLE copy AS SELECT * FROM products")
    assert sess.sql("SELECT COUNT(*) AS n FROM copy").first()["n"] == 5
    sess.sql("ROLLBACK")
    assert _ids(sess) == {1, 2, 3}
    assert sess.sql("SELECT COUNT(*) AS n FROM copy").first()["n"] == 0
    sess.sql("BEGIN")
    with pytest.raises(ValueError, match="duplicate primary key"):
        sess.sql("INSERT INTO products VALUES (1, 'dup', 0)")
    with pytest.raises(TransactionAborted):
        sess.insert_checked("products", row)
    sess.sql("ROLLBACK")
    assert _ids(sess) == {1, 2, 3}


def test_vacuum_checkpoint_analyze(sess, tmp_path):
    # CHECKPOINT TABLE → snapshot on disk
    seq = sess.sql("CHECKPOINT TABLE products")
    assert os.path.isdir(str(tmp_path / "products" / "snapshots" / f"seq={seq}"))
    # VACUUM → compact (log rewritten; state unchanged)
    sess.sql("UPDATE products SET qty = qty + 1 WHERE id = 1")
    sess.sql("VACUUM products")
    assert sess.sql("SELECT qty FROM products WHERE id = 1").first()["qty"] == 6
    assert _ids(sess) == {1, 2, 3}
    # ANALYZE <table> → per-column stats frame
    stats = sess.sql("ANALYZE products")
    rows = {r.column: r for r in stats.collect()}
    assert set(rows) == {"id", "name", "qty"}
    assert all(r.n_rows == 3 for r in rows.values())
    assert rows["id"].n_nulls == 0
    # bare ANALYZE covers every table
    assert sess.sql("ANALYZE").select("table").distinct().count() == 1
    # VACUUM and COMPACT refuse to run inside a transaction block
    # (PostgreSQL, 25001); the refusal poisons the block until ROLLBACK
    for stmt in ("VACUUM products", "COMPACT products"):
        sess.sql("BEGIN")
        with pytest.raises(RuntimeError, match="inside a transaction"):
            sess.sql(stmt)
        with pytest.raises(TransactionAborted):
            sess.sql("SELECT qty FROM products WHERE id = 1")
        sess.sql("ROLLBACK")

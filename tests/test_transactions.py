"""Buffered transactions: BEGIN/COMMIT/ROLLBACK/SAVEPOINT (reference
sql_bridge.rs:453-568, transaction.rs:25-120, txn_savepoint_test.rs,
txn_auto_abort_test.rs, txn_pk_uniqueness_test.rs)."""

from __future__ import annotations

import os

import pytest

from conftest import fuzz_examples
from pyspark.sql import Row

from driftdb_spark.events import EventLog
from driftdb_spark.temporal import AsOf
from driftdb_spark.transactions import TransactionAborted

COLS = {"id": "int", "name": "string", "qty": "int"}


@pytest.fixture
def log(spark, tmp_path):
    return EventLog(spark, str(tmp_path / "tbl"), pk_col="id")


def _rows(spark, data, schema="id int, name string, qty int"):
    return spark.createDataFrame(data, schema)


def test_commit_publishes_buffer_as_one_atomic_batch(spark, log):
    """Multiple statements inside BEGIN are invisible until COMMIT, then
    all land at once — in ONE batch directory (one rename = the atomicity
    unit), with statement order preserved per key."""
    log.insert(_rows(spark, [(1, "a", 10)]))
    txn = log.begin()
    txn.insert(_rows(spark, [(2, "b", 20), (3, "c", 30)]))
    txn.patch(_rows(spark, [(2, 99)], "id int, qty int"))
    txn.soft_delete(_rows(spark, [Row(id=3)], "id int"))
    # nothing visible before commit
    assert {r.pk for r in log.state_at().collect()} == {"1"}
    end = txn.commit()
    assert end == 5  # 1 committed + 4 buffered events
    state = {r.pk: r for r in log.state_df(COLS).collect()}
    assert set(state) == {"1", "2"}
    assert state["2"]["qty"] == 99 and state["2"]["name"] == "b"
    # exactly one new batch dir: the whole txn is one atomic publication
    batches = [d for d in os.listdir(log._events_dir) if d.startswith("batch-")]
    assert len(batches) == 2


def test_rollback_discards_everything(spark, log):
    log.insert(_rows(spark, [(1, "a", 10)]))
    txn = log.begin()
    txn.insert(_rows(spark, [(2, "b", 20)]))
    txn.rollback()
    assert log.state_at().count() == 1
    assert log.last_sequence() == 1
    with pytest.raises(RuntimeError, match="finished"):
        txn.insert(_rows(spark, [(9, "z", 0)]))


def test_read_your_writes_inside_transaction(spark, log):
    """In-txn reads fold committed state + the buffer (the reference checks
    the txn buffer for visibility and PK uniqueness the same way)."""
    log.insert(_rows(spark, [(1, "a", 10)]))
    txn = log.begin()
    txn.insert(_rows(spark, [(2, "b", 20)]))
    txn.patch(_rows(spark, [(1, 77)], "id int, qty int"))
    seen = {r.pk: r for r in txn.state_df(COLS).collect()}
    assert set(seen) == {"1", "2"}
    assert seen["1"]["qty"] == 77  # buffered patch visible to the txn
    # but not to outside readers
    outside = {r.pk: r for r in log.state_df(COLS).collect()}
    assert set(outside) == {"1"} and outside["1"]["qty"] == 10
    txn.rollback()


def test_pk_uniqueness_against_buffer_aborts_txn(spark, log):
    """Inserting a key already inserted EARLIER IN THE SAME TXN fails, and
    the failure aborts the transaction: further commands raise, COMMIT
    behaves as ROLLBACK (reference auto-abort + 'commands ignored')."""
    txn = log.begin()
    txn.insert(_rows(spark, [(1, "a", 10)]))
    with pytest.raises(ValueError, match="duplicate"):
        txn.insert(_rows(spark, [(1, "dup", 0)]))
    with pytest.raises(TransactionAborted):
        txn.patch(_rows(spark, [(1, 5)], "id int, qty int"))
    txn.commit()  # COMMIT of aborted txn = ROLLBACK
    assert log.state_at().count() == 0
    assert log.last_sequence() == 0


def test_savepoint_partial_rollback(spark, log):
    """ROLLBACK TO SAVEPOINT discards later statements, keeps earlier ones,
    and clears an abort (reference savepoint partial rollback)."""
    txn = log.begin()
    txn.insert(_rows(spark, [(1, "a", 10)]))
    txn.savepoint("s1")
    txn.insert(_rows(spark, [(2, "b", 20)]))
    txn.patch(_rows(spark, [(1, 0)], "id int, qty int"))
    txn.rollback_to("s1")
    txn.patch(_rows(spark, [(1, 42)], "id int, qty int"))
    txn.commit()
    state = {r.pk: r for r in log.state_df(COLS).collect()}
    assert set(state) == {"1"}  # insert of 2 was rolled back
    assert state["1"]["qty"] == 42


def test_savepoint_clears_abort(spark, log):
    txn = log.begin()
    txn.insert(_rows(spark, [(1, "a", 10)]))
    txn.savepoint("s1")
    with pytest.raises(ValueError):
        txn.insert(_rows(spark, [(1, "dup", 0)]))
    txn.rollback_to("s1")  # recover from the abort
    txn.insert(_rows(spark, [(2, "b", 20)]))
    txn.commit()
    assert {r.pk for r in log.state_at().collect()} == {"1", "2"}


def test_statement_order_preserved_per_key(spark, log):
    """Within one commit batch, same-key events fold in STATEMENT order
    (insert → patch → patch), even though sequence assignment is
    partition-parallel."""
    txn = log.begin()
    txn.insert(_rows(spark, [(i, f"n{i}", 0) for i in range(1, 51)]))
    txn.patch(_rows(spark, [(i, 1) for i in range(1, 51)], "id int, qty int"))
    txn.patch(_rows(spark, [(i, 2) for i in range(1, 26)], "id int, qty int"))
    txn.commit()
    state = {r.pk: r["qty"] for r in log.state_df(COLS).collect()}
    assert len(state) == 50
    assert all(state[str(i)] == 2 for i in range(1, 26))
    assert all(state[str(i)] == 1 for i in range(26, 51))
    # time travel into the middle of nothing: the txn is one batch, so
    # there is no sequence at which only half of it is visible — state
    # right before the batch is empty
    assert log.state_at(AsOf(sequence=0)).count() == 0


def test_session_transaction_multi_table(spark, tmp_path):
    """DriftSession.begin(): per-table buffers, commits in first-touch
    order, rollback discards all."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "st"))
    sess.create_table("users", {"uid": "int", "name": "string"})
    sess.create_table("orders2", {"oid": "int", "uid": "int"})

    txn = sess.begin()
    txn.table("users").insert(spark.createDataFrame([(1, "ann")], "uid int, name string"))
    txn.table("orders2").insert(spark.createDataFrame([(100, 1)], "oid int, uid int"))
    assert sess.sql("SELECT * FROM users").count() == 0
    txn.commit()
    assert sess.sql("SELECT * FROM users").count() == 1
    assert sess.sql("SELECT * FROM orders2").count() == 1

    txn2 = sess.begin()
    txn2.table("users").insert(spark.createDataFrame([(2, "bob")], "uid int, name string"))
    txn2.rollback()
    assert sess.sql("SELECT * FROM users").count() == 1


def test_txn_update_delete_where_read_your_writes(spark, log):
    """Condition-based UPDATE/DELETE inside a txn evaluate against the
    txn's own view: rows inserted earlier in the SAME txn match the
    condition, and their updates land in the same atomic commit."""
    log.insert(_rows(spark, [(1, "a", 10)]))
    txn = log.begin()
    txn.insert(_rows(spark, [(2, "b", 20)]))
    txn.update_where(COLS, "qty >= 10", {"qty": "qty + 1"})  # hits 1 AND 2
    txn.delete_where(COLS, "name = 'a'")
    txn.commit()
    state = {r.pk: r for r in log.state_df(COLS).collect()}
    assert set(state) == {"2"}
    assert state["2"]["qty"] == 21  # buffered insert was visible to UPDATE


@pytest.mark.deepfuzz
def test_txn_commit_equals_sequential_appends_fuzz(spark, tmp_path):
    """Property: committing a random statement list as ONE transaction
    produces the same final state as applying the same statements as
    individual appends — the commit's per-key (pk, stmt) ordering is
    exactly sequential-execution order. A PK-changing UPDATE stages two
    statements in the transaction and publishes one batch outside it."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    stmt_st = st.sampled_from(["INSERT", "PATCH", "SOFT_DELETE", "PK_UPDATE"])
    step_st = st.tuples(
        stmt_st,
        st.lists(st.sampled_from([1, 2, 3]), min_size=1, max_size=3, unique=True),
        st.integers(0, 99),
    )

    @settings(
        max_examples=fuzz_examples(8),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(step_st, min_size=1, max_size=6))
    def run(steps):
        import uuid

        name = uuid.uuid4().hex[:8]
        log_a = EventLog(spark, str(tmp_path / f"a{name}"), pk_col="id")
        log_b = EventLog(spark, str(tmp_path / f"b{name}"), pk_col="id")
        txn = log_a.begin()
        for etype, pks, val in steps:
            if etype == "INSERT":
                rows = _rows(spark, [(p, f"n{p}", val) for p in pks])
                try:
                    txn.insert(rows)
                except ValueError:
                    return  # duplicate insert aborts — covered elsewhere
                log_b.upsert(rows)
            elif etype == "PATCH":
                rows = _rows(spark, [(p, val) for p in pks], "id int, qty int")
                txn.patch(rows)
                log_b.patch(rows)
            elif etype == "PK_UPDATE":
                where = f"id IN ({', '.join(map(str, pks))})"
                moved = {"id": f"id + {val + 10}"}
                try:
                    log_b.update_where(COLS, where, moved)
                except ValueError:
                    # a key collision refuses the same way inside BEGIN
                    # (and aborts the transaction)
                    with pytest.raises(ValueError, match="collide"):
                        txn.update_where(COLS, where, moved)
                    return
                txn.update_where(COLS, where, moved)
            else:
                rows = _rows(spark, [(p,) for p in pks], "id int")
                txn.soft_delete(rows)
                log_b.soft_delete(rows)
        txn.commit()
        sa = {r.pk: dict(r.row) for r in log_a.state_at().collect()}
        sb = {r.pk: dict(r.row) for r in log_b.state_at().collect()}
        assert sa == sb

    run()

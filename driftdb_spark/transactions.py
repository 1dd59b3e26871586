"""Buffered transactions: BEGIN / COMMIT / ROLLBACK / SAVEPOINT over an
EventLog.

The reference's transaction model is exactly this shape: statements inside
BEGIN buffer their events in the session's transaction context, COMMIT
applies the buffer to storage, ROLLBACK discards it, SAVEPOINT marks a
buffer position for partial rollback, and a failed statement aborts the
transaction ("commands ignored until end of transaction block"; COMMIT of
an aborted transaction behaves as ROLLBACK) — reference
sql_bridge.rs:453-568, transaction.rs:25-120.

Here the buffer is a list of staged statement frames and COMMIT hands it to
the same publish (``EventLog._sink``) every write outside BEGIN uses, which
writes it as ONE batch by staged rename — so a multi-statement transaction
is all-or-nothing with respect to readers exactly like a single batch, and
two racing COMMITs serialize through the same filesystem-arbitrated claim
(``ConcurrentAppendError`` for the loser). Delta's equivalent is one commit
file per transaction.

Ordering: the fold only compares sequences WITHIN a primary key, so commit
repartitions the buffered events by pk and numbers each partition ordered
by (pk, statement index) — same-key events keep statement order, and the
sequence assignment stays the parallel zipWithIndex recipe (no global
sort).

Reads inside the transaction see the buffer: ``state_at()`` folds committed
events plus the staged events at provisional sequences above the
begin-point high-water mark (the reference checks PK uniqueness against
committed state + the txn buffer the same way, execute_insert_values
sql_bridge.rs:3505-3661).

Every DML entry point of ``DriftSession`` (INSERT, COPY via
``insert_checked``, UPDATE, DELETE, TRUNCATE, each MERGE clause) runs the
same gates inside and outside BEGIN, reading ``DriftSession._view`` (this
buffer's view for a touched table) and writing through
``DriftSession._writer`` (a ``Transaction`` here, the ``EventLog``
outside). The write surface is shared, not mirrored: both classes take
their ``insert`` / ``upsert`` / ``patch`` / ``soft_delete`` /
``update_where`` / ``delete_where`` from ``events.DmlVerbs``, which builds
every statement's ``(event_type, pk, payload)`` frame once and hands the
statement list to the target's sink — the ``EventLog`` publishes it, a
``Transaction`` pins and buffers it. So a PK-changing UPDATE (SoftDelete
old keys + Insert new rows) is one atomic batch outside BEGIN and two
buffered statements inside. A MERGE outside BEGIN runs in a
statement-scoped ``SessionTransaction``, committed when its last clause
succeeds and rolled back on any error.

Scope: one transaction spans one table (one EventLog), matching the unit of
atomic publication. ``DriftSession.begin()`` wraps several per-table
transactions and commits them in declaration order — each table's commit is
atomic, the cross-table sequence is ordered but not jointly atomic (the
reference gets cross-table atomicity from its global engine lock; a
distributed engine gets it from a shared Delta log, which is the cluster
upgrade path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from driftdb_spark.events import EVENT_SCHEMA, DmlVerbs, EventLog, fold_events, typed_state


class TransactionAborted(RuntimeError):
    """A prior statement failed; commands are ignored until ROLLBACK /
    COMMIT-as-rollback (reference aborted-transaction gate,
    sql_bridge.rs:335-346)."""

    sqlstate = "25P02"  # in_failed_sql_transaction (PostgreSQL's code)

    def __init__(
        self,
        msg: str = "current transaction is aborted, commands ignored until "
        "end of transaction block",
    ) -> None:
        super().__init__(msg)


class Transaction(DmlVerbs):
    """Buffered per-table transaction. Use via ``EventLog.begin()``."""

    def __init__(self, log: EventLog):
        self.log = log
        self._stmts: list[tuple[str, DataFrame]] = []  # (event_type, (pk,payload))
        self._savepoints: dict[str, int] = {}
        self._base = log.last_sequence()
        self._aborted = False
        self._done = False

    pk_col = property(lambda self: self.log.pk_col)
    validate_fn = property(lambda self: self.log.validate_fn)

    # -- staging -------------------------------------------------------------

    def _gate(self) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")
        if self._aborted:
            raise TransactionAborted()

    def _refuse(self, msg: str) -> None:
        """A refused statement aborts the transaction."""
        self._aborted = True
        super()._refuse(msg)

    def _sink(self, stmts: list[tuple[str, DataFrame]]) -> None:
        """Buffer a statement list until COMMIT. Each statement's rows are
        pinned now: later statements and the commit itself must see it as
        of its execution point, and its plan may read state the commit
        will change."""
        self._gate()
        pinned = [(event_type, frame.persist()) for event_type, frame in stmts]
        for _event_type, frame in pinned:
            frame.count()
        self._stmts += pinned

    # -- reads ---------------------------------------------------------------

    def staged_events(self) -> DataFrame:
        """The buffer as an event frame at provisional sequences (above the
        begin-point high-water mark, ordered by statement index)."""
        frames = []
        for i, (etype, df) in enumerate(self._stmts):
            frames.append(
                df.select(
                    F.lit(self._base + i + 1).cast("long").alias("sequence"),
                    F.current_timestamp().alias("ts"),
                    F.lit(etype).alias("event_type"),
                    "pk",
                    "payload",
                )
            )
        if not frames:
            return self.log.spark.createDataFrame([], EVENT_SCHEMA)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _replay_events(self) -> DataFrame:
        """Committed state as of now (snapshot included) ∪ the buffer."""
        return self.log._replay_events().unionByName(self.staged_events())

    def state_at(self) -> DataFrame:
        """Read-your-writes: committed events ∪ the buffer, folded."""
        return fold_events(self._replay_events())

    def state_df(self, schema_cols: dict[str, str]) -> DataFrame:
        return typed_state(self.state_at(), schema_cols, self.log.pk_col)

    # -- savepoints / rollback ------------------------------------------------

    def savepoint(self, name: str) -> None:
        self._gate()
        self._savepoints[name] = len(self._stmts)

    def rollback_to(self, name: str) -> None:
        """Partial rollback: discard statements staged after the savepoint;
        also clears an abort (the reference's savepoint recovery)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        if name not in self._savepoints:
            raise KeyError(f"no such savepoint: {name}")
        keep = self._savepoints[name]
        for _etype, df in self._stmts[keep:]:
            df.unpersist()
        del self._stmts[keep:]
        self._savepoints = {k: v for k, v in self._savepoints.items() if v <= keep}
        self._aborted = False

    def rollback(self) -> None:
        for _etype, df in self._stmts:
            df.unpersist()
        self._stmts.clear()
        self._done = True

    # -- commit ---------------------------------------------------------------

    def commit(self) -> int:
        """Publish the whole buffer as ONE atomic batch. COMMIT of an
        aborted transaction is a ROLLBACK (reference sql_bridge.rs:453-568);
        an empty buffer commits as a no-op. Returns the last sequence."""
        if self._done:
            raise RuntimeError("transaction already finished")
        if self._aborted or not self._stmts:
            self.rollback()
            return self.log.last_sequence()
        try:
            return self.log._sink(self._stmts)
        finally:
            for _etype, df in self._stmts:
                df.unpersist()
            self._stmts.clear()
            self._done = True


class SessionTransaction:
    """Multi-table BEGIN over a DriftSession: one buffered ``Transaction``
    per touched table, committed in first-touch order. Each table's commit
    is atomic (one batch, one rename); the cross-table sequence is ordered
    but not jointly atomic — the reference gets joint atomicity from its
    global engine lock (executor.rs Arc<RwLock>), a cluster deployment gets
    it from a shared Delta log. Rollback discards every table's buffer."""

    def __init__(self, session):
        self._session = session
        self._txns: dict[str, Transaction] = {}
        # Savepoint bookkeeping: creation order (for pruning later
        # savepoints on partial rollback) and, per savepoint, the set of
        # tables already touched when it was taken — a table first touched
        # AFTER the savepoint rolls back entirely.
        self._sp_order: list[str] = []
        self._sp_members: dict[str, set[str]] = {}
        self._aborted = False

    @property
    def aborted(self) -> bool:
        """PostgreSQL aborted-transaction state: a failed statement poisons
        the whole transaction until ROLLBACK [TO SAVEPOINT] / COMMIT
        (reference gate, sql_bridge.rs:335-346)."""
        return self._aborted or any(t._aborted for t in self._txns.values())

    def mark_aborted(self) -> None:
        self._aborted = True

    def table(self, name: str) -> Transaction:
        if name not in self._txns:
            self._txns[name] = self._session.table(name).begin()
        return self._txns[name]

    def savepoint(self, name: str) -> None:
        for txn in self._txns.values():
            txn.savepoint(name)
        if name in self._sp_order:
            self._sp_order.remove(name)
        self._sp_order.append(name)
        self._sp_members[name] = set(self._txns)

    def rollback_to(self, name: str) -> None:
        """Partial rollback across tables; clears the aborted state
        (reference savepoint recovery, sql_bridge.rs:511-546)."""
        if name not in self._sp_members:
            raise KeyError(f"no such savepoint: {name}")
        members = self._sp_members[name]
        for tname in list(self._txns):
            if tname in members:
                self._txns[tname].rollback_to(name)
            else:
                self._txns[tname].rollback()
                del self._txns[tname]
        # Savepoints taken after this one are gone (SQL standard).
        idx = self._sp_order.index(name)
        for later in self._sp_order[idx + 1 :]:
            self._sp_members.pop(later, None)
        del self._sp_order[idx + 1 :]
        self._aborted = False

    def release(self, name: str) -> None:
        if name not in self._sp_members:
            raise KeyError(f"no such savepoint: {name}")
        self._sp_members.pop(name)
        self._sp_order.remove(name)
        for txn in self._txns.values():
            txn._savepoints.pop(name, None)

    def commit(self) -> dict[str, int]:
        if self.aborted:
            # COMMIT of an aborted transaction is a ROLLBACK (PostgreSQL /
            # reference sql_bridge.rs:476-509).
            self.rollback()
            return {}
        return {name: txn.commit() for name, txn in self._txns.items()}

    def rollback(self) -> None:
        for txn in self._txns.values():
            if not txn._done:
                txn.rollback()
        self._aborted = False

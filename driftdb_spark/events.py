"""The event log — DriftDB's core identity, Spark-first.

The reference stores every write as an immutable event
``{sequence, timestamp, event_type: Insert|Patch|SoftDelete, primary_key,
payload}`` and reconstructs table state by replay (reference
crates/driftdb-core/src/events.rs:5-20, storage/table_storage.rs:344-428).

Here the event log is an append-only parquet directory (stand-in for a Delta
table — Delta isn't in this container, but the layout is identical: a
sequence-ordered append log plus materialized snapshots). Reconstruction is
declarative DataFrame code, so Catalyst plans it and it scales with
partitions: state is one ``groupBy("pk")`` aggregation (:func:`fold_events`).
A PK is live when its last Insert is newer than its last SoftDelete; its row
folds that Insert and the later Patches in sequence order — the reference's
field-level ``apply_event`` merge (table_storage.rs:369-389).

Scale notes (100 TB discipline):
- Reconstruction shuffles once on PK, with no join; snapshots bound the
  replay tail like the reference's snapshots do (snapshot.rs:19-43).
- Sequence assignment is the one inherently serial point (same as the
  reference's per-table AtomicU64, table_storage.rs:212-261). The head
  ``base`` is read driver-side with no Spark job (persisted floor, newest
  snapshot, newest batch's parquet footer). Each row gets ``base +
  per-partition offset + its index within the partition``: the zipWithIndex
  recipe, with the per-partition counts collected once and the offsets
  computed on the driver, so every partition numbers its rows in parallel.
  On a real cluster you'd use Delta commit versions; the API shape is
  unchanged.
- Appends are batch-atomic (reference buffered-txn apply-at-COMMIT,
  sql_bridge.rs:453-568, transaction.rs:25-120): the batch is staged under
  ``events/_staging-*`` (a leading underscore makes it invisible to
  Spark's file listing) and published with one directory rename. A write
  that dies mid-flight leaves only hidden staging files — ``state_at``
  never sees a torn batch.
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import functools
import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from driftdb_spark.temporal import AsOf, apply_asof, resolve_sequence_at

INSERT, PATCH, SOFT_DELETE = "INSERT", "PATCH", "SOFT_DELETE"


class ReadOnlyLog(RuntimeError):
    """Write attempted against a read-only (replica) log — the standby
    analog of PostgreSQL's `cannot execute ... in a read-only transaction`
    (reference replication.rs replicas serve reads only). Carries SQLSTATE
    25006 so the wire server reports it like a Postgres standby would."""

    sqlstate = "25006"


class ConcurrentAppendError(RuntimeError):
    """Two writers raced the same sequence range; the loser's batch was
    rolled back. Retry re-reads last_sequence and appends after the
    winner — the optimistic-concurrency protocol of a Delta commit,
    standing in for the reference's per-table lock + AtomicU64
    (table_storage.rs:212-261)."""


class LegacyCommitLogTable(RuntimeError):
    """The table directory holds a ``_commit_log/`` written by the retired
    commit-log clock (removed after ``cf1dcbf``). Its ``meta.json`` floor
    may be stale, so the engine refuses the table rather than reuse
    purged sequence numbers."""


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("sequence", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("pk", T.StringType(), False),
        # Payload as map<string,string>: the reference's rows are dynamic
        # JSON objects (schemaless within a table — SURVEY §1.2); a string
        # map is the faithful typed-Spark equivalent for the DML surface.
        T.StructField("payload", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _payload_map(df: DataFrame, pk_col: str) -> F.Column:
    cols = []
    for c in df.columns:
        cols.append(F.lit(c))
        cols.append(F.col(c).cast("string"))
    return F.map_from_arrays(
        F.array(*cols[::2]), F.array(*cols[1::2])
    )


def _last(kind: str) -> F.Column:
    """Newest sequence of ``kind`` events in the group (null if none)."""
    return F.max(F.when(F.col("event_type") == kind, F.col("sequence")))


def _live(ins: str, dels: str) -> F.Column:
    """The liveness rule: the last Insert is newer than the last SoftDelete."""
    return F.col(ins).isNotNull() & (F.col(dels).isNull() | (F.col(dels) < F.col(ins)))


def fold_events(ev: DataFrame) -> DataFrame:
    """Reconstruct visible state ``(pk, last_seq, last_ts, row)`` from an
    event frame — the reference's replay loop (table_storage.rs:344-428) as
    one ``groupBy("pk")`` aggregation: one exchange on pk, no join. Shared by
    ``EventLog``, ``Transaction`` and the streaming micro-batch merge.

    Per key it takes the last Insert's and last SoftDelete's sequence and
    collects the non-delete events. A live key's row is the field-level LWW
    fold of its last Insert and the later Patches in sequence order
    (apply_event merge, table_storage.rs:369-389); a Patch with no preceding
    Insert is ignored, like the reference's replay of a patch to a missing
    key. Trade-off: the list holds every non-delete event since the usable
    snapshot, not only those after the last Insert (older ones are dropped
    after the aggregation); snapshots bound it.

    ``last_ts`` is the max event timestamp that contributed to the key's
    state. Snapshots persist it and replay it as the pseudo-Insert's ``ts``,
    so ``AS OF <timestamp>`` still resolves after a compaction drops the
    pre-snapshot log (the reference resolves timestamps against its kept
    events the same way — query/executor.rs:194-205).
    """
    # The struct carries a map, so array_sort needs an explicit comparator
    # on sequence (maps aren't orderable).
    cmp = (
        "(l, r) -> CASE WHEN l.sequence < r.sequence THEN -1 "
        "WHEN l.sequence > r.sequence THEN 1 ELSE 0 END"
    )
    merge = "(acc, e) -> map_concat(map_filter(acc, (k, v) -> NOT map_contains_key(e.payload, k)), e.payload)"
    kept = F.when(F.col("event_type") != SOFT_DELETE, F.struct("sequence", "ts", "payload"))
    return (
        ev.groupBy("pk")
        .agg(
            _last(INSERT).alias("ins_seq"),
            _last(SOFT_DELETE).alias("del_seq"),
            F.collect_list(kept).alias("evs"),
        )
        .filter(_live("ins_seq", "del_seq"))
        .select("pk", F.filter("evs", lambda e: e.sequence >= F.col("ins_seq")).alias("evs"))
        .select(
            "pk",
            F.array_max("evs.sequence").alias("last_seq"),
            F.array_max("evs.ts").alias("last_ts"),
            F.expr(
                f"aggregate(array_sort(evs, {cmp}), "
                f"cast(map() as map<string,string>), {merge})"
            ).alias("row"),
        )
    )


def state_as_events(state: DataFrame) -> DataFrame:
    """Re-enter a materialized state frame ``(pk, last_seq, [last_ts,]
    row)`` into an event fold as pseudo-Insert events at their
    ``last_seq`` — shared by ``compact()`` (snapshot + tail rebuild) and
    the streaming micro-batch merge (current state + micro-batch), so
    batch and streaming reconstruction can never diverge on this shape
    (review-found duplication). ``last_ts`` is optional for state files
    that predate it."""
    last_ts = (
        F.col("last_ts")
        if "last_ts" in state.columns
        else F.lit(None).cast("timestamp")
    )
    return state.select(
        F.col("last_seq").alias("sequence"),
        last_ts.alias("ts"),
        F.lit(INSERT).alias("event_type"),
        "pk",
        F.col("row").alias("payload"),
    )


def typed_state(st: DataFrame, schema_cols: dict[str, str], pk_col: str) -> DataFrame:
    """A folded state frame with its row map projected back to typed
    columns. The PK column comes from the ``pk`` grouping key (equal to
    ``row[pk_col]``: every payload is built from a frame holding ``pk_col``),
    so Catalyst pushes a ``WHERE <pk> = K`` below the fold to the scan."""
    typed = [
        (F.col("pk") if c == pk_col else F.col("row")[c]).cast(t).alias(c)
        for c, t in schema_cols.items()
    ]
    return st.select("pk", "last_seq", *typed)


def pk_conflicts(ev: DataFrame, rows: DataFrame, pk_col: str) -> DataFrame:
    """Keys of ``rows`` an INSERT may not write, found by ONE aggregation
    over the event frame ``ev`` (state as of now: snapshot rows count as
    Inserts) plus the batch's keys, grouped by pk. A key conflicts when it
    repeats within the batch (the reference's per-row check catches the
    second occurrence) or when it is live: its last Insert is newer than
    its last SoftDelete, the liveness rule of :func:`fold_events`. The
    gate of :meth:`DmlVerbs.insert` and of a PK-changing UPDATE."""
    batch = rows.select(
        F.col(pk_col).cast("string").alias("pk"),
        F.lit(None).cast("long").alias("sequence"),
        F.lit(None).cast("string").alias("event_type"),
    )
    new = F.col("event_type").isNull()
    return (
        ev.select("pk", "sequence", "event_type")
        .unionByName(batch)
        .groupBy("pk")
        .agg(
            F.count_if(new).alias("n"),
            _last(INSERT).alias("ins"),
            _last(SOFT_DELETE).alias("del"),
        )
        .filter((F.col("n") > 1) | ((F.col("n") == 1) & _live("ins", "del")))
    )


class DmlVerbs:
    """DML as event appends (reference execute_sql_insert/update/delete,
    sql_bridge.rs:3388-3661, :5473-5669, :5981-6087), written once for
    both write targets. Each verb turns its batch into a statement list
    and hands it to ``_sink``: an :class:`EventLog` publishes the list as
    one atomic batch, a :class:`~driftdb_spark.transactions.Transaction`
    buffers it until COMMIT. A target supplies ``pk_col``,
    ``validate_fn``, ``_replay_events()`` (its state as of now, as
    events), ``state_df(schema_cols)`` and ``_sink(stmts)``."""

    def _statement(self, batch: DataFrame, event_type: str) -> tuple[str, DataFrame]:
        """One statement: ``(event_type, frame of (pk, payload))``, the
        batch after ``validate_fn``. The payload maps the batch's own
        columns (none for a SoftDelete)."""
        payload = (
            F.lit(None).cast(EVENT_SCHEMA["payload"].dataType)
            if event_type == SOFT_DELETE
            else _payload_map(batch, self.pk_col)
        )
        if self.validate_fn is not None:
            batch = self.validate_fn(batch, event_type)
        return event_type, batch.select(
            F.col(self.pk_col).cast("string").alias("pk"), payload.alias("payload")
        )

    def _refuse(self, msg: str) -> None:
        """Refuse a statement before anything is written."""
        raise ValueError(msg)

    def insert(self, rows: DataFrame):
        """Full-row Insert events. PK uniqueness against current state
        (for a transaction, committed state + its buffer, as the reference
        checks, sql_bridge.rs:3505-3661) and within the batch (found by the
        constraint fuzz) is one aggregation, :func:`pk_conflicts`, gated
        before anything is written."""
        if not pk_conflicts(self._replay_events(), rows, self.pk_col).isEmpty():
            self._refuse("duplicate primary key(s) in insert batch")
        return self._sink([self._statement(rows, INSERT)])

    def upsert(self, rows: DataFrame):
        """Insert without the PK-uniqueness gate (last writer wins)."""
        return self._sink([self._statement(rows, INSERT)])

    def patch(self, partial_rows: DataFrame):
        """Partial-row Patch events: only the provided columns are merged
        field-by-field into existing rows at read time."""
        return self._sink([self._statement(partial_rows, PATCH)])

    def soft_delete(self, keys: DataFrame):
        """SoftDelete events for the given PKs."""
        return self._sink([self._statement(keys.select(self.pk_col), SOFT_DELETE)])

    def update_where(
        self, schema_cols: dict[str, str], condition: str, assignments: dict[str, object]
    ):
        """UPDATE ... WHERE (reference execute_sql_update,
        sql_bridge.rs:5473-5669): the rows of the target's state that match
        ``condition`` — a transaction's state includes its buffer — get
        the assignments, SQL expression strings evaluated against the OLD
        row, as one Patch per match.

        An UPDATE that assigns the PRIMARY KEY cannot be a Patch (the event
        key would still be the old PK). It is SoftDelete(old keys) +
        Insert(new full rows), the PostgreSQL delete+insert model the
        reference uses, as ONE two-statement list gated once: a new key may
        not hit a surviving row, and the new keys are unique among
        themselves. So it publishes as one batch outside BEGIN and buffers
        as two statements inside. Time travel before it still shows the
        old key, exactly like replaying the reference's event pair."""
        matching = self.state_df(schema_cols).filter(condition)
        if self.pk_col not in assignments:
            patch = matching.select(
                self.pk_col,
                *[F.expr(str(expr)).alias(col) for col, expr in assignments.items()],
            )
            return self._sink([self._statement(patch, PATCH)])
        new_rows = matching.select(
            *[
                F.expr(str(assignments[c])).alias(c) if c in assignments else F.col(c)
                for c in schema_cols
            ]
        )
        old_keys = matching.select(self.pk_col)
        survivors = self._replay_events().join(
            old_keys.select(F.col(self.pk_col).cast("string").alias("pk")),
            "pk",
            "left_anti",
        )
        if not pk_conflicts(survivors, new_rows, self.pk_col).isEmpty():
            self._refuse(
                "primary-key UPDATE would collide with an existing or sibling "
                "key; nothing was changed"
            )
        return self._sink(
            [self._statement(old_keys, SOFT_DELETE), self._statement(new_rows, INSERT)]
        )

    def delete_where(self, schema_cols: dict[str, str], condition: str):
        """DELETE ... WHERE as SoftDelete events (reference
        execute_sql_delete, sql_bridge.rs:5981-6087)."""
        matching = self.state_df(schema_cols).filter(condition)
        return self.soft_delete(matching.select(self.pk_col))


class EventLog(DmlVerbs):
    """Append-only event log for one logical table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_col: str = "id",
        validate_fn=None,
        post_commit_fn=None,
    ):
        """``validate_fn(batch: DataFrame, event_type: str) -> DataFrame``
        is the BEFORE-trigger analog (reference triggers.rs:30-145): it may
        return the batch transformed (ModifyRow), return it filtered
        (Skip), or raise (Abort). Applied to every write path before
        sequence assignment.

        ``post_commit_fn(events: DataFrame, event_type: str, start_seq:
        int)`` is the AFTER-trigger analog (reference fires AFTER triggers
        once the row change is applied, triggers.rs:30-145): invoked only
        after the batch's rename has made it durable and visible, with the
        exact sequenced event frame that was published. It observes, never
        modifies — an exception here propagates to the caller but the
        commit stands (the reference likewise applies the event before
        AFTER triggers run). Use for audit folds / notifications."""
        self.spark = spark
        self.path = path
        self.pk_col = pk_col
        self.validate_fn = validate_fn
        self.post_commit_fn = post_commit_fn
        self._events_dir = os.path.join(path, "events")
        self._snap_dir = os.path.join(path, "snapshots")
        if os.path.isdir(os.path.join(path, "_commit_log")):
            # the retired commit-log clock kept its floor there, not in
            # meta.json; opening on meta.json alone could reuse purged
            # sequence numbers
            raise LegacyCommitLogTable(
                f"table {path!r} holds a _commit_log/ directory: its sequence "
                "clock lives in that log, which this engine no longer reads; "
                "read the table with the store at "
                "`git show cf1dcbf:driftdb_spark/commitlog.py`"
            )
        # Replica logs are read-only: every mutation path (append, txn
        # publish, snapshot, compact, purge) refuses with SQLSTATE 25006.
        # Set by replication.Replica; cleared by promote().
        self.read_only = False

    def _check_writable(self, op: str) -> None:
        if self.read_only:
            raise ReadOnlyLog(
                f"cannot {op} on table log {self.path!r}: "
                "this is a read-only replica (promote it to accept writes)"
            )

    # -- persisted meta (sequence high-water + rewrite generation) -----------

    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def has_meta(self) -> bool:
        """Whether this table has EVER persisted meta — `admin verify`
        uses this to tell a checkable table from a pre-meta legacy log
        (which warns instead of failing)."""
        return os.path.exists(self._meta_path())

    def read_meta(self) -> dict:
        """Persisted per-table meta: ``seq_floor`` is the monotonic
        high-water sequence mark (the reference persists its per-table
        counter as an AtomicU64 in meta.json, table_storage.rs:212-261 —
        deriving it from log contents alone is unsound: a compliance purge
        that empties the log would reset the clock to 0 and the next
        append would REUSE an already-shipped batch name with different
        content, silently diverging replicas and re-pointing old
        ``AS OF @SEQ:N`` identities at new rows). ``generation`` counts
        log rewrites (compact/purge) and ``rewrite_id`` is a fresh token
        per rewrite, so replication's ship() detects rewrites explicitly
        instead of inferring them from entry-name sets."""
        try:
            with open(self._meta_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return {"seq_floor": 0, "generation": 0, "rewrite_id": ""}

    def _bump_meta(self, seq_floor: int, rewrite: bool = False) -> None:
        """Advance the persisted meta under a flock'd read-modify-write
        (two publishers racing a plain replace could persist the smaller
        floor); ``seq_floor`` only ever rises; a rewrite bumps the
        generation and stamps a fresh rewrite_id. Atomic tmp+rename so a
        reader never sees a torn file. On a real cluster this per-table
        counter is the commit protocol's version (a Delta log version) —
        SCALE.md §6."""
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, ".meta.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            meta = self.read_meta()
            meta["seq_floor"] = max(int(meta.get("seq_floor", 0)), int(seq_floor))
            if rewrite:
                meta["generation"] = int(meta.get("generation", 0)) + 1
                meta["rewrite_id"] = uuid.uuid4().hex[:12]
            tmp = self._meta_path() + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(meta, fh, sort_keys=True)
            os.replace(tmp, self._meta_path())

    @contextlib.contextmanager
    def _rewrite_lock(self, op: str = "rewrite"):
        """Serialize log rewrites (compact/purge) CROSS-PROCESS. The
        in-process write gate (the session/server exec_lock) doesn't
        cover a CLI ``compact`` racing a server ``purge``: both would
        stage under the same ``events.new`` and each treats the other's
        in-flight staging as crashed-rewrite scratch. Held from entry
        pinning through the swap (and purge's snapshot sweep), so the
        second rewrite starts against the first's completed state.
        Appends don't take it — they already have single-winner rename
        semantics against a concurrent swap. Same flock discipline as
        ``_bump_meta``; on a real cluster this is the table's commit
        protocol (a Delta log transaction), not a local file lock.

        EXPECTED BLOCKING (operator-facing): holders include backup's
        per-table byte copy and IMV refresh's Spark recompute, so a
        purge/compact/ship/recover arriving mid-backup waits for the full
        copy — correctness over availability (a torn cut silently
        corrupts incrementals/replicas). Acquisition tries LOCK_NB first
        and logs one warning before blocking, so a "hung purge" is
        diagnosable from the log rather than a mystery; the holder also
        records ``(pid, op, acquired_unix)`` INTO the lock file after
        acquiring, so ``admin status`` can name who holds a contended
        lock without log access (flock itself exposes no holder
        identity). Opened append-mode — a waiter must not truncate the
        live holder's record."""
        import time as _time

        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, ".rewrite.lock"), "a+") as lk:
            try:
                fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                # only real contention gets the "waiting" diagnostic —
                # a non-contention flock failure (ENOLCK on NFS, EIO)
                # must surface as itself from the blocking call below,
                # not masquerade as a rival rewrite
                import logging

                logging.getLogger("driftdb_spark.events").warning(
                    "%s waiting for rewrite lock on %s (held by a "
                    "concurrent compact/purge/backup/ship/refresh/recover;"
                    " blocking until it completes)",
                    op,
                    self.path,
                )
                fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                lk.seek(0)
                lk.truncate()
                json.dump(
                    {
                        "pid": os.getpid(),
                        "op": op,
                        "acquired_unix": round(_time.time(), 3),
                    },
                    lk,
                )
                lk.flush()
            except OSError:
                pass  # telemetry only — never fail the rewrite over it
            yield

    # -- storage ------------------------------------------------------------

    def events(self) -> DataFrame:
        if not os.path.exists(self._events_dir):
            # A log rewrite (compact/purge) swaps the directory with two
            # renames; between them the path is briefly absent while an
            # `events.old-*` sibling exists. Readers wait out that window
            # instead of serving an empty log (the reference holds the
            # engine write lock across compaction; this is the lock-free
            # equivalent for a bounded instant).
            import time as _time

            deadline = _time.monotonic() + 5.0
            while (
                not os.path.exists(self._events_dir)
                and glob.glob(self._events_dir + ".old-*")
                and _time.monotonic() < deadline
            ):
                _time.sleep(0.05)
        if not os.path.exists(self._events_dir):
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        # Batches live in per-append subdirectories; recursive lookup skips
        # `_staging-*` (underscore-prefixed = hidden to Spark's listing),
        # which is exactly what makes a torn append invisible.
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self._events_dir)
        )

    def last_sequence(self) -> int:
        """Max assigned sequence, read on the driver with no Spark job.
        Sequences must never regress — the reference's per-table counter is
        a persisted monotonic AtomicU64 (table_storage.rs:212-261) — and
        this is its three-source equivalent, the max of:

        - the persisted ``seq_floor`` (a purge may empty the log AND
          rewrite every snapshot);
        - the newest snapshot (compaction may drop trailing SoftDelete
          events from the log);
        - the newest log entry's ``sequence`` max, from its parquet footer
          statistics. This covers a crash between an append's publish
          rename and its ``seq_floor`` bump."""
        snaps = self._snapshot_seqs()
        floor = int(self.read_meta().get("seq_floor", 0))
        return max(self._newest_entry_max(), snaps[-1] if snaps else 0, floor)

    def _newest_entry_max(self) -> int:
        """``sequence`` max of the newest ``batch-<start>`` entry, from the
        footer statistics of its parquet files. Appends and rewrites only
        ever publish ``batch-<min sequence>`` names over disjoint ranges, so
        the newest name holds the log's max. A footer without statistics
        for the column raises rather than guessing low."""
        entries = [e for e in self._log_entries() if e.startswith("batch-")]
        if not entries:
            return 0
        hi = 0
        top = os.path.join(self._events_dir, entries[-1])
        for path in glob.glob(os.path.join(top, "*.parquet")):
            meta = pq.read_metadata(path)
            col = meta.schema.names.index("sequence")
            for g in range(meta.num_row_groups):
                stats = meta.row_group(g).column(col).statistics
                if stats is None or not stats.has_min_max:
                    raise RuntimeError(
                        f"{path}: no sequence statistics in the parquet "
                        "footer; cannot read the sequence head"
                    )
                hi = max(hi, int(stats.max))
        return hi

    def _sink(self, stmts: list[tuple[str, DataFrame]]) -> int:
        """Publish a statement list (a write, a PK-changing UPDATE's
        SoftDelete + Insert pair, or a COMMIT's buffer) as ONE atomic
        batch; returns the last sequence.

        Publication is staged-then-renamed: the batch is written under
        ``events/_staging-<token>`` (hidden from Spark's file listing) and
        one ``os.rename`` flips it to ``batch-<startseq>``. POSIX rename is
        atomic, so readers see the whole batch or none of it — the
        reference's buffered-transaction COMMIT (sql_bridge.rs:453-568).
        The final name IS the concurrency claim: it carries no random
        token, so two writers that raced the same last_sequence target the
        same directory name, and ``rename`` onto an existing non-empty
        directory fails — exactly one writer wins, decided atomically by
        the filesystem, and the loser's batch never becomes visible (it
        rolls back from staging and raises :class:`ConcurrentAppendError`
        for retry — Delta's commit-file protocol).

        One statement numbers its rows in pk order and reaches the commit
        hook under its own event type. Several are tagged with their
        statement index and reach the hook as ``TXN``; the fold compares
        sequences only within a pk, so co-locating each pk's events
        (repartition) and numbering partitions ordered by ``(pk, _stmt)``
        preserves statement order exactly where it matters, with no global
        sort. The steps are in :meth:`_assign_and_publish`."""
        if len(stmts) == 1:
            ((event_type, frame),) = stmts
            src = frame.withColumn("event_type", F.lit(event_type))
            return self._assign_and_publish(src, ["pk"], event_type)
        parts = [
            frame.select(
                F.lit(i).alias("_stmt"), F.lit(event_type).alias("event_type"), "pk", "payload"
            )
            for i, (event_type, frame) in enumerate(stmts)
        ]
        staged = functools.reduce(DataFrame.unionByName, parts)
        return self._assign_and_publish(staged.repartition(F.col("pk")), ["pk", "_stmt"], "TXN")

    def _assign_and_publish(
        self, src: DataFrame, order_cols: list[str], hook_event_type: str
    ) -> int:
        """The append every write path funnels into: read the sequence head
        (no job), pin the sorted batch with each row's partition id and
        ``monotonically_increasing_id`` (``(_pid << 33) + index within the
        partition``), collect the per-partition counts (the one counts
        pass), then write ``sequence = base + offset[_pid] + index + 1``
        with the offsets inlined as a literal array, and publish by
        rename. The local sort keeps ``order_cols`` order within each
        partition, which is what :meth:`_sink`'s ``(pk, _stmt)`` statement
        order relies on.

        ``persist()`` (MEMORY_AND_DISK) keeps the counts pass and the write
        pass aligned by spilling, not recomputing; only executor loss (not
        applicable in local mode) could recompute a nondeterministic
        upstream into different partitions. On a cluster, Delta commit
        versions replace this whole path."""
        self._check_writable("append")
        base = self.last_sequence()
        src = (
            src.sortWithinPartitions(*order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_rid", F.monotonically_increasing_id())
            # Pin partition contents: the counts pass and the write pass
            # must see identical partitioning or offsets would misalign.
            .persist()
        )
        try:
            counts = dict(src.groupBy("_pid").count().collect())
            total = sum(counts.values())
            if total == 0:
                # Nothing to publish (validate_fn dropped every row, or a
                # DELETE/UPDATE matched nothing): claiming batch-<base+1>
                # with an empty batch would block every future append at
                # this base. The sequence counter intentionally does not
                # advance.
                return base
            offsets, run = [], 0
            for pid in range(max(counts) + 1):
                offsets.append(F.lit(run))
                run += counts.get(pid, 0)
            index = F.col("_rid") - F.shiftleft(F.col("_pid").cast("long"), 33)
            offset = F.element_at(F.array(*offsets), F.col("_pid") + 1)
            out = src.select(
                (F.lit(base + 1) + offset + index).cast("long").alias("sequence"),
                F.current_timestamp().alias("ts"),
                F.col("event_type"),
                F.col("pk"),
                F.col("payload"),
            )
            os.makedirs(self._events_dir, exist_ok=True)
            token = uuid.uuid4().hex[:12]
            staging = os.path.join(self._events_dir, f"_staging-{token}")
            out.write.mode("overwrite").parquet(staging)
            final = os.path.join(self._events_dir, f"batch-{base + 1:020d}")
            try:
                os.rename(staging, final)
            except OSError as exc:
                # Only two shapes are concurrency, and both are retryable:
                # the target name already exists (a rival append won this
                # start sequence — ENOTEMPTY/EEXIST or a visible dir), or
                # the staging path vanished (a concurrent compact/purge
                # moved the live dir aside mid-flight — ENOENT). Everything
                # else (ENOSPC, EACCES, EXDEV, ...) is a real I/O failure;
                # re-raise it unchanged so a retry loop can't spin on it.
                shutil.rmtree(staging, ignore_errors=True)
                retryable = exc.errno in (
                    errno.ENOTEMPTY,
                    errno.EEXIST,
                    errno.ENOENT,
                ) or os.path.exists(final)
                if not retryable:
                    raise
                raise ConcurrentAppendError(
                    f"append lost the race for sequence {base + 1} "
                    f"(a rival append or log rewrite won); retry"
                ) from exc
            # Persist the high-water mark only after the batch is visible:
            # a crash in between leaves the floor stale, which the newest
            # entry's footer covers (last_sequence takes the max of all
            # three sources). The floor is what survives a future
            # purge-to-empty rewrite.
            self._bump_meta(seq_floor=base + total)
        finally:
            src.unpersist()
        if self.post_commit_fn is not None:
            committed = (
                self.spark.read.schema(EVENT_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(final)
            )
            self.post_commit_fn(committed, hook_event_type, base + 1)
        return base + total

    def begin(self):
        """Open a buffered transaction (BEGIN) — statements stage events,
        COMMIT publishes them as one atomic batch, ROLLBACK discards,
        SAVEPOINT marks partial-rollback points (reference
        sql_bridge.rs:453-568, transaction.rs:25-120). See
        :mod:`driftdb_spark.transactions`."""
        from driftdb_spark.transactions import Transaction

        return Transaction(self)

    # -- reconstruction (reference table_storage.rs:344-428) -----------------

    def state_at(self, asof: AsOf | None = None) -> DataFrame:
        """Reconstruct visible state: ``(pk, last_seq, last_ts, row map)``.

        The temporal target is resolved to a concrete sequence bound FIRST
        (timestamps via ``resolve_sequence_at`` — reference
        query/executor.rs:194-205 resolves ts → max sequence before anything
        else), and only then is a snapshot selected at-or-before THAT bound
        (reference snapshot.rs:87-114 find_latest_before the *resolved*
        sequence). Selecting a snapshot from a raw timestamp target would
        serve future state whenever a newer snapshot exists. ``between``
        targets never consult snapshots (a range of history can't start
        from a materialized point).
        """
        asof = asof or AsOf.now()
        ev = self.events()

        if asof.between is not None or asof.all_history:
            return fold_events(apply_asof(ev, asof))

        bound: int | None
        if asof.sequence is not None:
            bound = asof.sequence
        elif asof.timestamp is not None:
            bound = resolve_sequence_at(ev, asof.timestamp)
            if bound is None:
                # No event at-or-before the timestamp: state is empty,
                # regardless of any snapshot (all snapshots are newer).
                return fold_events(ev.filter(F.lit(False)))
        else:
            bound = None  # AS OF now: any snapshot is usable

        return fold_events(self._replay_events(bound, ev))

    def _replay_events(
        self, bound: int | None = None, ev: DataFrame | None = None
    ) -> DataFrame:
        """The event frame whose fold is state at sequence ``bound``
        (``None`` = now): the newest snapshot at-or-before it as
        pseudo-Inserts, plus the log tail after that snapshot up to the
        bound. Shared by ``state_at`` and the insert PK gate."""
        if ev is None:
            ev = self.events()
        if bound is not None:
            ev = ev.filter(F.col("sequence") <= bound)
        snap, snap_seq = self._usable_snapshot(bound)
        if snap is None:
            return ev
        return state_as_events(snap).unionByName(
            ev.filter(F.col("sequence") > snap_seq)
        )

    def state_df(self, schema_cols: dict[str, str], asof: AsOf | None = None) -> DataFrame:
        """State with the row map projected back to typed columns."""
        return typed_state(self.state_at(asof), schema_cols, self.pk_col)

    # -- drift history (reference SHOW DRIFT, query/executor.rs:327-354) -----

    def drift_history(self, pk=None) -> DataFrame:
        ev = self.events()
        if pk is not None:
            ev = ev.filter(F.col("pk") == str(pk))
        return ev.orderBy("sequence")

    # -- snapshot / compaction (reference snapshot.rs:19-43,
    # engine.rs:758-845) ------------------------------------------------------

    def _log_entries(self) -> list[str]:
        """Non-hidden entries of the events dir — the concrete set of
        published batches at one instant. Snapshot/compact/purge pin this
        set up front and read ONLY it, so a batch committed mid-rewrite is
        never half-included (it's either absent from the pinned set and
        rescued after the swap, or fully present)."""
        if not os.path.exists(self._events_dir):
            return []
        return sorted(
            e for e in os.listdir(self._events_dir) if not e.startswith(("_", "."))
        )

    def _read_entries(self, entries: list[str]) -> DataFrame:
        if not entries:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        paths = [os.path.join(self._events_dir, e) for e in entries]
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )

    def snapshot(self) -> int:
        """Materialize current state at the max sequence of a pinned set of
        log entries. Pinning (rather than ``last_sequence()`` + a lazy
        ``state_at()``) closes a race: a batch appended between the
        sequence read and the state write would otherwise leak events newer
        than the snapshot's labeled sequence into the snapshot, making
        ``AS OF`` through that snapshot serve future state.

        Held under the rewrite flock: a cross-process snapshot racing a
        purge could otherwise pin pre-purge entries and materialize
        PURGED rows into a ``seq=`` snapshot written after the purge's
        snapshot sweep (or hit ENOENT mid-read) — the same compliance
        hole the lock closes for backup/ship/IMV refresh. compact's
        internal ``_snapshot_of`` is already inside the lock."""
        self._check_writable("snapshot")
        with self._rewrite_lock("snapshot"):
            entries = self._log_entries()
            if not entries and not self._snapshot_seqs():
                return 0  # nothing has ever been published (fuzz-found)
            return self._snapshot_of(entries)

    def _snapshot_of(self, entries: list[str]) -> int:
        ev = self._read_entries(entries)
        row = ev.agg(F.max("sequence").alias("s")).first()
        seq = max(int(row["s"] or 0), max(self._snapshot_seqs(), default=0))
        out = os.path.join(self._snap_dir, f"seq={seq}")
        fold_events(ev).write.mode("overwrite").parquet(out)
        return seq

    def _swap_events_dir(self, rebuilt: DataFrame, known_entries: list[str]) -> None:
        """Atomically replace the log with ``rebuilt``, preserving batches
        committed concurrently with the rewrite.

        Protocol (extends the single-winner append claim to log rewrites):
        write the rebuilt log to ``events.new``; rename the live dir aside;
        rename ``events.new`` into place; then RESCUE — move any
        ``batch-*`` entry that appeared in the old dir after
        ``known_entries`` was pinned into the new dir (its sequences are
        above everything in the rebuild, because appends base on
        ``last_sequence()`` which the rewrite never lowers). An append
        whose staging dir was still in flight when the live dir moved
        aside fails its rename with ENOENT and surfaces as
        :class:`ConcurrentAppendError` — never a silent loss.
        Before any rename touches the LIVE directory, the persisted meta
        advances: ``seq_floor`` to the pre-swap high-water mark (so a
        rewrite that drops trailing — or ALL — events can never reset
        the sequence clock; see :meth:`read_meta`) and
        ``generation``/``rewrite_id`` (so replication's ship() reseeds
        replicas on the persisted signal, not by diffing entry-name sets
        a clock reset could alias).

        The rebuilt log is materialized ONCE, directly under
        ``events.new`` as a hidden staging dir, then renamed to a uniform
        ``batch-<min_seq>`` entry — ``_log_entries()`` keeps returning
        only ``batch-*`` names across rewrites (rewrite output used to
        land as raw flat ``part-*.parquet``). The single write runs the
        rebuild plan against the still-live dir; nothing moves until the
        write completes, so no defensive second materialization is
        needed (it used to write tmp then re-copy — double I/O).
        """
        new_dir = self._events_dir + ".new"
        if os.path.exists(new_dir):
            if not os.path.exists(self._events_dir):
                # live dir missing + events.new present = a crash landed
                # BETWEEN the two swap renames, and events.new holds the
                # only copy of the rebuilt log — rewriting now would base
                # the rebuild on an empty live dir and discard it. Refuse;
                # admin recover completes the swap (complete_swap action).
                raise RuntimeError(
                    f"interrupted log swap detected at {new_dir!r} (live "
                    "events dir missing): run `admin recover` before "
                    "compact/purge"
                )
            # live dir present: events.new can only be scratch from a
            # rewrite that crashed BEFORE its swap (rewrites serialize
            # under the write gate). The pre-r11 double-write cleared it
            # via mode("overwrite") on new_dir itself; the single-write
            # path stages under a subdir, so clear the scratch explicitly
            # or its stale batch-* entries would swap in beside the fresh
            # rebuild (resurrecting purged rows) or collide on rename.
            shutil.rmtree(new_dir)
        staging = os.path.join(new_dir, "_staging-rewrite")
        rebuilt.write.mode("overwrite").parquet(staging)
        row = (
            self.spark.read.schema(EVENT_SCHEMA)
            .parquet(staging)
            .agg(F.min("sequence").alias("lo"))
            .first()
        )
        if row["lo"] is None:
            # the rebuild removed every event (purge-to-empty): the new
            # log is an empty dir with no batch entry
            shutil.rmtree(staging)
        else:
            entry = f"batch-{int(row['lo']):020d}"
            os.rename(staging, os.path.join(new_dir, entry))
        # The clock bump lands AFTER the rebuild is staged and named but
        # BEFORE any rename touches the live directory: the crash
        # invariant is bump-before-swap, not bump-before-write (staging is
        # invisible, and a crash up to here leaves only reclaimable
        # scratch with NO meta change, so no spurious replica reseed for a
        # crash during the Spark write). A crash between this bump and the
        # renames below costs at worst one spurious reseed (safe,
        # idempotent).
        self._bump_meta(seq_floor=self.last_sequence(), rewrite=True)
        old_dir = self._events_dir + f".old-{uuid.uuid4().hex[:8]}"
        # an absent live dir is a valid (never-written or fully-purged)
        # log: rewrite it as empty rather than crash (fuzz-found)
        os.makedirs(self._events_dir, exist_ok=True)
        os.rename(self._events_dir, old_dir)
        os.rename(new_dir, self._events_dir)
        known = set(known_entries)
        for e in sorted(os.listdir(old_dir)):
            if e.startswith("batch-") and e not in known:
                os.rename(os.path.join(old_dir, e), os.path.join(self._events_dir, e))
        shutil.rmtree(old_dir)

    def _snapshot_seqs(self) -> list[int]:
        if not os.path.exists(self._snap_dir):
            return []
        # only pure-integer suffixes are snapshots; anything else under
        # the dir (crash scratch, foreign files) must not brick the table
        return sorted(
            int(d[4:])
            for d in os.listdir(self._snap_dir)
            if d.startswith("seq=") and d[4:].isdigit()
        )

    def _usable_snapshot(self, bound: int | None):
        """Newest snapshot at-or-before the RESOLVED sequence bound
        (find_latest_before, reference snapshot.rs:87-114). ``bound=None``
        means "now" — the latest snapshot is always usable. Callers must
        resolve timestamp targets to a sequence before calling."""
        candidates = [
            s for s in self._snapshot_seqs() if bound is None or s <= bound
        ]
        if not candidates:
            return None, None
        seq = candidates[-1]
        snap = self.spark.read.parquet(os.path.join(self._snap_dir, f"seq={seq}"))
        return snap, seq

    def compact(self) -> None:
        """Rewrite the log as (latest snapshot as Inserts) + post-snapshot
        tail — the reference's COMPACT (engine.rs:758-845).

        Snapshot-as-insert rows carry each key's ``last_ts`` as their event
        timestamp, so ``AS OF <timestamp>`` targets that predate the
        compaction point still resolve to a sequence instead of going
        empty. Concurrent appends are preserved by the pinned-entries +
        rescue-sweep swap (``_swap_events_dir``)."""
        self._check_writable("compact")
        with self._rewrite_lock("compact"):
            entries = self._log_entries()
            if not entries:
                # empty log (CREATE TABLE, no writes yet — fuzz-found):
                # there is nothing to rewrite and no events dir to swap
                return
            seq = self._snapshot_of(entries)
            snap = self.spark.read.parquet(
                os.path.join(self._snap_dir, f"seq={seq}")
            )
            tail = self._read_entries(entries).filter(F.col("sequence") > seq)
            rebuilt = state_as_events(snap).unionByName(tail)
            self._swap_events_dir(rebuilt, entries)

    def purge(self, keys: DataFrame) -> int:
        """Hard-delete ("right to be forgotten"): physically rewrite the log
        with EVERY event for the given PKs removed — unlike ``soft_delete``,
        which appends a tombstone and keeps history replayable. Time travel
        for purged keys intentionally stops answering (the point of a
        compliance purge); all other keys' history and sequences are
        untouched, so existing AS OF reads stay valid. Snapshots are
        rewritten too — a purge that leaves the data in a snapshot file has
        deleted nothing. The reference has no hard-delete at all (SoftDelete
        only, events.rs); at cluster scale this rewrite is the same
        anti-join expressed over Delta `MERGE/DELETE` with vacuum.

        Returns the number of events removed.

        Concurrency: like ``compact``, the rewrite pins the published batch
        set and rescues batches committed mid-rewrite, so no *other* key's
        events are ever lost. A rescued batch could itself contain events
        for a purged key (a writer racing the purge); re-run ``purge`` after
        quiescing writers of the purged keys for a compliance-grade
        guarantee — the return value being 0 confirms convergence.

        Purge scope (r11): in-engine derived artifacts converge — the
        sequence clock never regresses (persisted ``seq_floor``), replicas
        reseed on the persisted rewrite generation, incremental MVs fully
        recompute on their next REFRESH, and the result cache's version
        vector moves. The audit trail keeps per-commit pk SAMPLES by
        design (audit integrity); call ``AuditTrail.scrub_pks`` with the
        purged keys to erase the subject there too. Artifacts OUTSIDE
        the engine's management — streaming state sinks built by
        ``streaming.ingest`` (a file stream cannot un-see folded rows)
        and previously-taken backups — retain the purged rows and need
        their own compliance pass, the same way any downstream
        materialization does.
        """
        self._check_writable("purge")
        pk_list = keys.select(
            F.col(keys.columns[0]).cast("string").alias("pk")
        ).distinct()
        with self._rewrite_lock("purge"):
            return self._purge_locked(pk_list)

    def _purge_locked(self, pk_list: DataFrame) -> int:
        entries = self._log_entries()
        if not entries and not self._snapshot_seqs():
            return 0  # empty log: nothing to purge, no dir to swap
        ev = self._read_entries(entries)
        before = ev.count()
        kept = ev.join(F.broadcast(pk_list), "pk", "anti")
        self._swap_events_dir(kept, entries)
        removed = before - self.events().count()
        for seq in self._snapshot_seqs():
            snap_path = os.path.join(self._snap_dir, f"seq={seq}")
            snap = self.spark.read.parquet(snap_path)
            cleaned = snap.join(F.broadcast(pk_list), "pk", "anti")
            # Single materialization into an underscore-hidden scratch dir
            # OUTSIDE the ``seq=`` namespace (the old ``seq=N.purge`` /
            # ``seq=N.new`` scratch names matched _snapshot_seqs()'s
            # ``seq=`` prefix, so a crash mid-purge left an entry whose
            # suffix fails int() — every later _snapshot_seqs() raised and
            # the TABLE was bricked until manual cleanup; recover's torn-
            # snapshot sweep never removed a completed-but-unswapped one
            # because it carries _SUCCESS). The write executes the plan
            # against the still-live snapshot; a crash in the rmtree→
            # rename gap just loses the snapshot (state rebuilds from the
            # log — compact folds history forward before dropping it) and
            # recover reclaims the scratch.
            tmp_s = os.path.join(
                self._snap_dir, f"_purge-{seq}-{uuid.uuid4().hex[:8]}"
            )
            cleaned.write.mode("overwrite").parquet(tmp_s)
            shutil.rmtree(snap_path)
            os.rename(tmp_s, snap_path)
        return removed

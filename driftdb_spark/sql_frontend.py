"""SQL front-end: the reference's dispatcher, Spark-first.

The reference peels ``FOR SYSTEM_TIME`` off the SQL text, stashes it
thread-locally, and applies it at every table fetch (reference
sql_bridge.rs:274-757). Here ``DriftSession.sql`` peels the clause the same
way, resolves it against each *event-backed* table, registers the
reconstructed state as the table's view, and hands the remaining ANSI SQL to
Catalyst — which supplies the parser, analyzer, optimizer, and every operator
the reference interprets by hand.

DML statements route to the EventLog (INSERT/UPDATE/DELETE as events);
everything else is ``spark.sql``.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from driftdb_spark.events import EventLog
from driftdb_spark.sqltext import (  # noqa: F401 — the WITH-prefix names are public here
    CTE_DML_RE,
    bind_params,
    classify,
    extract_clause,
    number_params,
    render_literal,
    search_code,
    skip_balanced_paren,
    split_leading_ctes,
    split_top_level,
    strip_leading_ctes,
    sub_code,
    unclosed_parens,
)
from driftdb_spark.temporal import AsOf, parse_system_time


class QueryCancelled(RuntimeError):
    """A statement exceeded its timeout and its Spark job group was
    cancelled (reference query_cancellation.rs)."""


#: PostgreSQL's column-less MERGE ``INSERT VALUES``, which Spark's grammar lacks
_INSERT_VALUES_RE = _re.compile(r"\bINSERT\s+VALUES\b", _re.IGNORECASE)


class UnsupportedStatement(ValueError):
    """A statement shape the engine refuses on purpose (0A000)."""

    sqlstate = "0A000"


class UndefinedColumn(ValueError):
    """A DML statement names a column its target table lacks (42703)."""

    sqlstate = "42703"


class ActiveSqlTransaction(RuntimeError, ValueError):
    """A log-rewriting maintenance statement (VACUUM, COMPACT, PURGE)
    inside a transaction block: PostgreSQL's active_sql_transaction
    (25001). Like any failed statement it poisons the open transaction."""

    sqlstate = "25001"


@dataclass
class DmlShape:
    """An INSERT, UPDATE, DELETE or MERGE as Spark's parser reads it
    (:meth:`DriftSession._dml_shape`): names from the parsed plan, every
    expression the statement's own text cut at its parser span."""

    verb: str
    text: str  # as parsed: RETURNING, ON CONFLICT, FOR SYSTEM_TIME peeled
    table: str
    alias: str | None = None  # MERGE target alias
    columns: tuple[str, ...] = ()  # INSERT column list
    source: str | None = None  # INSERT: VALUES/query text; MERGE: FROM item
    source_alias: str | None = None  # MERGE
    assigns: dict[str, str] = field(default_factory=dict)  # UPDATE SET
    where: str | None = None  # UPDATE/DELETE WHERE, MERGE ON
    # MERGE, in declaration order: (matched, UPDATE|DELETE|INSERT, AND
    # condition or None, {column: expression} — empty for DELETE)
    clauses: tuple[tuple[bool, str, str | None, dict[str, str]], ...] = ()
    returning: str | None = None
    conflict: str | None = None  # INSERT ON CONFLICT DO NOTHING | UPDATE
    asof: AsOf = field(default_factory=AsOf.now)  # INSERT … SELECT source


class RateLimitExceeded(RuntimeError):
    """The session's token bucket is empty (reference rate_limit/mod.rs
    TokenBucket:132-195)."""


class TokenBucket:
    """Token-bucket rate limiter (reference rate_limit/mod.rs:132-195):
    ``capacity`` tokens, refilled at ``refill_per_sec``; each statement
    costs one token. ``clock`` is injectable for deterministic tests."""

    def __init__(self, capacity: int, refill_per_sec: float, clock=None):
        import time as _time

        self.capacity = float(capacity)
        self.refill = float(refill_per_sec)
        self._clock = clock or _time.monotonic
        self._tokens = self.capacity
        self._last = self._clock()

    def try_acquire(self, tokens: float = 1.0) -> bool:
        now = self._clock()
        self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.refill)
        self._last = now
        if self._tokens >= tokens:
            self._tokens -= tokens
            return True
        return False


class DriftSession:
    """Query surface over event-sourced tables + any registered views."""

    def __init__(self, spark: SparkSession, storage_dir: str):
        self.spark = spark
        self.storage_dir = storage_dir
        self._tables: dict[str, tuple[EventLog, dict[str, str]]] = {}
        self._sequences: dict[str, tuple[int, int]] = {}
        self._fks: list[tuple[str, str, str, str, str]] = []
        self._constraints: dict = {}  # table -> TableConstraints
        self._views: dict[str, str] = {}
        self._mviews: dict[str, str] = {}  # materialized views: name -> SQL
        # mview name -> registered parquet path: _register re-resolves
        # the versioned pointer per statement (a sibling session's REFRESH
        # moves it) and re-reads only when it actually moved
        self._mview_paths: dict[str, str] = {}
        self._imv_registry = None  # incremental MVs (views.py), lazily built
        # incremental-MV catalog mirror: name -> {sql, source, group_cols,
        # last_seq} — persisted so a fresh session re-attaches the stored
        # result and the refresh watermark
        self._imvs: dict[str, dict] = {}
        self._prepared: dict[str, tuple[str, int]] = {}  # PREPARE name -> (sql, n)
        self._cursors: dict[str, dict] = {}  # DECLARE name -> {iter, schema}
        self._active_txn = None  # SQL-level BEGIN...COMMIT (reference :453-568)
        self._stats: dict[str, DataFrame] = {}  # ANALYZE results per table
        from driftdb_spark.procedures import ProcedureRegistry
        from driftdb_spark.rbac import RbacManager
        from driftdb_spark.rls import RlsManager

        self.procedures = ProcedureRegistry(self)
        self.rls = RlsManager()
        self.rbac = RbacManager()
        self._security = None  # None = embedded-engine owner (RLS bypass)
        # Authenticated identity this session was ENTERED under (set by the
        # wire server): (username, superuser). While a restricted identity
        # is active, SET/RESET SESSION AUTHORIZATION is refused in the
        # dispatcher itself — the one gate, whichever way the statement
        # arrives (simple query, PREPARE/EXECUTE, CALL body, nested sql).
        self._auth_identity: tuple[str, bool] | None = None
        # True while this session fronts a read-only replica
        # (replication.Replica); promote() clears it.
        self._read_only = False
        self._sql_guard = False  # opt-in injection-pattern monitor
        self._sql_guard_block = False
        self._query_log: list[dict] = []
        self._sql_depth = 0  # only top-level statements are logged
        # >0 while planning an internal read-side scan (EXPLAIN of DML):
        # skips the statement-LEVEL RBAC recheck only — RLS still scopes
        # rows because it applies at state-view registration
        self._rbac_exempt = 0
        self._rate_limiter: TokenBucket | None = None
        import time as _time

        self._started_at = _time.time()
        self._statements_total = 0  # monotonic (query_log is ring-buffered)
        self._errors_total = 0
        self._result_cache = None  # opt-in, see enable_result_cache
        from driftdb_spark.security import SecurityMonitor

        # the wire server swaps in its shared monitor per connection so
        # counters aggregate server-wide (security.py)
        self.security = SecurityMonitor()
        self._load_catalog()

    def enable_result_cache(
        self, max_entries: int = 64, max_bytes: int = 256 * 1024 * 1024
    ):
        """Opt into the version-vector query-result cache (reference
        cache.rs QueryCache; exact invalidation instead of TTL — see
        cache.py). While enabled, cacheable SELECTs execute EAGERLY on
        first run (the result materializes to parquet) and repeats serve
        the materialized copy. Returns the cache for stats/clear."""
        from driftdb_spark.cache import ResultCache

        self._result_cache = ResultCache(
            self, max_entries=max_entries, max_bytes=max_bytes
        )
        return self._result_cache

    def disable_result_cache(self) -> None:
        if self._result_cache is not None:
            self._result_cache.close()
            self._result_cache = None

    def enable_sql_validation(self, block: bool = False) -> None:
        """Opt into the injection-pattern guard (reference SqlValidator,
        driftdb-server security/sql_validator.rs) for RESTRICTED
        identities: detections record `sql_injection_pattern` security
        events; with ``block=True`` the statement is also refused with
        SQLSTATE 42000. Owner sessions and superusers are never
        second-guessed — parameterized statements remain the structural
        defense (see sqlguard.py)."""
        self._sql_guard_block = block
        self._sql_guard = True

    def disable_sql_validation(self) -> None:
        self._sql_guard = False

    def set_rate_limit(self, statements_per_sec: float, burst: int = 10, clock=None):
        """Throttle top-level statements with a token bucket (reference
        rate_limit/mod.rs). ``None``-able by passing 0."""
        self._rate_limiter = (
            None
            if statements_per_sec <= 0
            else TokenBucket(burst, statements_per_sec, clock)
        )

    def set_security_context(self, username: str | None, roles=None, superuser=False):
        """Adopt a user identity for RLS enforcement (reference
        SecurityContext, row_level_security.rs:130-163). ``None`` returns
        to the owner context (bypass)."""
        from driftdb_spark.rls import SecurityContext

        self._security = (
            None
            if username is None
            else SecurityContext(username, list(roles or []), superuser)
        )

    def enter_authenticated(
        self, username: str, roles=None, superuser: bool = False
    ) -> None:
        """Bind this session to an AUTHENTICATED identity (the wire
        server's entry point; reference executor.rs:351-460 carries the
        authenticated user on the connection). Unlike a bare
        :meth:`set_security_context`, the identity is remembered: a
        non-superuser session then refuses SET/RESET SESSION
        AUTHORIZATION on EVERY statement path — including PREPARE/
        EXECUTE and procedure bodies, which re-enter ``sql``."""
        self._auth_identity = (username, bool(superuser))
        # authenticated identities automatically carry their RBAC-granted
        # roles (rbac.rs get_user_roles at connection time) so RLS policy
        # scoping and statement permissions see one consistent role set
        merged = sorted(set(list(roles or [])) | set(self.rbac.roles_of(username)))
        self.set_security_context(username, roles=merged, superuser=superuser)

    # -- catalog persistence ---------------------------------------------------
    # The reference persists each table's schema in its meta.json
    # (schema.rs:17-79); here one `_catalog.json` under the storage dir
    # records schemas + FKs so a fresh session (or the CLI) reopens the
    # same tables. Sequences stay session-scoped (they are driver state).

    def _catalog_path(self) -> str:
        import os

        return os.path.join(self.storage_dir, "_catalog.json")

    def _load_catalog(self) -> None:
        import json
        import os

        path = self._catalog_path()
        if not os.path.exists(path):
            return
        with open(path) as fh:
            cat = json.load(fh)
        for name, meta in cat.get("tables", {}).items():
            log = EventLog(
                self.spark, f"{self.storage_dir}/{name}", pk_col=meta["pk"]
            )
            # cols persist as an ORDERED [name, type] list — a plain JSON
            # object would be alphabetized by sort_keys and positional
            # INSERT ... VALUES would bind to the wrong columns on reopen.
            cols = meta["cols"]
            if isinstance(cols, list):
                cols = {c: t for c, t in cols}
            self._tables[name] = (log, dict(cols))
        self._fks = [tuple(fk) for fk in cat.get("fks", [])]
        self._views = dict(cat.get("views", {}))
        self.procedures.load_catalog(cat.get("procedures", {}))
        self.rls.load_catalog(cat.get("rls", {}))
        self.rbac.load_catalog(cat.get("rbac", {}))
        from driftdb_spark.constraints import TableConstraints

        for tname, meta in cat.get("constraints", {}).items():
            self._constraints[tname] = TableConstraints.from_catalog(meta)
        self._mviews = dict(cat.get("mviews", {}))
        from driftdb_spark.views import resolve_versioned

        for name in self._mviews:
            # Re-register the STORED result (that is the point of a
            # materialized view); a missing file means the storage dir was
            # pruned — REFRESH rebuilds it.
            path = resolve_versioned(self.storage_dir, f"mv_{name}")
            if path is not None:
                self.spark.read.parquet(path).createOrReplaceTempView(name)
                self._mview_paths[name] = path
        self._imvs = {k: dict(v) for k, v in cat.get("imvs", {}).items()}
        for name, meta in self._imvs.items():
            # Re-attach each incremental MV: stored result + saved refresh
            # watermark, so REFRESH stays incremental across sessions.
            if meta["source"] not in self._tables:
                continue
            log, schema_cols = self._tables[meta["source"]]
            if resolve_versioned(self.storage_dir, f"imv_{name}") is None:
                continue  # storage pruned; CREATE would rebuild
            self._imv_reg().load(
                name,
                log,
                schema_cols,
                meta["sql"],
                list(meta["group_cols"]),
                meta["source"],
                int(meta["last_seq"]),
                meta.get("rewrite_token"),  # None for pre-r11 catalogs
            )

    def _save_catalog(self) -> None:
        import json
        import os

        os.makedirs(self.storage_dir, exist_ok=True)
        cat = {
            "tables": {
                name: {"pk": log.pk_col, "cols": [[c, t] for c, t in cols.items()]}
                for name, (log, cols) in self._tables.items()
            },
            "fks": [list(fk) for fk in self._fks],
            "views": self._views,
            "procedures": self.procedures.to_catalog(),
            "rls": self.rls.to_catalog(),
            "rbac": self.rbac.to_catalog(),
            "constraints": {
                n: c.to_catalog()
                for n, c in self._constraints.items()
                if not c.is_empty() or c.defaults
            },
            "mviews": self._mviews,
            "imvs": self._imvs,
        }
        tmp = self._catalog_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cat, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._catalog_path())

    # -- DDL -----------------------------------------------------------------

    def create_table(
        self,
        name: str,
        schema_cols: dict[str, str],
        pk: str | None = None,
        constraints=None,
    ) -> EventLog:
        """CREATE TABLE → an EventLog + schema registration (reference
        execute_create_table sql_bridge.rs:5724-5926; PK defaults to the
        first column as the reference does :5872-5886). ``constraints`` is
        a :class:`driftdb_spark.constraints.TableConstraints` — declared
        UNIQUE/CHECK/NOT NULL enforce on every SQL write path (reference
        constraint model constraints.rs:10-34)."""
        from driftdb_spark.constraints import TableConstraints

        # `pk` and `last_seq` are the engine's reconstruction columns
        # (EventLog.state_df); a user column with either name would be
        # ambiguous inside every DML/validation plan. Reject loudly —
        # the system-column-collision rule every event-sourced engine
        # has (the reference reserves its own event envelope fields).
        reserved = {"pk", "last_seq"} & {c.lower() for c in schema_cols}
        if reserved:
            raise ValueError(
                f"column name(s) {sorted(reserved)} are reserved "
                f"(engine reconstruction columns); rename the column"
            )
        pk = pk or next(iter(schema_cols))
        log = EventLog(self.spark, f"{self.storage_dir}/{name}", pk_col=pk)
        self._tables[name] = (log, dict(schema_cols))
        self._constraints[name] = constraints or TableConstraints()
        self._save_catalog()
        return log

    def table(self, name: str) -> EventLog:
        return self._tables[name][0]

    def drop_table(self, name: str) -> None:
        self._tables.pop(name, None)
        self._constraints.pop(name, None)
        self._save_catalog()

    def alter_table_add_column(
        self, table: str, col: str, coltype: str, default=None
    ) -> None:
        """ALTER TABLE ADD COLUMN (reference sql_bridge.rs:6106-6170).

        The event payload is a schemaless map, so adding a column is pure
        schema registration — historic rows simply project NULL, which is
        also what the reference's dynamic JSON rows yield for a missing
        field. A DEFAULT is event-sourced honestly: one Patch event per
        live row backfills the value, so ``FOR SYSTEM_TIME AS OF`` a
        pre-ALTER sequence still shows NULL (the default did not exist
        then). The backfill is a single distributed append, not a rewrite
        of history — O(live rows), no touch of prior events."""
        from pyspark.sql import functions as F

        log, schema_cols = self._tables[table]
        if col in schema_cols:
            raise ValueError(f"column {col} already exists on {table}")
        if default is not None:
            live = log.state_df(schema_cols).select(log.pk_col)
            log.patch(live.withColumn(col, F.lit(default).cast(coltype)))
            # Future inserts that omit the column also get the default
            # (reference Default constraint, constraints.rs:30-33).
            from driftdb_spark.constraints import TableConstraints

            self._constraints.setdefault(table, TableConstraints()).defaults[
                col
            ] = render_literal(default)
        schema_cols[col] = coltype
        self._save_catalog()

    # -- query / dispatch ------------------------------------------------------

    def sql(self, query: str, args=None) -> DataFrame | int:
        """Execute SQL with optional FOR SYSTEM_TIME clause. The temporal
        target applies to every event-backed table in the query — exactly
        the reference's semantics (joins included, sql_bridge.rs:1316-1321).

        Statement dispatch mirrors the reference's (trim → route DML/DDL to
        the event engine, everything else to the real parser —
        sql_bridge.rs:274-757): ``CREATE TABLE``, ``INSERT INTO``,
        ``UPDATE``, ``DELETE FROM``, and ``TRUNCATE`` on event-backed
        tables route to the EventLog (returning the end sequence);
        everything else goes to Catalyst as a query over the reconstructed
        state views. DML parsing is Spark's: :meth:`_dml_shape` reads each
        INSERT/UPDATE/DELETE/MERGE with Spark's own parser, and its
        VALUES, assignments and conditions stay SQL expression text
        evaluated by Catalyst — this dispatcher never re-implements
        expression parsing.

        ``args`` enables parameterized SQL (reference ``$1``-style params,
        sql_bridge.rs:183-226): a dict binds named ``:name`` markers, a
        list binds positional ``?`` markers — Spark's native parameter
        binding, so values never interpolate into the SQL text.

        Every top-level statement is recorded in the session query log
        (reference SlowQueryLogger, driftdb-server slow_query_log.rs:
        45-244) — see :meth:`query_log` / :meth:`slow_queries`. DML and
        maintenance statements execute eagerly, so their wall time is
        end-to-end; a SELECT returns a lazy DataFrame, so its entry
        measures dispatch + planning (execution happens at the caller's
        action, which the engine cannot see from here).
        """
        import time as _time

        if (
            self._sql_depth == 0
            and self._rate_limiter is not None
            and not self._rate_limiter.try_acquire()
        ):
            self.security.record(
                "rate_limit_exceeded",
                actor=self._security.username if self._security else None,
            )
            raise RateLimitExceeded(
                "statement rate limit exceeded; retry after backoff"
            )
        self._sql_depth += 1
        t0 = _time.perf_counter()
        err = None
        try:
            return self._sql_impl(query, args)
        except Exception as exc:
            err = f"{type(exc).__name__}: {exc}"
            # ANY failed statement poisons an open transaction (PostgreSQL /
            # reference aborted-txn gate, sql_bridge.rs:335-346) — including
            # parse/analysis errors that never reach a statement handler.
            if self._active_txn is not None:
                self._active_txn.mark_aborted()
            raise
        finally:
            self._sql_depth -= 1
            if self._sql_depth == 0:
                self._statements_total += 1
                if err is not None:
                    self._errors_total += 1
                self._query_log.append(
                    {
                        "statement": query.strip(),
                        "wall_ms": round((_time.perf_counter() - t0) * 1000, 3),
                        "actor": self._security.username if self._security else None,
                        "error": err,
                    }
                )
                if len(self._query_log) > 2000:
                    del self._query_log[:1000]

    def query_log(self) -> DataFrame:
        """The session's statement log as a DataFrame."""
        schema = "statement string, wall_ms double, actor string, error string"
        if not self._query_log:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(self._query_log, schema)

    def slow_queries(self, min_ms: float = 100.0) -> DataFrame:
        """Statements slower than the threshold, slowest first (reference
        get_recent_queries + threshold config)."""
        from pyspark.sql import functions as F

        return self.query_log().filter(F.col("wall_ms") >= min_ms).orderBy(
            F.col("wall_ms").desc()
        )

    def clear_query_log(self) -> None:
        self._query_log.clear()

    def statement_stats(self) -> DataFrame:
        """Per-verb execution statistics over the query log (reference
        SlowQueryStatistics, slow_query_log.rs:206-236): count, errors,
        total/median/p95 wall time."""
        from pyspark.sql import functions as F

        return (
            self.query_log()
            .select(
                F.upper(F.split(F.col("statement"), r"\s+")[0]).alias("verb"),
                "wall_ms",
                "error",
            )
            .groupBy("verb")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                    "n_errors"
                ),
                F.round(F.sum("wall_ms"), 3).alias("total_ms"),
                F.round(F.expr("percentile(wall_ms, 0.5)"), 3).alias("p50_ms"),
                F.round(F.expr("percentile(wall_ms, 0.95)"), 3).alias("p95_ms"),
            )
        )

    def status_snapshot(self) -> dict:
        """Live engine counters as a plain dict (reference monitoring.rs
        MonitoringSystem + driftdb-server health.rs/metrics.rs surface).

        Pure driver-side Python over the in-memory query log — NO Spark
        job, no exec_lock — so a metrics scrape stays cheap and returns
        promptly even while a long statement holds the executors. Latency
        percentiles are computed over the retained log window (ring buffer
        of ≤2000 statements); counts are monotonic totals."""
        import time as _time

        log = list(self._query_log)  # snapshot vs concurrent append
        walls = sorted(e["wall_ms"] for e in log)

        def _pct(p: float) -> float:
            if not walls:
                return 0.0
            # nearest-rank on the retained window
            i = min(len(walls) - 1, max(0, int(round(p * (len(walls) - 1)))))
            return round(walls[i], 3)

        verbs: dict[str, int] = {}
        for e in log:
            v = e["statement"].split(None, 1)[0].upper() if e["statement"] else "?"
            verbs[v] = verbs.get(v, 0) + 1
        return {
            "status": "ok",
            "uptime_sec": round(_time.time() - self._started_at, 3),
            "statements_total": self._statements_total,
            "errors_total": self._errors_total,
            "statements_in_window": len(log),
            "latency_ms": {"p50": _pct(0.5), "p95": _pct(0.95), "max": _pct(1.0)},
            "statements_by_verb": dict(sorted(verbs.items())),
            "tables": len(self._tables),
            "views": len(self._views) + len(self._mviews) + len(self._imvs),
            "transaction_open": self._active_txn is not None,
            "rate_limited": self._rate_limiter is not None,
            "security_events": self.security.counters(),
            **(
                {"result_cache": self._result_cache.statistics()}
                if self._result_cache is not None
                else {}
            ),
        }

    def sql_with_timeout(self, query: str, timeout_sec: float, args=None):
        """Execute a statement with a wall-clock budget (reference
        query_cancellation.rs: cooperative cancellation checked during
        execution; Spark's native form is job-group cancellation, which
        interrupts running tasks). The statement executes EAGERLY — a
        SELECT returns its collected rows — because a lazy DataFrame
        could not be covered by the budget. On expiry every job in the
        statement's group is cancelled and :class:`QueryCancelled`
        raises; partial work is discarded (reads are side-effect-free
        and DML publishes atomically at the end, so a cancelled write
        publishes nothing)."""
        import threading
        import uuid

        sc = self.spark.sparkContext
        group = f"drift-timeout-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, query[:100], interruptOnCancel=True)
        fired = threading.Event()

        def cancel():
            fired.set()
            sc.cancelJobGroup(group)

        timer = threading.Timer(timeout_sec, cancel)
        timer.start()
        try:
            out = self.sql(query, args)
            if isinstance(out, DataFrame):
                out = out.collect()
            return out
        except Exception as exc:
            if fired.is_set():
                raise QueryCancelled(
                    f"statement exceeded {timeout_sec}s and was cancelled"
                ) from exc
            raise
        finally:
            timer.cancel()
            sc.setJobGroup("", "")

    def _refuse_in_txn(self, verb: str) -> None:
        """The one 25001 gate for statements that rewrite a table's log:
        a rewrite cannot be buffered and rolled back (PostgreSQL refuses
        VACUUM inside a transaction block the same way)."""
        if self._active_txn is not None:
            raise ActiveSqlTransaction(
                f"{verb} cannot run inside a transaction block"
            )

    def _sql_impl(self, query: str, args=None) -> DataFrame | int:
        stripped = query.strip().rstrip(";").strip()
        # PostgreSQL-style aborted-transaction gate, covering every
        # statement uniformly (reference sql_bridge.rs:335-346): after a
        # failed statement, only ROLLBACK [TO SAVEPOINT] and COMMIT
        # (which acts as ROLLBACK) get through.
        if (
            self._active_txn is not None
            and self._active_txn.aborted
            and not _re.match(r"^(ROLLBACK|COMMIT)\b", stripped, _re.IGNORECASE)
        ):
            from driftdb_spark.transactions import TransactionAborted

            raise TransactionAborted()
        # Read-only replica gate (replication.py, reference replication.rs:
        # replicas serve reads only — the Postgres-standby 25006 refusal).
        # Catches every statement-level mutation, including DDL and
        # maintenance; anything that slips through an indirect path
        # (procedure body, direct EventLog call) is caught again by the
        # per-log read_only check in events.py.
        if self._read_only and self._writes(stripped):
            from driftdb_spark.events import ReadOnlyLog

            raise ReadOnlyLog(
                f"cannot execute {stripped.split(None, 1)[0].upper()} on a "
                "read-only replica (promote it to accept writes)"
            )
        if self._ESCAPED_LITERALS_SET_RE.match(stripped):
            # The engine's statement classifiers (the wire write-lock
            # gate, RBAC, EXPLAIN's DML guard) lex string literals with
            # backslash escapes enabled — Spark's default — and double
            # quotes as strings under the session's pinned ANSI confs.
            # Flipping any literal/identifier-lexing mode mid-session
            # would make the lexer and Spark disagree about where a
            # literal ends, which is exactly the gap a crafted CTE could
            # use to smuggle DML past the classifiers.
            raise ValueError(
                "SET of parser/lexing modes (escapedStringLiterals, "
                "ansi.enabled, ansi.doubleQuotedIdentifiers) is not "
                "supported by this engine"
            )
        # Injection-pattern guard (reference sql_validator.rs) — opt-in,
        # restricted identities only; see sqlguard.py for positioning
        if (
            self._sql_guard
            and self._security is not None
            and not self._security.is_superuser
        ):
            from driftdb_spark import sqlguard

            hits = sqlguard.inspect(stripped)
            if hits:
                self.security.record(
                    "sql_injection_pattern", actor=self._security.username
                )
                if self._sql_guard_block:
                    raise sqlguard.SqlRejected(
                        "statement refused by the SQL injection guard: "
                        + ", ".join(hits)
                    )
        # Statement-level RBAC (reference rbac.rs / rbac_enforcement.rs):
        # once any grant exists, a restricted (non-superuser) identity may
        # only run statement kinds its roles permit — default deny, 42501,
        # recorded as a security event. Owner sessions and superusers
        # bypass; RLS still scopes the rows afterwards.
        if (
            self._security is not None
            and not self._security.is_superuser
            and not self._rbac_exempt
        ):
            from driftdb_spark.rbac import PermissionDenied, statement_permissions

            perms = statement_permissions(stripped)
            perm = perms[0] if perms else None
            if self.rbac.enabled():
                # normally one permission; an unlexable CTE prefix yields
                # the union of DML verbs present, ALL required (rbac.py)
                for p in perms:
                    if not self.rbac.has_permission(self._security.username, p):
                        self.security.record(
                            "permission_denied", actor=self._security.username
                        )
                        raise PermissionDenied(
                            f"permission denied: user {self._security.username!r} "
                            f"lacks {p!r} (roles: "
                            f"{', '.join(self.rbac.roles_of(self._security.username)) or 'none'})"
                        )
            elif perm in ("grant_role", "revoke_role"):
                # Bootstrap gate: before the first grant exists, role
                # management is superuser/owner-only — otherwise any
                # restricted identity could issue the inaugural
                # `GRANT ROLE superuser TO <self>` and seize RBAC control.
                # The reference gates GrantRole unconditionally (rbac.rs).
                self.security.record(
                    "permission_denied", actor=self._security.username
                )
                raise PermissionDenied(
                    f"permission denied: user {self._security.username!r} "
                    "cannot bootstrap RBAC (role management before the "
                    "first grant is superuser-only)"
                )
        routed = self._dispatch_txn(stripped)
        if routed is not None:
            return routed
        routed = self._dispatch_rbac(stripped)
        if routed is not None:
            return routed
        routed = self._dispatch_dml(stripped)
        if routed is not None:
            return routed
        clean, asof = parse_system_time(stripped)
        is_info = bool(self._INFO_SCHEMA_RE.search(clean))
        if is_info:
            clean = self._rewrite_info_schema(clean)
        # register only what this statement can reach — O(referenced),
        # not O(catalog) (see _scope)
        scope = self._scope(clean)
        cache = self._result_cache
        if cache is not None and not is_info:
            tables = cache.cacheable(clean, scope)
            if tables is not None:
                key = cache._key(clean, asof, args, tables)
                hit = cache.lookup(key)
                if hit is not None:
                    # a hit scans the materialized parquet directly — no
                    # state-view registration, no re-planning
                    return hit
                self._register(asof, scope)
                df = (
                    self.spark.sql(clean)
                    if args is None
                    else self.spark.sql(clean, args=args)
                )
                return cache.store(key, df)
            cache.bypasses += 1
        self._register(asof, scope)
        if args is None:
            return self.spark.sql(clean)
        return self.spark.sql(clean, args=args)

    _TRUNCATE_RE = _re.compile(
        r"^TRUNCATE\s+(?:TABLE\s+)?(\w+)$", _re.IGNORECASE
    )
    _CREATE_RE = _re.compile(
        r"^CREATE\s+TABLE\s+(\w+)\s*\((.*)\)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _CTAS_RE = _re.compile(
        r"^CREATE\s+TABLE\s+(\w+)\s+AS\s+((?:SELECT|WITH)\b.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _ON_CONFLICT_RE = _re.compile(
        r"\s+ON\s+CONFLICT\s+DO\s+(NOTHING|UPDATE)$", _re.IGNORECASE
    )
    _DROP_COLUMN_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)$", _re.IGNORECASE
    )

    #: confs that change how Spark LEXES literals/identifiers — flipping
    #: any of them would make the engine's statement classifiers (wire
    #: write-lock gate, RBAC, EXPLAIN's DML guard) disagree with Spark
    #: about where a literal ends, the exact gap a crafted CTE could use
    #: to smuggle DML past them: escapedStringLiterals (backslash
    #: escapes), ansi.doubleQuotedIdentifiers / ansi.enabled (double
    #: quotes lex as identifiers, not strings — r10 ADVICE)
    _ESCAPED_LITERALS_SET_RE = _re.compile(
        r"^SET\s+.*(escapedStringLiterals"
        r"|ansi\.doubleQuotedIdentifiers"
        r"|ansi\.enabled)",
        _re.IGNORECASE,
    )
    #: verbs a read-only replica refuses: every statement-level mutation,
    #: DDL and maintenance included
    _WRITE_VERBS = frozenset(
        "INSERT UPDATE DELETE TRUNCATE MERGE CREATE DROP ALTER SNAPSHOT "
        "COMPACT PURGE VACUUM CHECKPOINT REFRESH GRANT REVOKE".split()
    )

    @classmethod
    def _writes(cls, sql: str) -> bool:
        """The read-only replica gate: running ``sql`` mutates state.
        EXPLAIN never does; a head that does not lex writes if a DML verb
        appears in it outside literals and comments."""
        head = classify(sql)
        return not head.explain and (
            head.verb in cls._WRITE_VERBS or bool(head.dml_verbs())
        )

    _ALTER_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+(\w+)"
        r"(?:\s+DEFAULT\s+(.+))?$",
        _re.IGNORECASE,
    )
    _DROP_TABLE_RE = _re.compile(r"^DROP\s+TABLE\s+(\w+)$", _re.IGNORECASE)
    _SNAPSHOT_RE = _re.compile(
        r"^(SNAPSHOT|COMPACT)\s+(?:TABLE\s+)?(\w+)$", _re.IGNORECASE
    )
    _PURGE_RE = _re.compile(
        r"^PURGE\s+FROM\s+(\w+)\s+KEYS\s*\((.+)\)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _CREATE_INDEX_RE = _re.compile(
        r"^CREATE\s+INDEX\s+\w+\s+ON\s+\w+\s*\([^)]*\)$", _re.IGNORECASE
    )
    _CREATE_UNIQUE_INDEX_RE = _re.compile(
        r"^CREATE\s+UNIQUE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\(([^)]*)\)$",
        _re.IGNORECASE,
    )
    _ADD_CONSTRAINT_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+(?:CONSTRAINT\s+(\w+)\s+)?"
        r"(UNIQUE\s*\(([^)]*)\)|CHECK\s*\(.*\))$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _DROP_CONSTRAINT_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)$", _re.IGNORECASE
    )
    _SET_NOT_NULL_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+(SET|DROP)\s+"
        r"NOT\s+NULL$",
        _re.IGNORECASE,
    )
    _CREATE_MVIEW_RE = _re.compile(
        r"^CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _CREATE_IMVIEW_RE = _re.compile(
        r"^CREATE\s+INCREMENTAL\s+MATERIALIZED\s+VIEW\s+(\w+)\s+ON\s+(\w+)"
        r"\s+GROUP\s+BY\s+\(([^)]*)\)\s+AS\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _REFRESH_MVIEW_RE = _re.compile(
        r"^REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)$", _re.IGNORECASE
    )
    _DROP_MVIEW_RE = _re.compile(
        r"^DROP\s+MATERIALIZED\s+VIEW\s+(\w+)$", _re.IGNORECASE
    )
    _CREATE_VIEW_RE = _re.compile(
        r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _DROP_VIEW_RE = _re.compile(r"^DROP\s+VIEW\s+(\w+)$", _re.IGNORECASE)
    _VACUUM_RE = _re.compile(r"^VACUUM\s+(\w+)$", _re.IGNORECASE)
    _CHECKPOINT_RE = _re.compile(r"^CHECKPOINT\s+TABLE\s+(\w+)$", _re.IGNORECASE)
    _ANALYZE_RE = _re.compile(
        r"^ANALYZE(?:\s+(?:TABLE\s+)?(\w+))?$", _re.IGNORECASE
    )
    _BEGIN_RE = _re.compile(
        r"^(?:BEGIN|START\s+TRANSACTION)(?:\s+(?:TRANSACTION|WORK))?$", _re.IGNORECASE
    )
    _COMMIT_RE = _re.compile(r"^COMMIT(?:\s+(?:TRANSACTION|WORK))?$", _re.IGNORECASE)
    _ROLLBACK_TO_RE = _re.compile(
        r"^ROLLBACK\s+TO\s+(?:SAVEPOINT\s+)?(\w+)$", _re.IGNORECASE
    )
    _ROLLBACK_RE = _re.compile(
        r"^ROLLBACK(?:\s+(?:TRANSACTION|WORK))?$", _re.IGNORECASE
    )
    _SAVEPOINT_RE = _re.compile(r"^SAVEPOINT\s+(\w+)$", _re.IGNORECASE)
    _RELEASE_RE = _re.compile(
        r"^RELEASE\s+(?:SAVEPOINT\s+)?(\w+)$", _re.IGNORECASE
    )
    _DESCRIBE_RE = _re.compile(
        r"^(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(\w+)$", _re.IGNORECASE
    )
    _SHOW_TABLES_RE = _re.compile(r"^SHOW\s+TABLES$", _re.IGNORECASE)
    _SHOW_STATUS_RE = _re.compile(r"^SHOW\s+STATUS$", _re.IGNORECASE)
    _SHOW_REPL_STATUS_RE = _re.compile(
        r"^SHOW\s+REPLICATION\s+STATUS$", _re.IGNORECASE
    )
    _SHOW_CREATE_RE = _re.compile(
        r"^SHOW\s+CREATE\s+TABLE\s+(\w+)$", _re.IGNORECASE
    )
    _PREPARE_RE = _re.compile(
        r"^PREPARE\s+(\w+)\s*(?:\([^)]*\)\s*)?AS\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _EXECUTE_RE = _re.compile(
        r"^EXECUTE\s+(\w+)\s*(?:\((.*)\))?$", _re.IGNORECASE | _re.DOTALL
    )
    _DEALLOCATE_RE = _re.compile(
        r"^DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)$", _re.IGNORECASE
    )
    _DECLARE_CURSOR_RE = _re.compile(
        r"^DECLARE\s+(\w+)\s+(?:NO\s+SCROLL\s+)?CURSOR\s+FOR\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _FETCH_RE = _re.compile(
        r"^FETCH\s+(?:FORWARD\s+)?(NEXT|ALL|\d+)?\s*(?:FROM|IN)\s+(\w+)$",
        _re.IGNORECASE,
    )
    _CLOSE_CURSOR_RE = _re.compile(r"^CLOSE\s+(\w+|ALL)$", _re.IGNORECASE)
    _CREATE_PROC_RE = _re.compile(
        r"^CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+(\w+)\s*\(([^)]*)\)\s+AS\s+(.*)$",
        _re.IGNORECASE | _re.DOTALL,
    )
    _DROP_PROC_RE = _re.compile(r"^DROP\s+PROCEDURE\s+(\w+)$", _re.IGNORECASE)
    _CALL_RE = _re.compile(r"^CALL\s+(\w+)\s*\((.*)\)$", _re.IGNORECASE | _re.DOTALL)

    def _dispatch_txn(self, q: str):
        """SQL-level transaction control (reference Statement::
        StartTransaction/Commit/Rollback/Savepoint/ReleaseSavepoint arms,
        sql_bridge.rs:453-568). While a transaction is open, DML routes
        into the buffered :class:`SessionTransaction` and SELECT reads the
        transaction's own view (read-your-writes); COMMIT publishes each
        touched table's buffer as one atomic batch."""
        if self._BEGIN_RE.match(q):
            if self._active_txn is not None:
                raise RuntimeError("there is already a transaction in progress")
            self._active_txn = self.begin()
            return 0
        m = self._ROLLBACK_TO_RE.match(q)
        if m:
            if self._active_txn is None:
                raise RuntimeError("no transaction in progress")
            self._active_txn.rollback_to(m.group(1))
            return 0
        if self._COMMIT_RE.match(q):
            if self._active_txn is None:
                return 0  # PostgreSQL: warning, no-op
            seqs = self._active_txn.commit()
            self._active_txn = None
            return max(seqs.values(), default=0)
        if self._ROLLBACK_RE.match(q):
            if self._active_txn is None:
                return 0  # PostgreSQL: warning, no-op
            self._active_txn.rollback()
            self._active_txn = None
            return 0
        m = self._SAVEPOINT_RE.match(q)
        if m:
            if self._active_txn is None:
                raise RuntimeError("SAVEPOINT can only be used in transaction blocks")
            self._active_txn.savepoint(m.group(1))
            return 0
        m = self._RELEASE_RE.match(q)
        if m and m.group(1).upper() not in ("TRANSACTION", "WORK"):
            if self._active_txn is None:
                raise RuntimeError(
                    "RELEASE SAVEPOINT can only be used in transaction blocks"
                )
            self._active_txn.release(m.group(1))
            return 0
        m = self._VACUUM_RE.match(q)
        if m and m.group(1) in self._tables:
            # PostgreSQL convention, reference sql_bridge.rs:279-289:
            # VACUUM <table> → COMPACT.
            self._refuse_in_txn("VACUUM")
            log = self._tables[m.group(1)][0]
            log.compact()
            return log.last_sequence()
        m = self._CHECKPOINT_RE.match(q)
        if m and m.group(1) in self._tables:
            # Reference sql_bridge.rs:291-302: CHECKPOINT TABLE → SNAPSHOT.
            return self._tables[m.group(1)][0].snapshot()
        m = self._ANALYZE_RE.match(q)
        if m and (m.group(1) is None or m.group(1) in self._tables):
            return self._sql_analyze(m.group(1))
        routed = self._dispatch_rls(q)
        if routed is not None:
            return routed
        m = self._SHOW_STATUS_RE.match(q)
        if m:
            # Wire-reachable engine status (reference health.rs liveness +
            # metrics.rs query counters): one row per counter so any
            # client — psql included — can scrape it without JSON parsing.
            snap = self.status_snapshot()
            flat = [
                ("status", snap["status"]),
                ("uptime_sec", str(snap["uptime_sec"])),
                ("statements_total", str(snap["statements_total"])),
                ("errors_total", str(snap["errors_total"])),
                ("latency_p50_ms", str(snap["latency_ms"]["p50"])),
                ("latency_p95_ms", str(snap["latency_ms"]["p95"])),
                ("latency_max_ms", str(snap["latency_ms"]["max"])),
                ("tables", str(snap["tables"])),
                ("views", str(snap["views"])),
                ("transaction_open", str(snap["transaction_open"]).lower()),
            ] + [
                (f"statements_{v.lower()}", str(n))
                for v, n in snap["statements_by_verb"].items()
            ]
            return self.spark.createDataFrame(flat, "name string, value string")
        m = self._SHOW_REPL_STATUS_RE.match(q)
        if m:
            # Wire-reachable standby introspection (reference
            # get_replication_lag, replication.rs:612-620): works on any
            # session — a non-replica answers role=primary with no lag
            # rows, a replica session (replication.Replica binds itself
            # via _replica_status_fn) reports role, heartbeat age, and
            # per-table entry lag without a Spark job.
            if getattr(self, "_replica_status_fn", None) is not None:
                st = self._replica_status_fn()
                flat = [
                    ("role", str(st["role"])),
                    ("read_only", str(st["read_only"]).lower()),
                    ("stream_epoch", str(st["stream_epoch"])),
                    ("heartbeat_age_sec", str(st["heartbeat_age_sec"])),
                    ("max_lag_entries", str(st["max_lag_entries"])),
                ] + [
                    (f"lag_entries_{t}", str(n))
                    for t, n in sorted(st["tables"].items())
                ]
            else:
                flat = [
                    ("role", "primary"),
                    ("read_only", str(self._read_only).lower()),
                ]
            return self.spark.createDataFrame(flat, "name string, value string")
        m = self._SHOW_TABLES_RE.match(q)
        if m:
            # Session-catalog introspection (the reference CLI's `tables`;
            # psql's \dt shape): event-backed tables with pk + row-ish
            # metadata, plus registered view names.
            rows = (
                [
                    (name, "table", log.pk_col, len(cols))
                    for name, (log, cols) in sorted(self._tables.items())
                ]
                + [(name, "view", None, None) for name in sorted(self._views)]
                + [
                    (name, "materialized view", None, None)
                    for name in sorted(self._mviews)
                ]
                + [
                    (name, "incremental materialized view", None, None)
                    for name in sorted(self._imvs)
                ]
            )
            return self.spark.createDataFrame(
                rows, "name string, kind string, primary_key string, n_columns int"
            )
        m = self._DESCRIBE_RE.match(q)
        if m and m.group(1) in self._tables:
            # DESCRIBE over an event-backed table: engine metadata the
            # temp-view DESCRIBE cannot know — PK, NOT NULL, UNIQUE
            # membership, CHECKs, DEFAULTs.
            from driftdb_spark.constraints import TableConstraints

            log, schema_cols = self._tables[m.group(1)]
            cons = self._constraints.get(m.group(1)) or TableConstraints()
            uniq_cols = {c for u in cons.uniques for c in u if len(u) == 1}
            rows = []
            for c, t in schema_cols.items():
                rows.append(
                    (
                        c,
                        t,
                        c != log.pk_col and c not in cons.not_null,
                        "PRI" if c == log.pk_col else ("UNI" if c in uniq_cols else None),
                        cons.defaults.get(c),
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "column string, type string, nullable boolean, key string, default string",
            )
        m = self._SHOW_CREATE_RE.match(q)
        if m and m.group(1) in self._tables:
            from driftdb_spark.constraints import TableConstraints

            name = m.group(1)
            log, schema_cols = self._tables[name]
            cons = self._constraints.get(name) or TableConstraints()
            parts = []
            for c, t in schema_cols.items():
                bits = [c, t.upper()]
                if c == log.pk_col:
                    bits.append("PRIMARY KEY")
                if c in cons.not_null:
                    bits.append("NOT NULL")
                if [c] in cons.uniques:
                    bits.append("UNIQUE")
                if c in cons.defaults:
                    bits.append(f"DEFAULT {cons.defaults[c]}")
                parts.append(" ".join(bits))
            names = cons.unique_names + [None] * (
                len(cons.uniques) - len(cons.unique_names)
            )
            for u, nm in zip(cons.uniques, names):
                if len(u) > 1:
                    prefix = f"CONSTRAINT {nm} " if nm else ""
                    parts.append(f"{prefix}UNIQUE ({', '.join(u)})")
            for cname, expr in cons.checks:
                parts.append(f"CONSTRAINT {cname} CHECK ({expr})")
            for child, ccol, parent, pcol, action in self._fks:
                if child == name:
                    parts.append(
                        f"FOREIGN KEY ({ccol}) REFERENCES {parent} ({pcol})"
                        + (" ON DELETE CASCADE" if action == "cascade" else "")
                    )
            ddl = f"CREATE TABLE {name} (\n  " + ",\n  ".join(parts) + "\n)"
            return self.spark.createDataFrame([(ddl,)], "ddl string")
        m = self._DECLARE_CURSOR_RE.match(q)
        if m:
            # DECLARE name CURSOR FOR <query> — server-side paging
            # (PostgreSQL surface; the reference's wire layer has no
            # cursor support). The result streams through
            # ``toLocalIterator``: FETCH n materializes n rows to the
            # driver, the rest stay distributed — a cursor over a fact
            # table never collects it.
            name, body = m.group(1), m.group(2).strip()
            if name in self._cursors:
                raise ValueError(f'cursor "{name}" already exists')
            out = self.sql(body)
            if not isinstance(out, DataFrame):
                raise ValueError("DECLARE CURSOR requires a query")
            self._cursors[name] = {
                "iter": out.toLocalIterator(prefetchPartitions=True),
                "schema": out.schema,
            }
            return 0
        m = self._FETCH_RE.match(q)
        if m and m.group(2) in self._cursors:
            import itertools as _it

            cur = self._cursors[m.group(2)]
            spec = (m.group(1) or "NEXT").upper()
            if spec == "ALL":
                rows = list(cur["iter"])
            else:
                n = 1 if spec == "NEXT" else int(spec)
                rows = list(_it.islice(cur["iter"], n))
            return self.spark.createDataFrame(rows, cur["schema"])
        m = self._CLOSE_CURSOR_RE.match(q)
        if m and (m.group(1).upper() == "ALL" or m.group(1) in self._cursors):
            if m.group(1).upper() == "ALL":
                self._cursors.clear()
            else:
                self._cursors.pop(m.group(1), None)
            return 0
        m = self._PREPARE_RE.match(q)
        if m:
            # PREPARE name [(types)] AS stmt — session-level prepared
            # statements (PostgreSQL surface; the reference serves the
            # equivalent over the wire, extended_protocol.rs, and
            # sql_bridge.rs:183-226 binds $N parameters). $N markers
            # rewrite to the session's :pN named parameters; declared
            # type lists are accepted and ignored (text-shape inference,
            # like the wire path).
            self._prepared[m.group(1)] = number_params(
                m.group(2).strip().rstrip(";")
            )
            return 0
        m = self._EXECUTE_RE.match(q)
        if m and m.group(1) in self._prepared:
            body, n_params = self._prepared[m.group(1)]
            exprs = split_top_level(m.group(2) or "")
            if len(exprs) != n_params:
                raise ValueError(
                    f"prepared statement {m.group(1)} expects {n_params} "
                    f"argument(s), got {len(exprs)}"
                )
            # Constant argument expressions fold via Catalyst (no table
            # access) — same policy as CALL.
            vals = [
                self.spark.sql(f"SELECT ({e}) AS v").first()["v"] for e in exprs
            ]
            return self._run_with_params(body, vals)
        m = self._DEALLOCATE_RE.match(q)
        if m:
            if m.group(1).upper() == "ALL":
                self._prepared.clear()
            elif self._prepared.pop(m.group(1), None) is None:
                raise KeyError(f"no such prepared statement: {m.group(1)}")
            return 0
        m = self._CREATE_PROC_RE.match(q)
        if m:
            # CREATE [OR REPLACE] PROCEDURE name(p1, p2) AS $$ s1; s2 $$
            # (reference ProcedureManager::create_procedure,
            # procedures.rs:457-500; its SQL bridge never wires CALL —
            # sql_bridge.rs:752 — so the statement surface here is the
            # PostgreSQL shape). Body may be dollar-quoted or bare.
            params = [p.strip() for p in m.group(2).split(",") if p.strip()]
            body = m.group(3).strip()
            if body.startswith("$$") and body.endswith("$$"):
                body = body[2:-2]
            stmts = split_top_level(body, ";")
            self.procedures.create(m.group(1), params, stmts)
            self._save_catalog()
            return 0
        m = self._DROP_PROC_RE.match(q)
        if m:
            self.procedures.drop(m.group(1))
            self._save_catalog()
            return 0
        m = self._CALL_RE.match(q)
        if m:
            name = m.group(1)
            params = (
                self.procedures._sql_procs.get(name)
                or self.procedures._py_procs.get(name)
                or (None,)
            )[0]
            if params is None:
                raise KeyError(f"no such procedure: {name}")
            exprs = split_top_level(m.group(2))
            if len(exprs) != len(params):
                raise ValueError(
                    f"procedure {name} expects {len(params)} argument(s), "
                    f"got {len(exprs)}"
                )
            # Each argument is a constant SQL expression, folded by
            # Catalyst (no table access) — the reference evaluates CALL
            # arguments the same way (procedures.rs Expression eval).
            args = {
                p: self.spark.sql(f"SELECT ({e}) AS v").first()["v"]
                for p, e in zip(params, exprs)
            }
            return self.procedures.call(name, args)
        return None

    _CREATE_POLICY_RE = _re.compile(
        r"^CREATE\s+POLICY\s+(\w+)\s+ON\s+(\w+)(.*)$", _re.IGNORECASE | _re.DOTALL
    )
    _DROP_POLICY_RE = _re.compile(
        r"^DROP\s+POLICY\s+(\w+)\s+ON\s+(\w+)$", _re.IGNORECASE
    )
    _RLS_ENABLE_RE = _re.compile(
        r"^ALTER\s+TABLE\s+(\w+)\s+(ENABLE|DISABLE)\s+ROW\s+LEVEL\s+SECURITY$",
        _re.IGNORECASE,
    )
    _SET_AUTH_RE = _re.compile(
        r"^SET\s+SESSION\s+AUTHORIZATION\s+(\w+)$", _re.IGNORECASE
    )
    _RESET_AUTH_RE = _re.compile(
        r"^RESET\s+SESSION\s+AUTHORIZATION$", _re.IGNORECASE
    )

    def _require_authorization_privilege(self) -> None:
        """Only a superuser (or the embedded owner) may change session
        authorization. Enforced HERE — in the one dispatcher every
        statement path funnels through — so the wire, PREPARE/EXECUTE,
        CALL bodies and nested sql all meet the same gate (PostgreSQL
        error 42501)."""
        if self._auth_identity is not None and not self._auth_identity[1]:
            self.security.record(
                "privilege_violation",
                actor=self._auth_identity[0],
                detail="SET/RESET SESSION AUTHORIZATION by restricted identity",
            )
            err = PermissionError(
                "permission denied to set session authorization"
            )
            err.sqlstate = "42501"
            raise err

    _GRANT_ROLE_RE = _re.compile(
        r"^GRANT\s+ROLE\s+(\w+)\s+TO\s+(\w+)$", _re.IGNORECASE
    )
    _REVOKE_ROLE_RE = _re.compile(
        r"^REVOKE\s+ROLE\s+(\w+)\s+FROM\s+(\w+)$", _re.IGNORECASE
    )
    _CREATE_ROLE_RE = _re.compile(
        r"^CREATE\s+ROLE\s+(\w+)\s+WITH\s+PERMISSIONS\s*\(([^)]*)\)$",
        _re.IGNORECASE,
    )
    _DROP_ROLE_RE = _re.compile(r"^DROP\s+ROLE\s+(\w+)$", _re.IGNORECASE)
    _SHOW_ROLES_RE = _re.compile(r"^SHOW\s+ROLES$", _re.IGNORECASE)
    _SHOW_GRANTS_RE = _re.compile(
        r"^SHOW\s+GRANTS(?:\s+FOR\s+(\w+))?$", _re.IGNORECASE
    )

    def _dispatch_rbac(self, q: str):
        """GRANT/REVOKE ROLE, CREATE/DROP ROLE, SHOW ROLES/GRANTS —
        the reference RbacManager surface (rbac.rs:381-520) as SQL. The
        permission gate in ``_sql_impl`` has already run: a restricted
        identity needs grant_role/revoke_role/view_roles to get here."""
        m = self._GRANT_ROLE_RE.match(q)
        if m:
            self.rbac.grant_role(m.group(2), m.group(1).lower())
            self._save_catalog()
            return 0
        m = self._REVOKE_ROLE_RE.match(q)
        if m:
            self.rbac.revoke_role(m.group(2), m.group(1).lower())
            self._save_catalog()
            return 0
        m = self._CREATE_ROLE_RE.match(q)
        if m:
            perms = [p.strip().lower() for p in m.group(2).split(",") if p.strip()]
            self.rbac.create_custom_role(m.group(1).lower(), perms)
            self._save_catalog()
            return 0
        m = self._DROP_ROLE_RE.match(q)
        if m:
            self.rbac.delete_custom_role(m.group(1).lower())
            self._save_catalog()
            return 0
        if self._SHOW_ROLES_RE.match(q):
            rows = [
                (name, system, ",".join(sorted(perms)))
                for name, system, perms in self.rbac.all_roles()
            ]
            return self.spark.createDataFrame(
                rows, "role string, system boolean, permissions string"
            )
        m = self._SHOW_GRANTS_RE.match(q)
        if m:
            grants = self.rbac.to_catalog()["grants"]
            users = [m.group(1)] if m.group(1) else sorted(grants)
            rows = [
                (u, r) for u in users for r in grants.get(u, [])
            ]
            return self.spark.createDataFrame(rows or [], "username string, role string")
        return None

    def _dispatch_rls(self, q: str):
        """Row-level-security DDL (PostgreSQL statement shapes; reference
        policy model row_level_security.rs:25-130)."""
        from driftdb_spark.rls import Policy

        m = self._RLS_ENABLE_RE.match(q)
        if m and m.group(1) in self._tables:
            (self.rls.enable if m.group(2).upper() == "ENABLE" else self.rls.disable)(
                m.group(1)
            )
            self._save_catalog()
            return 0
        m = self._DROP_POLICY_RE.match(q)
        if m:
            self.rls.drop_policy(m.group(2), m.group(1))
            self._save_catalog()
            return 0
        m = self._SET_AUTH_RE.match(q)
        if m:
            self._require_authorization_privilege()
            self.set_security_context(m.group(1))
            return 0
        if self._RESET_AUTH_RE.match(q):
            self._require_authorization_privilege()
            if self._auth_identity is not None:
                # RESET restores the AUTHENTICATED identity, never owner
                # bypass (PostgreSQL: session_authorization reverts to the
                # authenticated user).
                user, is_super = self._auth_identity
                self.set_security_context(user, superuser=is_super)
            else:
                self.set_security_context(None)
            return 0
        m = self._CREATE_POLICY_RE.match(q)
        if m:
            name, table, tail = m.group(1), m.group(2), m.group(3)
            using_expr = extract_clause(tail, "USING")
            check_expr = extract_clause(tail, "WITH CHECK")
            am = _re.search(
                r"\bFOR\s+(SELECT|INSERT|UPDATE|DELETE|ALL)\b", tail, _re.IGNORECASE
            )
            cm = _re.search(r"\bAS\s+(PERMISSIVE|RESTRICTIVE)\b", tail, _re.IGNORECASE)
            rm = _re.search(
                r"\bTO\s+([\w]+(?:\s*,\s*\w+)*)", tail, _re.IGNORECASE
            )
            self.rls.create_policy(
                Policy(
                    name=name,
                    table=table,
                    action=(am.group(1).lower() if am else "all"),
                    check=(cm.group(1).lower() if cm else "permissive"),
                    roles=(
                        [r.strip() for r in rm.group(1).split(",")] if rm else []
                    ),
                    using_expr=using_expr,
                    check_expr=check_expr,
                )
            )
            self._save_catalog()
            return 0
        return None

    def _sql_analyze(self, table: str | None) -> DataFrame:
        """ANALYZE [table]: collect per-column statistics (reference
        sql_bridge.rs:671-700 feeds its QueryOptimizer; here the stats are
        returned as data AND cached on the session — Catalyst's CBO is the
        live optimizer, so the cache is the observability surface, not a
        planner input). Bare ANALYZE covers every table (PostgreSQL
        behavior, same as the reference's fallback arm)."""
        from pyspark.sql import functions as F

        from driftdb_spark.plans.stats import analyze_table

        names = [table] if table else list(self._tables)
        frames = []
        for name in names:
            log, schema_cols = self._tables[name]
            stats = analyze_table(
                log.state_df(schema_cols).drop("pk", "last_seq")
            ).select(F.lit(name).alias("table"), "*")
            self._stats[name] = stats
            frames.append(stats)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # -- information_schema ---------------------------------------------------
    # Driver/BI-tool introspection (DBeaver, psycopg2 reflection, JDBC
    # metadata) queries information_schema on connect. Spark temp views
    # cannot carry a dotted name, so references rewrite to session-backed
    # views refreshed from the live catalog at query time.

    _INFO_SCHEMA_RE = _re.compile(
        r"\binformation_schema\s*\.\s*(tables|columns)\b", _re.IGNORECASE
    )

    def _rewrite_info_schema(self, sql: str) -> str:
        from driftdb_spark.constraints import TableConstraints

        trows = [
            ("driftdb", "public", name, "BASE TABLE")
            for name in self._tables
        ]
        trows += [("driftdb", "public", n, "VIEW") for n in self._views]
        trows += [
            ("driftdb", "public", n, "MATERIALIZED VIEW") for n in self._mviews
        ]
        trows += [
            ("driftdb", "public", n, "MATERIALIZED VIEW") for n in self._imvs
        ]
        self.spark.createDataFrame(
            trows,
            "table_catalog string, table_schema string, table_name string, "
            "table_type string",
        ).createOrReplaceTempView("_info_schema_tables")
        crows = []
        for name, (log, cols) in self._tables.items():
            cons = self._constraints.get(name) or TableConstraints()
            for i, (c, t) in enumerate(cols.items(), start=1):
                nullable = c != log.pk_col and c not in cons.not_null
                crows.append(
                    (
                        "driftdb",
                        "public",
                        name,
                        c,
                        i,
                        t,
                        "YES" if nullable else "NO",
                        cons.defaults.get(c),
                    )
                )
        self.spark.createDataFrame(
            crows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string, "
            "is_nullable string, column_default string",
        ).createOrReplaceTempView("_info_schema_columns")
        return self._INFO_SCHEMA_RE.sub(
            lambda m: f"_info_schema_{m.group(1).lower()}", sql
        )

    _RETURNING_RE = _re.compile(
        r"\s+RETURNING\s+(.+)$", _re.IGNORECASE | _re.DOTALL
    )

    def _internal_sql(self, query: str) -> DataFrame:
        """Plan an ENGINE-INITIATED read (EXPLAIN's read-side scan of the
        explained DML) without the statement-level RBAC recheck: the
        outer statement was already gated with the explained statement's
        OWN privilege (rbac.py EXPLAIN patterns — the PostgreSQL rule),
        and re-demanding 'select' here would deny EXPLAIN UPDATE to a
        role that can run the UPDATE itself (r10 ADVICE). RLS is NOT
        bypassed — it scopes rows at state-view registration, which this
        path still goes through."""
        self._rbac_exempt += 1
        try:
            return self.sql(query)
        finally:
            self._rbac_exempt -= 1

    def _sql_explain(self, head):
        """EXPLAIN <statement> → the plan as a one-column frame, NEVER
        executing the statement (PostgreSQL contract: EXPLAIN without
        ANALYZE has no side effects; the reference builds a PlanNode tree
        without publishing, sql_bridge.rs:580-670).

        The inner statement is parse-classified FIRST. Query-like inners
        recurse through ``sql()`` — lazy, side-effect-free — and render
        Catalyst's formatted physical plan. DML inners get an engine
        dispatch node on top of the lazy physical plan of whatever the
        statement would READ (the INSERT source, the UPDATE/DELETE
        matched-row scan, the MERGE source): zero events published, no
        sequence claimed. A WITH-prefixed statement whose body is DML is
        classified as DML, not as a query. Utility statements (DDL,
        SNAPSHOT, VACUUM, ...) refuse with a clear error, as PostgreSQL
        does. ``EXPLAIN ANALYZE <query>`` executes the query and renders
        per-operator runtime metrics; EXPLAIN ANALYZE of DML refuses
        (PostgreSQL would execute it — this engine never mutates state
        from an EXPLAIN, full stop)."""
        from driftdb_spark.plans.stats import explain_analyze, explain_plan

        def frame(lines: list[str]):
            return self.spark.createDataFrame(
                [(line,) for line in lines], "plan string"
            )

        def indent(text: str, pad: str = "   ") -> list[str]:
            return [pad + line for line in text.splitlines()]

        # head.query routes a WITH-prefixed statement on the verb after the
        # CTE prefix (Spark SQL allows WITH t AS (...) INSERT INTO ...), so
        # a literal that merely contains a DML verb stays a query, and a
        # prefix that does not lex is not one
        body = head.text
        if head.query:
            df = self.sql(body)
            if head.analyze:
                lines = []
                for node in explain_analyze(df):
                    metrics = ", ".join(
                        f"{k}={v}" for k, v in sorted(node["metrics"].items())
                    )
                    lines.append(
                        "   " * node["depth"]
                        + node["node"]
                        + (f" [{metrics}]" if metrics else "")
                    )
                return frame(lines)
            return frame(explain_plan(df).splitlines())

        if head.analyze:
            raise ValueError(
                "EXPLAIN ANALYZE of a DML/utility statement is not supported: "
                "this engine never executes a statement from EXPLAIN "
                "(PostgreSQL would run it; use EXPLAIN for the plan, or run "
                "the statement directly)"
            )

        # DML: the dispatch-node header + the lazy read-side plan. A WITH
        # prefix registers each CTE as a LAZY temp view first (nothing is
        # pinned or published), mirroring how _cte_dml executes it.
        header: list[str] = []
        cte_names: list[str] = []
        try:
            if head.ctes is not None and head.dml_verbs():
                recursive, cte_defs, body = head.ctes
                header = [f"Cte [{name}]" for name, _cols, _body in cte_defs]
                self._register_ctes(recursive, cte_defs, cte_names)
            verb = head.verb
            shape = self._dml_shape(verb, body) if verb in self._DML_VERBS else None
            if shape is None or shape.table not in self._tables:
                raise ValueError(
                    f"EXPLAIN is not supported for this statement (only queries "
                    f"and INSERT/UPDATE/DELETE/MERGE on known tables): "
                    f"{body[:80]!r}"
                )
            if shape.returning:
                header.append(f"Returning [{shape.returning}]")
            node = f"{verb.title()}Events [table={shape.table}"
            if verb == "INSERT":
                if shape.columns:
                    node += f", columns=({', '.join(shape.columns)})"
                if shape.conflict:
                    node += f", on_conflict=DO {shape.conflict}"
                df = self._insert_source(shape)
            else:
                scan = f"SELECT * FROM {shape.table} WHERE {shape.where or 'true'}"
                if verb == "MERGE":
                    whens = "; ".join(
                        f"{'' if matched else 'NOT '}MATCHED THEN {action}"
                        for matched, action, *_ in shape.clauses
                    )
                    node += f", on={shape.where}, when={whens}"
                    scan = f"SELECT * FROM {shape.source} {shape.source_alias}"
                elif verb == "UPDATE":
                    sets = ", ".join(f"{c} = {e}" for c, e in shape.assigns.items())
                    node += f", set={sets}"
                df = self._internal_sql(scan)
            return frame(header + [node + "]"] + indent(explain_plan(df)))
        finally:
            for name in cte_names:
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass

    def _dispatch_dml(self, q: str):
        # CTE-prefixed DML (WITH src AS (SELECT …) INSERT INTO t …), a
        # stock ETL idiom the reference's sqlparser cannot parse: raw
        # spark.sql dies with UNSUPPORTED_INSERT.RDD_BASED on the
        # RDD-backed state views, so :meth:`_cte_dml` registers each CTE
        # and re-dispatches the tail. WITH…SELECT passes through (None).
        head = classify(q)
        if head.explain:
            return self._sql_explain(head)
        if head.ctes is not None and head.dml_verbs():
            return self._cte_dml(*head.ctes)
        if head.verb == "WITH" and head.dml_verbs():
            # a WITH prefix that does not lex but carries a DML verb
            # outside literals/comments: refuse clearly (SQLSTATE 0A000)
            # instead of letting Catalyst's RDD error surface
            raise UnsupportedStatement(
                "CTE-prefixed DML could not be parsed (unsupported "
                "WITH-prefix shape); simplify the WITH clause "
                "[SQLSTATE 0A000]"
            )
        q = head.text
        if head.verb in self._DML_VERBS:
            shape = self._dml_shape(head.verb, q)
            if shape.table not in self._tables:
                return None  # not an event-backed table: Catalyst's to answer
            if shape.verb == "MERGE" or (
                shape.verb != "INSERT"
                and _re.search(r"\bSELECT\b", shape.text, _re.IGNORECASE)
            ):
                # the MERGE join and UPDATE/DELETE subqueries read the temp
                # views of what the statement names, the target included
                self._register(AsOf.now(), self._scope(shape.text))
            # _sql_insert / _sql_update / _sql_delete / _sql_merge
            return getattr(self, f"_sql_{shape.verb.lower()}")(shape)
        m = self._CREATE_IMVIEW_RE.match(q)
        if m and m.group(2) in self._tables:
            # CREATE INCREMENTAL MATERIALIZED VIEW v ON t GROUP BY (cols)
            # AS <sql over t> — the keyed-aggregate IVM contract made
            # SQL-reachable: REFRESH recomputes only the groups the event
            # tail touched (views.IncrementalViewRegistry; the reference
            # refreshes views by full re-execution, views.rs:541). The
            # contract is VALIDATED at create (a non-conforming definition
            # would refresh silently stale), and the view persists in the
            # catalog like any other object.
            name, table = m.group(1), m.group(2)
            group_cols = [c.strip() for c in m.group(3).split(",")]
            log, schema_cols = self._tables[table]
            sql = m.group(4).strip()
            self._imv_reg().create(name, log, schema_cols, sql, group_cols, table)
            iv = self._imv_registry._views[name]
            self._imvs[name] = {
                "sql": sql,
                "source": table,
                "group_cols": group_cols,
                "last_seq": iv.last_seq,
                "rewrite_token": iv.rewrite_token,
            }
            self._save_catalog()
            return 0
        m = self._REFRESH_MVIEW_RE.match(q)
        if (
            m
            and self._imv_registry is not None
            and m.group(1) in self._imv_registry._views
        ):
            n = self._imv_registry.refresh(m.group(1))
            if m.group(1) in self._imvs:
                iv = self._imv_registry._views[m.group(1)]
                self._imvs[m.group(1)]["last_seq"] = iv.last_seq
                self._imvs[m.group(1)]["rewrite_token"] = iv.rewrite_token
                self._save_catalog()
            return n
        m = self._DROP_MVIEW_RE.match(q)
        if m and m.group(1) in self._imvs:
            self._imv_reg().drop(m.group(1))
            self._imvs.pop(m.group(1), None)
            self._save_catalog()
            return 0
        m = self._CREATE_MVIEW_RE.match(q)
        if m:
            # MATERIALIZED views persist the RESULT (reference views.rs
            # materialized path + refresh :541): computed now, parquet-
            # backed, scan-served until REFRESH recomputes. The SQL text
            # persists in the catalog so a fresh session re-registers the
            # stored result. Incremental maintenance for keyed aggregate
            # views lives in views.IncrementalViewRegistry.
            return self._sql_create_mview(m.group(1), m.group(2))
        m = self._REFRESH_MVIEW_RE.match(q)
        if m and m.group(1) in self._mviews:
            return self._sql_refresh_mview(m.group(1))
        m = self._DROP_MVIEW_RE.match(q)
        if m and m.group(1) in self._mviews:
            from driftdb_spark.views import drop_versioned

            drop_versioned(self.storage_dir, f"mv_{m.group(1)}")
            self._mviews.pop(m.group(1), None)
            self._mview_paths.pop(m.group(1), None)
            try:
                self.spark.catalog.dropTempView(m.group(1))
            except Exception:
                pass
            self._save_catalog()
            return 0
        m = self._CREATE_VIEW_RE.match(q)
        if m:
            # Views persist as SQL TEXT and re-execute at every query —
            # the reference runs the stored view SQL inline per access
            # (views.rs:30-119, sql_bridge.rs:1203-1259), which is what
            # keeps a view over an event table CURRENT as events land.
            self._views[m.group(1)] = m.group(2)
            self._save_catalog()
            return 0
        m = self._DROP_VIEW_RE.match(q)
        if m:
            self._views.pop(m.group(1), None)
            try:
                self.spark.catalog.dropTempView(m.group(1))
            except Exception:
                pass
            self._save_catalog()
            return 0
        m = self._ALTER_RE.match(q)
        if m and m.group(1) in self._tables:
            default = m.group(4)
            if default is not None:
                default = default.strip().strip("'")
            self.alter_table_add_column(m.group(1), m.group(2), m.group(3), default)
            return 0
        m = self._DROP_TABLE_RE.match(q)
        if m and m.group(1) in self._tables:
            self.drop_table(m.group(1))
            return 0
        m = self._SNAPSHOT_RE.match(q)
        if m and m.group(2) in self._tables:
            log = self._tables[m.group(2)][0]
            if m.group(1).upper() == "SNAPSHOT":
                return log.snapshot()
            self._refuse_in_txn("COMPACT")
            log.compact()  # COMPACT implies a fresh snapshot first
            return log.last_sequence()
        m = self._PURGE_RE.match(q)
        if m and m.group(1) in self._tables:
            # PURGE FROM t KEYS ('a', 2, ...) — the right-to-be-forgotten
            # surface, SQL-reachable (EventLog.purge was API-only; a
            # compliance erasure shouldn't require dropping into Python).
            # Keys are an EXPLICIT literal list, not a WHERE predicate: a
            # predicate over current state would miss keys that are
            # already soft-deleted but still replayable in history, and
            # erasure requests arrive as subject identifiers anyway.
            # Spark's own parser evaluates the literals (no string
            # munging); an attached audit trail is scrubbed in the same
            # statement. Returns the number of events removed.
            self._refuse_in_txn("PURGE")
            log = self._tables[m.group(1)][0]
            keys_df = self.spark.sql(
                f"SELECT explode(array({m.group(2)})) AS k"
            )
            removed = log.purge(keys_df)
            trail = getattr(self, "_audit_trail", None)
            if trail is not None:
                trail.scrub_pks(
                    [str(r["k"]) for r in keys_df.distinct().collect()]
                )
            return removed
        m = self._CREATE_UNIQUE_INDEX_RE.match(q)
        if m and m.group(2) in self._tables:
            # CREATE UNIQUE INDEX = a named UNIQUE constraint (the
            # reference builds an implicit unique index for the same DDL,
            # sql_bridge.rs:374, :5748-5751): existing rows validate
            # first, then every future write is gated.
            return self._add_constraint_validated(
                m.group(2),
                m.group(1),
                unique_cols=[c.strip() for c in m.group(3).split(",")],
            )
        m = self._CREATE_INDEX_RE.match(q)
        if m:
            # Accepted as metadata only: reads are served by Catalyst
            # data-skipping / clustered layout (sources/connectors), the
            # engine's analog of the reference's secondary indexes
            # (SURVEY §2.9 mapping; engine.rs:662-712 builds real ones).
            return 0
        m = self._ADD_CONSTRAINT_RE.match(q)
        if m and m.group(1) in self._tables:
            # ALTER TABLE ADD [CONSTRAINT name] UNIQUE(...)/CHECK(...) —
            # the reference's AddConstraint arm acknowledges but never
            # enforces ("indexes need implementation",
            # sql_bridge.rs:6146-6166); here existing rows validate and
            # the constraint becomes live (PostgreSQL semantics).
            table, cname = m.group(1), m.group(2)
            if m.group(3).upper().startswith("UNIQUE"):
                return self._add_constraint_validated(
                    table,
                    cname,
                    unique_cols=[c.strip() for c in m.group(4).split(",")],
                )
            return self._add_constraint_validated(
                table, cname, check_expr=extract_clause(m.group(3), "CHECK")
            )
        m = self._DROP_CONSTRAINT_RE.match(q)
        if m and m.group(1) in self._tables:
            cons = self._constraints.get(m.group(1))
            if cons is None or not cons.drop_named(m.group(2)):
                raise KeyError(
                    f'no such constraint: {m.group(2)} on {m.group(1)}'
                )
            self._save_catalog()
            return 0
        m = self._SET_NOT_NULL_RE.match(q)
        if m and m.group(1) in self._tables:
            from driftdb_spark import constraints as C

            table, col, verb = m.group(1), m.group(2), m.group(3).upper()
            log, schema_cols = self._tables[table]
            if col not in schema_cols:
                raise KeyError(f"no such column: {col}")
            cons = self._constraints.setdefault(table, C.TableConstraints())
            if verb == "SET":
                if col not in cons.not_null:
                    # existing rows must already satisfy it (PostgreSQL)
                    C.check_not_null(
                        table,
                        C.TableConstraints(not_null=[col]),
                        log.state_df(schema_cols),
                    )
                    cons.not_null.append(col)
            else:
                cons.not_null = [c for c in cons.not_null if c != col]
            self._save_catalog()
            return 0
        m = self._DROP_COLUMN_RE.match(q)
        if m and m.group(1) in self._tables:
            # Event-sourced DROP COLUMN is pure schema deregistration:
            # history keeps the payloads (FOR SYSTEM_TIME ALL still shows
            # them), current reads stop projecting the column — the
            # mirror image of ALTER ADD COLUMN's NULL-projection.
            log, schema_cols = self._tables[m.group(1)]
            if m.group(2) == log.pk_col:
                raise ValueError("cannot drop the primary key column")
            if m.group(2) not in schema_cols:
                raise KeyError(f"no such column: {m.group(2)}")
            del schema_cols[m.group(2)]
            cons = self._constraints.get(m.group(1))
            if cons is not None:
                dropped = m.group(2)
                keep = [
                    i for i, u in enumerate(cons.uniques) if dropped not in u
                ]
                names = cons.unique_names + [None] * (
                    len(cons.uniques) - len(cons.unique_names)
                )
                cons.uniques = [cons.uniques[i] for i in keep]
                cons.unique_names = [names[i] for i in keep]
                cons.not_null = [c for c in cons.not_null if c != dropped]
                cons.defaults.pop(dropped, None)
                # CHECK expressions aren't column-parsed; conservatively
                # drop any that mention the column.
                pat = _re.compile(rf"\b{_re.escape(dropped)}\b")
                cons.checks = [
                    (n, e) for n, e in cons.checks if not pat.search(e)
                ]
            self._save_catalog()
            return 0
        m = self._CREATE_RE.match(q)
        if m:
            return self._sql_create_table(m.group(1), m.group(2))
        m = self._CTAS_RE.match(q)
        if m:
            # CREATE TABLE AS SELECT: schema inferred from the query
            # result, PK defaults to the first column (the reference's
            # CREATE TABLE default), rows land through the insert gate
            # and the statement's writer (inside BEGIN the table is
            # created at once, its rows commit or roll back).
            name, select_sql = m.group(1), m.group(2)
            if name in self._tables:
                raise ValueError(f"table {name} already exists")
            df = self.sql(select_sql)
            cols = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            self.create_table(name, cols)
            return self._insert(name, df)
        m = self._TRUNCATE_RE.match(q)
        if m and m.group(1) in self._tables:
            # TRUNCATE is an unconditional DELETE and takes its plan: FK
            # RESTRICT refuses, CASCADE cascades, and under a restricted
            # context it wipes only rows the context can see (PostgreSQL
            # instead requires ownership; conditioning is the stricter
            # row-sound choice here).
            return self._delete(
                m.group(1), self._rls_condition(m.group(1), "true", "delete")
            )
        return None

    #: the statements :meth:`_dml_shape` reads (sqltext.CTE_DML_RE's verbs)
    _DML_VERBS = frozenset({"INSERT", "UPDATE", "DELETE", "MERGE"})

    def _dml_shape(self, verb: str, text: str) -> DmlShape:
        """Read an INSERT, UPDATE, DELETE or MERGE with Spark's own parser
        (its ParseException is the statement's error), after peeling
        RETURNING, ON CONFLICT and an INSERT source's FOR SYSTEM_TIME and
        spelling out a MERGE's column-less ``INSERT VALUES`` (PostgreSQL:
        every column). Expressions are cut from the text at their parser
        spans, not re-rendered (``Expression.sql()`` prints a subquery as
        ``scalarsubquery()``); only a literal is its own SQL. Unrouted
        shapes raise UnsupportedStatement, a column an event-backed target
        lacks UndefinedColumn."""
        returning = conflict = None
        asof = AsOf.now()
        if verb != "MERGE":
            mr = search_code(self._RETURNING_RE, text)
            if mr:
                returning, text = mr.group(1).strip(), text[: mr.start()].strip()
        if verb == "INSERT":
            mc = self._ON_CONFLICT_RE.search(text)
            if mc:
                conflict, text = mc.group(1).upper(), text[: mc.start()].strip()
            text, asof = parse_system_time(text)
        target = text.split(None, 3)[2:3] if verb == "MERGE" else []
        if target and target[0] in self._tables:
            into = f"INSERT ({', '.join(self._tables[target[0]][1])}) VALUES"
            text = sub_code(_INSERT_VALUES_RE, lambda _m: into, text)
        plan = self.spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
        kind = plan.nodeName()

        def bounds(node) -> tuple[int, int] | None:
            # None for a shared node whose span is another statement's
            o = node.origin()
            if not o.sqlText().contains(text):
                return None
            return o.startIndex().get(), o.stopIndex().get()

        def span(node) -> str:
            # A node carries the span of the grammar rule that built it,
            # which is not always its own: a literal may be a shared
            # instance (TRUE, FALSE) spanning another statement, so it is
            # Spark's own literal SQL; EXISTS spans its enclosing rule, so
            # its subquery places it; a predicate (IN, LIKE, IS, BETWEEN …)
            # starts at its keyword, so the operand just before it moves
            # the start back, over the parentheses the operand sits in.
            name = node.nodeName()
            if name == "Literal":
                return node.sql()
            b = bounds(node.plan() if name == "Exists" else node)
            if b is None:
                raise UnsupportedStatement(f"{verb}: cannot place {node.sql()}")
            start, stop = b
            if name == "Exists":
                paren = text.rindex("(", 0, start)
                start = len(text[:paren].rstrip()) - len("EXISTS")
                return text[start : skip_balanced_paren(text, paren + 1)]
            child = node
            while not child.children().isEmpty():
                child = child.children().head()
                b = bounds(child)
                if b is None or b[1] > stop or b[0] < start <= b[1]:
                    break
                if b[1] < start:
                    if text[b[1] + 1 : start].strip(" \t\r\n)"):
                        break
                    start = b[0]
            for _ in range(unclosed_parens(text[start : stop + 1])):
                start = text.rindex("(", 0, start)
            return text[start : stop + 1]

        def cond_span(opt) -> str | None:
            return span(opt.get()) if opt.isDefined() else None

        def items(seq) -> list:
            return [seq.apply(i) for i in range(seq.size())]

        def assigns(seq) -> dict[str, str]:
            # a key's span covers the whole SET list: name it by key.sql()
            return {a.key().sql(): span(a.value()) for a in items(seq)}

        def refuse(what: str) -> UnsupportedStatement:
            return UnsupportedStatement(f"{verb} with {what} is not supported")

        def unaliased(node):
            if node.nodeName() == "SubqueryAlias":
                return node.alias(), node.child()
            return None, node

        merge = kind == "MergeIntoTable"
        if not merge and kind not in (
            "InsertIntoStatement", "UpdateTable", "DeleteFromTable"
        ):
            raise refuse(f"the statement shape {kind}")
        alias, rel = unaliased(plan.targetTable() if merge else plan.table())
        if alias is not None and not merge:
            raise refuse("an aliased target")
        if rel.nodeName() != "UnresolvedRelation":
            raise refuse("a computed target")
        if rel.multipartIdentifier().size() != 1:
            raise refuse(f"the qualified target {rel.name()}")
        shape = DmlShape(verb, text, rel.name(), alias=alias, returning=returning)
        if kind == "UpdateTable":
            shape.where = cond_span(plan.condition())
            shape.assigns = assigns(plan.assignments())
        elif kind == "DeleteFromTable":
            # without WHERE the condition is the literal true
            shape.where = span(plan.condition())
        elif kind == "InsertIntoStatement":
            if plan.overwrite() or not plan.partitionSpec().isEmpty() or plan.byName():
                raise refuse("OVERWRITE, PARTITION or BY NAME")
            # the statement spans its head: the source is the rest
            shape.source = text[bounds(plan)[1] + 1 :].strip()
            shape.columns = tuple(items(plan.userSpecifiedCols()))
            shape.conflict, shape.asof = conflict, asof
        else:
            if not plan.notMatchedBySourceActions().isEmpty():
                raise refuse("WHEN NOT MATCHED BY SOURCE")
            salias, source = unaliased(plan.sourceTable())
            # a SubqueryAlias spans the whole statement; its child spans
            # the bare table name or the subquery without its parentheses
            shape.source = span(source)
            if source.nodeName() != "UnresolvedRelation":
                shape.source, salias = f"({shape.source})", salias or "__src"
            # an unaliased table source keeps its own name as the alias
            shape.source_alias = salias or shape.source
            shape.where = span(plan.mergeCondition())
            clauses = []
            for matched, actions in (
                (True, plan.matchedActions()),
                (False, plan.notMatchedActions()),
            ):
                for a in items(actions):
                    action = a.nodeName()
                    if action not in ("UpdateAction", "DeleteAction", "InsertAction"):
                        raise refuse("INSERT * or UPDATE SET *")
                    sets = {} if action == "DeleteAction" else assigns(a.assignments())
                    action = action[: -len("Action")].upper()
                    clauses.append((matched, action, cond_span(a.condition()), sets))
            shape.clauses = tuple(clauses)
        schema = self._tables.get(shape.table, (None, {}))[1]
        named = [*shape.columns, *shape.assigns]
        named += [c for *_, sets in shape.clauses for c in sets]
        missing = [c for c in named if schema and c not in schema]
        if missing:
            raise UndefinedColumn(
                f'column "{missing[0]}" of relation "{shape.table}" does not exist'
            )
        return shape

    def _sql_update(self, shape: DmlShape):
        from pyspark.sql import functions as F

        tname, assigns = shape.table, shape.assigns
        schema_cols = self._tables[tname][1]
        upd_cond = self._rls_condition(tname, shape.where or "true", "update")

        def image():
            state = self._view(tname)
            post = state.filter(upd_cond).select(
                *[
                    F.expr(str(assigns[c])).alias(c) if c in assigns else F.col(c)
                    for c in schema_cols
                ]
            )
            return post, state.filter(~F.coalesce(F.expr(upd_cond), F.lit(False)))

        post = self._pin(image()[0]) if shape.returning is not None else None

        def update():
            self._update_gate(tname, assigns, image)
            return self._writer(tname).update_where(schema_cols, upd_cond, assigns)

        out = self._write(update)
        return out if post is None else self._project_returning(post, shape.returning)

    def _sql_delete(self, shape: DmlShape):
        table = shape.table
        del_cond = self._rls_condition(table, shape.where or "true", "delete")
        pre = None
        if shape.returning is not None:
            pre = self._pin(
                self._view(table).filter(del_cond).select(*self._tables[table][1])
            )
        out = self._delete(table, del_cond)
        return out if pre is None else self._project_returning(pre, shape.returning)

    def _cte_dml(
        self,
        recursive: bool,
        ctes: list[tuple[str, str | None, str]],
        tail: str,
    ):
        """Execute ``WITH name AS (…)[, …] INSERT/UPDATE/DELETE/MERGE …``
        (PostgreSQL data-modifying-statement CTEs; the reference's
        sqlparser cannot parse the shape at all — sql_bridge.rs routes on
        the first token). Each CTE body evaluates through the ordinary
        query path, is PINNED (materialized), and registers as a
        statement-scoped temp view; the tail then re-dispatches through
        the ordinary DML routes and so through the session's one set of
        write gates (:meth:`_write`, :meth:`_insert_gate`,
        :meth:`_update_gate`, the DELETE plan of :meth:`_delete_rows`):
        RETURNING, ON CONFLICT, transactions, RLS, FKs and constraints
        apply exactly as to the bare statement.

        Pinning gives PostgreSQL's snapshot semantics: every CTE sees the
        table state as of statement start, even when the tail writes the
        same table the CTE reads (``WITH src AS (SELECT * FROM t) INSERT
        INTO t SELECT …``) — an unpinned lazy view would re-read mid-
        write. Statement-level gates (wire exec_lock via server.py's
        classifier, RBAC via rbac.statement_permissions, EXPLAIN's DML
        guard) already classify the WITH-prefixed text as a write.

        Temp views are session-scoped in Spark, so names are dropped in
        a ``finally``; concurrent wire statements cannot interleave here
        because the server's write lock serializes WITH-DML."""
        registered: list[str] = []
        try:
            self._register_ctes(recursive, ctes, registered, pin=True)
            out = self._dispatch_dml(tail)
            if out is None:
                raise UnsupportedStatement(
                    "CTE-prefixed statement tail is not executable DML: "
                    + tail.split(None, 1)[0].upper()
                    + " [SQLSTATE 0A000]"
                )
            return out
        finally:
            for name in registered:
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass

    def _register_ctes(
        self,
        recursive: bool,
        ctes: list[tuple[str, str | None, str]],
        registered: list[str],
        pin: bool = False,
    ) -> None:
        """Register each CTE of a WITH-prefixed DML statement as a temp
        view, appending its name to ``registered`` for the caller to drop.
        With ``pin`` each body is materialized first (:meth:`_cte_dml`);
        without, it stays lazy (EXPLAIN)."""
        for name, cols, body in ctes:
            if (
                name in self._tables
                or name in self._views
                or name in self._mviews
                or name in self._imvs
            ):
                # the tail's table references would be ambiguous between the
                # CTE and the state view (PostgreSQL shadows; refusing is safe)
                raise UnsupportedStatement(
                    f"CTE name {name!r} shadows an existing catalog object; "
                    "rename the CTE in a data-modifying statement"
                )
            # CTE bodies evaluate through the INTERNAL path: RBAC already
            # gated the WITH-DML text on its tail verb (the model that lets
            # an insert-only role run INSERT…SELECT), so re-demanding
            # 'select' would deny WITH…INSERT to a role that can run the
            # equivalent INSERT…SELECT. RLS still scopes rows.
            if recursive:
                # the recursive-CTE fixpoint; earlier CTEs are temp views
                df = self._internal_sql(
                    f"WITH RECURSIVE {name} AS ({body}) SELECT * FROM {name}"
                )
            else:
                df = self._internal_sql(body)
            if not isinstance(df, DataFrame):
                raise ValueError(f"CTE {name!r} body must be a query")
            if cols:
                df = df.toDF(*[c.strip("`") for c in split_top_level(cols)])
            if pin:
                df = self._pin(df)
            df.createOrReplaceTempView(name)
            registered.append(name)

    def _sql_merge(self, shape: DmlShape) -> int:
        """MERGE INTO — the SQL-standard / Delta-Lake upsert statement:

        ``MERGE INTO t [[AS] a] USING src|(query) [[AS] s] ON cond
        WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ... | DELETE
        WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT [(cols)] VALUES (exprs)``
        as Spark's parser reads it (:meth:`_dml_shape`); ``WHEN NOT MATCHED
        BY SOURCE``, ``UPDATE SET *`` and ``INSERT *`` are refused (0A000).

        The reference has no MERGE (its upsert surface is ON CONFLICT);
        this is the Spark-native equivalent of a Delta ``MERGE``. The
        clauses stage into the open transaction, or into a statement-scoped
        one that commits when the last clause succeeds
        (:meth:`_write_atomic`), so the target's changes publish as ONE
        atomic event batch and readers see the whole merge or none of it.
        Each clause reads and writes exactly like the plain statement
        inside BEGIN: INSERT takes :meth:`_insert_gate`, UPDATE
        :meth:`_update_gate` on the joined post-image, and DELETE the
        DELETE plan (FK RESTRICT refuses, CASCADE cascades into the same
        transaction, whose children publish before the target).

        Semantics (SQL standard / PostgreSQL 15):
        - clauses apply in declaration order; a matched row is consumed
          by the first clause whose AND-condition it satisfies;
        - a source row may not touch the same target row twice — the
          duplicate-match check raises before anything stages;
        - assignments and insert values may reference both aliases; the
          join itself is Catalyst SQL over the registered state views.

        Plan shape: one target⋈source join on the ON condition feeds every
        matched clause (ReuseExchange dedupes the join across clauses);
        NOT MATCHED is the same join flipped to left-anti."""
        from pyspark.sql import functions as F

        table, on = shape.table, shape.where
        log, schema_cols = self._tables[table]
        pk = log.pk_col
        talias = shape.alias or table
        src_sql, salias = shape.source, shape.source_alias
        base_from = f"FROM {table} {talias} JOIN {src_sql} {salias} ON {on}"
        # duplicate-match guard (PostgreSQL: "MERGE command cannot affect
        # row a second time")
        dup = self.spark.sql(
            f"SELECT {talias}.{pk} AS k {base_from} "
            f"GROUP BY {talias}.{pk} HAVING COUNT(*) > 1"
        )
        if not dup.isEmpty():
            raise ValueError(
                "MERGE: a target row matches more than one source row"
            )

        def apply() -> None:
            consumed = None  # matched pks already claimed by an earlier clause
            for matched, verb, extra, assigns in shape.clauses:
                cond = f" WHERE {extra}" if extra else ""
                if not matched:
                    sel = ", ".join(f"({e}) AS {c}" for c, e in assigns.items())
                    anti = (
                        f"SELECT {sel} FROM {src_sql} {salias} "
                        f"WHERE NOT EXISTS (SELECT 1 FROM {table} {talias} "
                        f"WHERE {on})" + (f" AND ({extra})" if extra else "")
                    )
                    rows = self.spark.sql(anti).select(
                        *[F.col(c).cast(schema_cols[c]).alias(c) for c in assigns]
                    )
                    self._insert_gate(table, rows)
                    self._writer(table).insert(rows)
                    continue
                keys_sql = f"SELECT {talias}.{pk} AS {pk} {base_from}{cond}"
                keys = self.spark.sql(keys_sql)
                if consumed is not None:
                    keys = keys.join(consumed, pk, "left_anti")
                keys = self._pin(keys)
                consumed = keys if consumed is None else consumed.unionByName(keys)
                if verb == "DELETE":
                    self._delete_rows(
                        table, self._view(table).join(keys, pk, "left_semi")
                    )
                    continue
                if pk in assigns:
                    raise ValueError("MERGE may not assign the primary key")
                patch_sel = ", ".join(
                    [f"{talias}.{pk} AS {pk}"]
                    + [f"({e}) AS {c}" for c, e in assigns.items()]
                )
                patch = self._pin(
                    self.spark.sql(f"SELECT {patch_sel} {base_from}{cond}").join(
                        keys.select(pk), pk, "left_semi"
                    )
                )

                def image():
                    # post-image: the patched rows with the patch values
                    state = self._view(table)
                    post = state.join(
                        patch.select(
                            F.col(pk).cast("string").alias("__mpk"),
                            *[F.col(c).alias(f"__new_{c}") for c in assigns],
                        ),
                        state["pk"] == F.col("__mpk"),
                    ).select(
                        *[
                            (
                                F.col(f"__new_{c}").cast(schema_cols[c])
                                if c in assigns
                                else F.col(c)
                            ).alias(c)
                            for c in schema_cols
                        ]
                    )
                    return post, state.join(keys, pk, "left_anti")

                self._update_gate(table, assigns, image)
                self._writer(table).patch(patch)

        return self._write_atomic(table, apply)

    def _imv_reg(self):
        """The lazily-built incremental-MV registry."""
        if self._imv_registry is None:
            from driftdb_spark.views import IncrementalViewRegistry

            self._imv_registry = IncrementalViewRegistry(
                self.spark, self.storage_dir
            )
        return self._imv_registry

    def _sql_create_mview(self, name: str, sql: str) -> int:
        from driftdb_spark.views import publish_versioned

        out = self.sql(sql)
        if not isinstance(out, DataFrame):
            raise ValueError("materialized view definition must be a query")
        path = publish_versioned(out, self.storage_dir, f"mv_{name}")
        self.spark.read.parquet(path).createOrReplaceTempView(name)
        self._mviews[name] = sql
        self._mview_paths[name] = path
        self._save_catalog()
        return 0

    def _sql_refresh_mview(self, name: str) -> int:
        # Recompute, then publish via the versioned pointer (views.py):
        # the pointer rewrite is the atomic commit point, so a reader of
        # the registered view keeps the old files and a crashed refresh
        # leaves the previous result live — the events log's
        # rename-into-place discipline (events.py:259-330).
        from driftdb_spark.views import publish_versioned

        out = self.sql(self._mviews[name])
        path = publish_versioned(out, self.storage_dir, f"mv_{name}")
        self.spark.read.parquet(path).createOrReplaceTempView(name)
        self._mview_paths[name] = path
        return 0

    def _project_returning(self, df: DataFrame, returning: str) -> DataFrame:
        """Project the affected rows — the INSERT batch, the UPDATE
        post-image, the DELETE pre-image — through the RETURNING list."""
        from pyspark.sql import functions as F

        exprs = split_top_level(returning)
        if exprs == ["*"]:
            return df
        return df.select(*[F.expr(e) for e in exprs])

    def _pin(self, df: DataFrame) -> DataFrame:
        """Materialize a frame BEFORE a write mutates the state it reads.
        A local checkpoint, not a cache entry: Spark's cache answers every
        later plan equal to a cached one, so a cached pin would serve a
        later statement's same plan with rows that have since changed."""
        return df.localCheckpoint()

    def _add_constraint_validated(
        self,
        table: str,
        cname: str | None,
        unique_cols: list[str] | None = None,
        check_expr: str | None = None,
    ) -> int:
        """Validate EXISTING rows against the new constraint (PostgreSQL:
        ADD CONSTRAINT fails on violating data), then register it live."""
        from driftdb_spark import constraints as C

        log, schema_cols = self._tables[table]
        delta = C.TableConstraints()
        if unique_cols is not None:
            for c in unique_cols:
                if c not in schema_cols:
                    raise KeyError(f"no such column: {c}")
            delta.add_unique(unique_cols, cname)
        if check_expr is not None:
            delta.checks.append((cname or f"{table}_check_added", check_expr))
        C.validate_existing(table, delta, log.state_df(schema_cols))
        cons = self._constraints.setdefault(table, C.TableConstraints())
        for cols, nm in zip(delta.uniques, delta.unique_names):
            cons.add_unique(cols, nm)
        cons.checks.extend(delta.checks)
        self._save_catalog()
        return 0

    def _insert_gate(
        self,
        table: str,
        rows: DataFrame,
        upsert: bool = False,
        proposed: DataFrame | None = None,
    ) -> None:
        """Gate for rows a statement is about to insert (INSERT, COPY,
        MERGE's NOT MATCHED clause), run before anything stages or
        publishes: RLS WITH CHECK, then the FK parents and the UNIQUE /
        CHECK / NOT NULL constraints against the statement's view
        (:meth:`_view`, so a row inserted earlier in the open transaction
        counts). An ``upsert`` batch (ON CONFLICT DO UPDATE) replaces the
        live rows with its pks, vacating their UNIQUE keys; ``proposed``
        (ON CONFLICT DO NOTHING) is the batch before its conflicting rows
        were dropped, which WITH CHECK reads instead of ``rows``. Each
        check is skipped when nothing is declared."""
        from pyspark.sql import functions as F

        from driftdb_spark import constraints as C

        self._rls_check(
            table,
            rows if proposed is None else proposed,
            self.rls.check_predicate(table, self._security),
        )
        self._fk_check(table, rows, [fk for fk in self._fks if fk[0] == table])
        cons = self._constraints.get(table)
        if cons is None or cons.is_empty():
            return
        state = self._view(table)
        if upsert:
            batch_pks = rows.select(
                F.col(self._tables[table][0].pk_col).cast("string").alias("_bpk")
            )
            state = state.join(batch_pks, state["pk"] == F.col("_bpk"), "left_anti")
        C.validate_insert(table, cons, rows, state)

    def _update_gate(self, table: str, assigns: dict[str, str], image) -> None:
        """Gate for an UPDATE or a MERGE UPDATE clause, run before the
        Patch events stage: the post-image must satisfy the constraints an
        assignment can break (``constraints.validate_update``), the UPDATE
        WITH CHECK policy, and the FK parents of every assigned FK column;
        and an assigned column that an FK references must not take away a
        value a child row still references (FK RESTRICT, PostgreSQL's
        default ON UPDATE NO ACTION). ``image()`` returns ``(post,
        survivors)`` — the updated rows and the rows the statement leaves
        alone; it is called only when the table declares a constraint or
        a policy or FK applies, so an unconstrained table builds no
        post-image."""
        from pyspark.sql import functions as F

        from driftdb_spark import constraints as C

        cons = self._constraints.get(table)
        pred = self.rls.check_predicate(table, self._security, "update")
        fks = [fk for fk in self._fks if fk[0] == table and fk[1] in assigns]
        refs = [fk for fk in self._fks if fk[2] == table and fk[3] in assigns]
        if (cons is None or cons.is_empty()) and pred is None and not (fks or refs):
            return
        post, survivors = image()
        if cons is not None:
            C.validate_update(table, cons, assigns, post, survivors)
        self._rls_check(table, post, pred)
        self._fk_check(table, post, fks)
        for child, child_col, _parent, parent_col, _action in refs:
            key = F.col(parent_col).cast("string").alias("_pk")
            kept = post.select(key).unionByName(survivors.select(key))
            gone = self._view(table).select(key).join(kept, "_pk", "left_anti")
            referencing = self._view(child).join(
                gone, F.col(child_col).cast("string") == F.col("_pk"), "left_semi"
            )
            if not referencing.isEmpty():
                raise ValueError(
                    f"FK RESTRICT: {child}.{child_col} references {table}.{parent_col}"
                )

    def _rls_check(self, table: str, rows: DataFrame, pred: str | None) -> None:
        """WITH CHECK gate (reference row_level_security.rs check side;
        PostgreSQL applies it to the NEW row of an INSERT and an UPDATE):
        every new row must satisfy the compiled check predicate ``pred``
        (``None`` = unrestricted). A NULL result fails, as in
        PostgreSQL."""
        if pred is None:
            return
        from pyspark.sql import functions as F

        from driftdb_spark.rls import RlsDenied

        if not rows.filter(~F.coalesce(F.expr(pred), F.lit(False))).isEmpty():
            raise RlsDenied(
                f"new row violates row-level security policy for table {table}"
            )

    def _fk_check(self, table: str, rows: DataFrame, fks: list) -> None:
        """FK RESTRICT on written rows: every non-NULL value of each
        referencing column in ``fks`` must exist in its parent as the
        statement sees it (:meth:`_view`). One anti-join per FK —
        distributed, no driver-side row loop (reference validates
        row-at-a-time, fk.rs:73-150)."""
        from pyspark.sql import functions as F

        for _child, child_col, parent, parent_col, _action in fks:
            parent_keys = self._view(parent).select(
                F.col(parent_col).cast("string").alias("_fk")
            )
            orphans = rows.filter(F.col(child_col).isNotNull()).join(
                parent_keys,
                F.col(child_col).cast("string") == F.col("_fk"),
                "left_anti",
            )
            if not orphans.isEmpty():
                raise ValueError(
                    f"FK violation: {table}.{child_col} -> {parent}.{parent_col}"
                )

    def _rls_condition(self, table: str, condition: str, action: str) -> str:
        """Conjoin the RLS USING predicate into an UPDATE/DELETE WHERE:
        rows the context cannot see, it cannot touch."""
        pred = self.rls.read_predicate(table, self._security, action)
        if pred is None:
            return condition
        return f"({condition}) AND ({pred})"

    def _run_with_params(self, sql: str, vals: list):
        """Execute a ``:pN``-parameterized statement (EXECUTE of a PREPARE)
        with bound values — see :func:`sqltext.bind_params`."""
        return self.sql(*bind_params(sql, {f"p{i + 1}": v for i, v in enumerate(vals)}))

    def _view(self, table: str):
        """A table's state as the current statement sees it: the open
        transaction's view (committed ∪ buffer) for a table it touched,
        committed state otherwise."""
        log, schema_cols = self._tables[table]
        txn = self._active_txn
        if txn is not None and table in txn._txns:
            return txn._txns[table].state_df(schema_cols)
        return log.state_df(schema_cols)

    def _writer(self, table: str):
        """Where a statement's events go: the open transaction's buffer
        for the table, or its EventLog. Both take their DML verbs from
        ``events.DmlVerbs`` and differ only in the sink: the EventLog
        publishes each statement list as one batch, the transaction
        buffers it until COMMIT."""
        if self._active_txn is not None:
            return self._active_txn.table(table)
        return self._tables[table][0]

    def _write(self, thunk):
        """Run one DML statement's writes. With no transaction open its
        EventLog calls publish as they go and it returns their result;
        inside BEGIN it returns 0 — sequences are provisional until
        COMMIT. The aborted-transaction refusal and the abort on failure
        are :meth:`sql`'s for every statement, and
        :meth:`_as_statement`'s for a direct call."""
        out = thunk()
        return 0 if self._active_txn is not None else out

    def _write_atomic(self, table: str, thunk) -> int:
        """:meth:`_write` for a statement that stages several writes
        (MERGE). With no transaction open it runs in a statement-scoped
        one, committed on success and rolled back on any error, so its
        writes take the same view, writer and gates as inside BEGIN.
        ``table`` publishes last: every other table here only loses rows
        to a DELETE cascade, and children-first never shows an orphan,
        even if a later table's commit fails. Returns ``table``'s last
        sequence (0 inside BEGIN)."""
        if self._active_txn is not None:
            return self._write(thunk)
        self._active_txn = txn = self.begin()
        try:
            thunk()
            if table in txn._txns:
                txn._txns[table] = txn._txns.pop(table)
            seqs = txn.commit()
        except BaseException:
            txn.rollback()
            raise
        finally:
            self._active_txn = None
        return seqs.get(table, 0)

    def _as_statement(self, thunk):
        """Run a direct ``insert_checked`` / ``delete_checked`` call (COPY
        FROM STDIN) as :meth:`sql` runs a statement: inside BEGIN it is
        refused once the transaction is aborted, and ANY failure aborts
        it (PostgreSQL / reference abort semantics,
        sql_bridge.rs:335-346)."""
        txn = self._active_txn
        if txn is None:
            return thunk()
        if txn.aborted:
            from driftdb_spark.transactions import TransactionAborted

            raise TransactionAborted()
        try:
            return thunk()
        except Exception:
            txn.mark_aborted()
            raise

    def _sql_create_table(self, name: str, body: str) -> int:
        """CREATE TABLE column list → schema registration. PRIMARY KEY may
        be inline (``col type PRIMARY KEY``) or table-level (``PRIMARY KEY
        (col)`` — composite keeps the first column, exactly the reference's
        behavior, sql_bridge.rs:5794-5797); missing PK defaults to the
        first column (:5872-5886).

        UNIQUE / CHECK / NOT NULL — inline or table-level, optionally
        ``CONSTRAINT <name>``-prefixed — register as enforced constraints
        (reference constraints.rs:10-34; inline UNIQUE ⇒ implicit unique
        index, sql_bridge.rs:5748-5751). A constraint clause this parser
        cannot understand is REJECTED loudly — accepting DDL and then not
        enforcing it would be a silent correctness trap."""
        re = _re
        from driftdb_spark.constraints import TableConstraints

        cols: dict[str, str] = {}
        pk = None
        fks: list[tuple[str, str, str, str]] = []
        cons = TableConstraints()
        for part in split_top_level(body):
            part = part.strip()
            named = re.match(r"CONSTRAINT\s+(\w+)\s+(.*)$", part, re.IGNORECASE | re.DOTALL)
            cname = None
            if named:
                cname, part = named.group(1), named.group(2).strip()
            tl = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)", part, re.IGNORECASE)
            if tl:
                pk = tl.group(1).split(",")[0].strip()
                continue
            fk = re.match(
                r"FOREIGN\s+KEY\s*\((\w+)\)\s*REFERENCES\s+(\w+)\s*\((\w+)\)"
                r"(?:\s+ON\s+DELETE\s+(RESTRICT|CASCADE))?$",
                part,
                re.IGNORECASE,
            )
            if fk:
                fks.append(
                    (fk.group(1), fk.group(2), fk.group(3), (fk.group(4) or "restrict").lower())
                )
                continue
            tu = re.match(r"UNIQUE\s*\(([^)]*)\)$", part, re.IGNORECASE)
            if tu:
                cons.add_unique(
                    [c.strip() for c in tu.group(1).split(",")], cname
                )
                continue
            if re.match(r"CHECK\s*\(", part, re.IGNORECASE):
                cons.checks.append(
                    (
                        cname or f"{name}_check_{len(cons.checks) + 1}",
                        extract_clause(part, "CHECK"),
                    )
                )
                continue
            if re.match(r"(FOREIGN\s+KEY|UNIQUE|CHECK)\b", part, re.IGNORECASE) or cname:
                raise ValueError(
                    f"unsupported constraint clause (would not be enforced): {part!r}"
                )
            toks = part.split()
            if len(toks) < 2:
                raise ValueError(f"bad column def: {part!r}")
            col, coltype = toks[0], toks[1]
            if re.search(r"\bPRIMARY\s+KEY\b", part, re.IGNORECASE):
                pk = col
            else:
                # Inline column constraints (PK implies unique+not-null via
                # its own gate, so only non-PK columns register here).
                if re.search(r"\bNOT\s+NULL\b", part, re.IGNORECASE):
                    cons.not_null.append(col)
                if re.search(r"\bUNIQUE\b", part, re.IGNORECASE):
                    cons.add_unique([col])
                if re.search(r"\bCHECK\s*\(", part, re.IGNORECASE):
                    cons.checks.append(
                        (f"{name}_{col}_check", extract_clause(part, "CHECK"))
                    )
                dm = re.search(
                    # literal ('..', number, TRUE) or a zero/one-arg call
                    # (current_timestamp, now()) — the shapes the reference's
                    # Default constraint stores (constraints.rs:30-33)
                    r"\bDEFAULT\s+('(?:[^']|'')*'|\w+\s*\([^)]*\)|[^\s,)]+)",
                    part,
                    re.IGNORECASE,
                )
                if dm:
                    cons.defaults[col] = dm.group(1)
            inline_fk = re.search(
                r"\bREFERENCES\s+(\w+)\s*\((\w+)\)"
                r"(?:\s+ON\s+DELETE\s+(RESTRICT|CASCADE))?",
                part,
                re.IGNORECASE,
            )
            if inline_fk:
                fks.append(
                    (
                        col,
                        inline_fk.group(1),
                        inline_fk.group(2),
                        (inline_fk.group(3) or "restrict").lower(),
                    )
                )
            cols[col] = coltype
        self.create_table(name, cols, pk=pk, constraints=cons)
        for child_col, parent, parent_col, action in fks:
            self.add_foreign_key(name, child_col, parent, parent_col, on_delete=action)
        return 0

    def _insert_source(self, shape: DmlShape) -> DataFrame:
        """The rows an INSERT writes, one column per listed (or schema)
        column: its VALUES or query source, read at the source's own FOR
        SYSTEM_TIME target over the states and stored views it names."""
        cols = list(shape.columns or self._tables[shape.table][1])
        self._register(shape.asof, self._scope(shape.source))
        return self.spark.sql(shape.source).toDF(*cols)

    def _sql_insert(self, shape: DmlShape) -> int:
        from pyspark.sql import functions as F

        table, conflict, ret = shape.table, shape.conflict, shape.returning
        log, schema_cols = self._tables[table]
        cols = list(shape.columns or schema_cols)
        typed = self._insert_source(shape).select(
            *[F.col(c).cast(schema_cols[c]).alias(c) for c in cols]
        )
        cons0 = self._constraints.get(table)
        if cons0 is not None and cons0.defaults:
            # Columns omitted from the INSERT list fill from their DEFAULT
            # expression (reference Default constraint,
            # constraints.rs:30-33; PostgreSQL applies defaults to omitted
            # columns, not explicit NULLs) — before constraint validation,
            # so a NOT NULL column with a default is satisfied by it.
            for c, dexpr in cons0.defaults.items():
                if c not in cols and c in schema_cols:
                    typed = typed.withColumn(
                        c, F.expr(dexpr).cast(schema_cols[c])
                    )
        if ret is not None:
            # Pin before the write: an INSERT...SELECT source reads state
            # lazily and must not observe its own insert when RETURNING
            # re-projects it.
            typed = self._pin(typed)
        rows = typed
        if conflict is None:
            out = self._insert(table, typed)
        elif self._active_txn is not None:
            raise ValueError("ON CONFLICT is not supported inside a transaction block")
        elif conflict == "NOTHING":
            # PostgreSQL upsert surface. DO NOTHING inserts only the rows
            # whose PK is not already live (one anti-join, which the FK
            # and constraint checks see too; WITH CHECK covers the whole
            # proposed batch, as PostgreSQL's ExecInsert runs it before
            # the conflict check); DO UPDATE is last-writer-wins full row
            # replacement (an Insert event superseding the old one — time
            # travel keeps both versions).
            rows = typed.join(
                log.state_at().select("pk"),
                typed[log.pk_col].cast("string") == F.col("pk"),
                "left_anti",
            )
            if ret is not None:
                rows = self._pin(rows)  # a lazy anti-join would see its
                # own insert and return nothing
            self._insert_gate(table, rows, proposed=typed)
            out = log.insert(rows)
        else:
            self._insert_gate(table, typed, upsert=True)
            out = log.upsert(typed)
        return self._project_returning(rows, ret) if ret is not None else out

    # -- foreign keys ---------------------------------------------------------

    def add_foreign_key(
        self,
        child: str,
        child_col: str,
        parent: str,
        parent_col: str,
        on_delete: str = "restrict",
    ) -> None:
        """Register a FK (reference inline/table-level FKs, fk.rs:20-150;
        RESTRICT is the enforced action there — CASCADE is parsed but never
        executed, fk.rs:20-23). ``on_delete="cascade"`` is executed HERE,
        beyond the reference: deleting parent rows soft-deletes referencing
        child rows transitively, each level one semi-join + event append."""
        if on_delete not in ("restrict", "cascade"):
            raise ValueError("on_delete must be 'restrict' or 'cascade'")
        self._fks.append((child, child_col, parent, parent_col, on_delete))
        self._save_catalog()

    def insert_checked(self, table: str, rows: DataFrame) -> int:
        """:meth:`_insert` called directly (COPY FROM STDIN), as one
        statement of the open transaction (:meth:`_as_statement`)."""
        return self._as_statement(lambda: self._insert(table, rows))

    def delete_checked(self, table: str, condition: str) -> int:
        """:meth:`_delete` called directly, as one statement of the open
        transaction (:meth:`_as_statement`)."""
        return self._as_statement(lambda: self._delete(table, condition))

    def _insert(self, table: str, rows: DataFrame) -> int:
        """INSERT through the session's insert gate (:meth:`_insert_gate`:
        RLS WITH CHECK, FK RESTRICT, constraints) into the open
        transaction or the EventLog — the path of the INSERT statement and
        of COPY FROM STDIN."""

        def insert():
            self._insert_gate(table, rows)
            return self._writer(table).insert(rows)

        return self._write(insert)

    def _delete(self, table: str, condition: str) -> int:
        """DELETE ... WHERE ``condition`` through the DELETE plan
        (:meth:`_delete_rows`) — the path of DELETE and TRUNCATE."""
        return self._write(
            lambda: self._delete_rows(table, self._view(table).filter(condition))
        )

    def _delete_rows(self, table: str, doomed: DataFrame):
        """Delete ``doomed`` (rows of ``table`` as the statement sees it)
        with FK enforcement on children: RESTRICT refuses if any child row
        still references a to-be-deleted parent key (anti-join formulation
        of the reference's RESTRICT walk, fk.rs:73-150); CASCADE (beyond
        the reference, which parses but never executes it) soft-deletes
        referencing child rows first, transitively — each level is one
        semi-join to find the referencing child keys plus one event
        append, so a cascade over K levels is K distributed jobs, no
        driver-side row loops. Returns the target's last sequence."""
        # Two phases so the whole delete is all-or-nothing at the FK level:
        # (1) walk the cascade tree, pinning the doomed rows of each level
        # an FK references and raising on ANY violated RESTRICT — before a
        # single event stages or publishes; (2) apply the soft-deletes
        # children-first through the statement's writer. Keys flow between
        # levels as DataFrames (semi-joins), never via the driver.
        plan: list[tuple[str, DataFrame]] = []
        try:
            self._plan_delete(table, doomed, plan, depth=0)
            last = 0
            for tbl, rows in reversed(plan):
                last = self._writer(tbl).soft_delete(
                    rows.select(self._tables[tbl][0].pk_col)
                )
            return last
        finally:
            for _tbl, rows in plan:
                rows.unpersist()

    def _plan_delete(
        self, table: str, doomed: DataFrame, plan: list, depth: int
    ) -> None:
        from pyspark.sql import functions as F

        if depth > 20:
            raise ValueError("FK cascade deeper than 20 levels (cycle?)")
        children = [fk for fk in self._fks if fk[2] == table]
        if children:
            # pin now: later levels must not see mutated logs. A level no
            # FK references is read once, by its own append, which pins it
            # in the same pass that counts it.
            doomed = doomed.persist()
            doomed.count()
        plan.append((table, doomed))
        for child, child_col, _parent, parent_col, action in children:
            referencing = self._view(child).join(
                doomed.select(F.col(parent_col).cast("string").alias("_pk")),
                F.col(child_col).cast("string") == F.col("_pk"),
                "left_semi",
            )
            # A row this statement already deletes (a self-FK, or a
            # cycle back to a planned table) neither restricts nor
            # cascades again.
            child_pk = self._tables[child][0].pk_col
            for tbl, rows in plan:
                if tbl == child:
                    referencing = referencing.join(
                        rows.select(child_pk), child_pk, "left_anti"
                    )
            if action == "cascade":
                if not referencing.isEmpty():
                    self._plan_delete(child, referencing, plan, depth + 1)
            elif not referencing.isEmpty():
                raise ValueError(
                    f"FK RESTRICT: {child}.{child_col} references {table}.{parent_col}"
                )

    # -- sequences / auto-increment ------------------------------------------

    def create_sequence(self, name: str, start: int = 1, increment: int = 1) -> None:
        """CREATE SEQUENCE (reference sequences.rs:37-220). The counter is
        session-scoped driver state — sequences are an inherently serial
        contract, so they do not belong on the data path; distributed inserts
        that only need *uniqueness* should use ``insert_auto_increment``."""
        self._sequences[name] = (start, increment)

    def nextval(self, name: str) -> int:
        cur, inc = self._sequences[name]
        self._sequences[name] = (cur + inc, inc)
        return cur

    def insert_auto_increment(self, table: str, rows: DataFrame) -> int:
        """Auto-increment PK assignment for a batch insert (reference
        per-table-column auto-increment, sequences.rs). The next id is
        ``max(existing pk) + row_number within the batch`` — one scalar agg
        over current state plus a global row_number on the batch. Contiguity
        requires the single-partition window; at 100 TB you'd trade
        contiguity for ``monotonically_increasing_id``. Batches are the unit
        of write here, so the serial window only sees the new rows. The
        base reads the statement's view and the rows go through
        :meth:`insert_checked`, so inside BEGIN they stay in the
        transaction and RLS, FKs and constraints apply."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        pk = self._tables[table][0].pk_col
        base = (
            self._view(table).agg(F.max(F.col(pk).cast("long")).alias("m")).first().m
            or 0
        )
        w = W.orderBy(F.monotonically_increasing_id())
        with_pk = rows.withColumn(
            pk, (F.lit(base) + F.row_number().over(w)).cast("long")
        )
        return self.insert_checked(table, with_pk)

    def begin(self):
        """BEGIN — a buffered multi-table transaction (see
        driftdb_spark.transactions; reference sql_bridge.rs:453-568)."""
        from driftdb_spark.transactions import SessionTransaction

        return SessionTransaction(self)

    def drift(self, table: str, pk=None) -> DataFrame:
        """SHOW DRIFT — event history (reference query/executor.rs:327-354)."""
        return self.table(table).drift_history(pk)

    _IDENTIFIER_RE = _re.compile(r"\bIDENTIFIER\s*\(", _re.IGNORECASE)

    def _scope(self, *texts: str) -> list[str] | None:
        """What a statement reaches: the catalog objects (tables, views,
        materialized views) whose names appear as word tokens in
        ``texts``, followed through view definitions and RLS policy
        expressions, in DEPENDENCY ORDER — each object after everything
        its view body or RLS predicates name (DFS post-order), so
        :meth:`_register` analyzes every view body and RLS filter against
        this statement's registration of what it reads. A strict SUPERSET
        of what the statement can touch: a name inside a string literal
        over-registers (one wasted temp view); a miss is impossible for
        textual SQL. A cycle (a policy naming its own table, or a name
        matched inside a literal) is cut at its back edge, which resolves
        against whatever temp view that name already has.

        None (= the whole catalog) when a text holds IDENTIFIER(: Spark
        resolves that name from an expression or parameter, which a
        word-token scan cannot see.

        This keeps per-statement registration O(referenced), not
        O(catalog): registering one table's state view costs ~85 ms of
        JVM roundtrips (state fold plan + createOrReplaceTempView), so a
        200-table catalog would pay ~17 s per one-table SELECT if every
        statement re-registered everything — measured 1.83 s/statement at
        just 20 tables before this filter, 0.28 s after."""
        if any(self._IDENTIFIER_RE.search(t) for t in texts if t):
            return None
        names = frozenset(self._tables) | frozenset(self._views) | frozenset(
            self._mviews
        )
        if not names:
            return []
        cached = getattr(self, "_scope_rx_cache", None)
        if cached is not None and cached[0] == names:
            rx, canon = cached[1], cached[2]
        else:
            # rebuilt only when the catalog's name set changes (DDL)
            rx = _re.compile(
                r"\b("
                + "|".join(
                    sorted((_re.escape(n) for n in names), key=len, reverse=True)
                )
                + r")\b",
                _re.IGNORECASE,
            )
            canon = {n.lower(): n for n in names}
            self._scope_rx_cache = (names, rx, canon)

        def named(*ts: str | None) -> list[str]:
            return [canon[m.lower()] for t in ts if t for m in rx.findall(t)]

        def reads(name: str) -> list[str]:
            out = named(self._views.get(name))
            if name in self._tables:
                # RLS predicates may reference OTHER tables (EXISTS / IN
                # subqueries); their state views must register first
                for pol in self.rls.policies(name):
                    out += named(pol.using_expr, pol.check_expr)
            return out

        order: list[str] = []
        seen: set[str] = set()
        for root in named(*texts):
            if root in seen:
                continue
            seen.add(root)
            stack = [(root, iter(reads(root)))]
            while stack:
                name, todo = stack[-1]
                nxt = next((n for n in todo if n not in seen), None)
                if nxt is None:
                    stack.pop()
                    order.append(name)
                else:
                    seen.add(nxt)
                    stack.append((nxt, iter(reads(nxt))))
        return order

    def _catalog_order(self) -> list[str]:
        """The whole catalog in dependency order: each name, as text,
        reaches itself (the scope IDENTIFIER( falls back to)."""
        return self._scope(*sorted({*self._tables, *self._views, *self._mviews}))

    def _register(
        self, asof: AsOf, scope: list[str] | None, pinning: frozenset[str] = frozenset()
    ) -> None:
        """Register, in order, the temp view of every object in ``scope``
        (from :meth:`_scope`; None = the whole catalog) at ``asof``: a
        table's state view (behind its RLS read filter), a materialized
        view's stored result, a view's re-executed definition (the
        reference re-runs view SQL inline per query). An object outside
        the scope is unreachable from the statement, so its temp view —
        stale or absent — is never read.

        A view whose definition carries its own FOR SYSTEM_TIME registers
        its own sub-scope at that target, defines itself over it, then
        restores the sub-scope at ``asof``. The sub-scope leaves out that
        view and every view an outer call is still pinning (``pinning``):
        its body may name one of them (a column alias, a literal,
        IDENTIFIER( reaching the whole catalog), and re-entering it would
        never end; that name resolves like any other cut back edge.

        Materialized views re-resolve their versioned parquet pointer here,
        PER STATEMENT: sessions share the storage dir but not the temp-view
        namespace (the wire server clones a SparkSession per connection), so
        a REFRESH MATERIALIZED VIEW on one connection moves the on-disk
        pointer and sweeps the superseded version one publish cycle later —
        a sibling connection that kept its connect-time registration would
        first serve stale rows, then break when the old directory is
        deleted. Re-resolution is a listdir per mview; the parquet re-read
        only happens when the pointer actually moved."""
        from driftdb_spark.views import resolve_versioned

        if scope is None:
            scope = self._catalog_order()
        # Read-your-writes inside an open SQL transaction: a table touched
        # by the transaction registers its buffered view (committed ∪
        # staged events) — but ONLY for "current" reads. An explicit
        # temporal target always reads committed history (an uncommitted
        # buffer has no place on a time-travel axis).
        current = (
            asof.sequence is None
            and asof.timestamp is None
            and asof.between is None
            and not asof.all_history
        )
        for name in scope:
            if name in self._views:
                clean, view_asof = parse_system_time(self._views[name])
                if view_asof.sequence is None and view_asof.timestamp is None:
                    self.spark.sql(clean).createOrReplaceTempView(name)
                    continue
                inner = pinning | {name}
                sub = self._scope(clean)
                sub = [n for n in (self._catalog_order() if sub is None else sub)
                       if n not in inner]
                self._register(view_asof, sub, inner)
                self.spark.sql(clean).createOrReplaceTempView(name)
                self._register(asof, sub, inner)
            elif name in self._mviews:
                path = resolve_versioned(self.storage_dir, f"mv_{name}")
                if path is not None and self._mview_paths.get(name) != path:
                    self.spark.read.parquet(path).createOrReplaceTempView(name)
                    self._mview_paths[name] = path
            else:
                log, schema_cols = self._tables[name]
                rls_pred = self.rls.read_predicate(name, self._security)
                if asof.all_history:
                    view = log.events()
                    if rls_pred is not None:
                        # history rows expose the payload map; gate on the
                        # reconstructed-state keys instead: a user sees the
                        # history only of rows currently visible to them.
                        visible = (
                            log.state_df(schema_cols).filter(rls_pred).select("pk")
                        )
                        view = view.join(visible, "pk", "left_semi")
                    view.createOrReplaceTempView(name)
                    continue
                view = (
                    self._view(name) if current else log.state_df(schema_cols, asof)
                ).drop("pk", "last_seq")
                if rls_pred is not None:
                    view = view.filter(rls_pred)
                view.createOrReplaceTempView(name)

"""Stored procedures — the reference's ProcedureManager, Spark-first.

The reference compiles a procedural language (DECLARE/SET/IF/WHILE/FOR/
EXECUTE/RETURN — procedures.rs:177-236) and interprets it row-at-a-time
(execute_procedure, procedures.rs:533-620); its SQL bridge never wires
``CALL`` (sql_bridge.rs:752 leaves the arm commented out). Here the same
capability splits along Spark's natural seam:

- **SQL-bodied procedures**: an ordered list of SQL statements with named
  ``:param`` markers, executed through :meth:`DriftSession.sql` — so each
  statement gets the full dispatcher (DML-as-events, temporal clauses,
  transaction routing) and Catalyst does the execution. Parameters bind
  via Spark's parameterized SQL, never string interpolation. This covers
  the reference's ``Execute`` statements, which is what its own test
  procedures consist of.
- **Python-bodied procedures**: a callable ``(session, **params)`` for
  control flow (IF/WHILE/FOR). Driving declarative DataFrame plans from
  Python IS the Spark idiom for procedural logic (same pattern as the
  repo's iterative operators — pagerank, connected components), so the
  reference's interpreter loop maps to plain Python that emits
  distributed jobs, not to a row interpreter.

The result of the last statement (or the callable's return) is the CALL
result. SQL-bodied procedures persist in the session catalog like views;
Python bodies are session-scoped (code doesn't belong in a JSON catalog).
"""

from __future__ import annotations

from typing import Callable

from driftdb_spark.sqltext import bind_params


class ProcedureRegistry:
    """Per-session procedure store (reference ProcedureManager,
    procedures.rs:397-460)."""

    def __init__(self, session):
        self._session = session
        self._sql_procs: dict[str, tuple[list[str], list[str]]] = {}
        self._py_procs: dict[str, tuple[list[str], Callable]] = {}

    # -- definition -----------------------------------------------------------

    def create(self, name: str, params: list[str], body) -> None:
        """``body`` is either a list of SQL statement strings (``:param``
        markers bind arguments) or a callable ``(session, **params)``
        (reference create_procedure, procedures.rs:457-500; replacement
        of an existing name follows CREATE OR REPLACE semantics)."""
        if callable(body):
            self._sql_procs.pop(name, None)
            self._py_procs[name] = (list(params), body)
        else:
            stmts = [s for s in (str(s).strip() for s in body) if s]
            if not stmts:
                raise ValueError(f"procedure {name} has an empty body")
            self._py_procs.pop(name, None)
            self._sql_procs[name] = (list(params), stmts)

    def drop(self, name: str) -> None:
        if self._sql_procs.pop(name, None) is None and self._py_procs.pop(
            name, None
        ) is None:
            raise KeyError(f"no such procedure: {name}")

    def names(self) -> list[str]:
        return sorted(set(self._sql_procs) | set(self._py_procs))

    # -- execution ------------------------------------------------------------

    def call(self, name: str, args: dict):
        """Execute a procedure; returns the last statement's result
        (reference execute_procedure, procedures.rs:533-620 — argument
        names are validated against the declared parameter list)."""
        if name in self._py_procs:
            params, fn = self._py_procs[name]
            self._check_args(name, params, args)
            return fn(self._session, **args)
        if name in self._sql_procs:
            params, stmts = self._sql_procs[name]
            self._check_args(name, params, args)
            result = None
            for stmt in stmts:
                # a query binds natively (values never touch the SQL
                # text); DML gets typed, escaped literals — the
                # dispatcher hands its fragments to parsers that cannot
                # see a binding map
                result = self._session.sql(*bind_params(stmt, args))
            return result
        raise KeyError(f"no such procedure: {name}")

    @staticmethod
    def _check_args(name: str, params: list[str], args: dict) -> None:
        missing = [p for p in params if p not in args]
        extra = [a for a in args if a not in params]
        if missing or extra:
            raise ValueError(
                f"procedure {name} expects parameters {params}; "
                f"missing={missing} unexpected={extra}"
            )

    # -- catalog persistence ---------------------------------------------------

    def to_catalog(self) -> dict:
        """SQL-bodied procedures only — Python bodies are session-scoped."""
        return {
            name: {"params": params, "body": stmts}
            for name, (params, stmts) in self._sql_procs.items()
        }

    def load_catalog(self, cat: dict) -> None:
        for name, meta in cat.items():
            self._sql_procs[name] = (list(meta["params"]), list(meta["body"]))

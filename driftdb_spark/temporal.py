"""Temporal clause resolution — ``FOR SYSTEM_TIME AS OF @SEQ:N | <ts> | ALL``.

The reference peels the temporal clause off the SQL text before parsing and
stashes it thread-locally, applying it at every table fetch (reference
crates/driftdb-core/src/sql_bridge.rs:304-320, sql/parser.rs:29-144). Here
the clause resolves to a plain ``sequence <= N`` pre-filter on the event log
(Catalyst pushes it to the scan), so no custom planner rule is needed.

Timestamp targets resolve to the max sequence at-or-before the timestamp,
matching reference query/executor.rs:194-205.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from driftdb_spark.sqltext import search_code

# FOR SYSTEM_TIME AS OF @SEQ:N | 'ts' | CURRENT_TIMESTAMP ; FOR SYSTEM_TIME ALL ;
# FOR SYSTEM_TIME BETWEEN a AND b (closed) ; FOR SYSTEM_TIME FROM a TO b
# (half-open [a, b) — SQL:2011). The reference parses BETWEEN and FROM…TO
# but errors on both — sql/parser.rs:147-203; we execute them.
_SYSTEM_TIME_RE = re.compile(
    r"\s+FOR\s+SYSTEM_TIME\s+(?:"
    r"AS\s+OF\s+(?P<asof>@SEQ:\d+|CURRENT_TIMESTAMP|'[^']+')"
    r"|(?P<all>ALL)"
    r"|BETWEEN\s+(?P<lo>@SEQ:\d+|'[^']+')\s+AND\s+(?P<hi>@SEQ:\d+|'[^']+')"
    r"|FROM\s+(?P<flo>@SEQ:\d+|'[^']+')\s+TO\s+(?P<fhi>@SEQ:\d+|'[^']+')"
    r")",
    re.IGNORECASE,
)


@dataclass
class AsOf:
    """Temporal target (reference query/mod.rs:55-59: Sequence | Timestamp | Now)."""

    sequence: int | None = None
    timestamp: datetime | str | None = None
    all_history: bool = False
    between: tuple | None = None  # (lo, hi) AsOf pair for BETWEEN / FROM…TO
    half_open: bool = False  # FROM…TO: [lo, hi) — SQL:2011 half-open twin

    @staticmethod
    def now() -> "AsOf":
        return AsOf()


def parse_system_time(sql: str) -> tuple[str, AsOf]:
    """Peel a FOR SYSTEM_TIME clause from SQL text; returns (clean_sql, AsOf).
    Only a clause in code counts: the same words in a literal or comment
    are text, and text that does not lex keeps its clause, so Spark's
    parser refuses it."""
    m = search_code(_SYSTEM_TIME_RE, sql)
    if not m:
        return sql, AsOf.now()
    clean = sql[: m.start()] + sql[m.end() :]
    if m.group("all"):
        return clean, AsOf(all_history=True)
    if m.group("lo"):
        return clean, AsOf(between=(_parse_point(m.group("lo")), _parse_point(m.group("hi"))))
    if m.group("flo"):
        return clean, AsOf(
            between=(_parse_point(m.group("flo")), _parse_point(m.group("fhi"))),
            half_open=True,
        )
    return clean, _parse_point(m.group("asof"))


def _parse_point(tok: str) -> AsOf:
    tok = tok.strip()
    if tok.upper() == "CURRENT_TIMESTAMP":
        return AsOf.now()
    if tok.upper().startswith("@SEQ:"):
        return AsOf(sequence=int(tok[5:]))
    return AsOf(timestamp=tok.strip("'"))


def resolve_sequence_at(
    events: DataFrame, ts, seq_col: str = "sequence", ts_col: str = "ts"
) -> int | None:
    """Max sequence with event timestamp <= ts (reference
    query/executor.rs:194-205, engine.rs:1074-1083). A tiny scalar
    aggregation — one job, one value back to the driver."""
    row = events.filter(F.col(ts_col) <= F.lit(ts).cast("timestamp")).agg(
        F.max(seq_col).alias("s")
    ).first()
    return None if row is None else row["s"]


def resolve_sequence_before(
    events: DataFrame, ts, seq_col: str = "sequence", ts_col: str = "ts"
) -> int | None:
    """Max sequence with event timestamp STRICTLY before ts — the
    half-open (FROM…TO) twin of :func:`resolve_sequence_at`."""
    row = events.filter(F.col(ts_col) < F.lit(ts).cast("timestamp")).agg(
        F.max(seq_col).alias("s")
    ).first()
    return None if row is None else row["s"]


def apply_asof(
    events: DataFrame, asof: AsOf, seq_col: str = "sequence", ts_col: str = "ts"
) -> DataFrame:
    """Apply a resolved temporal target as a sequence pre-filter."""
    if asof.all_history or (
        asof.sequence is None and asof.timestamp is None and asof.between is None
    ):
        return events
    if asof.between is not None:
        lo_pt, hi_pt = asof.between
        lo = _as_seq(events, lo_pt, seq_col, ts_col)
        if asof.half_open and hi_pt.sequence is not None:
            # FROM a TO b is half-open [a, b): a sequence upper bound
            # excludes b itself
            return events.filter(
                (F.col(seq_col) >= (lo if lo is not None else 0))
                & (F.col(seq_col) < hi_pt.sequence)
            )
        if asof.half_open and hi_pt.timestamp is not None:
            # timestamp upper bound: events strictly BEFORE hi_ts —
            # resolve to max sequence with ts < hi (strict), then <=
            hi = resolve_sequence_before(events, hi_pt.timestamp, seq_col, ts_col)
            return events.filter(
                (F.col(seq_col) >= (lo if lo is not None else 0))
                & (F.col(seq_col) <= (hi if hi is not None else -1))
            )
        hi = _as_seq(events, hi_pt, seq_col, ts_col)
        return events.filter(F.col(seq_col).between(lo if lo is not None else 0, hi))
    seq = _as_seq(events, asof, seq_col, ts_col)
    if seq is None:
        return events.filter(F.lit(False))
    return events.filter(F.col(seq_col) <= seq)


def _as_seq(events: DataFrame, asof: AsOf, seq_col: str, ts_col: str) -> int | None:
    if asof.sequence is not None:
        return asof.sequence
    if asof.timestamp is not None:
        return resolve_sequence_at(events, asof.timestamp, seq_col, ts_col)
    return None

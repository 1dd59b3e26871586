"""Query registry: one named entry per implemented operator from SURVEY.md §2.

Each entry pairs a Spark DataFrame program ``(spark, sf_dir) -> DataFrame``
with the equivalent ANSI SQL that DuckDB can run on the same parquet tables.
The driver (and our pytest harness) executes both and compares row count,
schema, and an order-insensitive value hash — so:

- every computed column is aliased identically on both sides;
- float aggregations are routed through exact DECIMAL casts (IEEE float
  summation is order-dependent, so a raw ``SUM(double)`` is not reproducible
  across engines — see ``operators/relational.py`` helpers);
- LIMIT queries carry unique tie-breaker sort keys so the cut is
  deterministic.

Entries whose semantics are not SQL-expressible (the mapInPandas multimodal
decoders and perceptual hashes) set ``oracle=None`` and get a weaker
rows-only check. Hash-based operators key on hashes both engines
compute identically (md5-derived) so they keep a value-for-value oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import for side effects: each operators/functions module registers its
    # queries at import time.
    from driftdb_spark.operators import (  # noqa: F401
        advanced,
        extended,
        recursive,
        relational,
        temporal_queries,
        tpch_extra,
    )
    from driftdb_spark.functions import (  # noqa: F401
        dedup,
        multimodal,
        sampling,
        similarity,
        text,
    )
    from driftdb_spark.streaming import joins  # noqa: F401


def query_map() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }

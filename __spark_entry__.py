"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual inventory lives in ``driftdb_spark`` (operators/ and functions/
modules register themselves into ``driftdb_spark.registry``); this file is
the thin driver-facing surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape: filter + groupBy + 8 aggregates) on
    /root/testdata/sf0.001; driver checks rows>0."""
    from driftdb_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from driftdb_spark.registry import query_map

    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, keyed like ``queries()``.
    Entries absent here (the multimodal decoders and perceptual hashes)
    are not DuckDB-expressible and get rows-only checks."""
    from driftdb_spark.registry import oracle_map

    return oracle_map()

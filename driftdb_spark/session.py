"""SparkSession bootstrap tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also hold on a multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE's coalescing makes the static number far less critical.
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
- UTC session timezone so parquet timestamps compare bit-identically with
  the DuckDB oracle.
"""

from __future__ import annotations

import logging
import os

from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    60% of the memory available now. A heap sized above physical RAM
    grows into the OOM killer on a host with no swap, instead of
    spilling."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as fh:
            kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemAvailable:")
            )
        avail_mb = kb // 1024
    except (OSError, StopIteration):
        avail_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(512, avail_mb * 6 // 10)}m"


def get_spark(
    app_name: str = "driftdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    scheduler: str = "FIFO",
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``getOrCreate`` reuses the live session, so repeated calls across the
    query registry / bench / tests share one JVM — Spark's per-query floor
    is scheduling, not session startup.

    ``scheduler``: job-scheduling mode for the SparkContext. FIFO is the
    engine default — an isolated A/B (``git show
    52710e8:scripts/bench_isolated_ab.py``, --scheduler-ab; both orders,
    fresh processes) measured FAIR costing 8-18 % on shuffle-heavy batch
    queries, so batch/bench work must not pay it. The wire-serve path opts
    into FAIR at session build time (cli serve →
    get_spark(scheduler="FAIR")) so concurrent connections share executor
    cores via per-connection pools instead of queueing whole jobs.
    Scheduler mode is static per SparkContext: it cannot be flipped after
    getOrCreate, which is why it is a build-time argument and not a
    server-side conf set.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events table carries TIMESTAMP(NANOS) which Spark 4 refuses by
        # default; read as long nanos, catalog converts to TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.scheduler.mode", scheduler)
        .config("spark.driver.memory", _driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # PySpark logs every captured exception that carries a query context
    # as a ~10 KB ERROR JSON record on stderr; the session's query log
    # already records the error, and the exception still raises. The
    # loggers must come from PySparkLogger.getLogger: a plain Logger
    # registered first under these names would be handed back to PySpark,
    # whose structured-keyword logger.exception() call it rejects.
    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        PySparkLogger.getLogger(name).setLevel(logging.CRITICAL)
    # getOrCreate reuses a live SparkContext, silently dropping every
    # builder config — including the scheduler, which cannot change after
    # launch. A serve path that requested FAIR but got a pre-existing
    # FIFO context would have inert per-connection pools: say so.
    actual = spark.sparkContext.getConf().get("spark.scheduler.mode", "FIFO")
    if actual.upper() != scheduler.upper():
        logging.getLogger(__name__).warning(
            "get_spark(scheduler=%r) reused a live SparkContext running %s "
            "— scheduler mode is fixed at JVM launch; restart the process "
            "(or build the serve session first) to change it",
            scheduler,
            actual,
        )
    return spark

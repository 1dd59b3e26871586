"""Testdata catalog: load the star-schema parquet tables and register views.

The reference reconstructs table state from an event log on every scan
(reference crates/driftdb-core/src/query/executor.rs:109-235); our base
tables are already-materialized parquet, so a scan is just
``spark.read.parquet`` — predicate pushdown, column pruning, and partition
pruning come free from Catalyst + the parquet DataSource.

Scale notes (100 TB discipline):
- ``region``/``nation`` are bounded dimensions → always broadcast-join
  candidates; we mark them with a broadcast hint at join sites, not here.
- No ``.cache()`` by default: caching 100 TB is a mistake. ``load_tables``
  takes ``cache=True`` only for the bench harness at small SF.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrame handles memoized per (session, sf_dir): ``spark.read.parquet``
# does driver-side file listing + footer schema reads, which every query
# function would otherwise repeat for all 10 tables. DataFrames are
# immutable, so reuse is safe; views are (re-)registered on every call
# because a different sf_dir may have claimed the bare names in between.
# Keyed on a weakref to the session (not id()) so a stopped-and-collected
# session can never alias a new one through CPython id reuse.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)
_CACHED: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = weakref.WeakKeyDictionary()

# Tables skipped by per-table read isolation, keyed sf_dir -> {name: reason}.
# Purely diagnostic; REPLACED wholesale on every non-memoized load so a
# stale failure can't outlive a later successful load. The authoritative
# per-session record is the ``skipped`` attribute on the returned catalog.
_SKIPPED: dict[str, dict[str, str]] = {}


class _TableDict(dict):
    """Catalog mapping whose KeyError explains WHY a table is absent —
    consumers hitting a skipped table get the recorded read error instead
    of a bare name."""

    def __init__(self, *args, skipped: dict[str, str] | None = None, **kwargs):
        super().__init__(*args, **kwargs)
        self.skipped = skipped if skipped is not None else {}

    def __missing__(self, key):
        if key in self.skipped:
            raise KeyError(
                f"table {key!r} was skipped at catalog load: {self.skipped[key]}"
            )
        raise KeyError(key)

# Ingest-time layout fix: the synthetic testdata ships each table as ONE
# parquet file with ONE row group — an unsplittable scan, so every query's
# read + partial aggregation runs on a single core no matter how many are
# available. Any engine owns its storage layout (the reference ingests into
# its event-log segments; Delta has OPTIMIZE): on first load we rewrite such
# tables once into a multi-file copy under the repo warehouse, fingerprinted
# against the source file so edits invalidate. Values are byte-identical
# (parquet→parquet roundtrip); correctness checks still compare against
# DuckDB reading the ORIGINAL files.
_CHUNK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "_chunked")
# Partition sizing is by ROWS, not cores: a fact table gets ~one split per
# _RECHUNK_ROWS_PER_SPLIT rows (capped at defaultParallelism), while small
# tables keep their single partition — at bench scale, per-task scheduling
# overhead on a 5k-row dimension costs more than the parallelism buys.
_RECHUNK_MIN_ROWS = 200_000
_RECHUNK_ROWS_PER_SPLIT = 75_000


def _rechunked_path(spark: SparkSession, name: str, path: str, sf_dir: str) -> str | None:
    """Return the path of a splittable copy of ``path``, building it if
    needed; None when the source is already parallelizable or too small."""
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
    except Exception:
        return None
    cpus = int(spark.sparkContext.defaultParallelism)
    splits = min(cpus, meta.num_rows // _RECHUNK_ROWS_PER_SPLIT)
    if meta.num_rows < _RECHUNK_MIN_ROWS or meta.num_row_groups >= splits:
        return None
    st = os.stat(path)
    fingerprint = f"{st.st_size}:{st.st_mtime_ns}:{splits}"
    out_dir = os.path.join(_CHUNK_DIR, os.path.basename(sf_dir.rstrip("/")), name)
    marker = os.path.join(out_dir, "_FINGERPRINT")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out_dir
    spark.read.parquet(path).repartition(splits).write.mode("overwrite").parquet(out_dir)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out_dir


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register: bool = True,
    cache: bool = False,
) -> dict[str, DataFrame]:
    """Read every testdata table under ``sf_dir`` and (optionally) register
    each as a temp view under its bare name.

    Reading is lazy — no job runs until an action; repeat calls return the
    memoized handles, so per-query catalog overhead is a dict lookup.
    """
    # Driver contract: queries run on an ARBITRARY SparkSession, not the one
    # get_spark() builds — so every session-level conf a scan depends on must
    # be (re)applied here at runtime. events.parquet carries TIMESTAMP(NANOS)
    # which Spark 4 rejects by default; nanosAsLong is runtime-settable, and
    # the UTC session timezone is what makes the timestamp_ntz→timestamp
    # normalization below (and DuckDB oracle comparison) wall-clock-exact on
    # any host.
    for conf_key, conf_val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(conf_key, conf_val)
        except Exception:
            pass  # a future Spark may make it static; per-table isolation
            # below then skips the affected table instead of the catalog.
    per_session = _MEMO.setdefault(spark, {})
    dfs = per_session.get(sf_dir)
    if dfs is None:
        skipped: dict[str, str] = {}
        dfs = _TableDict(skipped=skipped)
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            # One unreadable table must not zero out queries that never touch
            # it: isolate per-table failures; consumers get a KeyError with
            # the skip reason instead of a catalog-wide AnalysisException.
            # A failure in the OPTIONAL rechunk step (disk-full writing the
            # _chunked copy, say) must not drop a table whose original file
            # is readable — fall back to the original before skipping.
            try:
                chunked = _rechunked_path(spark, name, path, sf_dir)
            except Exception:  # noqa: BLE001 — rechunk is an optimization
                chunked = None
            try:
                df = spark.read.parquet(chunked or path)
            except Exception as exc:  # noqa: BLE001 — deliberate isolation
                if chunked is not None:
                    try:
                        df = spark.read.parquet(path)
                    except Exception as exc2:  # noqa: BLE001
                        exc = exc2
                        df = None
                else:
                    df = None
                if df is None:
                    skipped[name] = repr(exc)
                    import warnings

                    warnings.warn(
                        f"catalog: skipping table {name!r} under {sf_dir}: {exc!r}",
                        stacklevel=2,
                    )
                    continue
            # Normalize events.ts to one stable type across testdata vintages:
            # TIMESTAMP(NANOS) + nanosAsLong arrives as long nanos → floor to
            # µs (matches DuckDB's CAST(ts_ns AS TIMESTAMP)); TIMESTAMP(MICROS,
            # no-UTC) arrives as timestamp_ntz → cast to TimestampType, which
            # is wall-clock-identical under the UTC session timezone.
            for field in df.schema.fields:
                if field.name != "ts":
                    continue
                kind = field.dataType.simpleString()
                if kind == "bigint":
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                elif kind == "timestamp_ntz":
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            dfs[name] = df
        per_session[sf_dir] = dfs
        # Module-level mirror for diagnostics/tests; replaced wholesale so a
        # later clean load clears any stale failure reason for this sf_dir.
        _SKIPPED[sf_dir] = skipped
    if cache and sf_dir not in _CACHED.setdefault(spark, set()):
        for df in dfs.values():
            df.cache()
        _CACHED[spark].add(sf_dir)
    if register:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
    return dfs

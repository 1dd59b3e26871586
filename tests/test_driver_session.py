"""Pin the driver contract: registered queries must run on an ARBITRARY
SparkSession, not just the tuned one ``get_spark`` builds.

Round-1 regression: every sampled query errored with PARQUET_TYPE_ILLEGAL
because ``spark.sql.legacy.parquet.nanosAsLong`` lived only in the session
builder (session.py) while the driver runs ``queries()[name](spark, sf_dir)``
on its own plain session. ``load_tables`` must therefore (re)apply every
scan-critical conf at runtime.

A second process would be the purest "vanilla session", but pytest shares one
JVM — so we simulate the driver by UNSETTING the conf on the live session and
clearing the catalog memo. If ``load_tables`` doesn't re-set it, reading
events.parquet (TIMESTAMP NANOS) throws exactly the round-1 error.
"""

import pytest

import __spark_entry__ as entry
from driftdb_spark import catalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def plain_conf_session(spark):
    """The shared session with the nanos conf stripped + catalog memo cleared,
    restoring afterwards so other tests keep their memoized handles."""
    saved_memo = dict(catalog._MEMO)
    catalog._MEMO.clear()
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    yield spark
    catalog._MEMO.clear()
    for k, v in saved_memo.items():
        catalog._MEMO[k] = v
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_queries_run_without_builder_confs(plain_conf_session):
    qs = entry.queries()
    # One query that never touches events, one that reconstructs state FROM
    # events — the round-1 failure killed both classes at catalog time.
    assert qs["q1_pricing_summary"](plain_conf_session, SF_DIR).count() > 0
    assert qs["events_reconstruct_current"](plain_conf_session, SF_DIR).count() > 0


def test_load_tables_sets_nanos_conf_at_runtime(plain_conf_session):
    catalog.load_tables(plain_conf_session, SF_DIR)
    assert (
        plain_conf_session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )


def test_events_ts_is_timestamp_not_long(plain_conf_session):
    tables = catalog.load_tables(plain_conf_session, SF_DIR)
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"


def test_one_bad_table_does_not_kill_catalog(tmp_path, spark):
    """Per-table isolation: a corrupt parquet skips that table only."""
    import shutil, os

    scratch = tmp_path / "sf_corrupt"
    scratch.mkdir()
    for name in ("nation", "region"):
        shutil.copy(f"{SF_DIR}/{name}.parquet", scratch / f"{name}.parquet")
    (scratch / "orders.parquet").write_bytes(b"not a parquet file")
    tables = catalog.load_tables(spark, str(scratch), register=False)
    assert "nation" in tables and "region" in tables
    assert "orders" not in tables
    assert "orders" in catalog._SKIPPED[str(scratch)]


def test_rechunk_failure_falls_back_to_original(tmp_path, spark, monkeypatch):
    """A failure in the OPTIONAL rechunk step must not drop a table whose
    original file is readable (round-2 ADVICE)."""
    import shutil

    scratch = tmp_path / "sf_rechunk_fail"
    scratch.mkdir()
    shutil.copy(f"{SF_DIR}/nation.parquet", scratch / "nation.parquet")

    def boom(spark, name, path, sf_dir):
        raise OSError("disk full writing _chunked copy")

    monkeypatch.setattr(catalog, "_rechunked_path", boom)
    tables = catalog.load_tables(spark, str(scratch), register=False)
    assert tables["nation"].count() > 0
    assert "nation" not in tables.skipped


def test_skipped_table_keyerror_carries_reason(tmp_path, spark):
    """Consumers hitting a skipped table see the recorded read error, not a
    bare KeyError (round-2 ADVICE)."""
    import shutil

    scratch = tmp_path / "sf_reason"
    scratch.mkdir()
    shutil.copy(f"{SF_DIR}/nation.parquet", scratch / "nation.parquet")
    (scratch / "orders.parquet").write_bytes(b"not a parquet file")
    tables = catalog.load_tables(spark, str(scratch), register=False)
    with pytest.raises(KeyError, match="skipped at catalog load"):
        tables["orders"]


def test_load_tables_sets_utc_timezone_at_runtime(plain_conf_session):
    """The ntz→timestamp normalization is only wall-clock-exact under UTC;
    a plain driver session on a non-UTC host must still get it."""
    plain_conf_session.conf.set("spark.sql.session.timeZone", "America/New_York")
    catalog.load_tables(plain_conf_session, SF_DIR)
    assert plain_conf_session.conf.get("spark.sql.session.timeZone") == "UTC"


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is sized from the
    memory available, so it stays below physical RAM: on a host with no
    swap, a larger heap ends in the OOM killer instead of spill. The
    variable still overrides it."""
    import os

    from driftdb_spark.session import _driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _driver_memory()
    assert heap.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 512 <= int(heap[:-1]) < phys_mb
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"

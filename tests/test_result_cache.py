"""Query-result cache (reference driftdb-core cache.rs: SHA256 keys,
user scoping, LRU + size caps, should_cache gating) — upgraded here to
EXACT version-vector invalidation: a write changes the key, so no TTL
window can ever serve stale rows. These tests pin the invalidation
guarantee the reference lacks, plus the parity behaviors it has."""

from __future__ import annotations

import os

import pytest

from driftdb_spark.sql_frontend import DriftSession


def _mkdb(spark, tmp_path, name="cachedata"):
    sess = DriftSession(spark, str(tmp_path / name))
    sess.sql("CREATE TABLE t (id INT PRIMARY KEY, grp STRING, v INT)")
    sess.sql(
        "INSERT INTO t VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)"
    )
    return sess


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cache_hit_and_exact_result(spark, tmp_path):
    sess = _mkdb(spark, tmp_path)
    cache = sess.enable_result_cache()
    q = "SELECT grp, SUM(v) AS s FROM t GROUP BY grp"
    first = _rows(sess.sql(q))
    assert cache.statistics()["misses"] == 1
    second = _rows(sess.sql(q))
    st = cache.statistics()
    assert st["hits"] == 1 and st["entries"] == 1
    assert first == second == [("a", 30), ("b", 30)]


def test_write_invalidates_exactly(spark, tmp_path):
    """The upgrade over the reference's TTL: a write between two identical
    SELECTs yields fresh rows immediately — no staleness window."""
    sess = _mkdb(spark, tmp_path, "cacheinv")
    cache = sess.enable_result_cache()
    q = "SELECT COUNT(*) AS n FROM t"
    assert _rows(sess.sql(q)) == [(3,)]
    assert _rows(sess.sql(q)) == [(3,)]  # hit
    sess.sql("INSERT INTO t VALUES (4, 'b', 40)")
    assert _rows(sess.sql(q)) == [(4,)]  # key changed -> fresh execution
    st = cache.statistics()
    assert st["hits"] == 1 and st["misses"] == 2
    # UPDATE and DELETE invalidate too (they publish new batches)
    sess.sql("UPDATE t SET v = 99 WHERE id = 1")
    assert _rows(sess.sql("SELECT v FROM t WHERE id = 1")) == [(99,)]
    sess.sql("DELETE FROM t WHERE id = 4")
    assert _rows(sess.sql(q)) == [(3,)]


def test_cache_through_views_and_view_redefinition(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachevw")
    cache = sess.enable_result_cache()
    sess.sql("CREATE VIEW va AS SELECT * FROM t WHERE grp = 'a'")
    q = "SELECT COUNT(*) AS n FROM va"
    assert _rows(sess.sql(q)) == [(2,)]
    assert _rows(sess.sql(q)) == [(2,)]
    assert cache.statistics()["hits"] == 1
    # a write to the view's BASE table invalidates the view's entry
    sess.sql("INSERT INTO t VALUES (5, 'a', 50)")
    assert _rows(sess.sql(q)) == [(3,)]
    # redefining the view invalidates without any table write
    sess.sql("DROP VIEW va")
    sess.sql("CREATE VIEW va AS SELECT * FROM t WHERE grp = 'b'")
    assert _rows(sess.sql(q)) == [(1,)]


def test_security_context_scopes_entries(spark, tmp_path):
    """Two principals must not share rows through the cache (reference
    CacheKey.user, cache.rs:66-73) — with RLS active the same statement
    returns different rows per user."""
    sess = _mkdb(spark, tmp_path, "cacherls")
    sess.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    sess.sql("CREATE POLICY pa ON t USING (grp = 'a')")
    sess.sql("CREATE POLICY pall ON t TO admin USING (true)")
    cache = sess.enable_result_cache()
    q = "SELECT COUNT(*) AS n FROM t"
    sess.set_security_context("alice")
    assert _rows(sess.sql(q)) == [(2,)]
    sess.set_security_context("bob", roles=["admin"])
    assert _rows(sess.sql(q)) == [(3,)]  # different key -> no bleed
    sess.set_security_context("alice")
    assert _rows(sess.sql(q)) == [(2,)]  # alice's entry still hers
    assert cache.statistics()["hits"] == 1
    sess.set_security_context(None)


def test_write_to_rls_reached_table_invalidates(spark, tmp_path):
    """A table the statement reaches only through an RLS predicate keys
    the entry too: a write to it changes what the policy lets through,
    so the next read must miss, not serve the old rows."""
    sess = _mkdb(spark, tmp_path, "cacherlsacl")
    sess.sql("CREATE TABLE grants (gid INT PRIMARY KEY, usr STRING)")
    sess.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    sess.sql(
        "CREATE POLICY pg ON t USING "
        "(id IN (SELECT gid FROM grants WHERE usr = current_user))"
    )
    sess.sql("INSERT INTO grants VALUES (1, 'alice')")
    assert _rows(sess.sql("SELECT gid FROM grants")) == [(1,)]
    cache = sess.enable_result_cache()
    q = "SELECT id FROM t"
    sess.set_security_context("alice")
    assert _rows(sess.sql(q)) == [(1,)]
    assert _rows(sess.sql(q)) == [(1,)]
    assert cache.statistics()["hits"] == 1
    sess.set_security_context(None)
    sess.sql("INSERT INTO grants VALUES (2, 'alice')")
    sess.set_security_context("alice")
    assert _rows(sess.sql(q)) == [(1,), (2,)]
    assert cache.statistics()["hits"] == 1
    sess.set_security_context(None)


def test_parameterized_statements_key_on_args(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cacheargs")
    cache = sess.enable_result_cache()
    q = "SELECT COUNT(*) AS n FROM t WHERE grp = :g"
    assert _rows(sess.sql(q, args={"g": "a"})) == [(2,)]
    assert _rows(sess.sql(q, args={"g": "b"})) == [(1,)]
    assert _rows(sess.sql(q, args={"g": "a"})) == [(2,)]
    st = cache.statistics()
    assert st["misses"] == 2 and st["hits"] == 1


def test_temporal_reads_cacheable(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachetmp")
    cache = sess.enable_result_cache()
    q = "SELECT COUNT(*) AS n FROM t FOR SYSTEM_TIME AS OF @SEQ:3"
    assert _rows(sess.sql(q)) == [(3,)]
    assert _rows(sess.sql(q)) == [(3,)]
    assert cache.statistics()["hits"] == 1
    # pinned-sequence reads stay CORRECT after writes (over-invalidation
    # re-executes; the answer cannot change)
    sess.sql("INSERT INTO t VALUES (6, 'c', 60)")
    assert _rows(sess.sql(q)) == [(3,)]


def test_bypass_in_transaction_and_unknown_relations(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachebyp")
    cache = sess.enable_result_cache()
    q = "SELECT COUNT(*) AS n FROM t"
    sess.sql("BEGIN")
    sess.sql("INSERT INTO t VALUES (7, 'c', 70)")
    # buffered write IS visible in-txn, and must not poison the cache
    assert _rows(sess.sql(q)) == [(4,)]
    sess.sql("ROLLBACK")
    assert cache.statistics()["entries"] == 0
    assert _rows(sess.sql(q)) == [(3,)]
    # a temp view outside the catalog is unversionable -> bypass
    sess.spark.range(5).createOrReplaceTempView("ephemeral")
    before = cache.statistics()["bypasses"]
    assert sess.sql("SELECT COUNT(*) AS n FROM ephemeral").collect()[0][0] == 5
    assert cache.statistics()["bypasses"] == before + 1


def test_lru_eviction_and_clear(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachelru")
    cache = sess.enable_result_cache(max_entries=2)
    qs = [f"SELECT {i} AS c, COUNT(*) AS n FROM t" for i in (1, 2, 3)]
    for q in qs:
        sess.sql(q).collect()
    st = cache.statistics()
    assert st["entries"] == 2 and st["evictions"] == 1
    # evicted oldest: re-running q1 misses; q3 (newest) hits
    sess.sql(qs[2]).collect()
    sess.sql(qs[0]).collect()
    st = cache.statistics()
    assert st["hits"] == 1 and st["misses"] == 4
    cache.clear()
    assert cache.statistics()["entries"] == 0


def test_size_cap_skips_retention(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachecap")
    cache = sess.enable_result_cache(max_bytes=64)  # smaller than any parquet
    q = "SELECT * FROM t"
    assert len(_rows(sess.sql(q))) == 3  # still correct, served once
    assert cache.statistics()["entries"] == 0


def test_cache_dirs_cleaned_on_eviction(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cachefs")
    cache = sess.enable_result_cache(max_entries=1)
    sess.sql("SELECT 1 AS c, COUNT(*) AS n FROM t").collect()
    sess.sql("SELECT 2 AS c, COUNT(*) AS n FROM t").collect()
    sess.sql("SELECT 3 AS c, COUNT(*) AS n FROM t").collect()  # sweeps #1
    dirs = os.listdir(cache._dir)
    assert len(dirs) <= 2  # live entry + at most one deferred-sweep dir
    stats = sess.status_snapshot()
    assert stats["result_cache"]["entries"] == 1


def test_empty_result_roundtrip(spark, tmp_path):
    sess = _mkdb(spark, tmp_path, "cacheempty")
    sess.enable_result_cache()
    q = "SELECT id, v FROM t WHERE grp = 'zzz'"
    assert _rows(sess.sql(q)) == []
    df = sess.sql(q)  # hit: schema must survive the empty parquet
    assert _rows(df) == []
    assert [f.name for f in df.schema.fields] == ["id", "v"]


@pytest.mark.deepfuzz
def test_cache_model_fuzz_random_dml_interleavings(spark, tmp_path):
    """Randomized invalidation soak: interleave INSERT/UPDATE/DELETE with
    SELECTs from a fixed pool, comparing every cached result against an
    independent cache-DISABLED session over the same storage. Any stale
    serve — a version vector that failed to change, a key collision, a
    sweep race — surfaces as a row mismatch. (The IMV-fuzz discipline
    applied to the cache, the other component that rewires reads.)"""
    import random

    data = str(tmp_path / "cachefuzz")
    writer = DriftSession(spark, data)
    writer.sql("CREATE TABLE f (id INT PRIMARY KEY, g STRING, v INT)")
    writer.sql(
        "INSERT INTO f VALUES " + ", ".join(
            f"({i}, '{'abc'[i % 3]}', {i * 7 % 50})" for i in range(20)
        )
    )
    writer.sql("CREATE VIEW fv AS SELECT g, v FROM f WHERE v >= 10")
    reader = DriftSession(spark, data)  # twin: no cache, same storage
    cache = writer.enable_result_cache(max_entries=4)  # force evictions too

    pool = [
        "SELECT g, COUNT(*) AS n, SUM(v) AS sv FROM f GROUP BY g",
        "SELECT COUNT(*) AS n FROM f",
        "SELECT id, v FROM f WHERE v > 20",
        "SELECT g, MAX(v) AS mx FROM fv GROUP BY g",
        "SELECT COUNT(*) AS n FROM f WHERE g = 'a'",
    ]
    rng = random.Random(7)
    next_id = 20
    live = list(range(20))
    for step in range(50):
        op = rng.random()
        if op < 0.2:
            writer.sql(
                f"INSERT INTO f VALUES ({next_id}, "
                f"'{'abc'[next_id % 3]}', {rng.randrange(50)})"
            )
            live.append(next_id)
            next_id += 1
        elif op < 0.35 and live:
            victim = rng.choice(live)
            writer.sql(f"UPDATE f SET v = {rng.randrange(50)} WHERE id = {victim}")
        elif op < 0.45 and len(live) > 5:
            victim = live.pop(rng.randrange(len(live)))
            writer.sql(f"DELETE FROM f WHERE id = {victim}")
        else:
            q = rng.choice(pool)
            got = sorted(tuple(r) for r in writer.sql(q).collect())
            want = sorted(tuple(r) for r in reader.sql(q).collect())
            assert got == want, f"step {step}: stale cache for {q!r}"
    st = cache.statistics()
    # the soak must actually exercise the cache, not just bypass it
    assert st["hits"] > 0 and st["misses"] > 0
    assert st["entries"] <= 4


def test_wire_connections_get_isolated_caches(spark, tmp_path):
    """serve-with-cache semantics: each wire connection gets its OWN
    cache instance (per-connection security context keys; instance
    directory), cross-connection writes invalidate via the shared
    version vector, and teardown reclaims the namespace."""
    from test_pgwire import Client

    from driftdb_spark.server import PgWireServer

    sess = _mkdb(spark, tmp_path, "cachewire")
    sess.enable_result_cache()
    srv = PgWireServer(sess).start()
    try:
        host, port = srv.address
        a, b = Client(host, port), Client(host, port)
        a.startup()
        b.startup()
        q = "SELECT COUNT(*) AS n FROM t"
        _c, rows, _t, err = a.query(q)
        assert err is None and rows == [["3"]]
        _c, rows, _t, err = a.query(q)  # a's cache hit
        assert err is None and rows == [["3"]]
        # b INSERTS; a's next read must see it (version vector, not TTL)
        _c, _r, _t, err = b.query("INSERT INTO t VALUES (9, 'c', 90)")
        assert err is None
        _c, rows, _t, err = a.query(q)
        assert err is None and rows == [["4"]]
        _c, rows, _t, err = b.query(q)
        assert err is None and rows == [["4"]]
        cache_root = os.path.join(sess.storage_dir, "_result_cache")
        # base session's namespace + two live connection namespaces
        assert len(os.listdir(cache_root)) >= 3
        a.close()
        b.close()
        import time as _t2

        deadline = _t2.time() + 5
        while _t2.time() < deadline and len(os.listdir(cache_root)) > 1:
            _t2.sleep(0.05)
        # connection teardown reclaimed both instance dirs
        assert len(os.listdir(cache_root)) == 1
    finally:
        srv.stop()
        sess.disable_result_cache()


def test_warm_rerun_is_5x_faster_on_cacheable_queries(spark, tmp_path):
    """Effectiveness, not just correctness (round-8 ask): a warm rerun of
    a cacheable aggregate must be >=5x faster than the cold run — the hit
    path is a scan of the materialized parquet, never a re-execution of
    the join/shuffle. The full suite + invalidation cost was measured by
    ``git show 52710e8:scripts/bench_cache.py`` into
    ``git show 52710e8:BENCH_cache_r08.json``."""
    import statistics
    import time

    from pyspark.sql import functions as F

    sess = DriftSession(spark, str(tmp_path / "cacheperf"))
    sess.sql("CREATE TABLE big (id INT PRIMARY KEY, grp INT, v DOUBLE)")
    log, _cols = sess._tables["big"]
    log.insert(
        spark.range(300_000).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 1000).cast("int").alias("grp"),
            (F.col("id") % 97 * 1.5).alias("v"),
        )
    )
    cache = sess.enable_result_cache()
    q = (
        "SELECT a.grp, COUNT(*) AS n, SUM(a.v + b.v) AS s "
        "FROM big a JOIN big b ON a.id = b.id GROUP BY a.grp"
    )
    t0 = time.perf_counter()
    n_cold = sess.sql(q).count()
    cold = time.perf_counter() - t0
    warms = []
    for _ in range(3):
        t0 = time.perf_counter()
        assert sess.sql(q).count() == n_cold
        warms.append(time.perf_counter() - t0)
    # mechanism first (contention-proof): every rerun was a HIT — the
    # join/shuffle executed exactly once
    st = cache.statistics()
    assert st["misses"] == 1 and st["hits"] == 3
    # then the latency property, with one retry to damp a contended
    # machine (the warm path is a 1000-row parquet scan; the cold path
    # is a 300K x 300K join — 5x is a wide floor, typically ~20-30x).
    # r8 ADVICE: the hit/miss counters above already prove the cache
    # property deterministically, so the wall-clock ratio is a SOFT
    # check — under heavy ambient load it skips instead of flaking
    # (`git show 52710e8:BENCH_cache_r08.json` carries the hard number: 38x
    # p50 isolated).
    warm = statistics.median(warms)
    if cold / warm < 5:
        t0 = time.perf_counter()
        sess.sql(q).count()
        warm = min(warm, time.perf_counter() - t0)
    if cold / warm < 5:
        pytest.skip(
            f"warm-speedup ratio {cold / warm:.1f}x under contention "
            f"(cold={cold:.3f}s warm={warm:.3f}s); mechanism asserts "
            "(misses==1, hits==3) passed"
        )


def test_purge_rewrite_invalidates_cache(spark, tmp_path):
    """r11 guard: uniform batch naming means a purge rewrite can leave
    the entry-NAME set and snapshot seqs unchanged while the bytes
    behind them shrank — the version vector must still move (it now
    folds in the log's persisted rewrite generation), or a cached SELECT
    would keep serving purged rows (compliance leak)."""
    sess = _mkdb(spark, tmp_path, "cachepurge")
    cache = sess.enable_result_cache()
    q = "SELECT grp, SUM(v) AS s FROM t GROUP BY grp"
    before = _rows(sess.sql(q))
    assert _rows(sess.sql(q)) == before and cache.hits == 1  # cached
    log = sess.table("t")
    log.purge(spark.createDataFrame([(2,)], "id int"))
    # same entry names, same snapshot seqs — but the purge must miss
    after = _rows(sess.sql(q))
    assert after == [("a", 10), ("b", 30)]
    assert ("a", 30) not in after

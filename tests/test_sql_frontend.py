"""DriftSession: the dispatcher surface — CREATE TABLE, DML-as-events,
SELECT with FOR SYSTEM_TIME, SHOW DRIFT, views, ANALYZE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from driftdb_spark.plans.stats import analyze_table, plan_facts
from driftdb_spark.sql_frontend import DriftSession

COLS = {"id": "int", "name": "string", "qty": "int"}


@pytest.fixture
def sess(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    log = s.create_table("products", COLS)
    log.insert(
        spark.createDataFrame(
            [(1, "bolt", 5), (2, "nut", 9), (3, "gear", 2)], "id int, name string, qty int"
        )
    )
    return s


def test_select_current_and_asof(sess):
    assert sess.sql("SELECT COUNT(*) AS n FROM products").first()["n"] == 3
    log = sess.table("products")
    log.update_where(COLS, "qty < 6", {"qty": "qty + 100"})  # seq 4,5 patches
    cur = {r.id: r.qty for r in sess.sql("SELECT id, qty FROM products").collect()}
    assert cur == {1: 105, 2: 9, 3: 102}
    old = {
        r.id: r.qty
        for r in sess.sql("SELECT id, qty FROM products FOR SYSTEM_TIME AS OF @SEQ:3").collect()
    }
    assert old == {1: 5, 2: 9, 3: 2}


def test_delete_truncate_and_history(sess, spark):
    log = sess.table("products")
    log.delete_where(COLS, "name = 'nut'")
    assert {r.id for r in sess.sql("SELECT id FROM products").collect()} == {1, 3}
    hist = sess.sql("SELECT * FROM products FOR SYSTEM_TIME ALL")
    assert hist.count() == 4  # 3 inserts + 1 soft delete
    assert sess.drift("products", 2).count() == 2
    log.delete_where(COLS, "true")
    assert sess.sql("SELECT COUNT(*) AS n FROM products").first()["n"] == 0


def test_update_expressions_see_old_row(sess):
    """Assignment expressions evaluate against the pre-update row
    (reference execute_sql_update: exprs see old values)."""
    log = sess.table("products")
    log.update_where(COLS, "id = 1", {"qty": "qty * 2", "name": "concat(name, '-v2')"})
    row = sess.sql("SELECT name, qty FROM products WHERE id = 1").first()
    assert row["name"] == "bolt-v2" and row["qty"] == 10
    # the SQL UPDATE reads its SET and WHERE through Spark's parser: a
    # keyword inside a literal or a subquery does not cut the statement
    sess.sql("UPDATE products SET name = ' WHERE x' WHERE id = 2")
    sess.sql(
        "UPDATE products SET qty = (SELECT max(qty) FROM products WHERE id <> 3) "
        "WHERE id = 3"
    )
    rows = {(r.id, r.name, r.qty) for r in sess.sql("SELECT * FROM products").collect()}
    assert rows == {(1, "bolt-v2", 10), (2, " WHERE x", 9), (3, "gear", 10)}
    # the parser places a predicate (IN, LIKE …) at its keyword and EXISTS
    # at its enclosing clause: the cut condition still reads as written
    sess.sql(
        "UPDATE products SET qty = 1 "
        "WHERE (id) IN (SELECT id FROM products WHERE name LIKE 'g%')"
    )
    sess.sql(
        "UPDATE products SET name = upper(name) "
        "WHERE EXISTS (SELECT 1 FROM products WHERE qty = 1)"
    )
    rows = {(r.id, r.name, r.qty) for r in sess.sql("SELECT * FROM products").collect()}
    assert rows == {(1, "BOLT-V2", 10), (2, " WHERE X", 9), (3, "GEAR", 1)}


def test_analyze_and_plan_facts(sess, spark):
    df = sess.sql("SELECT * FROM products")
    stats = {r.column: r for r in analyze_table(df).collect()}
    assert stats["id"].n_rows == 3 and stats["id"].n_nulls == 0
    assert stats["qty"].min_str is not None

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    facts = plan_facts(li.filter(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity"))
    assert facts["has_pushed_filters"], "filter must reach the parquet scan"

def test_parameterized_sql(sess):
    named = sess.sql(
        "SELECT name, qty FROM products WHERE qty > :minq ORDER BY id",
        args={"minq": 4},
    ).collect()
    assert [r.name for r in named] == ["bolt", "nut"]
    positional = sess.sql(
        "SELECT COUNT(*) AS n FROM products WHERE qty BETWEEN ? AND ?", args=[2, 5]
    ).first()
    assert positional.n == 2


def test_sequences_and_auto_increment(sess, spark):
    sess.create_sequence("s1", start=10, increment=5)
    assert [sess.nextval("s1") for _ in range(3)] == [10, 15, 20]

    n = sess.insert_auto_increment(
        "products",
        spark.createDataFrame([("cog", 7), ("pin", 1)], "name string, qty int"),
    )
    assert n > 0
    rows = sess.sql("SELECT id, name FROM products ORDER BY id").collect()
    assert [(r.id, r.name) for r in rows][-2:] == [(4, "cog"), (5, "pin")]

def test_foreign_key_restrict(sess, spark):
    sess.create_table("orders_t", {"oid": "int", "product_id": "int"}, pk="oid")
    sess.add_foreign_key("orders_t", "product_id", "products", "id")

    ok = spark.createDataFrame([(100, 1), (101, 3)], "oid int, product_id int")
    assert sess.insert_checked("orders_t", ok) > 0

    bad = spark.createDataFrame([(102, 99)], "oid int, product_id int")
    with pytest.raises(ValueError, match="FK violation"):
        sess.insert_checked("orders_t", bad)

    # parent delete blocked while referenced; unreferenced parent deletes fine
    with pytest.raises(ValueError, match="FK RESTRICT"):
        sess.delete_checked("products", "id = 1")
    assert sess.delete_checked("products", "id = 2") > 0
    assert sess.sql("SELECT COUNT(*) AS n FROM products").first().n == 2

def test_explain_analyze_reports_runtime_metrics(spark):
    """EXPLAIN ANALYZE parity: executing the plan yields real per-operator
    rows/time metrics (reference measures rows+time per PlanNode)."""
    from pyspark.sql import functions as F

    from driftdb_spark.catalog import load_tables
    from driftdb_spark.plans.stats import explain_analyze

    t = load_tables(spark, "/root/testdata/sf0.001")
    df = t["nation"].groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    nodes = explain_analyze(df)
    names = [n["node"] for n in nodes]
    assert any("Scan" in n for n in names) and any("HashAggregate" in n for n in names)
    scan = next(n for n in nodes if "Scan" in n["node"])
    assert scan["metrics"].get("numOutputRows") == 25
    final_agg = next(n for n in nodes if "HashAggregate" in n["node"])
    assert final_agg["metrics"].get("numOutputRows") == 5


def test_alter_table_add_column(sess):
    """ADD COLUMN is schema registration; DEFAULT backfills via Patch events
    so time travel before the ALTER shows NULL, after shows the default."""
    seq_before = sess.table("products").last_sequence()
    sess.alter_table_add_column("products", "grade", "string", default="B")
    cur = {r.id: r.grade for r in sess.sql("SELECT id, grade FROM products").collect()}
    assert cur == {1: "B", 2: "B", 3: "B"}
    # the column exists in the current schema projection, but its value did
    # not exist at the pre-ALTER sequence
    old = {
        r.id: r.grade
        for r in sess.sql(
            f"SELECT id, grade FROM products FOR SYSTEM_TIME AS OF @SEQ:{seq_before}"
        ).collect()
    }
    assert old == {1: None, 2: None, 3: None}
    # normal DML on the new column works
    sess.table("products").update_where(
        {"id": "int", "grade": "string"}, "id = 1", {"grade": "'A'"}
    )
    assert sess.sql("SELECT grade FROM products WHERE id = 1").first()["grade"] == "A"
    with pytest.raises(ValueError):
        sess.alter_table_add_column("products", "grade", "string")
    # a column the table lacks fails loudly (42703) and writes nothing: a
    # later ADD COLUMN of that name must not surface the refused value
    seq = sess.table("products").last_sequence()
    for stmt in (
        "UPDATE products SET nope = 7 WHERE id = 1",
        "INSERT INTO products (id, bogus) VALUES (9, 1)",
    ):
        with pytest.raises(ValueError, match="does not exist") as err:
            sess.sql(stmt)
        assert err.value.sqlstate == "42703"
    assert sess.table("products").last_sequence() == seq
    sess.sql("ALTER TABLE products ADD COLUMN nope INT")
    rows = {(r.id, r.nope) for r in sess.sql("SELECT id, nope FROM products").collect()}
    assert rows == {(1, None), (2, None), (3, None)}


def test_fk_on_delete_cascade_transitive(spark, tmp_path):
    """FK ON DELETE CASCADE (beyond the reference, which parses CASCADE but
    never executes it — fk.rs:20-23): deleting a parent soft-deletes
    referencing children transitively; a RESTRICT FK elsewhere still
    blocks. Each cascade level is one semi-join + one event append."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "casc"))
    sess.create_table("regions", {"rid": "int", "rname": "string"})
    sess.create_table("stores", {"sid": "int", "rid": "int"})
    sess.create_table("sales", {"xid": "int", "sid": "int"})
    sess.add_foreign_key("stores", "rid", "regions", "rid", on_delete="cascade")
    sess.add_foreign_key("sales", "sid", "stores", "sid", on_delete="cascade")

    sess.insert_checked("regions", spark.createDataFrame([(1, "n"), (2, "s")], "rid int, rname string"))
    sess.insert_checked("stores", spark.createDataFrame([(10, 1), (11, 1), (12, 2)], "sid int, rid int"))
    sess.insert_checked("sales", spark.createDataFrame([(100, 10), (101, 11), (102, 12)], "xid int, sid int"))

    sess.delete_checked("regions", "rid = 1")
    assert {r.rid for r in sess.sql("SELECT rid FROM regions").collect()} == {2}
    assert {r.sid for r in sess.sql("SELECT sid FROM stores").collect()} == {12}
    assert {r.xid for r in sess.sql("SELECT xid FROM sales").collect()} == {102}
    # time travel: the cascade is event-sourced, pre-delete state intact
    assert sess.sql("SELECT sid FROM stores FOR SYSTEM_TIME AS OF @SEQ:3").count() == 3


def test_fk_restrict_still_blocks_with_mixed_actions(spark, tmp_path):
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "mixed"))
    sess.create_table("p", {"pid": "int"})
    sess.create_table("c_cascade", {"cid": "int", "pid": "int"})
    sess.create_table("c_restrict", {"rid2": "int", "pid": "int"})
    sess.add_foreign_key("c_cascade", "pid", "p", "pid", on_delete="cascade")
    sess.add_foreign_key("c_restrict", "pid", "p", "pid")  # default restrict

    sess.insert_checked("p", spark.createDataFrame([(1,)], "pid int"))
    sess.insert_checked("c_cascade", spark.createDataFrame([(10, 1)], "cid int, pid int"))
    sess.insert_checked("c_restrict", spark.createDataFrame([(20, 1)], "rid2 int, pid int"))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="FK RESTRICT"):
        sess.delete_checked("p", "pid = 1")
    # restrict fired before ANY delete published — cascade child intact too
    assert sess.sql("SELECT * FROM p").count() == 1
    assert sess.sql("SELECT * FROM c_cascade").count() == 1


def test_sql_dml_dispatch_full_surface(spark, tmp_path):
    """The reference's primary surface is SQL text (sql_bridge dispatcher);
    DriftSession.sql routes CREATE TABLE / INSERT (VALUES + SELECT) /
    UPDATE / DELETE / TRUNCATE to the event engine and leaves expression
    parsing to Spark's own parser."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "dml"))
    sess.sql("CREATE TABLE products (pid INT PRIMARY KEY, name STRING, price DOUBLE)")
    sess.sql("INSERT INTO products VALUES (1, 'widget', 9.99), (2, 'gadget', 19.5)")
    sess.sql("INSERT INTO products (pid, name) VALUES (3, 'mystery')")
    rows = {r.pid: r for r in sess.sql("SELECT * FROM products").collect()}
    assert set(rows) == {1, 2, 3} and rows[3].price is None

    sess.sql("UPDATE products SET price = price * 2, name = upper(name) WHERE pid <= 2")
    rows = {r.pid: r for r in sess.sql("SELECT * FROM products").collect()}
    assert rows[1].price == 19.98 and rows[1].name == "WIDGET"
    assert rows[3].name == "mystery"  # untouched

    sess.sql("DELETE FROM products WHERE pid = 2")
    assert {r.pid for r in sess.sql("SELECT pid FROM products").collect()} == {1, 3}
    # temporal SELECT through the same dispatcher
    assert sess.sql(
        "SELECT pid FROM products FOR SYSTEM_TIME AS OF @SEQ:3"
    ).count() == 3

    # INSERT ... SELECT, with its own temporal clause
    sess.sql("CREATE TABLE archive (aid INT PRIMARY KEY, label STRING)")
    sess.sql(
        "INSERT INTO archive SELECT pid, name FROM products FOR SYSTEM_TIME AS OF @SEQ:3"
    )
    assert sess.sql("SELECT * FROM archive").count() == 3

    sess.sql("TRUNCATE products")
    assert sess.sql("SELECT * FROM products").count() == 0


def test_catalog_persists_across_sessions(spark, tmp_path):
    """Schemas + FKs round-trip through _catalog.json (the reference
    persists schemas in meta.json): a FRESH DriftSession on the same
    storage dir sees the tables, their data, and enforces the same FKs."""
    from driftdb_spark.sql_frontend import DriftSession

    d = str(tmp_path / "persist")
    s1 = DriftSession(spark, d)
    s1.sql("CREATE TABLE parents (pid INT PRIMARY KEY, v STRING)")
    s1.sql("CREATE TABLE kids (kid INT PRIMARY KEY, pid INT)")
    s1.add_foreign_key("kids", "pid", "parents", "pid")
    s1.sql("INSERT INTO parents VALUES (1, 'a')")
    s1.sql("INSERT INTO kids VALUES (10, 1)")

    s2 = DriftSession(spark, d)  # fresh session, catalog from disk
    assert {r.pid for r in s2.sql("SELECT pid FROM parents").collect()} == {1}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="FK RESTRICT"):
        s2.delete_checked("parents", "pid = 1")
    with _pytest.raises(ValueError, match="FK violation"):
        s2.insert_checked(
            "kids", spark.createDataFrame([(11, 99)], "kid int, pid int")
        )


def test_sql_views_and_explain_dispatch(spark, tmp_path, capfd):
    """CREATE VIEW persists SQL text re-executed per query (stays current
    as events land — reference views.rs semantics); EXPLAIN returns the
    formatted physical plan; DROP VIEW unregisters."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "views"))
    sess.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    sess.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    sess.sql("CREATE VIEW big AS SELECT id, v FROM t WHERE v >= 15")
    assert {r.id for r in sess.sql("SELECT * FROM big").collect()} == {2}
    # view stays CURRENT: new event visible without re-creating the view
    sess.sql("INSERT INTO t VALUES (3, 30)")
    assert {r.id for r in sess.sql("SELECT * FROM big").collect()} == {2, 3}
    # a fresh session sees the view too (catalog round-trip)
    sess2 = DriftSession(spark, str(tmp_path / "views"))
    assert sess2.sql("SELECT * FROM big").count() == 2

    plan = sess.sql("EXPLAIN SELECT * FROM big")
    assert plan.count() > 0
    text = "\n".join(r.plan for r in plan.collect())
    assert "Physical Plan" in text or "Scan" in text

    sess.sql("DROP VIEW big")
    import pytest as _pytest

    capfd.readouterr()
    with _pytest.raises(Exception):
        sess.sql("SELECT * FROM big").collect()
    # the analysis error is the query log's to record: PySpark's
    # query-context logger does not dump it on stderr as well
    assert "SQLQueryContextLogger" not in capfd.readouterr().err
    last = sess.query_log().collect()[-1]
    assert last.statement == "SELECT * FROM big" and "big" in last.error


def test_sql_ddl_maintenance_dispatch(spark, tmp_path):
    """ALTER TABLE ADD COLUMN (with event-sourced DEFAULT backfill),
    SNAPSHOT/COMPACT, CREATE INDEX (metadata-accepted), DROP TABLE — the
    rest of the reference dispatcher's statement set (sql_bridge.rs:279-302,
    :5951-5980, :6106-6170)."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "ddl"))
    sess.sql("CREATE TABLE m (id INT PRIMARY KEY, v INT)")
    sess.sql("INSERT INTO m VALUES (1, 10), (2, 20)")
    sess.sql("ALTER TABLE m ADD COLUMN tag STRING DEFAULT 'x'")
    rows = {r.id: r for r in sess.sql("SELECT * FROM m").collect()}
    assert rows[1].tag == "x" and rows[2].tag == "x"
    # pre-ALTER time travel shows NULL (the default did not exist then)
    old = sess.sql("SELECT tag FROM m FOR SYSTEM_TIME AS OF @SEQ:2").collect()
    assert all(r.tag is None for r in old)

    snap = sess.sql("SNAPSHOT m")
    assert isinstance(snap, int) and snap >= 4
    sess.sql("COMPACT m")
    assert {r.id for r in sess.sql("SELECT id FROM m").collect()} == {1, 2}

    assert sess.sql("CREATE INDEX idx_v ON m (v)") == 0
    sess.sql("DROP TABLE m")
    assert "m" not in sess._tables


def test_create_table_registers_fks_from_sql(spark, tmp_path):
    """Inline and table-level FOREIGN KEY clauses in CREATE TABLE register
    real constraints (reference fk.rs inline+table FKs), including ON
    DELETE CASCADE."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "fkddl"))
    sess.sql("CREATE TABLE dept (did INT PRIMARY KEY, dn STRING)")
    sess.sql(
        "CREATE TABLE emp (eid INT PRIMARY KEY, did INT REFERENCES dept(did), "
        "mgr INT, FOREIGN KEY (mgr) REFERENCES emp(eid) ON DELETE CASCADE)"
    )
    sess.sql("INSERT INTO dept VALUES (1, 'eng')")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="FK violation"):
        sess.insert_checked(
            "emp", spark.createDataFrame([(10, 99, None)], "eid int, did int, mgr int")
        )
    sess.insert_checked(
        "emp", spark.createDataFrame([(10, 1, None)], "eid int, did int, mgr int")
    )
    sess.insert_checked(
        "emp", spark.createDataFrame([(11, 1, 10)], "eid int, did int, mgr int")
    )
    # RESTRICT on dept blocks; CASCADE on the self-FK chains the delete
    with _pytest.raises(ValueError, match="FK RESTRICT"):
        sess.delete_checked("dept", "did = 1")
    sess.delete_checked("emp", "eid = 10")
    assert sess.sql("SELECT * FROM emp").count() == 0  # 11 cascaded via mgr


def test_fk_enforced_on_update_truncate_and_merge_delete(spark, tmp_path):
    """UPDATE of a child FK column checks the parent; TRUNCATE and MERGE
    DELETE take the DELETE plan: RESTRICT refuses, CASCADE cascades."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d INT PRIMARY KEY, dname STRING)")
    s.sql("CREATE TABLE emp (e INT PRIMARY KEY, d INT REFERENCES dept(d))")
    s.sql(
        "CREATE TABLE badge (b INT PRIMARY KEY, "
        "e INT REFERENCES emp(e) ON DELETE CASCADE)"
    )
    s.sql("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')")
    s.sql("INSERT INTO emp VALUES (10, 1), (11, 1)")
    s.sql("INSERT INTO badge VALUES (100, 10), (101, 11)")
    # a parent key a child still references cannot change: RESTRICT,
    # and nothing is written
    with pytest.raises(ValueError, match="FK RESTRICT: emp.d references dept.d"):
        s.sql("UPDATE dept SET d = 5 WHERE d = 1")
    assert {r.d for r in s.sql("SELECT d FROM dept").collect()} == {1, 2}
    with pytest.raises(ValueError, match="FK violation"):
        s.sql("UPDATE emp SET d = 99 WHERE e = 10")
    s.sql("UPDATE emp SET d = 2 WHERE e = 10")
    with pytest.raises(ValueError, match="FK RESTRICT"):
        s.sql("TRUNCATE TABLE dept")
    s.sql(
        "MERGE INTO emp t USING (SELECT 10 AS e) s ON t.e = s.e "
        "WHEN MATCHED THEN DELETE"
    )
    assert [r.b for r in s.sql("SELECT b FROM badge").collect()] == [101]
    s.sql("TRUNCATE TABLE emp")
    assert s.sql("SELECT COUNT(*) AS n FROM badge").first()["n"] == 0
    assert {(r.d, r.dname) for r in s.sql("SELECT * FROM dept").collect()} == {
        (1, "eng"),
        (2, "ops"),
    }
    # rows the statement itself deletes neither restrict nor cascade again:
    # TRUNCATE of a self-referencing table, DELETE around a CASCADE cycle
    s.sql("CREATE TABLE boss (k INT PRIMARY KEY, mgr INT REFERENCES boss(k))")
    s.sql("INSERT INTO boss VALUES (1, NULL)")
    s.sql("INSERT INTO boss VALUES (2, 1)")
    s.sql("TRUNCATE TABLE boss")
    s.sql(
        "CREATE TABLE ring (k INT PRIMARY KEY, "
        "nxt INT REFERENCES ring(k) ON DELETE CASCADE)"
    )
    s.sql("INSERT INTO ring VALUES (1, NULL)")
    s.sql("INSERT INTO ring VALUES (2, 1), (3, NULL)")
    s.sql("UPDATE ring SET nxt = 2 WHERE k = 1")
    s.sql("DELETE FROM ring WHERE k = 1")
    assert [r.k for r in s.sql("SELECT k FROM ring").collect()] == [3]
    assert s.sql("SELECT COUNT(*) AS n FROM boss").first()["n"] == 0


def test_ctas_on_conflict_drop_column(spark, tmp_path):
    """CTAS infers schema from the query; ON CONFLICT DO NOTHING/UPDATE is
    the PostgreSQL upsert surface; DROP COLUMN deregisters the column while
    history keeps the payloads (mirror of ADD COLUMN's NULL projection)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE items (iid INT PRIMARY KEY, name STRING, qty INT)")
    s.sql("INSERT INTO items VALUES (1, 'bolt', 5), (2, 'nut', 9)")

    # CTAS: derived table with inferred schema, PK = first column
    s.sql("CREATE TABLE big AS SELECT iid, qty * 10 AS bigqty FROM items WHERE qty > 4")
    rows = {(r.iid, r.bigqty) for r in s.sql("SELECT iid, bigqty FROM big").collect()}
    assert rows == {(1, 50), (2, 90)}
    assert s._tables["big"][1] == {"iid": "int", "bigqty": "int"}
    with pytest.raises(ValueError, match="already exists"):
        s.sql("CREATE TABLE big AS SELECT 1 AS x")

    # ON CONFLICT DO NOTHING: existing key skipped, new key lands
    s.sql("INSERT INTO items VALUES (1, 'dup', 0), (3, 'gear', 2) ON CONFLICT DO NOTHING")
    cur = {(r.iid, r.name, r.qty) for r in s.sql("SELECT * FROM items").collect()}
    assert cur == {(1, "bolt", 5), (2, "nut", 9), (3, "gear", 2)}

    # ON CONFLICT DO UPDATE: last-writer-wins full-row replace
    s.sql("INSERT INTO items VALUES (1, 'bolt-v2', 50) ON CONFLICT DO UPDATE")
    assert s.sql("SELECT qty FROM items WHERE iid = 1").first()["qty"] == 50
    # time travel still shows the original row
    assert (
        s.sql("SELECT qty FROM items WHERE iid = 1 FOR SYSTEM_TIME AS OF @SEQ:2").first()["qty"]
        == 5
    )

    # DROP COLUMN: schema-only; history intact
    s.sql("ALTER TABLE items DROP COLUMN name")
    assert "name" not in s.sql("SELECT * FROM items").columns
    assert s.sql("SELECT * FROM items FOR SYSTEM_TIME ALL").count() > 0
    with pytest.raises(ValueError, match="primary key"):
        s.sql("ALTER TABLE items DROP COLUMN iid")


def test_temporal_clause_spans_joins(spark, tmp_path):
    """FOR SYSTEM_TIME applies to EVERY event-backed table in the query,
    joins included (reference sql_bridge.rs:1316-1321): a timestamp
    target resolves each table to its own state at that wall-clock
    instant, so the join is a consistent cross-table snapshot."""
    import datetime
    import time

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE dept (d int PRIMARY KEY, dname string)")
    s.sql("CREATE TABLE emp (e int PRIMARY KEY, d int, ename string)")
    s.sql("INSERT INTO dept VALUES (1, 'eng')")
    s.sql("INSERT INTO emp VALUES (10, 1, 'ada')")
    time.sleep(1.2)
    cut = datetime.datetime.now()
    time.sleep(1.2)
    s.sql("UPDATE dept SET dname = 'platform' WHERE d = 1")
    s.sql("INSERT INTO emp VALUES (11, 1, 'bob')")
    # current join: renamed dept, two employees
    cur = s.sql(
        "SELECT e.ename, d.dname FROM emp e JOIN dept d ON e.d = d.d"
    ).collect()
    assert {(r.ename, r.dname) for r in cur} == {("ada", "platform"), ("bob", "platform")}
    # as-of join: BOTH tables at the cut — old name, one employee
    old = s.sql(
        "SELECT e.ename, d.dname FROM emp e JOIN dept d ON e.d = d.d "
        f"FOR SYSTEM_TIME AS OF '{cut.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    ).collect()
    assert {(r.ename, r.dname) for r in old} == {("ada", "eng")}


def test_sql_with_timeout_cancels_runaway_query(spark, tmp_path):
    """Statement timeout: a runaway query's job group is cancelled at the
    budget and QueryCancelled raises; the session stays usable
    (reference query_cancellation.rs)."""
    import time

    from driftdb_spark.sql_frontend import QueryCancelled

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id int PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1)")
    # fast statement completes inside the budget
    rows = s.sql_with_timeout("SELECT COUNT(*) AS n FROM t", timeout_sec=60)
    assert rows[0]["n"] == 1
    # ~2e11-row cartesian count: minutes of work, cancelled at 1s
    t0 = time.monotonic()
    with pytest.raises(QueryCancelled, match="exceeded"):
        s.sql_with_timeout(
            "SELECT COUNT(*) AS n FROM range(2000000) a CROSS JOIN range(100000) b",
            timeout_sec=1.0,
        )
    assert time.monotonic() - t0 < 30  # cancelled promptly, not run to completion
    # session still healthy afterward
    assert s.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 1


def test_prepare_execute_deallocate(spark, tmp_path):
    """Session-level PREPARE/EXECUTE/DEALLOCATE (PostgreSQL surface; the
    reference binds $N parameters in sql_bridge.rs:183-226 and serves the
    equivalent over the wire)."""
    import pytest

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE kv (id INT PRIMARY KEY, v STRING)")
    s.sql("PREPARE ins (int, text) AS INSERT INTO kv VALUES ($1, $2)")
    s.sql("EXECUTE ins(1, 'one')")
    s.sql("EXECUTE ins(2, 'two')")
    s.sql("PREPARE get AS SELECT v FROM kv WHERE id = $1")
    assert s.sql("EXECUTE get(2)").first()["v"] == "two"
    # arity is validated
    with pytest.raises(ValueError, match="expects 2"):
        s.sql("EXECUTE ins(3)")
    # argument expressions fold (no table access)
    s.sql("EXECUTE ins(1 + 2, upper('three'))")
    assert s.sql("SELECT v FROM kv WHERE id = 3").first()["v"] == "THREE"
    # a $N inside a literal is text, not a marker
    s.sql("PREPARE lit AS INSERT INTO kv VALUES ($1, '$1 kept')")
    s.sql("EXECUTE lit(9)")
    assert s.sql("SELECT v FROM kv WHERE id = 9").first()["v"] == "$1 kept"
    s.sql("DEALLOCATE get")
    with pytest.raises(Exception):
        s.sql("EXECUTE get(1)")  # falls through to Catalyst -> error
    s.sql("DEALLOCATE ALL")
    assert s._prepared == {}


def test_dml_returning(spark, tmp_path):
    """INSERT/UPDATE/DELETE ... RETURNING (PostgreSQL surface): INSERT
    returns the inserted batch (defaults applied), UPDATE the post-image,
    DELETE the pre-image — each pinned before the write."""
    s = DriftSession(spark, str(tmp_path))
    s.sql(
        "CREATE TABLE acc (id INT PRIMARY KEY, owner STRING, "
        "bal INT DEFAULT 100)"
    )
    out = s.sql("INSERT INTO acc (id, owner) VALUES (1, 'ann'), (2, 'bob') RETURNING id, bal")
    rows = {(r.id, r.bal) for r in out.collect()}
    assert rows == {(1, 100), (2, 100)}  # defaults visible in RETURNING
    out = s.sql("UPDATE acc SET bal = bal + 50 WHERE owner = 'ann' RETURNING id, bal")
    assert [(r.id, r.bal) for r in out.collect()] == [(1, 150)]
    # post-image, not pre-image
    assert s.sql("SELECT bal FROM acc WHERE id = 1").first()["bal"] == 150
    # the same statement again sees the state it left: a pinned image must
    # not answer the repeat (nor feed its Patch events)
    for want in (151, 152):
        out = s.sql("UPDATE acc SET bal = bal + 1 WHERE id = 1 RETURNING bal")
        assert [r.bal for r in out.collect()] == [want]
    s.sql("UPDATE acc SET bal = 150 WHERE id = 1")
    out = s.sql("DELETE FROM acc WHERE id = 2 RETURNING *")
    assert [(r.id, r.owner, r.bal) for r in out.collect()] == [(2, "bob", 100)]
    assert s.sql("SELECT COUNT(*) AS n FROM acc").first()["n"] == 1
    # expressions in the RETURNING list
    out = s.sql("INSERT INTO acc VALUES (3, 'cal', 7) RETURNING id * 10 AS id10")
    assert out.first()["id10"] == 30
    # keywords inside a literal are text: no RETURNING peel, and no
    # FOR SYSTEM_TIME peel (current state, the literal unchanged)
    assert s.sql("INSERT INTO acc VALUES (4, 'see RETURNING x', 1)") > 0
    assert s.sql("SELECT owner FROM acc WHERE id = 4").first()["owner"] == "see RETURNING x"
    rows = s.sql("SELECT id, 'x FOR SYSTEM_TIME ALL' AS s FROM acc").collect()
    assert sorted((r.id, r.s) for r in rows) == [
        (1, "x FOR SYSTEM_TIME ALL"),
        (3, "x FOR SYSTEM_TIME ALL"),
        (4, "x FOR SYSTEM_TIME ALL"),
    ]
    # inside a transaction: returns staged post-image, nothing published
    s.sql("BEGIN")
    out = s.sql("UPDATE acc SET bal = 0 WHERE id = 1 RETURNING bal")
    assert out.first()["bal"] == 0
    s.sql("ROLLBACK")
    assert s.sql("SELECT bal FROM acc WHERE id = 1").first()["bal"] == 150


def test_merge_into(spark, tmp_path):
    """MERGE INTO (SQL-standard / Delta upsert; the reference's upsert
    surface is ON CONFLICT only): matched updates, matched-conditional
    deletes, not-matched inserts — all published as ONE atomic batch."""
    import pytest

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE inv (sku INT PRIMARY KEY, qty INT, status STRING)")
    s.sql(
        "INSERT INTO inv VALUES (1, 10, 'ok'), (2, 0, 'ok'), (3, 7, 'ok')"
    )
    s.sql("CREATE TABLE delta (sku INT PRIMARY KEY, dq INT)")
    s.sql("INSERT INTO delta VALUES (1, 5), (2, -0), (4, 3)")
    seq_before = s.table("inv").last_sequence()
    s.sql(
        "MERGE INTO inv AS t USING delta AS d ON t.sku = d.sku "
        "WHEN MATCHED AND t.qty + d.dq <= 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET qty = t.qty + d.dq "
        "WHEN NOT MATCHED THEN INSERT (sku, qty, status) VALUES (d.sku, d.dq, 'new')"
    )
    rows = {
        (r.sku, r.qty, r.status)
        for r in s.sql("SELECT sku, qty, status FROM inv").collect()
    }
    # sku 1 updated (15), sku 2 deleted (qty+dq <= 0), sku 3 untouched,
    # sku 4 inserted
    assert rows == {(1, 15, "ok"), (3, 7, "ok"), (4, 3, "new")}
    # the whole merge published as ONE atomic event batch
    drift = s.table("inv").events().filter(f"sequence > {seq_before}")
    assert drift.count() == 3  # 1 patch + 1 delete + 1 insert

    # subquery source + duplicate-match guard
    s.sql("CREATE TABLE dup_src (k INT PRIMARY KEY, sku INT)")
    s.sql("INSERT INTO dup_src VALUES (1, 1), (2, 1)")
    with pytest.raises(ValueError, match="more than one source row"):
        s.sql(
            "MERGE INTO inv t USING (SELECT sku FROM dup_src) s ON t.sku = s.sku "
            "WHEN MATCHED THEN DELETE"
        )

    # constraint gate applies to merge updates
    s.sql("ALTER TABLE inv ADD CONSTRAINT nonneg CHECK (qty >= 0)")
    with pytest.raises(Exception, match="nonneg"):
        s.sql(
            "MERGE INTO inv t USING delta d ON t.sku = d.sku "
            "WHEN MATCHED THEN UPDATE SET qty = -99"
        )
    assert s.sql("SELECT qty FROM inv WHERE sku = 1").first()["qty"] == 15

    def inv():
        return {
            (r.sku, r.qty, r.status)
            for r in s.sql("SELECT sku, qty, status FROM inv").collect()
        }

    # a subquery source with its own JOIN ... ON; a column-less INSERT
    # (PostgreSQL) fills every column in schema order
    s.sql(
        "MERGE INTO inv t USING (SELECT d.sku, d.dq FROM delta d "
        "JOIN dup_src x ON d.sku = x.k) s ON t.sku = s.sku "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.sku, s.dq, 'cl')"
    )
    assert inv() == {(1, 15, "ok"), (2, 0, "cl"), (3, 7, "ok"), (4, 3, "new")}
    # a CASE WHEN inside an assignment is not a WHEN clause
    s.sql(
        "MERGE INTO inv t USING delta d ON t.sku = d.sku WHEN MATCHED THEN "
        "UPDATE SET status = CASE WHEN d.dq > 0 THEN 'up' ELSE 'flat' END"
    )
    assert inv() == {(1, 15, "up"), (2, 0, "flat"), (3, 7, "ok"), (4, 3, "up")}
    # shapes the engine does not route refuse with 0A000, an unknown
    # column with 42703, before anything is written
    for stmt, state in (
        ("WHEN NOT MATCHED BY SOURCE THEN DELETE", "0A000"),
        ("WHEN MATCHED THEN UPDATE SET *", "0A000"),
        ("WHEN NOT MATCHED THEN INSERT *", "0A000"),
        ("WHEN MATCHED THEN UPDATE SET nope = 1", "42703"),
    ):
        with pytest.raises(ValueError) as err:
            s.sql(f"MERGE INTO inv t USING delta d ON t.sku = d.sku {stmt}")
        assert err.value.sqlstate == state, stmt
    assert inv() == {(1, 15, "up"), (2, 0, "flat"), (3, 7, "ok"), (4, 3, "up")}


def test_catalog_introspection(spark, tmp_path):
    """SHOW TABLES / DESCRIBE / SHOW CREATE TABLE expose the engine
    catalog (PK, constraints, defaults) that a temp-view DESCRIBE can't
    know."""
    s = DriftSession(spark, str(tmp_path))
    s.sql(
        "CREATE TABLE users (id INT PRIMARY KEY, email STRING UNIQUE, "
        "name STRING NOT NULL, age INT DEFAULT 21 CHECK (age >= 0), "
        "UNIQUE (name, age))"
    )
    s.sql("CREATE VIEW adults AS SELECT * FROM users WHERE age >= 18")
    tabs = {(r.name, r.kind) for r in s.sql("SHOW TABLES").collect()}
    assert tabs == {("users", "table"), ("adults", "view")}
    d = {r.column: r for r in s.sql("DESCRIBE users").collect()}
    assert d["id"].key == "PRI" and not d["id"].nullable
    assert d["email"].key == "UNI"
    assert not d["name"].nullable
    assert d["age"].default == "21"
    ddl = s.sql("SHOW CREATE TABLE users").first()["ddl"]
    assert "id INT PRIMARY KEY" in ddl
    assert "email STRING UNIQUE" in ddl
    assert "name STRING NOT NULL" in ddl
    assert "DEFAULT 21" in ddl
    assert "UNIQUE (name, age)" in ddl
    assert "CHECK (age >= 0)" in ddl
    # the rendered DDL round-trips through the parser
    s2 = DriftSession(spark, str(tmp_path) + "2")
    s2.sql(ddl.replace("users", "users_rt"))
    d2 = {r.column: r for r in s2.sql("DESCRIBE users_rt").collect()}
    assert d2.keys() == d.keys()


def test_incremental_materialized_view(spark, tmp_path):
    """Incremental MV maintenance: refresh recomputes only the groups a
    change touched, and the merged MV always equals the full recompute
    (the Delta Live Tables / Materialize keyed-aggregate shape; the
    reference refreshes views by full re-execution, views.rs:541)."""
    from driftdb_spark.views import IncrementalViewRegistry

    s = DriftSession(spark, str(tmp_path))
    log = s.create_table(
        "sales", {"id": "int", "region": "string", "amt": "int"}
    )
    log.insert(
        spark.createDataFrame(
            [(1, "east", 10), (2, "east", 20), (3, "west", 5), (4, "north", 9)],
            "id int, region string, amt int",
        )
    )
    reg = IncrementalViewRegistry(spark, str(tmp_path))
    sql = (
        "SELECT region, COUNT(*) AS n, SUM(amt) AS total "
        "FROM sales_src GROUP BY region"
    )
    reg.create("mv_sales", log, s._tables["sales"][1], sql, ["region"], "sales_src")

    def mv():
        return {
            (r.region, r.n, r.total)
            for r in spark.sql("SELECT * FROM mv_sales").collect()
        }

    assert mv() == {("east", 2, 30), ("west", 1, 5), ("north", 1, 9)}

    # change touches east (patch) and west->south (region move): north
    # must NOT recompute
    log.patch(spark.createDataFrame([(1, 100)], "id int, amt int"))
    s.sql("UPDATE sales SET region = 'south' WHERE id = 3")
    n = reg.refresh("mv_sales")
    assert n == 3  # east (patched), west (left), south (entered)
    assert mv() == {("east", 2, 120), ("south", 1, 5), ("north", 1, 9)}

    # delete empties a group: its MV row must disappear
    s.sql("DELETE FROM sales WHERE region = 'south'")
    reg.refresh("mv_sales")
    assert mv() == {("east", 2, 120), ("north", 1, 9)}

    # no changes -> zero groups recomputed
    assert reg.refresh("mv_sales") == 0


def test_materialized_view_sql_surface(spark, tmp_path):
    """CREATE/REFRESH/DROP MATERIALIZED VIEW through the dispatcher: the
    stored RESULT serves queries (stale until refresh), persists across
    sessions, and refresh recomputes (reference views.rs materialized +
    refresh :541)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE m (id INT PRIMARY KEY, grp STRING, x INT)")
    s.sql("INSERT INTO m VALUES (1, 'a', 10), (2, 'b', 20)")
    s.sql(
        "CREATE MATERIALIZED VIEW m_sum AS "
        "SELECT grp, SUM(x) AS total FROM m GROUP BY grp"
    )
    def mv():
        return {(r.grp, r.total) for r in s.sql("SELECT * FROM m_sum").collect()}
    assert mv() == {("a", 10), ("b", 20)}
    # materialized = STALE until refresh
    s.sql("INSERT INTO m VALUES (3, 'a', 5)")
    assert mv() == {("a", 10), ("b", 20)}
    s.sql("REFRESH MATERIALIZED VIEW m_sum")
    assert mv() == {("a", 15), ("b", 20)}
    # survives a fresh session (stored result re-registers)
    s2 = DriftSession(spark, str(tmp_path))
    assert {
        (r.grp, r.total) for r in s2.sql("SELECT * FROM m_sum").collect()
    } == {("a", 15), ("b", 20)}
    tabs = {(r.name, r.kind) for r in s2.sql("SHOW TABLES").collect()}
    assert ("m_sum", "materialized view") in tabs
    s2.sql("DROP MATERIALIZED VIEW m_sum")
    assert "m_sum" not in s2._mviews


def test_incremental_mview_sql_surface(spark, tmp_path):
    """CREATE INCREMENTAL MATERIALIZED VIEW ... ON t GROUP BY (cols) AS
    sql — REFRESH recomputes only the touched groups and returns their
    count through the dispatcher."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, site STRING, hits INT)")
    s.sql(
        "INSERT INTO ev VALUES (1, 'a', 3), (2, 'a', 4), (3, 'b', 5), (4, 'c', 6)"
    )
    s.sql(
        "CREATE INCREMENTAL MATERIALIZED VIEW site_hits ON ev GROUP BY (site) "
        "AS SELECT site, SUM(hits) AS total FROM ev GROUP BY site"
    )
    def mv():
        return {
            (r.site, r.total)
            for r in s.sql("SELECT * FROM site_hits").collect()
        }
    assert mv() == {("a", 7), ("b", 5), ("c", 6)}
    s.sql("UPDATE ev SET hits = 30 WHERE id = 1")
    n = s.sql("REFRESH MATERIALIZED VIEW site_hits")
    assert n == 1  # only site 'a' recomputed
    assert mv() == {("a", 34), ("b", 5), ("c", 6)}
    assert s.sql("REFRESH MATERIALIZED VIEW site_hits") == 0  # no changes


def test_incremental_mview_contract_validated(spark, tmp_path):
    """Non-conforming definitions are rejected LOUDLY at CREATE (they
    would refresh silently stale: only the source table's events advance
    the watermark) — join, window, LIMIT, global aggregate, expression
    group keys, wrong GROUP BY."""
    import pytest as _pytest

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, site STRING, hits INT)")
    s.sql("CREATE TABLE dim (site STRING PRIMARY KEY, region STRING)")
    s.sql("INSERT INTO ev VALUES (1, 'a', 3)")
    bad = [
        # joins a second table
        "SELECT e.site, COUNT(*) AS n FROM ev e JOIN dim d ON e.site = d.site "
        "GROUP BY e.site",
        # window function
        "SELECT site, SUM(SUM(hits)) OVER (ORDER BY site) AS w FROM ev "
        "GROUP BY site",
        # global aggregate (no GROUP BY)
        "SELECT SUM(hits) AS total FROM ev",
        # GROUP BY does not match the declared group columns
        "SELECT site, hits, COUNT(*) AS n FROM ev GROUP BY site, hits",
        # expression group key (not a state column)
        "SELECT upper(site) AS site, COUNT(*) AS n FROM ev GROUP BY upper(site)",
        # LIMIT breaks per-group determinism
        "SELECT site, COUNT(*) AS n FROM ev GROUP BY site LIMIT 1",
    ]
    for i, defn in enumerate(bad):
        with _pytest.raises(Exception):
            s.sql(
                f"CREATE INCREMENTAL MATERIALIZED VIEW bad{i} ON ev "
                f"GROUP BY (site) AS {defn}"
            )
    # a conforming definition still works and refreshes proportionally
    s.sql(
        "CREATE INCREMENTAL MATERIALIZED VIEW ok ON ev GROUP BY (site) "
        "AS SELECT site, SUM(hits) AS total FROM ev GROUP BY site"
    )
    s.sql("INSERT INTO ev VALUES (2, 'b', 9)")
    assert s.sql("REFRESH MATERIALIZED VIEW ok") == 1


def test_incremental_mview_persists_across_sessions(spark, tmp_path):
    """IMV metadata persists in the catalog: a fresh session serves the
    stored result, REFRESH stays incremental from the saved watermark,
    and DROP removes files + catalog entry (ADVICE r5)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, site STRING, hits INT)")
    s.sql("INSERT INTO ev VALUES (1, 'a', 3), (2, 'b', 5)")
    s.sql(
        "CREATE INCREMENTAL MATERIALIZED VIEW sh ON ev GROUP BY (site) "
        "AS SELECT site, SUM(hits) AS total FROM ev GROUP BY site"
    )
    # reopen: stored result queryable without recompute
    s2 = DriftSession(spark, str(tmp_path))
    got = {(r.site, r.total) for r in s2.sql("SELECT * FROM sh").collect()}
    assert got == {("a", 3), ("b", 5)}
    tabs = {(r.name, r.kind) for r in s2.sql("SHOW TABLES").collect()}
    assert ("sh", "incremental materialized view") in tabs
    # refresh in the NEW session is incremental: only touched group
    s2.sql("INSERT INTO ev VALUES (3, 'a', 7)")
    assert s2.sql("REFRESH MATERIALIZED VIEW sh") == 1
    got = {(r.site, r.total) for r in s2.sql("SELECT * FROM sh").collect()}
    assert got == {("a", 10), ("b", 5)}
    # drop removes catalog entry + storage
    s2.sql("DROP MATERIALIZED VIEW sh")
    s3 = DriftSession(spark, str(tmp_path))
    assert "sh" not in s3._imvs
    import os

    assert not any(f.startswith("imv_sh") for f in os.listdir(str(tmp_path)))


def test_incremental_mview_null_group_keys(spark, tmp_path):
    """A NULL group key is a real group (GROUP BY semantics): its rows
    must recompute and its old MV row must be replaced (null-safe
    group-key joins; ADVICE r5)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, site STRING, hits INT)")
    s.sql("INSERT INTO ev VALUES (1, NULL, 3), (2, 'b', 5)")
    s.sql(
        "CREATE INCREMENTAL MATERIALIZED VIEW ng ON ev GROUP BY (site) "
        "AS SELECT site, SUM(hits) AS total FROM ev GROUP BY site"
    )
    got = {(r.site, r.total) for r in s.sql("SELECT * FROM ng").collect()}
    assert got == {(None, 3), ("b", 5)}
    # touch the NULL group: it must refresh, not stay permanently stale
    s.sql("INSERT INTO ev VALUES (3, NULL, 10)")
    assert s.sql("REFRESH MATERIALIZED VIEW ng") == 1
    got = {(r.site, r.total) for r in s.sql("SELECT * FROM ng").collect()}
    assert got == {(None, 13), ("b", 5)}
    # a row LEAVING the NULL group also replaces the old NULL row
    s.sql("DELETE FROM ev WHERE id = 1")
    s.sql("REFRESH MATERIALIZED VIEW ng")
    got = {(r.site, r.total) for r in s.sql("SELECT * FROM ng").collect()}
    assert got == {(None, 10), ("b", 5)}


def test_mview_refresh_survives_crash_between_steps(spark, tmp_path, monkeypatch):
    """The versioned-pointer publish is atomic: a refresh that dies after
    writing the new data but BEFORE the pointer moves leaves the old
    result live and readable (VERDICT r5 #5)."""
    from driftdb_spark import views as V

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE m (id INT PRIMARY KEY, grp STRING, x INT)")
    s.sql("INSERT INTO m VALUES (1, 'a', 10)")
    s.sql(
        "CREATE MATERIALIZED VIEW msum AS "
        "SELECT grp, SUM(x) AS total FROM m GROUP BY grp"
    )
    s.sql("INSERT INTO m VALUES (2, 'a', 5)")

    real_replace = V.os.replace

    def boom(src, dst):
        if dst.endswith(".current"):
            raise RuntimeError("simulated crash before pointer commit")
        return real_replace(src, dst)

    monkeypatch.setattr(V.os, "replace", boom)
    import pytest as _pytest

    with _pytest.raises(Exception):
        s.sql("REFRESH MATERIALIZED VIEW msum")
    monkeypatch.undo()
    # old result still live in THIS session and in a fresh one
    s2 = DriftSession(spark, str(tmp_path))
    got = {(r.grp, r.total) for r in s2.sql("SELECT * FROM msum").collect()}
    assert got == {("a", 10)}
    # a later (non-crashing) refresh completes and supersedes
    s2.sql("REFRESH MATERIALIZED VIEW msum")
    got = {(r.grp, r.total) for r in s2.sql("SELECT * FROM msum").collect()}
    assert got == {("a", 15)}


def test_declare_fetch_close_cursor(spark, tmp_path):
    """DECLARE/FETCH/CLOSE server-side paging: FETCH n materializes only
    n rows at a time (toLocalIterator-backed — the result set never
    collects); NEXT defaults to 1, ALL drains, CLOSE frees."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE cu (id INT PRIMARY KEY, v INT)")
    vals = ", ".join(f"({i}, {i * 2})" for i in range(10))
    s.sql(f"INSERT INTO cu VALUES {vals}")
    assert s.sql("DECLARE c1 CURSOR FOR SELECT id, v FROM cu ORDER BY id") == 0
    first = s.sql("FETCH 3 FROM c1")
    assert [r.id for r in first.collect()] == [0, 1, 2]
    nxt = s.sql("FETCH NEXT FROM c1")
    assert [r.id for r in nxt.collect()] == [3]
    rest = s.sql("FETCH ALL FROM c1")
    assert [r.id for r in rest.collect()] == [4, 5, 6, 7, 8, 9]
    empty = s.sql("FETCH 5 FROM c1")  # exhausted -> empty, same schema
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    assert s.sql("CLOSE c1") == 0
    import pytest as _pytest

    with _pytest.raises(Exception):
        s.sql("DECLARE c1 CURSOR FOR SELECT 1").__class__  # fine: new name ok
        s.sql("DECLARE c1 CURSOR FOR SELECT 1")  # duplicate -> error


def test_information_schema_tables_and_columns(spark, tmp_path):
    """Driver/BI introspection surface: information_schema.tables and
    .columns answer from the live session catalog (tables incl. PK/NOT
    NULL nullability and defaults; views and materialized views typed)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql(
        "CREATE TABLE inv (id INT PRIMARY KEY, qty INT NOT NULL, "
        "note STRING DEFAULT 'none')"
    )
    s.sql("CREATE VIEW inv_v AS SELECT id FROM inv")
    s.sql("CREATE MATERIALIZED VIEW inv_m AS SELECT COUNT(*) AS n FROM inv")
    tabs = {
        (r.table_name, r.table_type)
        for r in s.sql(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    assert ("inv", "BASE TABLE") in tabs
    assert ("inv_v", "VIEW") in tabs
    assert ("inv_m", "MATERIALIZED VIEW") in tabs
    cols = {
        r.column_name: r
        for r in s.sql(
            "SELECT * FROM information_schema.columns "
            "WHERE table_name = 'inv' ORDER BY ordinal_position"
        ).collect()
    }
    assert list(cols) == ["id", "qty", "note"]
    assert cols["id"].is_nullable == "NO"  # primary key
    assert cols["qty"].is_nullable == "NO"  # declared NOT NULL
    assert cols["note"].is_nullable == "YES"
    assert cols["note"].column_default == "'none'"
    # joins between the two views work (the DBeaver-style query shape)
    n = s.sql(
        "SELECT COUNT(*) AS n FROM information_schema.tables t "
        "JOIN information_schema.columns c ON t.table_name = c.table_name "
        "WHERE t.table_type = 'BASE TABLE'"
    ).first()["n"]
    assert n == 3


def test_incremental_mview_accepts_cte_definition(spark, tmp_path):
    """A conforming single-table definition that uses a CTE must pass
    contract validation (CTE aliases parse as UnresolvedRelation and must
    not be mistaken for foreign tables — ADVICE r6) and refresh
    incrementally."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE ev (id INT PRIMARY KEY, site STRING, hits INT)")
    s.sql("INSERT INTO ev VALUES (1, 'a', 3), (2, 'a', 4), (3, 'b', 5)")
    s.sql(
        "CREATE INCREMENTAL MATERIALIZED VIEW cte_mv ON ev GROUP BY (site) "
        "AS WITH pos AS (SELECT site, hits FROM ev WHERE hits > 0) "
        "SELECT site, SUM(hits) AS total FROM pos GROUP BY site"
    )
    rows = {
        (r.site, r.total) for r in s.sql("SELECT * FROM cte_mv").collect()
    }
    assert rows == {("a", 7), ("b", 5)}
    s.sql("INSERT INTO ev VALUES (4, 'b', 10)")
    assert s.sql("REFRESH MATERIALIZED VIEW cte_mv") == 1  # only site 'b'
    rows = {
        (r.site, r.total) for r in s.sql("SELECT * FROM cte_mv").collect()
    }
    assert rows == {("a", 7), ("b", 15)}
    # a CTE must not LAUNDER a foreign table through an alias
    s.sql("CREATE TABLE dim (site STRING PRIMARY KEY, region STRING)")
    import pytest as _pytest

    with _pytest.raises(Exception, match="dim"):
        s.sql(
            "CREATE INCREMENTAL MATERIALIZED VIEW bad_cte ON ev GROUP BY (site) "
            "AS WITH d AS (SELECT site FROM dim) "
            "SELECT e.site, COUNT(*) AS n FROM ev e JOIN d ON e.site = d.site "
            "GROUP BY e.site"
        )


def test_publish_versioned_keeps_previous_version_one_cycle(spark, tmp_path):
    """The deferred sweep (ADVICE r6): the version superseded by THIS
    publish survives until the NEXT one, so an in-flight reader of the
    just-replaced version never loses its files mid-scan."""
    import os

    from driftdb_spark.views import publish_versioned, resolve_versioned

    d = str(tmp_path)
    df = spark.range(3).toDF("id")

    def versions():
        return sorted(
            e for e in os.listdir(d) if e.startswith("vv.v") and e.endswith(".parquet")
        )

    p0 = publish_versioned(df, d, "vv")
    assert versions() == ["vv.v0.parquet"]
    p1 = publish_versioned(df, d, "vv")
    # v0 still on disk: a reader holding it finishes cleanly
    assert versions() == ["vv.v0.parquet", "vv.v1.parquet"]
    assert spark.read.parquet(p0).count() == 3
    publish_versioned(df, d, "vv")
    # the NEXT publish sweeps v0; v1 now serves the grace window
    assert versions() == ["vv.v1.parquet", "vv.v2.parquet"]
    assert resolve_versioned(d, "vv").endswith("vv.v2.parquet")
    assert spark.read.parquet(p1).count() == 3


def test_explain_dml_builds_plan_without_executing(spark, tmp_path):
    """PostgreSQL contract: EXPLAIN without ANALYZE NEVER executes the
    statement (reference builds a PlanNode tree without publishing,
    sql_bridge.rs:580-670). Round 9 recursed EXPLAIN's inner statement
    through sql() unconditionally, which EXECUTED DML eagerly (row count
    mutated) and then crashed — this pins the fix: every DML shape returns
    a dispatch-node plan with ZERO events published, and EXPLAIN of
    utility statements / EXPLAIN ANALYZE of DML refuse cleanly."""
    import pytest as _pytest

    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, str(tmp_path / "xplain"))
    sess.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    sess.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    log = sess._tables["t"][0]

    def state():
        rows = sorted(
            (r.id, r.v) for r in sess.sql("SELECT id, v FROM t").collect()
        )
        return rows, log.last_sequence()

    before = state()
    cases = {
        "EXPLAIN INSERT INTO t VALUES (3, 30)": "InsertEvents",
        "EXPLAIN INSERT INTO t SELECT id + 10, v FROM t": "InsertEvents",
        "EXPLAIN INSERT INTO t VALUES (4, 40) RETURNING id": "Returning",
        "EXPLAIN UPDATE t SET v = v + 1 WHERE id = 1": "UpdateEvents",
        "EXPLAIN DELETE FROM t WHERE id = 2": "DeleteEvents",
        "EXPLAIN MERGE INTO t USING t s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v": "MergeEvents",
        # the statement is cut where Spark's parser cuts it, not at the
        # first keyword inside a literal or a subquery
        "EXPLAIN UPDATE t SET v = length(' WHERE x') WHERE id = 1": (
            "set=v = length(' WHERE x')"
        ),
        "EXPLAIN MERGE INTO t USING (SELECT a.id, a.v FROM t a JOIN t b "
        "ON a.id = b.id) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v": "on=t.id = s.id",
    }
    for stmt, node in cases.items():
        plan = sess.sql(stmt)
        text = "\n".join(r.plan for r in plan.collect())
        assert node in text, f"{stmt} missing dispatch node: {text[:200]}"
        # the read side of the DML still plans through Catalyst
        if "VALUES" not in stmt or "SELECT" in stmt:
            assert "Physical Plan" in text or "Scan" in text
        assert state() == before, f"EXPLAIN executed the statement: {stmt}"

    # WITH-prefixed DML classifies as DML, not as a query (Spark SQL
    # allows CTE-prefixed INSERT; it must not slip through the lazy
    # path). Since r11 it renders a Cte + dispatch-node plan — still
    # publishing nothing (test_explain_of_cte_dml_plans_without_executing
    # covers the full shape).
    cte_plan = "\n".join(
        r.plan
        for r in sess.sql(
            "EXPLAIN WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT x, x FROM c"
        ).collect()
    )
    assert "Cte [c]" in cte_plan and "InsertEvents" in cte_plan
    assert state() == before

    # utility statements refuse (PostgreSQL: EXPLAIN CREATE ... is an error)
    for bad in (
        "EXPLAIN CREATE TABLE zz (a INT PRIMARY KEY)",
        "EXPLAIN TRUNCATE t",
        "EXPLAIN ANALYZE INSERT INTO t VALUES (5, 50)",
    ):
        with _pytest.raises(ValueError):
            sess.sql(bad)
        assert state() == before, f"refusal still executed: {bad}"

    # EXPLAIN ANALYZE of a QUERY executes the query (that is its job)
    # and renders per-operator runtime metrics — state still unchanged.
    txt = "\n".join(
        r.plan
        for r in sess.sql(
            "EXPLAIN ANALYZE SELECT v, COUNT(*) AS n FROM t GROUP BY v"
        ).collect()
    )
    assert "numOutputRows" in txt
    assert state() == before


def test_mview_refresh_visible_across_cloned_sessions(spark, tmp_path):
    """The wire server clones a SparkSession per connection (private
    temp-view namespace), so a REFRESH MATERIALIZED VIEW on connection A
    moves the on-disk version pointer in a namespace B cannot see. B kept
    its connect-time registration: after one refresh it silently served
    stale rows, after two the registered directory is swept (publish keeps
    current+previous one cycle) and the SELECT broke. _register now
    re-resolves the pointer per statement, so B always reads current."""
    from driftdb_spark.server import _clone_spark
    from driftdb_spark.sql_frontend import DriftSession

    d = str(tmp_path / "mv_xsess")
    s1 = DriftSession(spark, d)
    s1.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s1.sql("INSERT INTO t VALUES (1, 10)")
    s1.sql("CREATE MATERIALIZED VIEW mv AS SELECT SUM(v) AS total FROM t")

    clone = _clone_spark(spark)
    assert clone is not spark  # the isolation the bug needs
    s2 = DriftSession(clone, d)  # connection B: registers mv at connect
    assert s2.sql("SELECT total FROM mv").collect()[0].total == 10

    # two refreshes on A: the version B registered is now DELETED
    s1.sql("INSERT INTO t VALUES (2, 20)")
    s1.sql("REFRESH MATERIALIZED VIEW mv")
    s1.sql("INSERT INTO t VALUES (3, 30)")
    s1.sql("REFRESH MATERIALIZED VIEW mv")

    assert s2.sql("SELECT total FROM mv").collect()[0].total == 60
    # and A itself stays current too
    assert s1.sql("SELECT total FROM mv").collect()[0].total == 60


def test_strip_leading_ctes_and_explain_with_literals(spark, tmp_path):
    """WITH-prefixed statements classify STRUCTURALLY: a DML verb inside a
    string literal or alias must not flip a valid query to DML (the r10
    word-search draft refused `... WHERE s = 'DELETE'`), while a genuine
    CTE-prefixed INSERT still classifies as a write everywhere (EXPLAIN
    refusal, wire lock gate, RBAC privilege)."""
    from driftdb_spark.rbac import statement_permission
    from driftdb_spark.server import _is_readonly_sql
    from driftdb_spark.sql_frontend import DriftSession, strip_leading_ctes

    # the stripper: multi-CTE, nested parens, quoted ')' and 'INSERT'
    assert strip_leading_ctes("SELECT 1") is None
    assert (
        strip_leading_ctes("WITH a AS (SELECT 1), b AS (SELECT 2) SELECT 3")
        == "SELECT 3"
    )
    assert strip_leading_ctes(
        "WITH a (x) AS (SELECT ')' FROM t WHERE s = 'INSERT (') SELECT * FROM a"
    ) == "SELECT * FROM a"
    assert strip_leading_ctes(
        "WITH RECURSIVE w AS (SELECT 1 UNION ALL SELECT n + 1 FROM w) "
        "INSERT INTO t SELECT * FROM w"
    ).startswith("INSERT")
    assert strip_leading_ctes("WITH broken AS (SELECT 1") is None  # unbalanced
    # adversarial lexing: backslash escapes, '' doubling, comments (line
    # and nesting block, incl. between the prefix and the body), backtick
    # identifiers containing parens — each once derailed the scan
    assert strip_leading_ctes(
        "WITH a AS (SELECT 'don\\'t' AS s) SELECT s FROM a"
    ) == "SELECT s FROM a"
    assert strip_leading_ctes(
        "WITH a AS (SELECT 'ab\\' x)' AS s) INSERT INTO t SELECT s FROM a"
    ).startswith("INSERT")
    assert strip_leading_ctes(
        "WITH a AS (SELECT 1 -- note :)\n) INSERT INTO t SELECT * FROM a"
    ).startswith("INSERT")
    assert strip_leading_ctes(
        "WITH a AS (SELECT 1 -- note (\n) SELECT * FROM a"
    ) == "SELECT * FROM a"
    assert strip_leading_ctes(
        "WITH a AS (SELECT 1) -- x\n INSERT INTO t SELECT * FROM a"
    ).startswith("INSERT")
    assert strip_leading_ctes("WITH a AS (SELECT 1 /* ) */) SELECT 2") == "SELECT 2"
    assert strip_leading_ctes(
        "WITH a AS (SELECT `weird(col` FROM t) SELECT * FROM a"
    ) == "SELECT * FROM a"
    assert strip_leading_ctes(
        "WITH a AS (SELECT '''quoted'' paren )' ) SELECT 1"
    ) == "SELECT 1"
    # unlexable WITH + DML word anywhere -> RBAC stays conservative
    assert statement_permission("WITH broken AS (SELECT 1 INSERT") == "insert"

    # classification parity across the three consumers
    lit = "WITH c AS (SELECT COUNT(*) AS n FROM t WHERE s = 'DELETE') SELECT * FROM c"
    dml = "WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT x, x FROM c"
    assert _is_readonly_sql(lit) and not _is_readonly_sql(dml)
    assert statement_permission(lit) == "select"
    assert statement_permission(dml) == "insert"
    assert statement_permission("EXPLAIN " + dml) == "insert"

    # EXPLAIN of the literal-bearing query returns a plan, not a refusal
    sess = DriftSession(spark, str(tmp_path / "ctes"))
    sess.sql("CREATE TABLE t (id INT PRIMARY KEY, s STRING)")
    sess.sql("INSERT INTO t VALUES (1, 'DELETE'), (2, 'keep')")
    plan = "\n".join(
        r.plan
        for r in sess.sql(
            "EXPLAIN WITH c AS (SELECT COUNT(*) AS n FROM t "
            "WHERE s = 'DELETE') SELECT * FROM c"
        ).collect()
    )
    assert "Physical Plan" in plan or "Scan" in plan
    # and genuine CTE-DML under EXPLAIN renders a plan (r11: the
    # statement is executable now) while still executing NOTHING
    cte_plan = "\n".join(r.plan for r in sess.sql("EXPLAIN " + dml).collect())
    assert "Cte [c]" in cte_plan and "InsertEvents" in cte_plan
    assert sess.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 2


def test_statement_scoped_registration(spark, tmp_path):
    """Per-statement state registration is O(referenced), not O(catalog):
    a statement only (re-)registers the tables/views reachable from its
    text (transitively through view definitions and RLS predicates).
    Pins the correctness half: reachability through a view, through a
    nested view, and the superset property (unreferenced tables are NOT
    registered — their temp views stay stale/absent, which is invisible
    because nothing in the statement can read them); and the ORDER: a
    view registers after what its body names, whatever the catalog's
    own order (a re-created inner view, a fresh session's sorted load)."""
    from driftdb_spark.sql_frontend import DriftSession

    d = str(tmp_path / "scoped")
    s = DriftSession(spark, d)
    for i in range(3):
        s.sql(f"CREATE TABLE st{i} (id INT PRIMARY KEY, v INT)")
        s.sql(f"INSERT INTO st{i} VALUES (1, {10 * (i + 1)})")
    s.sql("CREATE VIEW sv1 AS SELECT id, v FROM st1")
    s.sql("CREATE VIEW sv2 AS SELECT * FROM sv1 WHERE v > 0")

    # the scan: direct, via view, via nested view, plus RLS predicates
    only = s._scope("SELECT * FROM st0")
    assert set(only) == {"st0"}
    only = s._scope("SELECT * FROM sv2")
    assert set(only) == {"sv2", "sv1", "st1"}
    # dependency order: each object after everything its body names
    assert only == ["st1", "sv1", "sv2"]
    # a name inside a literal over-registers (superset is fine)
    only = s._scope("SELECT 'st2' FROM st0")
    assert set(only) == {"st0", "st2"}

    # correctness through the full dispatch: nested view reads fresh state
    assert s.sql("SELECT v FROM sv2").collect()[0].v == 20
    s.sql("UPDATE st1 SET v = 99 WHERE id = 1")
    assert s.sql("SELECT v FROM sv2").collect()[0].v == 99
    # unreferenced tables still answer correctly when referenced next
    assert s.sql("SELECT v FROM st2").collect()[0].v == 30

    # DROP and re-CREATE of the inner view: the outer one, now earlier in
    # the catalog, must still register after it
    s.sql("DROP VIEW sv1")
    s.sql("CREATE VIEW sv1 AS SELECT id, v + 1 AS v FROM st1")
    assert s.sql("SELECT v FROM sv2").collect()[0].v == 100

    # a view over a view whose name sorts later, read from a fresh
    # session with its own (empty) temp-view namespace, as every wire
    # connection has: the catalog file lists adouble before zbase
    s.sql("CREATE VIEW zbase AS SELECT id, v FROM st0")
    s.sql("CREATE VIEW adouble AS SELECT id, v * 2 AS v FROM zbase")
    fresh = DriftSession(spark.newSession(), d)
    assert fresh.sql("SELECT v FROM adouble").collect()[0].v == 20

    # a view pinned by its own FOR SYSTEM_TIME whose body names the view
    # itself (a column alias): it reads at its own target while the outer
    # statement reads current state, and neither it nor a whole-catalog
    # IDENTIFIER( registration re-enters the view
    s.sql("CREATE TABLE pt (id INT PRIMARY KEY, x INT)")
    s.sql("INSERT INTO pt VALUES (1, 5)")
    s.sql("INSERT INTO pt VALUES (2, 7)")
    s.sql("CREATE VIEW total AS SELECT SUM(x) AS total FROM pt "
          "FOR SYSTEM_TIME AS OF @SEQ:1")
    assert s._scope("SELECT * FROM total") == ["pt", "total"]
    got = s.sql("SELECT (SELECT total FROM total) AS pinned, "
                "(SELECT SUM(x) FROM pt) AS now").collect()[0]
    assert (got.pinned, got.now) == (5, 12)
    n = s.sql("SELECT COUNT(*) AS n FROM IDENTIFIER(:t)", args={"t": "pt"})
    assert n.collect()[0].n == 2
    assert s.sql("SELECT total FROM total").collect()[0].total == 5


def test_scoped_registration_dml_and_dynamic_identifiers(spark, tmp_path):
    """Follow-ups to statement-scoped registration: paths that read temp
    views OUTSIDE the query dispatcher must refresh their own scope now
    that unrelated statements no longer refresh everything as a side
    effect — MERGE/INSERT..SELECT through a VIEW, UPDATE/DELETE with a
    subquery, and IDENTIFIER() dynamic names (non-textual references fall
    back to registering the whole catalog)."""
    import pytest as _pytest

    from driftdb_spark.sql_frontend import DriftSession

    s = DriftSession(spark, str(tmp_path / "dmlscope"))
    s.sql("CREATE TABLE src (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO src VALUES (1, 10), (2, 20)")
    s.sql("CREATE TABLE dst (id INT PRIMARY KEY, v INT)")
    s.sql("CREATE VIEW vsrc AS SELECT id, v FROM src")

    # INSERT ... SELECT through a view in a FRESH session (no prior query
    # ever registered vsrc): must register the view's whole chain itself
    s2 = DriftSession(spark, str(tmp_path / "dmlscope"))
    s2.sql("INSERT INTO dst SELECT id, v FROM vsrc")
    assert s2.sql("SELECT COUNT(*) AS n FROM dst").collect()[0].n == 2

    # the view must read CURRENT state, not the plan bound at first use
    s2.sql("INSERT INTO src VALUES (3, 30)")
    s2.sql("MERGE INTO dst USING vsrc AS nv ON dst.id = nv.id "
           "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (nv.id, nv.v)")
    assert s2.sql("SELECT COUNT(*) AS n FROM dst").collect()[0].n == 3

    # UPDATE/DELETE WHERE-subqueries read other tables' CURRENT state
    s2.sql("CREATE TABLE gate (id INT PRIMARY KEY)")
    s2.sql("INSERT INTO gate VALUES (1)")
    s2.sql("SELECT COUNT(*) AS n FROM gate")  # bind gate@now
    s2.sql("INSERT INTO gate VALUES (3)")     # move gate past the binding
    s2.sql("UPDATE dst SET v = 0 WHERE id IN (SELECT id FROM gate)")
    got = {r.id: r.v for r in s2.sql("SELECT id, v FROM dst").collect()}
    assert got[1] == 0 and got[3] == 0 and got[2] == 20, got
    s2.sql("DELETE FROM dst WHERE id IN (SELECT id FROM gate)")
    assert {r.id for r in s2.sql("SELECT id FROM dst").collect()} == {2}

    # IDENTIFIER(): non-textual table name -> full-catalog registration
    s2.sql("INSERT INTO src VALUES (4, 40)")
    n = s2.sql("SELECT COUNT(*) AS n FROM IDENTIFIER(:t)", args={"t": "src"})
    assert n.collect()[0].n == 4

    # the parser mode the classifiers assume is pinned
    with _pytest.raises(ValueError, match="escapedStringLiterals"):
        s2.sql("SET spark.sql.parser.escapedStringLiterals=true")

    # unlexable CTE prefix: RBAC requires EVERY DML verb present
    from driftdb_spark.rbac import statement_permissions

    # r11: the conservative scan runs over SCRUBBED text, so a DML verb
    # inside a string literal no longer inflates the requirement ...
    assert statement_permissions(
        "WITH broken AS (SELECT 'UPDATE' INSERT") == ["insert"]
    # ... while verbs genuinely outside literals/comments all still count
    assert statement_permissions(
        "WITH broken AS (SELECT 'x' UPDATE INSERT") == ["insert", "update"]


def test_cte_prefixed_dml_executes(spark, tmp_path):
    """WITH … INSERT/UPDATE/DELETE/MERGE executes (PostgreSQL
    data-modifying-statement CTEs; the reference's sqlparser cannot
    parse the shape — r10 VERDICT "What's missing" #1). CTEs register as
    pinned statement-scoped temp views, so a CTE reading the SAME table
    the tail writes sees the pre-statement snapshot."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10), (2, 20)")

    # WITH…INSERT, CTE reads the target table (snapshot semantics)
    s.sql(
        "WITH src AS (SELECT id + 10 AS id, v * 2 AS v FROM t) "
        "INSERT INTO t SELECT * FROM src"
    )
    got = {(r.id, r.v) for r in s.sql("SELECT * FROM t").collect()}
    assert got == {(1, 10), (2, 20), (11, 20), (12, 40)}

    # chained CTEs + explicit column list + RETURNING composes
    out = s.sql(
        "WITH a (id, v) AS (SELECT 100, 1), "
        "b AS (SELECT id + 1 AS id, v FROM a) "
        "INSERT INTO t SELECT * FROM b RETURNING id, v"
    )
    assert [(r.id, r.v) for r in out.collect()] == [(101, 1)]

    # WITH…MERGE round-trip (values verified)
    s.sql(
        "WITH src AS (SELECT 1 AS id, 999 AS v UNION ALL SELECT 500, 5) "
        "MERGE INTO t USING src ON t.id = src.id "
        "WHEN MATCHED THEN UPDATE SET v = src.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)"
    )
    got = {(r.id, r.v) for r in s.sql("SELECT * FROM t WHERE id IN (1, 500)").collect()}
    assert got == {(1, 999), (500, 5)}

    # WITH…UPDATE / WITH…DELETE via IN-subquery over the CTE
    s.sql(
        "WITH big AS (SELECT id FROM t WHERE v >= 40) "
        "UPDATE t SET v = 0 WHERE id IN (SELECT id FROM big)"
    )
    assert s.sql("SELECT count(*) AS n FROM t WHERE v = 0").first()["n"] == 2
    s.sql(
        "WITH doomed AS (SELECT id FROM t WHERE v = 0) "
        "DELETE FROM t WHERE id IN (SELECT id FROM doomed)"
    )
    assert s.sql("SELECT count(*) AS n FROM t WHERE v = 0").first()["n"] == 0

    # WITH RECURSIVE … INSERT runs through the fixpoint machinery
    s.sql(
        "WITH RECURSIVE r AS (SELECT 800 AS id, 0 AS v "
        "UNION ALL SELECT id + 1, v + 1 FROM r WHERE v < 2) "
        "INSERT INTO t SELECT * FROM r"
    )
    assert s.sql("SELECT count(*) AS n FROM t WHERE id >= 800").first()["n"] == 3

    # a CTE shadowing a catalog object inside DML is refused, clearly
    with pytest.raises(ValueError, match="shadows"):
        s.sql("WITH t AS (SELECT 1 AS id, 1 AS v) INSERT INTO t SELECT * FROM t")
    # the statement-scoped temp views do not leak past the statement
    assert not any(
        v.name in ("src", "a", "b", "big", "doomed", "r")
        for v in spark.catalog.listTables()
        if v.isTemporary
    )


def test_cte_dml_in_transaction_and_rollback(spark, tmp_path):
    """WITH…DML composes with BEGIN/ROLLBACK like any other DML: the
    staged events discard on rollback, publish on commit."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10)")
    s.sql("BEGIN")
    s.sql("WITH src AS (SELECT 2 AS id, 20 AS v) INSERT INTO t SELECT * FROM src")
    s.sql("ROLLBACK")
    assert s.sql("SELECT count(*) AS n FROM t").first()["n"] == 1
    s.sql("BEGIN")
    s.sql("WITH src AS (SELECT 2 AS id, 20 AS v) INSERT INTO t SELECT * FROM src")
    s.sql("COMMIT")
    assert s.sql("SELECT count(*) AS n FROM t").first()["n"] == 2


def test_explain_of_cte_dml_plans_without_executing(spark, tmp_path):
    """EXPLAIN WITH…INSERT renders Cte + InsertEvents + the read-side
    plan and publishes nothing; EXPLAIN /*comment*/ SELECT classifies on
    the inner verb (r10 ADVICE)."""
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    s.sql("INSERT INTO t VALUES (1, 10)")
    plan = s.sql(
        "EXPLAIN WITH src AS (SELECT 9 AS id, 9 AS v) "
        "INSERT INTO t SELECT * FROM src"
    )
    lines = [r.plan for r in plan.collect()]
    assert any("Cte [src]" in ln for ln in lines)
    assert any("InsertEvents" in ln for ln in lines)
    assert s.sql("SELECT count(*) AS n FROM t").first()["n"] == 1  # no publish
    # comment-prefixed inner statements classify instead of refusing
    assert s.sql("EXPLAIN /*c*/ SELECT 1 AS x").count() > 0
    assert s.sql("EXPLAIN -- c\n SELECT 1 AS x").count() > 0


def test_purge_sql_statement(spark, tmp_path):
    """PURGE FROM t KEYS (…) — the right-to-be-forgotten surface made
    SQL-reachable (EventLog.purge was API-only): rewrites log+snapshots,
    scrubs an attached audit trail's pk samples, refuses inside a
    transaction, and the sequence clock survives."""
    from driftdb_spark.audit import AuditTrail

    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id INT PRIMARY KEY, v INT)")
    trail = AuditTrail(s)
    s.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    s.sql("DELETE FROM t WHERE id = 3")  # purge must erase even deleted keys
    removed = s.sql("PURGE FROM t KEYS (2, 3)")
    assert removed == 3  # two inserts + one soft-delete tombstone
    assert {r.id for r in s.sql("SELECT id FROM t").collect()} == {1}
    log = s.table("t")
    assert log.events().filter("pk IN ('2','3')").count() == 0
    # audit pk samples scrubbed for the purged subjects, kept for others
    samples = [set(r.pks_sample or []) for r in trail.events().collect()]
    assert not any({"2", "3"} & st for st in samples)
    assert any("1" in st for st in samples)
    # clock did not regress: next insert lands above everything
    end = s.sql("INSERT INTO t VALUES (9, 90)")
    assert end == log.last_sequence() and end >= 5
    # refused inside a transaction
    s.sql("BEGIN")
    with pytest.raises(ValueError, match="transaction"):
        s.sql("PURGE FROM t KEYS (1)")
    s.sql("ROLLBACK")

"""Row-level security: policies, user context, write gates.

Reference: row_level_security.rs:25-130 (Policy/PolicyAction/
PolicyCheck model), :130-163 (SecurityContext), :289-450 (check_access:
permissive-OR / restrictive-AND combination, default deny, superuser
bypass). Statement shapes are PostgreSQL's, which the reference mirrors.
"""

from __future__ import annotations

import pytest

from driftdb_spark.rls import RlsDenied
from driftdb_spark.sql_frontend import DriftSession

COLS = {"id": "int", "owner": "string", "body": "string"}


@pytest.fixture
def sess(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE docs (id int PRIMARY KEY, owner string, body string)")
    s.sql(
        "INSERT INTO docs VALUES (1, 'alice', 'a1'), (2, 'bob', 'b1'), (3, 'alice', 'a2')"
    )
    s.sql("ALTER TABLE docs ENABLE ROW LEVEL SECURITY")
    s.sql("CREATE POLICY own_rows ON docs USING (owner = current_user)")
    return s


def _ids(s):
    return {r.id for r in s.sql("SELECT id FROM docs").collect()}


def test_select_filtered_by_policy(sess):
    sess.sql("SET SESSION AUTHORIZATION alice")
    assert _ids(sess) == {1, 3}
    sess.sql("SET SESSION AUTHORIZATION bob")
    assert _ids(sess) == {2}
    sess.sql("RESET SESSION AUTHORIZATION")
    assert _ids(sess) == {1, 2, 3}  # owner context bypasses


def test_update_delete_limited_to_visible_rows(sess):
    sess.sql("SET SESSION AUTHORIZATION alice")
    # unqualified UPDATE touches only alice's rows
    sess.sql("UPDATE docs SET body = 'edited'")
    # targeting bob's row matches nothing
    sess.sql("DELETE FROM docs WHERE id = 2")
    sess.sql("RESET SESSION AUTHORIZATION")
    rows = {(r.id, r.body) for r in sess.sql("SELECT id, body FROM docs").collect()}
    assert rows == {(1, "edited"), (2, "b1"), (3, "edited")}


def test_insert_with_check_gate(sess):
    sess.sql("SET SESSION AUTHORIZATION alice")
    with pytest.raises(RlsDenied):
        sess.sql("INSERT INTO docs VALUES (4, 'bob', 'forged')")
    sess.sql("INSERT INTO docs VALUES (5, 'alice', 'mine')")
    assert _ids(sess) == {1, 3, 5}


def test_default_deny_without_applicable_policy(spark, tmp_path):
    s = DriftSession(spark, str(tmp_path))
    s.sql("CREATE TABLE t (id int PRIMARY KEY)")
    s.sql("INSERT INTO t VALUES (1), (2)")
    s.sql("ALTER TABLE t ENABLE ROW LEVEL SECURITY")
    s.sql("SET SESSION AUTHORIZATION nobody")
    assert s.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 0
    with pytest.raises(RlsDenied):
        s.sql("INSERT INTO t VALUES (3)")
    s.sql("ALTER TABLE t DISABLE ROW LEVEL SECURITY")
    assert s.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 2


def test_restrictive_policy_intersects(sess):
    sess.sql(
        "CREATE POLICY small_ids ON docs AS RESTRICTIVE USING (id < 3)"
    )
    sess.sql("SET SESSION AUTHORIZATION alice")
    assert _ids(sess) == {1}  # own_rows OR-set intersected with id < 3
    with pytest.raises(RlsDenied):
        sess.sql("INSERT INTO docs VALUES (9, 'alice', 'big id')")


def test_role_scoped_policy(sess):
    sess.sql("CREATE POLICY admin_all ON docs TO admins USING (true)")
    sess.set_security_context("carol", roles=["admins"])
    assert _ids(sess) == {1, 2, 3}
    sess.set_security_context("carol", roles=["interns"])
    assert _ids(sess) == set()  # own_rows doesn't match, admin_all not granted


def test_superuser_bypass_and_history_gating(sess):
    sess.set_security_context("carol", superuser=True)
    assert _ids(sess) == {1, 2, 3}
    sess.sql("SET SESSION AUTHORIZATION bob")
    hist = sess.sql("SELECT pk FROM docs FOR SYSTEM_TIME ALL")
    assert {r.pk for r in hist.collect()} == {"2"}


def test_policies_persist_in_catalog(sess, spark, tmp_path):
    fresh = DriftSession(spark, str(tmp_path))
    fresh.sql("SET SESSION AUTHORIZATION alice")
    assert {r.id for r in fresh.sql("SELECT id FROM docs").collect()} == {1, 3}
    fresh.sql("DROP POLICY own_rows ON docs")
    third = DriftSession(spark, str(tmp_path))
    third.sql("SET SESSION AUTHORIZATION alice")
    assert third.sql("SELECT COUNT(*) AS n FROM docs").first()["n"] == 0  # default deny


def test_rls_applies_through_procedures_and_wire(sess, spark):
    """RLS composes with the other surfaces: a procedure's DML executes
    under the CALLER's security context, and a wire connection's
    SET SESSION AUTHORIZATION gates its own SELECTs."""
    sess.sql(
        "CREATE PROCEDURE wipe_mine() AS $$ DELETE FROM docs $$"
    )
    sess.sql("SET SESSION AUTHORIZATION alice")
    sess.sql("CALL wipe_mine()")  # unqualified DELETE, but RLS-scoped
    sess.sql("RESET SESSION AUTHORIZATION")
    assert _ids(sess) == {2}  # only bob's row survives

    # over the wire: per-connection authorization
    from driftdb_spark.server import PgWireServer
    from tests.test_pgwire import Client

    srv = PgWireServer(sess).start()
    try:
        host, port = srv.address
        a = Client(host, port)
        a.startup()
        a.query("SET SESSION AUTHORIZATION bob")
        _c, rows, _t, _e = a.query("SELECT COUNT(*) AS n FROM docs")
        assert rows == [["1"]]
        b = Client(host, port)
        b.startup()  # no auth set: owner context sees everything
        _c, rows_b, _t, _e = b.query("SELECT COUNT(*) AS n FROM docs")
        assert rows_b == [["1"]]
        a.close(); b.close()
    finally:
        srv.stop()


def test_update_with_check_blocks_owner_reassignment(sess):
    """WITH CHECK applies to the UPDATE post-image (PostgreSQL / reference
    check_access): a restricted user cannot move a visible row into a
    state the policy forbids — e.g. give their row away."""
    sess.sql("SET SESSION AUTHORIZATION alice")
    with pytest.raises(RlsDenied):
        sess.sql("UPDATE docs SET owner = 'bob' WHERE id = 1")
    sess.sql("RESET SESSION AUTHORIZATION")
    assert (
        sess.sql("SELECT owner FROM docs WHERE id = 1").first()["owner"] == "alice"
    )


def test_merge_clauses_apply_with_check(sess):
    """MERGE's INSERT and UPDATE clauses take the same WITH CHECK gates as
    the plain statements: a restricted user can neither insert a row the
    policy forbids nor move a visible row out of it through MERGE."""
    src = "(SELECT 1 AS id, 'bob' AS owner UNION ALL SELECT 9, 'bob') s"
    sess.sql("SET SESSION AUTHORIZATION alice")
    with pytest.raises(RlsDenied):
        sess.sql(
            f"MERGE INTO docs t USING {src} ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, owner, body) "
            "VALUES (s.id, s.owner, 'm')"
        )
    with pytest.raises(RlsDenied):
        sess.sql(
            f"MERGE INTO docs t USING {src} ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET owner = s.owner"
        )
    sess.sql("RESET SESSION AUTHORIZATION")
    rows = {(r.id, r.owner) for r in sess.sql("SELECT id, owner FROM docs").collect()}
    assert rows == {(1, "alice"), (2, "bob"), (3, "alice")}


def test_on_conflict_do_nothing_checks_every_proposed_row(sess):
    """WITH CHECK covers an ON CONFLICT DO NOTHING row whose key conflicts
    too: PostgreSQL runs the INSERT WITH CHECK before the conflict check."""
    sess.sql("SET SESSION AUTHORIZATION alice")
    with pytest.raises(RlsDenied):
        sess.sql("INSERT INTO docs VALUES (2, 'bob', 'x') ON CONFLICT DO NOTHING")
    sess.sql(
        "INSERT INTO docs VALUES (1, 'alice', 'x'), (6, 'alice', 'y') "
        "ON CONFLICT DO NOTHING"
    )
    assert _ids(sess) == {1, 3, 6}


def test_truncate_respects_rls(sess):
    """TRUNCATE routes through the RLS-conditioned delete: a restricted
    context wipes only rows it can see."""
    sess.sql("SET SESSION AUTHORIZATION alice")
    sess.sql("TRUNCATE docs")
    sess.sql("RESET SESSION AUTHORIZATION")
    assert _ids(sess) == {2}  # bob's row survives


def test_backslash_username_binds_safely(sess):
    """A username ending in a backslash must not corrupt the compiled
    predicate (Spark string literals process C-style escapes)."""
    sess.set_security_context("evil\\")
    assert _ids(sess) == set()  # no rows owned; predicate stays well-formed
    sess.set_security_context(None)


def test_subquery_policy_reads_current_state_of_named_table(sess, spark, tmp_path):
    """A policy whose USING subquery names another table is analyzed
    against THIS statement's registration of that table: the table's
    state view registers before the filtered one, so a grant written just
    before a read is visible to it (not one statement later), and a
    session that never read the table still resolves it."""
    sess.sql("CREATE TABLE doc_acl (doc int PRIMARY KEY, usr string)")
    sess.sql(
        "CREATE POLICY shared ON docs USING "
        "(id IN (SELECT doc FROM doc_acl WHERE usr = current_user))"
    )
    assert sess.sql("SELECT COUNT(*) AS n FROM doc_acl").first()["n"] == 0
    sess.sql("SET SESSION AUTHORIZATION bob")
    assert _ids(sess) == {2}
    sess.sql("RESET SESSION AUTHORIZATION")
    sess.sql("INSERT INTO doc_acl VALUES (1, 'bob')")
    sess.sql("SET SESSION AUTHORIZATION bob")
    assert _ids(sess) == {1, 2}
    # own temp-view namespace, doc_acl never registered in it
    fresh = DriftSession(spark.newSession(), str(tmp_path))
    fresh.sql("SET SESSION AUTHORIZATION bob")
    assert _ids(fresh) == {1, 2}

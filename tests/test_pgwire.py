"""PostgreSQL wire-protocol server, driven by a raw-socket client that
speaks the documented v3 frontend protocol (no driver library needed).

Reference: driftdb-server/src/protocol/{codec,messages}.rs encode these
same backend messages; executor.rs:351-460 routes statements the same
way this server routes them into DriftSession.sql.
"""

from __future__ import annotations

import re
import socket
import struct

import pytest

from driftdb_spark.server import PgWireServer
from driftdb_spark.sql_frontend import DriftSession


class Client:
    def __init__(self, host, port):
        self.sock = socket.create_connection((host, port), timeout=30)

    def close(self):
        self.sock.close()

    def _recv_exact(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            assert chunk, "server closed early"
            buf += chunk
        return buf

    def startup(self):
        params = b"user\x00tester\x00database\x00drift\x00\x00"
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        msgs = self.read_until_ready()
        assert ("R", struct.pack("!I", 0)) in [(t, p[:4]) for t, p in msgs]
        return msgs

    def ssl_probe(self):
        payload = struct.pack("!I", 80877103)
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        return self._recv_exact(1)

    def read_msg(self):
        head = self._recv_exact(5)
        (length,) = struct.unpack("!I", head[1:])
        return head[:1].decode(), self._recv_exact(length - 4)

    def read_until_ready(self):
        msgs = []
        while True:
            t, p = self.read_msg()
            msgs.append((t, p))
            if t == "Z":
                return msgs

    def query(self, sql):
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        msgs = self.read_until_ready()
        cols, rows, tag, err = [], [], None, None
        for t, p in msgs:
            if t == "T":
                (n,) = struct.unpack("!H", p[:2])
                off = 2
                for _ in range(n):
                    end = p.index(b"\x00", off)
                    cols.append(p[off:end].decode())
                    off = end + 1 + 18  # fixed-size field descriptor
            elif t == "D":
                (n,) = struct.unpack("!H", p[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", p[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(p[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif t == "C":
                tag = p.rstrip(b"\x00").decode()
            elif t == "E":
                err = p
        return cols, rows, tag, err


@pytest.fixture
def server(spark, tmp_path):
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(sess).start()
    yield srv
    srv.stop()


def test_wire_protocol_end_to_end(server):
    host, port = server.address
    # SSLRequest is refused with 'N', then plaintext startup succeeds
    c = Client(host, port)
    assert c.ssl_probe() == b"N"
    c.startup()

    _c, _r, tag, err = c.query(
        "CREATE TABLE items (iid INT PRIMARY KEY, name STRING, qty INT)"
    )
    assert err is None
    _c, _r, tag, err = c.query(
        "INSERT INTO items VALUES (1, 'bolt', 5), (2, NULL, 9)"
    )
    assert err is None and tag == "INSERT 0 2"

    cols, rows, tag, err = c.query("SELECT iid, name, qty FROM items ORDER BY iid")
    assert err is None and tag == "SELECT 2"
    assert cols == ["iid", "name", "qty"]
    assert rows == [["1", "bolt", "5"], ["2", None, "9"]]

    # temporal clause over the wire
    cols, rows, tag, _ = c.query(
        "SELECT COUNT(*) AS n FROM items FOR SYSTEM_TIME AS OF @SEQ:1"
    )
    assert rows == [["1"]]

    # error recovers: bad SQL -> ErrorResponse, connection stays usable
    _c, _r, _t, err = c.query("SELECT definitely_broken FROM nowhere")
    assert err is not None
    # Spark's own SQLSTATE reaches the ErrorResponse code field
    _c, _r, _t, err = c.query("SELEC 1")
    assert err is not None and b"C42601\x00" in err
    cols, rows, tag, err = c.query("SELECT 1 AS one")
    assert err is None and rows == [["1"]]
    c.close()


def test_wire_transactions_and_second_connection(server):
    host, port = server.address
    c = Client(host, port)
    c.startup()
    c.query("CREATE TABLE t (id INT PRIMARY KEY)")
    _c, _r, tag, err = c.query("BEGIN")
    assert err is None and tag == "BEGIN"
    c.query("INSERT INTO t VALUES (1)")
    _c, _r, tag, _ = c.query("ROLLBACK")
    assert tag == "ROLLBACK"
    _c, rows, _t, _e = c.query("SELECT COUNT(*) AS n FROM t")
    assert rows == [["0"]]
    c.close()
    # fresh connection against the same server still works
    c2 = Client(host, port)
    c2.startup()
    _c, rows, _t, err = c2.query("SELECT COUNT(*) AS n FROM t")
    assert err is None and rows == [["0"]]
    c2.close()


def test_connections_have_isolated_transactions(server):
    """Backend-per-connection: one connection's open transaction (and its
    read-your-writes view) is invisible to another; COMMIT publishes."""
    host, port = server.address
    a = Client(host, port)
    a.startup()
    a.query("CREATE TABLE iso (id INT PRIMARY KEY)")
    b = Client(host, port)
    b.startup()
    a.query("BEGIN")
    a.query("INSERT INTO iso VALUES (1)")
    _c, rows_a, _t, _e = a.query("SELECT COUNT(*) AS n FROM iso")
    _c, rows_b, _t, _e = b.query("SELECT COUNT(*) AS n FROM iso")
    assert rows_a == [["1"]] and rows_b == [["0"]]  # buffered view is local
    a.query("COMMIT")
    _c, rows_b2, _t, _e = b.query("SELECT COUNT(*) AS n FROM iso")
    assert rows_b2 == [["1"]]
    a.close(); b.close()


# -- round-5 surface: extended protocol, auth, txn status, compat shim --------


class ExtClient(Client):
    """Adds startup-with-password and extended-protocol messages."""

    def send_msg(self, t, payload):
        self.sock.sendall(t + struct.pack("!I", len(payload) + 4) + payload)

    def startup_auth(self, user, password, md5=True):
        import hashlib

        params = f"user\x00{user}\x00database\x00drift\x00\x00".encode()
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        t, p = self.read_msg()
        assert t == "R"
        (code,) = struct.unpack("!I", p[:4])
        if code == 5:  # MD5: md5(md5(pw+user) + salt)
            salt = p[4:8]
            inner = hashlib.md5((password + user).encode()).hexdigest()
            resp = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
        elif code == 3:  # cleartext
            resp = password
        else:
            raise AssertionError(f"unexpected auth code {code}")
        self.send_msg(b"p", resp.encode() + b"\x00")
        return self.read_until_ready()

    def parse(self, name, query):
        self.send_msg(b"P", query.encode() + b"\x00" if False else b"")
        raise NotImplementedError

    def ext_query(self, query, params=(), name="", oids=()):
        """Parse/Bind/Describe(portal)/Execute/Sync — the libpq
        PQexecParams flow. ``oids`` declares parameter types in Parse
        (0 / omitted = unspecified, server infers from shape)."""
        msgs = self.ext_messages(query, params, name, oids)
        cols, rows, tag, err = [], [], None, None
        for t, p in msgs:
            if t == "T":
                (n,) = struct.unpack("!H", p[:2])
                off = 2
                cols = []
                for _ in range(n):
                    end = p.index(b"\x00", off)
                    cols.append(p[off:end].decode())
                    off = end + 1 + 18
            elif t == "D":
                (n,) = struct.unpack("!H", p[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", p[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(p[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif t == "C":
                tag = p.rstrip(b"\x00").decode()
            elif t == "E":
                err = p
        return cols, rows, tag, err

    def ext_messages(self, query, params=(), name="", oids=()):
        """The raw (type, payload) replies to one ext_query flow."""
        body = name.encode() + b"\x00" + query.encode() + b"\x00"
        body += struct.pack(f"!H{len(oids)}I", len(oids), *oids)
        self.send_msg(b"P", body)
        bind = b"\x00" + name.encode() + b"\x00" + struct.pack("!H", 0)
        bind += struct.pack("!H", len(params))
        for p in params:
            if p is None:
                bind += struct.pack("!i", -1)
            else:
                b = str(p).encode()
                bind += struct.pack("!i", len(b)) + b
        bind += struct.pack("!H", 0)  # result formats: default text
        self.send_msg(b"B", bind)
        self.send_msg(b"D", b"P\x00")
        self.send_msg(b"E", b"\x00" + struct.pack("!i", 0))
        self.send_msg(b"S", b"")
        return self.read_until_ready()

    def txn_status(self):
        """Send an empty Sync and return the ReadyForQuery status byte."""
        self.send_msg(b"S", b"")
        msgs = self.read_until_ready()
        return msgs[-1][1].decode()


def test_extended_protocol_prepared_statements(server):
    """Parse/Bind/Describe/Execute/Sync round-trips with $N parameters
    (reference session/extended_protocol.rs, executor.rs:603-765)."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    c.query("CREATE TABLE pts (id INT PRIMARY KEY, label STRING, score INT)")
    # parameterized DML through the extended path
    _c, _r, tag, err = c.ext_query(
        "INSERT INTO pts VALUES ($1, $2, $3)", [1, "alpha", 10]
    )
    assert err is None and tag == "INSERT 0 1"
    c.ext_query("INSERT INTO pts VALUES ($1, $2, $3)", [2, "beta", 20])
    # parameterized SELECT: $1 binds, RowDescription + rows stream back
    cols, rows, tag, err = c.ext_query(
        "SELECT label, score FROM pts WHERE id = $1", [2]
    )
    assert err is None and tag == "SELECT 1"
    assert cols == ["label", "score"] and rows == [["beta", "20"]]
    # parameter repetition and no-param statements both work
    cols, rows, _t, err = c.ext_query(
        "SELECT COUNT(*) AS n FROM pts WHERE score >= $1 AND score <= $1 + 15", [10]
    )
    assert err is None and rows == [["2"]]
    cols, rows, _t, err = c.ext_query("SELECT 41 + 1 AS v")
    assert err is None and rows == [["42"]]
    # Describe(portal) answers a read with its RowDescription, ahead of
    # Execute: a SHOW with a quoted argument and a WITH … SELECT
    for q in ("SHOW TABLES LIKE 'pt*'", "WITH w AS (SELECT 1 AS v) SELECT v FROM w"):
        types = [t for t, _p in c.ext_messages(q)]
        assert types[:3] == ["1", "2", "T"] and "E" not in types, (q, types)
    # a $N inside a literal is text, not a marker
    cols, rows, _t, err = c.ext_query("SELECT '$1 off' AS a, $1 AS b", [5])
    assert err is None and rows == [["$1 off", "5"]]
    # error inside extended flow: ErrorResponse, then Sync recovers
    _c, _r, _t, err = c.ext_query("SELECT broken FROM nowhere")
    assert err is not None
    _c, rows, _t, err = c.ext_query("SELECT 7 AS v")
    assert err is None and rows == [["7"]]
    c.close()


def test_ready_for_query_reports_txn_status(server):
    """'I' idle / 'T' in transaction / 'E' aborted (PostgreSQL drivers
    key rollback-on-error logic off this byte)."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    assert c.txn_status() == "I"
    c.query("CREATE TABLE ts (id INT PRIMARY KEY)")
    c.query("BEGIN")
    assert c.txn_status() == "T"
    c.query("INSERT INTO ts VALUES (NOT_A_VALUE)")  # fails -> aborted
    assert c.txn_status() == "E"
    c.query("ROLLBACK")
    assert c.txn_status() == "I"
    c.close()


def test_compat_shim_show_and_set(server):
    """psql startup chatter: SHOW answers locally, benign SET completes
    (reference executor.rs:351-460)."""
    host, port = server.address
    c = Client(host, port)
    c.startup()
    cols, rows, tag, err = c.query("SHOW server_version")
    assert err is None and tag == "SHOW" and rows[0][0].startswith("16.0")
    _c, _r, tag, err = c.query("SET extra_float_digits = 3")
    assert err is None and tag == "SET"
    c.close()


def test_password_auth_md5_and_failure(spark, tmp_path):
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(
        sess, users={"admin": "sekret", "bob": "hunter2"}, superusers={"admin"}
    ).start()
    try:
        host, port = srv.address
        good = ExtClient(host, port)
        msgs = good.startup_auth("admin", "sekret")
        assert msgs[-1][0] == "Z"
        _c, rows, _t, err = good.query("SELECT 1 AS ok")
        assert err is None and rows == [["1"]]
        good.close()
        # wrong password -> ErrorResponse 28P01, no ReadyForQuery
        bad = ExtClient(host, port)
        with pytest.raises(AssertionError):
            bad.startup_auth("admin", "wrong")
        bad.close()
    finally:
        srv.stop()


def test_auth_sets_rls_context_and_gates_set_authorization(spark, tmp_path):
    """An authenticated non-superuser connection runs AS that user (RLS
    applies) and may not SET SESSION AUTHORIZATION; a superuser may."""
    sess = DriftSession(spark, str(tmp_path))
    sess.sql("CREATE TABLE docs (id int PRIMARY KEY, owner string)")
    sess.sql("INSERT INTO docs VALUES (1, 'alice'), (2, 'bob')")
    sess.sql("ALTER TABLE docs ENABLE ROW LEVEL SECURITY")
    sess.sql("CREATE POLICY own ON docs USING (owner = current_user)")
    srv = PgWireServer(
        sess,
        users={"alice": "pw_a", "root": "pw_r"},
        superusers={"root"},
        auth_method="cleartext",
    ).start()
    try:
        host, port = srv.address
        a = ExtClient(host, port)
        a.startup_auth("alice", "pw_a", md5=False)
        _c, rows, _t, err = a.query("SELECT id FROM docs ORDER BY id")
        assert err is None and rows == [["1"]]  # only alice's row
        _c, _r, _t, err = a.query("SET SESSION AUTHORIZATION bob")
        assert err is not None  # non-superuser may not switch identity
        a.close()
        r = ExtClient(host, port)
        r.startup_auth("root", "pw_r", md5=False)
        _c, rows, _t, err = r.query("SELECT id FROM docs ORDER BY id")
        assert err is None and [v[0] for v in rows] == ["1", "2"]  # bypass
        _c, _r, tag, err = r.query("SET SESSION AUTHORIZATION bob")
        assert err is None
        _c, rows, _t, _e = r.query("SELECT id FROM docs ORDER BY id")
        assert rows == [["2"]]  # now bob's view
        _c, _r, _t, err = r.query("RESET SESSION AUTHORIZATION")
        assert err is None
        _c, rows, _t, _e = r.query("SELECT id FROM docs ORDER BY id")
        assert [v[0] for v in rows] == ["1", "2"]  # back to root, not owner
        r.close()
    finally:
        srv.stop()


def test_multi_partition_select_streams_all_rows(server):
    """Rows stream per partition (toLocalIterator), not via collect():
    a result spanning many partitions arrives complete and ordered."""
    host, port = server.address
    c = Client(host, port)
    c.startup()
    c.query("CREATE TABLE big (id INT PRIMARY KEY)")
    vals = ", ".join(f"({i})" for i in range(500))
    c.query(f"INSERT INTO big VALUES {vals}")
    cols, rows, tag, err = c.query("SELECT id FROM big ORDER BY id")
    assert err is None and tag == "SELECT 500"
    assert [int(r[0]) for r in rows] == list(range(500))
    c.close()


def test_oversized_frame_rejected(server):
    host, port = server.address
    c = Client(host, port)
    c.startup()
    # a 'Q' frame claiming 1 GiB is refused without allocation
    c.sock.sendall(b"Q" + struct.pack("!I", 1 << 30))
    t, p = c.read_msg()
    assert t == "E"
    c.close()


def test_copy_in_and_out(server):
    """COPY t FROM STDIN / COPY ... TO STDOUT — the reference declares the
    CopyIn/CopyOut protocol messages but never implements them
    (protocol/messages.rs:111-117); executed for real here."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    c.query("CREATE TABLE stock (id INT PRIMARY KEY, name STRING, qty INT)")
    # -- COPY IN (text format: tab-separated, \N = NULL) --
    payload = "COPY stock FROM STDIN".encode() + b"\x00"
    c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    t, p = c.read_msg()
    assert t == "G"  # CopyInResponse
    data = "1\tbolt\t5\n2\t\\N\t9\n3\twasher\t\\N\n".encode()
    c.send_msg(b"d", data)
    c.send_msg(b"c", b"")  # CopyDone
    msgs = c.read_until_ready()
    tags = [p.rstrip(b"\x00").decode() for t, p in msgs if t == "C"]
    assert tags == ["COPY 3"]
    cols, rows, _t, err = c.query("SELECT id, name, qty FROM stock ORDER BY id")
    assert err is None
    assert rows == [["1", "bolt", "5"], ["2", None, "9"], ["3", "washer", None]]
    # COPY goes through the session insert path: PK gate applies
    payload = "COPY stock FROM STDIN".encode() + b"\x00"
    c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    t, _ = c.read_msg()
    assert t == "G"
    c.send_msg(b"d", b"1\tdup\t0\n")
    c.send_msg(b"c", b"")
    msgs = c.read_until_ready()
    assert any(t == "E" for t, _p in msgs)  # duplicate PK rejected

    def copy_in(line):
        payload = "COPY stock FROM STDIN".encode() + b"\x00"
        c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        assert c.read_msg()[0] == "G"
        c.send_msg(b"d", line)
        c.send_msg(b"c", b"")
        return c.read_until_ready()

    # COPY inside BEGIN is one more buffered statement: ROLLBACK drops it,
    # and an aborted transaction refuses it with 25P02
    c.query("BEGIN")
    msgs = copy_in(b"7\tcog\t1\n")
    assert [p.rstrip(b"\x00").decode() for t, p in msgs if t == "C"] == ["COPY 1"]
    c.query("ROLLBACK")
    _c, rows, _t, err = c.query("SELECT COUNT(*) AS n FROM stock")
    assert err is None and rows == [["3"]]
    c.query("BEGIN")
    assert c.query("SELECT nope FROM stock")[3] is not None
    errs = [p for t, p in copy_in(b"8\trod\t2\n") if t == "E"]
    assert errs and b"C25P02\x00" in errs[0]
    c.query("ROLLBACK")
    # -- COPY OUT --
    payload = "COPY (SELECT id, name FROM stock ORDER BY id) TO STDOUT".encode() + b"\x00"
    c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    out_rows, tag = [], None
    while True:
        t, p = c.read_msg()
        if t == "d":
            out_rows.append(p.decode().rstrip("\n"))
        elif t == "C":
            tag = p.rstrip(b"\x00").decode()
        elif t == "Z":
            break
    assert tag == "COPY 3"
    assert out_rows == ["1\tbolt", "2\t\\N", "3\twasher"]
    c.close()


def _psql(host, port, sql, user="tester", password=None, extra=None):
    import os as _os
    import subprocess

    env = dict(_os.environ)
    if password is not None:
        env["PGPASSWORD"] = password
    cmd = [
        "psql",
        f"host={host} port={port} user={user} dbname=drift sslmode=disable",
        "-X",
        "-v",
        "ON_ERROR_STOP=1",
        "-A",
        "-t",
    ] + (extra or []) + ["-c", sql]
    return subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=120)


def test_psql_end_to_end(server):
    """A stock psql binary connects, runs DDL/DML/SELECT, and quits
    cleanly — the client-compat acceptance test for the wire server."""
    host, port = server.address
    r = _psql(host, port, "SELECT 41 + 1 AS v")
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "42"
    r = _psql(host, port, "CREATE TABLE pt (id INT PRIMARY KEY, v STRING)")
    assert r.returncode == 0, r.stderr
    r = _psql(host, port, "INSERT INTO pt VALUES (1, 'x'), (2, 'y')")
    assert r.returncode == 0, r.stderr
    r = _psql(host, port, "SELECT v FROM pt ORDER BY id")
    assert r.returncode == 0 and r.stdout.split() == ["x", "y"]
    # psql startup chatter (SHOW/SET) and multi-statement scripts work
    r = _psql(host, port, "SHOW server_version")
    assert r.returncode == 0 and "16.0" in r.stdout


def test_psql_copy_roundtrip(server, tmp_path):
    r"""psql \copy drives the COPY protocol both directions."""
    host, port = server.address
    r = _psql(host, port, "CREATE TABLE ct (id INT PRIMARY KEY, name STRING)")
    assert r.returncode == 0, r.stderr
    src = tmp_path / "in.csv"
    src.write_text("1,ann\n2,bob\n")
    r = _psql(
        host, port,
        f"\\copy ct FROM '{src}' WITH (FORMAT csv)",
    )
    assert r.returncode == 0, r.stderr
    out = tmp_path / "out.txt"
    r = _psql(host, port, f"\\copy ct TO '{out}'")
    assert r.returncode == 0, r.stderr
    assert sorted(out.read_text().splitlines()) == ["1\tann", "2\tbob"]


def test_psql_password_auth(spark, tmp_path):
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(sess, users={"admin": "sekret"}, superusers={"admin"}).start()
    try:
        host, port = srv.address
        r = _psql(host, port, "SELECT 1 AS ok", user="admin", password="sekret")
        assert r.returncode == 0 and r.stdout.strip() == "1", r.stderr
        r = _psql(host, port, "SELECT 1", user="admin", password="wrong")
        assert r.returncode != 0
    finally:
        srv.stop()


def test_indirect_set_authorization_cannot_escalate(spark, tmp_path):
    """PREPARE/EXECUTE (and any other indirect arrival path) cannot
    launder SET/RESET SESSION AUTHORIZATION past the wire gate: the
    session dispatcher itself refuses while a restricted authenticated
    identity is active (42501)."""
    sess = DriftSession(spark, str(tmp_path))
    sess.sql("CREATE TABLE docs (id int PRIMARY KEY, owner string)")
    sess.sql("INSERT INTO docs VALUES (1, 'alice'), (2, 'bob')")
    sess.sql("ALTER TABLE docs ENABLE ROW LEVEL SECURITY")
    sess.sql("CREATE POLICY own ON docs USING (owner = current_user)")
    srv = PgWireServer(
        sess,
        users={"alice": "pw_a"},
        superusers=set(),
        auth_method="cleartext",
    ).start()
    try:
        host, port = srv.address
        a = ExtClient(host, port)
        a.startup_auth("alice", "pw_a", md5=False)
        # the round-4 escalation: RESET via a prepared statement would
        # re-enter session.sql below the wire regex gate
        _c, _r, _t, err = a.query("PREPARE esc AS RESET SESSION AUTHORIZATION")
        assert err is None  # PREPARE itself is allowed (defines, not runs)
        _c, _r, _t, err = a.query("EXECUTE esc")
        assert err is not None and b"42501" in err
        _c, _r, _t, err = a.query("PREPARE esc2 AS SET SESSION AUTHORIZATION bob")
        assert err is None
        _c, _r, _t, err = a.query("EXECUTE esc2")
        assert err is not None and b"42501" in err
        # identity unchanged: still only alice's row
        _c, rows, _t, err = a.query("SELECT id FROM docs ORDER BY id")
        assert err is None and rows == [["1"]]
        a.close()
    finally:
        srv.stop()


def test_set_role_and_guc_authorization_variants_rejected(spark, tmp_path):
    """SET ROLE and the GUC spelling of session_authorization must NOT
    no-op-complete (a client that believes it dropped privileges would
    keep running as the authenticated user): 0A000, identity unchanged."""
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(sess).start()
    try:
        host, port = srv.address
        c = Client(host, port)
        c.startup()
        for stmt in (
            "SET ROLE readonly",
            "SET role readonly",
            "RESET ROLE",
            "SET SESSION_AUTHORIZATION TO bob",
            "SET session_authorization = 'bob'",
            "RESET session_authorization",
            "SET LOCAL ROLE readonly",
        ):
            _c, _r, _t, err = c.query(stmt)
            assert err is not None and b"0A000" in err, stmt
        # benign GUCs still shim through
        _c, _r, tag, err = c.query("SET application_name = 'test'")
        assert err is None and tag == "SET"
        c.close()
    finally:
        srv.stop()


def test_declared_param_oids_honored(server):
    """A text-family declared OID keeps the value verbatim ('0123' stays
    the string '0123', never the integer 123); numeric OIDs convert; OID
    0 still shape-infers (reference: PostgreSQL types bind by declared
    type, not by shape)."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    c.query("CREATE TABLE codes (code STRING PRIMARY KEY, n INT)")
    # OID 1043 = varchar: the leading-zero code must round-trip exactly
    _c, _r, tag, err = c.ext_query(
        "INSERT INTO codes VALUES ($1, $2)", params=("0123", "7"),
        oids=(1043, 23),
    )
    assert err is None, err
    cols, rows, _t, err = c.ext_query(
        "SELECT code, n FROM codes WHERE code = $1",
        params=("0123",), oids=(25,),
    )
    assert err is None and rows == [["0123", "7"]]
    # bool + float OIDs convert; '1e3'-shaped id under text OID stays text
    c.query("CREATE TABLE typed (id STRING PRIMARY KEY, f DOUBLE, b BOOLEAN)")
    _c, _r, _t, err = c.ext_query(
        "INSERT INTO typed VALUES ($1, $2, $3)",
        params=("1e3", "2.5", "t"), oids=(25, 701, 16),
    )
    assert err is None, err
    _c, rows, _t, err = c.ext_query(
        "SELECT id, f, b FROM typed WHERE id = $1", params=("1e3",), oids=(1043,)
    )
    assert err is None and rows == [["1e3", "2.5", "True"]]
    c.close()


def test_cancel_request_stops_running_query(server):
    """A second connection's CancelRequest with the (pid, secret) from
    BackendKeyData cancels the victim's running statement via Spark
    job-group cancellation: the victim gets ErrorResponse 57014, then
    ReadyForQuery, and the connection stays usable (reference
    query_cancellation.rs:12-30; psql Ctrl-C flow)."""
    import threading
    import time

    host, port = server.address
    c = Client(host, port)
    msgs = c.startup()
    key = [p for t, p in msgs if t == "K"]
    assert key, "BackendKeyData missing"
    pid, secret = struct.unpack("!II", key[0][:8])
    assert (pid, secret) != (1, 0)  # real credentials, not placeholders

    # a query that would run for minutes uncancelled
    slow = (
        "SELECT COUNT(*) AS n FROM (SELECT sha2(CAST(id AS STRING), 256) h "
        "FROM range(2000000000)) WHERE h = ''"
    )
    payload = slow.encode() + b"\x00"
    c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)

    def fire_cancel():
        time.sleep(1.5)  # let the job start
        s = socket.create_connection((host, port), timeout=10)
        body = struct.pack("!III", 80877102, pid, secret)
        s.sendall(struct.pack("!I", len(body) + 4) + body)
        s.close()

    t = threading.Thread(target=fire_cancel)
    t.start()
    start = time.monotonic()
    msgs = c.read_until_ready()  # Client sock timeout (30 s) bounds this
    elapsed = time.monotonic() - start
    t.join()
    errs = [p for typ, p in msgs if typ == "E"]
    assert errs and b"57014" in errs[0], msgs
    assert elapsed < 25, f"cancellation took {elapsed:.1f}s"
    # the connection recovers and runs the next statement normally
    _c, rows, _t, err = c.query("SELECT 1 AS ok")
    assert err is None and rows == [["1"]]
    c.close()


def test_cancel_request_wrong_secret_ignored(server):
    """A CancelRequest with a bad secret is silently ignored — the
    victim's query completes normally."""
    host, port = server.address
    c = Client(host, port)
    msgs = c.startup()
    pid, secret = struct.unpack("!II", [p for t, p in msgs if t == "K"][0][:8])
    s = socket.create_connection((host, port), timeout=10)
    body = struct.pack("!III", 80877102, pid, secret ^ 0xDEADBEEF)
    s.sendall(struct.pack("!I", len(body) + 4) + body)
    s.close()
    _c, rows, _t, err = c.query("SELECT COUNT(*) AS n FROM range(1000000)")
    assert err is None and rows == [["1000000"]]
    c.close()


@pytest.fixture(scope="module")
def tls_cert(tmp_path_factory):
    """Self-signed cert + key via the openssl CLI (skip if unavailable)."""
    import shutil as _shutil
    import subprocess

    if _shutil.which("openssl") is None:
        pytest.skip("openssl not available")
    d = tmp_path_factory.mktemp("tls")
    cert, key = d / "server.crt", d / "server.key"
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", str(key), "-out", str(cert), "-days", "1",
            "-subj", "/CN=localhost",
        ],
        check=True,
        capture_output=True,
    )
    return str(cert), str(key)


class TlsClient(ExtClient):
    """Sends SSLRequest, expects 'S', then wraps the socket in TLS."""

    def tls_handshake(self):
        import ssl as _ssl

        payload = struct.pack("!I", 80877103)
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        assert self._recv_exact(1) == b"S"
        ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_CLIENT)
        ctx.check_hostname = False
        ctx.verify_mode = _ssl.CERT_NONE  # self-signed test cert
        self.sock = ctx.wrap_socket(self.sock)


def test_tls_connection_end_to_end(spark, tmp_path, tls_cert):
    """With a TLS context configured, SSLRequest is accepted with 'S',
    the handshake completes, and queries run encrypted (reference
    tls.rs wired via main.rs:131-139); plaintext still works when the
    client skips SSLRequest."""
    from driftdb_spark.server import tls_context_from_files

    cert, key = tls_cert
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(
        sess, ssl_context=tls_context_from_files(cert, key)
    ).start()
    try:
        host, port = srv.address
        c = TlsClient(host, port)
        c.tls_handshake()
        c.startup()
        c.query("CREATE TABLE sec (id INT PRIMARY KEY, v STRING)")
        _c, _r, tag, err = c.query("INSERT INTO sec VALUES (1, 'enc')")
        assert err is None and tag == "INSERT 0 1"
        _c, rows, _t, err = c.query("SELECT v FROM sec")
        assert err is None and rows == [["enc"]]
        c.close()
        # plaintext client (no SSLRequest) still works
        p = Client(host, port)
        p.startup()
        _c, rows, _t, err = p.query("SELECT COUNT(*) AS n FROM sec")
        assert err is None and rows == [["1"]]
        p.close()
    finally:
        srv.stop()


def test_tls_unconfigured_still_refuses(server):
    """Without a TLS context, SSLRequest is still answered 'N'."""
    host, port = server.address
    c = Client(host, port)
    assert c.ssl_probe() == b"N"
    c.startup()
    _c, rows, _t, err = c.query("SELECT 1 AS ok")
    assert err is None and rows == [["1"]]
    c.close()


def test_portal_suspension_paged_execute(server):
    """Execute with max_rows pages the portal: each Execute emits that
    many DataRows then PortalSuspended ('s'); the final page ends with
    CommandComplete — the JDBC setFetchSize flow."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    c.query("CREATE TABLE pg (id INT PRIMARY KEY)")
    c.query("INSERT INTO pg VALUES " + ", ".join(f"({i})" for i in range(10)))
    # Parse + Bind one portal, then page through it 4 rows at a time
    body = b"\x00" + b"SELECT id FROM pg ORDER BY id\x00" + struct.pack("!H", 0)
    c.send_msg(b"P", body)
    bind = b"pp\x00" + b"\x00" + struct.pack("!HHH", 0, 0, 0)
    c.send_msg(b"B", bind)
    pages = []
    for _ in range(3):
        c.send_msg(b"E", b"pp\x00" + struct.pack("!i", 4))
        c.send_msg(b"H", b"")  # Flush (everything is sent eagerly anyway)
        rows, ender = [], None
        while ender is None:
            t, p = c.read_msg()
            if t == "D":
                (n,) = struct.unpack("!H", p[:2])
                (ln,) = struct.unpack("!i", p[2:6])
                rows.append(p[6 : 6 + ln].decode())
            elif t == "s":
                ender = "suspended"
            elif t == "C":
                ender = p.rstrip(b"\x00").decode()
            elif t in ("1", "2", "T"):
                continue
            elif t == "E":
                raise AssertionError(p)
        pages.append((rows, ender))
    c.send_msg(b"S", b"")
    c.read_until_ready()
    assert pages[0] == (["0", "1", "2", "3"], "suspended")
    assert pages[1] == (["4", "5", "6", "7"], "suspended")
    assert pages[2] == (["8", "9"], "SELECT 10")
    # max_rows=0 still streams everything in one go
    _c, rows, tag, err = c.ext_query("SELECT COUNT(*) AS n FROM pg")
    assert err is None and rows == [["10"]]
    c.close()


def test_wire_cursor_fetch(server):
    """DECLARE/FETCH/CLOSE work over the simple-query protocol."""
    host, port = server.address
    c = Client(host, port)
    c.startup()
    c.query("CREATE TABLE wc (id INT PRIMARY KEY)")
    c.query("INSERT INTO wc VALUES (1), (2), (3), (4)")
    _c, _r, tag, err = c.query("DECLARE k CURSOR FOR SELECT id FROM wc ORDER BY id")
    assert err is None and tag == "DECLARE CURSOR"
    _c, rows, _t, err = c.query("FETCH 2 FROM k")
    assert err is None and [r[0] for r in rows] == ["1", "2"]
    _c, rows, _t, err = c.query("FETCH ALL FROM k")
    assert err is None and [r[0] for r in rows] == ["3", "4"]
    _c, _r, tag, err = c.query("CLOSE k")
    assert err is None and tag == "CLOSE CURSOR"
    c.close()


def test_binary_format_bind_parameters(server):
    """Binary-format (code 1) Bind parameters — what JDBC sends for
    numeric types — decode by declared OID: int8/int4/float8/bool wire
    binaries round-trip; unsupported binary OIDs error 0A000."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    c.query("CREATE TABLE bt (id BIGINT PRIMARY KEY, f DOUBLE, b BOOLEAN)")

    def bind_exec(query, oids, raws):
        body = b"\x00" + query.encode() + b"\x00"
        body += struct.pack(f"!H{len(oids)}I", len(oids), *oids)
        c.send_msg(b"P", body)
        bind = b"\x00" + b"\x00"  # unnamed portal, unnamed stmt
        bind += struct.pack(f"!H{len(raws)}H", len(raws), *([1] * len(raws)))
        bind += struct.pack("!H", len(raws))
        for r in raws:
            bind += struct.pack("!i", len(r)) + r
        bind += struct.pack("!H", 0)
        c.send_msg(b"B", bind)
        c.send_msg(b"E", b"\x00" + struct.pack("!i", 0))
        c.send_msg(b"S", b"")
        msgs = c.read_until_ready()
        rows, err = [], None
        for t, p in msgs:
            if t == "D":
                (n,) = struct.unpack("!H", p[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", p[off : off + 4])
                    off += 4
                    vals.append(None if ln == -1 else p[off : off + ln].decode())
                    off += max(ln, 0)
                rows.append(vals)
            elif t == "E":
                err = p
        return rows, err

    _r, err = bind_exec(
        "INSERT INTO bt VALUES ($1, $2, $3)",
        oids=(20, 701, 16),
        raws=[
            struct.pack("!q", 9007199254740993),  # > 2^53: text float would corrupt
            struct.pack("!d", 2.5),
            b"\x01",
        ],
    )
    assert err is None, err
    rows, err = bind_exec(
        "SELECT id, f, b FROM bt WHERE id = $1",
        oids=(20,),
        raws=[struct.pack("!q", 9007199254740993)],
    )
    assert err is None and rows == [["9007199254740993", "2.5", "True"]]
    # unsupported binary OID (numeric 1700) -> 0A000, connection survives
    _r, err = bind_exec(
        "SELECT $1 AS v", oids=(1700,), raws=[b"\x00\x01\x00\x00\x00\x00\x00\x01"]
    )
    assert err is not None and b"0A000" in err
    _c, rows, _t, err = c.query("SELECT COUNT(*) AS n FROM bt")
    assert err is None and rows == [["1"]]
    c.close()


def test_idle_cancel_does_not_poison_next_extended_statement(server):
    """A CancelRequest landing while the backend is idle must be dropped
    (PostgreSQL semantics) on the EXTENDED path too: the cancel poisons
    the current job group via cancelJobGroupAndFutureJobs, so without the
    idle-clear guard in Execute the next Parse/Bind/Execute dies 57014."""
    import time

    host, port = server.address
    c = ExtClient(host, port)
    msgs = c.startup()
    pid, secret = struct.unpack("!II", [p for t, p in msgs if t == "K"][0][:8])
    # idle cancel: no statement is running
    s = socket.create_connection((host, port), timeout=10)
    body = struct.pack("!III", 80877102, pid, secret)
    s.sendall(struct.pack("!I", len(body) + 4) + body)
    s.close()
    time.sleep(1.0)  # let the hammer thread poison the current group
    _c, rows, _t, err = c.ext_query("SELECT 41 + 1 AS v")
    assert err is None, err
    assert rows == [["42"]]
    # and the simple path right after stays clean too
    _c, rows, _t, err = c.query("SELECT 2 AS v")
    assert err is None and rows == [["2"]]
    c.close()


def test_bind_binary_result_format_rejected(server):
    """Bind asking for BINARY result columns gets a loud 0A000 (this
    server only emits text DataRows); text formats keep working and the
    connection survives."""
    host, port = server.address
    c = ExtClient(host, port)
    c.startup()
    # Parse, then Bind with result-format section = one code, binary
    c.send_msg(b"P", b"\x00" + b"SELECT 7 AS v\x00" + struct.pack("!H", 0))
    bind = b"\x00" + b"\x00" + struct.pack("!HH", 0, 0)  # no param fmts/vals
    bind += struct.pack("!HH", 1, 1)  # 1 result format code: binary
    c.send_msg(b"B", bind)
    c.send_msg(b"S", b"")
    msgs = c.read_until_ready()
    errs = [p for t, p in msgs if t == "E"]
    assert errs and b"0A000" in errs[0]
    # same statement with explicit text result format: fine
    _c, rows, _t, err = c.ext_query("SELECT 7 AS v")
    assert err is None and rows == [["7"]]
    c.close()


@pytest.mark.deepfuzz
def test_wire_concurrency_chaos(server):
    """8 concurrent clients mixing DML, prepared statements, cursors and
    CancelRequests (the wire-level statement-timeout mechanism): every
    client must see exactly ITS rows, cancels must kill only their own
    victim, and every connection must finish healthy — no cross-session
    portal/cursor/job-group bleed."""
    import threading
    import time

    host, port = server.address
    n_clients = 8
    n_rows = 12

    # DDL happens serially up front: the chaos phase exercises concurrent
    # DML/SELECT/cursor/cancel traffic, not concurrent catalog writes.
    setup = Client(host, port)
    setup.startup()
    for i in range(n_clients):
        _c, _r, _t, err = setup.query(
            f"CREATE TABLE chaos_{i} (id INT PRIMARY KEY, owner STRING)"
        )
        assert err is None, err
    setup.close()

    failures: list[str] = []

    def worker(i: int) -> None:
        try:
            c = ExtClient(host, port)
            msgs = c.startup()
            pid, secret = struct.unpack(
                "!II", [p for t, p in msgs if t == "K"][0][:8]
            )
            tbl = f"chaos_{i}"
            # 1) DML: this client's rows carry its own marker
            vals = ", ".join(f"({k}, 'w{i}')" for k in range(n_rows))
            _c, _r, tag, err = c.query(f"INSERT INTO {tbl} VALUES {vals}")
            assert err is None, (i, "insert", err)
            # 2) prepared statement with a parameter, several rounds
            for k in (0, 3, n_rows - 1):
                _c, rows, _t, err = c.ext_query(
                    f"SELECT owner FROM {tbl} WHERE id = $1", params=(k,)
                )
                assert err is None and rows == [[f"w{i}"]], (i, "ext", k, rows)
            # 3) cursor: page through own rows while others run
            _c, _r, tag, err = c.query(
                f"DECLARE cur_{i} CURSOR FOR SELECT id FROM {tbl} ORDER BY id"
            )
            assert err is None, (i, "declare", err)
            got = []
            while True:
                _c, rows, tag, err = c.query(f"FETCH 5 FROM cur_{i}")
                assert err is None, (i, "fetch", err)
                got += [int(r[0]) for r in rows]
                if len(rows) < 5:
                    break
            assert got == list(range(n_rows)), (i, "cursor rows", got)
            c.query(f"CLOSE cur_{i}")
            # 4) slow statement + self-cancel (client-side timeout flow)
            slow = (
                "SELECT COUNT(*) AS n FROM (SELECT sha2(CAST(id AS STRING), "
                "256) h FROM range(2000000000)) WHERE h = ''"
            )
            payload = slow.encode() + b"\x00"
            c.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)

            def fire():
                time.sleep(0.8)
                s = socket.create_connection((host, port), timeout=10)
                body = struct.pack("!III", 80877102, pid, secret)
                s.sendall(struct.pack("!I", len(body) + 4) + body)
                s.close()

            t = threading.Thread(target=fire)
            t.start()
            msgs = c.read_until_ready()
            t.join()
            errs = [p for typ, p in msgs if typ == "E"]
            assert errs and b"57014" in errs[0], (i, "cancel", msgs[:3])
            # 5) connection recovers; data unharmed and still only ours
            _c, rows, _t, err = c.ext_query(
                f"SELECT COUNT(*) AS n, COUNT(DISTINCT owner) AS o FROM {tbl}"
            )
            assert err is None and rows == [[str(n_rows), "1"]], (i, "post", rows)
            c.close()
        except Exception as exc:  # noqa: BLE001 - collected for the report
            failures.append(f"client {i}: {type(exc).__name__}: {exc}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not failures, failures

    # cross-check from a fresh connection: every table has exactly its
    # owner's rows (no write bleed between sessions)
    check = Client(host, port)
    check.startup()
    for i in range(n_clients):
        _c, rows, _t, err = check.query(
            f"SELECT COUNT(*) AS n, MIN(owner) AS lo, MAX(owner) AS hi "
            f"FROM chaos_{i}"
        )
        assert err is None and rows == [[str(n_rows), f"w{i}", f"w{i}"]], (i, rows)
    check.close()


def test_max_connections_cap(spark, tmp_path):
    """Connections beyond max_connections get PostgreSQL's 53300 after
    their startup packet (reference advanced_pool.rs bounded pool); a
    freed slot admits the next client, and rejections are recorded as
    security events."""
    sess = DriftSession(spark, str(tmp_path))
    srv = PgWireServer(sess, max_connections=2).start()
    try:
        host, port = srv.address
        a, b = Client(host, port), Client(host, port)
        assert a.startup()[-1][0] == "Z"
        assert b.startup()[-1][0] == "Z"
        raw = socket.create_connection((host, port), timeout=10)
        params = b"user\x00tester\x00database\x00drift\x00\x00"
        payload = struct.pack("!I", 196608) + params
        raw.sendall(struct.pack("!I", len(payload) + 4) + payload)
        head = raw.recv(5)
        assert head[:1] == b"E"  # ErrorResponse, then close — no Ready
        (ln,) = struct.unpack("!I", head[1:5])
        body = b""
        while len(body) < ln - 4:
            body += raw.recv(ln - 4 - len(body))
        assert b"53300" in body and b"too many clients" in body
        raw.close()
        a.close()
        # a freed slot admits the next connection (allow the server a
        # moment to run the finally that decrements the gauge)
        import time as _t

        d = None
        for _ in range(50):
            d = Client(host, port)
            try:
                if d.startup()[-1][0] == "Z":
                    break
            except Exception:
                pass
            d.close()
            d = None
            _t.sleep(0.05)
        assert d is not None
        _c, rows, _t2, err = d.query("SELECT 1 AS ok")
        assert err is None and rows == [["1"]]
        d.close()
        b.close()
        assert sess.security.counters()["connection_limit_exceeded"] >= 1
    finally:
        srv.stop()


def test_wire_survives_malformed_frame_fuzz(server):
    """Robustness fuzz: seeded-random garbage — junk startup packets,
    unknown message types, truncated frames, abrupt disconnects — must
    never take the server down or bleed into other connections. After
    every abuse round, a fresh well-formed client still gets answers."""
    import random as _random

    host, port = server.address
    rng = _random.Random(0xD81F7)

    def abuse(round_no: int) -> None:
        raw = socket.create_connection((host, port), timeout=10)
        try:
            mode = round_no % 4
            if mode == 0:  # garbage startup packet (sane length, junk body)
                body = bytes(rng.randrange(256) for _ in range(24))
                raw.sendall(struct.pack("!I", len(body) + 4) + body)
            elif mode == 1:  # valid startup, then unknown message types
                c = Client(host, port)
                c.sock.close()
                raw.sendall(struct.pack("!II", 8 + 9, 196608) + b"user\x00f\x00\x00")
                for _ in range(3):
                    t = bytes([rng.randrange(65, 123)])
                    body = bytes(rng.randrange(256) for _ in range(rng.randrange(20)))
                    raw.sendall(t + struct.pack("!I", len(body) + 4) + body)
            elif mode == 2:  # truncated frame then hang up mid-message
                raw.sendall(struct.pack("!II", 8, 196608)[:6])
            else:  # declared length lies (longer than sent), then disconnect
                raw.sendall(struct.pack("!I", 64) + b"\x00" * 10)
        except OSError:
            pass  # server closing first is a legal outcome
        finally:
            raw.close()

    for i in range(12):
        abuse(i)
        good = Client(host, port)
        good.startup()
        _c, rows, _t, err = good.query(f"SELECT {i} + 1 AS v")
        assert err is None and rows == [[str(i + 1)]]
        good.close()


def test_executor_side_encode_is_byte_identical(spark):
    """The multi-partition serving path encodes DataRows on the executors
    (_wire_encode_batches); it must frame byte-identically to the
    driver-side per-row path across every wire-renderable type —
    ints, floats, decimals, strings (incl. embedded NUL-free unicode),
    booleans, dates, timestamps, arrays, and NULLs."""
    import datetime
    from decimal import Decimal

    from driftdb_spark.server import (
        _Handler,
        _wire_encode_batches,
        _wire_text_encodable,
    )

    rows = [
        (1, 0.5, Decimal("12.34"), "plain", True,
         datetime.date(1995, 3, 4), datetime.datetime(2024, 5, 6, 7, 8, 9),
         [1.5, None, 2.25]),
        (None, None, None, None, None, None, None, None),
        (2, -1e18, Decimal("-0.01"), "unicode: åß∂ 測試", False,
         datetime.date(1970, 1, 1), datetime.datetime(2000, 1, 1, 0, 0, 0),
         []),
    ] * 7
    df = spark.createDataFrame(
        rows,
        "i long, f double, d decimal(10,2), s string, b boolean, "
        "dt date, ts timestamp, arr array<double>",
    ).repartition(4)
    assert _wire_text_encodable(df.schema)

    per_row = b"".join(
        _Handler._data_row_bytes(list(r)) for r in df.toLocalIterator()
    )
    enc = df.mapInArrow(_wire_encode_batches, "wire binary, n long")
    executor_side = b"".join(bytes(r[0]) for r in enc.toLocalIterator())
    assert sorted_frames(per_row) == sorted_frames(executor_side)

    # render-divergent types must stay on the per-row path: structs
    # (Row vs dict), binary (bytearray vs bytes), and timestamps nested
    # in arrays (top-level tz normalization can't reach element types)
    for q in (
        "SELECT named_struct('a', 1) AS st",
        "SELECT CAST('ab' AS BINARY) AS b",
        "SELECT array(CAST('2024-01-01' AS TIMESTAMP)) AS ts_arr",
        "SELECT array(array(CAST('ab' AS BINARY))) AS nested_b",
        "SELECT map('k', 1) AS m",
    ):
        assert not _wire_text_encodable(spark.sql(q).schema), q
    # ...while top-level timestamps and nested atomics stay eligible
    for q in (
        "SELECT CAST('2024-01-01' AS TIMESTAMP) AS ts",
        "SELECT array(array(1.5)) AS aa",
    ):
        assert _wire_text_encodable(spark.sql(q).schema), q


def sorted_frames(stream: bytes) -> list[bytes]:
    """Split a concatenated DataRow stream into frames and sort them —
    partition order is nondeterministic after repartition()."""
    frames = []
    i = 0
    while i < len(stream):
        (length,) = struct.unpack("!I", stream[i + 1 : i + 5])
        frames.append(stream[i : i + 1 + length])
        i += 1 + length
    return sorted(frames)


def test_tz_parity_when_session_tz_differs_from_os(spark):
    """r8 ADVICE (medium): the executor-side encode renders tz-aware
    timestamps in spark.sql.session.timeZone while Spark hands the
    driver Row path datetimes in the OS timezone. With the Row-path
    fixer (_tz_row_fixer) both paths must produce identical bytes even
    when the session tz is NOT the OS tz (here: America/New_York vs a
    UTC host) — and the rendered wall time must be the SESSION zone's,
    PostgreSQL's TimeZone-GUC semantics."""
    from driftdb_spark.server import _Handler, _wire_encode_batches

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(1, TIMESTAMP'2024-01-02 03:04:05'), "
            "(2, TIMESTAMP'2024-07-02 03:04:05.123456'), "  # DST flip
            "(3, CAST(NULL AS TIMESTAMP)) AS t(i, ts)"
        ).repartition(3)
        fix = _Handler._tz_row_fixer(df.schema, spark)
        assert fix is not None
        per_row = b"".join(
            _Handler._data_row_bytes(fix(list(r))) for r in df.toLocalIterator()
        )
        enc = df.mapInArrow(_wire_encode_batches, "wire binary, n long")
        executor_side = b"".join(bytes(r[0]) for r in enc.toLocalIterator())
        assert sorted_frames(per_row) == sorted_frames(executor_side)
        # session-zone wall time appears verbatim (literals are parsed
        # in the session zone, so they round-trip unchanged)
        assert b"2024-01-02 03:04:05" in per_row
        assert b"2024-07-02 03:04:05.123456" in per_row
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_wire_encodable_is_a_whitelist(spark):
    """r8 ADVICE (low): unknown/non-castable types must NOT slip through
    the executor-side gate — _wire_text_encodable whitelists proven
    types, so intervals (and anything future) stay on the per-row
    driver path instead of failing inside mapInArrow at runtime."""
    from driftdb_spark.server import _wire_text_encodable

    for q in (
        "SELECT INTERVAL '1' DAY AS iv",
        "SELECT INTERVAL '1-2' YEAR TO MONTH AS iv",
        "SELECT make_dt_interval(1, 2, 3, 4.5) AS iv",
    ):
        assert not _wire_text_encodable(spark.sql(q).schema), q


def test_explain_dml_wire_gate_and_no_mutation(server):
    """Round-9 hole: _READONLY_SQL classified any EXPLAIN as read-only, so
    a wire client's EXPLAIN INSERT executed the DML OUTSIDE exec_lock.
    Pins the fix at both layers: (a) the classifier routes EXPLAIN-of-DML
    and WITH-prefixed DML to the locked path, (b) over the wire an
    EXPLAIN INSERT returns a plan, acquires exec_lock, and publishes
    nothing."""
    from driftdb_spark.server import _is_readonly_sql

    # (a) classifier: read-only only when provably side-effect-free
    assert _is_readonly_sql("SELECT 1")
    assert _is_readonly_sql("EXPLAIN SELECT 1")
    assert _is_readonly_sql("EXPLAIN ANALYZE SELECT 1")
    assert _is_readonly_sql("WITH c AS (SELECT 1 AS x) SELECT * FROM c")
    assert not _is_readonly_sql("EXPLAIN INSERT INTO t VALUES (1)")
    assert not _is_readonly_sql("EXPLAIN UPDATE t SET v = 1")
    assert not _is_readonly_sql("explain delete from t")
    assert not _is_readonly_sql(
        "WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT x FROM c"
    )
    assert not _is_readonly_sql("INSERT INTO t VALUES (1)")

    # (b) wire path: EXPLAIN INSERT takes the lock and mutates nothing
    class CountingLock:
        def __init__(self, inner):
            self.inner, self.count = inner, 0

        def __enter__(self):
            self.count += 1
            return self.inner.__enter__()

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    host, port = server.address
    c = Client(host, port)
    c.ssl_probe()
    c.startup()
    _c, _r, _t, err = c.query("CREATE TABLE exp (id INT PRIMARY KEY, v INT)")
    assert err is None
    _c, _r, _t, err = c.query("INSERT INTO exp VALUES (1, 10)")
    assert err is None

    lock = CountingLock(server._tcp.exec_lock)
    server._tcp.exec_lock = lock
    try:
        cols, rows, _t, err = c.query("EXPLAIN INSERT INTO exp VALUES (2, 20)")
        assert err is None and len(rows) > 0
        assert any("InsertEvents" in r[0] for r in rows)
        locked_for_explain_dml = lock.count
        assert locked_for_explain_dml >= 1  # serialized with the writers

        _c, rows, _t, err = c.query("SELECT COUNT(*) AS n FROM exp")
        assert err is None and rows == [["1"]]  # nothing published

        # a plain EXPLAIN SELECT stays on the lock-free read path
        before = lock.count
        _c, rows, _t, err = c.query("EXPLAIN SELECT * FROM exp")
        assert err is None and len(rows) > 0
        assert lock.count == before  # per-connection isolation ⇒ lock-free
    finally:
        server._tcp.exec_lock = lock.inner
    c.close()


def test_parse_session_tz_offset_styles():
    """Spark accepts java.time ZoneId spellings ZoneInfo cannot parse
    ('GMT+8', 'UTC+08:00', '+08:00'); under those configs the Row-path tz
    normalization used to silently disable itself and diverge from the
    executor-side Arrow rendering. The fallback parser must resolve every
    offset style to the same fixed offset java.time would."""
    import datetime as dt

    from driftdb_spark.server import _parse_session_tz

    eight = dt.timezone(dt.timedelta(hours=8))
    for tz_id in ("GMT+8", "UTC+08:00", "UTC+8", "+08:00", "+0800", "+8", "UT+08"):
        zone = _parse_session_tz(tz_id)
        assert zone is not None, tz_id
        assert zone.utcoffset(None) == eight.utcoffset(None), tz_id

    minus = _parse_session_tz("-05:30")
    assert minus.utcoffset(None) == dt.timedelta(hours=-5, minutes=-30)

    # IANA names resolve via ZoneInfo (incl. POSIX-inverted Etc/GMT+8 = UTC-8)
    assert _parse_session_tz("America/New_York") is not None
    etc = _parse_session_tz("Etc/GMT+8")
    assert etc.utcoffset(dt.datetime(2026, 1, 1)) == dt.timedelta(hours=-8)

    # unresolvable -> None (normalization off, warning logged)
    assert _parse_session_tz("Not/AZone") is None


def test_cte_dml_executes_over_wire_under_exec_lock(server):
    """WITH…INSERT executes over the wire (r10: it was classified as a
    write but then died in Catalyst with an opaque RDD error), publishes
    its rows, and is serialized on exec_lock like every other write. Over
    the extended protocol, Describe runs no write: the row is published
    once, by Execute. Command tags carry the statement's verb past a WITH
    prefix and leading comments."""

    class CountingLock:
        def __init__(self, inner):
            self.inner, self.count = inner, 0

        def __enter__(self):
            self.count += 1
            return self.inner.__enter__()

        def __exit__(self, *a):
            return self.inner.__exit__(*a)

    host, port = server.address
    c = ExtClient(host, port)
    c.ssl_probe()
    c.startup()
    _c, _r, _t, err = c.query("CREATE TABLE wcd (id INT PRIMARY KEY, v INT)")
    assert err is None
    _c, _r, _t, err = c.query("INSERT INTO wcd VALUES (1, 10)")
    assert err is None

    lock = CountingLock(server._tcp.exec_lock)
    server._tcp.exec_lock = lock
    try:
        _c, _r, tag, err = c.query(
            "WITH src AS (SELECT id + 1 AS id, v + 1 AS v FROM wcd) "
            "INSERT INTO wcd SELECT * FROM src"
        )
        assert err is None and re.fullmatch(r"INSERT 0 \d+", tag)
        assert lock.count >= 1  # the write serialized on exec_lock
        _c, rows, _t, err = c.query("SELECT id, v FROM wcd ORDER BY id")
        assert err is None and rows == [["1", "10"], ["2", "11"]]
        _c, _r, tag, err = c.ext_query(
            "WITH s AS (SELECT max(id) + 1 AS id, 0 AS v FROM wcd) "
            "INSERT INTO wcd SELECT * FROM s"
        )
        assert err is None and re.fullmatch(r"INSERT 0 \d+", tag)
        _c, rows, _t, err = c.query("SELECT id FROM wcd ORDER BY id")
        assert err is None and rows == [["1"], ["2"], ["3"]]
    finally:
        server._tcp.exec_lock = lock.inner
    _c, _r, tag, err = c.query("/* c */ UPDATE wcd SET v = 0 WHERE id = 1")
    assert err is None and re.fullmatch(r"UPDATE \d+", tag)
    _c, _r, tag, err = c.query("-- c\nDELETE FROM wcd WHERE id = 3")
    assert err is None and re.fullmatch(r"DELETE \d+", tag), tag
    c.close()


def test_cte_shadow_and_purge_in_txn_sqlstates_over_wire(server):
    """The r11 statement forms' refusal states carry REAL SQLSTATEs over
    the wire (not XX000 internal_error): a CTE shadowing a catalog object
    in WITH-DML is a deliberate feature refusal (0A000 — PostgreSQL would
    shadow; we refuse rather than risk writing through the wrong
    relation), and PURGE inside a transaction block is 25001
    active_sql_transaction (the VACUUM class). Both leave the connection
    usable and, for the txn case, the transaction intact."""
    host, port = server.address
    c = Client(host, port)
    c.ssl_probe()
    c.startup()
    _c, _r, _t, err = c.query("CREATE TABLE shadowed (id INT PRIMARY KEY, v INT)")
    assert err is None
    _c, _r, _t, err = c.query("INSERT INTO shadowed VALUES (1, 10)")
    assert err is None

    # CTE name collides with the catalog table -> 0A000 feature refusal
    _c, _r, _t, err = c.query(
        "WITH shadowed AS (SELECT 2 AS id, 20 AS v) "
        "INSERT INTO shadowed SELECT * FROM shadowed"
    )
    assert err is not None and b"0A000" in err and b"shadows" in err
    # nothing was written, connection stays usable
    _c, rows, _t, err = c.query("SELECT count(*) AS n FROM shadowed")
    assert err is None and rows == [["1"]]

    # PURGE or COMPACT inside a txn block -> 25001 active_sql_transaction,
    # and the failure poisons the txn like any other error (PostgreSQL
    # abort gate): the next command reports 25P02 until ROLLBACK
    for stmt in ("PURGE FROM shadowed KEYS (1)", "COMPACT shadowed"):
        _c, _r, _t, err = c.query("BEGIN")
        assert err is None
        _c, _r, _t, err = c.query(stmt)
        assert err is not None and b"25001" in err
        _c, _r, _t, err = c.query("INSERT INTO shadowed VALUES (3, 30)")
        assert err is not None and b"25P02" in err
        _c, _r, _t, err = c.query("ROLLBACK")
        assert err is None
    # and outside a txn the same PURGE executes (history gone for key 1)
    _c, _r, _t, err = c.query("PURGE FROM shadowed KEYS (1)")
    assert err is None
    _c, rows, _t, err = c.query("SELECT count(*) AS n FROM shadowed")
    assert err is None and rows == [["0"]]
    c.close()

"""``statement_mix``: a served user's statements over the Postgres wire.

An event-sourced ``ev_orders`` table is seeded from the generated orders
with CREATE TABLE + INSERT ... SELECT, served by an in-process
``PgWireServer(warm_workers=True)`` on a FAIR scheduler (as ``cli serve``
runs it), and driven closed-loop by one ``DriftClient`` connection: the next
statement goes out only when the previous one has answered. There is no
compaction, so batch directories pile up as they would on a live server.

Every SELECT and AS OF answer is checked against a Python model of the
table's history, advanced at each statement's returned end sequence. The
timed reads rarely hit a key the run wrote, so after the timed region, and
untimed, every written key is read back at its current state, and its
event history is replayed at each write boundary; both are checked against
the model too.
"""

from __future__ import annotations

import os
import random
import time

from common import SETUP_REPEATS, Outcome, Reference, du, end_to_end, median, percentile

import datagen

#: per 20 statements: 30% point SELECT, 15% AS OF SELECT, 25% single-row
#: INSERT, 10% each of 100-row INSERT, UPDATE and DELETE
SHARES = {
    "point_select": 6,
    "asof_select": 3,
    "insert": 5,
    "insert_batch": 2,
    "update": 2,
    "delete": 2,
}
OPS = tuple(SHARES)
BATCH_ROWS = 100
#: untimed statements before the timed region: one of every kind, as a
#: kind's first statement costs up to half as much again as its later ones
DDL = (
    "CREATE TABLE ev_orders (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
    "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, "
    "o_orderpriority STRING)"
)
SEED_SQL = (
    "INSERT INTO ev_orders SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority FROM src_orders"
)


def schedule():
    """Endless op sequence whose every prefix keeps the shares: each step
    takes the op furthest behind its share, ties to the earlier in ``OPS``.
    The order is the same for every seed, so every run times the same mix."""
    total = sum(SHARES.values())
    done = dict.fromkeys(OPS, 0)
    step = 0
    while True:
        step += 1
        op = max(OPS, key=lambda o: (SHARES[o] * step / total - done[o], -OPS.index(o)))
        done[op] += 1
        yield op


class Shadow:
    """Per-key version history: ``key -> [(end_seq, row or None)]``."""

    def __init__(self) -> None:
        self.hist: dict[int, list] = {}
        self.live: set[int] = set()
        self.boundaries: list[int] = []

    def put(self, seq: int, key: int, row) -> None:
        self.hist.setdefault(key, []).append((seq, row))
        (self.live.add if row is not None else self.live.discard)(key)

    def at(self, key: int, seq: int | None = None):
        found = None
        for s, row in self.hist.get(key, ()):
            if seq is not None and s > seq:
                break
            found = row
        return found


def _row_text(row) -> str:
    k, c, st, price, day, prio = row
    return f"({k}, {c}, '{st}', {price:.2f}, DATE'{day}', '{prio}')"


def _parse(wire_row) -> tuple:
    k, c, st, price, day, prio = wire_row
    return (int(k), int(c), st, float(price), day, prio)


class Generator:
    """Seeded statement texts and their expected effect on the model."""

    def __init__(self, rng: random.Random, shadow: Shadow, next_key: int) -> None:
        self.rng, self.shadow, self.next_key = rng, shadow, next_key

    def _new_row(self, key: int) -> tuple:
        r = self.rng
        day = f"{r.randint(1995, 2001)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"
        return (
            key,
            r.randrange(1500),
            r.choice("FOP"),
            round(r.uniform(1000.0, 500000.0), 2),
            day,
            r.choice(datagen.PRIORITIES),
        )

    def statement(self, op: str):
        """(sql, expected) where expected is the rows a SELECT must return
        or, for DML, the ``[(key, row or None)]`` it applies."""
        r, sh = self.rng, self.shadow
        if op in ("insert", "insert_batch"):
            n = 1 if op == "insert" else BATCH_ROWS
            rows = [self._new_row(self.next_key + i) for i in range(n)]
            self.next_key += n
            values = ", ".join(_row_text(x) for x in rows)
            return f"INSERT INTO ev_orders VALUES {values}", [(x[0], x) for x in rows]
        if op == "update":
            key = r.choice(sorted(sh.live))
            old = sh.at(key)
            new = (key, r.randrange(1500), "U", old[3], old[4], r.choice(datagen.PRIORITIES))
            sql = (
                f"UPDATE ev_orders SET o_custkey = {new[1]}, o_orderstatus = 'U', "
                f"o_orderpriority = '{new[5]}' WHERE o_orderkey = {key}"
            )
            return sql, [(key, new)]
        if op == "delete":
            key = r.choice(sorted(sh.live))
            return f"DELETE FROM ev_orders WHERE o_orderkey = {key}", [(key, None)]
        key = r.randrange(self.next_key)
        if op == "point_select":
            row = sh.at(key)
            return f"SELECT * FROM ev_orders WHERE o_orderkey = {key}", [row] if row else []
        seq = r.choice(sh.boundaries)
        row = sh.at(key, seq)
        sql = f"SELECT * FROM ev_orders FOR SYSTEM_TIME AS OF @SEQ:{seq} WHERE o_orderkey = {key}"
        return sql, [row] if row else []


def run(ctx) -> Outcome:
    import pyarrow.parquet as pq

    from driftdb_spark.client import DriftClient, WireError
    from driftdb_spark.server import PgWireServer
    from driftdb_spark.sql_frontend import DriftSession

    oc = Outcome()
    tracer = ctx.tracer
    with oc.phase("data"):
        data = datagen.write(os.path.join(ctx.run_dir, "data"), ctx.seed, 0.01, only=["orders"])
    session_cls = tracer.session_class() if ctx.trace else DriftSession

    # set-up: an empty store to a seeded event table, each time in a new
    # store; the last one is served. The server starts after the timed
    # set-ups, so its worker warm-up job overlaps none of them.
    ctx.spark.read.parquet(os.path.join(data, "orders.parquet")).createOrReplaceTempView("src_orders")
    setups = []
    with oc.phase("setup"):
        for i in range(SETUP_REPEATS):
            store = os.path.join(ctx.run_dir, f"store-{i}")
            t0 = time.perf_counter()
            session = session_cls(ctx.spark, store)
            session.sql(DDL)
            seed_end = session.sql(SEED_SQL)
            setups.append(time.perf_counter() - t0)
            oc.attempted += 2
        server = PgWireServer(session, warm_workers=True).start()
        client = DriftClient(*server.address)
    try:
        shadow = Shadow()
        orders = pq.read_table(os.path.join(data, "orders.parquet")).to_pylist()
        for o in orders:
            shadow.put(seed_end, o["o_orderkey"], (
                o["o_orderkey"], o["o_custkey"], o["o_orderstatus"], o["o_totalprice"],
                o["o_orderdate"].date().isoformat(), o["o_orderpriority"],
            ))
        shadow.boundaries.append(seed_end)
        rng = random.Random(ctx.seed)
        gen = Generator(rng, shadow, len(orders))
        ops = schedule()
        events_dir = os.path.join(store, "ev_orders", "events")
        samples = []  # (op, seconds, reference seconds)
        written: set[int] = set()  # every key a statement of the run wrote
        per_stmt = []  # traced: one dict per timed statement

        def issue(op: str, idx: int, timed: bool) -> float | None:
            """Seconds the statement took, or None if it got no readable
            answer."""
            sql, expected = gen.statement(op)
            oc.attempted += 1
            t0 = time.perf_counter()
            try:
                if ctx.trace:
                    with tracer.statement(idx, f"client.{op}"):
                        res = client.query(sql)
                else:
                    res = client.query(sql)
            except (WireError, OSError) as exc:
                oc.fail(f"{op}: {exc}")
                return None
            dt = time.perf_counter() - t0
            # every statement runs in the connection's one job group, so
            # each one's jobs are read (and set aside) before the next
            jobs = ctx.counter.take(_statement_group(tracer, idx)) if ctx.trace else None
            try:
                got = sorted(_parse(r) for r in res.rows) if op.endswith("select") else None
                end = None if got is not None else int(res.tag.split()[-1])
            except (ValueError, TypeError, IndexError) as exc:
                oc.fail(f"{op}: unreadable answer: {exc}")
                return None
            if got is not None:
                if got != sorted(expected):
                    oc.fail(f"{op}: {sql[:90]} -> {got} != {expected}")
            else:
                if end <= shadow.boundaries[-1]:
                    oc.fail(f"{op}: end sequence {end} did not advance")
                for key, row in expected:
                    shadow.put(end, key, row)
                    written.add(key)
                shadow.boundaries.append(end)
            if timed and ctx.trace:
                per_stmt.append({"stmt": idx, "op": op, "client_ms": dt * 1000.0, "spark": jobs})
            return dt

        with oc.phase("warm"):
            for i, op in enumerate(OPS):
                issue(op, -1 - i, timed=False)
            ref = Reference(ctx.spark, partitions=1)
        bytes0, rows_written = du(events_dir), 0
        t_start = time.perf_counter()
        deadline = t_start + ctx.seconds
        idx, issued = 0, set()
        # past the deadline until every kind was timed once: ``suite_ratio``
        # sums one median per kind, so a slow host must not drop a kind
        while time.perf_counter() < deadline or len(issued) < len(OPS):
            op = next(ops)
            issued.add(op)
            dt = issue(op, idx, timed=True)
            reference = ref.after()
            if dt is not None:
                samples.append((op, dt, reference))
            rows_written += BATCH_ROWS if op == "insert_batch" else (0 if op.endswith("select") else 1)
            idx += 1
        wall = time.perf_counter() - t_start
        oc.phases["timed"] = wall
        batch_dirs = sum(1 for e in os.listdir(events_dir) if e.startswith("batch-"))
        bytes_per_row = (du(events_dir) - bytes0) / max(1, rows_written)
        with oc.phase("read_back"):
            _read_back(client, session, sorted(written), shadow, oc)
    finally:
        client.close()
        server.stop()

    lat = [dt for _op, dt, _r in samples]
    by_op = {op: [dt for o, dt, _r in samples if o == op] for op in OPS}
    per_op_p50 = {op: median(ts) * 1000.0 for op, ts in by_op.items()}
    oc.e2e, clock = end_to_end(setups, samples)
    oc.report = {
        **clock,
        "stmt_p50_ms": median(lat) * 1000.0,
        "stmt_p90_ms": percentile(lat, 90) * 1000.0,
        "stmts_per_s": len(lat) / wall,
        **{f"{op}_p50_ms": v for op, v in per_op_p50.items()},
        "timed_statements": len(lat),
        "statements_by_op": {op: len(ts) for op, ts in by_op.items()},
        "events.batch_dirs_end": batch_dirs,
        "events.bytes_written_per_row": bytes_per_row,
        "setup_runs_s": setups,
        "samples": samples,
    }
    if ctx.trace:
        from layers import statement_breakdown, statement_layers

        oc.layer = statement_layers(tracer, per_stmt, OPS)
        calls = statement_breakdown(tracer.spans)
        oc.report["statements"] = [
            {"op": r["op"], "spark": r["spark"],
             "last_sequence_calls": calls[r["stmt"]]["last_sequence_calls"]}
            for r in per_stmt
        ]
        oc.layer["events.batch_dirs_end"] = batch_dirs
        oc.layer["events.bytes_written_per_row"] = bytes_per_row
    return oc


def _read_back(client, session, keys: list[int], shadow: Shadow, oc: Outcome) -> None:
    """Untimed, after the timed region: every key the run wrote, read at
    its current state over the wire, and its event history (``SHOW DRIFT``)
    replayed at each write boundary; both against the model. An AS OF read
    per boundary would cost about a second each."""
    from pyspark.sql import functions as F

    from driftdb_spark.client import WireError

    in_list = ", ".join(map(str, keys))
    oc.attempted += 1
    try:
        res = client.query(f"SELECT * FROM ev_orders WHERE o_orderkey IN ({in_list})")
        got = sorted(_parse(r) for r in res.rows)
    except (WireError, OSError, ValueError, TypeError) as exc:
        oc.fail(f"read-back now: {exc}")
    else:
        want = sorted(r for r in (shadow.at(k) for k in keys) if r is not None)
        if got != want:
            oc.fail(f"read-back now: {len(got)} rows != {len(want)} modelled, "
                    f"differing {sorted(set(got) ^ set(want))[:2]}")
    oc.attempted += len(shadow.boundaries)
    history: dict[int, list] = {k: [] for k in keys}
    try:
        events = session.drift("ev_orders").filter(F.col("pk").isin([str(k) for k in keys]))
        for e in sorted(events.collect(), key=lambda e: e["sequence"]):
            history[int(e["pk"])].append(e)
    except Exception as exc:  # noqa: BLE001 — counted as failed reads
        for _ in shadow.boundaries:
            oc.fail(f"read-back history: {type(exc).__name__}: {exc}")
        return
    for b in shadow.boundaries:
        try:
            got = sorted(r for r in (_replay(history[k], b) for k in keys) if r is not None)
        except (KeyError, ValueError, TypeError) as exc:
            oc.fail(f"read-back history at {b}: unreadable event: {exc}")
            continue
        want = sorted(r for r in (shadow.at(k, b) for k in keys) if r is not None)
        if got != want:
            oc.fail(f"read-back history at {b}: {len(got)} rows != {len(want)} modelled, "
                    f"differing {sorted(set(got) ^ set(want))[:2]}")


def _replay(events, bound: int):
    """A key's row as of sequence ``bound`` from its ``SHOW DRIFT`` events,
    as the engine folds them: the last INSERT unless a SOFT_DELETE follows
    it, with the PATCHes after it merged field by field."""
    row = None
    for e in events:
        if e["sequence"] > bound:
            break
        if e["event_type"] == "INSERT":
            row = dict(e["payload"])
        elif e["event_type"] == "SOFT_DELETE":
            row = None
        elif row is not None:
            row.update(e["payload"])
    if row is None:
        return None
    return (int(row["o_orderkey"]), int(row["o_custkey"]), row["o_orderstatus"],
            float(row["o_totalprice"]), row["o_orderdate"], row["o_orderpriority"])


def _statement_group(tracer, stmt: int) -> str | None:
    """The Spark job group the server ran statement ``stmt`` under, as the
    traced session recorded it."""
    for s in reversed(tracer.spans):
        if s.stmt == stmt and s.name == "sql_frontend.sql":
            return s.attrs.get("group")
    return None

"""``time_travel``: AS OF reads over a deep event history, embedded.

One ``DriftSession`` (no wire) holds a table with one insert of every key,
a run of patch waves with a ``SNAPSHOT TABLE`` in the middle, and one
soft-delete wave. Each timed cycle appends one more patch wave, then reads
``count(*), sum(qty)`` of the whole table once in each band, in seeded
order:

- ``now``: current state, served from the newest snapshot plus its tail;
- ``snap_tail``: ``AS OF @SEQ`` after the newest snapshot;
- ``full_replay``: ``AS OF @SEQ`` before any snapshot, a replay from the
  first event;
- ``ts``: ``AS OF '<timestamp>'``, which first resolves the timestamp to a
  sequence.

Every other cycle ends with ``SNAPSHOT TABLE``. ``COMPACT TABLE`` runs
once, after the timed cycles: compaction collapses the history before its
snapshot, which the ``full_replay`` band reads. Every answer is checked
against a model that keeps the table's exact state at each statement
boundary.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import SETUP_REPEATS, Outcome, Reference, du, end_to_end, median, percentile

KEYS = 20_000
HISTORY_WAVES = 6
SNAPSHOT_AFTER_WAVE = 2
DELETE_MOD = 50
BANDS = ("now", "snap_tail", "full_replay", "ts")
DDL = "CREATE TABLE tt (id BIGINT PRIMARY KEY, qty BIGINT, tag STRING)"


class Model:
    """Exact table state at every statement boundary (keys are 0..K-1)."""

    def __init__(self, qty: np.ndarray) -> None:
        self.ids = np.arange(len(qty))
        self.alive = np.ones(len(qty), bool)
        self.qty = qty.astype(np.int64)
        self.at: dict[int, tuple[int, int]] = {}
        self.snapshots: list[int] = []
        self.stamps: list[tuple[str, int]] = []  # (wall-clock literal, seq)

    def answer(self) -> tuple[int, int]:
        return int(self.alive.sum()), int(self.qty[self.alive].sum())

    def boundary(self, seq: int) -> None:
        self.at[seq] = self.answer()

    def update(self, mod: int, rem: int, add: int) -> None:
        hit = self.alive & (self.ids % mod == rem)
        self.qty[hit] += add

    def delete(self, mod: int, rem: int) -> None:
        self.alive &= self.ids % mod != rem


def _stamp() -> str:
    """A wall-clock instant strictly between two statements, as a UTC
    literal; event times are taken when their statement runs."""
    time.sleep(0.002)
    t = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    time.sleep(0.002)
    return t


def _wave(rng: random.Random) -> tuple[int, int, int]:
    mod = rng.choice((2, 3))
    return mod, rng.randrange(mod), rng.randint(1, 9)


def run(ctx) -> Outcome:
    from driftdb_spark.sql_frontend import DriftSession

    oc = Outcome()
    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    qty = np.random.default_rng(ctx.seed).integers(0, 1000, KEYS)
    src = os.path.join(ctx.run_dir, "data", "tt_src.parquet")
    os.makedirs(os.path.dirname(src))
    pq.write_table(pa.table({
        "id": pa.array(np.arange(KEYS), pa.int64()),
        "qty": pa.array(qty, pa.int64()),
        "tag": [f"t{i % 13}" for i in range(KEYS)],
    }), src)
    spark.read.parquet(src).createOrReplaceTempView("tt_src")
    session_cls = tracer.session_class() if ctx.trace else DriftSession

    def sql(q: str):
        oc.attempted += 1
        return session.sql(q)

    setups = []
    for i in range(SETUP_REPEATS):
        store = os.path.join(ctx.run_dir, f"store-{i}")
        t0 = time.perf_counter()
        session = session_cls(spark, store)
        sql(DDL)
        seq = sql("INSERT INTO tt SELECT id, qty, tag FROM tt_src")
        setups.append(time.perf_counter() - t0)
    model = Model(qty)
    model.boundary(seq)

    def write(q: str, apply) -> float:
        t0 = time.perf_counter()
        end = sql(q)
        dt = time.perf_counter() - t0
        apply()
        model.boundary(end)
        model.stamps.append((_stamp(), end))
        return dt

    def update_wave() -> float:
        mod, rem, add = _wave(rng)
        return write(
            f"UPDATE tt SET qty = qty + {add}, tag = 'w{add}' WHERE id % {mod} = {rem}",
            lambda: model.update(mod, rem, add),
        )

    def snapshot() -> float:
        t0 = time.perf_counter()
        model.snapshots.append(sql("SNAPSHOT TABLE tt"))
        return time.perf_counter() - t0

    t_hist = time.perf_counter()
    for w in range(HISTORY_WAVES):
        update_wave()
        if w == SNAPSHOT_AFTER_WAVE:
            snapshot()
    rem = rng.randrange(DELETE_MOD)
    write(f"DELETE FROM tt WHERE id % {DELETE_MOD} = {rem}", lambda: model.delete(DELETE_MOD, rem))
    history_s = time.perf_counter() - t_hist

    def target(band: str) -> tuple[str, int | None]:
        """SQL suffix and the boundary whose state it must return."""
        seqs = sorted(model.at)
        if band == "now":
            return "", seqs[-1]
        if band == "snap_tail":
            seq = rng.choice([s for s in seqs if s >= model.snapshots[-1]])
            return f" FOR SYSTEM_TIME AS OF @SEQ:{seq}", seq
        if band == "full_replay":
            seq = rng.choice([s for s in seqs if s < model.snapshots[0]])
            return f" FOR SYSTEM_TIME AS OF @SEQ:{seq}", seq
        stamp, seq = rng.choice(model.stamps)
        return f" FOR SYSTEM_TIME AS OF '{stamp}'", seq

    reads = []  # (band, dispatch s, exec s, spark counts, served from a snapshot)
    waves, snaps = [], []

    def read(band: str, idx: int) -> None:
        suffix, seq = target(band)
        group = f"travel-{idx}"
        if ctx.trace:
            spark.sparkContext.setJobGroup(group, band)
        hits0 = tracer.counts["events.snapshot_pick.hit"] if ctx.trace else 0
        t0 = time.perf_counter()
        try:
            df = sql(f"SELECT count(*) AS n, sum(qty) AS s FROM tt{suffix}")
            t1 = time.perf_counter()
            if ctx.trace:
                with tracer.span("spark.exec", band=band):
                    row = df.collect()[0]
            else:
                row = df.collect()[0]
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            oc.fail(f"{band}: {type(exc).__name__}: {exc}")
            return
        t2 = time.perf_counter()
        got = (int(row["n"]), int(row["s"] or 0))
        if got != model.at[seq]:
            oc.fail(f"{band}{suffix}: {got} != {model.at[seq]}")
        counts = ctx.counter.take(group) if ctx.trace else (0, 0, 0)
        served = ctx.trace and tracer.counts["events.snapshot_pick.hit"] > hits0
        reads.append((band, t1 - t0, t2 - t1, counts, served))

    # one untimed cycle warms every band's code path
    update_wave()
    for band in BANDS:
        read(band, -1)
    reads.clear()

    ref = Reference(spark, partitions=4)
    wave_refs, read_refs = [], []
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    cycle = idx = 0
    while time.perf_counter() < deadline:
        if ctx.trace:
            with tracer.statement(idx, "client.update_wave"):
                waves.append(update_wave())
        else:
            waves.append(update_wave())
        wave_refs.append(ref.after())
        for band in rng.sample(BANDS, len(BANDS)):
            idx += 1
            n = len(reads)
            if ctx.trace:
                with tracer.statement(idx, f"client.{band}"):
                    read(band, idx)
            else:
                read(band, idx)
            reference = ref.after()
            if len(reads) > n:
                read_refs.append(reference)
        if cycle % 2 == 1:
            snaps.append(snapshot())
        cycle += 1
        idx += 1
    wall = time.perf_counter() - t_start

    table_dir = os.path.join(store, "tt")
    events_dir = os.path.join(table_dir, "events")
    log_before = du(events_dir)
    t0 = time.perf_counter()
    final_seq = sql("COMPACT TABLE tt")
    compact_s = time.perf_counter() - t0
    snap_dir = os.path.join(table_dir, "snapshots", f"seq={final_seq}")
    live_bytes = du(snap_dir)
    log_after = du(events_dir)
    table_bytes = du(table_dir)
    t0 = time.perf_counter()
    row = sql("SELECT count(*) AS n, sum(qty) AS s FROM tt").collect()[0]
    post_compact_read_s = time.perf_counter() - t0
    if (int(row["n"]), int(row["s"] or 0)) != model.answer():
        oc.fail(f"after COMPACT: {tuple(row)} != {model.answer()}")

    lat = [r[1] + r[2] for r in reads]
    by_band = {b: [r[1] + r[2] for r in reads if r[0] == b] for b in BANDS}
    band_p50 = {b: median(ts) for b, ts in by_band.items()}
    samples = [(r[0], r[1] + r[2], x) for r, x in zip(reads, read_refs)]
    samples += [("update_wave", w, x) for w, x in zip(waves, wave_refs)]
    oc.e2e, clock = end_to_end(setups, samples)
    oc.report = {
        **clock,
        "travel_p50_s": median(lat),
        "travel_p75_s": percentile(lat, 75),
        "compact_s": compact_s,
        "bytes_per_live_byte": table_bytes / live_bytes,
        "band_p50_s": band_p50,
        "update_wave_p50_s": median(waves),
        "snapshot_s": snaps,
        "post_compact_read_s": post_compact_read_s,
        "history_build_s": history_s,
        "timed_reads": len(lat),
        "cycles": cycle,
        "events_before_compact": final_seq,
        "setup_runs_s": setups,
    }
    if ctx.trace:
        lay = {}
        for band in BANDS:
            rs = [r for r in reads if r[0] == band]
            lay[f"sql_frontend.dispatch_ms.{band}"] = median(r[1] for r in rs) * 1000.0
            lay[f"spark.exec_ms.{band}"] = median(r[2] for r in rs) * 1000.0
            lay[f"spark.jobs.{band}"] = median(r[3][0] for r in rs)
            lay[f"spark.tasks.{band}"] = median(r[3][2] for r in rs)
        resolve = [s.ms for s in tracer.spans if s.name == "temporal.resolve_sequence_at" and s.stmt is not None]
        lay.update({
            "temporal.resolve_ms": median(resolve),
            "events.snapshot_hit_ratio": sum(r[4] for r in reads) / max(1, len(reads)),
            "events.snapshot_s": median(snaps) if snaps else 0.0,
            "events.update_wave_s": median(waves),
            "events.compact_bytes_rewritten": log_after + live_bytes,
            "events.log_bytes": log_before,
            "events.live_bytes": live_bytes,
        })
        oc.layer = lay
    return oc

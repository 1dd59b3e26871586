"""Spans and counts recorded around calls into the engine's layers.

Nothing here edits the engine: the traced run swaps in wrappers where the
callers look the functions up (methods on ``EventLog``, the ``temporal``
functions in the modules that imported them), serves connections with a
``DriftSession`` subclass (the wire server builds each connection's session
with ``type(base)``), and reads Spark job, stage and task counts per job
group from ``SparkContext.statusTracker()``. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import Counter
from dataclasses import asdict, dataclass, field

#: EventLog methods timed as ``events.<name>``; ``_assign_and_publish`` is
#: the append every write path funnels into (sequence head, counts, write,
#: rename) and ``_usable_snapshot`` is where a read picks its snapshot.
EVENTLOG_METHODS = (
    "insert",
    "upsert",
    "patch",
    "soft_delete",
    "update_where",
    "delete_where",
    "last_sequence",
    "state_at",
    "snapshot",
    "compact",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    stmt: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder.

    A span opened on a thread with no open span of its own (a wire-server
    handler thread) is parented to the statement root the load generator
    opened, so one statement's spans form one tree across threads.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.stmt: int | None = None
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.stmt, attrs))

    @contextlib.contextmanager
    def statement(self, stmt: int, name: str, **attrs):
        """Root span of one operation; spans on other threads join it."""
        self.stmt = stmt
        with self.span(name, **attrs) as a:
            self.root = self._local.stack[-1]
            try:
                yield a
            finally:
                self.root = None
        self.stmt = None

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call until :meth:`unwrap`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def instrument_engine(self) -> None:
        """Wrap the ``events`` and ``temporal`` entry points."""
        from driftdb_spark import events, sql_frontend, temporal

        for m in EVENTLOG_METHODS:
            self.wrap(events.EventLog, m, f"events.{m}")
        self.wrap(events.EventLog, "_assign_and_publish", "events.append")
        self.wrap(events, "fold_events", "events.fold_events")

        def snapshot_pick(out) -> None:
            self.count("events.snapshot_pick.hit" if out[0] is not None else "events.snapshot_pick.miss")

        self.wrap(events.EventLog, "_usable_snapshot", "events.usable_snapshot", snapshot_pick)
        self.wrap(sql_frontend, "parse_system_time", "temporal.parse_system_time")
        self.wrap(events, "resolve_sequence_at", "temporal.resolve_sequence_at")
        self.wrap(temporal, "resolve_sequence_at", "temporal.resolve_sequence_at")

    def session_class(self):
        """A ``DriftSession`` subclass whose ``sql`` is one span carrying
        the Spark job group of the thread that called it."""
        from driftdb_spark.sql_frontend import DriftSession

        tracer = self

        class TracedDriftSession(DriftSession):
            def sql(self, query, args=None):
                group = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                with tracer.span("sql_frontend.sql", group=group):
                    return super().sql(query, args)

        return TracedDriftSession

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration (ms) minus the part its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.ms - covered * 1000.0
    return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class SparkCounter:
    """Jobs, stages and tasks Spark ran for a job group since the last
    call. Waits for the listener bus first, so the counts are complete."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.seen: set[int] = set()

    def take(self, group: str | None) -> tuple[int, int, int]:
        if group is None:
            return 0, 0, 0
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(self.tracker.getJobIdsForGroup(group)) - self.seen
        self.seen |= ids
        stages = tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                ran = (st.numCompletedTasks + st.numFailedTasks) if st else 0
                if ran:  # a stage whose shuffle output was reused is skipped
                    stages += 1
                    tasks += ran
        return len(ids), stages, tasks

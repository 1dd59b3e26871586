"""The benchmark's metric catalogue; ``BENCHMARK.json`` lists the same.

End-to-end metrics are defined for every workload, each over that
workload's own kinds of timed operation (a headline query, a statement
kind, an AS OF band):

- ``setup_s``: median of the workload's repeated set-ups (wall seconds);
- ``suite_ratio``: the sum over operation kinds of each kind's median
  latency, each latency divided by the time of a fixed pure-Spark reference
  job run just before and just after it (the faster of the two;
  ``common.Reference``: one task for ``statement_mix``, four for the
  others).

On a few cores shared with other machines' work, the same code's wall
times move by up to 2x between runs, and the reference job's time moves
with them; the ratio cancels most of that. The wall-clock counterparts,
``suite_s`` (the sum of per-kind median latencies) and ``ops_per_s``
(operations per second of operation time), are printed with every run and
are the per-layer ``wall.suite_s`` and ``wall.ops_per_s`` of the traced
run. A change to the Spark configuration the engine builds
(``driftdb_spark/session.py``) moves the reference job too; read the wall
metrics for such a change.

A pooled median over a mixed workload is reported only: in
``statement_mix`` it falls between the read and the write latencies.
Per-layer metrics a workload never exercises read 0 there.

``time_travel`` is not among the workloads ``BENCHMARK.json`` lists (one
run costs about 70 s on 4 cores, more than the run budget leaves for a
third workload); its per-layer metrics are ``TRAVEL_LAYER``.
"""

from __future__ import annotations

from headline import HEADLINE
from statements import OPS as STATEMENT_OPS
from travel import BANDS as TRAVEL_BANDS

#: (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("suite_ratio", "ratio", "lower", 0.25),
)

#: the wall-clock counterparts of the guarded metrics, reported by the
#: traced run of every workload
WALL = (("wall.suite_s", "s", "lower"), ("wall.ops_per_s", "1/s", "higher"))


def _per_layer():
    out = list(WALL)
    for op in STATEMENT_OPS:
        out += [
            (f"spark.jobs.{op}", "count", "lower"),
            (f"spark.stages.{op}", "count", "lower"),
            (f"spark.tasks.{op}", "count", "lower"),
            (f"events.last_sequence_calls.{op}", "count", "lower"),
            (f"events.last_sequence_ms.{op}", "ms", "lower"),
            (f"sql_frontend.dispatch_ms.{op}", "ms", "lower"),
            (f"server.stream_ms.{op}", "ms", "lower"),
            (f"sql_frontend.self_ms.{op}", "ms", "lower"),
            (f"events.self_ms.{op}", "ms", "lower"),
            (f"temporal.self_ms.{op}", "ms", "lower"),
            (f"trace.unattributed_ms.{op}", "ms", "lower"),
        ]
    out += [
        ("events.batch_dirs_end", "count", "lower"),
        ("events.bytes_written_per_row", "B", "lower"),
        ("analytic.build_s", "s", "lower"),
        ("analytic.plan_s", "s", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
    ]
    for q in HEADLINE:
        out += [(f"analytic.{q}.exec_s", "s", "lower"), (f"analytic.{q}.jobs", "count", "lower")]
    return tuple(out)


def _travel_layer():
    out = list(WALL)
    for band in TRAVEL_BANDS:
        out += [
            (f"sql_frontend.dispatch_ms.{band}", "ms", "lower"),
            (f"spark.exec_ms.{band}", "ms", "lower"),
            (f"spark.jobs.{band}", "count", "lower"),
            (f"spark.tasks.{band}", "count", "lower"),
        ]
    out += [
        ("temporal.resolve_ms", "ms", "lower"),
        ("events.snapshot_hit_ratio", "ratio", "higher"),
        ("events.snapshot_s", "s", "lower"),
        ("events.update_wave_s", "s", "lower"),
        ("events.compact_bytes_rewritten", "B", "lower"),
        ("events.log_bytes", "B", "lower"),
        ("events.live_bytes", "B", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()
TRAVEL_LAYER = _travel_layer()

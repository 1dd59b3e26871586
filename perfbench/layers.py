"""Per-layer numbers derived from a traced run's spans and Spark counts."""

from __future__ import annotations

from common import median
from tracing import layer_of, self_times

#: layers a statement's client-observed time is split into; ``server`` is
#: the root span's self time (wire, encode, and the SELECT execution the
#: server streams after dispatch returns)
STATEMENT_LAYERS = ("server", "sql_frontend", "events", "temporal")


def _by_stmt(spans):
    out: dict[int, list] = {}
    for s in spans:
        if s.stmt is not None:
            out.setdefault(s.stmt, []).append(s)
    return out


def statement_breakdown(spans) -> dict[int, dict]:
    """Per statement: dispatch, last_sequence and per-layer self times (ms)."""
    selfs = self_times(spans)
    out = {}
    for stmt, group in _by_stmt(spans).items():
        root = next((s for s in group if s.name.startswith("client.")), None)
        if root is None:
            continue
        layer_self = dict.fromkeys(STATEMENT_LAYERS, 0.0)
        for s in group:
            layer = "server" if s is root else layer_of(s.name)
            if layer in layer_self:
                layer_self[layer] += selfs[s.id]
        ls = [s for s in group if s.name == "events.last_sequence"]
        out[stmt] = {
            "dispatch_ms": sum(s.ms for s in group if s.parent == root.id and s.name == "sql_frontend.sql"),
            "last_sequence_calls": len(ls),
            "last_sequence_ms": sum(s.ms for s in ls),
            "self": layer_self,
        }
    return out


def statement_layers(tracer, per_stmt: list[dict], ops) -> dict:
    bd = statement_breakdown(tracer.spans)
    lay = {}
    for op in ops:
        rows = [r for r in per_stmt if r["op"] == op and r["stmt"] in bd]
        if not rows:
            continue
        b = [bd[r["stmt"]] for r in rows]
        lay[f"spark.jobs.{op}"] = median(r["spark"][0] for r in rows)
        lay[f"spark.stages.{op}"] = median(r["spark"][1] for r in rows)
        lay[f"spark.tasks.{op}"] = median(r["spark"][2] for r in rows)
        lay[f"events.last_sequence_calls.{op}"] = median(x["last_sequence_calls"] for x in b)
        lay[f"events.last_sequence_ms.{op}"] = median(x["last_sequence_ms"] for x in b)
        lay[f"sql_frontend.dispatch_ms.{op}"] = median(x["dispatch_ms"] for x in b)
        lay[f"trace.client_ms.{op}"] = median(r["client_ms"] for r in rows)
        for layer in STATEMENT_LAYERS:
            key = "server.stream_ms" if layer == "server" else f"{layer}.self_ms"
            lay[f"{key}.{op}"] = median(x["self"][layer] for x in b)
        # per statement, then the median: medians of the parts do not add up
        lay[f"trace.unattributed_ms.{op}"] = median(
            r["client_ms"] - sum(x["self"].values()) for r, x in zip(rows, b)
        )
    return lay

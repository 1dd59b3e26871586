"""Property-based fuzz of event-fold reconstruction (the Spark analog of the
reference's random-ops engine fuzz — crates/driftdb-core/tests/fuzz_test.rs:
random Insert/Patch/SoftDelete streams applied to the engine, state checked
against a model).

Hypothesis generates random event sequences over a small key space;
``fold_events`` (the declarative DataFrame fold behind ``EventLog.state_at``
and the streaming merge) must agree with a sequential-replay model —
the reference's own replay loop semantics (table_storage.rs:344-428):
Insert replaces the row, Patch merges field-by-field into an existing row
and is ignored for a missing key, SoftDelete removes the key, a later
Insert revives it. Each key's ``row``, ``last_seq`` and ``last_ts`` are
checked, and a random AS OF prefix cut too, so time travel rides the same
property. ``test_fold_matches_model_on_edge_histories`` pins the edge cases
in the default profile.
"""

from __future__ import annotations

import datetime

import pytest

from conftest import fuzz_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from driftdb_spark.events import EVENT_SCHEMA, fold_events

PKS = ["a", "b", "c"]
KEYS = ["k1", "k2", "k3"]

event_st = st.tuples(
    st.sampled_from(["INSERT", "PATCH", "SOFT_DELETE"]),
    st.sampled_from(PKS),
    st.dictionaries(st.sampled_from(KEYS), st.integers(0, 9), min_size=1, max_size=3),
)


T0 = datetime.datetime(2026, 1, 1)


def replay_model(events):
    """Reference replay loop (table_storage.rs:344-428): pk -> (row,
    last_seq, last_ts), where ``last_seq``/``last_ts`` are the newest
    sequence and the max timestamp of the events the row was folded from
    (a null timestamp — a snapshot pseudo-Insert — does not count)."""
    state: dict[str, tuple] = {}
    for seq, ts, etype, pk, payload in events:
        if etype == "INSERT":
            state[pk] = (dict(payload), seq, ts)
        elif etype == "PATCH":
            if pk in state:
                row, _, last_ts = state[pk]
                row.update(payload)
                last_ts = max((t for t in (last_ts, ts) if t is not None), default=None)
                state[pk] = (row, seq, last_ts)
        else:  # SOFT_DELETE
            state.pop(pk, None)
    return state


def folded(df):
    """``fold_events`` of an event frame as pk -> (row, last_seq, last_ts)."""
    return {
        r["pk"]: (dict(r["row"]), r["last_seq"], r["last_ts"])
        for r in fold_events(df).collect()
    }


def event_frame(spark, events):
    rows = [
        (seq, ts, etype, pk, None if etype == "SOFT_DELETE" else payload)
        for seq, ts, etype, pk, payload in events
    ]
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def history(*ops):
    """Number ``(event_type, pk, payload)`` ops as events at sequence 1..n
    with a distinct timestamp each; timestamps run backwards, so a key's
    ``last_ts`` differs from the timestamp of its ``last_seq``."""
    n = len(ops)
    return [
        (i + 1, T0 + datetime.timedelta(seconds=n - i), etype, pk, payload)
        for i, (etype, pk, payload) in enumerate(ops)
    ]


def test_fold_matches_model_on_edge_histories(spark):
    """The fold's edge cases, in the default profile: a Patch before any
    Insert, Insert → SoftDelete → re-Insert → Patch, a Patch after a
    SoftDelete, snapshot pseudo-Inserts (null ``ts``) followed by Patches,
    and an AS OF cut in the middle of the history."""
    from driftdb_spark.events import state_as_events
    from driftdb_spark.temporal import AsOf, apply_asof

    events = history(
        ("PATCH", "a", {"k1": "0"}),  # no Insert yet: ignored
        ("INSERT", "a", {"k1": "1", "k2": "1"}),
        ("PATCH", "a", {"k2": "2"}),
        ("INSERT", "b", {"k1": "1", "k3": "1"}),
        ("PATCH", "b", {"k2": "1"}),
        ("SOFT_DELETE", "b", {}),
        ("PATCH", "b", {"k1": "9"}),  # after the delete: ignored
        ("INSERT", "b", {"k1": "5"}),  # re-Insert drops the old fields
        ("PATCH", "b", {"k2": "6"}),
        ("INSERT", "c", {"k1": "1"}),
        ("SOFT_DELETE", "c", {}),
        ("PATCH", "c", {"k1": "2"}),  # after the delete: ignored
    )
    expected = replay_model(events)
    assert expected["a"] == ({"k1": "1", "k2": "2"}, 3, T0 + datetime.timedelta(seconds=11))
    assert expected["b"] == ({"k1": "5", "k2": "6"}, 9, T0 + datetime.timedelta(seconds=5))
    assert set(expected) == {"a", "b"}
    df = event_frame(spark, events)
    assert folded(df) == expected

    # AS OF @SEQ:6 — b was just deleted, c not yet inserted
    mid = folded(apply_asof(df, AsOf(sequence=6)))
    assert mid == replay_model(events[:6])
    assert set(mid) == {"a"}

    # snapshot pseudo-Inserts: "a" and "d" from a state file without
    # last_ts (null ts), "a" then patched twice; "d" keeps a null last_ts
    snap = spark.createDataFrame(
        [("a", 3, {"k1": "1", "k2": "2"}), ("d", 2, {"k1": "7"})],
        "pk string, last_seq long, row map<string,string>",
    )
    tail = history(
        ("PATCH", "a", {"k1": "3"}),
        ("PATCH", "a", {"k3": "4"}),
        ("PATCH", "e", {"k1": "1"}),  # no Insert anywhere: ignored
    )
    tail = [(seq + 3, ts, *rest) for seq, ts, *rest in tail]
    pseudo = [
        (3, None, "INSERT", "a", {"k1": "1", "k2": "2"}),
        (2, None, "INSERT", "d", {"k1": "7"}),
    ]
    expected = replay_model(sorted(pseudo) + tail)
    assert expected["a"] == (
        {"k1": "3", "k2": "2", "k3": "4"}, 5, T0 + datetime.timedelta(seconds=3)
    )
    assert expected["d"] == ({"k1": "7"}, 2, None)
    got = folded(state_as_events(snap).unionByName(event_frame(spark, tail)))
    assert got == expected


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=fuzz_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(event_st, min_size=1, max_size=25), st.data())
@pytest.mark.deepfuzz
def test_fold_matches_sequential_replay(spark, ops, data):
    # a distinct timestamp per event, in an order unrelated to sequence,
    # so last_ts (the max contributing timestamp) is checked on its own
    order = data.draw(st.permutations(range(len(ops))))
    stamps = [T0 + datetime.timedelta(seconds=s) for s in order]
    events = [
        (i + 1, stamps[i], etype, pk, {k: str(v) for k, v in payload.items()})
        for i, (etype, pk, payload) in enumerate(ops)
    ]
    df = event_frame(spark, events)
    assert folded(df) == replay_model(events)

    # AS OF a random prefix: folding events[:cut] must equal replaying them
    cut = data.draw(st.integers(1, len(events)))
    assert folded(df.filter(df.sequence <= cut)) == replay_model(events[:cut])

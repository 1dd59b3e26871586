"""``analytic_headline``: the 27 headline registry queries on generated
star-schema tables.

Never touches ``events``, ``sql_frontend`` or ``server``, so a change to the
statement path should leave it flat. Each static query is built once
(build and analysis timed as ``analytic_build_s``), run once to warm up and
to check its rows against the DuckDB oracle, then materialized to the noop
sink in whole passes over the static queries, as many as fit in their share
of the run's time (at least one). The iterative queries follow in a block
of their own, warmed and checked the same way; they are rebuilt from a
cleared cache on every execution, as ``bench.py`` times them.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time

from common import SETUP_REPEATS, Outcome, Reference, end_to_end, median, percentile
from headline import HEADLINE, ITERATIVE

import datagen
import env

#: generated data scale: 15,000 orders and 60,000 lineitems
SF = 0.01
#: share of the timed region given to the static queries
STATIC_SHARE = 0.6


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _round(v):
    """Floats and decimals to 6 significant digits: the two engines may
    round a double differently in its last places (a 12-decimal ROUND in
    PageRank lands on the other side of a tie for some generated inputs)."""
    if isinstance(v, (float, decimal.Decimal)) and math.isfinite(v):
        return float(f"{float(v):.6g}")
    return v


def _value_hash(rows, columns) -> tuple[int, str]:
    from oracle import normalize

    rows = [tuple(_round(v) for v in r) for r in rows]
    norm = normalize(rows, [c.lower() for c in columns])
    return len(norm), hashlib.sha256(repr(norm).encode()).hexdigest()


def _oracle_answers(sf_dir: str, oracles: dict) -> dict:
    from oracle import duck_connection

    con = duck_connection(sf_dir)
    out = {}
    for name in HEADLINE:
        if name in oracles:
            rel = con.sql(oracles[name])
            out[name] = _value_hash(rel.fetchall(), rel.columns)
    con.close()
    return out


#: a recomputed pair Jaccard may differ from the engine's by this much:
#: the engine hashes shingles to 32 bits, so two may collide
JACCARD_TOLERANCE = 0.02
#: share of the seeded near-copy pairs ``dedup_minhash_lsh`` must find
#: (each has Jaccard >= 0.89, which 8 bands of 4 miss with p < 0.001)
NEAR_COPY_RECALL = 0.9


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}


def _check_pairs(rows, columns, texts: dict, seeded: list, oc: Outcome) -> None:
    """``dedup_minhash_lsh`` has no DuckDB oracle (its bands hash with
    Spark's xxhash64): recompute each returned pair's shingle Jaccard in
    Python, and require most of the seeded near-copies among the pairs."""
    pairs = {}
    for r in rows:
        p = dict(zip(columns, r))
        pairs[(p["id_a"], p["id_b"])] = p["jaccard"]
    bad = []
    for (a, b), jac in pairs.items():
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        if not (a < b and exact >= 0.5 and abs(jac - exact) <= JACCARD_TOLERANCE):
            bad.append((a, b, jac, round(exact, 6)))
    if len(pairs) != len(rows) or bad:
        oc.fail(f"dedup_minhash_lsh: {len(rows)} rows, {len(bad)} wrong pairs {bad[:3]}")
    found = sum(1 for p in seeded if p in pairs)
    if found < NEAR_COPY_RECALL * len(seeded):
        oc.fail(f"dedup_minhash_lsh: found {found} of {len(seeded)} seeded near-copy pairs")


def _check(name: str, df_rows, columns, expected: dict, oc: Outcome) -> None:
    got = _value_hash(df_rows, columns)
    if got != expected[name]:
        oc.fail(f"{name}: rows/hash {got[0]}/{got[1][:12]} != oracle "
                f"{expected[name][0]}/{expected[name][1][:12]}")


def run(ctx) -> Outcome:
    sys.path.insert(0, os.path.join(env.ROOT, "tests"))  # the DuckDB oracle helpers
    import pyarrow.parquet as pq

    from driftdb_spark.catalog import load_tables
    from driftdb_spark.registry import oracle_map, query_map

    spark, tracer, counter = ctx.spark, ctx.tracer, ctx.counter
    oc = Outcome()
    with oc.phase("data"):
        data = datagen.write(os.path.join(ctx.run_dir, "data"), ctx.seed, SF)
        docs = pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id", "text"])
        texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        seeded = datagen.near_copy_pairs(ctx.seed, SF)

    # set-up: a fresh catalog load (listing, footers, ts normalization, one
    # count per table) of a hard-linked copy, so no memoized handle is reused
    setups = []
    with oc.phase("setup"):
        for i in range(SETUP_REPEATS):
            copy = os.path.join(ctx.run_dir, f"catalog-{i}")
            os.makedirs(copy)
            for f in os.listdir(data):
                os.link(os.path.join(data, f), os.path.join(copy, f))
            t0 = time.perf_counter()
            for df in load_tables(spark, copy, register=False).values():
                df.count()
            setups.append(time.perf_counter() - t0)
            oc.attempted += 1
    sf_dir = copy

    qmap, oracles = query_map(), oracle_map()
    with oc.phase("oracle"):
        expected = _oracle_answers(sf_dir, oracles)

    builds, plans, dfs = {}, {}, {}
    with oc.phase("build"):
        for name in HEADLINE:
            if name in ITERATIVE:
                continue
            t0 = time.perf_counter()
            dfs[name] = qmap[name](spark, sf_dir)
            builds[name] = time.perf_counter() - t0
            if ctx.trace:
                t0 = time.perf_counter()
                dfs[name]._jdf.queryExecution().executedPlan()
                plans[name] = time.perf_counter() - t0

    spark_counts = {name: [] for name in HEADLINE}

    def execute(name: str, k: int, collect: bool):
        """One execution: seconds taken and, when collecting, the result
        columns and rows; (None, None) if it raised. An iterative query is
        rebuilt from a cleared cache, and its build is timed."""
        group = f"analytic-{name}-{k}"
        if ctx.trace:
            spark.sparkContext.setJobGroup(group, name)
        oc.attempted += 1
        if name in ITERATIVE:
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = qmap[name](spark, sf_dir) if name in ITERATIVE else dfs[name]
            rows = df.collect() if collect else _materialize(df)
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            oc.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None, None
        dt = time.perf_counter() - t0
        if ctx.trace:
            spark_counts[name].append(counter.take(group))
        return dt, (df.columns, [tuple(r) for r in rows]) if collect else None

    times = {name: [] for name in HEADLINE}
    samples = []  # (query, seconds, reference seconds)

    def block(names: list[str], seconds: float) -> float:
        """A warm-up pass that doubles as the correctness pass, then whole
        timed passes (so each query is timed equally often), the next one
        only if it should end within ``seconds`` of the first; returns
        the timed wall seconds."""
        with oc.phase("warm"):
            for name in names:
                _dt, result = execute(name, 0, collect=True)
                if result is None:
                    continue
                if name == "dedup_minhash_lsh":
                    _check_pairs(result[1], result[0], texts, seeded, oc)
                else:
                    _check(name, result[1], result[0], expected, oc)
            ref = Reference(spark, partitions=4)
        t_start = time.perf_counter()
        deadline, k = t_start + seconds, 1
        while True:
            t_pass = time.perf_counter()
            for name in names:
                dt, _ = execute(name, k, collect=False)
                reference = ref.after()
                if dt is not None:
                    times[name].append(dt)
                    samples.append((name, dt, reference))
            k += 1
            now = time.perf_counter()
            if now + (now - t_pass) > deadline:
                return now - t_start

    # As bench.py: the static queries first, then the iterative ones, whose
    # cache clears would otherwise drop the persists the static builders
    # made. Each block gets its share of a pass (about 0.6 and 0.4).
    wall = block([n for n in HEADLINE if n not in ITERATIVE], STATIC_SHARE * ctx.seconds)
    wall += block([n for n in HEADLINE if n in ITERATIVE], (1 - STATIC_SHARE) * ctx.seconds)
    oc.phases["timed"] = wall
    spark.catalog.clearCache()

    pooled = [t for ts in times.values() for t in ts]
    per_query = {name: median(ts) for name, ts in times.items()}
    oc.e2e, clock = end_to_end(setups, samples)
    oc.report = {
        **clock,
        "analytic_suite_s": sum(per_query.values()),
        "analytic_build_s": sum(builds.values()),
        "p90_ms": percentile(pooled, 90) * 1000.0,
        "timed_executions": len(pooled),
        "setup_runs_s": setups,
        "exec_s": per_query,
        "build_s": builds,
        "samples": samples,
    }
    if ctx.trace:
        lay = {
            "analytic.build_s": sum(builds.values()),
            "analytic.plan_s": sum(plans.values()),
            "spark.stages": sum(median(s for _j, s, _t in c) for c in spark_counts.values() if c),
            "spark.tasks": sum(median(t for _j, _s, t in c) for c in spark_counts.values() if c),
        }
        for name, c in spark_counts.items():
            lay[f"analytic.{name}.exec_s"] = per_query[name]
            lay[f"analytic.{name}.jobs"] = median(j for j, _s, _t in c) if c else 0
        oc.layer = lay
        oc.report["spark_counts"] = spark_counts
    return oc

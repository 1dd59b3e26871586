"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query MEDIAN sec...}, "sf": <sf>, ...}

Method: one warmed SparkSession; every query's DataFrame is built ONCE
(so Catalyst analysis/optimization is paid at build, not in the timed
region — the steady-state shape of any repeated production query), then
the whole suite runs twice as warm-up (C2 JIT settling) and N_REPEATS
full timed suite passes over the same objects. Each query reports the
MEDIAN across passes — a suite-level repeat, so one noisy pass
(page-cache eviction, competing JVM) can't masquerade as a per-query
regression; the per-pass raw times ship in "runs" for spread inspection.
Results are materialized through the noop sink (full computation, no
driver transfer noise). Internal persists made by iterative queries are
built once up front and dropped after the suite.

The suite is ``perfbench/headline.py``'s frozen HEADLINE list (suite_rev
7); the repository benchmark, ``perfbench/run.py``, times the same list.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driftdb_spark.registry import query_map  # noqa: E402
from driftdb_spark.session import get_spark  # noqa: E402
from perfbench.headline import HEADLINE, ITERATIVE  # noqa: E402

N_WARMUP = 2
N_REPEATS = 3

# ---------------------------------------------------------------------------
# Machine-drift control arm. Between two rounds the same code once measured
# a uniform 1.31x "regression" that a cross-commit A/B traced to the
# machine, not the code. So every run carries its own drift divisor: a
# FROZEN workload — pure-Spark queries written inline here, no driftdb_spark
# code on the path — timed alongside the suite and compared to reference
# medians pinned when the block was introduced. "drift" =
# median(control_now / control_ref); divide two runs' totals by their drift
# factors before comparing them. DO NOT EDIT the control queries; bump
# control_rev and re-pin CONTROL_REF if they ever must change.
#
# The suite is BRACKETED by the control arm — one pass before it and one
# after — so "the machine was slow all run" can be told apart from "the
# machine degraded during the run" (the ITERATIVE block runs last and
# absorbs end-of-run degradation). A pre-suite control runs on a colder JVM
# than a post-suite one, so each arm has its own pinned reference.
CONTROL_REV = 2
CONTROL_REF_ROUND = 14  # machine state the reference medians were pinned at
CONTROL_REF_SF = "0.1"  # data scale the medians were pinned at
# pinned r14: per-arm medians of three full bench runs. The PRE arm runs
# on a colder JVM, hence its systematically higher pins.
CONTROL_REF_PRE = {
    "ctl_scan_agg": 0.263,
    "ctl_join_agg": 0.2819,
    "ctl_window_topk": 0.4398,
}
CONTROL_REF_POST = {
    "ctl_scan_agg": 0.1556,
    "ctl_join_agg": 0.1581,
    "ctl_window_topk": 0.3192,
}
# historical (control_rev=1, post-suite only, pinned r13):
#   {"ctl_scan_agg": 0.1371, "ctl_join_agg": 0.1316, "ctl_window_topk": 0.2743}
CONTROL_WARMUP = 1
CONTROL_REPEATS = 5


def _control_queries(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    scan_agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.avg("l_extendedprice").alias("ap"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    join_agg = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    window_topk = (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev"))
    )
    return {
        "ctl_scan_agg": scan_agg,
        "ctl_join_agg": join_agg,
        "ctl_window_topk": window_topk,
    }


def _run_control(spark, sf_dir: str, sf: str, ref: dict) -> dict:
    """One control-arm pass (warm + timed) against its own pinned ref."""
    dfs = _control_queries(spark, sf_dir)
    runs: dict[str, list[float]] = {name: [] for name in dfs}
    for pass_no in range(CONTROL_WARMUP + CONTROL_REPEATS):
        for name, df in dfs.items():
            t0 = time.perf_counter()
            _materialize(df)
            if pass_no >= CONTROL_WARMUP:
                runs[name].append(round(time.perf_counter() - t0, 4))
    medians = {n: round(statistics.median(ts), 4) for n, ts in runs.items()}
    out = {
        "control_rev": CONTROL_REV,
        "ref_round": CONTROL_REF_ROUND,
        "queries": medians,
        "ref": ref,
        "runs": runs,
    }
    # the pinned medians are only meaningful at the pinned data scale: at
    # any other SPARK_GRAFT_SF_DIR the frozen queries run against different
    # data volumes and the ratio is garbage. The controls are still TIMED
    # and reported — those timings are what a later analyst needs to re-pin
    # CONTROL_REF at a new scale — but the drift factor is nulled rather
    # than ~10x wrong.
    if sf != CONTROL_REF_SF:
        out["machine_drift"] = None
        out["note"] = f"sf {sf} != pinned sf {CONTROL_REF_SF}: drift not comparable"
        return out
    ratios = [
        medians[n] / ref[n]
        for n in ref
        if n in medians and ref[n] > 0
    ]
    # >1.0: this machine is SLOWER than at pin time; divide the suite
    # total by this before comparing across rounds
    out["machine_drift"] = round(statistics.median(ratios), 4) if ratios else None
    return out


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="driftdb_spark_bench")

    # drift-control arm, pass 1 of 2: machine state at suite START. Runs
    # on a colder JVM than the post-suite pass, which is why it has its
    # own pinned reference (CONTROL_REF_PRE). The suite's
    # own N_WARMUP passes still follow, so the timed region's warm-up
    # protocol is unchanged; the ~18 tiny control materializations ahead of
    # it only make the suite's first warm-up marginally warmer.
    control_pre = _run_control(spark, sf_dir, sf, CONTROL_REF_PRE)
    spark.catalog.clearCache()

    qmap = query_map()
    static = [n for n in HEADLINE if n not in ITERATIVE]
    iterative = [n for n in HEADLINE if n in ITERATIVE]
    # Build once: rebuilding per pass re-pays driver-side Catalyst planning
    # inside the timed region (~0.4 s on the widest plans — measured 1.4 s
    # vs 0.6 s on q21) and re-persists iterative queries' intermediates
    # every pass, so the suite tail inherits accumulating cache pressure.
    dfs = {name: qmap[name](spark, sf_dir) for name in static}
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for pass_no in range(N_WARMUP + N_REPEATS):
        for name in static:
            t0 = time.perf_counter()
            _materialize(dfs[name])
            if pass_no >= N_WARMUP:
                runs[name].append(round(time.perf_counter() - t0, 4))
    # Iterative block runs after static timing so its cache clears can't
    # evict the static queries' build-time persists mid-measurement.
    for pass_no in range(N_WARMUP + N_REPEATS):
        for name in iterative:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _materialize(qmap[name](spark, sf_dir))
            if pass_no >= N_WARMUP:
                runs[name].append(round(time.perf_counter() - t0, 4))
    spark.catalog.clearCache()
    # drift-control arm, pass 2 of 2: machine state at suite END. Bracketing
    # lets a consumer see within-run degradation (pre ~1.0 but post 2.0 ⇒
    # the machine decayed during the run and the late ITERATIVE block should
    # be normalized against the POST reading, not the run-wide one).
    control_post = _run_control(spark, sf_dir, sf, CONTROL_REF_POST)

    times = {name: round(statistics.median(ts), 4) for name, ts in runs.items()}
    # The stdout contract line carries MEDIANS ONLY: with per-pass raw runs
    # in it the line grew every round until a capture truncated it. Raw
    # per-pass runs (suite + both control arms) go to a sidecar file next
    # to this script; the one-line JSON keeps only what a round-over-round
    # comparison needs.
    def _slim(control: dict) -> dict:
        return {k: v for k, v in control.items() if k != "runs"}

    out = {
        "metric": "headline_suite_warm_sec",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        # Suite composition changes between rounds (r2: 16 queries best-of-3,
        # r3+: median-of-3 over a grown list). Longitudinal consumers must
        # key totals on (suite_rev, n_queries) or compare per-query entries,
        # never raw totals across revs. suite_rev 7 = r14: same
        # queries, same timed region; control arm bracketed (pre+post) and
        # raw runs moved to the sidecar.
        "suite_rev": 7,
        "n_queries": len(times),
        "aggregation": "median",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": N_REPEATS,
        "control_pre": _slim(control_pre),
        "control_post": _slim(control_post),
        # kept for longitudinal consumers of the r13 field name: the
        # post-suite arm is the same position r13's single reading had
        "machine_drift_pre": control_pre["machine_drift"],
        "machine_drift_post": control_post["machine_drift"],
    }
    if control_post["machine_drift"]:
        out["value_drift_normalized"] = round(
            out["value"] / control_post["machine_drift"], 4
        )
    sidecar = {
        "suite_rev": out["suite_rev"],
        "sf": out["sf"],
        "runs": runs,
        "control_pre_runs": control_pre["runs"],
        "control_post_runs": control_post["runs"],
    }
    sidecar_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_runs_latest.json"),
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(sidecar, f)
    except OSError:
        pass  # a read-only checkout must never break the stdout contract
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

"""Benchmark of the engine's three paths: analytic queries, served
statements and time travel.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``analytic_headline``, ``statement_mix``, ``time_travel`` (see
their modules), or ``all``, which runs the three in turn and prints every
workload's named metrics. Inputs are generated from ``--seed``; each
workload measures for ``--seconds`` after its set-up and warm-up, and
checks every answer it gets. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics of a separate traced
run). A full report, and with ``--trace 1`` the spans, go to
``.perfbench/reports/``. Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import env  # noqa: E402

#: workload -> (module, Spark scheduler mode); the statement path runs on
#: FAIR, as ``cli serve`` builds it, the batch paths on the engine default
WORKLOADS = {
    "analytic_headline": ("analytic", "FIFO"),
    "statement_mix": ("statements", "FAIR"),
    "time_travel": ("travel", "FIFO"),
}
REPORTS = os.path.join(env.WORK, "reports")


def _children(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started are
    gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _children(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = {p for p in started if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _jvm_gc_seconds(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def run_one(args) -> int:
    import common
    import metrics

    module, scheduler = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(env.WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(REPORTS, exist_ok=True)
    pinned = env.pin(run_dir)
    sys.path.insert(0, env.ROOT)
    os.chdir(run_dir)  # Spark's default warehouse and scratch land here

    from driftdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", scheduler=scheduler)
    spark_start_s = time.perf_counter() - t0
    ctx = common.Context(args.seed, args.seconds, bool(args.trace), run_dir, spark)
    if args.trace:
        import tracing

        ctx.tracer = tracing.Tracer()
        ctx.tracer.instrument_engine()
        ctx.counter = tracing.SparkCounter(spark.sparkContext)
    try:
        environment = env.record(spark, pinned)
        oc = importlib.import_module(module).run(ctx)
        gc_s = _jvm_gc_seconds(spark)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.unwrap()
        t_stop = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        os.chdir(env.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layer = metrics.TRAVEL_LAYER if args.workload == "time_travel" else metrics.PER_LAYER
        names = [m[0] for m in layer]
        measured = {**oc.layer, **{f"wall.{k}": oc.report[k] for k in ("suite_s", "ops_per_s")}}
        values = {n: measured.get(n, 0) for n in names}
        units = {m[0]: m[1] for m in layer}
        ctx.tracer.dump(os.path.join(REPORTS, f"{tag}.spans.jsonl"))
    else:
        names = [m[0] for m in metrics.END_TO_END]
        values = {n: oc.e2e[n] for n in names}
        units = {m[0]: m[1] for m in metrics.END_TO_END}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": environment,
        "jvm_gc_s": gc_s,
        "phases": {"spark_start": spark_start_s, **oc.phases, "spark_stop": stop_s},
        "e2e": oc.e2e,
        "metrics": oc.report,
        "layers": oc.layer,
        "attempted": oc.attempted,
        "failed": oc.failed,
        "errors": oc.errors,
    }
    if args.trace:
        # tracing overhead: this run's end-to-end numbers against an
        # untraced run of the same workload and seed, when one was made
        untraced = os.path.join(REPORTS, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            base = {**base["e2e"], **base["metrics"]}
            mine = {**oc.e2e, "suite_s": oc.report["suite_s"], "ops_per_s": oc.report["ops_per_s"]}
            report["trace_overhead"] = {k: v - base[k] for k, v in mine.items() if k in base}
    with open(os.path.join(REPORTS, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    print(f"{args.workload} seed={args.seed} nproc={environment['nproc']} "
          f"driver_mem={environment['driver_mem']} pyspark={environment['pyspark']} "
          f"java={environment['java']} commit={environment['git_commit'] or environment['source_sha256']}")
    for k, v in oc.report.items():
        if isinstance(v, (int, float)):
            print(f"  {k:<34} {v:.6g}")
    for err in oc.errors:
        print(f"  FAILED: {err}", file=sys.stderr)
    correct = oc.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": oc.attempted,
        "failed": oc.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    return 0 if correct else 1


#: the workload-specific metrics each workload reports, with units
NAMED = {
    "analytic_headline": (("analytic_suite_s", "s"), ("analytic_build_s", "s")),
    "statement_mix": (
        ("stmt_p50_ms", "ms"), ("stmt_p90_ms", "ms"), ("stmts_per_s", "1/s"),
        ("insert_p50_ms", "ms"), ("update_p50_ms", "ms"), ("delete_p50_ms", "ms"),
        ("point_select_p50_ms", "ms"), ("asof_select_p50_ms", "ms"),
    ),
    "time_travel": (
        ("travel_p50_s", "s"), ("travel_p75_s", "s"), ("compact_s", "s"),
        ("bytes_per_live_byte", "ratio"),
    ),
}


def run_all(args) -> int:
    """Each workload in its own process (the scheduler mode is fixed per
    JVM); then every workload's named metrics with units."""
    results, ok = {}, True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        results[w] = json.loads(lines[-1]) if lines else None
        ok = ok and proc.returncode == 0 and results[w] is not None
    print("workload            metric                     value        unit")
    for w in WORKLOADS:
        path = os.path.join(REPORTS, f"{w}-seed{args.seed}-trace{args.trace}.json")
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            rep = json.load(fh)
        rows = [("setup_s", rep["e2e"]["setup_s"], "s")]
        rows += [(n, rep["metrics"][n], u) for n, u in NAMED[w]]
        rows += [("ops_attempted", rep["attempted"], "count"), ("ops_failed", rep["failed"], "count")]
        for name, value, unit in rows:
            print(f"{w:<19} {name:<26} {value:<12.6g} {unit}")
    print(json.dumps({
        "correct": ok and all(r["correct"] for r in results.values() if r),
        "attempted": sum(r["attempted"] for r in results.values() if r),
        "failed": sum(r["failed"] for r in results.values() if r),
        "metrics": {f"{w}.{k}": v for w, r in results.items() if r for k, v in r["metrics"].items()},
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(env.ROOT, "driftdb_spark", "__init__.py")):
        print("perfbench: no driftdb_spark/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

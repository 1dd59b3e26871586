"""Self-test of the benchmark.

    python3 perfbench/selftest.py [--seed N] [--seconds S]

Runs a shortened traced ``statement_mix`` twice with the same seed. Both
runs must pass every model check, and statement by statement (over the
statements both runs timed, which must include every kind) give identical
Spark job, stage and task counts and ``EventLog.last_sequence`` call
counts: with one client and no timers those counts are exact, so a
difference means the benchmark's inputs or tracing are not deterministic.
Also checks that ``BENCHMARK.json`` lists this package's metric catalogue.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from run import REPORTS  # noqa: E402
from statements import OPS  # noqa: E402


def _catalogue_problems() -> list[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want_e2e = [
        {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in metrics.END_TO_END
    ]
    want_layer = [{"name": n, "unit": u, "better": b} for n, u, b in metrics.PER_LAYER]
    out = []
    if spec["end_to_end"] != want_e2e:
        out.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if spec["per_layer"] != want_layer:
        out.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    return out


def _traced_run(seed: int, seconds: float) -> dict:
    """The run's stdout result plus its report."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "statement_mix",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"selftest: traced run exited {proc.returncode}")
    with open(os.path.join(REPORTS, f"statement_mix-seed{seed}-trace1.json")) as fh:
        return {**json.loads(lines[-1]), "report": json.load(fh)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=30)
    args = p.parse_args()
    problems = _catalogue_problems()
    a, b = (_traced_run(args.seed, args.seconds) for _ in range(2))
    for run in (a, b):
        if not run["correct"] or run["failed"]:
            problems.append(f"a run failed {run['failed']} of {run['attempted']} checks")
    sa, sb = a["report"]["metrics"]["statements"], b["report"]["metrics"]["statements"]
    common = min(len(sa), len(sb))
    for i, (x, y) in enumerate(zip(sa, sb)):
        print(f"{i:>3} {x['op']:<13} jobs/stages/tasks {x['spark']} {y['spark']} "
              f"last_sequence {x['last_sequence_calls']} {y['last_sequence_calls']}")
        if x != y:
            problems.append(f"statement {i} ({x['op']}): {x} != {y}")
    missing = set(OPS) - {x["op"] for x in sa[:common]}
    if missing:
        problems.append(f"no timed {sorted(missing)} in both runs (raise --seconds)")
    for msg in problems:
        print(f"FAIL {msg}")
    print("selftest", "FAIL" if problems else "PASS")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

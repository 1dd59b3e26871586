"""Environment the benchmark pins before Spark starts, and the record of it.

Everything a run writes stays under ``<checkout>/.perfbench``: Spark's
local dirs, the JVM and Python temp dirs, generated inputs, table storage
and the per-run reports.
"""

from __future__ import annotations

import hashlib
import os
import platform
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin(run_dir: str) -> dict:
    """Set the engine's environment knobs for this process and the JVM it
    will launch. Driver memory is capped well below physical RAM: the
    engine's own default (16g) exceeds small hosts."""
    mem = max(512, min(2048, _mem_total_mb() // 4))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # no hsperfdata file under the system /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return {
        "nproc": nproc(),
        "driver_mem": f"{mem}m",
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
    }


def source_fingerprint() -> str:
    """sha256 over the engine's sources: the checkout the benchmark runs
    in is not a git repository, so this stands in for the commit id."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "driftdb_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def record(spark, pinned: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        **pinned,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "git_commit": git_commit(),
        "source_sha256": source_fingerprint(),
    }

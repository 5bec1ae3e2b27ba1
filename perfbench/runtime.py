"""Process set-up and readings from the Spark runtime under the program.

Everything here reads public interfaces: ``/proc`` for memory, the JVM's
management beans for GC time, Spark's event log for per-task metrics, and
system properties for versions.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import shlex
import subprocess


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without affinity masks
        return os.cpu_count() or 1


def load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def prepare_env(work: str, event_log_dir: str | None) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and pin the core count, before the JVM starts.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_LOCAL_DIRS`` follow the contract of the
    repository's ``bench.py``: honored when set, defaulted otherwise (cores
    to the affinity mask, local dirs under ``work``).
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    args = [
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            "spark.eventLog.compress=false",
            "--conf",
            f"spark.eventLog.dir=file://{event_log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [a if a.startswith("'") else shlex.quote(a) for a in args] + ["pyspark-shell"]
    )


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def gc_seconds(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def versions(spark) -> dict:
    system = spark._jvm.java.lang.System
    return {
        "pyspark": __import__("pyspark").__version__,
        "spark": spark.version,
        "jvm": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
    }


def git_commit(root: str) -> str:
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def task_totals(event_log_dir: str, t0: float, t1: float) -> dict:
    """Sum task metrics over tasks that finished in ``[t0, t1]`` (epoch s),
    from every event log in ``event_log_dir``."""
    tot = {"tasks": 0, "rows_read": 0, "bytes_read": 0, "shuffle_write_bytes": 0}
    paths = glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a line still being written
                    continue
                fin = ev.get("Task Info", {}).get("Finish Time", 0) / 1000.0
                if not t0 <= fin <= t1:
                    continue
                m = ev.get("Task Metrics") or {}
                inp = m.get("Input Metrics") or {}
                shw = m.get("Shuffle Write Metrics") or {}
                tot["tasks"] += 1
                tot["rows_read"] += inp.get("Records Read", 0)
                tot["bytes_read"] += inp.get("Bytes Read", 0)
                tot["shuffle_write_bytes"] += shw.get("Shuffle Bytes Written", 0)
    return tot

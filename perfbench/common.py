"""Shared plumbing for the benchmark's processes: pinned Spark settings,
checkout-local scratch directories and host-noise probes."""

from __future__ import annotations

import os
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Pinned so every run sees the same executor width and heap; the engine's
# default 48g heap exceeds a 15 GB host.  Recorded in every result artifact.
SPARK_ENV = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
}
BUCKETS = 4  # artifact buckets, serving graph and build pass alike
TABLE_PREFIX = "perfbench"
TABLE_KEYS = {
    "nodes": "id",
    "edges": None,
    "edges_bidir": "node_id",
    "subclass_closure": "ancestor",
    "id_synonyms": "alias_id",
}


def child_env() -> dict:
    """Environment for a benchmark child process: pinned Spark sizing and
    every scratch path inside the checkout (emptied by ``fresh_scratch``)."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(SPARK_ENV)
    env["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    env["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, and no hsperfdata counter files outside it
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, env.get("PYTHONPATH")) if p
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def fresh_scratch() -> None:
    """Empty the scratch dirs a killed JVM may have left behind."""
    import shutil

    for name in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)


def spark_session(app: str):
    """The program's own session factory, plus benchmark-only settings:
    no console progress bars, and warehouse/temp dirs in the checkout."""
    from ploverdb_spark.session import get_spark

    return get_spark(
        app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
        },
    )


def host_probe() -> dict:
    """1-minute load average and cumulative CPU steal (jiffies) from
    /proc, so a noisy window shows in the artifact."""
    out = {"load_1m": os.getloadavg()[0], "at": time.time()}
    try:
        with open("/proc/stat", encoding="utf-8") as f:
            cpu = f.readline().split()
        out["steal_jiffies"] = int(cpu[8])
        out["total_jiffies"] = sum(int(x) for x in cpu[1:])
    except (OSError, IndexError, ValueError):
        out["steal_jiffies"] = out["total_jiffies"] = -1
    return out


def host_noise(start: dict, end: dict) -> dict:
    dt = end["total_jiffies"] - start["total_jiffies"]
    steal = end["steal_jiffies"] - start["steal_jiffies"]
    return {
        "load_1m_start": start["load_1m"],
        "load_1m_end": end["load_1m"],
        "steal_pct": round(100.0 * steal / dt, 3) if dt > 0 else -1.0,
    }


def peak_rss_mb() -> float:
    """Peak RSS of this Python process (VmHWM)."""
    with open("/proc/self/status", encoding="utf-8") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return -1.0

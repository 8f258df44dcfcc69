"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with a cheap action (count) so the full plan executes;
a warmup pass primes the JVM/codegen so numbers reflect steady-state.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _progress(msg: str) -> None:
    if os.environ.get("SPARK_GRAFT_BENCH_QUIET"):
        return
    print(msg, file=sys.stderr, flush=True)


def _host_load() -> float:
    try:
        with open("/proc/loadavg", encoding="utf-8") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _data_fingerprint(sf_dir: str) -> dict:
    """Identify the exact testdata this run timed: per-table file md5 +
    byte size.  The driver regenerates testdata between rounds, so floor
    comparisons across BENCH artifacts are only attributable (code vs
    host vs data) when each artifact names its inputs.  Whole-file md5
    beats a row sample here: each table is one parquet file, and 17 MB
    total hashes in ~50 ms."""
    import hashlib

    from ploverdb_spark.catalog import TABLES

    fp = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            h = hashlib.md5()
            with open(path, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            fp[t] = {"bytes": os.path.getsize(path), "md5": h.hexdigest()}
        except OSError:
            fp[t] = {"bytes": -1, "md5": ""}
    return fp


def bench_line(
    timings: dict[str, float],
    *,
    sf: float,
    load_start: float,
    reps: int,
    reps_file: str,
    load_end: float,
    gate_passed: bool | None,
    io_bulk_mb_s: float,
) -> str:
    """The one JSON line bench.py prints.

    The driver keeps only the LAST 2,000 characters of stdout.  So the
    queries dict, the bulk of the line, goes last but for a compact
    summary (total, gate verdict, bulk-IO reading), and it lists the
    queries slowest last: the tail always holds the entries that dominate
    the total.  Per-rep lists and the data fingerprint go to the sidecar
    file named by ``reps_file``."""
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    return json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "host_load_avg_start": load_start,
            "reps": reps,
            "reps_file": reps_file,
            "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
            "host_load_avg_end": load_end,
            "gate_passed": gate_passed,
            "io_bulk_mb_s_end": io_bulk_mb_s,
            "total_sec": total,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    from ploverdb_spark.catalog import all_queries
    from ploverdb_spark.session import get_spark, wait_for_quiet_host

    # Self-gate: bounded spin-wait for 1-min AND 5-min load < 2.5 before
    # timing (the repo's methodology gates regression reads on < 2.5; a
    # contended run is recorded as gate_passed=false instead of silently
    # producing untrustworthy walls).  SPARK_GRAFT_BENCH_NO_GATE=1 skips
    # the wait (e.g. the driver's per-round run where wall budget matters).
    if os.environ.get("SPARK_GRAFT_BENCH_NO_GATE"):
        gate = {"gate_passed": None, "waited_sec": 0.0}
    else:
        gate_wait = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_SEC", "600"))
        _progress(f"# waiting (<= {gate_wait:.0f}s) for quiet host ...")
        gate = wait_for_quiet_host(timeout_sec=gate_wait)
        _progress(f"# load gate: {gate}")
    # Recorded so every bench artifact can prove (or disprove) it ran on a
    # quiet host.
    load0 = _host_load()

    spark = get_spark("ploverdb_spark_bench")
    qs = all_queries()
    # SPARK_GRAFT_BENCH_ONLY="a,b,c": time just those queries (floor
    # re-checks on a briefly-quiet host shouldn't pay the full catalog)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        qs = {n: qs[n] for n in names}

    # Warmup: prime JVM, codegen, and parquet footer caches with one FULL
    # execution per query.  limit(1) warmup (used through round 10) left
    # iterative plans cold — d6's pointer-jump CC short-circuits under a
    # limit, so its first timed rep paid JIT/codegen warmth and the
    # min-of-3 floor was only reachable with external context
    # (BENCH_r10: 2.666 emitted vs 2.179 min-of-3 in a warm window).
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
        except Exception:
            pass
        _progress(f"# warmup {name}: {time.perf_counter() - t0:.2f}s")

    # min-of-N per query: single runs carry multi-second scheduler/GC
    # jitter in local mode; the min is the steady-state cost of the plan.
    # Every rep is also emitted (query_reps) so a floor read is auditable
    # from the artifact alone — the jitter is visible, not hidden.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    rep_lists: dict[str, list[float]] = {}
    for name, fn in qs.items():
        runs: list[float] = []
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                runs.append(round(time.perf_counter() - t0, 4))
            rep_lists[name] = runs
            timings[name] = min(runs)
            _progress(f"# timed {name}: {timings[name]:.2f}s {runs}")
        except Exception as exc:  # a failing query should not hide the rest
            timings[name] = -1.0
            rep_lists[name] = runs
            print(f"# bench error {name}: {exc}")

    sidecar = {
        "query_reps": rep_lists,
        "data_fingerprint": _data_fingerprint(sf_dir),
        "load_gate": gate,
    }
    reps_file = os.environ.get(
        "SPARK_GRAFT_BENCH_REPS_FILE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_reps_last.json"),
    )
    try:
        with open(reps_file, "w", encoding="utf-8") as f:
            json.dump(sidecar, f, indent=1)
    except OSError:
        reps_file = ""

    from ploverdb_spark.session import io_bulk_probe

    print(
        bench_line(
            timings,
            sf=sf,
            load_start=load0,
            reps=reps,
            reps_file=reps_file,
            load_end=_host_load(),
            gate_passed=gate.get("gate_passed"),
            io_bulk_mb_s=io_bulk_probe(),
        )
    )


if __name__ == "__main__":
    main()

"""SparkSession factory tuned for both local testing and cluster scale.

Local mode runs a single JVM with N threads; on a real cluster the same
settings hold (AQE handles runtime re-planning, skew joins and partition
coalescing).  ``spark.sql.session.timeZone=UTC`` is pinned so timestamp
results compare exactly against the DuckDB oracle (DuckDB timestamps are
UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g.  A fixed 48g heap on
    a smaller host lets the driver JVM grow past physical RAM, and the
    kernel OOM-kills it before it collects garbage; the other half is left
    to the Python workers and the OS."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


# Sized for local[32] testing; on a 1000-executor cluster these would be set
# by the deployment (shuffle.partitions ~ 2-3x total cores, autoBroadcast
# threshold per executor memory).
_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce small post-shuffle partitions instead of maximizing task
    # count — tiny stages otherwise pay 32-128x scheduling overhead.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Concurrent queries share the session fairly instead of FIFO-starving
    # (serving stance — the reference runs 8-16 parallel workers).
    "spark.scheduler.mode": "FAIR",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    ),
    "spark.ui.enabled": "false",
    "spark.sql.parquet.filterPushdown": "true",
    # limit().collect() otherwise probes 1 partition, then 4, 16, ... —
    # on a selective serving lookup (few matching rows) that is 4
    # SEQUENTIAL job waves per query (~1.3s measured at 30M-edge scale
    # where the single parallel wave costs ~0.2s).  Serving latency wants
    # one wave over all partitions.
    "spark.sql.limit.initialNumPartitions": "10000",
    # Spark 4.1's checksummed checkpoint writer deadlocks its async
    # commit on local-FS stateful-streaming state stores (observed:
    # HDFSBackedStateStore.commit stuck in
    # ChecksumCheckpointFileManager.awaitResult); plain checkpoint files
    # are fine for this engine's streaming operators.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


# Runtime-settable SQL confs for a SERVING deployment (cached, sorted,
# bucketed KG tables answering tiny point lookups).  These are serving
# tunes, NOT analytics defaults — e.g. keeping big id lists in `In` form
# helps the sorted cached serving tables (stat-based batch pruning
# evaluates In but ignores InSet; measured 2x+ at 30M-edge scale) but on
# unsorted analytics data it makes every row pay an O(|ids|) linear scan
# instead of an InSet hash probe (f4_symmetric_lookup 1.76s vs 0.55s at
# sf0.1).  Apply via apply_serving_conf() next to the serve-mode AQE
# toggle; never put these in _DEFAULTS.
SERVING_SQL_CONF = {
    # serve from the cache / exact bucket pruning, not AQE-rewritten scans
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # serving plans are tiny and stable; AQE re-planning is driver overhead
    "spark.sql.adaptive.enabled": "false",
    # Membership form for pinned-id lists: In up to 16 values, InSet
    # (hash per-row) above.  Round-10 profiling on the cached 60M-row
    # edges_bidir measured the linear In eval at 0.90-1.7 s for a 100-id
    # list (it IS the /neighbors repeat-batch cost) vs 0.24-0.31 s for
    # InSet — In-form batch-stat pruning only removes ~1/3 of sorted
    # batches when 100 ids spread across the id space, so the per-row
    # form dominates.  Typical TRAPI pinned lists (1-2 ids, synonym fans
    # of a handful) stay In and keep full stat pruning; big batches keep
    # stat pruning through their explicit BETWEEN conjunct
    # (query/response.py get_neighbors) while membership goes hash.
    "spark.sql.optimizer.inSetConversionThreshold": "16",
}


def apply_serving_conf(spark: SparkSession) -> SparkSession:
    """Switch an existing session into the serving stance (runtime-settable
    SQL confs only — safe to call after tables are registered/cached)."""
    for k, v in SERVING_SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def io_canary(n_mb: int = 32, trials: int = 3, path: str | None = None) -> dict:
    """Host-IO contention probe: median write+fsync latency of ``n_mb``
    to a scratch file.

    Why write+fsync: every round-9 SLO abort was IO contention the
    loadavg gate could not see (45 s stalls on a CACHED single-id lookup;
    a serial one-hop canary reading 3.5-9.7 s vs the 1.10 s quiet
    record).  A read probe is defeated by host-side caching (measured:
    O_DIRECT re-reads at 1.3 GB/s through the hypervisor cache), but
    fsync must reach the shared device queue — it stalls exactly when the
    disk is contended.  Quiet record on this box: ~0.08 s for 32 MB
    (~390 MB/s); the gate bar is set at ~3x that.

    Returns ``{"io_probe_sec": median, "io_probe_mb_s": ...}``; on any
    OS error returns ``{"io_probe_sec": -1.0, "io_probe_mb_s": -1.0}``
    (callers treat a failed probe as not-gating).
    """
    import statistics
    import time as _time

    path = path or os.environ.get("SPARK_GRAFT_IO_CANARY", "/tmp/ploverdb_io_canary.bin")
    buf = os.urandom(1 << 20) * n_mb
    secs = []
    try:
        for _ in range(trials):
            t0 = _time.monotonic()
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
            try:
                os.write(fd, buf)
                os.fsync(fd)
            finally:
                os.close(fd)
            secs.append(_time.monotonic() - t0)
        os.unlink(path)
    except OSError:
        return {"io_probe_sec": -1.0, "io_probe_mb_s": -1.0}
    med = statistics.median(secs)
    return {
        "io_probe_sec": round(med, 3),
        "io_probe_mb_s": round(n_mb / med, 1) if med > 0 else -1.0,
    }


def io_bulk_probe(
    n_mb: int = 256,
    deadline_sec: float = 8.0,
    chunk_mb: int = 32,
    path: str | None = None,
) -> float:
    """Sustained-write throughput (MB/s), deadline-bounded.

    The 32 MB :func:`io_canary` measures device-queue LATENCY and stayed
    250-467 MB/s through a persistent ~3.8x bulk-throughput degradation
    (round 10: byte-identical build path 4.0 -> 15.1 min); only a
    sustained multi-chunk write sees that state.  Chunked with a
    deadline so a degraded window (measured 10.5 MB/s) costs at most
    ``deadline_sec`` + one in-flight chunk instead of ~25 s, and the
    reading is computed over the bytes actually written — a partial
    probe is still a valid MB/s.  Returns -1.0 on OS error.
    """
    import time as _time

    path = path or os.environ.get(
        "SPARK_GRAFT_IO_CANARY", "/tmp/ploverdb_io_canary.bin"
    )
    buf = os.urandom(1 << 20) * chunk_mb
    written_mb = 0
    try:
        t0 = _time.monotonic()
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
        try:
            while written_mb < n_mb:
                os.write(fd, buf)
                os.fsync(fd)
                written_mb += chunk_mb
                if _time.monotonic() - t0 >= deadline_sec:
                    break
        finally:
            os.close(fd)
        elapsed = _time.monotonic() - t0
        os.unlink(path)
    except OSError:
        return -1.0
    return round(written_mb / elapsed, 1) if elapsed > 0 else -1.0


# 3x the quiet-host record (0.08 s for 32 MB): past this the device
# queue is contended and wall-clock timings will read 10%+ over.
IO_CANARY_BAR_SEC = 0.25

# Measured healthy floor for the sustained probe (round 10: healthy
# windows read 52-113 MB/s, the degraded state 10.5; the 07:48 record
# proved the 32 MB probe blind to it).  Callers opt in via
# wait_for_quiet_host(bulk_bar_mb_s=...).
IO_BULK_BAR_MB_S = 50.0


def wait_for_quiet_host(
    max_load: float = 2.5,
    timeout_sec: float = 1800.0,
    poll_sec: float = 15.0,
    io_bar_sec: float | None = IO_CANARY_BAR_SEC,
    bulk_bar_mb_s: float | None = None,
) -> dict:
    """Bounded spin-wait for a quiet host before timing anything.

    The box is multi-tenant: four consecutive rounds of bench artifacts
    were invalidated by external load.  "Quiet" means BOTH the 1-minute
    AND the 5-minute load averages are under ``max_load`` — a 1-min dip
    inside a high 5-min average is a lull, not a quiet box (learned in
    round 8: load-1m 1.30 at launch, 5-min ~16, run failed its SLO) —
    AND the :func:`io_canary` write+fsync probe under ``io_bar_sec``
    (learned in round 9: loadavg passed while host IO was 3x degraded;
    five SLO attempts each cost ~7 min to discover it).  Pass
    ``io_bar_sec=None`` to disable the IO leg.  ``bulk_bar_mb_s`` adds a
    sustained-throughput leg (:func:`io_bulk_probe`, default off): quiet
    means the 256 MB chunked write also sustains at least that many
    MB/s — the round-10 degraded state the 32 MB probe can't see.

    Returns a record for the benchmark artifact so every run self-documents
    whether it was gated in, timed out, or launched hot:
    ``{"gate_passed": bool, "waited_sec": float, "load_1m": float,
       "load_5m": float, "io_probe_sec": float, "io_probe_mb_s": float}``.
    """
    import time as _time

    t0 = _time.monotonic()

    def record(passed: bool, l1: float, l5: float, probe: dict | None) -> dict:
        out = {
            "gate_passed": passed,
            "waited_sec": round(_time.monotonic() - t0, 1),
            "load_1m": round(l1, 2),
            "load_5m": round(l5, 2),
        }
        out.update(probe or {"io_probe_sec": -1.0, "io_probe_mb_s": -1.0})
        return out

    while True:
        try:
            l1, l5, _ = os.getloadavg()
        except OSError:
            return {
                "gate_passed": False, "waited_sec": 0.0,
                "load_1m": -1.0, "load_5m": -1.0,
                "io_probe_sec": -1.0, "io_probe_mb_s": -1.0,
            }
        probe = None
        if l1 < max_load and l5 < max_load:
            if io_bar_sec is None:
                return record(True, l1, l5, None)
            probe = io_canary()
            # a failed probe (-1) must not spin the gate forever
            if probe["io_probe_sec"] <= io_bar_sec:
                # Sustained-bulk reading alongside the latency canary:
                # round 10 proved the 32 MB fsync probe blind to a
                # persistent ~3.8x bulk-IO state change (probe
                # 405-467 MB/s while the byte-identical build path ran
                # 4.0 -> 15.1 min).  Recorded always; GATING only when
                # the caller passes ``bulk_bar_mb_s`` (full-cycle SLO
                # runs gate at IO_BULK_BAR_MB_S).  A failed probe (-1)
                # never gates.  Deadline-bounded, so a degraded window
                # costs seconds here, not half a minute; the settle
                # sleep drains the device queue the probe itself filled
                # before the caller starts timing.
                probe["io_bulk_mb_s"] = io_bulk_probe()
                bulk_ok = (
                    bulk_bar_mb_s is None
                    or probe["io_bulk_mb_s"] < 0
                    or probe["io_bulk_mb_s"] >= bulk_bar_mb_s
                )
                if bulk_ok:
                    _time.sleep(1.0)
                    return record(True, l1, l5, probe)
        if _time.monotonic() - t0 >= timeout_sec:
            return record(False, l1, l5, probe)
        _time.sleep(poll_sec)


def get_spark(app_name: str = "ploverdb_spark", extra_conf: dict | None = None) -> SparkSession:
    """Return (or create) the singleton SparkSession.

    If a session already exists (e.g. the driver created one and passed it
    to ``entry()``), its config wins; we only apply defaults on first
    creation.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

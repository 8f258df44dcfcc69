"""Multi-KP endpoint dispatch — the engine-side API surface.

The reference serves each knowledge provider (KP) under its own URL prefix
from one process (main.py:50-65, one PloverDB instance per config*.json).
This module is the framework-agnostic equivalent: a registry of named
:class:`TrapiEngine` instances and a ``handle()`` dispatcher implementing
the reference's endpoint semantics and status codes.  An HTTP frontend
(FastAPI/Flask behind an async gateway, per SURVEY §4.2's backpressure
note) wires routes straight to ``handle`` — kept out of this repo's
dependencies on purpose; the engine surface is fully testable without it.

Endpoints (reference main.py routes):
- GET  /                      -> instance home page (main.py:130-158)
- GET  /<kp_endpoint_name>    -> per-KP home page (main.py:651-658, built
                                 from kp_home_template.html at
                                 plover.py:1357-1368; routed here as
                                 path='home' + endpoint)
- POST /query                 -> TRAPI one-hop / edgeless (R6 slim modes honored)
- POST /edges                 -> pairwise edge lookup (J10)
- POST /neighbors             -> batch adjacency (J11)
- GET  /meta_knowledge_graph  -> A1/A3 payload
- GET  /sri_test_triples      -> A2 payload
- GET  /healthcheck           -> '' (main.py:256-259)
- GET  /code_version          -> build metadata (main.py:262-276)
- GET  /get_logs              -> tail of the engine's query log (main.py:630-637)
- GET  /debug                 -> driver memory + Spark cache report (main.py:285-567)
- GET  /debug/last            -> cached most-recent debug snapshot +
                                 last-query stats (main.py:554-568)
- POST /rebuild               -> token-gated rebuild + atomic engine swap
                                 (rebuild_main.py:45-68)
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import deque
from typing import Any

from ploverdb_spark.build.meta_kg import build_meta_kg, test_triples
from ploverdb_spark.query.compiler import QueryError, TrapiEngine
from ploverdb_spark.query.response import REQUEST, get_edges, get_neighbors, run_query

DEFAULT_QUERY_TIMEOUT_SEC = 45  # parity with uwsgi.ini:10 (harakiri)
DEFAULT_MAX_WORKERS = 16  # parity with UWSGI_PROCESSES (Dockerfile:58)
DEFAULT_BACKLOG = 512  # parity with uwsgi.ini:33 (nginx listen backlog)

_query_seq = itertools.count()


# FAIR scheduler pool names, recycled.  Spark creates a pool for every
# new name and never removes one, so a fresh name per request grew the
# scheduler's pool list without bound (8002 pools after 8000 queries; a
# 4-task job's p50 rose from 28 ms at 3k pools to 44 ms at 8k).  A name is
# freed when its request's thread ends, so a timed-out query's pool is not
# shared while its jobs are cancelled; pools then number the peak
# concurrency.
_free_pools: list[str] = []
_pools_lock = threading.Lock()


def _take_pool() -> str:
    with _pools_lock:
        return _free_pools.pop() if _free_pools else f"trapi-pool-{next(_query_seq)}"


def _give_pool(name: str) -> None:
    with _pools_lock:
        _free_pools.append(name)


def run_query_with_timeout(
    engine: TrapiEngine, query: dict, timeout_sec: float = DEFAULT_QUERY_TIMEOUT_SEC
) -> dict:
    """``run_query`` under the reference's per-request timeout semantics
    (45 s harakiri, uwsgi.ini:10) — Spark-native: the query runs in its
    own thread with a job group; on timeout every Spark job in the group
    is cancelled (interruptOnCancel) and a 504-equivalent QueryError
    raises.  Job groups are thread-local, so concurrent queries cancel
    independently."""
    sc = engine.spark.sparkContext
    group = f"trapi-query-{next(_query_seq)}"
    out: dict[str, Any] = {}

    def target() -> None:
        sc.setJobGroup(group, "TRAPI query", interruptOnCancel=True)
        # One FAIR pool per in-flight query: with spark.scheduler.mode=FAIR,
        # jobs inside a single pool still run FIFO — a burst's jobs all
        # land in the default pool and serialize behind each other
        # (measured: the burst wall tracked the FIFO queue, mass-504ing
        # the tail).  Distinct pools share the cluster fairly, so every
        # in-flight query makes progress and the harakiri clock measures
        # its own work.
        pool = _take_pool()
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            out["body"] = run_query(engine, query)
        except BaseException as e:  # noqa: BLE001 — relayed to caller
            out["error"] = e
        finally:
            # PySpark's SparkContext has no clearJobGroup(); resetting the
            # thread-local properties is the supported equivalent.
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
            sc.setLocalProperty("spark.scheduler.pool", None)
            _give_pool(pool)

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_sec)
    if t.is_alive():
        sc.cancelJobGroup(group)
        raise QueryError(
            504, f"Query exceeded the {timeout_sec:.0f}s processing limit."
        )
    if "error" in out:
        raise out["error"]
    return out["body"]

@contextlib.contextmanager
def _request_pool(engine: TrapiEngine):
    """Per-request FAIR scheduler pool (see run_query_with_timeout's pool
    note) for Spark-heavy endpoints served on the request thread."""
    sc = engine.spark.sparkContext
    pool = _take_pool()
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
        _give_pool(pool)


LOG_TAIL_MAX = 2000  # parity with main.py:635 (num_lines clamp 1..2000)


class KpRegistry:
    """endpoint name -> engine, with the reference's default-endpoint rule
    (lexicographically smallest name, main.py:50-65).

    ``query_timeout_sec`` is the per-request harakiri deadline (the
    reference's uwsgi.ini:10 value — configurable per deployment; tests
    raise it so cold-start warmup on a loaded box doesn't read as 504).

    Admission control mirrors the reference's serving stack (nginx
    connection buffering in front of a bounded uWSGI worker pool,
    README.md:505-511 + uwsgi.ini:33): at most ``max_workers`` Spark-heavy
    requests (query/edges/neighbors the driver index cannot answer, and
    the hub answers it builds) execute concurrently, up to ``backlog`` more wait in queue, anything
    beyond that — or a queue wait exceeding ``queue_wait_sec`` — gets
    503 backpressure (the burst SLO allows 503s, never 504s).  Crucially
    the harakiri clock starts when a worker PICKS UP the request, exactly like uWSGI's — without the pool,
    a 100-request burst puts queueing time inside every request's 45 s
    window and the tail mass-504s.  ``max_workers=None`` disables the
    pool (unit-test mode)."""

    def __init__(
        self,
        query_timeout_sec: float = DEFAULT_QUERY_TIMEOUT_SEC,
        rebuild_token: str | None = None,
        max_workers: int | None = DEFAULT_MAX_WORKERS,
        backlog: int = DEFAULT_BACKLOG,
        queue_wait_sec: float = 300.0,
        client_window_sec: float | None = None,
    ) -> None:
        self._engines: dict[str, TrapiEngine] = {}
        self._logs: dict[str, deque] = {}
        self._meta_cache: dict[str, dict] = {}
        self._build_node_cache: dict[str, dict | None] = {}
        # /debug/last cache (reference main.py:35-36, 526-527): refreshed
        # by every /debug call; the per-query stats are refreshed by every
        # handled query.
        self._last_debug: dict | None = None
        self._last_query: dict | None = None
        self.query_timeout_sec = query_timeout_sec
        # /rebuild requires this token when set (reference auth_request,
        # rebuild_main.py:45-68); None disables the endpoint entirely.
        self.rebuild_token = rebuild_token
        self.backlog = backlog
        self.queue_wait_sec = queue_wait_sec
        # Doomed-request shedding: when set, a request whose ESTIMATED
        # completion (queue depth x a moving per-request latency) already
        # exceeds the client's timeout window is 503'd immediately instead
        # of burning a worker slot to produce a 504 the client will never
        # read.  The reference bar explicitly allows 503 backpressure and
        # never 504 (test_burst_backpressure.py:26-28); under a degraded
        # host the engine previously timed out instead of shedding.
        self.client_window_sec = client_window_sec
        self._max_workers = max_workers
        self._lat_lock = threading.Lock()
        self._lat_cond = threading.Condition(self._lat_lock)
        self._lat_ewma: float | None = None
        self._lat_noted_at: float | None = None  # monotonic, last completion
        self._n_inflight = 0
        self._worker_slots = (
            threading.Semaphore(max_workers) if max_workers else None
        )
        self._queue_lock = threading.Lock()
        self._n_queued = 0

    def _note_latency(self, sec: float) -> None:
        """Fold one completed Spark-heavy request into the moving
        estimate (EWMA, alpha 0.3: reactive to a degrading host within a
        few requests, stable against one outlier)."""
        import time as _time

        with self._lat_lock:
            self._lat_ewma = (
                sec
                if self._lat_ewma is None
                else 0.7 * self._lat_ewma + 0.3 * sec
            )
            self._lat_noted_at = _time.monotonic()
            # wake any doom-parked arrivals: fresh evidence to re-judge on
            self._lat_cond.notify_all()

    def _shed_if_doomed(self) -> None:
        """503 a request that cannot finish inside the client window.

        Estimate: with ``ahead = inflight + queued`` requests holding or
        waiting for the ``max_workers`` pool and a moving per-request
        latency L, a new arrival completes in roughly
        ``L * (ahead / max_workers + 1)`` (its queue wait plus its own
        run).  Past the window, admitting it only converts a fast honest
        503 into a slow 504 — the one status the SLO forbids.  No
        estimate yet (cold process) admits: shedding needs evidence.

        Saturation guard (``ahead >= 2 * max_workers``): the EWMA only
        learns from COMPLETIONS, so after a contended burst it reads
        high, and a mass arrival would be shed wholesale on stale
        evidence before a single new completion can correct it
        (observed: a recovered host's burst shed 89/100 while the 11
        admitted finished in milliseconds).  Admitting until the pool is
        genuinely backed up costs at most ~2 pool-depths of work — on a
        fast host those completions pull the EWMA down within one pool
        drain and nothing more is shed; on a degraded host they confirm
        the estimate and the tail sheds as intended.

        Freshness guard: the saturation guard alone cannot protect a
        BURST arrival — any 100-wave saturates the pool within
        milliseconds, satisfying ``ahead >= 2 * max_workers`` while the
        EWMA still describes a contended window that ended a minute ago
        (observed: endurance burst after an idle gap shed 79/100 on the
        PRIMARY burst's EWMA while its 21 admitted requests finished in
        0.15 s).  Evidence older than one client window is treated as
        expired: admit, let completions re-teach the estimate, and rely
        on the dequeue-time ground-truth check to bound the damage if
        the host really is still degraded."""
        if self.client_window_sec is None or self._worker_slots is None:
            return
        import time as _time

        doomed, est = self._doomed_now()
        if not doomed:
            return
        # Park-for-evidence: a doom verdict is only as good as the moment
        # it was computed on, and this host flips state on the minute
        # timescale (observed twice: a 100-wave judged in milliseconds on
        # the PREVIOUS burst's EWMA shed 79-82 healthy requests whose
        # probe cohort then finished in 0.15 s).  Instead of firing
        # immediately, hold the arrival briefly and re-judge as live
        # completions land (_note_latency notifies; short wait slices
        # make a missed notify harmless): on a recovered host the probe
        # cohort's completions collapse the EWMA within ~1 s and the
        # parked wave admits; on a genuinely degraded host nothing
        # completes inside the park and the 503 is still fast.
        deadline = _time.monotonic() + min(
            2.0, self.client_window_sec / 30.0
        )
        while True:
            remaining = deadline - _time.monotonic()
            if remaining <= 0:
                raise QueryError(
                    503,
                    "Server busy: estimated completion "
                    f"{est:.0f}s exceeds the {self.client_window_sec:.0f}s "
                    "client window — retry later.",
                )
            with self._lat_cond:
                self._lat_cond.wait(min(remaining, 0.1))
            doomed, est = self._doomed_now()
            if not doomed:
                return

    def _doomed_now(self) -> tuple[bool, float]:
        """One doom evaluation on current evidence: (doomed, estimate).
        Not doomed when evidence is absent (cold), expired (older than
        one client window), or the pool is not genuinely saturated."""
        import time as _time

        with self._lat_lock:
            ewma, inflight = self._lat_ewma, self._n_inflight
            noted_at = self._lat_noted_at
        if ewma is None:
            return False, 0.0
        if (
            noted_at is None
            or _time.monotonic() - noted_at > self.client_window_sec
        ):
            return False, 0.0
        with self._queue_lock:
            queued = self._n_queued
        ahead = inflight + queued
        if ahead < 2 * self._max_workers:
            return False, 0.0
        est = ewma * (ahead / self._max_workers + 1.0)
        return est > self.client_window_sec, est

    @contextlib.contextmanager
    def admission(self):
        """Bounded-worker admission (see class docstring).  503s raise as
        QueryError so ``handle`` maps them like any other guard."""
        if self._worker_slots is None:
            yield
            return
        import time as _time

        self._shed_if_doomed()
        t_arrive = _time.monotonic()
        acquired = self._worker_slots.acquire(blocking=False)
        if not acquired:
            # all workers busy: join the bounded backlog (or 503)
            with self._queue_lock:
                if self._n_queued >= self.backlog:
                    raise QueryError(
                        503,
                        "Server busy: request backlog is full — retry later.",
                    )
                self._n_queued += 1
            try:
                acquired = self._worker_slots.acquire(
                    timeout=self.queue_wait_sec
                )
            finally:
                with self._queue_lock:
                    self._n_queued -= 1
            if not acquired:
                raise QueryError(
                    503,
                    "Server busy: no worker became available within "
                    f"{self.queue_wait_sec:.0f}s — retry later.",
                )
            # Dequeue-time re-check: admission-time shedding estimates
            # from the EWMA available AT ARRIVAL, so a simultaneous wave
            # admitted on healthy evidence can queue into a window the
            # host then degrades (observed: 100-burst admitted at
            # EWMA~1s, per-request cost turned out ~8s, tail requests
            # completed at 100s against a 60s client).  GROUND TRUTH
            # ONLY: shed when the wait ALONE overruns the window — the
            # caller is definitively gone, and running its query burns a
            # worker for nobody.  Deliberately no EWMA term here: a
            # stale-high estimate at dequeue would mass-shed a recovered
            # host's queue (the same failure the admission-time
            # saturation guard exists for); the marginal request that
            # dequeues just inside the window and finishes slightly past
            # it is the acceptable cost of an un-fakeable criterion.
            if self.client_window_sec is not None:
                waited = _time.monotonic() - t_arrive
                if waited > self.client_window_sec:
                    self._worker_slots.release()
                    raise QueryError(
                        503,
                        f"Server busy: queued {waited:.0f}s, past the "
                        f"{self.client_window_sec:.0f}s client window — "
                        "retry later.",
                    )

        t0 = _time.monotonic()
        with self._lat_lock:
            self._n_inflight += 1
        try:
            yield
        finally:
            with self._lat_lock:
                self._n_inflight -= 1
            self._worker_slots.release()
            self._note_latency(_time.monotonic() - t0)

    def register(self, name: str, engine: TrapiEngine) -> None:
        self._engines[name] = engine
        self._logs[name] = deque(maxlen=LOG_TAIL_MAX)

    @property
    def default_endpoint(self) -> str | None:
        return min(self._engines) if self._engines else None

    def engine(self, name: str | None) -> TrapiEngine:
        key = name or self.default_endpoint
        if key is None or key not in self._engines:
            raise QueryError(404, f"Unknown KP endpoint: {name!r}")
        return self._engines[key]

    def meta_kg(self, name: str | None) -> dict:
        key = name or self.default_endpoint
        if key not in self._meta_cache:
            self._meta_cache[key] = build_meta_kg(self.engine(key).kg)
        return self._meta_cache[key]

    def swap(self, name: str, engine: TrapiEngine) -> None:
        """Atomically replace an endpoint's serving engine (the Spark
        analog of the reference's container redeploy): single dict
        assignment under the GIL, meta-KG cache invalidated, query log
        kept.  The old engine's cached DataFrames are left to the
        session's cache eviction — in-flight queries against them finish
        normally."""
        self._engines[name] = engine
        self._meta_cache.pop(name, None)
        self._build_node_cache.pop(name, None)
        self._logs.setdefault(name, deque(maxlen=LOG_TAIL_MAX))

    def build_node(self, name: str) -> dict | None:
        """The endpoint's P9 build-provenance node (reference
        ``node_lookup_map["PloverDB"]``), cached after the first fetch so
        ``/code_version`` costs one tiny pruned scan per KP per process."""
        if name not in self._build_node_cache:
            from pyspark.sql import functions as F

            rows = (
                self.engine(name)
                .kg.nodes.where(F.col("id") == "ploverdb_spark:build")
                .limit(1)
                .collect()
            )
            self._build_node_cache[name] = (
                rows[0].asDict(recursive=True) if rows else None
            )
        return self._build_node_cache[name]

    def log(self, name: str | None, entry: Any) -> None:
        key = name or self.default_endpoint
        if key in self._logs:
            self._logs[key].append(entry)

    def log_tail(self, name: str | None, num_lines: int = 100) -> list:
        key = name or self.default_endpoint
        num_lines = max(1, min(int(num_lines), LOG_TAIL_MAX))
        entries = list(self._logs.get(key, ()))
        return entries[-num_lines:]


def _instance_home_html(registry: KpRegistry) -> str:
    """GET / (reference main.py:130-158): lists every hosted KP's infores
    curie + sub-endpoint link, marks the default, and links the
    instance-level ops endpoints."""
    default = registry.default_endpoint
    items = "".join(
        f"<li>{eng.kp_infores_curie}"
        f"{'*' if name == default else ''}: "
        f"<a href='/{name}'>/{name}</a></li>"
        for name, eng in sorted(registry._engines.items())
    )
    return f"""<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="UTF-8">
  <meta name="viewport" content="width=device-width, initial-scale=1.0">
  <title>Plover API</title>
</head>
<body>
  <h2>Plover API</h2>
  <h4>Querying</h4>
  <p>Individual TRAPI APIs for the <b>{len(registry._engines)}
  knowledge graph(s)</b> hosted on this instance are available at the
  following sub-endpoints:
  <ul>{items}</ul>
  <i>* Default KP (i.e., can be accessed via <code>/query</code> or
  <code>/{default}/query</code>)</i></p>
  <h4>Other endpoints</h4>
  <p>Instance-level (as opposed to KP-level) endpoints helpful in
  debugging include:
    <ul>
      <li><a href="/healthcheck">/healthcheck</a> (GET)</li>
      <li><a href="/get_logs">/get_logs</a> (GET)</li>
      <li><a href="/code_version">/code_version</a> (GET)</li>
      <li><a href="/debug">/debug</a> (GET)</li>
    </ul>
  </p>
</body>
</html>"""


def _kp_home_html(endpoint_name: str, kp_infores_curie: str) -> str:
    """GET /<kp> (reference kp_home_template.html, filled at build time by
    plover.py:1357-1368 with the KP's infores curie + endpoint name;
    rendered here at request time — same substitutions, no build artifact
    to stage)."""
    return f"""<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="UTF-8">
  <title>Plover API for {kp_infores_curie}</title>
</head>
<body>
<h2>Plover API for {kp_infores_curie}</h2>
<h4>Querying</h4>
<p>This is a TRAPI web API; to query the underlying knowledge graph,
<b>submit a POST request to the <code>/{endpoint_name}/query</code>
endpoint</b>.</p>
<h4>Other endpoints</h4>
Other endpoints you can view in your browser (or access programmatically)
include:
<ul>
  <li><a href="/{endpoint_name}/meta_knowledge_graph">/{endpoint_name}/meta_knowledge_graph</a> (GET)</li>
  <li><a href="/{endpoint_name}/sri_test_triples">/{endpoint_name}/sri_test_triples</a> (GET)</li>
  <li><a href="/get_logs">/get_logs</a> (GET; includes info for all KGs hosted on this instance)</li>
  <li><a href="/code_version">/code_version</a> (GET; includes info for all KGs hosted on this instance)</li>
</ul>
</body>
</html>"""


def _proc_memory(include_pss: bool = False) -> dict:
    """Driver-process memory from /proc (reference /debug,
    main.py:285-567: RSS and its peak always, PSS opt-in because smaps_rollup walks
    every VMA).  Returns {} on non-Linux."""
    out: dict[str, Any] = {}
    try:
        with open("/proc/self/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    out["rss_kb"] = int(line.split()[1])
                elif line.startswith("VmHWM:"):  # peak RSS
                    out["hwm_kb"] = int(line.split()[1])
                elif line.startswith("VmSize:"):
                    out["vms_kb"] = int(line.split()[1])
    except OSError:
        return out
    if include_pss:
        try:
            with open("/proc/self/smaps_rollup", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out["pss_kb"] = int(line.split()[1])
                        break
        except OSError:
            pass
    return out


def _debug_payload(registry: KpRegistry, payload: dict) -> dict:
    """GET /debug (reference main.py:285-567, Spark-native): driver
    memory, Spark job/stage activity, and the cache-storage breakdown
    that replaces the reference's per-uwsgi-worker RSS table — in a
    single-JVM Spark deployment the persisted artifact tables ARE the
    resident working set."""
    if registry.default_endpoint is None:
        return {
            "driver_memory": _proc_memory(include_pss=bool(payload.get("pss"))),
            "spark": {},
            "endpoints": [],
        }
    any_engine = registry.engine(None)
    sc = any_engine.spark.sparkContext
    tracker = sc.statusTracker()
    cached = []
    try:  # @DeveloperApi SparkContext.getRDDStorageInfo via py4j
        for info in sc._jsc.sc().getRDDStorageInfo():
            cached.append(
                {
                    "name": info.name(),
                    "mem_mb": round(info.memSize() / (1024 * 1024), 2),
                    "disk_mb": round(info.diskSize() / (1024 * 1024), 2),
                    "partitions_cached": info.numCachedPartitions(),
                    "partitions_total": info.numPartitions(),
                }
            )
    except Exception:  # noqa: BLE001 — storage details are best-effort
        pass
    return {
        "driver_memory": _proc_memory(include_pss=bool(payload.get("pss"))),
        "spark": {
            "active_jobs": len(tracker.getActiveJobsIds()),
            "active_stages": len(tracker.getActiveStageIds()),
            "default_parallelism": sc.defaultParallelism,
            "cached_tables": cached,
        },
        "endpoints": sorted(registry._engines),
        # per endpoint whose graph index is built: its resident bytes and
        # edge and node counts (absent when the KG is over the guard)
        "driver_index": {
            name: stats
            for name, eng in sorted(registry._engines.items())
            if (stats := eng.index_stats()) is not None
        },
    }


def _rebuild(registry: KpRegistry, payload: dict, endpoint: str | None) -> dict:
    """POST /rebuild (reference rebuild_main.py:45-68, reimagined
    Spark-native): instead of re-running a container build script, rebuild
    the artifact set from the given KGX files inside the running session
    and atomically swap the serving engine.  401 without the registry's
    rebuild token; 422 on missing file parameters (both mirror the
    reference's statuses)."""
    import time as _time

    if registry.rebuild_token is None or (
        payload.get("token") != registry.rebuild_token
    ):
        raise QueryError(401, "Not authenticated")
    nodes_file, edges_file = payload.get("nodes_file"), payload.get("edges_file")
    if not nodes_file or not edges_file:
        raise QueryError(
            422,
            "Request is missing 'nodes_file'/'edges_file' parameters — the "
            "KGX inputs to rebuild from.",
        )
    name = endpoint or registry.default_endpoint
    old = registry.engine(name)
    start = _time.time()

    from ploverdb_spark.build.ingest import build_knowledge_graph, write_artifacts
    from ploverdb_spark.sources.kgx import KgxConfig, read_kgx_auto

    try:
        config = KgxConfig(**payload.get("config", {}))
        spark = old.spark
        nodes = read_kgx_auto(spark, nodes_file, config, required=("id",))
        edges = read_kgx_auto(
            spark, edges_file, config, required=("subject", "predicate", "object")
        )
        kg = build_knowledge_graph(
            nodes,
            edges,
            config,
            provenance_files=[nodes_file, edges_file],
        ).persist()
        engine = TrapiEngine(
            kg,
            kp_infores_curie=old.kp_infores_curie,
            answer_cutoff=config.num_edges_per_answer_cutoff,
        ).warmup(parallel=True)
        if payload.get("artifacts_dir"):
            write_artifacts(kg, payload["artifacts_dir"])
    except Exception as e:  # noqa: BLE001 — reference 500s on any rebuild
        # failure and keeps the old engine serving (rebuild_main.py:62-64);
        # the registry is only swapped after a fully-built engine exists
        raise QueryError(500, f"Rebuild failed: {e}") from e
    registry.swap(name, engine)
    if config.delete_local_kg_files:
        from ploverdb_spark.build.ingest import remove_input_files

        remove_input_files([nodes_file, edges_file])
    return {
        "message": f"Rebuild of '{name}' done. Took "
        f"{round((_time.time() - start) / 60, 1)} minutes."
    }


_CODE_INFO_CACHE: dict[str, str] = {}


def _code_info(code_version: str) -> str:
    """Reference main.py:600-621 string layout, byte-for-byte: ``HEAD:
    <branch-or-DETACHED>; Commit: <sha7>; Timestamp: <utc-iso>Z (<pt>)``
    with commit time rendered in UTC and America/Los_Angeles, and the
    exact fallback ``git repo not found`` — clients that parse the
    reference's code_info string keep working.  Git is queried in THIS
    package's directory, not the process cwd (a server launched from an
    unrelated repo must not report that repo's HEAD as deploy
    provenance).  Cached per process — the checkout can't change under a
    running server."""
    if code_version in _CODE_INFO_CACHE:
        return _CODE_INFO_CACHE[code_version]
    import datetime
    import os
    import subprocess
    from zoneinfo import ZoneInfo

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        def _git(*args: str) -> str:
            out = subprocess.run(
                ["git", *args],
                capture_output=True,
                text=True,
                timeout=5,
                cwd=repo_dir,
            )
            if out.returncode != 0:
                raise RuntimeError(out.stderr.strip())
            return out.stdout.strip()

        branch = _git("rev-parse", "--abbrev-ref", "HEAD")
        if branch == "HEAD":  # rev-parse reports literal HEAD when detached
            branch = "DETACHED"
        sha = _git("rev-parse", "--short=7", "HEAD")
        commit_dt = datetime.datetime.fromtimestamp(
            int(_git("show", "-s", "--format=%ct", "HEAD")),
            tz=datetime.timezone.utc,
        )
        timestamp_utc = commit_dt.strftime("%Y-%m-%dT%H:%M:%SZ")
        timestamp_pt = commit_dt.astimezone(
            ZoneInfo("America/Los_Angeles")
        ).strftime("%Y-%m-%d %H:%M:%S %Z")
        # The reference is self-contradictory about this string: its
        # server (main.py:620-621) emits "HEAD: ...; Commit: ...;
        # Timestamp: <utc> (<pt>)" while its own test
        # (test_non_query_commands.py:31-34) asserts a "Date: YYYY-MM-DD"
        # field that the server never writes.  We keep the server's
        # layout verbatim (clients parse it) and APPEND the Date field
        # the test demands, satisfying both contracts at once.
        info = (
            f"HEAD: {branch}; Commit: {sha}; "
            f"Timestamp: {timestamp_utc} ({timestamp_pt}); "
            f"Date: {commit_dt.strftime('%Y-%m-%d')}"
        )
    except Exception:
        info = "git repo not found"
    _CODE_INFO_CACHE[code_version] = info
    return info


@contextlib.contextmanager
def _admitted_build(registry: KpRegistry):
    """Admission for a big answer the driver index builds on the request
    thread.  It runs no Spark job, so it needs no query thread, job group
    or pool; the request timeout is the build's deadline, past which it
    stops at its next slice with a 504 (response._slices)."""
    with registry.admission():
        REQUEST.deadline = time.monotonic() + registry.query_timeout_sec
        try:
            yield
        finally:
            del REQUEST.deadline


def _indexed_else_admitted(registry: KpRegistry, indexed, on_spark):
    """``indexed()``, and ``on_spark()`` under admission when that returns
    None.  A request the driver index answers runs no Spark job: it is
    served on the request thread, with no query thread, job group, FAIR
    pool or admission slot (a hub answer excepted: _admitted_build), and
    stays out of the latency estimate that describes heavy requests."""
    body = indexed()
    if body is None:
        with registry.admission():
            body = on_spark()
    return body


def handle(
    registry: KpRegistry,
    path: str,
    payload: dict | None = None,
    endpoint: str | None = None,
    code_version: str = "ploverdb_spark-dev",
) -> tuple[int, Any]:
    """Dispatch one request; returns (http_status, body).

    Error semantics mirror the reference: 400 bad shape, 403 guard trips
    (qualifier whitelist, answer-size cutoff), 404 unknown endpoint/path.
    """
    import datetime
    import time as _time

    if not isinstance(payload, (dict, type(None))):
        return 400, {"error": "The request body must be a JSON object."}
    payload = payload or {}
    # the reference registers every data route under two names
    # (main.py:222-241, 626-627): /get_edges == /edges,
    # /get_neighbors == /neighbors, /get_logs == /logs
    path = {
        "get_edges": "edges",
        "get_neighbors": "neighbors",
        "logs": "get_logs",
    }.get(path, path)
    try:
        if path == "query":
            eng = registry.engine(endpoint)
            t0 = _time.time()
            body = _indexed_else_admitted(
                registry,
                lambda: run_query(
                    eng, payload, spark=False, admit=lambda: _admitted_build(registry)
                ),
                lambda: run_query_with_timeout(
                    eng, payload, timeout_sec=registry.query_timeout_sec
                ),
            )
            # /debug/last per-query stats (reference main.py:554-568 keeps
            # the most recent snapshot; here the most useful "last" signal
            # is what the last query did and cost)
            msg = body.get("message") or {}
            registry._last_query = {
                "endpoint": endpoint or registry.default_endpoint,
                "took_sec": round(_time.time() - t0, 4),
                "n_results": len(msg.get("results") or []),
                "n_kg_edges": len(
                    (msg.get("knowledge_graph") or {}).get("edges") or {}
                ),
                "at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            }
            registry.log(endpoint, {"path": "query", "ok": True})
            return 200, body
        if path == "edges":
            eng = registry.engine(endpoint)
            with registry.admission(), _request_pool(eng):
                return 200, get_edges(eng, payload.get("pairs", []))
        if path == "neighbors":
            eng = registry.engine(endpoint)
            args = (eng, payload.get("node_ids", []), payload.get("categories"),
                    payload.get("predicates"))

            def on_spark() -> dict:
                with _request_pool(eng):
                    return get_neighbors(*args)

            return 200, _indexed_else_admitted(
                registry, lambda: get_neighbors(*args, spark=False), on_spark)
        if path == "meta_knowledge_graph":
            return 200, registry.meta_kg(endpoint)
        if path == "sri_test_triples":
            eng = registry.engine(endpoint)
            rows = test_triples(eng.kg).collect()
            return 200, {
                f"{r.subject_category}--{r.predicate}--{r.object_category}": {
                    "subject_id": r.subject_id,
                    "object_id": r.object_id,
                }
                for r in rows
            }
        if path == "rebuild":
            return 200, _rebuild(registry, payload, endpoint)
        if path == "debug":
            body = _debug_payload(registry, payload)
            registry._last_debug = {
                "snapshot": body,
                "captured_at": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(),
            }
            return 200, body
        if path == "debug/last":
            # Reference main.py:554-568: serve the cached snapshot
            # (lightweight — no fresh introspection under load); first
            # call captures one, standing in for the startup capture.
            if registry._last_debug is None:
                registry._last_debug = {
                    "snapshot": _debug_payload(registry, {}),
                    "captured_at": datetime.datetime.now(
                        datetime.timezone.utc
                    ).isoformat(),
                }
            return 200, {
                **registry._last_debug,
                "last_query": registry._last_query,
                "note": "Cached from last /debug call (or startup). "
                "Call /debug for fresh data.",
            }
        if path == "" or path == "home_page":
            return 200, _instance_home_html(registry)
        if path == "home":
            name = endpoint or registry.default_endpoint
            eng = registry.engine(endpoint)  # 404s on unknown endpoints
            return 200, _kp_home_html(name, eng.kp_infores_curie)
        if path == "healthcheck":
            return 200, ""
        if path == "code_version":
            # Reference main.py:579-630 shape: code_info carries
            # "HEAD: <branch>; Commit: <sha7>; Timestamp: <utc>Z (<pt>)"
            # ("git repo not found" when no repo is discoverable — see
            # _code_info), endpoint_build_nodes maps
            # each hosted KP to its build-provenance node (the P9
            # synthetic node, reference node_lookup_map["PloverDB"]).
            return 200, {
                "code_info": _code_info(code_version),
                "endpoint_build_nodes": {
                    name: registry.build_node(name)
                    for name in sorted(registry._engines)
                },
            }
        if path == "get_logs":
            return 200, registry.log_tail(
                endpoint, payload.get("num_lines", 100)
            )
        return 404, {"error": f"Unknown path: {path!r}"}
    except QueryError as e:
        registry.log(endpoint, {"path": path, "ok": False, "error": e.message})
        return e.status, {"error": e.message}

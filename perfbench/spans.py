"""Outside-in tracing for the traced benchmark run.

Nothing in ``ploverdb_spark`` changes: :class:`Tracer` replaces the public
names each layer is called through with timing wrappers, keeps the spans
in memory and turns them into per-op layer metrics at the end.

A span is ``(id, name, start, end, parent, op)``.  On the serving
workloads an op is one HTTP request; the client tags its body with
``perfbench_op``, which the ``http_frontend.handle`` wrapper removes before
the program sees it.  The op follows the request onto the query thread
that ``api`` starts, through the payload object that thread receives.  In
the build pass an op is one build, opened by :meth:`Tracer.op_scope`.
Spark work is tied to its op by a Spark job tag, and the job, stage and
task counters are read back from the status store
(``sc._jsc.sc().statusStore()``) after the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import threading
import time

ACTIONS = ("collect", "toArrow", "count", "isEmpty", "toPandas", "localCheckpoint")
_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # id(payload) -> (op, handle span id), so the query thread that
        # receives the payload finds its op
        self._payload_op: dict[int, tuple[int, int]] = {}

    # -- span bookkeeping ------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _record(self, name: str, fn, args, kwargs, op=None, parent=None):
        stack = self._stack()
        if op is None:
            if not stack:
                return fn(*args, **kwargs)
            op, parent = stack[-1][1], stack[-1][0]
        sid = next(self._ids)
        stack.append((sid, op, name))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, op))

    @staticmethod
    def _patch(owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def _span_wrapper(self, name: str):
        def factory(orig):
            def wrapped(*a, **kw):
                if not self.enabled:
                    return orig(*a, **kw)
                return self._record(name, orig, a, kw)

            return wrapped

        return factory

    def _action_wrapper(self, orig):
        def wrapped(*a, **kw):
            stack = self._stack()
            if not self.enabled or (stack and stack[-1][2] == "spark.action"):
                return orig(*a, **kw)  # nested action: counted once
            return self._record("spark.action", orig, a, kw)

        return wrapped

    def _install_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for action in ACTIONS:
            self._patch(DataFrame, action, self._action_wrapper)
        self._patch(DataFrameWriter, "saveAsTable", self._action_wrapper)

    @contextlib.contextmanager
    def op_scope(self, op: int, name: str):
        """Make the calls of this thread inside the block one op, rooted
        in a span called ``name``, with its Spark jobs tagged; yields the
        span's id."""
        if not self.enabled:
            yield None
            return
        tag = f"perfbench-op-{op}"
        sc = self.spark.sparkContext
        sid = next(self._ids)
        stack = self._stack()
        stack.append((sid, op, name))
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            sc.removeJobTag(tag)
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, None, op))

    # -- install -----------------------------------------------------------
    def install(self) -> None:
        """Wrap every serving-layer entry point; the wrappers only record
        while ``enabled`` is set."""
        from ploverdb_spark import api, http_frontend
        from ploverdb_spark.query import response
        from ploverdb_spark.query.compiler import TrapiEngine

        tracer = self
        sc = self.spark.sparkContext

        def handle_wrapper(orig):
            def wrapped(registry, path, payload=None, *a, **kw):
                op = (payload or {}).pop("perfbench_op", None)
                if not tracer.enabled or op is None:
                    return orig(registry, path, payload, *a, **kw)
                with tracer.op_scope(op, "http_frontend.handle") as sid:
                    tracer._payload_op[id(payload)] = (op, sid)
                    try:
                        return orig(registry, path, payload, *a, **kw)
                    finally:
                        tracer._payload_op.pop(id(payload), None)

            return wrapped

        def entry_wrapper(name):
            # api.run_query runs on the query thread api starts; the op
            # arrives with the payload object
            def factory(orig):
                def wrapped(engine, query, *a, **kw):
                    link = tracer._payload_op.get(id(query))
                    if not tracer.enabled or link is None:
                        return tracer._record(name, orig, (engine, query, *a), kw)
                    op, parent = link
                    tag = f"perfbench-op-{op}"
                    own_thread = not tracer._stack()
                    if own_thread:
                        sc.addJobTag(tag)
                    try:
                        return tracer._record(
                            name, orig, (engine, query, *a), kw, op, parent
                        )
                    finally:
                        if own_thread:
                            sc.removeJobTag(tag)

                return wrapped

            return factory

        self._patch(http_frontend, "handle", handle_wrapper)
        self._patch(api, "run_query", entry_wrapper("api.run_query"))
        self._patch(api, "get_neighbors", entry_wrapper("api.get_neighbors"))
        self._patch(TrapiEngine, "lookup", self._span_wrapper("compiler.lookup"))
        self._patch(TrapiEngine, "single_node_lookup",
                    self._span_wrapper("compiler.lookup"))
        self._patch(response, "hydrate_knowledge_graph",
                    self._span_wrapper("response.hydrate"))
        self._install_actions()

    def install_build(self) -> None:
        """Wrap the build's stages.  ``transitive_closure`` is wrapped
        where ``build_knowledge_graph`` looks it up: the name bound in
        ``build.ingest``."""
        from ploverdb_spark.build import ingest, meta_kg
        from ploverdb_spark.sources import kgx

        self._patch(kgx, "read_kgx_auto", self._span_wrapper("sources.kgx.read"))
        self._patch(ingest, "build_knowledge_graph",
                    self._span_wrapper("build.ingest.build"))
        self._patch(ingest, "transitive_closure",
                    self._span_wrapper("build.closure"))
        self._patch(ingest, "write_artifacts_bucketed",
                    self._span_wrapper("build.ingest.write"))
        self._patch(meta_kg, "build_meta_kg", self._span_wrapper("build.meta_kg"))
        self._install_actions()

    # -- reduction -------------------------------------------------------
    def per_op(self) -> dict[int, dict]:
        """op -> {"ms": {span name: summed ms}, "n": {span name: count}}
        plus, for a request with an entry span (``api.run_query`` /
        ``api.get_neighbors``), ``assembly_ms``: the entry span minus the
        time covered by the op's lookup and Spark-action spans."""
        with self._lock:
            spans = list(self.spans)
        by_op: dict[int, list[tuple]] = {}
        for s in spans:
            by_op.setdefault(s[5], []).append(s)
        ops: dict[int, dict] = {}
        for op, group in by_op.items():
            d: dict = {"ms": {}, "n": {}}
            inner = [s for s in group if s[1] in ("compiler.lookup", "spark.action")]
            for _, name, t0, t1, _, _ in group:
                ms = (t1 - t0) * 1000.0
                d["ms"][name] = d["ms"].get(name, 0.0) + ms
                d["n"][name] = d["n"].get(name, 0) + 1
                if name in ("api.run_query", "api.get_neighbors"):
                    d["assembly_ms"] = ms - _covered_ms(t0, t1, inner)
            ops[op] = d
        return ops

    def spark_per_op(self) -> dict[int, dict]:
        """op -> Spark counters summed over the jobs tagged with that op."""
        jsc = self.spark.sparkContext._jsc.sc()
        try:  # let the listener bus deliver the last job/stage events
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — best effort; counters may lag
            time.sleep(1.0)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        out: dict[int, dict] = {}
        for j in range(jobs.size()):
            job = jobs.apply(j)
            tags = job.jobTags()
            op = None
            for t in range(tags.size()):
                tag = tags.apply(t)
                if tag.startswith("perfbench-op-"):
                    op = int(tag.rsplit("-", 1)[1])
            if op is None:
                continue
            d = out.setdefault(
                op,
                {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
                 "cpu_ms": 0.0, "input_mb": 0.0, "shuffle_mb": 0.0,
                 "spill_mb": 0.0},
            )
            d["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(k))
                except Exception:  # noqa: BLE001 — skipped stage: never ran
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                d["stages"] += 1
                d["tasks"] += st.numTasks()
                d["run_ms"] += st.executorRunTime()
                d["cpu_ms"] += st.executorCpuTime() / 1e6
                d["input_mb"] += st.inputBytes() / _MB
                d["shuffle_mb"] += (
                    st.shuffleReadBytes() + st.shuffleWriteBytes()
                ) / _MB
                d["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / _MB
        return out


def _covered_ms(t0: float, t1: float, kids: list[tuple]) -> float:
    """Milliseconds of [t0, t1] covered by the union of child spans."""
    ivs = sorted((max(t0, k[2]), min(t1, k[3])) for k in kids)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered * 1000.0


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0

"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload onehop_serial --seed 1 --seconds 20 --trace 0

Steps:

1. prepare (untimed, cached under ``.perfbench_cache/`` in the checkout):
   generate the KGX graph, build the serving artifacts in their own
   process, compute DuckDB ground truth for the checks;
2. start a fresh serving process (``serve.py``);
3. prime it with requests from this process, the client;
4. run a closed loop for ``--seconds``; the epoch in flight at the
   deadline completes;
5. check every response and print the result as the last line of stdout.

``setup_s`` runs from the spawn of the serving process to the first timed
request.  With ``--trace 1`` the window is four quarter-length windows,
untraced, traced, traced, untraced; the traced ones give the per-layer
metrics and the difference of the p50s is the tracing overhead.  The
traced ``onehop_serial`` run then times the offline build in a build pass
of its own (``builder.py``), for the ``sources.kgx.*`` and ``build.*``
layers.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from common import (  # noqa: E402
    BENCH_DIR,
    BUCKETS,
    CACHE,
    ROOT,
    SPARK_ENV,
    TABLE_PREFIX,
    child_env,
    fresh_scratch,
    host_noise,
    host_probe,
)

# The serving graph is generated once per checkout from this seed; the
# workload seed draws the request stream and the build pass's graph (see
# README.md, "Inputs").
GRAPH_SEED = 20240601
DISTRIBUTED_MIN_EDGES = 5000  # query/response.py DISTRIBUTED_SERIALIZE_MIN_EDGES
MIX_LEN = 2000
# a run must end within 180 s: this long after preparation, a program
# process still running is killed, every pending read fails and the run
# exits without a result
RUN_DEADLINE_S = 165
PREP_DEADLINE_S = 600


# Priming, in the measured shape, before the window.  Request latency keeps
# falling for about half a minute after set-up while the JVM compiles the
# per-request paths; this much priming takes out most of that fall and
# still fits the run budget.
PRIME_S = 14.0


class Workload:
    """A closed loop over a seeded request ``mix``, run in epochs: in each
    epoch connection c sends ``epoch[c]`` requests (see ``closed_loop``).
    The measured requests start every stream at a multiple of ``period``.
    With ``build_pass`` the traced run also times the offline build."""

    def __init__(self, epoch: tuple[int, ...], mix, period: int,
                 build_pass: bool = False) -> None:
        self.epoch = epoch
        self.mix = mix
        self.period = period
        self.build_pass = build_pass


WORKLOADS = {
    "onehop_serial": Workload((1,), gen.onehop_serial_mix, gen.ONEHOP_PERIOD,
                              build_pass=True),
    "mixed_concurrent": Workload(gen.MIXED_EPOCH, gen.mixed_concurrent_mix, 1),
}
# the build pass: a cold build, then the timed one; one more timed build
# would take the traced run too close to its deadline on a noisy host
BUILD_WARMUP = 1
BUILD_TIMED = 1


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------------------
# program processes
# ---------------------------------------------------------------------------
def stop_group(proc: subprocess.Popen) -> None:
    """Stop a child and everything it started (the Spark JVM included),
    and wait until the whole process group is gone."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=15)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


class Child:
    """A program process (``serve.py`` or ``builder.py``) and its
    stdin/stdout command channel.  A watchdog kills it after
    ``deadline`` seconds, so a hung run still ends in time."""

    def __init__(self, script: str, args: list[str], out_path: str,
                 log_path: str, deadline: float) -> None:
        self.out_path = out_path
        self.log = open(log_path, "w", encoding="utf-8")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, script), "--out", out_path,
             *args],
            cwd=ROOT, env=child_env(), stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.log, text=True,
            start_new_session=True,
        )
        self.watchdog = threading.Timer(deadline, self.kill)
        self.watchdog.daemon = True
        self.watchdog.start()

    def _expect(self, *prefixes: str) -> dict | str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                fail(f"program process exited early; see {self.log.name}")
            for prefix in prefixes:
                if line.startswith(prefix):
                    rest = line[len(prefix):].strip()
                    return rest if prefix == "OK " else json.loads(rest)

    def wait_ready(self) -> dict:
        return self._expect("READY ")

    def command(self, cmd: str) -> dict | str:
        """Send one command; its answer (``OK`` text or ``DONE`` object)."""
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._expect("OK ", "DONE ")

    def stop(self) -> dict:
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        try:
            rc = self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            rc = -1
        self.close()
        if rc != 0:
            fail(f"program process exited {rc}; see {self.log.name}")
        with open(self.out_path, encoding="utf-8") as f:
            return json.load(f)

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def close(self) -> None:
        self.watchdog.cancel()
        stop_group(self.proc)
        if not self.log.closed:
            self.log.close()


# ---------------------------------------------------------------------------
# preparation
# ---------------------------------------------------------------------------
def source_key() -> str:
    """Hash of the program and the preparation sources: inputs built by
    other code are never reused."""
    files = [os.path.join(BENCH_DIR, f) for f in ("gen.py", "builder.py", "common.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, "ploverdb_spark")):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha1(repr((GRAPH_SEED, gen.SERVE_GRAPH, gen.BUILD_GRAPH,
                           BUCKETS)).encode())
    for path in files:
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + fh.read())
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def prepare_serving() -> dict:
    """The serving graph and its artifacts, built once per checkout by a
    one-build run of ``builder.py``."""
    base = os.path.join(CACHE, f"serve-{source_key()}")
    kgx, art = os.path.join(base, "kgx"), os.path.join(base, "art")
    facts_path = os.path.join(kgx, "facts.json")
    if not os.path.exists(facts_path):
        gen.generate_kgx(GRAPH_SEED, gen.SERVE_GRAPH, kgx)
    ready_path = os.path.join(art, "_READY.json")
    if not os.path.exists(ready_path):
        shutil.rmtree(art, ignore_errors=True)
        builder = Child("builder.py", [], os.path.join(base, "prep.json"),
                        os.path.join(base, "prep.log"), PREP_DEADLINE_S)
        try:
            builder.wait_ready()
            done = builder.command(f"build 0 {kgx} {art} {TABLE_PREFIX}")
            builder.stop()
        finally:
            builder.close()
        with open(ready_path, "w", encoding="utf-8") as f:
            json.dump({"ddl": done["ddl"], "artifact_bytes": dir_bytes(art)}, f)
    with open(facts_path, encoding="utf-8") as f:
        facts = json.load(f)
    with open(ready_path, encoding="utf-8") as f:
        facts["artifact_bytes"] = json.load(f)["artifact_bytes"]
    return {"kgx": kgx, "art": art, "facts": facts}


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def check_trapi(body) -> str | None:
    if not isinstance(body, dict) or not isinstance(body.get("message"), dict):
        return "no message"
    msg = body["message"]
    if not isinstance(msg.get("query_graph"), dict):
        return "no query_graph"
    kg = msg.get("knowledge_graph")
    results = msg.get("results")
    if not isinstance(kg, dict) or not isinstance(results, list):
        return "no knowledge_graph/results"
    nodes, edges = kg.get("nodes"), kg.get("edges")
    if not isinstance(nodes, dict) or not isinstance(edges, dict):
        return "knowledge_graph without nodes/edges maps"
    for e in edges.values():
        if not isinstance(e, dict):
            return "edge is not an object"
        if e.get("subject") not in nodes or e.get("object") not in nodes:
            return "edge endpoint missing from nodes"
        if not e.get("predicate") or not isinstance(e.get("sources"), list):
            return "edge without predicate/sources"
    for r in results:
        if not isinstance(r, dict) or not isinstance(r.get("node_bindings"), dict):
            return "result without node_bindings"
        for b in r["node_bindings"].values():
            if not isinstance(b, list):
                return "node binding is not a list"
            for nb in b:
                if not isinstance(nb, dict) or nb.get("id") not in nodes:
                    return "node binding outside knowledge_graph"
        analyses = r.get("analyses") or []
        if not isinstance(analyses, list):
            return "analyses is not a list"
        for a in analyses:
            ebs = a.get("edge_bindings") if isinstance(a, dict) else None
            if not isinstance(ebs or {}, dict):
                return "edge_bindings is not an object"
            for eb in (ebs or {}).values():
                if not isinstance(eb, list):
                    return "edge binding is not a list"
                for x in eb:
                    if not isinstance(x, dict) or x.get("id") not in edges:
                        return "edge binding outside knowledge_graph"
    return None


def check_response(req: tuple, status: int, raw: bytes, truth: dict) -> tuple:
    """(error or None, answer path) for one response."""
    kind, path, payload, check = req
    if status != 200:
        return f"HTTP {status}", "failed"
    try:
        body = json.loads(raw)
    except ValueError:
        return "body is not JSON", "failed"
    if path == "neighbors":
        ids = payload["node_ids"]
        if not isinstance(body, dict) or set(body) != set(ids) or not all(
            isinstance(v, list) for v in body.values()
        ):
            return "malformed /neighbors body", "neighbors"
        return None, "neighbors"
    err = check_trapi(body)
    if err:
        return err, "failed"
    edges = body["message"]["knowledge_graph"]["edges"]
    route = "distributed" if len(edges) >= DISTRIBUTED_MIN_EDGES else "fast"
    if not body["message"]["query_graph"].get("edges"):
        route = "node_lookup"
    if check[0] == "edges":
        want = truth[gen.node_id(check[1])]
        if set(edges) != want:
            return (
                f"edge set differs from ground truth for {gen.node_id(check[1])}: "
                f"{len(edges)} vs {len(want)}",
                route,
            )
    return None, route


# ---------------------------------------------------------------------------
# closed loops
# ---------------------------------------------------------------------------
def closed_loop(port: int, streams: list[list], pos: list[int],
                epoch: tuple[int, ...], duration: float, truth: dict,
                trace: bool) -> list:
    """Run ``len(epoch)`` closed-loop clients in epochs: in each epoch
    client c sends ``epoch[c]`` requests one after another, and the next
    epoch starts when every client's requests are answered.  So every
    epoch holds the same kinds of request, started at the same moments.
    Client c takes requests from stream c % len(streams), advancing the
    shared position ``pos`` of that stream.  No epoch starts after
    ``duration`` seconds; the one in flight then completes.  Responses are
    checked after the loop, so that parsing a large body in this process
    never delays another connection's clock.  Returns the ops."""
    lock = threading.Lock()
    ops: list = []
    t_begin = time.perf_counter()
    # the barrier's action runs once per epoch, so all clients agree on
    # whether to start another one
    stop = [False]
    barrier = threading.Barrier(len(epoch), action=lambda: stop.__setitem__(
        0, time.perf_counter() - t_begin >= duration))

    def send(conn: http.client.HTTPConnection, s: int) -> None:
        with lock:
            k = pos[s]
            pos[s] += 1
        req = streams[s][k % len(streams[s])]
        op = s * 1_000_000 + k
        payload = dict(req[2], perfbench_op=op) if trace else req[2]
        data = json.dumps(payload).encode()
        t0 = time.perf_counter()
        try:
            conn.request("POST", "/" + req[1], body=data,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            raw, status = str(e).encode(), 0
            conn.close()
        t1 = time.perf_counter()
        with lock:
            ops.append({"op": op, "req": req, "raw": raw,
                        "t0": t0 - t_begin, "t1": t1 - t_begin,
                        "status": status})

    def worker(c: int, s: int) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            while True:
                try:
                    barrier.wait()
                except threading.BrokenBarrierError:
                    return  # another client died
                if stop[0]:
                    return
                for _ in range(epoch[c]):
                    send(conn, s)
        finally:
            barrier.abort()
            conn.close()

    threads = [threading.Thread(target=worker, args=(c, c % len(streams)))
               for c in range(len(epoch))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for o in ops:
        req, raw = o.pop("req"), o.pop("raw")
        try:
            err, route = check_response(req, o["status"], raw, truth)
        except Exception as e:  # noqa: BLE001 — a crashing check fails the op
            err, route = f"check raised {e!r}", "failed"
        o.update(kind=req[0], bytes=len(raw), error=err, route=route)
    return ops


def build_pass(seed: int, deadline: float) -> tuple[list, dict]:
    """Time the offline build in its own process, after serving has
    stopped: ``BUILD_WARMUP`` untraced builds, then ``BUILD_TIMED`` traced
    ones of a graph generated from ``seed``.  Every build writes its own
    artifact directory, which is checked against DuckDB counts.  Returns
    the builds (warm-up first) and the builder's result file."""
    kgx = os.path.join(CACHE, f"build-{source_key()}", f"s{seed}")
    if not os.path.exists(os.path.join(kgx, "facts.json")):
        gen.generate_kgx(seed, gen.BUILD_GRAPH, kgx)
    out_dir = os.path.join(CACHE, "build_pass")
    shutil.rmtree(out_dir, ignore_errors=True)
    results_dir = os.path.join(CACHE, "results")
    builder = Child("builder.py", ["--trace", "1"],
                    os.path.join(results_dir, f"build-s{seed}.out.json"),
                    os.path.join(results_dir, f"build-s{seed}.log"),
                    deadline - time.time())
    ops = []
    try:
        builder.wait_ready()
        for op in range(BUILD_WARMUP + BUILD_TIMED):
            if op == BUILD_WARMUP:
                builder.command("trace on")
            art = os.path.join(out_dir, f"op{op}")
            t0 = time.perf_counter()
            done = builder.command(f"build {op} {kgx} {art} kb{op}")
            ops.append({"op": op, "ms": (time.perf_counter() - t0) * 1000.0,
                        "art": art, "tables": done["tables"], "error": None})
        built = builder.stop()
    finally:
        builder.close()
    check_builds(ops, kgx)
    shutil.rmtree(out_dir, ignore_errors=True)
    return ops, built


def check_builds(ops: list, kgx: str) -> None:
    """Fail every build whose artifact row counts differ from the DuckDB
    counts over its input."""
    from truth import artifact_rows, expected_artifact_rows

    want = expected_artifact_rows(kgx)
    for o in ops:
        try:
            got = artifact_rows(o["art"], o["tables"])
            o["write_amplification"] = dir_bytes(o["art"]) / kgx_bytes(kgx)
        except Exception as e:  # noqa: BLE001 — an unreadable artifact fails the op
            o["error"] = f"artifact check raised {e!r}"
            continue
        if got != want:
            o["error"] = f"artifact rows {got} differ from DuckDB counts {want}"


def kgx_bytes(kgx: str) -> int:
    return sum(os.path.getsize(os.path.join(kgx, f))
               for f in ("nodes.jsonl", "edges.jsonl"))


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def latency_ms(ops: list) -> list[float]:
    return [(o["t1"] - o["t0"]) * 1000.0 for o in ops]


def window_stats(ops: list) -> dict:
    if len(ops) < 2:
        fail(f"only {len(ops)} ops completed in the window")
    # percentiles interpolate between order statistics (numpy's default)
    q = statistics.quantiles(latency_ms(ops), n=100, method="inclusive")
    # the window runs until its last request is answered
    return {
        "latency_p50_ms": q[49],
        "latency_p95_ms": q[94],
        "throughput_per_s": len(ops) / max(o["t1"] for o in ops),
    }


def layer_metrics(ops: list, served: dict, ready: dict, overhead_ms: float,
                  builds: list, built: dict) -> dict:
    """Per-layer medians over the traced requests and, from the build
    pass, over the traced builds.  A layer the run does not time reads 0."""
    from spans import med

    layer = served.get("ops", {})
    spark = served.get("spark_ops", {})
    traced = [(o, layer[str(o["op"])]) for o in ops if str(o["op"]) in layer]
    sp = [spark.get(str(o["op"]), {}) for o, _ in traced]

    def span_ms(name: str) -> float:
        return med(d["ms"][name] for _, d in traced if name in d["ms"])

    build_spans = [built["ops"][str(o["op"])]["ms"] for o in builds
                   if str(o["op"]) in built.get("ops", {})]

    def build_ms(name: str) -> float:
        return med(b.get(name, 0.0) for b in build_spans)

    handled = [(o, d) for o, d in traced if "http_frontend.handle" in d["ms"]]
    entries = [d for _, d in traced if "assembly_ms" in d]
    entry_ms = [d["ms"].get("api.run_query", 0.0) + d["ms"].get("api.get_neighbors", 0.0)
                for d in entries]
    setup = ready.get("setup", {})
    return {
        "http_frontend.self_ms": med(
            (o["t1"] - o["t0"]) * 1000.0 - d["ms"]["http_frontend.handle"]
            for o, d in handled),
        "http_frontend.resp_kb": med(o["bytes"] / 1024.0 for o, _ in handled),
        "api.admission_wait_ms": med(
            d["ms"]["http_frontend.handle"] - e
            for d, e in zip(entries, entry_ms) if "http_frontend.handle" in d["ms"]),
        "api.shed_503": sum(1 for o in ops if o["status"] == 503),
        "api.timeout_504": sum(1 for o in ops if o["status"] == 504),
        "compiler.lookup_ms": span_ms("compiler.lookup"),
        "response.assembly_ms": med(d["assembly_ms"] for d in entries),
        "response.distributed_pct": 100.0 * sum(
            1 for _, d in handled if "response.hydrate" in d["ms"]) / max(1, len(handled)),
        "spark.action_ms": med(d["ms"].get("spark.action", 0.0) for _, d in traced),
        "spark.actions_per_op": med(d["n"].get("spark.action", 0) for _, d in traced),
        "spark.jobs_per_op": med(s.get("jobs", 0) for s in sp),
        "spark.stages_per_op": med(s.get("stages", 0) for s in sp),
        "spark.tasks_per_op": med(s.get("tasks", 0) for s in sp),
        "spark.executor_run_ms_per_op": med(s.get("run_ms", 0.0) for s in sp),
        "spark.executor_cpu_ms_per_op": med(s.get("cpu_ms", 0.0) for s in sp),
        "spark.input_mb_per_op": med(s.get("input_mb", 0.0) for s in sp),
        "spark.shuffle_mb_per_op": med(s.get("shuffle_mb", 0.0) for s in sp),
        "spark.spill_mb_per_op": med(s.get("spill_mb", 0.0) for s in sp),
        "setup.cache_ms": 1000.0 * setup.get("cache_s", 0.0),
        "setup.driver_maps_ms": 1000.0 * setup.get("driver_maps_s", 0.0),
        "setup.cache_mb": ready.get("cache_mb", 0.0),
        "sources.kgx.read_ms": build_ms("sources.kgx.read"),
        "build.ingest.build_ms": build_ms("build.ingest.build"),
        "build.closure.ms": build_ms("build.closure"),
        "build.ingest.write_ms": build_ms("build.ingest.write"),
        "build.meta_kg.ms": build_ms("build.meta_kg"),
        "build.write_amplification": med(
            o["write_amplification"] for o in builds[BUILD_WARMUP:]
            if "write_amplification" in o),
        "trace.overhead_p50_ms": overhead_ms,
        "trace.ops_traced": len(traced),
    }


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------
def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ploverdb_spark")):
        fail("ploverdb_spark is not in this checkout; nothing to measure")
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    probe_start = host_probe()
    fresh_scratch()
    inputs = prepare_serving()
    deadline = time.time() + RUN_DEADLINE_S
    facts = inputs["facts"]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    results_dir = os.path.join(CACHE, "results")
    os.makedirs(results_dir, exist_ok=True)
    server = Child("serve.py", ["--art", inputs["art"], "--trace", str(args.trace)],
                   os.path.join(results_dir, tag + ".out.json"),
                   os.path.join(results_dir, tag + ".log"), deadline - time.time())
    try:
        # requests and ground truth are made while the server starts
        streams = wl.mix(args.seed, facts, MIX_LEN)
        from truth import incident_edge_ids

        truth = incident_edge_ids(inputs["kgx"], sorted(
            {gen.node_id(r[3][1]) for st in streams for r in st if r[3][0] == "edges"}))
        ready = server.wait_ready()
        ready_s = time.time() - server.t_spawn
        port = ready["port"]
        pos = [0] * len(streams)
        prime_ops = closed_loop(port, streams, pos, wl.epoch, PRIME_S, truth, False)
        setup_s = time.time() - server.t_spawn
        # the measured requests start every stream at a block boundary; the
        # windows of a traced run then follow on, so that together they
        # cover every kind of request
        for s in range(len(pos)):
            pos[s] = -(-pos[s] // wl.period) * wl.period

        def window(seconds: float, traced: bool) -> list:
            return closed_loop(port, streams, pos, wl.epoch, seconds, truth,
                               traced)

        if trace:
            # untraced, traced, traced, untraced: a warm-up drift that is
            # still going on cancels out of the overhead
            quarter = args.seconds / 4
            ops = window(quarter, False)
            server.command("trace on")
            traced_ops = window(quarter, True) + window(quarter, True)
            server.command("trace off")
            ops += window(quarter, False)
        else:
            ops, traced_ops = window(args.seconds, False), []
        served = server.stop()
    finally:
        server.close()
    builds, built = (build_pass(args.seed, deadline) if trace and wl.build_pass
                     else ([], {}))
    probe_end = host_probe()

    measured = ops + traced_ops
    failed = [o for o in measured + prime_ops + builds if o["error"]]
    kinds: dict[str, int] = {}
    routes: dict[str, int] = {}
    for o in ops:
        kinds[o["kind"]] = kinds.get(o["kind"], 0) + 1
        routes[o["route"]] = routes.get(o["route"], 0) + 1
    if trace:
        overhead = (statistics.median(latency_ms(traced_ops))
                    - statistics.median(latency_ms(ops)))
        metrics = layer_metrics(traced_ops, served, ready, overhead, builds, built)
    else:
        metrics = dict(window_stats(ops), setup_s=setup_s, rss_mb=served["rss_mb"])
    units = declared_units("per_layer" if trace else "end_to_end")
    if set(metrics) != set(units):
        fail(f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "connections": len(wl.epoch),
        "spark_env": SPARK_ENV,
        "buckets": BUCKETS,
        "inputs": {k: facts[k] for k in ("seed", "graph", "n_nodes", "n_edges",
                                         "hub_degrees", "kgx_bytes",
                                         "artifact_bytes")},
        "host": host_noise(probe_start, probe_end),
        "requests_in_window": len(ops),
        "kinds_in_window": kinds,
        "routes_in_window": routes,
        "prime_requests": len(prime_ops),
        "setup": {"setup_s": setup_s, "ready_s": ready_s, **ready["setup"],
                  "cache_mb": ready["cache_mb"]},
        "errors": sorted({o["error"] for o in failed})[:10],
        "latency_by_kind_p50_ms": {
            k: statistics.median(latency_ms([o for o in ops if o["kind"] == k]))
            for k in sorted(kinds)
        },
        "build_pass": [
            {"op": o["op"], "ms": o["ms"], "error": o["error"],
             "spark": built.get("spark_ops", {}).get(str(o["op"]))}
            for o in builds
        ],
        "metrics": metrics,
        "ops": [[round(o["t0"], 4), round(o["t1"], 4), o["status"], o["kind"]]
                for o in measured],
    }
    with open(os.path.join(results_dir, tag + ".json"), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    print("detail " + json.dumps(
        {k: v for k, v in detail.items() if k not in ("metrics", "ops")}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(measured) + len(prime_ops) + len(builds),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

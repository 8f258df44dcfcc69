"""API dispatch layer + R6 slim output modes over the graft KG."""

from __future__ import annotations

import pytest

from ploverdb_spark.api import KpRegistry, handle
from ploverdb_spark.queries.graph import graft_engine
from tests.conftest import SF_SMOKE, wire

QG = {
    "nodes": {
        "n00": {"categories": ["graft:Customer"]},
        "n01": {"ids": ["N:0"]},
    },
    "edges": {
        "e00": {
            "subject": "n00",
            "object": "n01",
            "predicates": ["graft:located_in"],
        }
    },
}


@pytest.fixture(scope="module")
def registry(spark):
    # 300s harakiri: the SLO under test is "answered, never starved", not
    # cold-start latency — first-query Python-worker warmup and the
    # 100-request burst on a box mid-suite can eat several production 45s
    # windows while every request still completes.
    reg = KpRegistry(query_timeout_sec=300)
    reg.register("graft", graft_engine(spark, SF_SMOKE))
    return reg


@pytest.fixture(scope="module")
def spark_bound(registry):
    """The registry's KG with the driver index disabled
    (``driver_map_max_rows=0``): its /neighbors batches run on Spark and
    take admission, the path the failure-path tests below exercise."""
    from ploverdb_spark.query.compiler import TrapiEngine

    eng = registry.engine("graft")
    return TrapiEngine(eng.kg, kp_infores_curie=eng.kp_infores_curie, driver_map_max_rows=0)


def test_query_endpoint(registry):
    status, body = handle(registry, "query", {"message": {"query_graph": QG}})
    assert status == 200
    body = wire(body)
    assert body["message"]["results"]
    kg = body["message"]["knowledge_graph"]
    assert all(e["predicate"] == "graft:located_in" for e in kg["edges"].values())
    assert body["logs"]


def test_slim_tuple_mode(registry):
    qg = {**QG, "include_metadata": True}
    status, body = handle(registry, "query", qg)
    assert status == 200
    assert set(body) == {"nodes", "edges"}
    edges = body["edges"]["e00"]
    assert edges
    for tup in edges.values():
        assert len(tup) == 8 and tup[2] == "graft:located_in" and tup[7] == "False"
    # node tuples: (name, category, query_ids)
    n01 = body["nodes"]["n01"]
    assert "N:0" in n01 and n01["N:0"][1] == "graft:Nation"


def test_ids_only_mode(registry):
    qg = {**QG, "include_metadata": False}
    status, body = handle(registry, "query", qg)
    assert status == 200
    assert isinstance(body["nodes"]["n01"], list)
    assert body["nodes"]["n01"] == ["N:0"]
    assert all(isinstance(e, str) for e in body["edges"]["e00"])


def test_edges_endpoint(registry):
    status, body = handle(registry, "edges", {"pairs": [["C:1", "N:22"]]})
    assert status == 200
    assert "pairs_to_edge_ids" in body and "C:1--N:22" in body["pairs_to_edge_ids"]


def test_neighbors_endpoint(registry):
    # default predicates = biolink:related_to (symmetric root), so reverse
    # located_in edges count as neighbors — parity with the reference's
    # /neighbors defaults (main.py:246-247)
    status, body = handle(
        registry,
        "neighbors",
        {"node_ids": ["N:0"], "categories": ["graft:Customer"]},
    )
    assert status == 200
    assert body["N:0"] and all(n.startswith("C:") for n in body["N:0"])

    # asymmetric predicate + reverse-only edges -> empty (F4 semantics)
    status, body = handle(
        registry,
        "neighbors",
        {
            "node_ids": ["N:0"],
            "categories": ["graft:Customer"],
            "predicates": ["graft:located_in"],
        },
    )
    assert status == 200 and body["N:0"] == []


def test_neighbors_missing_node_ids(registry):
    # empty node_ids (and an absent key entirely) must 200 with {} —
    # the BETWEEN+IN batch rewrite used to IndexError -> unhandled 500
    status, body = handle(registry, "neighbors", {"node_ids": []})
    assert status == 200 and body == {}
    status, body = handle(registry, "neighbors", {})
    assert status == 200 and body == {}


def test_meta_kg_endpoint(registry):
    status, body = handle(registry, "meta_knowledge_graph")
    assert status == 200
    triples = {(e["subject"], e["predicate"], e["object"]) for e in body["edges"]}
    assert ("graft:Customer", "graft:located_in", "graft:Nation") in triples
    assert body["nodes"]["graft:Customer"]["id_prefixes"] == ["C"]


def test_sri_test_triples_endpoint(registry):
    status, body = handle(registry, "sri_test_triples")
    assert status == 200
    key = "graft:Customer--graft:located_in--graft:Nation"
    assert key in body and body[key]["subject_id"].startswith("C:")


def test_ops_endpoints(registry):
    assert handle(registry, "healthcheck")[0] == 200
    # ref test_non_query_commands.py:15-40 payload shape
    status, body = handle(registry, "code_version")
    assert status == 200
    assert set(body) >= {"code_info", "endpoint_build_nodes"}
    import re

    # reference main.py:620-621 string layout (clients parse this), plus
    # the "Date: YYYY-MM-DD" field the reference's own test demands
    # (test_non_query_commands.py:31-34) but its server never emits —
    # we satisfy both contracts (see api.py code_info comment).
    assert re.fullmatch(
        r"HEAD: \S+; Commit: [0-9a-f]{7}; "
        r"Timestamp: \d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z "
        r"\(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} P[SD]T\); "
        r"Date: \d{4}-\d{2}-\d{2}",
        body["code_info"],
    ) or body["code_info"] == "git repo not found"
    assert "Date:" in body["code_info"] or body["code_info"] == "git repo not found"
    assert set(body["endpoint_build_nodes"]) == {"graft"}
    status, logs = handle(registry, "get_logs", {"num_lines": 5})
    assert status == 200 and isinstance(logs, list)


def test_error_statuses(registry):
    # multi-edge -> 400 (F7)
    bad = {
        "nodes": QG["nodes"],
        "edges": {"e00": QG["edges"]["e00"], "e01": QG["edges"]["e00"]},
    }
    assert handle(registry, "query", bad)[0] == 400
    # unknown qualifier -> 403 (F6)
    qual = {
        "nodes": QG["nodes"],
        "edges": {
            "e00": {
                **QG["edges"]["e00"],
                "qualifier_constraints": [
                    {
                        "qualifier_set": [
                            {
                                "qualifier_type_id": "biolink:bogus_qualifier",
                                "qualifier_value": "x",
                            }
                        ]
                    }
                ],
            }
        },
    }
    assert handle(registry, "query", qual)[0] == 403
    # unknown endpoint -> 404
    assert handle(registry, "query", QG, endpoint="nope")[0] == 404
    # unknown path -> 404
    assert handle(registry, "bogus")[0] == 404


def test_answer_cutoff_403(spark):
    from ploverdb_spark.query.compiler import TrapiEngine

    eng = graft_engine(spark, SF_SMOKE)
    small = TrapiEngine(eng.kg, answer_cutoff=1)
    reg = KpRegistry()
    reg.register("small", small)
    status, body = handle(reg, "query", QG)
    assert status == 403 and "too large" in body["error"]


def test_concurrent_queries(registry):
    # serving stance: concurrent queries against one session all succeed
    # (FAIR scheduler; the reference runs 8-16 parallel workers)
    from concurrent.futures import ThreadPoolExecutor

    qgs = [
        {
            "nodes": {
                "n00": {"categories": ["graft:Customer"]},
                "n01": {"ids": [f"N:{i}"]},
            },
            "edges": {
                "e00": {
                    "subject": "n00",
                    "object": "n01",
                    "predicates": ["graft:located_in"],
                }
            },
        }
        for i in range(8)
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        statuses = list(
            pool.map(lambda qg: handle(registry, "query", qg)[0], qgs)
        )
    assert statuses == [200] * 8


@pytest.mark.shard2
def test_burst_100_concurrent_zero_504s(registry):
    """Burst parity (reference test_burst_backpressure.py:26-28): 100
    concurrent mixed requests through one engine, every one answered,
    zero 504s/timeouts — the FAIR scheduler + per-query job groups keep
    burst traffic from starving any request past the 45s harakiri."""
    from concurrent.futures import ThreadPoolExecutor

    def req(i: int):
        kind = i % 4
        if kind == 0:  # one-hop lookup
            qg = {
                "nodes": {
                    "n00": {"categories": ["graft:Customer"]},
                    "n01": {"ids": [f"N:{i % 25}"]},
                },
                "edges": {
                    "e00": {
                        "subject": "n00",
                        "object": "n01",
                        "predicates": ["graft:located_in"],
                    }
                },
            }
            return handle(registry, "query", qg)[0]
        if kind == 1:  # edgeless single-node query
            return handle(
                registry,
                "query",
                {"nodes": {"n00": {"ids": [f"N:{i % 25}"]}}, "edges": {}},
            )[0]
        if kind == 2:  # neighbors
            return handle(
                registry, "neighbors", {"node_ids": [f"N:{i % 25}"]}
            )[0]
        return handle(registry, "healthcheck")[0]  # lightweight

    with ThreadPoolExecutor(max_workers=100) as pool:
        statuses = list(pool.map(req, range(100)))
    assert statuses.count(200) == 100, statuses


def test_query_timeout_cancels(registry, spark):
    # a pathologically slow query must be cancelled at the deadline, not
    # run to completion (harakiri parity, uwsgi.ini:10)
    import time

    from ploverdb_spark.api import run_query_with_timeout
    from ploverdb_spark.query.compiler import QueryError

    eng = registry.engine("graft")
    t0 = time.perf_counter()
    with pytest.raises(QueryError) as exc:
        run_query_with_timeout(eng, QG, timeout_sec=0.001)
    assert exc.value.status == 504
    assert time.perf_counter() - t0 < 30


def test_rebuild_endpoint_swaps_engine(spark, tmp_path):
    """/rebuild parity (reference rebuild_main.py:45-68, Spark-native):
    token-gated, 422 on missing inputs, rebuilds from KGX files and
    atomically swaps the serving engine (meta-KG cache invalidated)."""
    import json as _json

    reg = KpRegistry(query_timeout_sec=120, rebuild_token="sekret")
    reg.register("kp", graft_engine(spark, SF_SMOKE))

    status, _ = handle(reg, "rebuild", {"token": "wrong"})
    assert status == 401
    status, body = handle(reg, "rebuild", {"token": "sekret"})
    assert status == 422 and "nodes_file" in body["error"]

    nodes_file = tmp_path / "nodes.jsonl"
    nodes_file.write_text(
        "\n".join(
            _json.dumps(n)
            for n in [
                {"id": "NEW:1", "name": "new one", "all_categories": ["biolink:Disease"]},
                {"id": "NEW:2", "name": "new two", "all_categories": ["biolink:SmallMolecule"]},
            ]
        )
    )
    edges_file = tmp_path / "edges.jsonl"
    edges_file.write_text(
        _json.dumps(
            {"id": "enew", "subject": "NEW:2", "object": "NEW:1",
             "predicate": "biolink:treats", "primary_knowledge_source": "infores:new"}
        )
    )
    status, body = handle(
        reg,
        "rebuild",
        {
            "token": "sekret",
            "nodes_file": str(nodes_file),
            "edges_file": str(edges_file),
            "config": {"is_test": True},
        },
    )
    assert status == 200 and "Rebuild" in body["message"]

    # the new engine was warmed before the swap: its driver index is
    # built before it serves a query, so even its first query is answered
    # without Spark
    new = reg.engine("kp")
    assert new.graph_index(build=False) is not None
    assert new.index_stats()["edges"] == 1
    # the swapped engine serves the NEW graph under the same endpoint
    qg = {
        "nodes": {"n00": {"ids": ["NEW:2"]}, "n01": {"categories": ["biolink:Disease"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01", "predicates": ["biolink:treats"]}},
    }
    status, body = handle(reg, "query", qg)
    assert status == 200
    assert set(wire(body)["message"]["knowledge_graph"]["edges"]) == {"enew"}
    # meta cache was invalidated: meta KG reflects the new graph
    status, meta = handle(reg, "meta_knowledge_graph")
    assert status == 200
    assert "biolink:Disease" in meta["nodes"]


def test_debug_endpoint(registry, spark_bound, monkeypatch):
    assert handle(registry, "query", QG)[0] == 200  # index built
    # /debug/last counts an indexed answer's encoded knowledge graph and
    # results exactly, here a hub-sized one (thresholds patched down)
    from ploverdb_spark.query import response

    monkeypatch.setattr(response, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    monkeypatch.setattr(response, "SLICE_ROWS", 1)
    status, body = handle(registry, "query", QG)
    assert status == 200 and isinstance(body["message"]["results"], response.Encoded)
    want = response.run_query(spark_bound, QG)["message"]
    assert len(want["knowledge_graph"]["edges"]) > 1
    assert registry._last_query["n_results"] == len(want["results"])
    assert registry._last_query["n_kg_edges"] == len(want["knowledge_graph"]["edges"])
    monkeypatch.undo()
    status, body = handle(registry, "debug", {})
    assert status == 200
    assert body["driver_memory"].get("rss_kb", 0) > 0
    # VmHWM: the peak RSS, never below the current RSS
    assert body["driver_memory"]["hwm_kb"] >= body["driver_memory"]["rss_kb"]
    assert "active_jobs" in body["spark"]
    assert isinstance(body["spark"]["cached_tables"], list)
    assert "graft" in body["endpoints"]
    index = body["driver_index"]["graft"]
    assert index["resident_bytes"] > 0 and index["edges"] > 0 and index["nodes"] > 0

    # a KG over the driver-map guard has no index to report
    from ploverdb_spark.query.compiler import TrapiEngine

    eng = registry.engine("graft")
    reg = KpRegistry(query_timeout_sec=300)
    reg.register(
        "big",
        TrapiEngine(eng.kg, kp_infores_curie="infores:big", driver_map_max_rows=0),
    )
    assert handle(reg, "query", QG)[0] == 200
    status, body = handle(reg, "debug", {})
    assert status == 200 and body["endpoints"] == ["big"]
    assert body["driver_index"] == {}


def test_indexed_queries_skip_admission(registry, monkeypatch):
    """A query the driver index answers is served on the request thread:
    no query thread, no admission slot, and no sample in the latency
    estimate that sheds doomed Spark-heavy requests.  A query routed to
    Spark (here the slim tuple format) still feeds the estimate."""
    from ploverdb_spark import api

    threaded = []
    orig = api.run_query_with_timeout

    def counting(*a, **kw):
        threaded.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(api, "run_query_with_timeout", counting)
    reg = KpRegistry(
        max_workers=2, backlog=4, query_timeout_sec=300, client_window_sec=30.0
    )
    reg.register("graft", registry.engine("graft").warmup())
    for i in range(5):
        qg = {**QG, "nodes": {**QG["nodes"], "n01": {"ids": [f"N:{i}"]}}}
        status, body = handle(reg, "query", qg)
        assert status == 200 and body["message"]["results"]
    status, body = handle(reg, "query", {"nodes": {"n00": {"ids": ["N:0"]}}, "edges": {}})
    assert status == 200 and body["message"]["knowledge_graph"]["nodes"]
    assert threaded == []
    assert reg._lat_ewma is None and reg._n_inflight == 0

    status, _ = handle(reg, "query", {**QG, "include_metadata": True})
    assert status == 200
    assert threaded == [1]
    assert reg._lat_ewma is not None and reg._n_inflight == 0


def test_indexed_hub_takes_admission(registry, monkeypatch):
    """An indexed answer over DISTRIBUTED_SERIALIZE_MIN_EDGES (patched
    down, with slices of one row, so the module's query is one) is built
    from the driver index on the request thread with no Spark job, but
    under admission: it feeds the latency estimate, and is refused while
    the only slot is held and no backlog is allowed."""
    from ploverdb_spark import api
    from ploverdb_spark.query import response

    monkeypatch.setattr(response, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    monkeypatch.setattr(response, "SLICE_ROWS", 1)
    threaded = []
    orig = api.run_query_with_timeout

    def counting(*a, **kw):
        threaded.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(api, "run_query_with_timeout", counting)
    reg = KpRegistry(max_workers=1, backlog=0, query_timeout_sec=300, client_window_sec=30.0)
    reg.register("graft", registry.engine("graft").warmup())
    tracker = registry.engine("graft").spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or ())
    status, body = handle(reg, "query", QG)
    assert status == 200 and body["message"]["results"]
    assert len(tracker.getJobIdsForGroup(None) or ()) == before
    assert threaded == []
    assert reg._lat_ewma is not None and reg._n_inflight == 0

    with reg.admission():  # the only slot held
        status, body = handle(reg, "query", QG)
        assert status == 503 and "busy" in body["error"]


def test_indexed_neighbors_skip_admission(registry, spark_bound):
    """A /neighbors batch the driver index answers takes no admission
    slot and leaves no sample in the latency estimate: it is answered
    even while the only slot is held and no backlog is allowed, where the
    same batch on Spark is refused."""
    reg = KpRegistry(max_workers=1, backlog=0, query_timeout_sec=300, client_window_sec=30.0)
    reg.register("graft", registry.engine("graft").warmup())
    reg.register("spark", spark_bound)
    for i in range(5):
        status, body = handle(reg, "neighbors", {"node_ids": [f"N:{i}", "C:7"]}, "graft")
        assert status == 200 and body[f"N:{i}"]
    assert reg._lat_ewma is None and reg._n_inflight == 0

    with reg.admission():  # the only slot held
        status, body = handle(reg, "neighbors", {"node_ids": ["N:0"]}, "graft")
        assert status == 200 and body["N:0"]
        status, body = handle(reg, "neighbors", {"node_ids": ["N:0"]}, "spark")
        assert status == 503 and "busy" in body["error"]


def test_fair_pool_names_recycled(registry, spark):
    """Spark creates a FAIR pool for every new pool name and never drops
    one, so pool names are recycled: 50 sequential Spark-path queries add
    at most one pool, and N concurrent ones at most N."""
    from concurrent.futures import ThreadPoolExecutor

    from ploverdb_spark.api import run_query_with_timeout
    from ploverdb_spark.query.compiler import TrapiEngine

    eng = registry.engine("graft")
    unindexed = TrapiEngine(
        eng.kg, kp_infores_curie=eng.kp_infores_curie, driver_map_max_rows=0
    )
    jsc = spark.sparkContext._jsc.sc()

    def query(_=None) -> dict:
        return run_query_with_timeout(unindexed, QG, timeout_sec=300)

    before = jsc.getAllPools().size()
    for _ in range(50):
        assert query()["message"]["results"]
    assert jsc.getAllPools().size() - before <= 1

    n = 4
    before = jsc.getAllPools().size()
    with ThreadPoolExecutor(max_workers=n) as pool:
        assert all(r["message"]["results"] for r in pool.map(query, range(3 * n)))
    assert jsc.getAllPools().size() - before <= n


def test_admission_control_backpressure(spark_bound):
    """Bounded-worker admission (reference nginx backlog + uWSGI pool,
    uwsgi.ini:33): beyond-backlog requests get 503 immediately; a queue
    wait past queue_wait_sec also 503s.  Neither ever 504s."""
    import threading

    from ploverdb_spark.api import KpRegistry
    from ploverdb_spark.query.compiler import QueryError

    reg = KpRegistry(max_workers=1, backlog=0, queue_wait_sec=0.05)
    reg.register("graft", spark_bound)
    # hold the only worker slot; with backlog 0 the next request 503s
    with reg.admission():
        status, body = handle(reg, "neighbors", {"node_ids": ["N:0"]})
        assert status == 503 and "busy" in body["error"]
    # slot free again -> request succeeds
    status, _ = handle(reg, "neighbors", {"node_ids": ["N:0"]})
    assert status == 200

    # queue-wait timeout: one slot held, backlog allows queueing, but no
    # worker frees within queue_wait_sec
    reg2 = KpRegistry(max_workers=1, backlog=8, queue_wait_sec=0.05)
    reg2.register("graft", spark_bound)
    with reg2.admission():
        status, body = handle(reg2, "neighbors", {"node_ids": ["N:0"]})
        assert status == 503 and "worker" in body["error"]

    # queued request proceeds once the worker frees (no 503)
    reg3 = KpRegistry(max_workers=1, backlog=8, queue_wait_sec=30)
    reg3.register("graft", spark_bound)
    release = threading.Event()
    statuses = []

    def queued():
        statuses.append(handle(reg3, "neighbors", {"node_ids": ["N:0"]})[0])

    cm = reg3.admission()
    cm.__enter__()
    t = threading.Thread(target=queued)
    t.start()
    release.wait(0.2)  # let it enqueue
    cm.__exit__(None, None, None)
    t.join(timeout=60)
    assert statuses == [200]


def test_admission_sheds_doomed_requests_503_not_504(spark_bound):
    """Latency-aware shedding (reference SLO: 503 backpressure allowed,
    504 never): when the moving per-request latency estimate says a new
    arrival cannot finish inside the client window — a synthetic stall:
    every slot held, recent requests slow — the request is 503'd
    IMMEDIATELY, not queued toward a 504.  Without an estimate (cold
    process) or with a healthy estimate, admission proceeds."""
    import threading
    import time

    from ploverdb_spark.api import KpRegistry

    reg = KpRegistry(
        max_workers=1,
        backlog=8,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=10.0,
    )
    reg.register("graft", spark_bound)

    # cold process: no latency evidence yet -> admit normally
    status, _ = handle(reg, "neighbors", {"node_ids": ["N:0"]})
    assert status == 200

    # synthetic stall: recent requests took ~6s each (EWMA-primed), the
    # only worker slot is held AND one request already queues behind it
    # (the saturation guard: shedding needs ahead >= 2*max_workers, so a
    # mass arrival on stale evidence is not shed wholesale).  ahead=2,
    # est = 6*(2/1+1) = 18s > 10s window -> immediate 503, measured in
    # milliseconds, not a 45s 504.
    for _ in range(6):
        reg._note_latency(6.0)
    release = threading.Event()
    queued_status = []

    def hold_and_queue():
        with reg.admission():  # grabs the freed slot once cm exits
            release.wait(5)
        queued_status.append("done")

    cm = reg.admission()
    cm.__enter__()  # worker slot held
    t = threading.Thread(target=hold_and_queue, daemon=True)
    t.start()
    deadline = time.monotonic() + 5
    while reg._n_queued < 1 and time.monotonic() < deadline:
        time.sleep(0.01)  # wait until the thread is actually queued
    assert reg._n_queued == 1
    t0 = time.monotonic()
    status, body = handle(reg, "neighbors", {"node_ids": ["N:0"]})
    elapsed = time.monotonic() - t0
    assert status == 503, body
    assert "client window" in body["error"]
    assert elapsed < 2.0, f"doomed request waited {elapsed:.1f}s before 503"
    # below the saturation guard (ahead=1 after the queue drains) the
    # same stale estimate does NOT shed — early arrivals re-teach the
    # EWMA instead of being rejected on old evidence
    cm.__exit__(None, None, None)
    release.set()
    t.join(timeout=10)
    for _ in range(8):
        reg._note_latency(0.2)
    status, _ = handle(reg, "neighbors", {"node_ids": ["N:0"]})
    assert status == 200


def test_shed_recovery_admits_on_stale_ewma(spark_bound):
    """Recovery path of the shedding estimate (observed live in round 11:
    a recovered host's 100-request burst shed 89 on a stale-high EWMA
    while the 11 admitted finished in milliseconds).  The EWMA learns
    only from completions, so after a contended window it reads high
    long after the host recovers; the saturation guard
    (``ahead >= 2 * max_workers``) must admit arrivals until the pool is
    genuinely backed up, letting fast completions re-teach the estimate
    instead of mass-shedding on old evidence."""
    import threading

    from ploverdb_spark.api import KpRegistry

    # client_window_sec must be tight enough that the stale 60 s EWMA
    # alone would shed (est > window), but loose enough that genuine
    # queue waits on a CONTENDED test box never trip the dequeue-time
    # ground-truth shed (an honest 503 that would flake this test — the
    # 5 s window used initially did exactly that under a parallel
    # suite at host load ~20).
    reg = KpRegistry(
        max_workers=4,
        backlog=16,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=30.0,
    )
    reg.register("graft", spark_bound)

    # Stale-high evidence: the estimate alone would 503 anything
    # (est >= 60s >> 30s window) — but the pool is idle, so ahead stays
    # far below 2*max_workers=8 and every arrival must be admitted.
    for _ in range(6):
        reg._note_latency(60.0)

    statuses: list[int] = []
    lock = threading.Lock()

    def arrive():
        status, _ = handle(reg, "neighbors", {"node_ids": ["N:0"]})
        with lock:
            statuses.append(status)

    # A concurrent wave of 6: inflight tops out at 4 with <= 2 queued —
    # under the saturation bar throughout.
    threads = [threading.Thread(target=arrive) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert statuses.count(200) == 6, statuses  # zero sheds on recovery
    # ...and those completions re-taught the estimate (0.7 decay per
    # completion pulls 60 s toward the observed latencies).  The bound is
    # host-tolerant: even ~10 s contended completions leave the EWMA
    # well under half the stale reading, which is the claim that matters
    # — live evidence displaced the stale evidence.
    with reg._lat_lock:
        assert reg._lat_ewma < 30.0


def test_doom_park_rescued_by_live_completions(spark_bound):
    """A doom verdict must survive one round of live evidence before
    firing: an arrival judged doomed on a fresh-but-wrong EWMA (host
    recovered between bursts — observed live as 79-82/100 false sheds)
    parks briefly, and completions landing during the park collapse the
    estimate and rescue it to a 200 instead of a 503."""
    import threading
    import time

    from ploverdb_spark.api import KpRegistry

    reg = KpRegistry(
        max_workers=1,
        backlog=8,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=10.0,  # park budget = 10/30 ~ 0.33s
    )
    reg.register("graft", spark_bound)
    for _ in range(6):
        reg._note_latency(60.0)  # doom-grade, fresh

    release = threading.Event()

    def hold_and_exit():
        with reg.admission():
            release.wait(5)

    cm = reg.admission()
    cm.__enter__()  # slot held: ahead will be 2 = 2*max_workers
    t_q = threading.Thread(target=hold_and_exit, daemon=True)
    t_q.start()
    deadline = time.monotonic() + 5
    while reg._n_queued < 1 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert reg._n_queued == 1

    out = []
    t0 = time.monotonic()
    t_arr = threading.Thread(
        target=lambda: out.append(
            handle(reg, "neighbors", {"node_ids": ["N:0"]})
        ),
        daemon=True,
    )
    t_arr.start()
    time.sleep(0.15)
    assert not out, "arrival should be parked, not yet judged"
    # live evidence lands mid-park: the host is actually fast
    for _ in range(10):
        reg._note_latency(0.01)  # EWMA 60 * 0.7^10 ~ 1.7s -> est ~5s < 10s
    release.set()
    cm.__exit__(None, None, None)
    t_q.join(timeout=30)
    t_arr.join(timeout=60)
    status, body = out[0]
    assert status == 200, body
    assert time.monotonic() - t0 < 30


def test_shed_requires_fresh_evidence(spark_bound):
    """A saturated pool plus a stale-high EWMA must still admit: any
    100-wave saturates the pool within milliseconds, so the saturation
    guard alone cannot stop a mass-shed on evidence describing a window
    that ended a minute ago (observed live: endurance burst shed 79/100
    on the primary burst's EWMA while its admitted requests finished in
    0.15s).  Evidence older than one client window is expired."""
    import threading
    import time

    from ploverdb_spark.api import KpRegistry

    reg = KpRegistry(
        max_workers=1,
        backlog=8,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=10.0,
    )
    reg.register("graft", spark_bound)
    for _ in range(6):
        reg._note_latency(60.0)  # doom-grade estimate, currently fresh

    release = threading.Event()
    done = []

    def hold_and_queue():
        with reg.admission():
            release.wait(5)
        done.append(1)

    cm = reg.admission()
    cm.__enter__()  # the one worker slot held
    t = threading.Thread(target=hold_and_queue, daemon=True)
    t.start()
    deadline = time.monotonic() + 5
    while reg._n_queued < 1 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert reg._n_queued == 1  # ahead = 2 = 2*max_workers: saturated

    # fresh evidence: the estimate applies and the arrival is shed
    status, body = handle(reg, "neighbors", {"node_ids": ["N:0"]})
    assert status == 503 and "client window" in body["error"]

    # same saturation, same EWMA — but the evidence is now older than
    # the client window: expired, so the arrival must be admitted
    with reg._lat_lock:
        reg._lat_noted_at -= 11.0
    ok = []

    def arrive():
        ok.append(handle(reg, "neighbors", {"node_ids": ["N:0"]})[0])

    t2 = threading.Thread(target=arrive, daemon=True)
    t2.start()
    time.sleep(0.3)
    assert not ok, "should be queued, not shed"
    cm.__exit__(None, None, None)
    release.set()
    t.join(timeout=30)
    t2.join(timeout=60)
    assert ok == [200]


def test_dequeue_shed_past_client_window(spark_bound):
    """Dequeue-time window re-check: a request admitted on healthy
    evidence but left queueing past the client window must 503 the
    moment it gets a slot (its wait is ground truth — the caller is
    gone) instead of burning a worker; a short, in-window queue wait
    still proceeds to 200."""
    import threading
    import time

    from ploverdb_spark.api import KpRegistry

    def run_queued(reg, hold_sec):
        """Hold the only slot for hold_sec while one request queues;
        return its (status, body)."""
        out = []

        def arrive():
            out.append(handle(reg, "neighbors", {"node_ids": ["N:0"]}))

        cm = reg.admission()
        cm.__enter__()
        t = threading.Thread(target=arrive, daemon=True)
        t.start()
        deadline = time.monotonic() + 5
        while reg._n_queued < 1 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert reg._n_queued == 1
        time.sleep(hold_sec)
        cm.__exit__(None, None, None)
        t.join(timeout=60)
        return out[0]

    reg = KpRegistry(
        max_workers=1,
        backlog=8,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=0.3,
    )
    reg.register("graft", spark_bound)
    status, body = run_queued(reg, hold_sec=0.6)  # waited 0.6s > 0.3s window
    assert status == 503, body
    assert "client window" in body["error"]

    # generous window: the same queued shape proceeds normally
    reg2 = KpRegistry(
        max_workers=1,
        backlog=8,
        queue_wait_sec=30,
        query_timeout_sec=45,
        client_window_sec=60.0,
    )
    reg2.register("graft", spark_bound)
    status, _ = run_queued(reg2, hold_sec=0.1)
    assert status == 200


def test_debug_last_endpoint(registry):
    """GET /debug/last (reference main.py:554-568, mirrored from
    test_non_query_commands.py): cached snapshot + captured_at + note,
    with the snapshot matching /debug's schema; after a query it also
    carries the most recent query's stats."""
    status, first = handle(registry, "debug/last")
    assert status == 200
    for key in ("snapshot", "captured_at", "note"):
        assert key in first
    snap = first["snapshot"]
    assert "driver_memory" in snap and "endpoints" in snap
    # a /debug call refreshes the cache
    status, fresh = handle(registry, "debug", {})
    assert status == 200
    status, second = handle(registry, "debug/last")
    assert second["snapshot"] == fresh
    # after a query, last_query stats are exposed
    status, _ = handle(registry, "query", {"message": {"query_graph": QG}})
    assert status == 200
    status, third = handle(registry, "debug/last")
    lq = third["last_query"]
    assert lq["endpoint"] == "graft" and lq["took_sec"] >= 0
    assert lq["n_results"] > 0 and lq["n_kg_edges"] > 0


def test_home_pages_via_handle(registry):
    from ploverdb_spark.query.compiler import QueryError

    status, html = handle(registry, "")
    assert status == 200 and html.startswith("<!DOCTYPE html>")
    status, html = handle(registry, "home", endpoint="graft")
    assert status == 200 and "/graft/query" in html
    # unknown KP home -> 404
    status, _ = handle(registry, "home", endpoint="nope")
    assert status == 404


def test_rebuild_delete_local_kg_files(spark, tmp_path):
    """delete_local_kg_files parity (reference plover.py:1370-1379): staged
    KGX inputs are removed after a successful rebuild when the config flag
    is set; missing files never fail the build."""
    import json as _json

    reg = KpRegistry(query_timeout_sec=120, rebuild_token="sekret")
    reg.register("kp", graft_engine(spark, SF_SMOKE))
    nodes_file = tmp_path / "nodes.jsonl"
    nodes_file.write_text(
        _json.dumps({"id": "NEW:1", "all_categories": ["biolink:Disease"]})
    )
    edges_file = tmp_path / "edges.jsonl"
    edges_file.write_text(
        _json.dumps(
            {"id": "e1", "subject": "NEW:1", "object": "NEW:1",
             "predicate": "biolink:related_to"}
        )
    )
    status, _ = handle(
        reg,
        "rebuild",
        {
            "token": "sekret",
            "nodes_file": str(nodes_file),
            "edges_file": str(edges_file),
            "config": {"is_test": True, "delete_local_kg_files": True},
        },
    )
    assert status == 200
    assert not nodes_file.exists() and not edges_file.exists()

    from ploverdb_spark.build.ingest import remove_input_files

    # missing files and URLs are skipped quietly
    assert remove_input_files([str(nodes_file), "https://x.org/y.tsv", None]) == []


def test_closure_report(registry):
    from ploverdb_spark.build.closure import closure_report

    eng = registry.engine("graft")
    report = closure_report(eng.kg.subclass_closure)
    assert report["n_parents"] > 0
    assert report["max_descendants"] >= report["median_descendants"]
    assert report["top_parents"][0][1] == report["max_descendants"]
    assert set(report["prefix_histogram"]) <= {"N", "R"}

def test_fetch_file_local(tmp_path):
    from ploverdb_spark.sources.fetch import fetch_file

    src = tmp_path / "src.tsv"
    src.write_text("id\tname\nX:1\talpha\n")
    dest = tmp_path / "out" ; dest.mkdir()
    out = fetch_file(src.as_uri(), str(dest / "fetched.tsv"))
    assert open(out).read().startswith("id\tname")
    # failure path: retries then raises
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        fetch_file(
            (tmp_path / "missing.tsv").as_uri(),
            str(dest / "nope.tsv"),
            max_retries=2,
            backoff_sec=0.01,
        )


def test_provenance_node_injected(spark):
    from ploverdb_spark.build.ingest import build_knowledge_graph
    from ploverdb_spark.queries.graph import build_graft_nodes_edges
    from ploverdb_spark.sources.kgx import KgxConfig
    from tests.conftest import SF_SMOKE

    nodes, edges = build_graft_nodes_edges(spark, SF_SMOKE)
    kg = build_knowledge_graph(
        nodes, edges, KgxConfig(), provenance_files=["nodes.tsv", "edges.tsv"]
    )
    prov = kg.nodes.where(kg.nodes.id == "ploverdb_spark:build").collect()
    assert len(prov) == 1
    assert "nodes.tsv" in prov[0]["description"]


def test_http_hub_answer_wire(registry, spark_bound, monkeypatch):
    """A hub-sized indexed answer (thresholds patched down) read over a
    socket: its Content-Length is the bytes received, and its knowledge
    graph and results are the Spark path's, entity by entity."""
    import json as _json
    import urllib.request
    from collections import Counter

    from ploverdb_spark.http_frontend import serve
    from ploverdb_spark.query import response
    from tests.conftest import canonical_result

    monkeypatch.setattr(response, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    monkeypatch.setattr(response, "SLICE_ROWS", 1)
    assert registry.engine("graft").warmup().graph_index(build=False) is not None
    server = serve(registry, host="127.0.0.1", port=0)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.server_address[1]}/query",
            data=_json.dumps(QG).encode(),
        )
        with urllib.request.urlopen(req, timeout=300) as r:
            length, raw = int(r.headers["Content-Length"]), r.read()
    finally:
        server.shutdown()
    assert length == len(raw)
    got = _json.loads(raw)["message"]
    want = wire(response.run_query(spark_bound, QG))["message"]
    assert len(want["knowledge_graph"]["edges"]) > 1
    for part in ("nodes", "edges"):
        assert {k: _json.dumps(v) for k, v in got["knowledge_graph"][part].items()} == {
            k: _json.dumps(v) for k, v in want["knowledge_graph"][part].items()
        }
    assert Counter(map(canonical_result, got["results"])) == Counter(
        map(canonical_result, want["results"])
    )


MALFORMED = {
    "non_integer_length": b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Length: abc\r\n\r\n",
    "negative_length": b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Length: -5\r\n\r\n",
    "array_body_neighbors": b"POST /neighbors HTTP/1.1\r\nHost: x\r\nContent-Length: 3\r\n\r\n[1]",
    "array_body_query": b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Length: 3\r\n\r\n[1]",
    "string_body_edges": b"POST /edges HTTP/1.1\r\nHost: x\r\nContent-Length: 4\r\n\r\n\"ab\"",
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_http_malformed_request_400(registry, case):
    """Malformed input over a raw socket (a Content-Length that is not a
    non-negative integer, a JSON body that is not an object) is answered
    400 with a JSON error, not a dropped connection."""
    import json as _json
    import socket

    from ploverdb_spark.http_frontend import serve

    server = serve(registry, host="127.0.0.1", port=0)
    try:
        with socket.create_connection(("127.0.0.1", server.server_address[1]), timeout=60) as sock:
            sock.sendall(MALFORMED[case])
            reply = sock.makefile("rb")
            status = reply.readline().split()[1]
            headers = dict(iter(lambda: reply.readline().rstrip().split(b": ", 1), [b""]))
            body = reply.read(int(headers[b"Content-Length"]))
    finally:
        server.shutdown()
    assert status == b"400", body
    assert "error" in _json.loads(body)


def test_non_object_payload_400(registry):
    """api.handle answers a payload that is not a JSON object with 400."""
    for path in ("get_logs", "neighbors", "query", "edges"):
        status, body = handle(registry, path, [1])
        assert status == 400 and "error" in body


def test_http_frontend_routes(registry):
    """The stdlib HTTP frontend serves the same semantics as handle():
    GET meta/health, POST query (with and without KP prefix), 404s, and
    rebuild auth — all over real sockets."""
    import json as _json
    import urllib.error
    import urllib.request

    from ploverdb_spark.http_frontend import serve

    server = serve(registry, host="127.0.0.1", port=0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"

    def get(path):
        with urllib.request.urlopen(f"{base}{path}", timeout=120) as r:
            return r.status, _json.loads(r.read() or b'""')

    def post(path, payload):
        req = urllib.request.Request(
            f"{base}{path}",
            data=_json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, _json.loads(r.read())

    def get_raw(path):
        with urllib.request.urlopen(f"{base}{path}", timeout=120) as r:
            return r.status, r.headers.get("Content-Type"), r.read().decode()

    try:
        assert get("/healthcheck") == (200, "")
        status, meta = get("/meta_knowledge_graph")
        assert status == 200 and "edges" in meta
        # GET / — instance home page (reference main.py:130-158): HTML
        # listing each KP's infores curie, sub-endpoint link, and the
        # default-KP marker
        status, ctype, html = get_raw("/")
        assert status == 200 and ctype == "text/html"
        assert "infores:test-graft" in html or "graft" in html
        assert "href='/graft'" in html and "*" in html
        assert "/healthcheck" in html and "/code_version" in html
        # GET /<kp> — per-KP home page (reference main.py:651-658 +
        # kp_home_template.html): names the KP curie and links its
        # meta_knowledge_graph / sri_test_triples endpoints
        status, ctype, html = get_raw("/graft")
        assert status == 200 and ctype == "text/html"
        assert "/graft/query" in html
        assert "/graft/meta_knowledge_graph" in html
        assert "/graft/sri_test_triples" in html
        # GET /debug/last serves the cached snapshot shape over HTTP too
        status, last = get("/debug/last")
        assert status == 200 and "snapshot" in last and "captured_at" in last
        # default endpoint and explicit KP prefix serve identically
        s1, body1 = post("/query", QG)
        s2, body2 = post("/graft/query", QG)
        assert s1 == s2 == 200
        assert body1["message"]["results"] and body2["message"]["results"]
        # the reference's double-registered route names (main.py:222-241,
        # 626-627): get_edges==edges, get_neighbors==neighbors,
        # get_logs==logs
        pairs = [["N:0", "N:1"]]
        s1, e1 = post("/get_edges", {"pairs": pairs})
        s2, e2 = post("/edges", {"pairs": pairs})
        assert s1 == s2 == 200 and e1 == e2
        s1, n1 = post("/get_neighbors", {"node_ids": ["CHEM:1"]})
        s2, n2 = post("/neighbors", {"node_ids": ["CHEM:1"]})
        assert s1 == s2 == 200 and n1 == n2
        s1, _ = get("/logs")
        s2, _ = get("/get_logs")
        assert s1 == s2 == 200
        # unknown path -> 404
        with pytest.raises(urllib.error.HTTPError) as exc:
            get("/nope")
        assert exc.value.code == 404
        # wrong method -> 405, matching the reference's single-method
        # Flask routes (@app.get /logs, @app.post /query): GET on a POST
        # route must not dispatch a query with an empty payload, and
        # POST on a GET route must not leak the log tail
        with pytest.raises(urllib.error.HTTPError) as exc:
            get("/query")
        assert exc.value.code == 405
        with pytest.raises(urllib.error.HTTPError) as exc:
            post("/logs", {})
        assert exc.value.code == 405
        # rebuild without a configured token -> 401
        with pytest.raises(urllib.error.HTTPError) as exc:
            post("/rebuild", {"token": "x"})
        assert exc.value.code == 401
        # malformed JSON body -> 400
        req = urllib.request.Request(
            f"{base}/query", data=b"{not json", headers={}
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req, timeout=60)
        assert exc.value.code == 400
    finally:
        server.shutdown()


def test_serve_freezes_the_warm_heap(registry):
    """Serving moves the warm registry's objects to the GC's permanent
    generation, so cyclic collections during a big answer's build do not
    walk the engine (reference main.py:73-78)."""
    import gc

    from ploverdb_spark.http_frontend import serve

    assert registry.engine("graft").warmup().graph_index(build=False) is not None
    gc.unfreeze()
    server = serve(registry, host="127.0.0.1", port=0)
    try:
        assert gc.get_freeze_count() > 0
    finally:
        server.shutdown()
        server.server_close()
        gc.unfreeze()

"""Seeded benchmark inputs: a KGX knowledge graph and the request mixes.

Everything here is a pure function of the seed it is given.  The program
under test only ever sees what this module writes: ``nodes.jsonl`` /
``edges.jsonl`` (KGX JSON Lines) and the HTTP request bodies.

Graph shape:

- node categories cycle through eight Biolink classes;
- edge subjects are uniform, edge objects follow a Zipf law over a seeded
  permutation of the nodes, so on the serving graph a few hubs carry more
  than 5000 incident edges (``DISTRIBUTED_SERIALIZE_MIN_EDGES`` in
  ``query/response.py``);
- a subclass forest (fan-out 4) over the first ``forest`` nodes feeds the
  transitive closure and the subclass expansion of pinned ids;
- every ``ALIAS_EVERY``-th node carries an ``ALIAS:`` equivalent id;
- no duplicate (subject, predicate, object) triple and no self loop, so an
  edge id set is a complete description of a one-hop answer.
"""

from __future__ import annotations

import json
import os
import random

CATEGORIES = (
    "biolink:Gene",
    "biolink:Disease",
    "biolink:ChemicalEntity",
    "biolink:Protein",
    "biolink:PhenotypicFeature",
    "biolink:SmallMolecule",
    "biolink:Drug",
    "biolink:Pathway",
)
# treated_by is stored non-canonically, so the build's canonical flip runs
PREDICATES = (
    "biolink:treats",
    "biolink:treated_by",
    "biolink:interacts_with",
    "biolink:physically_interacts_with",
    "biolink:affects",
    "biolink:causes",
    "biolink:contributes_to",
    "biolink:regulates",
    "biolink:has_phenotype",
    "biolink:associated_with",
)
SOURCES = tuple(f"infores:src{i}" for i in range(5))
FOREST_FANOUT = 4
ZIPF_S = 1.1
ALIAS_EVERY = 50
# nodes outside the forest with at most this many incident edges (95% of
# the serving graph's nodes) are the "small" ones requests pin: their
# answers cost about the same whichever the seed picks
SMALL_DEGREE = 13

# (nodes, edges, forest size).  One graph serves both serving workloads;
# the build pass builds a smaller one, generated from the workload seed.
SERVE_GRAPH = (10_000, 40_000, 1_000)
BUILD_GRAPH = (3_000, 12_000, 340)


def node_id(i: int) -> str:
    return f"PB:{i:07d}"


def alias_id(i: int) -> str:
    return f"ALIAS:{i:07d}"


def forest_parent(i: int) -> int | None:
    """Parent of forest node ``i`` (roots are 0..FOREST_FANOUT-1)."""
    return None if i < FOREST_FANOUT else i // FOREST_FANOUT - 1


def generate_kgx(seed: int, graph: tuple[int, int, int], out_dir: str) -> dict:
    """Write ``nodes.jsonl`` and ``edges.jsonl`` under ``out_dir`` for a
    graph of (nodes, edges, forest size); return the graph facts the
    request generator and the checks need."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n, n_edges, forest = graph
    cat_offset = rng.randrange(len(CATEGORIES))
    node_cat = [CATEGORIES[(i + cat_offset) % len(CATEGORIES)] for i in range(n)]
    aliased = list(range(0, n, ALIAS_EVERY))
    with open(os.path.join(out_dir, "nodes.jsonl"), "w", encoding="utf-8") as f:
        for i in range(n):
            row = {
                "id": node_id(i),
                "name": f"node {i}",
                "all_categories": [node_cat[i]],
                "equivalent_curies": (
                    [alias_id(i), node_id(i)] if i % ALIAS_EVERY == 0 else []
                ),
                "description": f"synthetic node {i} of seed {seed}",
            }
            f.write(json.dumps(row) + "\n")

    # Zipf-ranked objects: rank r (1-based) has weight r^-s; ranks map to
    # nodes through a seeded permutation so hubs land anywhere.
    perm = list(range(n))
    rng.shuffle(perm)
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += r ** -ZIPF_S
        cum.append(acc)
    objects = rng.choices(perm, cum_weights=cum, k=n_edges * 2)
    seen: set[tuple[int, int, int]] = set()
    edges = []
    oi = 0
    while len(edges) < n_edges:
        s = rng.randrange(n)
        o = objects[oi % len(objects)]
        oi += 1
        p = rng.randrange(len(PREDICATES))
        if s == o or (s, p, o) in seen:
            continue
        seen.add((s, p, o))
        edges.append((s, p, o))
    degree = [0] * n
    with open(os.path.join(out_dir, "edges.jsonl"), "w", encoding="utf-8") as f:
        for k, (s, p, o) in enumerate(edges):
            degree[s] += 1
            degree[o] += 1
            h = rng.random()
            row = {
                "id": f"e{k}",
                "subject": node_id(s),
                "predicate": PREDICATES[p],
                "object": node_id(o),
                "primary_knowledge_source": SOURCES[k % len(SOURCES)],
                "knowledge_level": (
                    "knowledge_assertion" if h < 0.5 else "prediction"
                ),
                "agent_type": "manual_agent" if h < 0.5 else "automated_agent",
                "publications": [f"PMID:{rng.randrange(10**6)}"] if h < 0.1 else [],
            }
            f.write(json.dumps(row) + "\n")
        for i in range(FOREST_FANOUT, forest):
            row = {
                "id": f"sub{i}",
                "subject": node_id(i),
                "predicate": "biolink:subclass_of",
                "object": node_id(forest_parent(i)),
                "primary_knowledge_source": "infores:ontology",
                "knowledge_level": "knowledge_assertion",
                "agent_type": "manual_agent",
                "publications": [],
            }
            f.write(json.dumps(row) + "\n")

    by_degree = sorted(range(n), key=lambda i: -degree[i])
    facts = {
        "seed": seed,
        "graph": list(graph),
        "forest": forest,
        "n_nodes": n,
        "n_edges": len(edges) + max(0, forest - FOREST_FANOUT),
        "hubs": by_degree[:8],
        "hub_degrees": [degree[i] for i in by_degree[:8]],
        "aliased": aliased,
        "small": [i for i in range(forest, n) if degree[i] <= SMALL_DEGREE],
        "kgx_bytes": sum(
            os.path.getsize(os.path.join(out_dir, f))
            for f in ("nodes.jsonl", "edges.jsonl")
        ),
    }
    with open(os.path.join(out_dir, "facts.json"), "w", encoding="utf-8") as f:
        json.dump(facts, f)
    return facts


# ---------------------------------------------------------------------------
# request mixes
# ---------------------------------------------------------------------------
# A mix is a list of request streams, one per client connection.  Each
# request is (kind, path, payload, check) where ``check`` is
# ("edges", pinned_node_index) — the answer's edge-id set must equal the
# DuckDB ground truth for that node — or ("trapi",) / ("neighbors",) —
# HTTP 200 and a well-formed body are required.


def _onehop(ids, other_categories=None, predicates=None, pinned_object=False,
            constraints=None) -> dict:
    pinned = {"ids": list(ids)}
    other = {"categories": other_categories} if other_categories else {}
    nodes = {"n00": other, "n01": pinned} if pinned_object else {
        "n00": pinned, "n01": other}
    edge = {"subject": "n00", "object": "n01"}
    if predicates:
        edge["predicates"] = predicates
    if constraints:
        edge["attribute_constraints"] = constraints
    return {"message": {"query_graph": {"nodes": nodes, "edges": {"e00": edge}}}}


def _small_node(rng: random.Random, facts: dict) -> int:
    """A small node outside the forest: its one-hop answer has at most
    ``SMALL_DEGREE`` edges and no subclass expansion."""
    return rng.choice(facts["small"])


def _forest_node(rng: random.Random, facts: dict) -> int:
    """An inner forest node: pinning it expands through the closure."""
    return rng.randrange(0, facts["forest"] // FOREST_FANOUT)


def _small_aliased(facts: dict) -> list[int]:
    small = set(facts["small"])
    return [i for i in facts["aliased"] if i in small]


def onehop_serial_mix(seed: int, facts: dict, count: int) -> list[list[tuple]]:
    """One stream of pinned one-hop requests with small answers.  Half are
    checked against ground truth (plain ids, and alias ids that resolve
    through the synonym map); the rest vary predicate and category, pin
    the object side, or pin a forest node that expands through the
    subclass closure."""
    rng = random.Random(seed * 7919 + 1)
    aliased = _small_aliased(facts)
    out = []
    for k in range(count):
        kind = k % ONEHOP_PERIOD
        if kind in (0, 3):
            i = _small_node(rng, facts)
            out.append(("plain", "query", _onehop([node_id(i)]), ("edges", i)))
        elif kind == 1:
            i = _small_node(rng, facts)
            out.append(("predicate", "query", _onehop(
                [node_id(i)], [rng.choice(CATEGORIES)],
                [rng.choice(PREDICATES[2:])]), ("trapi",)))
        elif kind == 2:
            i = _forest_node(rng, facts)
            out.append(("subclass", "query", _onehop(
                [node_id(i)], [rng.choice(CATEGORIES)]), ("trapi",)))
        elif kind == 4:
            i = rng.choice(aliased)
            out.append(("alias", "query", _onehop([alias_id(i)]), ("edges", i)))
        else:
            i = _small_node(rng, facts)
            out.append(("object_pinned", "query", _onehop(
                [node_id(i)], [rng.choice(CATEGORIES)], pinned_object=True),
                ("trapi",)))
    return [out]


# mixed_concurrent takes its shares from the reference burst mix
# (scalebench.burst_requests, after the reference's
# test_burst_backpressure.py): pinned one-hop, hub one-hop, doubly pinned
# and /neighbors in equal shares.  The two kinds this benchmark adds,
# edgeless node lookups and attribute-constraint queries, get the same
# share, so a sixth of the requests are hub answers above 5000 edges.
# The client runs in epochs (run.closed_loop): in each, connection 0 sends
# one hub request while the other three send the other five kinds, so one
# hub answer is in flight throughout, and every epoch starts the same
# kinds at the same moments on the same connections.  Per connection, the
# kinds it sends in every epoch, in order:
MIXED_LANES = (("hub",), ("pinned", "constraint"), ("neighbors", "node_lookup"),
               ("doubly_pinned",))
MIXED_EPOCH = tuple(len(lane) for lane in MIXED_LANES)
ONEHOP_PERIOD = 6


def mixed_concurrent_mix(seed: int, facts: dict, count: int) -> list[list[tuple]]:
    """One request stream per connection, repeating its lane of
    ``MIXED_LANES``: hub one-hop (> 5000 edges); pinned one-hop and
    attribute-constraint queries; 100-id /neighbors batches and edgeless
    node lookups; doubly pinned queries."""
    rng = random.Random(seed * 7919 + 2)
    big_hubs = [h for h, d in zip(facts["hubs"], facts["hub_degrees"]) if d > 5000]
    if not big_hubs:
        raise ValueError("graph has no hub above 5000 incident edges")
    streams = []
    for lane in MIXED_LANES:
        out: list[tuple] = []
        while len(out) < count:
            out += [_mixed_request(kind, rng, facts, big_hubs) for kind in lane]
        streams.append(out[:count])
    return streams


def _mixed_request(kind: str, rng: random.Random, facts: dict, big_hubs) -> tuple:
    if kind == "pinned":
        i = _small_node(rng, facts)
        return kind, "query", _onehop([node_id(i)]), ("edges", i)
    if kind == "hub":
        h = rng.choice(big_hubs)
        return kind, "query", _onehop([node_id(h)], pinned_object=True), ("trapi",)
    if kind == "doubly_pinned":
        # the reference burst pins a hub on both sides; here the largest
        # hub below the distributed-path threshold, on the subject side
        qg = {
            "nodes": {
                "n00": {"ids": [node_id(_small_node(rng, facts)),
                                node_id(facts["hubs"][1])]},
                "n01": {"ids": [node_id(_small_node(rng, facts)),
                                node_id(_small_node(rng, facts))]},
            },
            "edges": {"e00": {"subject": "n00", "object": "n01"}},
        }
        return kind, "query", {"message": {"query_graph": qg}}, ("trapi",)
    if kind == "neighbors":
        ids = [node_id(i) for i in rng.sample(facts["small"], 100)]
        payload = {"node_ids": ids, "categories": [rng.choice(CATEGORIES)]}
        return kind, "neighbors", payload, ("neighbors",)
    if kind == "node_lookup":
        qg = {"nodes": {"n00": {"ids": [node_id(rng.randrange(facts["n_nodes"]))]}},
              "edges": {}}
        return kind, "query", {"message": {"query_graph": qg}}, ("trapi",)
    i = _small_node(rng, facts)
    constraint = {"id": "knowledge_level", "operator": "==",
                  "value": "knowledge_assertion"}
    return kind, "query", _onehop([node_id(i)], constraints=[constraint]), ("trapi",)

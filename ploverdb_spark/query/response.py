"""TRAPI response assembly (O1-O3 + A6) and the query entry points.

Reference behavior reimplemented (NOT ported): plover.py:2121-2416.
Every one-hop response is built in one pass, as in the reference: answer
edges -> results grouped driver-side by (input, output) -> serialized
nodes and edges -> one TRAPI envelope.  Only the serialization step
depends on the answer size: big answers are serialized executor-side by a
mapInPandas JSON stage, small ones by the driver.

Core vs attribute properties follow the reference's split
(plover.py:699-704): core node/edge properties become TRAPI structure;
everything else becomes an entry in ``attributes``.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ploverdb_spark.build.ingest import DIR_FORWARD
from ploverdb_spark.functions.localdf import tiny_df
from ploverdb_spark.functions.predicates import in_predicate
from ploverdb_spark.query.compiler import (
    MAX_ISIN_PUSHDOWN,
    CompiledQEdge,
    TrapiEngine,
    pushdown_id_filter,
)

CORE_NODE_PROPS = {"id", "name", "categories", "all_categories"}
CORE_EDGE_PROPS = {
    "id",
    "subject",
    "object",
    "predicate",
    "qualified_predicate",
    "object_direction_qualifier",
    "object_aspect_qualifier",
    "primary_knowledge_source",
}
INTERNAL_COLS = {
    "direction",
    "conglomerate_predicate",
    "neighbor_categories",
    "input_id",
    "output_id",
    "input_query_id",
    "output_query_id",
    "node_id",
    "neighbor_id",
}

QUALIFIER_PROPS = (
    "qualified_predicate",
    "object_direction_qualifier",
    "object_aspect_qualifier",
)


def _attribute_type_id(prop: str) -> str:
    return prop if ":" in prop else f"biolink:{prop}"


# Default attribute shells (reference trapi_attribute_template.json +
# load_trapi_attribute_map, plover.py:1424-1447): per-property TRAPI
# attribute metadata — attribute_type_id, value_type_id, and an
# attribute_source that substitutes "{kp_infores_curie}" (or reads another
# edge property when the placeholder names one).  Properties without a
# shell fall back to {attribute_type_id: biolink:<prop>} exactly like the
# reference's default branch (plover.py:2259-2261).
DEFAULT_ATTRIBUTE_SHELLS: dict[str, dict] = {
    "knowledge_level": {
        "attribute_type_id": "biolink:knowledge_level",
        "attribute_source": "{kp_infores_curie}",
    },
    "agent_type": {
        "attribute_type_id": "biolink:agent_type",
        "attribute_source": "{kp_infores_curie}",
    },
    "iri": {
        "attribute_type_id": "biolink:IriType",
        "value_type_id": "metatype:Uri",
        "attribute_source": "{kp_infores_curie}",
    },
    "description": {
        "attribute_type_id": "biolink:description",
        "value_type_id": "metatype:String",
        "attribute_source": "{kp_infores_curie}",
    },
    "equivalent_curies": {
        "attribute_type_id": "biolink:xref",
        "value_type_id": "metatype:Nodeidentifier",
        "attribute_source": "{kp_infores_curie}",
    },
    "equivalent_ids": {
        "attribute_type_id": "biolink:xref",
        "value_type_id": "metatype:Nodeidentifier",
        "attribute_source": "{kp_infores_curie}",
    },
    "equivalent_identifiers": {
        "attribute_type_id": "biolink:xref",
        "value_type_id": "metatype:Nodeidentifier",
        "attribute_source": "{kp_infores_curie}",
    },
    "publications": {
        "attribute_type_id": "biolink:publications",
        "value_type_id": "biolink:Uriorcurie",
        "attribute_source": "{kp_infores_curie}",
    },
    "publication": {
        "attribute_type_id": "biolink:publications",
        "value_type_id": "biolink:Uriorcurie",
        "attribute_source": "{kp_infores_curie}",
    },
    "publications_info": {
        "attribute_type_id": "biolink:supporting_text",
        "attribute_source": "{kp_infores_curie}",
    },
    "max_research_phase": {
        "attribute_type_id": "biolink:max_research_phase",
        "value_type_id": "biolink:ResearchPhaseEnum",
    },
    "clinical_approval_status": {
        "attribute_type_id": "biolink:clinical_approval_status",
        "value_type_id": "biolink:ClinicalApprovalStatusEnum",
    },
}


def attribute_shells_for(config) -> dict[str, dict]:
    """Defaults merged with per-KP config overrides (reference
    kg_config["trapi_attribute_map"], plover.py:1441-1445)."""
    shells = dict(DEFAULT_ATTRIBUTE_SHELLS)
    overrides = getattr(config, "trapi_attribute_map", None) or {}
    shells.update(overrides)
    return shells


def make_attribute(
    prop: str,
    value: Any,
    kp_infores_curie: str,
    shells: dict[str, dict] | None = None,
    row: dict | None = None,
) -> dict:
    """One TRAPI attribute from a property via its template shell
    (reference _get_trapi_edge_attribute, plover.py:2301-2320):
    ``{kp_infores_curie}`` in attribute_source becomes the KP curie, any
    other ``{placeholder}`` reads that property off the same row, and
    ``{value}`` inside value_url is substituted with the value."""
    shells = DEFAULT_ATTRIBUTE_SHELLS if shells is None else shells
    shell = shells.get(prop)
    out = dict(shell) if shell else {"attribute_type_id": _attribute_type_id(prop)}
    out["value"] = value
    src = out.get("attribute_source")
    if src and isinstance(src, str) and src.startswith("{") and src.endswith("}"):
        name = src[1:-1]
        if name == "kp_infores_curie":
            out["attribute_source"] = kp_infores_curie
        else:
            out["attribute_source"] = (row or {}).get(name)
    url = out.get("value_url")
    if url and isinstance(url, str):
        out["value_url"] = url.replace("{value}", str(value))
    return out


def _clean(value: Any) -> Any:
    """Drop structurally-empty values (reference ``_is_empty``,
    plover.py:305-314): None/''/[] are empty; 0/False are not."""
    if value is None:
        return None
    if isinstance(value, str) and value == "":
        return None
    if isinstance(value, (list, tuple)) and len(value) == 0:
        return None
    return value


def node_to_trapi(
    row: dict,
    kp_infores_curie: str | None = None,
    shells: dict[str, dict] | None = None,
) -> dict:
    """O1 (plover.py:2188-2197, 2256-2269)."""
    out = {
        "name": row.get("name"),
        "categories": sorted(row.get("categories") or []),
        "attributes": [],
    }
    for prop, value in row.items():
        if prop in CORE_NODE_PROPS or prop in INTERNAL_COLS:
            continue
        value = _clean(value)
        if value is None:
            continue
        out["attributes"].append(
            make_attribute(prop, value, kp_infores_curie or "", shells, row)
        )
    return out


def edge_to_trapi(
    row: dict, kp_infores_curie: str, shells: dict[str, dict] | None = None
) -> dict:
    """O2 (plover.py:2199-2254, 2271-2320): subject/object/predicate,
    sources chain, qualifiers, attributes (zipped props become nested
    attributes with sub-attributes, each templated through the attribute
    shells)."""
    out: dict[str, Any] = {
        "subject": row["subject"],
        "object": row["object"],
        "predicate": row["predicate"],
        "attributes": [],
    }
    qualifiers = []
    for qp in QUALIFIER_PROPS:
        v = _clean(row.get(qp))
        if v is not None:
            qualifiers.append(
                {"qualifier_type_id": f"biolink:{qp}", "qualifier_value": v}
            )
    if qualifiers:
        out["qualifiers"] = qualifiers

    primary = row.get("primary_knowledge_source")
    sources = []
    if primary:
        entry = {
            "resource_id": primary,
            "resource_role": "primary_knowledge_source",
        }
        urls = _clean(row.get("source_record_urls"))
        if urls is not None:
            entry["source_record_urls"] = list(urls)
        sources.append(entry)
    sources.append(
        {
            "resource_id": kp_infores_curie,
            "resource_role": "aggregator_knowledge_source",
            "upstream_resource_ids": [primary] if primary else [],
        }
    )
    out["sources"] = sources

    for prop, value in row.items():
        if prop in CORE_EDGE_PROPS or prop in INTERNAL_COLS:
            continue
        if prop == "source_record_urls":
            continue  # attached to the source entry above
        value = _clean(value)
        if value is None:
            continue
        if isinstance(value, list) and value and isinstance(value[0], dict):
            # zipped property -> nested attributes with sub-attributes
            nested = []
            for struct in value:
                subs = [
                    make_attribute(k, _clean(v), kp_infores_curie, shells, row)
                    for k, v in struct.items()
                    if _clean(v) is not None
                ]
                if subs:
                    nested.append(subs)
            out["attributes"].append(
                {
                    "attribute_type_id": _attribute_type_id(prop),
                    "value": [s[0]["value"] for s in nested if s],
                    "attributes": [s for sub in nested for s in sub],
                }
            )
        else:
            out["attributes"].append(
                make_attribute(prop, value, kp_infores_curie, shells, row)
            )
    return out


def _oriented(d: dict) -> dict:
    """An answer row with ``subject``/``object`` rebuilt from its traversal
    direction.  Both orientations of one edge rebuild identically, so
    de-duplicating by edge id does not depend on which one was kept."""
    if d.get("direction") == DIR_FORWARD:
        return {**d, "subject": d["input_id"], "object": d["output_id"]}
    return {**d, "subject": d["output_id"], "object": d["input_id"]}


def _answer_edge_to_trapi(d: dict, kp_infores_curie: str, shells=None) -> dict:
    """O2 for one answer row: the edge payload plus traversal columns."""
    return edge_to_trapi(_oriented(d), kp_infores_curie, shells)


def _result_node_binding(node_id: str, query_id: str | None) -> dict:
    binding = {"id": node_id, "attributes": []}
    if query_id is not None and query_id != node_id:
        binding["query_id"] = query_id
    return binding


def _endpoint_ids(rows) -> set:
    return {r["input_id"] for r in rows} | {r["output_id"] for r in rows}


def _assemble_results_local(
    rows, compiled: CompiledQEdge, qg: dict, kp_infores_curie: str
) -> list[dict]:
    """A6 + O3 (plover.py:2330-2406): group answer key rows into results
    keyed by (input-or-*, output-or-*) depending on is_set.  Edge ids are
    bound as strings: knowledge_graph edge keys are JSON object keys, so a
    numeric edge-id column must bind by the same string key."""
    qnodes = qg["nodes"]
    in_set = bool(qnodes[compiled.input_qnode_key].get("is_set"))
    out_set = bool(qnodes[compiled.output_qnode_key].get("is_set"))
    groups: dict[tuple, dict] = {}
    for r in rows:
        key = (
            "*" if in_set else r["input_id"],
            "*" if out_set else r["output_id"],
        )
        g = groups.setdefault(
            key, {"edge_ids": set(), "inputs": set(), "outputs": set()}
        )
        g["edge_ids"].add(str(r["id"]))
        g["inputs"].add((r["input_id"], r["input_query_id"]))
        g["outputs"].add((r["output_id"], r["output_query_id"]))
    results = []
    for g in groups.values():
        results.append(
            {
                "node_bindings": {
                    compiled.input_qnode_key: [
                        _result_node_binding(i, q) for i, q in g["inputs"]
                    ],
                    compiled.output_qnode_key: [
                        _result_node_binding(o, q) for o, q in g["outputs"]
                    ],
                },
                "analyses": [
                    {
                        "edge_bindings": {
                            compiled.qedge_key: [
                                {"id": e, "attributes": []}
                                for e in g["edge_ids"]
                            ]
                        },
                        "resource_id": kp_infores_curie,
                    }
                ],
                "resource_id": kp_infores_curie,
            }
        )
    return results


def _to_plain(v: Any) -> Any:
    """Arrow-batch pandas values -> plain JSON-able Python (numpy scalars
    and ndarrays appear inside mapInPandas batches; NaN means SQL null)."""
    import numpy as np

    if isinstance(v, np.ndarray):
        return [_to_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_to_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _to_plain(x) for k, x in v.items()}
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        f = float(v)
        return None if f != f else f
    if isinstance(v, float) and v != v:
        return None
    return v


def _json_serializer(
    to_trapi,
    kp_infores_curie: str,
    int_cols: tuple[str, ...],
    shells: dict[str, dict] | None = None,
):
    """mapInPandas stage: TRAPI-serialize whole Arrow batches executor-side
    and ship back (id, json) string pairs — the per-row dict assembly runs
    on every core instead of the driver, and collect moves two string
    columns instead of wide typed rows (SURVEY §2.10's serializer stage;
    boundary semantics identical to the reference's driver-side loop).

    ``int_cols`` lists integral Spark columns: Arrow->pandas widens them
    to float64 when a batch contains a null, and the JSON must still say
    ``5``, not ``5.0``."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            ids, js = [], []
            for rec in pdf.to_dict(orient="records"):
                d = {k: _to_plain(v) for k, v in rec.items()}
                for c in int_cols:
                    if isinstance(d.get(c), float):
                        d[c] = int(d[c])
                ids.append(str(d["id"]))
                js.append(json.dumps(to_trapi(d, kp_infores_curie, shells)))
            yield pd.DataFrame({"id": ids, "json": js})

    return batches


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _int_cols(df: DataFrame) -> tuple[str, ...]:
    return tuple(c for c, t in df.dtypes if t in _INTEGRAL_TYPES)


def _serialize_on_executors(
    df: DataFrame, to_trapi, kp_infores_curie: str, shells: dict[str, dict]
) -> dict[str, dict]:
    """``to_trapi`` over every row of ``df``, keyed by string id, run in a
    mapInPandas stage; the driver only json.loads compact strings."""
    rows = df.mapInPandas(
        _json_serializer(to_trapi, kp_infores_curie, _int_cols(df), shells),
        "id string, json string",
    ).collect()
    return {r.id: json.loads(r.json) for r in rows}


def _collect_dicts(df) -> list[dict]:
    """Arrow-batched collect to plain dicts, with a row-wise fallback for
    the rare column type Arrow cannot transport (a custom KG property
    schema outside the KGX norm must degrade, not 500)."""
    try:
        return df.toArrow().to_pylist()
    except Exception:
        return [r.asDict(recursive=True) for r in df.collect()]


def _node_rows(
    engine: TrapiEngine, node_ids, answers: DataFrame | None = None
) -> DataFrame:
    """The node-table rows of ``node_ids``.

    An answer-sized id list is pushed into the nodes scan as one IN: a
    semi-join alone full-scans the node table per query, and its
    broadcast is a job of its own under AQE (see pushdown_id_filter).
    Longer lists take a broadcast semi-join.  Its id side is derived from
    the persisted ``answers`` when the caller has them, because a
    driver-built tiny_df stops at MAX_TINY_ROWS and a cutoff-sized answer
    can have more node ids than that."""
    nodes = engine.kg.nodes
    if len(node_ids) <= MAX_ISIN_PUSHDOWN:
        return nodes.where(in_predicate("id", sorted(node_ids)))
    if answers is None:
        nid = tiny_df(engine.spark, [(n,) for n in node_ids], "nid string")
    else:
        nid = (
            answers.select(F.col("input_id").alias("nid"))
            .unionByName(answers.select(F.col("output_id").alias("nid")))
            .distinct()
        )
    return nodes.join(F.broadcast(nid), nodes.id == nid.nid, "left_semi")


def _fetch_nodes(engine: TrapiEngine, node_ids, shells) -> dict[str, dict]:
    """TRAPI nodes of ``node_ids``, serialized driver-side; no Spark action
    for an empty id set."""
    if not node_ids:
        return {}
    # Arrow collect: node payloads carry arrays/structs, and py4j row-wise
    # collect is the slow path for them
    return {
        d["id"]: node_to_trapi(d, engine.kp_infores_curie, shells)
        for d in _collect_dicts(_node_rows(engine, node_ids))
    }


# Below this many answer edges a driver-side loop beats the Python-worker
# spin-up of the distributed serializer; above it, mapInPandas wins and
# keeps winning all the way to the 1M-edge cutoff.  (Measured at the 30M-
# edge burst: routing ~3k-edge answers through the distributed path costs
# more in extra per-query actions than it saves in driver GIL time.)
DISTRIBUTED_SERIALIZE_MIN_EDGES = 5000


def hydrate_knowledge_graph(
    engine: TrapiEngine, answers: DataFrame, node_ids
) -> tuple[dict, dict]:
    """J9 (plover.py:2136-2173) for big answers: the persisted answer
    edges and their ``node_ids`` -> TRAPI nodes and edges, serialized
    executor-side in two Spark actions.  The driver only json.loads
    compact strings, so a cutoff-sized (1M-edge) answer costs no minutes
    of single-threaded dict building.  An edge met in both orientations
    serializes identically; the id-keyed dict keeps one."""
    shells = attribute_shells_for(engine.kg.config)
    kp = engine.kp_infores_curie
    edges = _serialize_on_executors(answers, _answer_edge_to_trapi, kp, shells)
    nodes = _serialize_on_executors(
        _node_rows(engine, node_ids, answers), node_to_trapi, kp, shells
    )
    return nodes, edges


def _log_entry(level: str, message: str) -> dict:
    """O4 (plover.py:2826-2843): TRAPI query-log entry."""
    from datetime import datetime, timezone

    return {
        "timestamp": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "level": level,
        "message": message,
    }


def _envelope(qg: dict, nodes: dict, edges: dict, results: list) -> dict:
    return {
        "message": {
            "query_graph": qg,
            "knowledge_graph": {"nodes": nodes, "edges": edges},
            "results": results,
        }
    }


def _slim_tuple_response(
    engine: TrapiEngine, compiled: CompiledQEdge, answers: DataFrame
) -> dict:
    """R6, include_metadata=True (plover.py:1878-1893, tuple format):
    nodes as (name, category, [query_ids]) tuples; edges as
    (subject, object, predicate, primary_source, qualifiers..., 'False')
    tuples — Pathfinder back-compat.  The category is the node's raw first
    one, not the sorted TRAPI list."""
    in_nodes: dict[str, None] = {}
    out_nodes: dict[str, None] = {}
    edges: dict[str, list] = {}
    node_qids: dict[str, set] = {}
    for d in map(_oriented, _collect_dicts(answers)):
        edges[str(d["id"])] = [
            d["subject"],
            d["object"],
            d["predicate"],
            d.get("primary_knowledge_source"),
            d.get("qualified_predicate") or "",
            d.get("object_direction_qualifier") or "",
            d.get("object_aspect_qualifier") or "",
            "False",
        ]
        for side, nid, qid in (
            (in_nodes, d["input_id"], d.get("input_query_id")),
            (out_nodes, d["output_id"], d.get("output_query_id")),
        ):
            if qid is not None and qid != nid:
                node_qids.setdefault(nid, set()).add(qid)
            side.setdefault(nid, None)
    node_rows = _node_rows(engine, {*in_nodes, *out_nodes}, answers)
    names = {
        d["id"]: (d["name"], (d["categories"] or [None])[0])
        for d in _collect_dicts(node_rows.select("id", "name", "categories"))
    }

    def node_tuple(nid: str) -> list:
        name, cat = names.get(nid, (None, None))
        return [name, cat, sorted(node_qids.get(nid, set()))]

    return {
        "nodes": {
            compiled.input_qnode_key: {n: node_tuple(n) for n in in_nodes},
            compiled.output_qnode_key: {n: node_tuple(n) for n in out_nodes},
        },
        "edges": {compiled.qedge_key: edges},
    }


def run_query(engine: TrapiEngine, query: dict) -> dict:
    """POST /query (plover.py:1788-1932 lifecycle): full TRAPI response,
    or the R6 legacy slim formats when the QG carries include_metadata.

    Every one-hop response takes one path: collect the answer key rows,
    group them into results (_assemble_results_local), serialize the
    edges and nodes, wrap one envelope.  Only where serialization runs
    depends on the answer size, which the bounded probe collect that
    opens the query measures:

    - at most DISTRIBUTED_SERIALIZE_MIN_EDGES answers: the probe holds
      every answer row, the driver serializes them, and one pruned node
      fetch follows — 2 Spark actions;
    - larger answers are persisted, checked against the cutoff, their key
      columns collected, and hydrate_knowledge_graph serializes edges and
      nodes executor-side — 5 Spark actions (4 without a cutoff).

    Under concurrent load the driver's job-scheduling throughput is the
    serving bottleneck (measured at reference scale: 100-burst wall time
    tracks total job count, not scan cost), so action count IS the
    latency."""
    logs = [_log_entry("INFO", "Received query")]
    qg = TrapiEngine.normalize_envelope(query)
    engine.validate(qg)
    if not qg.get("edges"):
        return _run_single_node_query(engine, qg)
    include_metadata = qg.get("include_metadata")
    if include_metadata is not None:
        # R6 slim modes: collected-answer volume is caller-controlled;
        # keep the persisted multi-pass path
        compiled, answers = engine.lookup(qg)  # returned persisted
        try:
            if include_metadata:
                return _slim_tuple_response(engine, compiled, answers)
            # ids-only format (plover.py:1894-1901)
            rows = answers.select("id", "input_id", "output_id").collect()
            return {
                "nodes": {
                    compiled.input_qnode_key: sorted({r.input_id for r in rows}),
                    compiled.output_qnode_key: sorted({r.output_id for r in rows}),
                },
                "edges": {compiled.qedge_key: sorted({str(r["id"]) for r in rows})},
            }
        finally:
            answers.unpersist()

    compiled, matched = engine.lookup(
        qg, persist_answers=False, enforce_cutoff=False
    )
    probe_n = DISTRIBUTED_SERIALIZE_MIN_EDGES
    if engine.answer_cutoff is not None:
        probe_n = min(probe_n, engine.answer_cutoff)
    rows = _collect_dicts(matched.limit(probe_n + 1))
    shells = attribute_shells_for(engine.kg.config)
    if len(rows) <= probe_n:
        # every answer row is in hand (and under the cutoff)
        edges = {
            str(d["id"]): _answer_edge_to_trapi(d, engine.kp_infores_curie, shells)
            for d in rows
        }
        nodes = _fetch_nodes(engine, _endpoint_ids(rows), shells)
    else:
        answers = matched.persist()
        try:
            engine.enforce_answer_cutoff(answers)
            # the columns that result grouping reads
            rows = _collect_dicts(
                answers.select(
                    "id", "input_id", "output_id", "input_query_id", "output_query_id"
                )
            )
            nodes, edges = hydrate_knowledge_graph(
                engine, answers, _endpoint_ids(rows)
            )
        finally:
            answers.unpersist()
    results = _assemble_results_local(rows, compiled, qg, engine.kp_infores_curie)
    logs.append(
        _log_entry("INFO", f"Done with query, returning {len(results)} results")
    )
    return {**_envelope(qg, nodes, edges, results), "logs": logs}


def _run_single_node_query(engine: TrapiEngine, qg: dict) -> dict:
    qnode_key, found = engine.single_node_lookup(qg)
    rows = found.collect()
    shells = attribute_shells_for(engine.kg.config)
    nodes = _fetch_nodes(engine, {r.node_id for r in rows}, shells)
    results = [
        {
            "node_bindings": {
                qnode_key: [
                    _result_node_binding(r.node_id, r.query_id) for r in rows
                ]
            },
            "analyses": [{"edge_bindings": {}, "attributes": []}],
            "resource_id": engine.kp_infores_curie,
        }
    ]
    return _envelope(qg, nodes, {}, results)


def get_edges(engine: TrapiEngine, pairs: list[list[str]]) -> dict:
    """POST /edges (J10, plover.py:1934-1980) — vectorized: one join for
    all pairs instead of the reference's per-pair loop.  No subclass
    reasoning, by design (plover.py:1936-1938)."""
    flat_ids = sorted({i for p in pairs for i in p})
    canon = engine.canonicalize_ids(flat_ids)
    pairs_df = tiny_df(
        engine.spark,
        [(canon.get(a, a), canon.get(b, b), a, b) for a, b in pairs],
        "node_a string, node_b string, orig_a string, orig_b string",
    )
    canon_ids = sorted({canon.get(i, i) for i in flat_ids})
    e = engine.kg.edges
    if (
        engine.kg.pruned_id_scans
        and canon_ids
        and len(canon_ids) <= MAX_ISIN_PUSHDOWN
    ):
        # scan pruning (see pushdown_id_filter): both join orientations
        # require subject AND object in the requested id set.  The
        # BETWEEN conjuncts (canon_ids is sorted) keep min/max batch-stat
        # pruning on the sorted cached/bucketed tables when the id list
        # crosses inSetConversionThreshold (16 under SERVING_SQL_CONF)
        # and membership goes InSet — same design as get_neighbors and
        # pushdown_id_filter.
        lo, hi = canon_ids[0], canon_ids[-1]
        e = e.where(
            F.col("subject").between(lo, hi)
            & in_predicate("subject", canon_ids)
            & F.col("object").between(lo, hi)
            & in_predicate("object", canon_ids)
        )
    fwd = e.join(
        F.broadcast(pairs_df),
        (e.subject == pairs_df.node_a) & (e.object == pairs_df.node_b),
    )
    rev = e.join(
        F.broadcast(pairs_df),
        (e.subject == pairs_df.node_b) & (e.object == pairs_df.node_a),
    )
    hits = fwd.unionByName(rev).select("orig_a", "orig_b", *e.columns)
    shells = attribute_shells_for(engine.kg.config)
    pairs_to_edge_ids: dict[str, list[str]] = {f"{a}--{b}": [] for a, b in pairs}
    kg_edges: dict[str, dict] = {}
    for d in _collect_dicts(hits):
        eid = str(d["id"])
        pairs_to_edge_ids[f"{d.pop('orig_a')}--{d.pop('orig_b')}"].append(eid)
        kg_edges[eid] = edge_to_trapi(d, engine.kp_infores_curie, shells)
    node_ids = {e["subject"] for e in kg_edges.values()} | {
        e["object"] for e in kg_edges.values()
    }
    nodes = _fetch_nodes(engine, node_ids, shells)
    return {
        "pairs_to_edge_ids": pairs_to_edge_ids,
        "knowledge_graph": {"nodes": nodes, "edges": kg_edges},
    }


def get_neighbors(
    engine: TrapiEngine,
    node_ids: list[str],
    categories: list[str] | None = None,
    predicates: list[str] | None = None,
) -> dict[str, list[str]]:
    """POST /neighbors (J11, plover.py:1982-2009) — one join +
    collect_set replaces the reference's per-id loop.  Ids only, no
    subclass reasoning."""
    categories = categories or ["biolink:NamedThing"]
    predicates = predicates or ["biolink:related_to"]
    m = engine.model
    cat_exp = sorted(
        {d for c in m.replace_category_mixins(categories) for d in m.category_descendants(c)}
    )
    # same expansion + direction semantics as the one-hop path (the
    # reference routes /neighbors through _lookup_answers with the input
    # node as qedge subject)
    preds_raw = set(predicates)
    preds = preds_raw | set(m.replace_predicate_mixins(sorted(preds_raw)))
    pred_exp = {d for p in preds for d in m.predicate_descendants(p)}
    directed_set = {
        p for p in pred_exp if not engine._consider_bidirectional(p, preds)
    }
    bidir_set = pred_exp - directed_set
    # prune expansions to the KG vocab / skip provably-TRUE filters —
    # the Pathfinder default sweep (related_to + NamedThing) otherwise
    # pays a per-row walk of a hundreds-long In-list for every batch
    # (see TrapiEngine._get_kg_vocab)
    directed_set, bidir_set, skip_pred_filter = engine.prune_predicate_sets(
        directed_set, bidir_set, use_congl=False
    )
    directed, bidirectional = sorted(directed_set), sorted(bidir_set)
    cat_exp, skip_cat_filter = engine.prune_category_list(cat_exp)
    pred_filter = (
        F.lit(True) if skip_pred_filter else in_predicate("predicate", bidirectional)
    )
    if directed and not skip_pred_filter:
        pred_filter = pred_filter | (
            in_predicate("predicate", directed)
            & (F.col("direction") == DIR_FORWARD)
        )

    canon = engine.canonicalize_ids(node_ids)
    canon_ids = sorted({canon.get(i, i) for i in node_ids})
    if not canon_ids:
        # empty/missing node_ids (api.py passes payload.get('node_ids',
        # [])): the BETWEEN+IN rewrite below would index canon_ids[0]
        return {i: [] for i in node_ids}
    bidir = engine.kg.edges_bidir
    if len(canon_ids) <= MAX_ISIN_PUSHDOWN:
        # ONE Spark job per batch (the Pathfinder repeat-batch shape,
        # test_get_neighbors_batch_is_single_job): membership is the same
        # BETWEEN+IN filter that prunes the bucketed/cached scan — no
        # tiny-DF build, no broadcast-exchange job — and the original ids
        # are recovered DRIVER-side through the canon map after grouping
        # by canonical id (two aliases of one node share a neighbor set
        # by definition).
        filtered = bidir.where(
            F.col("node_id").between(canon_ids[0], canon_ids[-1])
            & in_predicate("node_id", canon_ids)
        )
    else:
        # batches past the pushdown guard: one broadcast semi join does
        # stream the index once, amortized over the huge id list
        ids_df = tiny_df(
            engine.spark,
            [(c,) for c in canon_ids],
            "node_id string",
        )
        filtered = bidir.join(F.broadcast(ids_df), on="node_id", how="left_semi")
    if not skip_pred_filter:
        filtered = filtered.where(pred_filter)
    if not skip_cat_filter:
        filtered = filtered.where(
            F.arrays_overlap(
                F.col("neighbor_categories"),
                F.lit(cat_exp).cast("array<string>"),
            )
        )
    matched = (
        filtered.groupBy("node_id")
        .agg(F.collect_set("neighbor_id").alias("neighbors"))
        .collect()
    )
    by_canon = {r.node_id: sorted(r.neighbors) for r in matched}
    return {i: by_canon.get(canon.get(i, i), []) for i in node_ids}

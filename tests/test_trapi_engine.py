"""Engine-level semantic tests mirroring the reference's E2E suite
(reference test/test_kg2c.py — same query-graph matrix, asserted against a
synthetic fixture KG per FIXTURES.md §6 instead of a live endpoint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ploverdb_spark.build.ingest import build_knowledge_graph
from ploverdb_spark.query.compiler import QueryError, TrapiEngine
from ploverdb_spark.query.response import get_edges, get_neighbors, run_query
from ploverdb_spark.sources.kgx import KgxConfig

NODES = [
    # id, name, all_categories, equivalent_curies, publications
    ("DIS:parent", "parent disease", ["biolink:Disease"], [], []),
    ("DIS:child", "child disease", ["biolink:Disease"], [], []),
    ("DIS:grandchild", "grandchild disease", ["biolink:Disease"], [], []),
    ("CHEM:1", "chem one", ["biolink:SmallMolecule"], ["CHEM:alias1", "CHEM:1"], []),
    ("CHEM:2", "chem two", ["biolink:Drug"], [], []),
    ("GENE:1", "gene one", ["biolink:Gene"], [], []),
    ("GENE:2", "gene two", ["biolink:Gene"], [], []),
    # pre-expanded ancestors: engine must reduce to most-specific
    (
        "MIXED:1",
        "mixed node",
        ["biolink:Disease", "biolink:DiseaseOrPhenotypicFeature", "biolink:BiologicalEntity"],
        [],
        [],
    ),
]

# Shared with test_build_modules.py: MUST stay in sync with the EDGES tuples.
EDGE_SCHEMA = (
    "id string, subject string, object string, predicate string, "
    "qualified_predicate string, object_direction_qualifier string, "
    "object_aspect_qualifier string, primary_knowledge_source string, "
    "knowledge_level string, agent_type string, publications array<string>, "
    "supporting_studies array<struct<nctid:string,phase:float>>"
)

EDGES = [
    # id, subject, object, predicate, qualified_predicate,
    # object_direction_qualifier, object_aspect_qualifier,
    # primary_knowledge_source, knowledge_level, agent_type, publications,
    # supporting_studies (zipped attribute; phase stored numerically per
    # the P5 trial-phase enum, like the real zip operator writes it)
    ("e_sub1", "DIS:child", "DIS:parent", "biolink:subclass_of", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", [], None),
    ("e_sub2", "DIS:grandchild", "DIS:child", "biolink:subclass_of", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", [], None),
    ("e1", "CHEM:1", "DIS:parent", "biolink:treats", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", ["PMID:1", "PMID:2"], [("NCT1", 2.0)]),
    ("e2", "CHEM:1", "DIS:grandchild", "biolink:treats", None, None, None, "infores:src2", "prediction", "automated_agent", ["PMID:3"], [("NCT9", 1.0), ("NCT8", 2.0)]),
    ("e3", "GENE:1", "GENE:2", "biolink:interacts_with", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", [], None),
    # stored non-canonical: must flip to CHEM:2 treats DIS:child at build
    ("e4", "DIS:child", "CHEM:2", "biolink:treated_by", None, None, None, "infores:src2", "knowledge_assertion", "manual_agent", [], None),
    ("e5", "CHEM:1", "GENE:1", "biolink:affects", "biolink:causes", "increased", "activity", "infores:src1", "knowledge_assertion", "manual_agent", [], None),
    ("e6", "CHEM:2", "GENE:1", "biolink:affects", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", [], None),
    # fan edges for the reference's is_set cardinality ordering
    # (test_kg2c.py:636-681): 4 chem--disease pairs over 3 distinct
    # diseases and 2 distinct chems
    ("e7", "CHEM:2", "DIS:grandchild", "biolink:treats", None, None, None, "infores:src2", "prediction", "automated_agent", [], None),
    ("e8", "CHEM:1", "MIXED:1", "biolink:treats", None, None, None, "infores:src1", "knowledge_assertion", "manual_agent", [], None),
]


@pytest.fixture(scope="module")
def engine(spark):
    nodes = spark.createDataFrame(
        NODES,
        "id string, name string, all_categories array<string>, "
        "equivalent_curies array<string>, publications array<string>",
    )
    edges = spark.createDataFrame(EDGES, EDGE_SCHEMA)
    kg = build_knowledge_graph(nodes, edges, KgxConfig()).persist()
    return TrapiEngine(kg, kp_infores_curie="infores:test-kp")


def one_hop(subj_spec, obj_spec, pred=None, qualifier_constraints=None, attribute_constraints=None):
    qedge = {"subject": "n00", "object": "n01"}
    if pred is not None:
        qedge["predicates"] = pred if isinstance(pred, list) else [pred]
    if qualifier_constraints:
        qedge["qualifier_constraints"] = qualifier_constraints
    if attribute_constraints:
        qedge["attribute_constraints"] = attribute_constraints
    return {"nodes": {"n00": subj_spec, "n01": obj_spec}, "edges": {"e00": qedge}}


def answer_sets(resp):
    kg = resp["message"]["knowledge_graph"]
    return set(kg["nodes"].keys()), set(kg["edges"].keys())


# -- basic one-hop (ref test_kg2c.py:26-45) -------------------------------

def test_simple_one_hop(engine):
    resp = run_query(
        engine,
        one_hop({"ids": ["CHEM:1"]}, {"categories": ["biolink:Disease"]}, "biolink:treats"),
    )
    nodes, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e8"}
    assert nodes == {"CHEM:1", "DIS:parent", "DIS:grandchild", "MIXED:1"}
    results = resp["message"]["results"]
    assert all("node_bindings" in r and "analyses" in r for r in results)


def test_unconstrained_predicate_and_category(engine):
    resp = run_query(engine, one_hop({"ids": ["CHEM:1"]}, {}))
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e5", "e8"}


# -- direction semantics (ref test_kg2c.py:220-306) ------------------------

def test_symmetric_predicate_reverse_direction(engine):
    # e3 stored GENE:1->GENE:2; querying from GENE:2 must still find it
    resp = run_query(
        engine,
        one_hop({"ids": ["GENE:2"]}, {"categories": ["biolink:Gene"]}, "biolink:interacts_with"),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e3"}


def test_symmetric_doubly_pinned_single_result(engine):
    # Both endpoints of symmetric e3 are in the pinned input AND output
    # sets: edges_bidir matches it in both directions, but each answer
    # edge belongs to exactly one result (ref plover.py:2339-2354) — no
    # mirrored duplicate, no double-count toward the cutoff.
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["GENE:1", "GENE:2"]},
            {"ids": ["GENE:1", "GENE:2"]},
            "biolink:interacts_with",
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e3"}
    results = resp["message"]["results"]
    assert len(results) == 1
    bound = [
        b["id"]
        for r in results
        for b in r["analyses"][0]["edge_bindings"]["e00"]
    ]
    assert bound == ["e3"]
    # the kept row is the forward traversal: subject binds to n00's input
    nb = results[0]["node_bindings"]
    assert [b["id"] for b in nb["n00"]] == ["GENE:1"]
    assert [b["id"] for b in nb["n01"]] == ["GENE:2"]


def test_asymmetric_predicate_forward_only(engine):
    # DIS:parent treats X -> nothing (treats edges point chem->disease)
    resp = run_query(
        engine,
        one_hop({"ids": ["DIS:parent"], "categories": None}, {"categories": ["biolink:SmallMolecule"]}, "biolink:treats"),
    )
    _, edges = answer_sets(resp)
    assert edges == set()


def test_asymmetric_predicate_reverse_binding(engine):
    # QG with disease as qedge *object* (leaf: no subclass descendants):
    # the treats edge pointing AT it is found, bound in reverse
    qg = {
        "nodes": {"n00": {"categories": ["biolink:ChemicalEntity"]}, "n01": {"ids": ["DIS:grandchild"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01", "predicates": ["biolink:treats"]}},
    }
    resp = run_query(engine, qg)
    _, edges = answer_sets(resp)
    assert edges == {"e2", "e7"}


# -- TRAPI attribute templates (ref plover.py:1424-1447, 2301-2320) --------

def test_attribute_templates_applied(engine):
    resp = run_query(
        engine,
        one_hop({"ids": ["CHEM:1"]}, {"categories": ["biolink:Disease"]}, "biolink:treats"),
    )
    e1 = resp["message"]["knowledge_graph"]["edges"]["e1"]
    attrs = {a["attribute_type_id"]: a for a in e1["attributes"]}
    # templated property: attribute_source substitutes {kp_infores_curie}
    kl = attrs["biolink:knowledge_level"]
    assert kl["value"] == "knowledge_assertion"
    assert kl["attribute_source"] == "infores:test-kp"
    # publications mirror the reference trapi_attribute_template.json
    # exactly: attribute_source is the KP curie, not the row's
    # primary_knowledge_source
    pubs = attrs["biolink:publications"]
    assert pubs["value_type_id"] == "biolink:Uriorcurie"
    assert pubs["attribute_source"] == "infores:test-kp"
    assert sorted(pubs["value"]) == ["PMID:1", "PMID:2"]


def test_attribute_shells_match_reference_template():
    """The default shells mirror the reference trapi_attribute_template.json
    row for row (incl. publications_info / max_research_phase /
    clinical_approval_status, which carry no attribute_source)."""
    from ploverdb_spark.query.response import DEFAULT_ATTRIBUTE_SHELLS, make_attribute

    assert DEFAULT_ATTRIBUTE_SHELLS["publications_info"] == {
        "attribute_type_id": "biolink:supporting_text",
        "attribute_source": "{kp_infores_curie}",
    }
    assert DEFAULT_ATTRIBUTE_SHELLS["max_research_phase"] == {
        "attribute_type_id": "biolink:max_research_phase",
        "value_type_id": "biolink:ResearchPhaseEnum",
    }
    assert DEFAULT_ATTRIBUTE_SHELLS["clinical_approval_status"] == {
        "attribute_type_id": "biolink:clinical_approval_status",
        "value_type_id": "biolink:ClinicalApprovalStatusEnum",
    }
    # every attribute_source in the defaults is the KP-curie placeholder
    for shell in DEFAULT_ATTRIBUTE_SHELLS.values():
        assert shell.get("attribute_source") in (None, "{kp_infores_curie}")
    # row-reading placeholders remain supported through config overrides
    out = make_attribute(
        "publications",
        ["PMID:9"],
        "infores:kp",
        shells={
            "publications": {
                "attribute_type_id": "biolink:publications",
                "attribute_source": "{primary_knowledge_source}",
            }
        },
        row={"primary_knowledge_source": "infores:src1"},
    )
    assert out["attribute_source"] == "infores:src1"


def test_attribute_template_default_and_override():
    from ploverdb_spark.query.response import make_attribute

    # untemplated property falls back to the bare biolink attribute
    out = make_attribute("some_custom_prop", 7, "infores:kp")
    assert out == {"attribute_type_id": "biolink:some_custom_prop", "value": 7}
    # config override wins and {value} substitutes into value_url
    shells = {
        "some_custom_prop": {
            "attribute_type_id": "biolink:Publication",
            "value_url": "https://example.org/{value}",
            "attribute_source": "{kp_infores_curie}",
        }
    }
    out = make_attribute("some_custom_prop", "PMID:9", "infores:kp", shells)
    assert out["value_url"] == "https://example.org/PMID:9"
    assert out["attribute_source"] == "infores:kp"


def test_hydrate_distributed_serializer_parity(request):
    """The executor-side (mapInPandas JSON) serializer and the driver-side
    one must produce byte-identical TRAPI nodes and edges from the same
    answers: big and small answers differ only in where they serialize.
    numeric_id_engine covers long-typed edge ids, keyed as strings."""
    import json

    import ploverdb_spark.query.response as R

    def as_json(kg):
        return {k: json.dumps(v) for k, v in kg.items()}

    for name in ("engine", "numeric_id_engine"):
        eng = request.getfixturevalue(name)
        _, answers = eng.lookup(one_hop({"ids": ["CHEM:1"]}, {}))
        try:
            rows = R._collect_dicts(answers)
            node_ids = R._endpoint_ids(rows)
            nodes, edges = R.hydrate_knowledge_graph(eng, answers, node_ids)
            shells = R.attribute_shells_for(eng.kg.config)
            driver_nodes = R._fetch_nodes(eng, node_ids, shells)
            driver_edges = {
                str(d["id"]): R._answer_edge_to_trapi(
                    d, eng.kp_infores_curie, shells
                )
                for d in rows
            }
        finally:
            answers.unpersist()
        assert edges, f"expected answer edges on {name}"
        assert as_json(nodes) == as_json(driver_nodes)
        assert as_json(edges) == as_json(driver_edges)


# -- canonical predicate handling (ref test_kg2c.py:344-387) ---------------

def test_noncanonical_edge_flipped_at_build(engine):
    e4 = engine.kg.edges.where(F.col("id") == "e4").collect()[0]
    assert e4.predicate == "biolink:treats"
    assert e4.subject == "CHEM:2"
    assert e4.object == "DIS:child"


def test_noncanonical_query_flipped(engine):
    # treated_by from the disease side == treats from the chem side
    qg = {
        "nodes": {"n00": {"ids": ["DIS:child"]}, "n01": {"categories": ["biolink:Drug"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01", "predicates": ["biolink:treated_by"]}},
    }
    resp = run_query(engine, qg)
    _, edges = answer_sets(resp)
    # e4 at DIS:child itself + e7 at its subclass descendant DIS:grandchild
    assert edges == {"e4", "e7"}


def test_mixed_canonical_noncanonical_rejected(engine):
    qg = one_hop({"ids": ["CHEM:1"]}, {}, ["biolink:treats", "biolink:treated_by"])
    with pytest.raises(QueryError) as exc:
        run_query(engine, qg)
    assert exc.value.status == 400


# -- hierarchy reasoning (ref test_kg2c.py:390-434) ------------------------

def test_predicate_hierarchy_expansion(engine):
    # treats_or_applied_or_studied_to_treat expands to descendant treats
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats_or_applied_or_studied_to_treat",
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e8"}


def test_category_hierarchy_expansion(engine):
    # DiseaseOrPhenotypicFeature output category includes Disease nodes
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:DiseaseOrPhenotypicFeature"]},
            "biolink:treats",
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e8"}


# -- subclass reasoning (ref test_kg2c.py:437-467, 739-757) ----------------

def test_subclass_expansion_with_query_id(engine):
    # edges attached to descendants of DIS:parent are found; bindings
    # carry query_id provenance
    qg = {
        "nodes": {"n00": {"categories": ["biolink:ChemicalEntity"]}, "n01": {"ids": ["DIS:parent"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01", "predicates": ["biolink:treats"]}},
    }
    resp = run_query(engine, qg)
    _, edges = answer_sets(resp)
    # parent, grandchild (e2 + e7), child (via e4 flip)
    assert edges == {"e1", "e2", "e4", "e7"}
    bindings = [
        b
        for r in resp["message"]["results"]
        for b in r["node_bindings"]["n01"]
    ]
    by_id = {b["id"]: b for b in bindings}
    assert by_id["DIS:parent"].get("query_id") is None
    assert by_id["DIS:grandchild"]["query_id"] == "DIS:parent"
    assert by_id["DIS:child"]["query_id"] == "DIS:parent"


def test_most_specific_category_reduction(engine):
    row = engine.kg.nodes.where(F.col("id") == "MIXED:1").collect()[0]
    assert row.categories == ["biolink:Disease"]


# -- id canonicalization (R1/J4) ------------------------------------------

def test_equivalent_id_rewrite(engine):
    resp = run_query(
        engine,
        one_hop({"ids": ["CHEM:alias1"]}, {"categories": ["biolink:Disease"]}, "biolink:treats"),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e8"}


# -- qualifiers (ref test_kg2c.py:470-633) ---------------------------------

def _qual_constraint(qpred=None, direction=None, aspect=None):
    qs = []
    if qpred:
        qs.append({"qualifier_type_id": "biolink:qualified_predicate", "qualifier_value": qpred})
    if direction:
        qs.append({"qualifier_type_id": "biolink:object_direction_qualifier", "qualifier_value": direction})
    if aspect:
        qs.append({"qualifier_type_id": "biolink:object_aspect_qualifier", "qualifier_value": aspect})
    return [{"qualifier_set": qs}]


def test_qualified_predicate_match(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Gene"]},
            None,
            qualifier_constraints=_qual_constraint("biolink:causes", "increased"),
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e5"}


def test_qualified_predicate_wrong_direction_empty(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Gene"]},
            None,
            qualifier_constraints=_qual_constraint("biolink:causes", "decreased"),
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == set()


def test_regular_predicate_fallback_matches_qualified_edges(engine):
    # gene pinned as qedge *object* (affects is asymmetric): plain
    # 'affects' matches both the qualified (e5) and unqualified (e6) edges
    qg = {
        "nodes": {"n00": {"categories": ["biolink:ChemicalEntity"]}, "n01": {"ids": ["GENE:1"]}},
        "edges": {"e00": {"subject": "n00", "object": "n01", "predicates": ["biolink:affects"]}},
    }
    resp = run_query(engine, qg)
    _, edges = answer_sets(resp)
    assert edges == {"e5", "e6"}


def test_asymmetric_from_subject_side_empty(engine):
    # GENE:1 as qedge subject with asymmetric 'affects': edges point AT
    # the gene, so forward-only matching yields nothing
    resp = run_query(
        engine,
        one_hop({"ids": ["GENE:1"]}, {"categories": ["biolink:ChemicalEntity"]}, "biolink:affects"),
    )
    _, edges = answer_sets(resp)
    assert edges == set()


def test_unsupported_qualifier_rejected(engine):
    qg = one_hop(
        {"ids": ["CHEM:1"]},
        {},
        None,
        qualifier_constraints=[{"qualifier_set": [{"qualifier_type_id": "biolink:species_context_qualifier", "qualifier_value": "human"}]}],
    )
    with pytest.raises(QueryError) as exc:
        run_query(engine, qg)
    assert exc.value.status == 403


# -- attribute constraints (F3) --------------------------------------------

def test_attribute_constraint_equality(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[{"id": "knowledge_level", "operator": "==", "value": "knowledge_assertion"}],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e8"}


def test_attribute_constraint_not(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[{"id": "knowledge_level", "operator": "==", "value": "knowledge_assertion", "not": True}],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e2"}


def test_attribute_constraint_list_any_semantics(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[{"id": "publications", "operator": "==", "value": "PMID:3"}],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e2"}


def test_knowledge_source_pseudo_attribute(engine):
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[{"id": "knowledge_source", "operator": "==", "value": "infores:src2"}],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e2"}


def test_nested_constraint_same_instance_positive(engine):
    """plover.py:2444-2454: constraints unfulfilled top-level are met by
    subattributes of ONE zipped attribute instance -> edge kept."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[
                {"id": "nctid", "operator": "==", "value": "NCT1"},
                {"id": "phase", "operator": "==", "value": "phase_2"},
            ],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1"}  # e1's single study carries both subattributes


def test_nested_constraint_split_across_instances_negative(engine):
    """The reference's same-attribute rule: e2 has one study with
    nctid=NCT9 (phase_1) and another with phase_2 (NCT8) — each
    constraint is met by SOME study, but no single study meets both, so
    the edge must be dropped."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[
                {"id": "nctid", "operator": "==", "value": "NCT9"},
                {"id": "phase", "operator": "==", "value": "phase_2"},
            ],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == set()


def test_nested_constraint_mixed_top_level_and_nested(engine):
    """A constraint met top-level doesn't burden the nested instance:
    knowledge_level is a plain column (met by e1), nctid is nested —
    together they keep e1 only."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[
                {
                    "id": "knowledge_level",
                    "operator": "==",
                    "value": "knowledge_assertion",
                },
                {"id": "nctid", "operator": "==", "value": "NCT1"},
            ],
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1"}
    # and an absent nested value fulfills nothing: e8 has no studies
    resp2 = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease"]},
            "biolink:treats",
            attribute_constraints=[
                {"id": "nctid", "operator": "==", "value": "NCT-missing"}
            ],
        ),
    )
    _, edges2 = answer_sets(resp2)
    assert edges2 == set()


def test_doubly_pinned_swap_parity(engine):
    """ref test_kg2c.py:683-718: swapping qedge subject/object on a
    doubly-pinned query returns the same knowledge-graph edges."""
    qg = one_hop({"ids": ["CHEM:1"]}, {"ids": ["DIS:parent"]})
    _, e_fwd = answer_sets(run_query(engine, qg))
    swapped = one_hop({"ids": ["DIS:parent"]}, {"ids": ["CHEM:1"]})
    _, e_rev = answer_sets(run_query(engine, swapped))
    assert e_fwd == e_rev and e_fwd  # same edges, and not vacuously


# -- shape guards / errors (ref test_kg2c.py:202-217) ----------------------

def test_multi_edge_rejected(engine):
    qg = {
        "nodes": {"n0": {"ids": ["CHEM:1"]}, "n1": {}, "n2": {}},
        "edges": {
            "e0": {"subject": "n0", "object": "n1"},
            "e1": {"subject": "n1", "object": "n2"},
        },
    }
    with pytest.raises(QueryError) as exc:
        run_query(engine, qg)
    assert exc.value.status == 400


def test_no_ids_rejected(engine):
    with pytest.raises(QueryError) as exc:
        run_query(engine, one_hop({"categories": ["biolink:Disease"]}, {}))
    assert exc.value.status == 400


def test_answer_cutoff(engine):
    small = TrapiEngine(engine.kg, answer_cutoff=1)
    with pytest.raises(QueryError) as exc:
        run_query(small, one_hop({"ids": ["CHEM:1"]}, {}))
    assert exc.value.status == 403


# -- edgeless queries (ref test_kg2c.py:174-199) ---------------------------

def test_single_node_query(engine):
    resp = run_query(engine, {"nodes": {"n00": {"ids": ["DIS:parent"]}}, "edges": {}})
    nodes, _ = answer_sets(resp)
    assert nodes == {"DIS:parent", "DIS:child", "DIS:grandchild"}
    bindings = resp["message"]["results"][0]["node_bindings"]["n00"]
    by_id = {b["id"]: b.get("query_id") for b in bindings}
    assert by_id["DIS:child"] == "DIS:parent"


def test_single_node_query_no_ids_rejected(engine):
    with pytest.raises(QueryError) as exc:
        run_query(engine, {"nodes": {"n00": {"categories": ["biolink:Disease"]}}, "edges": {}})
    assert exc.value.status == 400


# -- is_set grouping (ref test_kg2c.py:636-681) ----------------------------

def test_is_set_grouping(engine):
    qg = one_hop(
        {"ids": ["CHEM:1", "CHEM:2"], "is_set": True},
        {"categories": ["biolink:Disease"]},
        "biolink:treats",
    )
    resp = run_query(engine, qg)
    results = resp["message"]["results"]
    # input collapsed to '*': one result per distinct output node
    # (DIS:parent, DIS:grandchild, DIS:child, MIXED:1)
    assert len(results) == 4
    qg["nodes"]["n01"]["is_set"] = True
    resp2 = run_query(engine, qg)
    assert len(resp2["message"]["results"]) == 1


def test_is_set_cardinality_ordering(engine):
    """The reference's 4-way is_set matrix (test_kg2c.py:636-681): result
    counts strictly shrink as sides collapse — both-false (one result per
    pair) > subject-set (one per distinct object) > object-set (one per
    distinct subject) > both-set (exactly 1).

    Leaf-only pinned ids keep subclass expansion out of the count math;
    the pair fan is 4 chem--disease pairs over 3 diseases and 2 chems.
    """
    def count(subj_set: bool, obj_set: bool) -> int:
        qg = {
            "nodes": {
                "n00": {
                    "ids": ["DIS:grandchild", "DIS:child", "MIXED:1"],
                    "is_set": obj_set,
                },
                "n01": {
                    "categories": ["biolink:ChemicalEntity"],
                    "is_set": subj_set,
                },
            },
            "edges": {
                "e00": {
                    "subject": "n01",
                    "object": "n00",
                    "predicates": ["biolink:treats"],
                }
            },
        }
        return len(run_query(engine, qg)["message"]["results"])

    n_false = count(False, False)
    n_subj = count(True, False)
    n_obj = count(False, True)
    n_both = count(True, True)
    assert n_both == 1
    assert n_false > n_subj > n_obj > n_both
    assert (n_false, n_subj, n_obj) == (4, 3, 2)


def test_mixin_category_in_query(engine):
    """Mixin categories in a QG (ref test_kg2c.py:323-341): a mixin like
    GeneOrGeneProduct never appears on stored nodes — the engine must
    replace it with the concrete classes that mix it in (Gene/Protein)
    and answer normally."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["GENE:1"]},
            {"categories": ["biolink:GeneOrGeneProduct"]},
            "biolink:interacts_with",
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e3"}
    # a mixin that maps to the root (PhysicalEssence -> NamedThing)
    # matches everything, mirroring the reference's acetaminophen query
    resp2 = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:PhysicalEssence"]},
            "biolink:treats",
        ),
    )
    _, edges2 = answer_sets(resp2)
    assert edges2 == {"e1", "e2", "e8"}


def test_undirected_related_to_sweep(engine):
    """related_to over an underlying directed treats edge is answered
    undirected (ref test_kg2c.py:684-718): swapping subject/object gives
    the same answer set."""
    qg = {
        "nodes": {"n00": {"ids": ["DIS:parent"]}, "n01": {"ids": ["CHEM:1"]}},
        "edges": {
            "e00": {
                "subject": "n01",
                "object": "n00",
                "predicates": ["biolink:related_to"],
            }
        },
    }
    _, edges_fwd = answer_sets(run_query(engine, qg))
    qg["edges"]["e00"]["subject"] = "n00"
    qg["edges"]["e00"]["object"] = "n01"
    _, edges_rev = answer_sets(run_query(engine, qg))
    assert edges_fwd == edges_rev
    assert "e1" in edges_fwd


def test_fast_path_matches_distributed_path(engine, monkeypatch):
    """run_query's small-answer fast path (one bounded collect + local
    assembly) must produce byte-identical responses to the distributed
    persist/hydrate/group path it bypasses."""
    import ploverdb_spark.query.response as R

    qg = one_hop(
        {"ids": ["CHEM:1", "CHEM:2"]},
        {"categories": ["biolink:Disease"]},
        "biolink:treats",
    )
    fast = run_query(engine, qg)
    monkeypatch.setattr(R, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    slow = run_query(engine, qg)

    def canon(resp):
        msg = resp["message"]
        for r in msg["results"]:
            for binds in r["node_bindings"].values():
                binds.sort(key=lambda b: b["id"])
            for a in r["analyses"]:
                for eb in a["edge_bindings"].values():
                    eb.sort(key=lambda e: e["id"])
        msg["results"].sort(key=repr)
        for n in msg["knowledge_graph"]["nodes"].values():
            n["attributes"].sort(key=repr)
        for e in msg["knowledge_graph"]["edges"].values():
            e["attributes"].sort(key=repr)
        return msg

    assert canon(fast) == canon(slow)


# -- TRAPI structural invariants (ref plover_tester.py:42-103) -------------

def test_response_structure(engine):
    resp = run_query(
        engine,
        one_hop({"ids": ["CHEM:1"]}, {"categories": ["biolink:Disease"]}, "biolink:treats"),
    )
    kg = resp["message"]["knowledge_graph"]
    for edge in kg["edges"].values():
        roles = {s["resource_role"] for s in edge["sources"]}
        assert "primary_knowledge_source" in roles
        attr_ids = {a["attribute_type_id"] for a in edge["attributes"]}
        assert "biolink:knowledge_level" in attr_ids
        assert "biolink:agent_type" in attr_ids
        assert isinstance(edge["attributes"], list)
    for node in kg["nodes"].values():
        assert isinstance(node["attributes"], list)
        assert isinstance(node["categories"], list)


# -- /edges and /neighbors (ref test_kg2c.py:721-736) ----------------------

def test_get_edges_pairs(engine):
    out = get_edges(engine, [["CHEM:1", "DIS:parent"], ["DIS:parent", "CHEM:1"], ["CHEM:1", "GENE:2"]])
    assert out["pairs_to_edge_ids"]["CHEM:1--DIS:parent"] == ["e1"]
    assert out["pairs_to_edge_ids"]["DIS:parent--CHEM:1"] == ["e1"]  # pair symmetry
    assert out["pairs_to_edge_ids"]["CHEM:1--GENE:2"] == []
    assert "e1" in out["knowledge_graph"]["edges"]


def test_get_neighbors(engine):
    out = get_neighbors(engine, ["GENE:1"], predicates=["biolink:interacts_with"])
    assert out["GENE:1"] == ["GENE:2"]
    # asymmetric: CHEM:1 -treats-> diseases, forward only
    out2 = get_neighbors(engine, ["CHEM:1", "DIS:parent"], predicates=["biolink:treats"])
    assert set(out2["CHEM:1"]) == {"DIS:parent", "DIS:grandchild", "MIXED:1"}
    assert out2["DIS:parent"] == []  # reverse direction excluded


def test_get_neighbors_category_filter(engine):
    """ref test_kg2c.py:729-736: the category constraint narrows the
    neighbor set (and an unrelated category empties it)."""
    base = get_neighbors(engine, ["GENE:1"])
    assert set(base["GENE:1"]) >= {"GENE:2"}
    genes_only = get_neighbors(
        engine, ["GENE:1"], categories=["biolink:Gene"]
    )
    assert genes_only["GENE:1"] == ["GENE:2"]
    none = get_neighbors(
        engine, ["GENE:1"], categories=["biolink:Pathway"]
    )
    assert none["GENE:1"] == []


# -- multi-value qnode/qedge specs (ref test_kg2c.py:89-172, 188-200) -----

def test_multiple_output_categories(engine):
    """ref test_kg2c.py:89-106: the output category list is a union."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {"categories": ["biolink:Disease", "biolink:Gene"]},
        ),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e1", "e2", "e5", "e8"}  # diseases AND the gene edge
    resp2 = run_query(
        engine,
        one_hop({"ids": ["CHEM:1"]}, {"categories": ["biolink:Gene"]}),
    )
    _, edges2 = answer_sets(resp2)
    assert edges2 == {"e5"}  # narrowing to one category drops the rest


def test_multiple_predicates_union(engine):
    """ref test_kg2c.py:109-130: predicates are a union and each
    contributes edges."""
    resp = run_query(
        engine,
        one_hop(
            {"ids": ["CHEM:1"]},
            {},
            ["biolink:treats", "biolink:affects"],
        ),
    )
    kg_edges = resp["message"]["knowledge_graph"]["edges"]
    preds = {e["predicate"] for e in kg_edges.values()}
    assert set(kg_edges) == {"e1", "e2", "e5", "e8"}
    assert {"biolink:treats", "biolink:affects"} <= preds


def test_multiple_input_ids_distinct_concepts(engine):
    """ref test_kg2c.py:153-171: two pinned input ids -> two distinct
    input concepts in the results."""
    resp = run_query(
        engine,
        one_hop({"ids": ["CHEM:1", "CHEM:2"]}, {"categories": ["biolink:Gene"]}),
    )
    _, edges = answer_sets(resp)
    assert edges == {"e5", "e6"}
    inputs = {
        b["id"]
        for r in resp["message"]["results"]
        for b in r["node_bindings"]["n00"]
    }
    assert inputs == {"CHEM:1", "CHEM:2"}


def test_single_node_query_multiple_ids(engine):
    """ref test_kg2c.py:188-200: multiple ids in an edgeless QG, each
    bound to its own query id (subclass descendants included)."""
    resp = run_query(
        engine,
        {"nodes": {"n00": {"ids": ["DIS:child", "GENE:1"]}}, "edges": {}},
    )
    nodes, _ = answer_sets(resp)
    assert nodes == {"DIS:child", "DIS:grandchild", "GENE:1"}
    bindings = resp["message"]["results"][0]["node_bindings"]["n00"]
    by_id = {b["id"]: b.get("query_id") for b in bindings}
    assert by_id["DIS:grandchild"] == "DIS:child"
    assert by_id.get("GENE:1") in (None, "GENE:1")  # self-binding: no remap


@pytest.fixture(scope="module")
def numeric_id_engine(spark):
    """Fixture KG whose edge-id column is LONG, not string — real KGX dumps
    ship integer edge ids, and the fast-path/distributed assembly paths
    must agree on how they stringify (round-4 ADVICE flagged a str/raw
    divergence with no fixture proving parity)."""
    nodes = spark.createDataFrame(
        [r for r in NODES if not r[0].startswith("GENE")],
        "id string, name string, all_categories array<string>, "
        "equivalent_curies array<string>, publications array<string>",
    )
    long_edges = [
        (i, *rest)
        for i, (_eid, *rest) in enumerate(EDGES, start=1001)
        if not (rest[0].startswith("GENE") or rest[1].startswith("GENE"))
    ]
    edges = spark.createDataFrame(
        long_edges, EDGE_SCHEMA.replace("id string", "id long", 1)
    )
    kg = build_knowledge_graph(nodes, edges, KgxConfig()).persist()
    return TrapiEngine(kg, kp_infores_curie="infores:test-kp")


def test_numeric_edge_id_fast_path_parity(numeric_id_engine, monkeypatch):
    """Fast-path and distributed assembly must produce byte-identical
    responses on a long-typed edge-id KG, with edge keys/bindings
    rendered as strings in both (TRAPI kg.edges keys are JSON object
    keys, so they MUST be strings either way)."""
    import ploverdb_spark.query.response as R

    qg = one_hop(
        {"ids": ["CHEM:1", "CHEM:2"]},
        {"categories": ["biolink:Disease"]},
        "biolink:treats",
    )
    fast = run_query(numeric_id_engine, qg)
    monkeypatch.setattr(R, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    slow = run_query(numeric_id_engine, qg)

    for resp in (fast, slow):
        kg_edges = resp["message"]["knowledge_graph"]["edges"]
        assert kg_edges, "expected answers on the numeric-id fixture"
        assert all(isinstance(k, str) for k in kg_edges)
        for r in resp["message"]["results"]:
            for a in r["analyses"]:
                for ebs in a["edge_bindings"].values():
                    assert all(isinstance(eb["id"], str) for eb in ebs)

    def canon(resp):
        msg = resp["message"]
        for r in msg["results"]:
            for binds in r["node_bindings"].values():
                binds.sort(key=lambda b: b["id"])
            for a in r["analyses"]:
                for eb in a["edge_bindings"].values():
                    eb.sort(key=lambda e: e["id"])
        msg["results"].sort(key=repr)
        for n in msg["knowledge_graph"]["nodes"].values():
            n["attributes"].sort(key=repr)
        for e in msg["knowledge_graph"]["edges"].values():
            e["attributes"].sort(key=repr)
        return msg

    assert canon(fast) == canon(slow)


def test_semi_join_node_fetch_parity(engine, monkeypatch):
    """Past MAX_ISIN_PUSHDOWN node ids, the node fetch is a broadcast
    semi-join instead of an IN filter: against a driver-built id table on
    the fast path, against the persisted answers' endpoints on the big
    path.  Both must give the response of the IN fetch."""
    import ploverdb_spark.query.response as R

    qg = one_hop(
        {"ids": ["CHEM:1", "CHEM:2"]},
        {"categories": ["biolink:Disease"]},
        "biolink:treats",
    )

    def canon(resp):
        msg = resp["message"]
        for r in msg["results"]:
            for binds in r["node_bindings"].values():
                binds.sort(key=lambda b: b["id"])
            for a in r["analyses"]:
                for eb in a["edge_bindings"].values():
                    eb.sort(key=lambda e: e["id"])
        msg["results"].sort(key=repr)
        return msg

    expected = canon(run_query(engine, qg))
    assert len(expected["knowledge_graph"]["nodes"]) > 1
    monkeypatch.setattr(R, "MAX_ISIN_PUSHDOWN", 1)
    fast = canon(run_query(engine, qg))
    monkeypatch.setattr(R, "DISTRIBUTED_SERIALIZE_MIN_EDGES", 0)
    big = canon(run_query(engine, qg))
    assert fast == expected
    assert big == expected


def test_get_neighbors_empty_ids(engine):
    """An empty/missing node_ids list (api.py passes
    payload.get('node_ids', [])) returns {} instead of IndexError-ing
    on the BETWEEN+IN rewrite's canon_ids[0] access."""
    assert get_neighbors(engine, []) == {}
    assert get_neighbors(
        engine, [], predicates=["biolink:treats"], categories=["biolink:Disease"]
    ) == {}

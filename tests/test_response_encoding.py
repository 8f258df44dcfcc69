"""The JSON text encoder of indexed answers against the dict path, on the
driver only (no Spark): for random property values and attribute shells,
every edge and node it encodes is byte for byte ``json.dumps`` of
``edge_to_trapi`` / ``node_to_trapi`` of the same row."""

from __future__ import annotations

import json

import numpy as np
from hypothesis import given, settings, strategies as st

from ploverdb_spark.build.ingest import DIR_FORWARD, DIR_REVERSE
from ploverdb_spark.query import response
from ploverdb_spark.query.index import Coded

scalars = {
    "str": st.text(max_size=6),
    "int": st.integers(-(2**40), 2**40),
    "float": st.one_of(st.floats(allow_nan=False), st.integers(-99, 99).map(float)),
    "bool": st.booleans(),
    "list": st.lists(st.text(max_size=4), max_size=3),
    "nested": st.recursive(
        st.one_of(st.integers(), st.text(max_size=3), st.booleans(), st.floats(allow_nan=False)),
        lambda inner: st.lists(inner, max_size=3),
        max_leaves=6,
    ),
    "zipped": st.lists(
        st.fixed_dictionaries(
            {"nctid": st.one_of(st.none(), st.just(""), st.text(max_size=4)),
             "phase": st.one_of(st.none(), st.floats(0, 4)),
             "publications": st.one_of(st.just([]), st.lists(st.text(max_size=3), max_size=2))}
        ),
        max_size=3,
    ),
}
# the empty values TRAPI drops: None always, "" and [] where the type has them
EMPTY = {"str": [None, ""], "list": [None, []], "nested": [None, []], "zipped": [None, []]}


def values(kind: str):
    return st.one_of(st.sampled_from(EMPTY.get(kind, [None])), scalars[kind])


shells = st.fixed_dictionaries(
    {"attribute_type_id": st.sampled_from(["biolink:p", "biolink:ü"])},
    optional={
        "value_url": st.sampled_from(["https://x.org/{value}", "https://x.org/v"]),
        "attribute_source": st.sampled_from(
            ["{kp_infores_curie}", "{other}", "{agent_type}", "{subject}", "{missing}", "infores:c"]
        ),
        "value_type_id": st.just("metatype:String"),
    },
)


@st.composite
def table(draw, core: dict, uncoded=()):
    """Rows of the ``core`` columns plus random property columns, as rows
    and as columns (string columns but ``uncoded`` as dictionary codes at
    random), with random shells for the property names."""
    kinds = draw(st.lists(st.sampled_from(sorted(scalars)), min_size=1, max_size=4))
    names = draw(st.permutations(["other", "p1", "p2", "knowledge_level", "iri", "publications"]))
    props = dict(zip(names, kinds))
    n = draw(st.integers(1, 5))
    rows = [
        {**{c: draw(s) for c, s in core.items()}, **{p: draw(values(k)) for p, k in props.items()}}
        for _ in range(n)
    ]
    cols = {c: [r[c] for r in rows] for c in rows[0]}
    for c, vals in cols.items():
        if c not in uncoded and all(v is None or type(v) is str for v in vals) and draw(st.booleans()):
            dictionary = sorted({v for v in vals if v is not None})
            codes = [len(dictionary) if v is None else dictionary.index(v) for v in vals]
            cols[c] = Coded(np.array(codes, np.int8), np.array([*dictionary, None], dtype=object))
    overrides = draw(st.dictionaries(st.sampled_from([*sorted(props), "nctid"]), shells, max_size=3))
    return rows, cols, {**response.DEFAULT_ATTRIBUTE_SHELLS, **overrides}


ids = st.text(min_size=1, max_size=5)
maybe = lambda s: st.one_of(st.none(), st.just(""), s)  # noqa: E731
EDGE_CORE = {
    "output_id": ids,
    "input_id": ids,
    "direction": st.sampled_from([DIR_FORWARD, DIR_REVERSE]),
    "id": st.one_of(ids, st.integers(0, 10**12)),
    "predicate": st.sampled_from(["biolink:treats", "biolink:related_to"]),
    "qualified_predicate": maybe(st.just("biolink:causes")),
    "object_direction_qualifier": maybe(st.text(max_size=4)),
    "object_aspect_qualifier": st.none(),
    "primary_knowledge_source": maybe(st.sampled_from(["infores:a", "infores:é"])),
    "agent_type": maybe(st.just("manual_agent")),
    "source_record_urls": st.one_of(st.none(), st.lists(st.text(max_size=4), max_size=2)),
    "conglomerate_predicate": st.just("biolink:treats"),
    "input_query_id": st.one_of(st.none(), ids),
    "output_query_id": st.one_of(st.none(), ids),
}
NODE_CORE = {
    "id": ids,
    "name": st.one_of(st.none(), st.text(max_size=6)),
    "categories": st.one_of(st.none(), st.lists(st.sampled_from(["biolink:Gene", "biolink:Ä"]), max_size=2)),
    "all_categories": st.just(["biolink:Gene"]),
}
# GraphIndex.columns codes only edge payload columns; node columns never
TRAVERSAL = ("output_id", "input_id", "input_query_id", "output_query_id")
kps = st.sampled_from(["infores:test-kp", "infores:ü-kp"])


@settings(max_examples=300, deadline=None)
@given(table(EDGE_CORE, TRAVERSAL), kps, st.booleans())
def test_edge_text_is_dict_path_json(t, kp, with_urls):
    rows, cols, shells = t
    if not with_urls:
        del cols["source_record_urls"]
        for r in rows:
            del r["source_record_urls"]
    texts = response._edge_texts(cols, kp, shells)
    assert texts == [
        f"{json.dumps(str(r['id']))}: {json.dumps(response._answer_edge_to_trapi(r, kp, shells))}"
        for r in rows
    ]


@settings(max_examples=300, deadline=None)
@given(table(NODE_CORE, NODE_CORE), kps)
def test_node_text_is_dict_path_json(t, kp):
    rows, cols, shells = t
    texts = response._node_texts(cols, kp, shells)
    assert texts == [
        f"{json.dumps(r['id'])}: {json.dumps(response.node_to_trapi(r, kp, shells))}"
        for r in rows
    ]

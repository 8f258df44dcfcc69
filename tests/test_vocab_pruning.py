"""KG-vocabulary filter pruning (round 9, query/compiler.py:_get_kg_vocab).

Biolink expansion yields hundreds of descendant predicates/categories for
a KG whose actual vocabulary is ~10 values, and the serving conf keeps
IN-lists in linear ``In`` form — so every scanned row paid O(hundreds)
of comparisons.  The pruning intersects expanded sets with the KG's
distinct values and SKIPS filters that provably match every row.  These
tests pin the semantics that make the skip safe:

- pruning never changes results (absent predicates match zero rows);
- the category filter is NOT skipped when any row carries an empty
  category array (arrays_overlap would reject those rows);
- a vocabulary-covering expansion skips the filter and still returns
  every row a full filter would.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import wire


@pytest.fixture(scope="module")
def engine(spark):
    from ploverdb_spark.build.ingest import build_knowledge_graph
    from ploverdb_spark.query.compiler import TrapiEngine
    from ploverdb_spark.sources.kgx import KgxConfig

    nodes = spark.createDataFrame(
        [
            ("N:1", "one", ["biolink:Gene"]),
            ("N:2", "two", ["biolink:Disease"]),
            ("N:3", "three", ["biolink:Drug"]),
            ("N:4", "four", ["biolink:Disease"]),
        ],
        "id string, name string, all_categories array<string>",
    )
    edge_schema = (
        "id string, subject string, object string, predicate string, "
        "qualified_predicate string, object_direction_qualifier string, "
        "object_aspect_qualifier string, primary_knowledge_source string"
    )
    edges = spark.createDataFrame(
        [
            ("e1", "N:1", "N:2", "biolink:treats", None, None, None, "infores:x"),
            ("e2", "N:3", "N:2", "biolink:treats", None, None, None, "infores:x"),
            ("e3", "N:1", "N:4", "biolink:interacts_with", None, None, None, "infores:x"),
        ],
        edge_schema,
    )
    kg = build_knowledge_graph(nodes, edges, KgxConfig()).persist()
    return TrapiEngine(kg, kp_infores_curie="infores:test").warmup()


def test_vocab_is_kg_actual_values(engine):
    vocab = engine._get_kg_vocab()
    # treated_by never stored: the build flips non-canonical directions
    assert vocab["predicate"] == {"biolink:treats", "biolink:interacts_with"}
    assert "biolink:Gene" in vocab["categories"]
    assert vocab["min_cat_size"] >= 1


def test_prune_predicate_sets_drops_absent_and_skips_covering(engine):
    directed, bidir, skip = engine.prune_predicate_sets(
        {"biolink:treats", "biolink:affects"},  # affects absent from KG
        {"biolink:interacts_with", "biolink:coexists_with"},
        use_congl=False,
    )
    assert directed == {"biolink:treats"}
    assert bidir == {"biolink:interacts_with"}
    assert not skip  # bidirectional alone does not cover {treats, interacts}
    _, _, skip_all = engine.prune_predicate_sets(
        set(), {"biolink:treats", "biolink:interacts_with"}, use_congl=False
    )
    assert skip_all


def test_category_skip_requires_nonempty_arrays(spark, engine):
    cats, skip = engine.prune_category_list(
        sorted(engine._get_kg_vocab()["categories"] | {"biolink:Extra"})
    )
    assert skip  # covers vocab, no empty arrays in this KG
    cats, skip = engine.prune_category_list(["biolink:Disease"])
    assert not skip and cats == ["biolink:Disease"]

    # same KG but one neighbor row with an EMPTY category array: covering
    # the vocab must no longer skip (arrays_overlap rejects empty arrays)
    import dataclasses

    from ploverdb_spark.query.compiler import TrapiEngine

    kg2 = dataclasses.replace(
        engine.kg,
        edges_bidir=engine.kg.edges_bidir.unionByName(
            engine.kg.edges_bidir.limit(1).withColumn(
                "neighbor_categories", F.array().cast("array<string>")
            )
        ),
    )
    eng2 = TrapiEngine(kg2, kp_infores_curie="infores:test")
    assert eng2._get_kg_vocab()["min_cat_size"] == 0
    _, skip = eng2.prune_category_list(
        sorted(eng2._get_kg_vocab()["categories"])
    )
    assert not skip


def _one_hop(engine, qnode_cats):
    qg = {
        "nodes": {
            "n00": {"ids": ["N:1"]},
            "n01": {"categories": qnode_cats} if qnode_cats else {},
        },
        "edges": {"e00": {"subject": "n00", "object": "n01"}},
    }
    _, df = engine.lookup(qg, persist_answers=False, enforce_cutoff=False)
    return {(r.input_id, r.output_id) for r in df.collect()}


def test_skipped_filters_return_every_row_a_full_filter_would(engine):
    # default predicates (related_to, symmetric) + NamedThing categories:
    # both filters skip, and the answers equal the explicitly-filtered run
    wide = _one_hop(engine, ["biolink:NamedThing"])
    narrow = _one_hop(engine, ["biolink:Disease"])
    assert wide == {("N:1", "N:2"), ("N:1", "N:4")}
    assert narrow == wide  # both N:1-neighbors are Diseases here
    drug_only = _one_hop(engine, ["biolink:Drug"])
    assert drug_only == set()  # pruned-but-present category still filters


def test_predicate_skip_disabled_on_null_match_column(spark, engine):
    """A NULL match column is dropped by the In-list filter but KEPT
    when the filter is skipped — so a measured NULL anywhere in the
    vocab scan must disable skip_filter (collect_set silently drops
    NULLs, making the value invisible to the covering check)."""
    import dataclasses

    from ploverdb_spark.query.compiler import TrapiEngine

    vocab = engine._get_kg_vocab()
    assert vocab["predicate_has_null"] is False
    assert vocab["conglomerate_predicate_has_null"] is False

    kg2 = dataclasses.replace(
        engine.kg,
        edges_bidir=engine.kg.edges_bidir.unionByName(
            engine.kg.edges_bidir.limit(1)
            .withColumn("predicate", F.lit(None).cast("string"))
            .withColumn(
                "conglomerate_predicate", F.lit(None).cast("string")
            )
        ),
    )
    eng2 = TrapiEngine(kg2, kp_infores_curie="infores:test")
    v2 = eng2._get_kg_vocab()
    assert v2["predicate_has_null"] is True
    # the NULL row is invisible to the vocab set itself...
    assert v2["predicate"] == vocab["predicate"]
    # ...so a vocabulary-covering expansion must NOT skip the filter
    _, _, skip = eng2.prune_predicate_sets(
        set(), set(vocab["predicate"]), use_congl=False
    )
    assert not skip
    _, _, skip_congl = eng2.prune_predicate_sets(
        set(), set(v2["conglomerate_predicate"]), use_congl=True
    )
    assert not skip_congl


def test_rebuild_swaps_vocab(spark, engine, tmp_path):
    """Vocab lifecycle: ``_kg_vocab`` is cached per-engine and /rebuild
    swaps WHOLE engines (api.py), so a rebuilt KG's new predicate must
    be visible to the swapped engine's vocab — pinned here so a future
    engine-reuse optimization can't silently serve a stale vocab."""
    import json as _json

    from ploverdb_spark.api import KpRegistry, handle

    reg = KpRegistry(query_timeout_sec=120, rebuild_token="tok")
    reg.register("kp", engine)
    assert (
        "biolink:affects"
        not in reg.engine("kp")._get_kg_vocab()["predicate"]
    )

    nodes_file = tmp_path / "nodes.jsonl"
    nodes_file.write_text(
        "\n".join(
            _json.dumps(n)
            for n in [
                {"id": "V:1", "name": "v1", "all_categories": ["biolink:Gene"]},
                {"id": "V:2", "name": "v2", "all_categories": ["biolink:Disease"]},
            ]
        )
    )
    edges_file = tmp_path / "edges.jsonl"
    edges_file.write_text(
        _json.dumps(
            {"id": "ev", "subject": "V:1", "object": "V:2",
             "predicate": "biolink:affects",
             "primary_knowledge_source": "infores:new"}
        )
    )
    status, _ = handle(
        reg,
        "rebuild",
        {"token": "tok", "nodes_file": str(nodes_file),
         "edges_file": str(edges_file), "config": {"is_test": True}},
    )
    assert status == 200
    v_new = reg.engine("kp")._get_kg_vocab()
    assert "biolink:affects" in v_new["predicate"]
    # the pruned filter path actually serves the new predicate
    qg = {
        "nodes": {"n00": {"ids": ["V:1"]}, "n01": {}},
        "edges": {"e00": {"subject": "n00", "object": "n01",
                          "predicates": ["biolink:affects"]}},
    }
    status, body = handle(reg, "query", {"message": {"query_graph": qg}})
    assert status == 200
    assert set(wire(body)["message"]["knowledge_graph"]["edges"]) == {"ev"}


def test_rebuild_compiles_against_new_vocab(spark, engine, tmp_path):
    """The compile memo lives on the engine: after a /rebuild swap, a
    query the old engine compiled (and memoized) compiles against the new
    engine's vocab, while the old engine keeps its own."""
    import json as _json

    from ploverdb_spark.api import KpRegistry, handle

    reg = KpRegistry(query_timeout_sec=120, rebuild_token="tok")
    reg.register("kp", engine)
    qg = {
        "nodes": {"n00": {"ids": ["V:1"]}, "n01": {}},
        "edges": {"e00": {"subject": "n00", "object": "n01",
                          "predicates": ["biolink:affects"]}},
    }
    old = engine.compile(qg)
    assert not old.directed_predicates | old.bidirectional_predicates
    (tmp_path / "nodes.jsonl").write_text("\n".join(_json.dumps(n) for n in [
        {"id": "V:1", "name": "v1", "all_categories": ["biolink:Gene"]},
        {"id": "V:2", "name": "v2", "all_categories": ["biolink:Disease"]},
    ]))
    (tmp_path / "edges.jsonl").write_text(_json.dumps(
        {"id": "ev", "subject": "V:1", "object": "V:2", "predicate": "biolink:affects",
         "primary_knowledge_source": "infores:new"}
    ))
    status, _ = handle(reg, "rebuild", {
        "token": "tok", "nodes_file": str(tmp_path / "nodes.jsonl"),
        "edges_file": str(tmp_path / "edges.jsonl"), "config": {"is_test": True},
    })
    assert status == 200 and reg.engine("kp") is not engine
    new = reg.engine("kp").compile(qg)
    assert "biolink:affects" in new.directed_predicates | new.bidirectional_predicates
    assert engine.compile(qg) == old

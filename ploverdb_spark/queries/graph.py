"""Graph-semantic operators, oracle-checked.

Builds a knowledge graph from the driver's TPC-H-ish tables (nodes =
regions/nations/customers/suppliers/orders; edges = located_in /
part_of_region / placed_by plus a customer->nation->region
``biolink:subclass_of`` chain), runs it through the REAL engine pipeline
(build_knowledge_graph -> TrapiEngine), and exposes the answers as
DataFrames whose DuckDB oracles recompute the same semantics in SQL
(transitive closure via recursive CTE, one-hop joins, subclass-expanded
lookups).

This is how the driver's correctness gate covers SURVEY §2's graph
operators (J2/J5/J10/J11, G1-G3, A1) and not just the relational surface.

Scale note: the subclass chain stays under the engine's 5,000-descendant
closure prune at every tested sf (customers/region ~3,000 at sf0.1), so
Spark results and the un-pruned SQL oracle agree by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ploverdb_spark.build.ingest import build_knowledge_graph
from ploverdb_spark.functions.localdf import tiny_df
from ploverdb_spark.catalog import load, register
from ploverdb_spark.query.compiler import TrapiEngine
from ploverdb_spark.query.response import edges_between
from ploverdb_spark.sources.kgx import KgxConfig

# ---------------------------------------------------------------------------
# KG derivation
# ---------------------------------------------------------------------------


def build_graft_nodes_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")

    def node(df, prefix, key, name, category):
        return df.select(
            F.concat(F.lit(prefix), F.col(key).cast("string")).alias("id"),
            F.col(name).cast("string").alias("name"),
            F.array(F.lit(category)).alias("all_categories"),
        )

    # Customer nodes carry an equivalent-identifier alias (CUSTX:<k>) so the
    # id-synonym map (J4/R1) is non-empty and alias queries round-trip.
    customer_nodes = customer.select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_name").cast("string").alias("name"),
        F.array(F.lit("graft:Customer")).alias("all_categories"),
        F.array(
            F.concat(F.lit("CUSTX:"), F.col("c_custkey").cast("string"))
        ).alias("equivalent_identifiers"),
    )
    nodes = (
        node(region, "R:", "r_regionkey", "r_name", "graft:Region")
        .unionByName(node(nation, "N:", "n_nationkey", "n_name", "graft:Nation"))
        .unionByName(customer_nodes, allowMissingColumns=True)
        .unionByName(
            node(supplier, "S:", "s_suppkey", "s_name", "graft:Supplier"),
            allowMissingColumns=True,
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("id"),
                F.concat(F.lit("order "), F.col("o_orderkey").cast("string")).alias(
                    "name"
                ),
                F.array(F.lit("graft:Order")).alias("all_categories"),
            ),
            allowMissingColumns=True,
        )
    )

    def edge(df, eid_prefix, eid_key, subj_prefix, subj_key, pred, obj_prefix, obj_key):
        return df.select(
            F.concat(F.lit(eid_prefix), F.col(eid_key).cast("string")).alias("id"),
            F.concat(F.lit(subj_prefix), F.col(subj_key).cast("string")).alias(
                "subject"
            ),
            F.concat(F.lit(obj_prefix), F.col(obj_key).cast("string")).alias("object"),
            F.lit(pred).alias("predicate"),
            F.lit("infores:graft").alias("primary_knowledge_source"),
            F.lit(None).cast("string").alias("order_status"),
            F.lit(None).cast("double").alias("totalprice"),
            F.lit(None).cast("string").alias("qualified_predicate"),
            F.lit(None).cast("string").alias("object_direction_qualifier"),
            F.lit(None).cast("string").alias("object_aspect_qualifier"),
        )

    # placed_by edges carry real attributes (order_status, totalprice) for
    # the F3 constraint queries, and open orders additionally carry a
    # qualifier set (qualified_predicate biolink:causes / increased /
    # abundance) so the conglomerate-predicate path (J8/R3/G4) has data.
    is_open = F.col("o_orderstatus") == "O"
    order_edges = orders.select(
        F.concat(F.lit("eop:"), F.col("o_orderkey").cast("string")).alias("id"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("object"),
        F.lit("graft:placed_by").alias("predicate"),
        F.lit("infores:graft").alias("primary_knowledge_source"),
        F.col("o_orderstatus").cast("string").alias("order_status"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.when(is_open, F.lit("biolink:causes")).alias("qualified_predicate"),
        F.when(is_open, F.lit("increased")).alias("object_direction_qualifier"),
        F.when(is_open, F.lit("abundance")).alias("object_aspect_qualifier"),
    )

    edges = (
        edge(customer, "ecl:", "c_custkey", "C:", "c_custkey", "graft:located_in", "N:", "c_nationkey")
        .unionByName(
            edge(supplier, "esl:", "s_suppkey", "S:", "s_suppkey", "graft:located_in", "N:", "s_nationkey")
        )
        .unionByName(
            edge(nation, "enr:", "n_nationkey", "N:", "n_nationkey", "graft:part_of_region", "R:", "n_regionkey")
        )
        .unionByName(order_edges)
        # subclass chain C -> N -> R (kept under the closure prune caps)
        .unionByName(
            edge(customer, "esc:", "c_custkey", "C:", "c_custkey", "biolink:subclass_of", "N:", "c_nationkey")
        )
        .unionByName(
            edge(nation, "esn:", "n_nationkey", "N:", "n_nationkey", "biolink:subclass_of", "R:", "n_regionkey")
        )
        # nation-adjacency chain under a SYMMETRIC predicate (F4 coverage):
        # ea:k connects N:k -- N:k+1
        .unionByName(
            nation.alias("a")
            .join(
                nation.alias("b"),
                F.col("b.n_nationkey") == F.col("a.n_nationkey") + 1,
            )
            .select(
                F.concat(F.lit("ea:"), F.col("a.n_nationkey").cast("string")).alias("id"),
                F.concat(F.lit("N:"), F.col("a.n_nationkey").cast("string")).alias("subject"),
                F.concat(F.lit("N:"), F.col("b.n_nationkey").cast("string")).alias("object"),
                F.lit("graft:adjacent_to").alias("predicate"),
                F.lit("infores:graft").alias("primary_knowledge_source"),
                F.lit(None).cast("string").alias("order_status"),
                F.lit(None).cast("double").alias("totalprice"),
                F.lit(None).cast("string").alias("qualified_predicate"),
                F.lit(None).cast("string").alias("object_direction_qualifier"),
                F.lit(None).cast("string").alias("object_aspect_qualifier"),
            )
        )
    )
    return nodes, edges


_ENGINE_CACHE: dict[tuple[str, str], TrapiEngine] = {}


def graft_engine(spark: SparkSession, sf_dir: str) -> TrapiEngine:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ENGINE_CACHE:
        nodes, edges = build_graft_nodes_edges(spark, sf_dir)
        kg = build_knowledge_graph(nodes, edges, KgxConfig()).persist()
        # cutoff disabled: the F5 guard costs one extra count action per
        # lookup, and these catalog queries return bounded answer sets by
        # construction (production engines keep the 1M default).
        _ENGINE_CACHE[key] = TrapiEngine(
            kg, kp_infores_curie="infores:graft-kp", answer_cutoff=None
        )
    return _ENGINE_CACHE[key]


# SQL prelude shared by the oracles: the same KG derivation, in SQL.
_SUBCLASS_EDGES_SQL = """
    SELECT 'N:' || CAST(c_nationkey AS VARCHAR) AS parent,
           'C:' || CAST(c_custkey AS VARCHAR) AS child
    FROM customer
    UNION ALL
    SELECT 'R:' || CAST(n_regionkey AS VARCHAR) AS parent,
           'N:' || CAST(n_nationkey AS VARCHAR) AS child
    FROM nation
"""

_CLOSURE_SQL = f"""
    WITH RECURSIVE base AS ({_SUBCLASS_EDGES_SQL}),
    closure(ancestor, descendant) AS (
        SELECT parent, child FROM base
        UNION
        SELECT c.ancestor, b.child
        FROM closure c JOIN base b ON b.parent = c.descendant
    )
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


@register(
    "g2_subclass_closure",
    oracle=_CLOSURE_SQL + "SELECT ancestor, descendant FROM closure",
    doc="Transitive subclass closure via semi-naive iterative self-join "
    "(SURVEY §2.7 G1-G3; reference plover.py:552-626 recursion reimagined "
    "as datalog over DataFrames). Oracle: recursive CTE.",
)
def g2_subclass_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine's cached closure (built once per session by
    # build_knowledge_graph -> transitive_closure); rebuilding the
    # iterative job per call would benchmark the build, not the serving
    # stance the reference takes (indexes built offline, plover.py:725).
    eng = graft_engine(spark, sf_dir)
    return eng.kg.subclass_closure.select("ancestor", "descendant")


@register(
    "j2_one_hop_lookup",
    oracle="""
    SELECT 'ecl:' || CAST(c_custkey AS VARCHAR) AS id,
           'N:' || CAST(c_nationkey AS VARCHAR) AS input_id,
           'C:' || CAST(c_custkey AS VARCHAR) AS output_id
    FROM customer
    WHERE c_nationkey IN (0, 1, 2)
    """,
    doc="TRAPI one-hop adjacency lookup through the full engine "
    "(SURVEY §2.3 J2; reference plover.py:2033-2107): pinned nation ids, "
    "asymmetric predicate matched in reverse, output category filter.",
)
def j2_one_hop_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = graft_engine(spark, sf_dir)
    qg = {
        "nodes": {
            "n00": {"categories": ["graft:Customer"]},
            "n01": {"ids": ["N:0", "N:1", "N:2"]},
        },
        "edges": {
            "e00": {
                "subject": "n00",
                "object": "n01",
                "predicates": ["graft:located_in"],
            }
        },
    }
    _, answers = eng.lookup(qg, persist_answers=False)
    # subclass expansion of N:x pulls customer descendants, but no
    # located_in edge targets a customer, so the answer set matches the
    # plain SQL join; category filter excludes supplier edges.
    return answers.select("id", "input_id", "output_id")


@register(
    "j5_subclass_expanded_lookup",
    oracle="""
    SELECT 'ecl:' || CAST(c_custkey AS VARCHAR) AS id,
           'N:' || CAST(c_nationkey AS VARCHAR) AS input_id,
           'R:1' AS input_query_id,
           'C:' || CAST(c_custkey AS VARCHAR) AS output_id
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_regionkey = 1
    """,
    doc="Subclass-expanded one-hop (SURVEY §2.3 J5, plover.py:1834-1865): "
    "region id expands to its nation descendants via the closure; edges "
    "attach at the nation level; query_id provenance retained.",
)
def j5_subclass_expanded_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = graft_engine(spark, sf_dir)
    qg = {
        "nodes": {
            "n00": {"categories": ["graft:Customer"]},
            "n01": {"ids": ["R:1"]},
        },
        "edges": {
            "e00": {
                "subject": "n00",
                "object": "n01",
                "predicates": ["graft:located_in"],
            }
        },
    }
    _, answers = eng.lookup(qg, persist_answers=False)
    return answers.select("id", "input_id", "input_query_id", "output_id")


@register(
    "j10_edges_between_pairs",
    oracle="""
    SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS node_a,
           'N:' || CAST(c_nationkey AS VARCHAR) AS node_b,
           'ecl:' || CAST(c_custkey AS VARCHAR) AS edge_id
    FROM customer
    WHERE c_custkey <= 50
    UNION ALL
    SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS node_a,
           'N:' || CAST(c_nationkey AS VARCHAR) AS node_b,
           'esc:' || CAST(c_custkey AS VARCHAR) AS edge_id
    FROM customer
    WHERE c_custkey <= 50
    """,
    doc="/edges pairwise lookup, vectorized (SURVEY §2.3 J10; replaces the "
    "reference's per-pair loop, plover.py:1934-1980): one join over all "
    "pairs, both orientations, through the same edges_between join as "
    "/edges.",
)
def j10_edges_between_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = graft_engine(spark, sf_dir)
    customer = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 50)
    pairs = customer.select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("node_a"),
        F.concat(F.lit("N:"), F.col("c_nationkey").cast("string")).alias("node_b"),
    )
    return edges_between(eng, pairs, []).select(
        "node_a", "node_b", F.col("id").alias("edge_id")
    )


@register(
    "j11_batch_neighbors",
    oracle="""
    SELECT 'N:' || CAST(c_nationkey AS VARCHAR) AS node_id,
           COUNT(*) AS n_neighbors,
           ARRAY_TO_STRING(LIST_SORT(LIST('C:' || CAST(c_custkey AS VARCHAR))), '|') AS neighbors
    FROM customer
    WHERE c_nationkey IN (0, 1, 2, 3, 4)
    GROUP BY c_nationkey
    """,
    doc="/neighbors batch adjacency (SURVEY §2.3 J11, plover.py:1982-2009): "
    "one join + collect_set replaces the per-id loop; category filter "
    "keeps customers only.",
)
def j11_batch_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = graft_engine(spark, sf_dir)
    ids = [f"N:{i}" for i in range(5)]
    ids_df = tiny_df(spark, [(i,) for i in ids], "node_id string")
    bidir = eng.kg.edges_bidir
    return (
        bidir.join(F.broadcast(ids_df), on="node_id")
        .where(F.col("predicate") == "graft:located_in")
        .where(
            F.arrays_overlap(
                F.col("neighbor_categories"),
                F.lit(["graft:Customer"]).cast("array<string>"),
            )
        )
        .groupBy("node_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.array_join(F.sort_array(F.collect_set("neighbor_id")), "|").alias("neighbors"),
        )
    )


@register(
    "a1_meta_kg",
    oracle="""
    SELECT 'graft:Customer' AS subject_category, 'graft:located_in' AS predicate,
           'graft:Nation' AS object_category, COUNT(*) AS n_edges
    FROM customer
    UNION ALL
    SELECT 'graft:Supplier', 'graft:located_in', 'graft:Nation', COUNT(*)
    FROM supplier
    UNION ALL
    SELECT 'graft:Nation', 'graft:part_of_region', 'graft:Region', COUNT(*)
    FROM nation
    UNION ALL
    SELECT 'graft:Order', 'graft:placed_by', 'graft:Customer', COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'graft:Customer', 'biolink:subclass_of', 'graft:Nation', COUNT(*)
    FROM customer
    UNION ALL
    SELECT 'graft:Nation', 'biolink:subclass_of', 'graft:Region', COUNT(*)
    FROM nation
    UNION ALL
    SELECT 'graft:Nation', 'graft:adjacent_to', 'graft:Nation', COUNT(*)
    FROM nation a JOIN nation b ON b.n_nationkey = a.n_nationkey + 1
    """,
    doc="Meta-knowledge-graph aggregation (SURVEY §2.4 A1, "
    "plover.py:1139-1229): edges joined to both endpoint categories, "
    "grouped into (subject_category, predicate, object_category) triples.",
)
def a1_meta_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = graft_engine(spark, sf_dir)
    kg = eng.kg
    cats = kg.nodes.select(
        F.col("id"), F.element_at(F.col("categories"), 1).alias("cat")
    )
    e = kg.edges
    return (
        e.join(
            cats.select(
                F.col("id").alias("subject"), F.col("cat").alias("subject_category")
            ),
            on="subject",
        )
        .join(
            cats.select(
                F.col("id").alias("object"), F.col("cat").alias("object_category")
            ),
            on="object",
        )
        .groupBy("subject_category", "predicate", "object_category")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )

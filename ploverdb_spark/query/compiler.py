"""TRAPI query-graph -> DataFrame-plan compiler (the engine core).

Reference behavior reimplemented Spark-first (NOT ported): the reference
answers one-hop queries by walking nested in-memory dict indexes
(``_lookup_answers``, plover.py:2011-2119).  Here the semantic rewrites
(R1-R6) happen driver-side as plain query compilation, and the lookup is
one declarative DataFrame pipeline over ``edges_bidir``:

    input ids (tiny DF, broadcast)
      -> subclass expansion join (J5, closure table)
      -> join edges_bidir on node_id (J2)
      -> predicate/direction filters (F2/F4) from driver-expanded sets
      -> output category overlap filter (F1/J7) or output-id join (J3)
      -> attribute-constraint filter (F3)
      -> answer edge DF (edge id + bound input/output ids + query ids)

Catalyst pushes the predicate/category filters into the scan; the
query-id side is always broadcast (bounded by query size x subclass
fan-out, capped like the reference's closure at 5,000/parent).

Errors mirror the reference's HTTP semantics via :class:`QueryError`
(status 400/403 — plover.py:1809-1832, 2051-2058).
"""

from __future__ import annotations

import itertools
import threading
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ploverdb_spark.build.ingest import DIR_FORWARD, DIR_REVERSE, KnowledgeGraph
from ploverdb_spark.functions.localdf import tiny_df
from ploverdb_spark.functions.predicates import in_predicate
from ploverdb_spark.query.constraints import apply_attribute_constraints
from ploverdb_spark.query.index import DriverIndex, GraphIndex

SUPPORTED_QUALIFIERS = {
    "biolink:qualified_predicate",
    "biolink:object_direction_qualifier",
    "biolink:object_aspect_qualifier",
}  # reference plover.py:696-698


class QueryError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


@dataclass
class CompiledQEdge:
    """Driver-side result of the R2/R3/J6/J8/F4 rewrites."""

    qedge_key: str
    input_qnode_key: str
    output_qnode_key: str
    input_is_subject: bool
    use_conglomerate: bool
    directed_predicates: set[str] = dc_field(default_factory=set)
    bidirectional_predicates: set[str] = dc_field(default_factory=set)
    output_categories: list[str] = dc_field(default_factory=list)
    output_ids: list[str] | None = None
    attribute_constraints: list[dict] = dc_field(default_factory=list)
    # the compile step's driver-side plan: canonical pinned ids, their
    # (query_id, node_id) subclass pairs (None when the closure is over
    # the driver-map guard), vocab-pruned filters and their skip flags
    input_ids: list[str] = dc_field(default_factory=list)
    input_pairs: list[tuple[str, str]] | None = None
    output_canonical_ids: list[str] | None = None
    output_pairs: list[tuple[str, str]] | None = None
    required_direction: int = DIR_FORWARD
    skip_predicate_filter: bool = False
    categories: list[str] = dc_field(default_factory=list)
    skip_category_filter: bool = False


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


# Beyond this many ids the IN-list stops helping (plan bloat) and the
# broadcast join alone is the right shape.
MAX_ISIN_PUSHDOWN = 8192


def pushdown_id_filter(df: DataFrame, col_name: str, ids) -> DataFrame:
    """Add an ``isin`` filter for a driver-known id set ON TOP of the
    (semantically sufficient) broadcast join.

    Why this matters at scale: a broadcast hash join must STREAM THE
    ENTIRE probe side — every point lookup against a 30M-edge
    ``edges_bidir`` scans all of it (measured: interactive one-hop
    degrading to minutes under 16-way concurrency at reference scale).
    The redundant ``isin`` reaches the scan as a pushed filter, so a
    bucketed-parquet read prunes to the matching buckets
    (``SelectedBucketsCount``) and a cached read prunes in-memory batches
    via min/max stats (the serving tables are written sorted on these
    keys) — per-query work becomes proportional to the matched slice.
    """
    ids = list(ids) if ids is not None else None
    if ids and len(ids) <= MAX_ISIN_PUSHDOWN:
        # The redundant BETWEEN matters for the cached path: id lists over
        # the In->InSet conversion threshold (16 under SERVING_SQL_CONF)
        # reach the InMemoryTableScan as InSet, which its stat-based batch
        # pruning ignores — min/max range predicates always prune, and the
        # serving tables are sorted on these keys so the ranges are tight.
        # The InSet form is deliberate for big lists: round-10 profiling
        # measured linear In eval on the cached 60M-row edges_bidir at
        # 0.90-1.7 s per 100-id scan vs 0.24-0.31 s as InSet.
        # in_predicate (NOT Column.isin) keeps construction O(1) py4j
        # calls — per-literal isin cost seconds of driver time per lookup.
        return df.where(
            F.col(col_name).between(min(ids), max(ids))
            & in_predicate(col_name, ids)
        )
    return df


def predicate_filter(compiled: CompiledQEdge) -> Column:
    """F2/F4 over ``edges_bidir`` (TRUE when the compile proved it
    matches every row).  Expanded sets can reach hundreds of descendants —
    in_predicate keeps construction at one py4j call per set."""
    if compiled.skip_predicate_filter:
        return F.lit(True)
    col = "conglomerate_predicate" if compiled.use_conglomerate else "predicate"
    pred = in_predicate(col, sorted(compiled.bidirectional_predicates))
    if compiled.directed_predicates:
        pred = pred | (
            in_predicate(col, sorted(compiled.directed_predicates))
            & (F.col("direction") == compiled.required_direction)
        )
    return pred


def category_filter(compiled: CompiledQEdge) -> Column:
    """F1 over ``edges_bidir`` (TRUE when the compile proved it matches
    every row)."""
    if compiled.skip_category_filter:
        return F.lit(True)
    return F.arrays_overlap(
        F.col("neighbor_categories"), F.lit(compiled.categories).cast("array<string>")
    )


class TrapiEngine:
    """Serves TRAPI one-hop / edgeless queries over a KnowledgeGraph."""

    # Size guard for the driver index (query/index.py; SURVEY §7:
    # "closures/synonyms are the only broadcast-sized artifacts, and each
    # needs a size guard + shuffle-join fallback").  Below the guard id
    # canonicalization and subclass expansion cost zero Spark actions per
    # query, and a KG whose nodes and edges fit too answers pinned one-hop
    # and node lookups with no Spark job at all (the reference holds the
    # same maps in process memory, plover.py:692-695).  Above it,
    # distributed joins.
    DRIVER_MAP_MAX_ROWS = 2_000_000

    _UNSET = object()  # sentinel: answer_cutoff=None means "no cutoff"

    def __init__(
        self,
        kg: KnowledgeGraph,
        kp_infores_curie: str = "infores:ploverdb-spark",
        answer_cutoff: int | None | object = _UNSET,
        driver_map_max_rows: int | None = None,
    ):
        self.kg = kg
        self.spark: SparkSession = kg.edges.sparkSession
        self.model = kg.model
        self.kp_infores_curie = kp_infores_curie
        self.answer_cutoff = (
            kg.config.num_edges_per_answer_cutoff
            if answer_cutoff is TrapiEngine._UNSET
            else answer_cutoff
        )
        self._conglomerate_index: dict[str, set[str]] | None = None
        self._warm = False
        self._driver_map_max_rows = (
            driver_map_max_rows
            if driver_map_max_rows is not None
            else self.DRIVER_MAP_MAX_ROWS
        )
        # synonym and closure lookups plus the graph index, each built
        # once under the index's lock and only below the size guard
        self._index = DriverIndex(kg, self._driver_map_max_rows)
        self._kg_vocab: dict | None = None
        # One lock per remaining structure, so a parallel warmup builds
        # the index, the vocab and the conglomerate index concurrently;
        # without locks the first burst of concurrent queries would each
        # rebuild them (minutes of redundant driver work at scale).
        self._vocab_lock = threading.Lock()
        self._congl_lock = threading.Lock()

    def warmup(self, parallel: bool = False) -> "TrapiEngine":
        """Eagerly build every driver-resident structure (the driver
        index, conglomerate index, KG vocab) — the Spark analog of
        the reference's startup ``load_indexes`` (plover.py:1384-1422).
        Serving deployments call this before taking traffic so the first
        concurrent burst doesn't pay the builds inline.

        ``parallel=True`` builds the three structures concurrently, each
        in its own FAIR scheduler pool (round-11 warm-up profiling: the
        four sequential builds cost ~25-40 s at 7M/30M scale, dominated
        by the vocab scan and the closure collect — independent
        structures guarded by independent locks, so overlapping them is
        free wall-clock).  Sequential by default: unit tests and
        ad-hoc callers keep deterministic job ordering.

        The graph index is built first: when the KG fits the guard, the
        vocab and the conglomerate index derive from it with no scan.
        Every build runs on a pool thread, in both modes: the graph
        build on the main thread left the driver's peak RSS ~24 MB
        higher (benchmark graph, glibc)."""
        if self._warm:
            return self
        from concurrent.futures import ThreadPoolExecutor

        builders = (
            self._index.build,
            self._conglomerate_descendant_index,
            self._get_kg_vocab,
        )
        sc = self.spark.sparkContext
        # the caller's job group and pool (a request's, when its first
        # query warms the engine): its timeout cancels these jobs too
        group, pool = map(sc.getLocalProperty, ("spark.jobGroup.id", "spark.scheduler.pool"))

        def run(b) -> None:
            sc.setLocalProperty("spark.jobGroup.id", group)
            sc.setLocalProperty("spark.scheduler.pool", f"warmup-{b.__name__}" if parallel else pool)
            try:
                b()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=len(builders) if parallel else 1) as workers:
            workers.submit(run, self._index.graph).result()
            # list() propagates the first builder exception, if any
            list(workers.map(run, builders))
        self._warm = True
        return self

    def graph_index(self, build: bool = True) -> GraphIndex | None:
        """The driver-resident graph index when it, the synonym and
        closure lookups, the vocab and the conglomerate index are all
        built and under the guard: then a query compiles and answers on
        the driver alone.  Else None.  ``build=True`` first builds what
        is missing; ``build=False`` never runs a Spark job."""
        if build:
            self.warmup()
        if self._kg_vocab is None or self._conglomerate_index is None:
            return None
        return self._index.ready()

    def index_stats(self) -> dict | None:
        """Resident bytes, edge and node counts of the built graph index;
        None when it is not built or the KG is over the guard."""
        return self._index.stats()

    # ------------------------------------------------------------------
    # driver-side query compilation (R1-R6)
    # ------------------------------------------------------------------

    def _tiny_df(self, data, schema: str) -> DataFrame:
        """Query-sized literal DataFrame, JVM-side (functions.localdf):
        one partition, no Python-worker round trips — the hot serving path
        must not pay createDataFrame's pickled-RDD execution cost."""
        return tiny_df(self.spark, data, schema)

    def canonicalize_ids(self, ids: list[str]) -> dict[str, str]:
        """R1/J4 (plover.py:1797-1804): map query ids through the synonym
        table — driver map when under the size guard (zero Spark actions),
        else a pushed-down filter + collect.

        Up to ``MAX_ISIN_PUSHDOWN`` ids the fallback is deliberately NOT a
        join: joining a tiny id literal against the synonym table streams
        the entire table per request (at 7M synonyms that was the dominant
        per-batch cost of a /neighbors sweep — a full scan, or worse a
        per-request shuffle, for a 100-row answer).  Filtering the
        bucketed+sorted table with the same between+IN shape as
        ``pushdown_id_filter`` prunes to the matching buckets/row-groups,
        and ids missing from the table simply fall back to themselves on
        the driver.  Batches larger than the guard are CHUNKED through the
        same pushdown shape — each chunk prunes independently — so no
        realistic batch size regresses to a per-request full scan; only
        past ``16 * MAX_ISIN_PUSHDOWN`` ids (~128k, where one scan
        amortizes over the batch and a union-of-chunks plan would bloat)
        does it fall back to a broadcast left-semi join, which does
        stream the synonym table once."""
        if not ids:
            return {}
        synonyms = self._index.synonyms()
        if synonyms is not None:
            return {i: next(iter(synonyms.get(i)), i) for i in ids}
        syn = self.kg.id_synonyms
        if len(ids) <= MAX_ISIN_PUSHDOWN:
            syn = pushdown_id_filter(syn, "alias_id", ids)
        elif len(ids) > 16 * MAX_ISIN_PUSHDOWN:
            syn = syn.join(
                F.broadcast(self._tiny_df([(i,) for i in ids], "alias_id string")),
                on="alias_id",
                how="left_semi",
            )
        else:
            chunks = [
                pushdown_id_filter(
                    syn, "alias_id", ids[i : i + MAX_ISIN_PUSHDOWN]
                )
                for i in range(0, len(ids), MAX_ISIN_PUSHDOWN)
            ]
            syn = chunks[0]
            for c in chunks[1:]:
                syn = syn.unionByName(c)
        rows = syn.select("alias_id", "preferred_id").collect()
        found = {r.alias_id: r.preferred_id for r in rows if r.preferred_id}
        return {i: found.get(i, i) for i in ids}

    def _get_kg_vocab(self) -> dict:
        """Driver-resident KG vocabulary: the DISTINCT predicate,
        conglomerate-predicate, and category values actually present in
        the serving index (ontology-sized — tens of entries — no matter
        how many edges).  Read off the graph index when it is built
        (``GraphIndex.kg_vocab``), else one map-side-combined scan.

        Why it exists: biolink expansion turns a qedge's predicates into
        hundreds of descendants, nearly all absent from any given KG, and
        the serving conf keeps IN-lists in ``In`` form (linear per-row
        evaluation, see SERVING_SQL_CONF) — so every scanned row paid
        O(hundreds) comparisons for a vocabulary of ~10.  Intersecting
        the expanded sets against this vocab shrinks the per-row filter
        to the predicates that can actually match, and when an expanded
        set COVERS the vocab the filter is provably TRUE and is skipped
        entirely (the default /neighbors sweep — ``related_to`` +
        ``NamedThing`` — hits this on both filters).

        ``min_cat_size`` guards the category skip: a node with an empty
        (or NULL) category array fails ``arrays_overlap`` against any
        list, so cover-the-vocab only implies filter==TRUE when every
        neighbor has at least one category."""
        if self._kg_vocab is not None:
            return self._kg_vocab
        with self._vocab_lock:
            graph = self._index.graph(build=False)
            if self._kg_vocab is None and graph is not None:
                self._kg_vocab = graph.kg_vocab()
            if self._kg_vocab is None:
                row = self.kg.edges_bidir.agg(
                    F.collect_set("predicate").alias("preds"),
                    F.collect_set("conglomerate_predicate").alias("congl"),
                    F.array_distinct(
                        F.flatten(F.collect_set("neighbor_categories"))
                    ).alias("cats"),
                    F.min(
                        F.coalesce(F.size("neighbor_categories"), F.lit(-1))
                    ).alias("min_cat_size"),
                    # collect_set drops NULLs, so a NULL match column
                    # would be invisible to the vocab yet dropped by an
                    # In-list filter and KEPT when the filter is skipped
                    # — track NULL presence so the skip stays lossless
                    # even if a future ingest path produces one.
                    F.max(F.col("predicate").isNull()).alias("pred_null"),
                    F.max(
                        F.col("conglomerate_predicate").isNull()
                    ).alias("congl_null"),
                ).collect()[0]
                self._kg_vocab = {
                    "predicate": frozenset(row.preds),
                    "conglomerate_predicate": frozenset(row.congl),
                    "categories": frozenset(row.cats),
                    "min_cat_size": row.min_cat_size
                    if row.min_cat_size is not None
                    else -1,
                    "predicate_has_null": bool(row.pred_null),
                    "conglomerate_predicate_has_null": bool(row.congl_null),
                }
        return self._kg_vocab

    def prune_predicate_sets(
        self, directed: set[str], bidirectional: set[str], use_congl: bool
    ) -> tuple[set[str], set[str], bool]:
        """Intersect expanded predicate sets with the KG vocab; returns
        ``(directed, bidirectional, skip_filter)`` where ``skip_filter``
        means the predicate filter matches every row and must be dropped
        (cheaper AND avoids a useless per-row In-list walk)."""
        vocab = self._get_kg_vocab()
        col = "conglomerate_predicate" if use_congl else "predicate"
        known = vocab[col]
        directed = directed & known
        bidirectional = bidirectional & known
        # bidirectional covers the whole vocabulary -> `In(bidir) | ...`
        # is TRUE for every row — UNLESS the match column is NULL
        # somewhere (In(NULL) filters the row out; skipping keeps it),
        # so the skip is disabled when the vocab scan saw a NULL.  No
        # ingest path produces one today (predicate is required,
        # conglomerate_predicate is concat_ws), but the guard is
        # measured, not assumed — mirroring min_cat_size.
        skip = bidirectional >= known and not vocab[f"{col}_has_null"]
        return directed, bidirectional, skip

    def prune_category_list(self, categories) -> tuple[list[str], bool]:
        """Intersect an expanded category list with the KG vocab; returns
        ``(pruned_list, skip_filter)``.  The filter can only be skipped
        when the list covers the vocab AND every neighbor row carries a
        non-empty category array (empty arrays fail arrays_overlap)."""
        vocab = self._get_kg_vocab()
        cats = sorted(set(categories) & vocab["categories"])
        skip = (
            set(categories) >= vocab["categories"]
            and vocab["min_cat_size"] >= 1
        )
        return cats, skip

    def _conglomerate_descendant_index(self) -> dict[str, set[str]]:
        """G4 (plover.py:1486-1519): ancestor qualifier-combo string ->
        conglomerate predicates present in the KG.  Built once from the
        *distinct* qualifier combos (ontology-sized, safe to collect),
        read off the graph index when it is built.  Lock-guarded like the
        driver maps: else the distinct() is one full scan of edges_bidir —
        concurrent first queries must not each run it."""
        if self._conglomerate_index is not None:
            return self._conglomerate_index
        with self._congl_lock:
            return self._build_conglomerate_index()

    def _build_conglomerate_index(self) -> dict[str, set[str]]:
        if self._conglomerate_index is not None:
            return self._conglomerate_index
        graph = self._index.graph(build=False)
        combos = graph.qualifier_combos() if graph is not None else (
            self.kg.edges_bidir.where(
                F.col("qualified_predicate").isNotNull()
                | F.col("object_direction_qualifier").isNotNull()
                | F.col("object_aspect_qualifier").isNotNull()
            )
            .select(
                "predicate",
                "qualified_predicate",
                "object_direction_qualifier",
                "object_aspect_qualifier",
                "conglomerate_predicate",
            )
            .distinct()
            .collect()
        )
        index: dict[str, set[str]] = {}
        m = self.model
        for predicate, qualified, direction, aspect, conglomerate in combos:
            for pred in {qualified, predicate}:
                pred_anc: set[str | None] = (
                    set(m.predicate_ancestors(pred)) if pred else set()
                )
                pred_anc.add(None)
                dir_anc: set[str | None] = set(self._qualifier_ancestors(direction))
                dir_anc.add(None)
                asp_anc: set[str | None] = set(self._qualifier_ancestors(aspect))
                asp_anc.add(None)
                for p, d, a in itertools.product(pred_anc, dir_anc, asp_anc):
                    key = f"{p}--{d}--{a}"
                    if key == "None--None--None":
                        continue
                    index.setdefault(key, set()).add(conglomerate)
        self._conglomerate_index = index
        return index

    def _qualifier_ancestors(self, value: str | None) -> list[str]:
        if value is None:
            return []
        out = [value]
        seen = {value}
        cur = self.model.qualifier_value_parents.get(value)
        while cur is not None and cur not in seen:
            out.append(cur)
            seen.add(cur)
            cur = self.model.qualifier_value_parents.get(cur)
        return out

    def _consider_bidirectional(self, predicate: str, qg_predicates: set[str]) -> bool:
        """F4 decision — exact parity with plover.py:2629-2652."""
        m = self.model
        if "--" in predicate:
            predicate = predicate.split("--")[0]
        qg_preds = {p.split("--")[0] for p in qg_predicates}
        if predicate in qg_preds:
            return m.is_symmetric(predicate)
        if qg_preds and all(m.is_symmetric(p) for p in qg_preds):
            return True
        ancestors = set(m.predicate_ancestors(predicate, include_self=False))
        if any(m.is_symmetric(p) for p in ancestors & qg_preds):
            return True
        return m.is_symmetric(predicate)

    def _expanded_predicates(self, qedge: dict) -> tuple[bool, dict[str, bool]]:
        """R3/J6/J8 (plover.py:2704-2776): returns (use_conglomerate,
        {matchable predicate or conglomerate -> consider_bidirectional})."""
        m = self.model
        if qedge.get("qualifier_constraints"):
            qg_congl: set[str] = set()
            for qc in qedge.get("qualifier_constraints", []):
                quals = {
                    q["qualifier_type_id"]: q["qualifier_value"]
                    for q in qc.get("qualifier_set", [])
                }
                unknown = set(quals) - SUPPORTED_QUALIFIERS
                if unknown:
                    raise QueryError(
                        403,
                        f"Unsupported qualifier(s): {sorted(unknown)}. Supported: "
                        f"{sorted(SUPPORTED_QUALIFIERS)}",
                    )
                qpred = quals.get("biolink:qualified_predicate")
                direction = quals.get("biolink:object_direction_qualifier")
                aspect = quals.get("biolink:object_aspect_qualifier")
                preds = qedge.get("predicates")
                if preds and not qpred:
                    for p in _as_list(preds):
                        qg_congl.add(f"{p}--{direction}--{aspect}")
                else:
                    qg_congl.add(f"{qpred}--{direction}--{aspect}")
            index = self._conglomerate_descendant_index()
            expanded = {
                desc for c in qg_congl for desc in index.get(c, set())
            }
            return True, {
                e: self._consider_bidirectional(e, qg_congl) for e in expanded
            }
        preds_raw = set(_as_list(qedge.get("predicates"))) or {
            "biolink:related_to"
        }
        preds = preds_raw | set(m.replace_predicate_mixins(sorted(preds_raw)))
        expanded = {
            d for p in preds for d in m.predicate_descendants(p)
        }
        return False, {
            e: self._consider_bidirectional(e, preds) for e in expanded
        }

    def _canonical_qg_flip(self, qg: dict) -> dict:
        """R2 (plover.py:2662-2694): if ALL user predicates are
        non-canonical, flip the qedge and canonicalize; mixing canonical
        and non-canonical -> 400."""
        qedge_key = next(iter(qg["edges"]))
        qedge = qg["edges"][qedge_key]
        preds = _as_list(qedge.get("predicates"))
        qpreds = [
            q["qualifier_value"]
            for qc in qedge.get("qualifier_constraints", [])
            for q in qc.get("qualifier_set", [])
            if q["qualifier_type_id"] == "biolink:qualified_predicate"
        ]
        all_preds = preds + qpreds
        if not all_preds:
            return qg
        canonical = [p for p in all_preds if self.model.is_canonical(p)]
        non_canonical = [p for p in all_preds if not self.model.is_canonical(p)]
        if not non_canonical:
            return qg
        if canonical:
            raise QueryError(
                400,
                "Bad Request. Mixing canonical and non-canonical predicates in "
                "one query edge is not supported.",
            )
        import copy

        qg = copy.deepcopy(qg)
        qedge = qg["edges"][qedge_key]
        qedge["subject"], qedge["object"] = qedge["object"], qedge["subject"]
        if qedge.get("predicates"):
            qedge["predicates"] = [
                self.model.canonical_form(p) for p in _as_list(qedge["predicates"])
            ]
        for qc in qedge.get("qualifier_constraints", []):
            for q in qc.get("qualifier_set", []):
                if q["qualifier_type_id"] == "biolink:qualified_predicate":
                    q["qualifier_value"] = self.model.canonical_form(
                        q["qualifier_value"]
                    )
        return qg

    def _expanded_output_categories(self, qnode: dict) -> list[str]:
        """J7 (plover.py:2614-2627): mixin replacement + descendants;
        default root NamedThing."""
        m = self.model
        cats = set(_as_list(qnode.get("categories"))) or {"biolink:NamedThing"}
        cats = set(m.replace_category_mixins(sorted(cats)))
        return sorted({d for c in cats for d in m.category_descendants(c)})

    # ------------------------------------------------------------------
    # distributed lookup
    # ------------------------------------------------------------------

    def _expansion_pairs_local(
        self, ids: list[str]
    ) -> list[tuple[str, str]] | None:
        """Driver-map fast path for the subclass expansion: the bounded
        (query_id, node_id) pair list, or None when the closure exceeds
        the driver-map size guard (distributed expansion required).  The
        explicit list also feeds the scan-pruning id pushdown in
        :meth:`lookup` — only possible when the ids are enumerable on the
        driver."""
        closure = self._index.closure()
        if closure is None:
            return None
        pairs: dict[str, str] = {}
        for qid in sorted(ids):
            for desc in closure.get(qid):
                if desc not in pairs:
                    pairs[desc] = qid
        for qid in ids:
            pairs[qid] = qid  # self-binding wins
        return [(q, n) for n, q in pairs.items()]

    def expand_with_subclasses(self, qnode_key: str, ids: list[str]) -> DataFrame:
        """J5 (plover.py:1834-1865): ids -> (query_id, node_id) including
        transitive subclass descendants, with provenance.  Self-pairs win
        over descendant provenance; ties broken by min(query_id).

        Driver-map fast path when the closure fits the size guard: the
        expansion is bounded (<=5,000 descendants/parent, closure.py), so
        the pair list stays query-sized and costs no Spark actions.
        """
        local = self._expansion_pairs_local(ids)
        if local is not None:
            return self._tiny_df(local, "query_id string, node_id string")
        ids_df = self._tiny_df([(i,) for i in ids], "query_id string")
        closure = self.kg.subclass_closure
        desc = (
            ids_df.join(
                closure, ids_df.query_id == closure.ancestor, "inner"
            )
            .select("query_id", F.col("descendant").alias("node_id"))
        )
        self_pairs = ids_df.select("query_id", F.col("query_id").alias("node_id"))
        all_pairs = self_pairs.unionByName(desc)
        # one query_id per node: prefer self-binding, then min for determinism
        return (
            all_pairs.groupBy("node_id")
            .agg(
                F.min(
                    F.when(F.col("query_id") == F.col("node_id"), F.lit("0"))
                    .otherwise(F.lit("1"))
                    .alias("rank")
                ).alias("__rank"),
                F.min(
                    F.when(F.col("query_id") != F.col("node_id"), F.col("query_id"))
                ).alias("__desc_qid"),
            )
            .withColumn(
                "query_id",
                F.when(F.col("__rank") == "0", F.col("node_id")).otherwise(
                    F.col("__desc_qid")
                ),
            )
            .select("query_id", "node_id")
        )

    def compile(self, qg: dict) -> CompiledQEdge:
        """The driver-only half of a one-hop lookup: canonical flip (R2),
        input side (R4), predicate and category expansion pruned to the
        KG vocab (R3/J6/J8/J7), id canonicalization (R1) and the subclass
        pairs (J5).  Runs no Spark job while the driver maps fit."""
        qg = self._canonical_qg_flip(qg)
        qedge_key = next(iter(qg["edges"]))
        qedge = qg["edges"][qedge_key]
        qnodes = qg["nodes"]

        subj_key, obj_key = qedge["subject"], qedge["object"]
        ids_by_key = {
            k: _as_list(qnodes[k].get("ids") or qnodes[k].get("id"))
            for k in (subj_key, obj_key)
        }
        if not ids_by_key[subj_key] and not ids_by_key[obj_key]:
            raise QueryError(
                400,
                "Bad Request. At least one query node must have 'ids' specified.",
            )
        # R4 (plover.py:2593-2612): input side = more ids
        if len(ids_by_key[subj_key]) >= len(ids_by_key[obj_key]):
            input_key, output_key = subj_key, obj_key
        else:
            input_key, output_key = obj_key, subj_key
        if not ids_by_key[input_key]:
            input_key, output_key = output_key, input_key
        input_is_subject = input_key == subj_key

        compiled = CompiledQEdge(
            qedge_key=qedge_key,
            input_qnode_key=input_key,
            output_qnode_key=output_key,
            input_is_subject=input_is_subject,
            **self._predicate_sets(qedge),
            output_categories=self._expanded_output_categories(qnodes[output_key]),
            output_ids=ids_by_key[output_key] or None,
            attribute_constraints=qedge.get("attribute_constraints", []),
            required_direction=DIR_FORWARD if input_is_subject else DIR_REVERSE,
        )
        # R1: canonicalize + J5: subclass-expand the pinned side(s)
        compiled.input_ids = list(
            dict.fromkeys(self.canonicalize_ids(ids_by_key[input_key]).values())
        )
        compiled.input_pairs = self._expansion_pairs_local(compiled.input_ids)
        if compiled.output_ids:
            compiled.output_canonical_ids = list(
                dict.fromkeys(
                    self.canonicalize_ids(compiled.output_ids).values()
                )
            )
            compiled.output_pairs = self._expansion_pairs_local(
                compiled.output_canonical_ids
            )
        else:
            # F1: category filter only when output is unpinned; pruned to
            # the KG's category vocab (and skipped when it covers it)
            compiled.categories, compiled.skip_category_filter = (
                self.prune_category_list(compiled.output_categories)
            )
        return compiled

    def _predicate_sets(self, qedge: dict) -> dict:
        """The qedge's predicates expanded (R3/J6/J8), split by F4 and
        pruned to the KG's actual vocabulary, with the skip of a
        provably-TRUE filter: expansion routinely yields hundreds of
        descendants for a ~10-predicate KG, and serving keeps In-lists in
        linear form.  Keyword arguments of ``CompiledQEdge``."""
        use_congl, pred_map = self._expanded_predicates(qedge)
        directed, bidirectional, skip = self.prune_predicate_sets(
            {p for p, bidir in pred_map.items() if not bidir},
            {p for p, bidir in pred_map.items() if bidir},
            use_congl,
        )
        return {
            "use_conglomerate": use_congl,
            "directed_predicates": directed,
            "bidirectional_predicates": bidirectional,
            "skip_predicate_filter": skip,
        }

    def compile_neighbors(
        self, node_ids: list[str], categories=None, predicates=None
    ) -> CompiledQEdge:
        """The driver-only half of /neighbors (J11): each id is the
        subject of a qedge to an unpinned node (the reference routes
        /neighbors through _lookup_answers so), compiled like a one-hop
        but with no subclass expansion, by design: ``input_pairs`` binds
        each canonical id to itself, and ``input_ids`` holds the canonical
        id of each of ``node_ids``, in order."""
        canon = self.canonicalize_ids(node_ids)
        compiled = CompiledQEdge(
            qedge_key="",
            input_qnode_key="",
            output_qnode_key="",
            input_is_subject=True,
            **self._predicate_sets({"predicates": predicates}),
            input_ids=[canon[i] for i in node_ids],
            input_pairs=[(c, c) for c in sorted(set(canon.values()))],
        )
        compiled.categories, compiled.skip_category_filter = self.prune_category_list(
            self._expanded_output_categories({"categories": categories})
        )
        return compiled

    def lookup(
        self,
        qg: dict,
        persist_answers: bool = True,
        enforce_cutoff: bool = True,
        compiled: CompiledQEdge | None = None,
    ) -> tuple[CompiledQEdge, DataFrame]:
        """Compile + build the one-hop lookup; returns the compiled edge
        metadata and the answer-edge DataFrame with columns:
        edge id + payload, input_id, output_id, input_query_id,
        output_query_id.

        ``compiled`` is ``compile(qg)`` when the caller already has it.
        ``persist_answers=True`` caches the answer set for the multi-pass
        response assembly (run_query unpersists it).  Single-pass callers
        should pass False to avoid leaking cache entries.
        ``enforce_cutoff=False`` skips the F5 answer-size action — for
        callers whose own first action bounds the answer volume anyway
        (run_query's fast path) and enforces the cutoff themselves.
        """
        if compiled is None:
            compiled = self.compile(qg)
        input_pairs = compiled.input_pairs
        if input_pairs is not None:
            # the single-pair case never materializes a tiny DF (see below)
            input_df = (
                None
                if len(input_pairs) == 1
                else self._tiny_df(
                    input_pairs, "query_id string, node_id string"
                )
            )
        else:
            input_df = self.expand_with_subclasses(
                compiled.input_qnode_key, compiled.input_ids
            )

        bidir = self.kg.edges_bidir
        single_input = input_pairs is not None and len(input_pairs) == 1
        if (
            input_pairs is not None
            and not single_input
            and self.kg.pruned_id_scans
        ):
            # scan pruning: see pushdown_id_filter — without it every
            # lookup full-scans the serving index.  Gated on the KG layout
            # flag: only bucketed/sorted tables can skip IO for the list.
            # (The single-id case below uses a plain equality filter
            # instead — strictly better pruning, no literal list.)
            bidir = pushdown_id_filter(
                bidir, "node_id", [n for _, n in input_pairs]
            )
        bidirectional = compiled.bidirectional_predicates
        if not compiled.directed_predicates and not bidirectional:
            # e.g. qualifier combo with no matching conglomerate predicate
            # in the KG -> provably empty answer
            return compiled, bidir.limit(0).join(
                self.spark.createDataFrame(
                    [],
                    "node_id string, input_query_id string",
                ),
                on="node_id",
                how="inner",
            ).withColumn("output_query_id", F.lit(None).cast("string")).withColumnRenamed(
                "node_id", "input_id"
            ).withColumnRenamed("neighbor_id", "output_id")

        pred_filter = predicate_filter(compiled)
        if single_input:
            # Dominant serving shape (one pinned id, no subclass
            # descendants): the join contributes nothing but the
            # input_query_id constant — compile to a single equality-
            # pruned scan instead (no tiny-DF build, no broadcast
            # exchange, one fewer driver-side py4j burst per query).
            qid, nid = input_pairs[0]
            matched = (
                bidir.where(F.col("node_id") == F.lit(nid))
                .withColumn("input_query_id", F.lit(qid))
                .where(pred_filter)
            )
        else:
            matched = bidir.join(
                F.broadcast(
                    input_df.select(
                        F.col("node_id"),
                        F.col("query_id").alias("input_query_id"),
                    )
                ),
                on="node_id",
            ).where(pred_filter)

        if compiled.output_ids:
            out_pairs = compiled.output_pairs
            if out_pairs is not None and len(out_pairs) == 1:
                # mirror of the single-input fast shape
                oqid, onid = out_pairs[0]
                matched = matched.where(
                    F.col("neighbor_id") == F.lit(onid)
                ).withColumn("output_query_id", F.lit(oqid))
            else:
                if out_pairs is not None:
                    output_df = self._tiny_df(
                        out_pairs, "query_id string, node_id string"
                    )
                    if self.kg.pruned_id_scans:
                        matched = pushdown_id_filter(
                            matched, "neighbor_id", [n for _, n in out_pairs]
                        )
                else:
                    output_df = self.expand_with_subclasses(
                        compiled.output_qnode_key, compiled.output_canonical_ids
                    )
                matched = matched.join(
                    F.broadcast(
                        output_df.select(
                            F.col("node_id").alias("neighbor_id"),
                            F.col("query_id").alias("output_query_id"),
                        )
                    ),
                    on="neighbor_id",
                )
        else:
            matched = matched.where(category_filter(compiled)).withColumn(
                "output_query_id", F.lit(None).cast("string")
            )

        # F3: attribute constraints
        matched = apply_attribute_constraints(
            matched, compiled.attribute_constraints
        )

        matched = matched.withColumnRenamed("node_id", "input_id").withColumnRenamed(
            "neighbor_id", "output_id"
        )

        # A symmetric predicate whose BOTH endpoints are in the pinned
        # (subclass-expanded) input set matches the same KG edge in both
        # traversal directions of edges_bidir, which would emit two
        # mirrored results for one edge and double-count it toward the
        # answer cutoff.  The reference assigns each answer edge to exactly
        # one result (plover.py:2339-2354, fulfilled forwards first); keep
        # one row per edge id, preferring the forward traversal.  Only the
        # doubly-pinned symmetric case can collide, so the extra shuffle is
        # gated to it.
        if compiled.output_ids and bidirectional:
            w_edge = Window.partitionBy("id").orderBy(
                F.when(F.col("direction") == DIR_FORWARD, 0).otherwise(1),
                F.col("input_id"),
            )
            matched = (
                matched.withColumn("__edge_rn", F.row_number().over(w_edge))
                .where(F.col("__edge_rn") == 1)
                .drop("__edge_rn")
            )

        if persist_answers:
            # reused by cutoff check, hydration, and grouping
            matched = matched.persist()

        # F5: answer-size guard (plover.py:2051-2058) — hard 403, no
        # truncation. limit(cutoff+1) bounds the work of the check.
        # Any failure here (including job-group cancellation from the 45s
        # timeout) must unpersist, or the cached answers leak for the
        # session's lifetime.
        if enforce_cutoff:
            try:
                self.enforce_answer_cutoff(matched)
            except BaseException:
                if persist_answers:
                    matched.unpersist()
                raise
        return compiled, matched

    def enforce_answer_cutoff(self, answers: DataFrame) -> None:
        """F5 (plover.py:2051-2058): 403 when the answer exceeds the
        cutoff; limit(cutoff+1) bounds the check's work."""
        if self.answer_cutoff is not None:
            self.check_answer_size(answers.limit(self.answer_cutoff + 1).count())

    def check_answer_size(self, n_edges: int) -> None:
        """F5 for an answer of ``n_edges`` edges."""
        if self.answer_cutoff is not None and n_edges > self.answer_cutoff:
            raise QueryError(
                403,
                f"Answer is too large: more than {self.answer_cutoff} edges "
                "match. Please refine your query.",
            )

    # ------------------------------------------------------------------
    # validation / dispatch
    # ------------------------------------------------------------------

    @staticmethod
    def normalize_envelope(query: dict) -> dict:
        """plover.py:1792-1794: accept bare QGs or full TRAPI messages."""
        if "message" in query:
            return query["message"]["query_graph"]
        if "query_graph" in query:
            return query["query_graph"]
        return query

    def validate(self, qg: dict) -> None:
        """F7 shape guards (plover.py:1809-1832)."""
        edges = qg.get("edges", {})
        if len(edges) > 1:
            raise QueryError(
                400,
                f"Bad Request. Only single-edge queries are supported; your "
                f"query graph has {len(edges)} edges.",
            )
        for qedge in edges.values():
            for qc in qedge.get("qualifier_constraints", []):
                for q in qc.get("qualifier_set", []):
                    if q["qualifier_type_id"] not in SUPPORTED_QUALIFIERS:
                        raise QueryError(
                            403,
                            f"Unsupported qualifier: {q['qualifier_type_id']}.",
                        )

    def compile_single_node(
        self, qg: dict
    ) -> tuple[str, list[str], list[tuple[str, str]] | None]:
        """The driver-only half of an edgeless query: (qnode key,
        canonical ids, their (query_id, node_id) subclass pairs or None
        when the closure is over the driver-map guard)."""
        qnodes = qg["nodes"]
        if len(qnodes) != 1:
            raise QueryError(
                400,
                f"Bad Request. Edgeless queries can only involve a single "
                f"query node. Your QG has {len(qnodes)} nodes.",
            )
        qnode_key = next(iter(qnodes))
        ids = _as_list(qnodes[qnode_key].get("ids") or qnodes[qnode_key].get("id"))
        if not ids:
            raise QueryError(
                400,
                "Bad Request. For qnode-only queries, the qnode must have "
                "'ids' specified.",
            )
        canon = list(dict.fromkeys(self.canonicalize_ids(ids).values()))
        return qnode_key, canon, self._expansion_pairs_local(canon)

    def single_node_lookup(self, qg: dict) -> tuple[str, DataFrame]:
        """R5 (plover.py:2778-2817): edgeless query -> id(+subclass) lookup."""
        qnode_key, canon, pairs = self.compile_single_node(qg)
        if pairs is not None and len(pairs) == 1:
            # single pinned id, no descendants: one equality-pruned scan
            qid, nid = pairs[0]
            found = self.kg.nodes.where(F.col("id") == F.lit(nid)).select(
                F.lit(qid).alias("query_id"), F.col("id").alias("node_id")
            )
            return qnode_key, found
        if pairs is not None:
            expanded = self._tiny_df(pairs, "query_id string, node_id string")
            nodes = self.kg.nodes
            if self.kg.pruned_id_scans:
                nodes = pushdown_id_filter(
                    nodes, "id", [n for _, n in pairs]
                )
        else:
            expanded = self.expand_with_subclasses(qnode_key, canon)
            nodes = self.kg.nodes
        found = expanded.join(
            nodes.select(F.col("id").alias("node_id")), on="node_id"
        )
        return qnode_key, found

"""Driver-resident index: pinned one-hop and node lookups with no Spark job.

The reference answers one-hop queries from in-process maps
(plover.py:692-695).  Below the ``driver_map_max_rows`` guard the engine
does the same, from Arrow tables that never become per-row Python
objects: the synonym and subclass-closure lookups (sorted, searched by
bisection), and the graph — the node table (a node's *code* is its row),
a CSR adjacency over both traversal directions of every edge, category
and predicate codes, and the edge payload: the forward half of
``edges_bidir``, so an answer row rebuilt here has the keys, values and
Arrow types of the row the Spark probe returns.

The driver's peak memory is set while the index is built, so the build
collects no sorted table (a global sort before a collect multiplies that
peak; sorts run on the driver, in Arrow), ships repeating strings as
dictionary codes, and keeps no collected batch.
"""

from __future__ import annotations

import ctypes
import functools
import threading
from bisect import bisect_left, bisect_right
from dataclasses import dataclass, fields

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ploverdb_spark.build.ingest import DIR_FORWARD, DIR_REVERSE

# edges_bidir columns that depend on the traversal direction; an answer
# row rebuilds them from the adjacency
_TRAVERSAL_COLS = ("neighbor_id", "node_id", "direction", "neighbor_categories")
# string payload columns with at most this many distinct values travel
# from the executors as int8/int16 dictionary codes
DICTIONARY_MAX = 4096


def _py(scalar):
    return scalar.as_py()


class SortedLookup:
    """Two Arrow columns sorted on the key: key -> values by bisection."""

    def __init__(self, tbl: pa.Table, key: str, value: str) -> None:
        tbl = tbl.filter(pc.and_(pc.is_valid(tbl[key]), pc.is_valid(tbl[value])))
        tbl = tbl.sort_by([(key, "ascending"), (value, "ascending")])
        self.keys, self.values = tbl[key].combine_chunks(), tbl[value].combine_chunks()

    def get(self, key: str) -> list:
        lo = bisect_left(self.keys, key, key=_py)
        hi = bisect_right(self.keys, key, lo=lo, key=_py)
        return self.values.slice(lo, hi - lo).to_pylist()


def _codes(col, dictionary_size: int) -> np.ndarray:
    """Dictionary indices; a null maps to ``dictionary_size``, a slot no
    predicate or category set contains."""
    return pc.fill_null(col.indices, dictionary_size).to_numpy()


def _ranges(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, e)`` for every (s, e) pair."""
    lens = ends - starts
    shift = np.repeat(starts - np.cumsum(lens) + lens, lens)
    return shift + np.arange(int(lens.sum()))


def _member(values: list, wanted) -> np.ndarray:
    return np.array([v in wanted for v in values], dtype=bool)


@dataclass
class Match:
    """One answer: per row the edge row, input and output node codes,
    direction, and the query ids it binds."""

    rows: np.ndarray
    inp: np.ndarray
    out: np.ndarray
    dirs: np.ndarray
    in_qids: list
    out_qids: list

    def __len__(self) -> int:
        return len(self.rows)

    def __getitem__(self, s: slice) -> "Match":
        return Match(*(getattr(self, f.name)[s] for f in fields(self)))


class GraphIndex:
    """Node table, CSR adjacency, codes and edge payload of a KG (see the
    module docstring).  An edge endpoint missing from the node table gets
    a code past the last row."""

    def __init__(self, nodes: DataFrame, edges_bidir: DataFrame) -> None:
        self.nodes = nodes.toArrow()
        table_ids = self.nodes["id"].combine_chunks()
        n = self.n_table_nodes = len(table_ids)
        fwd = edges_bidir.where(F.col("direction") == DIR_FORWARD).drop(
            "direction", "neighbor_categories"
        )
        strings = [c for c, t in fwd.dtypes if t == "string" and c not in _TRAVERSAL_COLS]
        vocab: dict[str, list] = {}
        if strings:  # one aggregate job: each string column's dictionary
            sets = fwd.agg(
                *[F.slice(F.array_sort(F.collect_set(c)), 1, DICTIONARY_MAX + 1) for c in strings]
            ).collect()[0]
            vocab = {c: v for c, v in zip(strings, sets) if len(v) <= DICTIONARY_MAX}
        edges = fwd.select(
            *[
                (F.array_position(F.lit(vocab[c]).cast("array<string>"), F.col(c)) - 1)
                .cast("byte" if len(vocab[c]) < 128 else "short")
                .alias(c)
                if c in vocab
                else c
                for c in fwd.columns
            ]
        ).toArrow()
        src = pc.index_in(edges["node_id"], value_set=table_ids)
        dst = pc.index_in(edges["neighbor_id"], value_set=table_ids)
        missing = pa.array([], table_ids.type)  # endpoints without a node
        if src.null_count or dst.null_count:
            missing = pc.unique(
                pa.chunked_array(
                    pc.filter(edges["node_id"], pc.is_null(src)).chunks
                    + pc.filter(edges["neighbor_id"], pc.is_null(dst)).chunks,
                    type=table_ids.type,
                )
            )
            src = pc.coalesce(src, pc.add(pc.index_in(edges["node_id"], value_set=missing), n))
            dst = pc.coalesce(dst, pc.add(pc.index_in(edges["neighbor_id"], value_set=missing), n))
        src = src.combine_chunks().to_numpy().astype(np.int32)
        dst = dst.combine_chunks().to_numpy().astype(np.int32)
        # the kept columns move out of the collected batches: a batch is
        # one buffer per Arrow IPC message, which would keep the endpoint
        # strings alive
        columns = {}
        for c in edges.column_names:
            if c not in _TRAVERSAL_COLS:
                columns[c] = pa.concat_arrays(edges[c].chunks)
                if c in vocab:
                    columns[c] = pa.DictionaryArray.from_arrays(
                        columns[c], pa.array(vocab[c], pa.string())
                    )
        del edges, table_ids
        self.edges = pa.table(columns)
        # a dictionary column's values, None last, indexed by its codes:
        # take() + to_pylist() on a DictionaryArray costs ~4 us a row
        self._decoded = {
            c: np.array([*vocab[c], None], dtype=object) for c in vocab
        }
        # code -> id, and the ids sorted for bisection
        self.node_ids = pa.chunked_array(self.nodes["id"].chunks + [missing])
        order = pc.sort_indices(self.node_ids)
        self.sorted_ids = self.node_ids.take(order).combine_chunks()
        self.sorted_codes = order.to_numpy().astype(np.int32)

        # CSR: entry k < n_edges is the forward traversal of edge row k,
        # entry n_edges + k its reverse (a self-loop appears in both)
        n_edges = len(src)
        both = np.concatenate([src, dst])
        order = np.argsort(both, kind="stable")
        self.nbr = np.concatenate([dst, src])[order]
        self.row = (order % max(n_edges, 1)).astype(np.int32)
        self.dirn = np.where(order < n_edges, DIR_FORWARD, DIR_REVERSE).astype(np.int8)
        self.offsets = np.zeros(len(self.node_ids) + 1, dtype=np.int64)
        np.cumsum(np.bincount(both, minlength=len(self.node_ids)), out=self.offsets[1:])

        # per node-table row category codes, as a CSR of their own
        cats = self.nodes["categories"].combine_chunks()
        self.cat_offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(pc.fill_null(pc.list_value_length(cats), 0).to_numpy(), out=self.cat_offsets[1:])
        enc = pc.dictionary_encode(cats.flatten())
        self.cat_vocab = enc.dictionary.to_pylist()
        self.cat_codes = _codes(enc, len(self.cat_vocab))

        # predicate match codes: the payload's dictionary indices
        self.vocab: dict[str, list] = {}
        self.codes: dict[str, np.ndarray] = {}
        for c in ("predicate", "conglomerate_predicate"):
            enc = self.edges[c].chunk(0)
            if not pa.types.is_dictionary(enc.type):
                enc = pc.dictionary_encode(enc)
            self.vocab[c] = enc.dictionary.to_pylist()
            self.codes[c] = _codes(enc, len(self.vocab[c]))
        # give the build's transient memory back: the Arrow pool's, and
        # the freed collect buffers in the C heap (glibc only)
        pa.default_memory_pool().release_unused()
        try:
            ctypes.CDLL(None).malloc_trim(0)
        except (AttributeError, OSError):
            pass

    def kg_vocab(self) -> dict:
        """The KG vocabulary ``TrapiEngine._get_kg_vocab`` otherwise scans
        ``edges_bidir`` for: the predicate and conglomerate-predicate
        dictionaries with their null flags, and the categories of every
        edge endpoint with the smallest category count (-1 when an
        endpoint has no node, or a null list)."""
        vocab: dict = {}
        for c in ("predicate", "conglomerate_predicate"):
            vocab[c] = frozenset(self.vocab[c])
            vocab[f"{c}_has_null"] = bool((self.codes[c] == len(self.vocab[c])).any())
        ends = np.unique(self.nbr)
        present = ends[ends < self.n_table_nodes]
        codes = self.cat_codes[_ranges(self.cat_offsets[present], self.cat_offsets[present + 1])]
        vocab["categories"] = frozenset((self.cat_vocab + [None])[c] for c in np.unique(codes))
        sizes = pc.list_value_length(self.nodes["categories"].combine_chunks())
        sizes = pc.fill_null(sizes, -1).to_numpy()[present]
        if len(present) < len(ends):
            sizes = np.append(sizes, -1)
        vocab["min_cat_size"] = int(sizes.min()) if len(sizes) else -1
        return vocab

    def qualifier_combos(self) -> list[tuple]:
        """The distinct (predicate, qualified_predicate, direction,
        aspect, conglomerate_predicate) of the edges with a qualifier,
        found on dictionary codes (Arrow's group_by would load its query
        engine into the driver: +5 MB RSS)."""
        quals = ["qualified_predicate", "object_direction_qualifier", "object_aspect_qualifier"]
        t = self.edges.select(["predicate", *quals, "conglomerate_predicate"])
        t = t.filter(functools.reduce(pc.or_, [pc.is_valid(t[c]) for c in quals]))
        cols = [col.combine_chunks() for col in t.columns]
        cols = [c if pa.types.is_dictionary(c.type) else pc.dictionary_encode(c) for c in cols]
        codes = np.stack([_codes(c, len(c.dictionary)) for c in cols], axis=1)
        values = [c.dictionary.to_pylist() + [None] for c in cols]
        return [tuple(v[c] for v, c in zip(values, row)) for row in np.unique(codes, axis=0)]

    def code(self, node_id: str) -> int | None:
        i = bisect_left(self.sorted_ids, node_id, key=_py)
        if i < len(self.sorted_ids) and self.sorted_ids[i].as_py() == node_id:
            return int(self.sorted_codes[i])
        return None

    def has_node(self, node_id: str) -> bool:
        c = self.code(node_id)
        return c is not None and c < self.n_table_nodes

    def _has_category(self, nbrs: np.ndarray, categories) -> np.ndarray:
        """Per neighbour: does its node carry one of ``categories``?  One
        missing from the node table carries none."""
        wanted = _member(self.cat_vocab + [None], set(categories))
        present = nbrs < self.n_table_nodes
        r = np.where(present, nbrs, 0)
        starts = np.where(present, self.cat_offsets[r], 0)
        ends = np.where(present, self.cat_offsets[r + 1], 0)
        hits = np.concatenate([[0], np.cumsum(wanted[self.cat_codes[_ranges(starts, ends)]])])
        bounds = np.concatenate([[0], np.cumsum(ends - starts)])
        return hits[bounds[1:]] > hits[bounds[:-1]]

    def match(self, compiled) -> Match:
        """The answer of a compiled one-hop query (``CompiledQEdge`` with
        driver-side id pairs): exactly the rows the Spark lookup returns."""
        pinned = [(q, c) for q, nid in compiled.input_pairs if (c := self.code(nid)) is not None]
        in_codes = np.array([c for _, c in pinned], dtype=np.int64)
        starts, ends = self.offsets[in_codes], self.offsets[in_codes + 1]
        pos = _ranges(starts, ends)
        which = np.repeat(np.arange(len(in_codes)), ends - starts)
        rows, nbrs, dirs = self.row[pos], self.nbr[pos], self.dirn[pos]

        # predicates: a vocab-covering set is no filter; an empty one
        # (no matching conglomerate predicate in the KG) matches nothing
        bidirectional, directed = compiled.bidirectional_predicates, compiled.directed_predicates
        keep = np.full(len(pos), bool(bidirectional or directed))
        if keep.any() and not compiled.skip_predicate_filter:
            col = "conglomerate_predicate" if compiled.use_conglomerate else "predicate"
            vocab, p = self.vocab[col] + [None], self.codes[col][rows]
            keep = _member(vocab, bidirectional)[p] | (
                _member(vocab, directed)[p] & (dirs == compiled.required_direction)
            )
        out_of: dict[int, str] = {}
        if compiled.output_ids:
            for qid, nid in compiled.output_pairs:
                if (c := self.code(nid)) is not None:
                    out_of[c] = qid
            keep &= np.isin(nbrs, list(out_of))
        elif not compiled.skip_category_filter:
            keep &= self._has_category(nbrs, compiled.categories)
        keep = np.flatnonzero(keep)
        if compiled.output_ids and bidirectional:
            keep = self._one_row_per_edge(keep, rows, dirs, in_codes[which])
        return Match(
            rows[keep],
            in_codes[which[keep]],
            nbrs[keep],
            dirs[keep],
            [pinned[i][0] for i in which[keep]],
            [out_of.get(int(c)) for c in nbrs[keep]],
        )

    def _one_row_per_edge(self, keep, rows, dirs, inp) -> np.ndarray:
        """A symmetric edge with both endpoints pinned matches in both
        directions; keep one row per edge id: the forward one, else the
        smallest input id (the Spark lookup's window)."""
        ids = self.edges["id"].take(pa.array(rows[keep])).to_pylist()
        inputs = self.node_ids.take(pa.array(inp[keep])).to_pylist()
        best: dict = {}
        for k, eid, d, i in zip(keep, ids, dirs[keep], inputs):
            if eid not in best or (d != DIR_FORWARD, i) < best[eid][0]:
                best[eid] = ((d != DIR_FORWARD, i), k)
        return np.array(sorted(k for _, k in best.values()), dtype=np.int64)

    def columns(self, m: Match) -> dict[str, list]:
        """The answer rows column by column, keyed like the Spark probe's
        rows: traversal columns, the edge payload in table order,
        neighbour categories and the bound query ids."""
        cols = {"output_id": self.ids(m.out), "input_id": self.ids(m.inp)}
        cols["direction"] = m.dirs.tolist()
        rows = pa.array(m.rows)
        for c in self.edges.column_names:
            col, values = self.edges[c].chunk(0).take(rows), self._decoded.get(c)
            cols[c] = (
                col.to_pylist() if values is None else values[_codes(col, len(values) - 1)].tolist()
            )
        missing = m.out >= self.n_table_nodes
        cols["neighbor_categories"] = (
            self.nodes["categories"].take(pa.array(m.out, mask=missing)).to_pylist()
        )
        cols["input_query_id"], cols["output_query_id"] = m.in_qids, m.out_qids
        return cols

    def ids(self, codes: np.ndarray) -> list:
        return self.node_ids.take(pa.array(codes)).to_pylist()

    def endpoints(self, m: Match) -> np.ndarray:
        """The node codes of an answer's endpoints that have a node row."""
        codes = np.unique(np.concatenate([m.inp, m.out]))
        return codes[codes < self.n_table_nodes]

    def rows_at(self, codes) -> list[dict]:
        """The node-table rows of node codes."""
        return self.nodes.take(pa.array(codes, pa.int64())).to_pylist()

    def node_rows(self, node_ids) -> list[dict]:
        """Node-table rows of ``node_ids``; ids without a node are skipped."""
        rows = [c for c in map(self.code, node_ids) if c is not None and c < self.n_table_nodes]
        return self.rows_at(rows)

    def stats(self) -> dict:
        arrays = (
            self.node_ids, self.sorted_ids, self.sorted_codes, self.nbr, self.row,
            self.dirn, self.offsets, self.cat_offsets, self.cat_codes,
            *self.codes.values(), self.edges, self.nodes,
        )
        return {
            "resident_bytes": int(sum(a.nbytes for a in arrays)),
            "edges": self.edges.num_rows,
            "nodes": self.nodes.num_rows,
        }


class DriverIndex:
    """The engine's driver-resident parts, each built once under one lock
    and only when its tables fit ``max_rows`` (else None, and its queries
    take the Spark path): the synonym and closure lookups, used by every
    query compile, and the graph, which answers queries."""

    def __init__(self, kg, max_rows: int) -> None:
        self._kg, self._max_rows = kg, max_rows
        self._lock = threading.Lock()
        self._parts: dict[str, object] = {}

    def _part(self, name: str, *tables: DataFrame):
        if name not in self._parts:
            with self._lock:
                if name not in self._parts:
                    fits = all(
                        t.limit(self._max_rows + 1).count() <= self._max_rows
                        for t in tables
                    )
                    self._parts[name] = self._build(name) if fits else None
        return self._parts[name]

    def _build(self, name: str):
        kg = self._kg
        if name == "graph":
            return GraphIndex(kg.nodes, kg.edges_bidir)
        df, key, value = {
            "synonyms": (kg.id_synonyms, "alias_id", "preferred_id"),
            "closure": (kg.subclass_closure, "ancestor", "descendant"),
        }[name]
        return SortedLookup(df.select(key, value).toArrow(), key, value)

    def synonyms(self) -> SortedLookup | None:
        return self._part("synonyms", self._kg.id_synonyms)

    def closure(self) -> SortedLookup | None:
        return self._part("closure", self._kg.subclass_closure)

    def graph(self, build: bool = True) -> GraphIndex | None:
        if not build:
            return self._parts.get("graph")
        return self._part("graph", self._kg.nodes, self._kg.edges)

    def build(self) -> None:
        self.synonyms(), self.closure(), self.graph()

    def ready(self) -> GraphIndex | None:
        """The graph when every part is built and under the guard (a query
        then compiles and answers with no Spark job); never builds."""
        parts = [self._parts.get(p) for p in ("synonyms", "closure", "graph")]
        return parts[2] if all(p is not None for p in parts) else None

    def stats(self) -> dict | None:
        graph = self._parts.get("graph")
        return graph.stats() if graph is not None else None

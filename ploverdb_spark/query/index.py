"""Driver-resident index: pinned one-hop and node lookups with no Spark job.

The reference answers one-hop queries from in-process maps
(plover.py:692-695).  Below the ``driver_map_max_rows`` guard the engine
does the same, from Arrow tables that never become per-row Python
objects: the synonym and subclass-closure lookups and the node ids, each
found by a hash searched with numpy (StringIndex), and the graph — the
node table (a node's *code* is its row), a CSR adjacency over both
traversal directions of every edge, category codes, and the edge payload:
the forward half of ``edges_bidir``, so an answer row rebuilt here has
the keys, values and Arrow types of the row the Spark probe returns.  A
string payload column with a small dictionary is held as one numpy array
of codes, so an answer gathers it with numpy; the other payload columns
stay one Arrow table, taken once per answer.

The driver's peak memory is set while the index is built, so the build
collects no sorted table (a global sort before a collect multiplies that
peak; sorts run on the driver, in Arrow), ships repeating strings as
dictionary codes, and keeps no collected batch.
"""

from __future__ import annotations

import ctypes
import threading
from dataclasses import dataclass, fields
from typing import NamedTuple

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
# payload columns queries match on (GraphIndex.match, qualifier_combos):
# always held as codes, whatever their dictionary size
_MATCHED_COLS = (
    "predicate", "qualified_predicate", "object_direction_qualifier",
    "object_aspect_qualifier", "conglomerate_predicate",
)


def _str_hashes(arr: pa.Array) -> np.ndarray:
    """hash() of every string of ``arr``, 64k at a time: the Python strings
    are transient."""
    chunks = (pylist(arr.slice(i, 1 << 16)) for i in range(0, len(arr), 1 << 16))
    return np.fromiter((hash(s) for chunk in chunks for s in chunk), np.int64, len(arr))


class StringIndex:
    """Strings of an Arrow string array -> their positions: numpy
    searchsorted over their sorted hashes, then one string compare; no
    Arrow scalar per probe, and 12 bytes a row, no per-row Python object."""

    def __init__(self, strings: pa.Array) -> None:
        self.strings = strings
        hashes = _str_hashes(strings)
        order = np.argsort(hashes, kind="stable")
        self.hashes, self.positions = hashes[order], order.astype(np.int32)

    def find(self, s: str) -> int | None:
        """The first position of ``s``, or None."""
        h = hash(s)
        i = int(self.hashes.searchsorted(h))
        while i < len(self.hashes) and self.hashes[i] == h:
            p = int(self.positions[i])
            if self.strings[p].as_py() == s:
                return p
            i += 1
        return None


class SortedLookup:
    """Two Arrow columns sorted on the key: key -> its values, sorted."""

    def __init__(self, tbl: pa.Table, key: str, value: str) -> None:
        tbl = tbl.filter(pc.and_(pc.is_valid(tbl[key]), pc.is_valid(tbl[value])))
        tbl = tbl.sort_by([(key, "ascending"), (value, "ascending")])
        keys, self.values = tbl[key].combine_chunks(), tbl[value].combine_chunks()
        # the distinct keys, sorted, and where each one's rows start
        enc = keys.dictionary_encode()
        self.keys = StringIndex(enc.dictionary)
        self.bounds = np.searchsorted(enc.indices.to_numpy(), np.arange(len(enc.dictionary) + 1))

    def get(self, key: str) -> list:
        k = self.keys.find(key)
        if k is None:
            return []
        lo, hi = self.bounds[k], self.bounds[k + 1]
        return self.values.slice(lo, hi - lo).to_pylist()


def _ranges(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, e)`` for every (s, e) pair."""
    lens = ends - starts
    shift = np.repeat(starts - np.cumsum(lens) + lens, lens)
    return shift + np.arange(int(lens.sum()))


def pylist(arr) -> list:
    """An Arrow array's values.  Strings, and lists of strings, go through
    numpy: ~10x faster than ``to_pylist``."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    t = arr.type
    if pa.types.is_string(t):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_list(t) and pa.types.is_string(t.value_type):
        ends = arr.offsets.to_numpy()
        values = pylist(arr.values.slice(ends[0], ends[-1] - ends[0]))
        ends = (ends - ends[0]).tolist()
        lists = [values[a:b] for a, b in zip(ends, ends[1:])]
        if arr.null_count:  # the validity bitmap, unpacked
            lo = arr.offset
            bits = np.frombuffer(arr.buffers()[0], np.uint8)[lo // 8 : (lo + len(arr) + 7) // 8]
            valid = np.unpackbits(bits, bitorder="little")[lo % 8 : lo % 8 + len(arr)].tolist()
            lists = [v if ok else None for v, ok in zip(lists, valid)]
        return lists
    return arr.to_pylist()


def _member(values: list, wanted) -> np.ndarray:
    return np.array([v in wanted for v in values], dtype=bool)


class Coded(NamedTuple):
    """A dictionary column of answer rows: per row a code into ``values``
    (the dictionary, None last)."""

    codes: np.ndarray
    values: np.ndarray


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
        # one chunk per column: a take from a chunked column concatenates
        # its chunks first, on every answer
        self.nodes = nodes.toArrow().combine_chunks()
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
        # the payload columns in table order; each moves out of the
        # collected batches (a batch is one buffer per Arrow IPC message,
        # which would keep the endpoint strings alive).  A dictionary
        # column, and the predicate columns queries match on, become numpy
        # codes, a null the code past the dictionary; the rest one table
        self.payload = [c for c in edges.column_names if c not in _TRAVERSAL_COLS]
        self.vocab: dict[str, list] = {}
        self.codes: dict[str, np.ndarray] = {}
        plain = {}
        for c in self.payload:
            col = pa.concat_arrays(edges[c].chunks)
            if c in _MATCHED_COLS and c not in vocab:
                enc = pc.dictionary_encode(col)
                col, vocab[c] = enc.indices, enc.dictionary.to_pylist()
            if c in vocab:
                self.vocab[c] = vocab[c]
                self.codes[c] = pc.fill_null(col, len(vocab[c])).to_numpy()
            else:
                plain[c] = col
        del edges, table_ids
        self.edges = pa.table(plain)
        # a coded column's values, None last, indexed by its codes
        self._decoded = {c: np.array([*v, None], dtype=object) for c, v in self.vocab.items()}
        # code -> id, and id -> code
        self.node_ids = pa.concat_arrays([self.nodes["id"].combine_chunks(), missing])
        self._codes_of = StringIndex(self.node_ids)

        # CSR: entry k < n_edges is the forward traversal of edge row k,
        # entry n_edges + k its reverse (a self-loop appears in both)
        n_edges = self.n_edges = len(src)
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
        self.cat_codes = pc.fill_null(enc.indices, len(self.cat_vocab)).to_numpy()
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
        qualified = np.logical_or.reduce([self.codes[c] < len(self.vocab[c]) for c in quals])
        rows = np.stack([self.codes[c][qualified] for c in _MATCHED_COLS], axis=1)
        values = [self._decoded[c] for c in _MATCHED_COLS]
        return [tuple(v[c] for v, c in zip(values, row)) for row in np.unique(rows, axis=0)]

    def code(self, node_id: str) -> int | None:
        return self._codes_of.find(node_id)

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
            vocab, p = self._decoded[col], self.codes[col][rows]
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
        rows = rows[keep]
        ids = (self._decoded["id"][self.codes["id"][rows]].tolist() if "id" in self.codes
               else self.edges["id"].take(pa.array(rows)).to_pylist())
        inputs = self.node_ids.take(pa.array(inp[keep])).to_pylist()
        best: dict = {}
        for k, eid, d, i in zip(keep, ids, dirs[keep], inputs):
            if eid not in best or (d != DIR_FORWARD, i) < best[eid][0]:
                best[eid] = ((d != DIR_FORWARD, i), k)
        return np.array(sorted(k for _, k in best.values()), dtype=np.int64)

    def columns(self, m: Match, skip=frozenset()) -> dict:
        """The answer rows column by column, keyed like the Spark probe's
        rows: traversal columns, the edge payload in table order but the
        columns in ``skip`` (a coded column as Coded, a plain one as an
        Arrow column of one table take) and the bound query ids."""
        ids = self.ids(np.concatenate([m.out, m.inp]))
        cols = {"output_id": ids[: len(m)], "input_id": ids[len(m) :]}
        cols["direction"] = m.dirs.tolist()
        plain = self.edges.take(pa.array(m.rows)) if self.edges.num_columns else None
        for c in self.payload:
            if c not in skip:
                cols[c] = Coded(self.codes[c][m.rows], self._decoded[c]) if c in self.codes else plain[c]
        cols["input_query_id"], cols["output_query_id"] = m.in_qids, m.out_qids
        return cols

    def ids(self, codes: np.ndarray) -> list:
        return pylist(self.node_ids.take(pa.array(codes)))

    def endpoints(self, m: Match) -> np.ndarray:
        """The node codes of an answer's endpoints that have a node row."""
        codes = np.unique(np.concatenate([m.inp, m.out]))
        return codes[codes < self.n_table_nodes]

    def node_columns(self, codes) -> dict:
        """The node-table rows of node codes, as Arrow columns."""
        tbl = self.nodes.take(pa.array(codes, pa.int64()))
        return dict(zip(tbl.column_names, tbl.columns))

    def node_codes(self, node_ids) -> list[int]:
        """The node codes of ``node_ids`` that have a node row."""
        return [c for c in map(self.code, node_ids) if c is not None and c < self.n_table_nodes]

    def stats(self) -> dict:
        arrays = (
            self.node_ids, self._codes_of.hashes, self._codes_of.positions, self.nbr,
            self.row, self.dirn, self.offsets, self.cat_offsets, self.cat_codes,
            *self.codes.values(), self.edges, self.nodes,
        )
        return {
            "resident_bytes": int(sum(a.nbytes for a in arrays)),
            "edges": self.n_edges,
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

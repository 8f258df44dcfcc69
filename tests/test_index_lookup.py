"""The driver index's string lookups against a dict built from the same
Arrow arrays, on the driver only (no Spark): ``StringIndex`` (node id ->
code, ``GraphIndex.code``) and ``SortedLookup`` (synonyms and subclass
closure), for random, empty, non-ASCII and shared-prefix strings, with the
real hash and with one so small that most strings collide; and ``pylist``
against ``to_pylist``."""

from __future__ import annotations

from unittest import mock

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from ploverdb_spark.query import index
from ploverdb_spark.query.index import SortedLookup, StringIndex

strings = st.one_of(
    st.text(max_size=12),
    st.sampled_from(["", "a", "ab", "NCBIGene:1", "NCBIGene:10", "ü", "é:ü", "\x00", "a\x00"]),
    st.integers(0, 10**15).map(lambda i: f"NCBIGene:{i}"),
)
# None: the real hash; 7: nearly every probe meets colliding strings
moduli = st.sampled_from([None, 7])


def _patched(mod):
    weak = (lambda s: len(s or "") % mod) if mod else hash
    return mock.patch.object(index, "hash", weak, create=True)


@settings(max_examples=300, deadline=None)
@given(st.lists(strings, max_size=30), st.lists(strings, max_size=10), moduli,
       st.sampled_from([pa.string(), pa.large_string()]), st.integers(0, 3))
def test_string_index_finds_first_position(values, probes, mod, type_, offset):
    with _patched(mod):
        # a sliced array: its offsets start past the buffer's first one
        arr = pa.array(["pad"] * offset + values, type_).slice(offset)
        found = StringIndex(arr)
        first: dict = {}
        for i, v in enumerate(values):
            first.setdefault(v, i)
        for probe in [*values, *probes, ""]:
            assert found.find(probe) == first.get(probe)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.tuples(st.one_of(st.none(), strings), st.one_of(st.none(), strings)), max_size=30),
    st.lists(strings, max_size=10),
    moduli,
)
def test_sorted_lookup_gets_every_value_sorted(pairs, probes, mod):
    with _patched(mod):
        tbl = pa.table({"k": pa.array([k for k, _ in pairs], pa.string()),
                        "v": pa.array([v for _, v in pairs], pa.string())})
        lookup = SortedLookup(tbl, "k", "v")
        want: dict = {}
        for k, v in pairs:
            if k is not None and v is not None:
                want.setdefault(k, []).append(v)
        for probe in [*want, *probes, ""]:
            # keys with no value, one value or several; Arrow sorts by bytes
            assert lookup.get(probe) == sorted(want.get(probe, []), key=str.encode)


def test_str_hashes_in_slices():
    arr = pa.array([f"N:{i}" for i in range(70_000)] + ["", None, "ü"])
    assert index._str_hashes(arr).tolist() == list(map(hash, arr.to_pylist()))


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), strings, st.lists(st.one_of(st.none(), strings), max_size=4))),
       st.integers(0, 20), st.integers(0, 20))
def test_pylist_equals_to_pylist(values, start, stop):
    """pylist of a (sliced, chunked) string or list-of-string column, nulls
    read off the validity bitmap at any bit offset, equals to_pylist."""
    lists = [v if v is None or isinstance(v, list) else [v] for v in values]
    for arr in (pa.array([v if isinstance(v, str) else None for v in values], pa.string()),
                pa.array(lists, pa.list_(pa.string()))):
        sliced = arr.slice(min(start, len(arr)), stop)
        assert index.pylist(sliced) == sliced.to_pylist()
        assert index.pylist(pa.chunked_array([sliced, sliced], arr.type)) == 2 * sliced.to_pylist()

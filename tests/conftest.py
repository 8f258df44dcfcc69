from __future__ import annotations

import json

import pytest

from ploverdb_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def canonical_result(result: dict) -> str:
    """One TRAPI result with its binding lists in a fixed order (two
    answer paths group the same rows, but a binding list comes from a
    set)."""
    r = json.loads(json.dumps(result))
    for binds in r["node_bindings"].values():
        binds.sort(key=json.dumps)
    for a in r["analyses"]:
        for eb in a["edge_bindings"].values():
            eb.sort(key=json.dumps)
    return json.dumps(r, sort_keys=True)


def _unique_keys(pairs: list) -> dict:
    keys = [k for k, _ in pairs]
    assert len(set(keys)) == len(keys), f"duplicate JSON object keys: {keys}"
    return dict(pairs)


def wire(body):
    """``body`` as a client reads it: the HTTP frontend's JSON text of it,
    parsed; a key repeated in one JSON object fails.  An indexed answer's
    knowledge graph and results are JSON text already (response.Encoded)."""
    from ploverdb_spark.http_frontend import _json_pieces

    pieces: list[str] = []
    _json_pieces(body, pieces, depth=4)
    return json.loads("".join(pieces), object_pairs_hook=_unique_keys)


@pytest.fixture(scope="session")
def spark():
    # Low shuffle parallelism: test data is tiny and task-scheduling
    # overhead dominates otherwise. Scale configs live in get_spark.
    s = get_spark(
        "ploverdb_spark_tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s

"""Ground truth for the output checks, computed with DuckDB straight from
the generated KGX files — none of the engine's code is involved."""

from __future__ import annotations

import os


def incident_edge_ids(kgx_dir: str, node_ids: list[str]) -> dict[str, set[str]]:
    """node id -> ids of every edge with that node as subject or object.

    For a node outside the subclass forest and without predicate or
    category constraints, this is exactly a one-hop answer's edge set."""
    import duckdb

    if not node_ids:
        return {}
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE e AS SELECT id, subject, object FROM "
            "read_json_auto(?, format='newline_delimited')",
            [os.path.join(kgx_dir, "edges.jsonl")],
        )
        con.execute("CREATE TABLE pinned (n VARCHAR)")
        con.executemany("INSERT INTO pinned VALUES (?)", [[n] for n in node_ids])
        rows = con.execute(
            "SELECT p.n, list(e.id) FROM pinned p JOIN e "
            "ON e.subject = p.n OR e.object = p.n GROUP BY p.n"
        ).fetchall()
    finally:
        con.close()
    out = {n: set() for n in node_ids}
    out.update({n: set(ids) for n, ids in rows})
    return out


def expected_artifact_rows(kgx_dir: str) -> dict[str, int]:
    """Row count of each serving artifact table, from the KGX input alone:
    every node; every edge (the generator writes no orphan, duplicate or
    self-loop edge); every edge twice in the bidirectional index; one
    synonym per distinct equivalent id other than the node's own; and the
    subclass closure's (ancestor, descendant) pairs, self pairs left out."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE n AS SELECT id, equivalent_curies FROM "
            "read_json_auto(?, format='newline_delimited')",
            [os.path.join(kgx_dir, "nodes.jsonl")],
        )
        con.execute(
            "CREATE TABLE e AS SELECT subject, predicate, object FROM "
            "read_json_auto(?, format='newline_delimited')",
            [os.path.join(kgx_dir, "edges.jsonl")],
        )
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        n_edges = one("SELECT count(*) FROM e")
        return {
            "nodes": one("SELECT count(DISTINCT id) FROM n"),
            "edges": n_edges,
            "edges_bidir": 2 * n_edges,
            "id_synonyms": one(
                "SELECT count(DISTINCT a) FROM "
                "(SELECT id, unnest(equivalent_curies) AS a FROM n) WHERE a <> id"
            ),
            "subclass_closure": one(
                "WITH RECURSIVE sub AS (SELECT object AS anc, subject AS des FROM e "
                "WHERE predicate = 'biolink:subclass_of' AND subject <> object), "
                "clo(anc, des) AS (SELECT anc, des FROM sub UNION "
                "SELECT clo.anc, sub.des FROM clo JOIN sub ON sub.anc = clo.des) "
                "SELECT count(*) FROM clo WHERE anc <> des"
            ),
        }
    finally:
        con.close()


def artifact_rows(art_dir: str, tables: dict[str, str]) -> dict[str, int]:
    """Row count of each written artifact table, read with DuckDB from its
    Parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        return {
            name: con.execute(
                "SELECT count(*) FROM read_parquet(?)",
                [os.path.join(art_dir, table, "*.parquet")],
            ).fetchone()[0]
            for name, table in tables.items()
        }
    finally:
        con.close()

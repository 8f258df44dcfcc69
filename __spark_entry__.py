"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The actual query definitions live in ``ploverdb_spark.catalog`` (populated
by ``ploverdb_spark/queries/*.py``); this module stays a thin adapter.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))


def least_recently_measured_first(names, artifact_dir: str = _HERE) -> list[str]:
    """``names`` ordered by the latest round whose ``CORRECTNESS_r{N}.json``
    in ``artifact_dir`` has a row for them, oldest first (no row counts as
    round 0).  The driver records only a prefix of the catalog each round,
    so this order rotates every entry through it; the sort is stable, and
    with no artifacts the order is ``names``' own."""
    last_round: dict[str, int] = {}
    for path in glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            with open(path, encoding="utf-8") as f:
                for name in json.load(f):
                    last_round[name] = max(last_round.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: last_round.get(n, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ploverdb_spark.catalog import get

    return get("a1_pricing_summary").fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, least recently
    measured first."""
    from ploverdb_spark.catalog import all_queries

    qs = all_queries()
    return {name: qs[name] for name in least_recently_measured_first(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, keyed and ordered like
    ``queries()``.

    Queries without an entry here (non-SQL-expressible ops) get the
    driver's weaker rows-only check.
    """
    from ploverdb_spark.catalog import all_oracles

    sql = all_oracles()
    return {name: sql[name] for name in least_recently_measured_first(sql)}

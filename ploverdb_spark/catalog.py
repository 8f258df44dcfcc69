"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent ANSI-SQL string that DuckDB runs on the same parquet tables.  The
driver compares the two (row count + schema + order-insensitive value hash),
so every computed column is aliased identically on both sides.

Determinism rules for oracle-matched queries:
- money/measure sums go through DECIMAL casts (exact, order-independent)
  and are cast back to DOUBLE only at the end;
- raw-double aggregation uses only order-independent exact ops
  (count/min/max);
- top-k queries always carry a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query under ``name`` with optional oracle SQL."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-provided parquet tables.

    ``events.ts`` is normalized to session-local TimestampType no matter
    how the file's physical type reads back:

    - TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ, on which
      numeric casts are illegal (Spark 4 ANSI); cast to TimestampType —
      with ``spark.sql.session.timeZone=UTC`` pinned (session.py) the
      instant is unchanged and ``cast(ts as long)`` equals DuckDB's
      ``floor(epoch(ts))`` on the same file.
    - TIMESTAMP(NANOS) under ``legacy.parquet.nanosAsLong`` surfaces as
      bigint nanos; integer-divide to micros (double division would round
      differently than DuckDB's truncation for ~1e18 nanos).
    """
    from ploverdb_spark.operators.common import ensure_worker_imports

    ensure_worker_imports(spark)
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Every oracle SQL string, keyed like ``all_queries()``."""
    _ensure_loaded()
    return {
        name: spec.oracle
        for name, spec in _REGISTRY.items()
        if spec.oracle is not None
    }


def get(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for their registration side effects, in registration
    # order; a module that fails to import fails here instead of
    # shrinking the catalog.
    from ploverdb_spark.queries import (  # noqa: F401
        relational,
        graph,
        pipeline,
        semantics,
        windows,
        media,
        curation,
    )

    _LOADED = True

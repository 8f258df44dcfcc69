"""Serving process for one benchmark run.

Sets the program up from prepared artifacts, serves it over HTTP on a free
localhost port, then obeys commands on stdin:

- ``trace on`` / ``trace off`` switch the outside-in wrappers (only
  installed with ``--trace 1``);
- ``stop`` shuts the server down, writes the result file and exits.

Set-up is table registration, ``KnowledgeGraph.persist`` and
``TrapiEngine.warmup``; ``READY`` reports how long each took.

    python3 perfbench/serve.py --art ART_DIR --out RESULT.json [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from common import (
    BUCKETS,
    TABLE_KEYS,
    TABLE_PREFIX,
    peak_rss_mb,
    spark_session,
)


def register_tables(spark, art_dir: str, ddl: dict) -> None:
    """Re-register the bucketed artifact tables in this session's catalog
    (bucket metadata lives in the catalog of the session that wrote it;
    ``ddl`` holds each table's columns as the preparation step wrote them)."""
    for name, key in TABLE_KEYS.items():
        table = f"{TABLE_PREFIX}_{name}"
        path = f"{art_dir}/{table}"
        clause = (
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {BUCKETS} BUCKETS"
            if key
            else ""
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(
            f"CREATE TABLE {table} ({ddl[name]}) USING parquet {clause} "
            f"LOCATION '{path}'"
        )


def cache_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / (1024.0 * 1024.0)


def set_up(spark, art_dir: str) -> tuple:
    from ploverdb_spark.build.ingest import read_artifacts_bucketed
    from ploverdb_spark.query.compiler import TrapiEngine
    from ploverdb_spark.session import apply_serving_conf

    apply_serving_conf(spark)
    with open(f"{art_dir}/_READY.json", encoding="utf-8") as f:
        ddl = json.load(f)["ddl"]
    t0 = time.perf_counter()
    register_tables(spark, art_dir, ddl)
    kg = read_artifacts_bucketed(spark, prefix=TABLE_PREFIX)
    engine = TrapiEngine(kg, kp_infores_curie="infores:perfbench")
    t1 = time.perf_counter()
    kg.persist(materialize=True, parallel=True)
    t2 = time.perf_counter()
    engine.warmup(parallel=True)
    t3 = time.perf_counter()
    return engine, {"load_s": t1 - t0, "cache_s": t2 - t1, "driver_maps_s": t3 - t2}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--art", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    spark = spark_session("perfbench-serve")
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()

    from ploverdb_spark import http_frontend
    from ploverdb_spark.api import KpRegistry

    engine, timings = set_up(spark, args.art)
    registry = KpRegistry()
    registry.register("perfbench", engine)
    server = http_frontend.serve(registry, host="127.0.0.1", port=0)
    ready = {
        "port": server.server_address[1],
        "setup": timings,
        "cache_mb": cache_mb(spark),
    }
    print("READY " + json.dumps(ready), flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stop":
            break
        if tracer is not None and cmd in ("trace on", "trace off"):
            tracer.enabled = cmd == "trace on"
        print("OK " + cmd, flush=True)

    server.shutdown()
    server.server_close()
    result = {"rss_mb": peak_rss_mb()}
    if tracer is not None:
        tracer.enabled = False
        result["ops"] = {str(k): v for k, v in tracer.per_op().items()}
        result["spark_ops"] = {
            str(k): v for k, v in tracer.spark_per_op().items()
        }
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    # no spark.stop(): the JVM exits with this process (its stdin closes)
    # and the client kills the process group anyway; a clean stop only
    # adds seconds to every run
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()

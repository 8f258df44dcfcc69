"""Build process: turns generated KGX files into serving artifacts on
command, the way the program's offline build does.

One build is ``read_kgx_auto`` -> ``build_knowledge_graph`` (which runs the
iterative ``transitive_closure``) -> ``write_artifacts_bucketed`` ->
``build_meta_kg``.  After ``READY`` the process obeys commands on stdin:

- ``build OP KGX_DIR ART_DIR PREFIX`` runs one build and answers
  ``DONE {...}`` with its wall time, the artifact tables and their column
  DDL;
- ``trace on`` / ``trace off`` switch the outside-in wrappers (only
  installed with ``--trace 1``);
- ``stop`` writes the result file and exits.

The serving workloads' artifacts come from a one-build run of this process
in the untimed preparation step; the traced ``onehop_serial`` run times
the builds themselves in a build pass.

    python3 perfbench/builder.py --out RESULT.json [--trace 1]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

from common import BUCKETS, peak_rss_mb, spark_session


def build_once(spark, kgx_dir: str, art_dir: str, prefix: str) -> dict:
    # called through the module attributes, so the tracer's wrappers apply
    from ploverdb_spark.build import ingest, meta_kg
    from ploverdb_spark.sources import kgx

    config = kgx.KgxConfig()
    nodes = kgx.read_kgx_auto(spark, f"{kgx_dir}/nodes.jsonl", config,
                              required=("id",))
    edges = kgx.read_kgx_auto(spark, f"{kgx_dir}/edges.jsonl", config,
                              required=("subject", "predicate", "object"))
    kg = ingest.build_knowledge_graph(nodes, edges, config)
    tables = ingest.write_artifacts_bucketed(kg, art_dir, prefix=prefix,
                                             buckets=BUCKETS)
    meta = meta_kg.build_meta_kg(kg)
    # column DDL per table, so a serving process registers the tables the
    # way a persistent catalog would: without re-reading footers
    ddl = {
        name: ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in spark.table(table).schema.fields)
        for name, table in tables.items()
    }
    # the next build starts from an empty cache
    spark.catalog.clearCache()
    return {"tables": tables, "ddl": ddl, "meta_kg_edges": len(meta["edges"])}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    spark = spark_session("perfbench-build")
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install_build()
    print("READY {}", flush=True)

    for line in sys.stdin:
        cmd = line.split()
        if cmd == ["stop"]:
            break
        if cmd and cmd[0] == "build":
            op, kgx_dir, art_dir, prefix = int(cmd[1]), cmd[2], cmd[3], cmd[4]
            scope = (tracer.op_scope(op, "build") if tracer is not None
                     else contextlib.nullcontext())
            t0 = time.perf_counter()
            with scope:
                done = build_once(spark, kgx_dir, art_dir, prefix)
            done["build_s"] = time.perf_counter() - t0
            print("DONE " + json.dumps(done), flush=True)
            continue
        if tracer is not None and line.strip() in ("trace on", "trace off"):
            tracer.enabled = line.strip() == "trace on"
        print("OK " + line.strip(), flush=True)

    result = {"rss_mb": peak_rss_mb()}
    if tracer is not None:
        tracer.enabled = False
        result["ops"] = {str(k): v for k, v in tracer.per_op().items()}
        result["spark_ops"] = {str(k): v for k, v in tracer.spark_per_op().items()}
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    # no spark.stop(): the JVM exits with this process and the client kills
    # the process group anyway; a clean stop only adds seconds to a run
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()

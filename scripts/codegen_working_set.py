"""Codegen working set of the catalog: how many whole-stage/expression
classes Janino compiles in two passes over every catalog query in one
session, and the JVM metaspace they hold.  Each query is built and
collected, as on the serve path (``count()`` would prune columns and
compile fewer, smaller classes).

    SPARK_GRAFT_CPUS=4 python scripts/codegen_working_set.py SF_DIR

``SF_DIR`` holds the catalog's input tables (``orders.parquet`` ...),
e.g. the sf0.001 test data.

With a cache larger than the working set, pass 1 counts the distinct
classes and pass 2 only those that never repeat (their source differs
per call); with a smaller cache, pass 2 also recompiles every evicted
class.  ``spark.sql.codegen.cache.maxEntries`` in ``session.get_spark``
is sized from these counts.  Prints one JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_SUBMIT_OPTS", "-Dlog4j2.level=error")

from real_estate_etl_dev_spark.plans.catalog import CATALOG  # noqa: E402
from real_estate_etl_dev_spark.session import get_spark  # noqa: E402


def metaspace_used_mb(jvm) -> float:
    """Metaspace in use after a full GC, in MB."""
    jvm.java.lang.System.gc()
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return round(pool.getUsage().getUsed() / 2**20, 1)
    return float("nan")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", help="directory of the input tables")
    sf_dir = ap.parse_args().sf_dir

    spark = get_spark("codegen-working-set")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    result = {
        "sf_dir": os.path.basename(os.path.normpath(sf_dir)),
        "cache_max_entries": spark.sparkContext.getConf().get(
            "spark.sql.codegen.cache.maxEntries", "100"),
        "queries": len(CATALOG),
        "passes": [],
    }
    for _ in range(2):
        n0, ns0, t0 = compiles.getCount(), generator.compileTime(), time.perf_counter()
        for q in CATALOG.values():
            q.fn(spark, sf_dir).collect()
        result["passes"].append({
            "compiles": compiles.getCount() - n0,
            "compile_s": round((generator.compileTime() - ns0) / 1e9, 2),
            "wall_s": round(time.perf_counter() - t0, 1),
        })
    result["metaspace_used_mb"] = metaspace_used_mb(jvm)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <dir>}

Each query is fully materialized so the measured time includes the
whole plan, not just planning. Every query runs twice: the first run
pays JVM JIT + whole-stage-codegen compilation (reported under
"cold_queries"), the second is the steady-state engine number
(reported under "queries" and summed into "value"). Cached relations
are cleared between runs so no result reuse leaks into the warm time
— warm measures the full recompute, JIT excluded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ndvi_etl_pipeline_spark.plans.queries import REGISTRY, headline_queries  # noqa: E402
from ndvi_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # session.py accepts '*' for "all cores" — mirror that here
    n_cpus = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    spark = get_spark(app_name="bench", shuffle_partitions=n_cpus)

    names = list(headline_queries())
    # warm the JVM/codegen/Arrow path with NON-registry plans, so the
    # first headline query's cold time stays genuinely cold
    spark.range(0, 1_000_000, 1, n_cpus).groupBy(
        (F.col("id") % 7).alias("k")
    ).count().count()
    spark.createDataFrame([(1.0,)], "x double").selectExpr("sqrt(x)").collect()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        n = REGISTRY[name].builder(spark, sf_dir).count()
        cold[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        # warm = MIN of two post-JIT runs: transient co-tenant CPU/disk
        # contention on a shared box only ever inflates a run, so the
        # min is the engine's own steady-state cost.
        warm = []
        for _ in range(2):
            t0 = time.perf_counter()
            n = REGISTRY[name].builder(spark, sf_dir).count()
            warm.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(min(warm), 3)
        sys.stderr.write(
            f"{name}: {timings[name]}s warm / {cold[name]}s cold ({n} rows)\n"
        )

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wallclock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cold_queries": cold,
                "cold_total": round(sum(cold.values()), 3),
                "sf": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()

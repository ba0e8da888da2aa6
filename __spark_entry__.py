"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship query on sf0.001 (NDVI scene stats).
queries()         — every implemented operator from SURVEY.md §2 plus
                    the training-data operators (dedup, ANN, text).
oracle_sql()      — DuckDB-equivalent SQL per query (correctness gate).

Implementations live in ndvi_etl_pipeline_spark/plans/queries.py.

A session passed in here keeps the generated-code cache it was built
with: `spark.sql.codegen.cache.maxEntries` is a static conf, and at
Spark's default of 100 a warm re-run of the catalog recompiles most of
its generated classes. Pass it when the session is built
(`spark-submit --conf spark.sql.codegen.cache.maxEntries=1024`, the
engine's `session.CODEGEN_CACHE_ENTRIES`); `session.get_spark` logs a
warning when the active session it returns has less.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ndvi_etl_pipeline_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: NDVI scene statistics (P1-P6 + J1 + A1) at sf0.001."""
    # The driver may pass a session built without our parquet-nanos
    # setting; it only matters for the events table, which the
    # flagship does not read.
    return Q.q_ndvi_scene_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()

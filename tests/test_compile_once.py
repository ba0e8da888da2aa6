"""A warm session neither recompiles nor re-infers what it has seen.

Two one-time costs of a query stay out of its repeated path: Janino
compiles of generated code (the session's code cache holds the
engine's working set, `session.CODEGEN_CACHE_ENTRIES`) and parquet
schema inference (`sources/testdata.load_table` caches each file's
metadata by its identity). Neither caches data.
"""

import logging
import os
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ndvi_etl_pipeline_spark import session
from ndvi_etl_pipeline_spark.sources.testdata import load_table


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs(spark, group, fn):
    """(fn(), the ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_plans_reuse_generated_code(spark):
    """Three plans of 20 distinct branches make ~120 generated classes
    (each branch is its own code-generated stage), more than Spark's
    default cache of 100: running them again compiles nothing."""

    def run_all():
        for j in range(3):
            branches = [
                spark.range(0, 4, 1, 1).selectExpr(f"id * {20 * j + k + 7} + {k + 1} AS v")
                for k in range(20)
            ]
            reduce(DataFrame.unionAll, branches).collect()

    run_all()
    before = _compiles(spark)
    run_all()
    assert _compiles(spark) - before == 0


def test_small_codegen_cache_of_a_given_session_is_reported(spark, monkeypatch, caplog):
    """`get_spark` hands back an already-active session untouched; when
    that session's code cache is below the engine's size it logs a
    warning naming the conf and how to set it. The engine's size is
    raised here instead of starting a second session with Spark's
    default."""
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.get_spark() is spark
        assert caplog.records == []  # the test session has the engine's size
        monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", 4 * session.CODEGEN_CACHE_ENTRIES)
        assert session.get_spark() is spark
    (rec,) = caplog.records
    assert "spark.sql.codegen.cache.maxEntries is 1024" in rec.getMessage()
    assert "spark-submit --conf spark.sql.codegen.cache.maxEntries=4096" in rec.getMessage()


def _write(path, table, row_groups=1):
    pq.write_table(table, path, row_group_size=-(-table.num_rows // row_groups))


def _spread(df) -> bool:
    return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()


def test_second_load_runs_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", pa.table({"k": list(range(10)), "s": ["x"] * 10}))
    first = load_table(spark, "t", str(tmp_path))
    second, jobs = _jobs(spark, f"load-{tmp_path.name}", lambda: load_table(spark, "t", str(tmp_path)))
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_seen(spark, tmp_path):
    """A rewrite with another schema and row-group count changes the
    file's identity: the next load infers again and re-reads the
    footer, which moves the `spread_key` decision."""
    path = tmp_path / "t.parquet"
    p = spark.sparkContext.defaultParallelism
    _write(path, pa.table({"k": list(range(40))}))
    first = load_table(spark, "t", str(tmp_path), spread_key="k")
    assert first.columns == ["k"] and _spread(first)

    many = max(2, p // 2)
    _write(path, pa.table({"k": list(range(40)), "v": [float(i) for i in range(40)]}), many)
    assert pq.read_metadata(path).num_row_groups == many
    again = load_table(spark, "t", str(tmp_path), spread_key="k")
    assert again.columns == ["k", "v"] and not _spread(again)
    assert again.agg(F.sum("v")).first()[0] == sum(range(40))


def test_unreadable_footer_is_not_cached(spark, tmp_path, monkeypatch):
    """A footer read that fails falls back to "splittable" for that
    call only; the next call of the unchanged file reads it again."""
    _write(tmp_path / "t.parquet", pa.table({"k": list(range(40))}))

    def unreadable(*a, **kw):
        raise OSError("footer unreadable")

    with monkeypatch.context() as m:
        m.setattr(pq, "read_metadata", unreadable)
        assert not _spread(load_table(spark, "t", str(tmp_path), spread_key="k"))
    assert _spread(load_table(spark, "t", str(tmp_path), spread_key="k"))


def test_cached_schema_normalizes_ts(spark, tmp_path):
    """`ts` written as TIMESTAMP(NANOS) (read as long under the
    session's nanosAsLong) and as TIMESTAMP(MICROS) without a zone
    (TIMESTAMP_NTZ) both come back as a UTC timestamp on the cached,
    job-free path."""
    micros = [1_700_000_000_123_456, 1_600_000_000_000_001]
    for unit, scale in (("ns", 1000), ("us", 1)):
        d = tmp_path / unit
        os.makedirs(d)
        ts = pa.array(np.array(micros, dtype=np.int64) * scale, type=pa.timestamp(unit))
        pq.write_table(pa.table({"ts": ts}), d / "events.parquet", coerce_timestamps=None)
        load_table(spark, "events", str(d))
        df, jobs = _jobs(spark, f"ts-{unit}-{tmp_path.name}", lambda: load_table(spark, "events", str(d)))
        assert jobs == []
        assert df.schema["ts"].dataType == T.TimestampType()
        got = [r.u for r in df.select(F.unix_micros("ts").alias("u")).collect()]
        assert sorted(got) == sorted(micros)

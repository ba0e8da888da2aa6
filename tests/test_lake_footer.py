"""Lake writers take per-file stats and row counts from the parquet
footer of what they wrote (`lake._footer_stats`): parity with Spark's
own min/max, the NaN rule of the DataSource writer, and the Spark-job
budget of each commit that footer bookkeeping buys."""

import datetime
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import ndvi_etl_pipeline_spark.sources.lake as L
from ndvi_etl_pipeline_spark.sources import lake_datasource as LDS
from ndvi_etl_pipeline_spark.sources.lake import (
    lake_column_max,
    lake_delete,
    lake_merge,
    lake_read,
    lake_read_cdf,
    lake_update,
    lake_write,
)

_TYPED = T.StructType(
    [
        T.StructField("b", T.ByteType()),
        T.StructField("sh", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("dt", T.DateType()),
        T.StructField("bo", T.BooleanType()),
        T.StructField("nulls", T.LongType()),
        T.StructField("nan", T.DoubleType()),
        T.StructField("long", T.StringType()),
    ]
)


def _typed_rows():
    nan = float("nan")
    return [
        (1, -3, 7, -(2**40), 1.5, nan, "b", datetime.date(2020, 1, 2), True,
         None, nan, "x" * 300),
        (-128, 300, None, 2**40, -2.5, -1.0, "a", datetime.date(1999, 12, 31),
         False, None, nan, "y" * 300),
        (None, None, 5, None, None, 3.0, None, None, None, None, None, "é" * 300),
        (127, -32768, -9, 0, 0.25, 2.0, "zz", datetime.date(2000, 2, 29),
         True, None, 4.0, "x" * 300),
    ]


def _spark_bounds(spark, path, cols):
    """Reference: Spark's min/max aggregate over the file, through the
    same JSON and string-truncation rules the manifest applies."""
    r = spark.read.parquet(path).agg(
        *[x for c in cols for x in (F.min(c), F.max(c))]
    ).collect()[0]
    out = {}
    for j, c in enumerate(cols):
        mn, mx, trunc = L._trunc_str_bounds(
            L._json_safe(r[2 * j]), L._json_safe(r[2 * j + 1])
        )
        out[c] = [mn, mx, 1] if trunc else [mn, mx]
    return out


def _same(a, b):
    """Equal bounds, NaN equal to NaN."""
    return len(a) == len(b) and all(
        x == y or (x != x and y != y) for x, y in zip(a, b)
    )


def test_footer_stats_match_spark_min_max(spark, tmp_path):
    """Every _STATS_TYPES type, a NaN max and an all-NaN column, a
    null-only column and 300-char strings whose bounds truncate, from a
    Spark-written file and from a pyarrow file of many row groups."""
    cols = _TYPED.fieldNames()
    assert {type(f.dataType) for f in _TYPED.fields} == set(L._STATS_TYPES)
    df = spark.createDataFrame(_typed_rows(), _TYPED).coalesce(1)
    out = str(tmp_path / "spark")
    df.write.parquet(out)
    (f,) = L._parquet_files(out)
    n, got = L._footer_stats(f, cols)
    want = _spark_bounds(spark, out, cols)
    assert n == 4
    assert set(got) == set(want) == set(cols)
    for c in cols:
        assert _same(got[c], want[c]), (c, got[c], want[c])
    assert got["nulls"] == [None, None]
    assert got["long"][2] == 1 and len(got["long"][0]) == L._STATS_STR_MAX
    assert want["d"][1] != want["d"][1]  # the NaN max is Spark's too

    # pyarrow file, one row per row group: bounds fold across groups
    # (Arrow's own statistics skip NaN, so the NaN columns stay out)
    nonan = [c for c in cols if c not in ("d", "nan")]
    multi = str(tmp_path / "multi.parquet")
    pq.write_table(df.select(*nonan).toArrow(), multi, row_group_size=1)
    assert pq.read_metadata(multi).num_row_groups == 4
    n, got = L._footer_stats(multi, nonan)
    want = _spark_bounds(spark, multi, nonan)
    assert n == 4
    for c in nonan:
        assert _same(got[c], want[c]), (c, got[c], want[c])


def test_strings_past_4kib_get_no_bound(spark, tmp_path):
    """parquet-mr writes no min/max when a string column's min and max
    together exceed 4 KiB: such a column gets no bound, so it never
    prunes (reads stay exact) and lake_column_max must scan."""
    t = str(tmp_path / "t")
    docs = ["a" * 3000, "b" * 3000, "c" * 3000]
    lake_write(
        spark.createDataFrame(
            [(i, d) for i, d in enumerate(docs)], "k int, doc string"
        ).coalesce(1),
        t,
    )
    (e,) = L._read_manifest(t, 0)["files"]
    assert "doc" not in e["stats"] and e["stats"]["k"] == [0, 2]
    got = lake_read(spark, t, where=[("doc", "==", docs[1])]).collect()
    assert [(r.k, r.doc) for r in got] == [(1, docs[1])]
    assert lake_read(spark, t, where=[("doc", ">", "b")]).count() == 2
    assert lake_column_max(t, "doc") is None
    assert lake_column_max(t, "k") == 2


def test_datasource_write_keeps_nan_rows_visible(spark, tmp_path):
    """Arrow's footer statistics skip NaN, so a [1.0, NaN] file used to
    be stored with max 1.0 — Spark's row-group filter and the manifest
    pruner then dropped the NaN row from `score > 5`. The DataSource
    writer stores no statistics for a float column holding NaN."""
    LDS.register(spark)
    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "k int, score double"
    ).coalesce(1).write.format("lake").option("path", t).mode("append").save()
    got = lake_read(spark, t).filter(F.col("score") > 5).collect()
    assert [r.k for r in got] == [2]
    got = lake_read(spark, t, where=[("score", ">", 5.0)]).collect()
    assert [r.k for r in got] == [2]
    (e,) = L._read_manifest(t, 0)["files"]
    assert "score" not in e["stats"] and e["stats"]["k"] == [1, 2]


# --- Spark-job budgets -----------------------------------------------------


def _jobs(spark, fn) -> int:
    """Spark jobs `fn` launches."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _rows(spark, lo, hi, bump=0.0, step=1):
    return spark.range(lo, hi, step).select(
        F.col("id").alias("k"),
        ((F.col("id") % 97).cast("double") + F.lit(bump)).alias("v"),
    )


@pytest.fixture()
def budget_table(spark, tmp_path):
    """A 6k-row table of 3 files after one warm round of the four
    commits (the first DV read probes and caches the table's URI).
    Each commit touches its own key residue mod 100."""
    t = str(tmp_path / "t")
    lake_write(_rows(spark, 0, 6000).repartition(3), t)
    lake_write(_rows(spark, 10_000, 16_000, step=100), t)
    lake_merge(spark, _rows(spark, 0, 6000, 1.0).filter("k % 100 = 1"), t,
               ("k",), strategy="mor")
    lake_delete(spark, t, F.col("k") % 100 == 2, strategy="dv")
    lake_merge(spark, _rows(spark, 0, 6000, 2.0).filter("k % 100 = 3"), t,
               ("k",), strategy="cow")
    return t


def _live(spark, t):
    return sorted((r.k, r.v) for r in lake_read(spark, t).collect())


def test_append_runs_one_job(spark, budget_table):
    """An append of an unshuffled DataFrame is its write job alone."""
    t = budget_table
    assert _jobs(spark, lambda: lake_write(_rows(spark, 20_000, 20_060), t)) == 1
    assert len(_live(spark, t)) == 6000 + 60
    assert L._read_manifest(t, L._latest_version(t))["n_rows_delta"] == 60


def test_dv_delete_and_mor_merge_job_budget(spark, budget_table):
    t = budget_table
    upd = _rows(spark, 0, 6000, 5.0).filter("k % 100 = 4")
    assert _jobs(spark, lambda: lake_merge(spark, upd, t, ("k",),
                                           strategy="mor")) <= 5
    assert _jobs(spark, lambda: lake_delete(spark, t, F.col("k") % 100 == 5,
                                            strategy="dv")) <= 5
    # a delete matching nothing leaves no DV set and no snapshot
    v = L._latest_version(t)
    dvs = set(os.listdir(os.path.join(t, "dv")))
    lake_delete(spark, t, F.col("k") < 0, strategy="dv")
    assert L._latest_version(t) == v
    assert set(os.listdir(os.path.join(t, "dv"))) == dvs
    live = dict(_live(spark, t))
    assert len(live) == 6000 - 60
    assert live[4] == 4.0 + 5.0 and 5 not in live
    assert L._read_manifest(t, v - 1)["n_rows_delta"] == 0  # 60 up, 60 pre
    assert L._read_manifest(t, v)["n_rows_delta"] == -60


def test_cow_merge_job_budget(spark, budget_table):
    t = budget_table
    upd = _rows(spark, 0, 6000, 7.0).filter("k % 100 = 6")
    assert _jobs(spark, lambda: lake_merge(spark, upd, t, ("k",),
                                           strategy="cow")) <= 10
    m = L._read_manifest(t, L._latest_version(t))
    assert m["n_rows_delta"] == 60
    assert dict(_live(spark, t))[6] == 6.0 + 7.0


def test_cow_update_job_budget(spark, budget_table):
    """The hit files come from the landed preimage addresses by a
    driver-side column read, not a Spark distinct job (11 → 9)."""
    t = budget_table
    assert _jobs(spark, lambda: lake_update(spark, t, {"v": "v + 100"},
                                            F.col("k") % 100 == 8,
                                            strategy="cow")) <= 9
    live = dict(_live(spark, t))
    assert len(live) == 6000 + 60 - 60 and live[8] == 8.0 + 100
    assert L._read_manifest(t, L._latest_version(t))["n_rows_delta"] == 0


def test_cdf_plan_build_runs_no_job(spark, budget_table):
    """Building a change feed over a MoR merge, a DV delete, a COW
    merge and a MoR update finds every touched-file set from the DV
    footers: no Spark job before the first action."""
    t = budget_table
    lake_update(spark, t, {"v": "v + 100"}, F.col("k") % 100 == 9,
                strategy="mor")
    cdf = []
    assert _jobs(spark, lambda: cdf.append(lake_read_cdf(spark, t, 1))) == 0
    got = {}
    for r in cdf[0].groupBy("_commit_version", "_change_type").count().collect():
        got[(r["_commit_version"], r["_change_type"])] = r["count"]
    # per commit: 60 rows updated (delete + insert), 60 deleted
    assert got == {
        (2, "delete"): 60, (2, "insert"): 60,
        (3, "delete"): 60,
        (4, "delete"): 60, (4, "insert"): 60,
        (5, "delete"): 60, (5, "insert"): 60,
    }

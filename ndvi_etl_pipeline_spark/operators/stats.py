"""Masked aggregation (A1) and run counters (A5).

Reference: load_to_postgis.py:74-79 — mean NDVI over valid (finite,
non-nodata) pixels; an all-nodata raster yields None. In the engine
nodata is NULL, so a plain `avg` reproduces the masked mean exactly
(Spark's avg skips NULLs; an empty group gives NULL), as a partial +
final hash aggregate: map-side combine means the shuffle carries one
(sum, count) pair per (scene, aoi) per task — constant traffic no
matter how many pixels, the crucial property at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def masked_mean(
    df: DataFrame,
    value_col: str = "ndvi",
    keys: tuple[str, ...] = ("scene_id",),
    out_col: str = "mean_ndvi",
) -> DataFrame:
    """A1: per-key mean of non-NULL values; all-NULL group → NULL row."""
    return df.groupBy(*keys).agg(F.avg(value_col).alias(out_col))


def with_observed_metrics(df: DataFrame, name: str = "run_metrics"):
    """K6 observability the Spark-native way: attach an Observation so
    the NEXT action on the returned DataFrame also yields run metrics
    (rows, nulls, min/max) — collected from the same pass, zero extra
    scans, exactly the reference's success/failure counters
    (main.py:114-147) without its second bookkeeping loop.

    Returns (df, observation); read `observation.get` AFTER an action.
    Works for any sink: `write.parquet` counts what was written.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    numeric = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("double", "float", "integer", "long")
    ]
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in numeric[:3]:  # keep the metric row small
        metrics.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}"))
        metrics.append(F.min(c).alias(f"min_{c}"))
        metrics.append(F.max(c).alias(f"max_{c}"))
    return df.observe(obs, *metrics), obs


def pareto_skyline_2d(pts: DataFrame, minimize: str, maximize: str) -> DataFrame:
    """2-D Pareto skyline — rows no other row beats on both axes
    (strictly on at least one): the O(n log n) sweep instead of the
    O(n²) self-join. Sort by (minimize asc, maximize desc); a row
    survives iff its `maximize` strictly exceeds the running max over
    all preceding rows.

    Distributed shape: stage 1 runs the sweep per input partition — a
    sound prefilter, since any globally non-dominated point is
    non-dominated in every subset — so only local survivors (≈ the
    skyline size per partition) reach the single-partition global
    sweep. Result is partition-count invariant (property-tested).

    Callers must pre-aggregate exact duplicate (minimize, maximize)
    pairs first (e.g. groupBy + count): the sweep keeps one arbitrary
    row per duplicate pair, which is nondeterministic if other columns
    differ.
    """
    from pyspark.sql import Window

    asc_desc = [F.col(minimize).asc(), F.col(maximize).desc()]
    w_local = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(*asc_desc)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = pts.withColumn("_bp", F.max(maximize).over(w_local)).filter(
        F.col("_bp").isNull() | (F.col(maximize) > F.col("_bp"))
    )
    # global sweep via operators/rank.global_ranked: by default
    # (rankMode=distributed) an exact range-partitioned two-pass
    # (local exclusive running max + prefix-of-range-maxima from the
    # P-row stats broadcast) — no global window node at all; under
    # rankMode=single the identical-result one-partition window
    from .rank import global_ranked

    return (
        global_ranked(
            local,
            [minimize, (F.col(maximize), "desc")],
            running_max_excl={"_bg": F.col(maximize)},
        )
        .filter(F.col("_bg").isNull() | (F.col(maximize) > F.col("_bg")))
        .drop("_bp", "_bg")
    )

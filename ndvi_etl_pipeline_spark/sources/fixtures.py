"""Synthetic raster fixtures (FIXTURES.md) — distributed generation.

The reference's own unit test builds two constant 100×100 uint16 bands
(tests/test_ndvi.py:7-20). We reproduce that, plus nodata / varying /
missing-band cases, as DataFrames. Generation is Spark-side
(`spark.range` → column math, no driver-side materialization), so the
same generator scales to arbitrarily large synthetic scenes when
benchmarking: the pixel table is born distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.arrow_kernels import local_df

HEIGHT = 100
WIDTH = 100
TRANSFORM = [0.1, 0.0, 0.0, 0.0, -0.1, 0.0]  # from_origin(0, 0, 0.1, 0.1)
CRS = "EPSG:4326"
NODATA_DN = 0.0

CONSTANT_SCENE = "LC08_L2SP_187018_20220606_02_T1"
NODATA_SCENE = "LC08_L2SP_187018_20220622_02_T1"
VARYING_SCENE = "LC09_L2SP_187018_20220708_02_T1"
MISSING_BAND_SCENE = "LC08_L2SP_187018_20220801_02_T1"
ALL_SCENES = (CONSTANT_SCENE, NODATA_SCENE, VARYING_SCENE, MISSING_BAND_SCENE)


def _grid(spark: SparkSession, scene_id: str, height: int = HEIGHT, width: int = WIDTH) -> DataFrame:
    """One row per pixel, generated JVM-side from a range scan."""
    return (
        spark.range(height * width)
        .select(
            F.lit(scene_id).alias("scene_id"),
            (F.col("id") / width).cast("int").alias("y"),
            (F.col("id") % width).cast("int").alias("x"),
        )
    )


def band_pixels(spark: SparkSession) -> DataFrame:
    """The `band_pixels` fixture: all four FIXTURES.md cases, long form.

    - constant: red=1000, nir=3000 everywhere (golden NDVI ≈ −0.189656)
    - nodata: dn=0 block at y<10 & x<10 in both bands
    - varying: dn deterministic in (y, x), range [1, 65535]
    - missing-band: red rows only (must drop out of the band pairing)
    """
    const = _grid(spark, CONSTANT_SCENE)
    const_rows = const.select(
        "scene_id", "y", "x", F.lit("red").alias("band"), F.lit(1000).alias("dn")
    ).unionAll(
        const.select("scene_id", "y", "x", F.lit("nir").alias("band"), F.lit(3000).alias("dn"))
    )

    nod = _grid(spark, NODATA_SCENE)
    hole = (F.col("y") < 10) & (F.col("x") < 10)
    nod_rows = nod.select(
        "scene_id",
        "y",
        "x",
        F.lit("red").alias("band"),
        F.when(hole, F.lit(0)).otherwise(F.lit(1000)).alias("dn"),
    ).unionAll(
        nod.select(
            "scene_id",
            "y",
            "x",
            F.lit("nir").alias("band"),
            F.when(hole, F.lit(0)).otherwise(F.lit(3000)).alias("dn"),
        )
    )

    var = _grid(spark, VARYING_SCENE)
    # deterministic pseudo-random DN in [1, 65535]: a fixed LCG-style mix
    # (long math — int32 would overflow under ANSI mode)
    yl, xl = F.col("y").cast("long"), F.col("x").cast("long")
    mix_red = (yl * 7919 + xl * 104729 + F.lit(42)) % 65535 + 1
    mix_nir = (yl * 15485863 + xl * 32452843 + F.lit(42)) % 65535 + 1
    var_rows = var.select(
        "scene_id", "y", "x", F.lit("red").alias("band"), mix_red.cast("int").alias("dn")
    ).unionAll(
        var.select("scene_id", "y", "x", F.lit("nir").alias("band"), mix_nir.cast("int").alias("dn"))
    )

    miss = _grid(spark, MISSING_BAND_SCENE)
    miss_rows = miss.select(
        "scene_id", "y", "x", F.lit("red").alias("band"), F.lit(1000).alias("dn")
    )

    out = const_rows.unionAll(nod_rows).unionAll(var_rows).unionAll(miss_rows)
    return out.select("scene_id", "band", "y", "x", "dn")


def scene_bands(spark: SparkSession, include_mismatch: bool = False) -> DataFrame:
    """Per-band grid metadata; optionally a grid-mismatch scene (P7)."""
    rows = []
    for sid in ALL_SCENES:
        bands = ("red",) if sid == MISSING_BAND_SCENE else ("red", "nir")
        for b in bands:
            rows.append((sid, b, HEIGHT, WIDTH, TRANSFORM, CRS, NODATA_DN))
    if include_mismatch:
        rows.append(("LC08_L2SP_187018_20220901_02_T1", "red", 100, 100, TRANSFORM, CRS, 0.0))
        rows.append(
            ("LC08_L2SP_187018_20220901_02_T1", "nir", 100, 100, [0.2, 0.0, 0.0, 0.0, -0.2, 0.0], CRS, 0.0)
        )
    return local_df(
        spark,
        rows,
        "scene_id string, band string, height int, width int, "
        "transform array<double>, crs string, nodata double",
    )

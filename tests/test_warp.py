"""Warp kernel: analytic exactness on linear fields, NaN masking, and
the general inverse-mapping hook."""

import numpy as np
import pytest

from ndvi_etl_pipeline_spark.operators.warp import (
    bilinear_sample,
    resample_scene_pixels,
    warp_with_mapping,
)


def linear_pixels(spark, h=20, w=20):
    # v = 3y + 7x + 1 — bilinear interpolation reproduces any affine
    # field exactly, so every resampled value is analytically known.
    rows = [("s1", y, x, float(3 * y + 7 * x + 1)) for y in range(h) for x in range(w)]
    return spark.createDataFrame(rows, ["scene_id", "y", "x", "ndvi"])


def test_bilinear_sample_exact_on_linear_field():
    src = np.fromfunction(lambda y, x: 3.0 * y + 7.0 * x + 1.0, (20, 20))
    sy = np.array([0.25, 3.5, 10.75])
    sx = np.array([0.5, 2.25, 18.0])
    got = bilinear_sample(src, sy, sx)
    np.testing.assert_allclose(got, 3.0 * sy + 7.0 * sx + 1.0, rtol=1e-12)


def test_bilinear_sample_masks():
    src = np.ones((4, 4))
    src[1, 1] = np.nan
    sy = np.array([-0.5, 3.5, 0.5, 2.5])  # out low, out high, NaN-adjacent, ok
    sx = np.array([0.5, 0.5, 0.5, 2.5])
    got = bilinear_sample(src, sy, sx)
    assert np.isnan(got[0]) and np.isnan(got[1]) and np.isnan(got[2])
    assert got[3] == 1.0


def test_resample_exact_on_linear_field(spark):
    px = linear_pixels(spark)
    out = resample_scene_pixels(
        px, out_height=8, out_width=8, scale_y=2.5, scale_x=2.5,
        src_height=20, src_width=20,
    ).collect()
    assert len(out) == 64  # all interior at this geometry
    for r in out:
        sy = (r.y + 0.5) * 2.5 - 0.5
        sx = (r.x + 0.5) * 2.5 - 0.5
        assert r.v == pytest.approx(3.0 * sy + 7.0 * sx + 1.0, rel=1e-12)


def test_warp_with_mapping_shift(spark):
    px = linear_pixels(spark)
    # pure translation by (2, 3) source pixels
    out = warp_with_mapping(
        px, out_height=10, out_width=10,
        inverse_map=lambda dy, dx: (dy + 2.0, dx + 3.0),
        src_height=20, src_width=20,
    ).collect()
    assert len(out) == 100
    for r in out:
        assert r.v == pytest.approx(3.0 * (r.y + 2) + 7.0 * (r.x + 3) + 1.0, rel=1e-12)


def test_tiled_warp_matches_per_scene(spark, sf_dir):
    """Halo-exchange tiled warp must agree bit-for-bit with the
    (oracle-checked) per-scene canvas warp, for downsampling,
    upsampling, and non-square scales."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.operators.warp import (
        resample_scene_pixels,
        warp_bilinear_tiled,
    )
    from ndvi_etl_pipeline_spark.plans.queries import derived_pixels

    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    ndvi_tiles = raster.tile_ndvi(raster.pixels_to_tiles(px, tile=32))
    ndvi_px = raster.tiles_to_pixels(ndvi_tiles, value_name="ndvi")

    for out_h, out_w, sy, sx in [
        (64, 64, 100 / 64, 100 / 64),   # downsample
        (160, 120, 100 / 160, 100 / 120),  # upsample, non-square
    ]:
        want = {
            (r.scene_id, r.y, r.x): r.v
            for r in resample_scene_pixels(
                ndvi_px, out_h, out_w, sy, sx, src_height=100, src_width=100
            ).collect()
        }
        got = {
            (r.scene_id, r.y, r.x): r.v
            for r in warp_bilinear_tiled(ndvi_tiles, out_h, out_w, sy, sx).collect()
        }
        assert set(got) == set(want), (out_h, out_w)
        for k, v in want.items():
            assert got[k] == v or abs(got[k] - v) < 1e-12, k


def test_tiled_warp_tile_output_matches_pixels(spark, sf_dir):
    """output='tiles' must carry the same cells/values as the pixel
    output (to float32 payload precision)."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.operators.warp import warp_bilinear_tiled
    from ndvi_etl_pipeline_spark.plans.queries import derived_pixels

    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    ndvi_tiles = raster.tile_ndvi(raster.pixels_to_tiles(px, tile=32))
    want = {
        (r.scene_id, r.y, r.x): r.v
        for r in warp_bilinear_tiled(ndvi_tiles, 80, 80, 1.25, 1.25).collect()
    }
    got = {
        (r.scene_id, r.y, r.x): r.v
        for r in raster.tiles_to_pixels(
            warp_bilinear_tiled(ndvi_tiles, 80, 80, 1.25, 1.25, output="tiles"),
            value_name="v",
        ).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-6, k


def test_tiled_warp_planning_runs_no_job(spark, tmp_path):
    """Building a `warp_bilinear_tiled` plan launches no Spark job:
    receivers read the tile size from their strips, so the plan needs
    no look at the data."""
    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.operators.warp import warp_bilinear_tiled

    px = spark.createDataFrame(
        [("S", "ndvi", y, x, float(y + x)) for y in range(40) for x in range(40)],
        "scene_id string, band string, y int, x int, dn double",
    )
    tiles = raster.pixels_to_tiles(px, tile=16).drop("band")
    sc = spark.sparkContext
    group = f"warp-plan-{tmp_path.name}"
    sc.setJobGroup(group, "plan a tiled warp")
    try:
        out = warp_bilinear_tiled(tiles, 30, 30, 40 / 30, 40 / 30, output="tiles")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out.count() > 0


def test_nearest_sample_picks_cell_and_masks():
    """floor(coord+0.5) convention: .5 rounds up; out-of-range -> NaN;
    no blending ever (values are either exact source cells or NaN)."""
    from ndvi_etl_pipeline_spark.operators.warp import nearest_sample

    src = np.arange(12, dtype=np.float64).reshape(3, 4)
    sy = np.array([0.0, 0.49, 0.5, 1.6, -0.6, 2.4])
    sx = np.array([0.0, 1.49, 1.5, 3.2, 0.0, 3.49])
    out = nearest_sample(src, sy, sx)
    assert out[0] == src[0, 0]
    assert out[1] == src[0, 1]
    assert out[2] == src[1, 2]  # both .5s round up
    assert out[3] == src[2, 3]
    assert np.isnan(out[4])  # rounds to y=-1: out of range
    assert out[5] == src[2, 3]


def test_nearest_resample_is_subsampling_on_integer_scale(spark):
    """scale=2 nearest from pixel centers: dest (i,j) takes source
    (2i+1, 2j+1) exactly — a pure subsample, every value preserved."""
    from ndvi_etl_pipeline_spark.operators.warp import resample_scene_pixels

    px = linear_pixels(spark, h=20, w=20)
    got = {
        (r.y, r.x): r.v
        for r in resample_scene_pixels(
            px, 10, 10, 2.0, 2.0, value_col="ndvi", src_height=20, src_width=20,
            method="nearest",
        ).collect()
    }
    assert len(got) == 100
    for (i, j), v in got.items():
        # linear_pixels value = 3y + 7x + 1 at the sampled source cell
        assert v == 3 * (2 * i + 1) + 7 * (2 * j + 1) + 1, (i, j)


def test_dtype_dispatch_routes_int_to_nearest_float_to_bilinear(spark):
    """Mirror of load_to_postgis.py:132: int value column -> nearest
    (all outputs are exact source values); double -> bilinear
    (fractional source coords still land on the affine field, but the
    integer path must produce only exact source members)."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.operators.warp import resample_dispatch_dtype

    # y*1000 + x: distinct per cell, NOT affine-closed under the 2.5
    # sampling grid, so any bilinear blend would leave the source set
    rows = [("s1", y, x, y * 1000 + x) for y in range(20) for x in range(20)]
    ints = spark.createDataFrame(rows, "scene_id string, y int, x int, v int")
    got_i = {
        (r.y, r.x): r.v
        for r in resample_dispatch_dtype(
            ints, 8, 8, 2.5, 2.5, value_col="v", src_height=20, src_width=20
        ).collect()
    }
    src_vals = {float(y * 1000 + x) for y in range(20) for x in range(20)}
    assert got_i and set(got_i.values()) <= src_vals  # never a blended value

    dbls = ints.select("scene_id", "y", "x", F.col("v").cast("double").alias("v"))
    got_f = {
        (r.y, r.x): r.v
        for r in resample_dispatch_dtype(
            dbls, 8, 8, 2.5, 2.5, value_col="v", src_height=20, src_width=20
        ).collect()
    }
    # bilinear at fractional source coordinates blends neighbors —
    # values leave the source set
    assert any(v not in src_vals for v in got_f.values())

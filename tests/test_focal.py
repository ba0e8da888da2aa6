"""Focal operator tier: the halo-exchange focal map must reproduce a
whole-scene numpy reference bit-for-bit for every kernel, at any tile
size, including scene borders (NaN padding) and interior tile seams —
the seam pixels are exactly what the halo exchange exists for."""

import numpy as np
import pyspark.sql.functions as F

from ndvi_etl_pipeline_spark.operators import raster
from ndvi_etl_pipeline_spark.operators.focal import (
    FOCAL_TILE_SCHEMA,
    focal_map_tiled,
    focal_mean_3x3,
    sobel_magnitude,
)
from ndvi_etl_pipeline_spark.plans.queries import derived_pixels


def _scene_arrays(tiles_df):
    """tile rows → {scene_id: dense 2-D float array (NaN-filled)}."""
    rows = tiles_df.collect()
    out = {}
    for scene in {r.scene_id for r in rows}:
        sr = [r for r in rows if r.scene_id == scene]
        h = max(r.y0 + r.height for r in sr)
        w = max(r.x0 + r.width for r in sr)
        a = np.full((h, w), np.nan, dtype=np.float64)
        for r in sr:
            t = np.frombuffer(r.data, dtype=np.float32).reshape(r.height, r.width)
            a[r.y0 : r.y0 + r.height, r.x0 : r.x0 + r.width] = t
        out[scene] = a
    return out


def _reference(full, kernel, halo=1):
    padded = np.full(
        (full.shape[0] + 2 * halo, full.shape[1] + 2 * halo), np.nan, dtype=np.float64
    )
    padded[halo:-halo, halo:-halo] = full
    return kernel(padded)


def _ndvi_tiles(spark, sf_dir, tile):
    px = derived_pixels(spark, sf_dir)
    return raster.tile_ndvi(raster.pixels_to_tiles(px, tile=tile))


def test_focal_kernels_match_whole_scene_reference(spark, sf_dir):
    for tile in (32, 48):
        tiles = _ndvi_tiles(spark, sf_dir, tile)
        before = _scene_arrays(tiles)
        for kernel in (focal_mean_3x3, sobel_magnitude):
            after = _scene_arrays(focal_map_tiled(tiles, kernel, halo=1))
            assert set(after) == set(before)
            for scene, full in before.items():
                expect = _reference(full, kernel)
                got = after[scene][: expect.shape[0], : expect.shape[1]]
                np.testing.assert_array_equal(
                    np.float32(expect), np.float32(got),
                    err_msg=f"{kernel.__name__} tile={tile} scene={scene}",
                )


def test_focal_mean_shrinks_at_borders(spark, sf_dir):
    """Border pixels average only their in-scene neighbors (NaN-aware
    window), so a constant scene stays constant everywhere; an empty
    input maps to an empty result."""
    sc = spark.createDataFrame(
        [("S", "ndvi", int(y), int(x), 2.5) for y in range(64) for x in range(64)],
        "scene_id string, band string, y int, x int, ndvi double",
    )
    tiles = raster.pixels_to_tiles(sc, tile=32, value_col="ndvi").drop("band")
    out = _scene_arrays(focal_map_tiled(tiles, focal_mean_3x3, halo=1))["S"]
    assert np.allclose(out[:64, :64], 2.5)
    # no tiles in, none out, typed as the focal tile rows
    empty = focal_map_tiled(tiles.limit(0), focal_mean_3x3, halo=1)
    assert empty.schema == FOCAL_TILE_SCHEMA
    assert empty.collect() == []


def test_focal_mean_all_nan_window_is_silent():
    """An all-NaN window (a pixel whose neighbors are all off-scene or
    missing) averages to NaN without a warning, so the workers do not
    warn once per scene border."""
    import warnings

    canvas = np.full((4, 4), np.nan, dtype=np.float32)
    canvas[0, 0] = 1.0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = focal_mean_3x3(canvas)
    assert out.dtype == np.float32
    assert out[0, 0] == 1.0
    assert np.isnan(out[1, 1])


def test_focal_rejects_bad_halo(spark, sf_dir):
    """A non-positive halo fails at plan time; a halo of at least the
    tile size fails when the query runs (the plan reads no data)."""
    tiles = _ndvi_tiles(spark, sf_dir, 32)
    import pytest

    with pytest.raises(ValueError, match="halo"):
        focal_map_tiled(tiles, focal_mean_3x3, halo=0)
    too_wide = focal_map_tiled(tiles, focal_mean_3x3, halo=32)
    with pytest.raises(Exception, match="halo"):
        too_wide.collect()


def test_focal_planning_runs_no_job(spark, tmp_path):
    """Building a `focal_map_tiled` plan launches no Spark job."""
    px = spark.createDataFrame(
        [("S", "ndvi", y, x, float(y + x)) for y in range(40) for x in range(40)],
        "scene_id string, band string, y int, x int, dn double",
    )
    tiles = raster.pixels_to_tiles(px, tile=16).drop("band")
    sc = spark.sparkContext
    group = f"focal-plan-{tmp_path.name}"
    sc.setJobGroup(group, "plan a focal map")
    try:
        out = focal_map_tiled(tiles, focal_mean_3x3, halo=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out.count() > 0

"""The raster engine's Arrow boundary (operators/arrow_kernels.py):
what a grouped kernel receives and how its rows come back, and that
every grouped tile kernel plans as an Arrow Python node, never a
pandas one."""

import numpy as np
import pytest
from pyspark.sql import types as T

from ndvi_etl_pipeline_spark.operators import focal, raster, warp
from ndvi_etl_pipeline_spark.operators.arrow_kernels import map_groups
from tools.audit_plans import plan_as_run


def test_map_groups_contract(spark):
    """Keys arrive as Python values; a numeric column as one numpy
    array, a binary column as memoryviews (None for null); a group may
    yield no rows; an ndarray output column explodes its row to one
    row per element, scalar fields repeated."""
    df = spark.createDataFrame(
        [
            ("a", 1, b"\x01\x02", 1.5),
            ("a", 1, None, 2.5),
            ("a", 2, b"\x07", 3.0),
            ("b", 1, b"", -1.0),
        ],
        "k string, n int, blob binary, v double",
    )
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("kinds", T.StringType()),
            T.StructField("byte_sum", T.IntegerType()),
            T.StructField("v2", T.DoubleType()),
        ]
    )

    def fn(key, g):
        k, n = key
        if (k, n) == ("a", 2):
            return
        kinds = ",".join(
            [type(k).__name__, type(n).__name__, type(g.v).__name__]
            + sorted({type(b).__name__ for b in g.blob})
        )
        sums = np.array([-1 if b is None else sum(b) for b in g.blob], dtype=np.int32)
        yield k, n, kinds, sums, g.v * 2

    got = sorted(tuple(r) for r in map_groups(df, ["k", "n"], fn, schema).collect())
    assert got == [
        ("a", 1, "str,int,ndarray,NoneType,memoryview", -1, 5.0),
        ("a", 1, "str,int,ndarray,NoneType,memoryview", 3, 3.0),
        ("b", 1, "str,int,ndarray,memoryview", 0, -2.0),
    ]


def _pixels(spark):
    return spark.createDataFrame(
        [("S", "red", y, x, float(y * 8 + x)) for y in range(8) for x in range(8)],
        "scene_id string, band string, y int, x int, dn double",
    )


def _ndvi_tiles(spark):
    payload = np.arange(16, dtype=np.float32).tobytes()
    return spark.createDataFrame(
        [("S", ty, tx, 4, 4, 4 * ty, 4 * tx, payload, 16, 16, 120.0)
         for ty in range(2) for tx in range(2)],
        raster.NDVI_TILE_SCHEMA,
    )


def _band_files(spark):
    return spark.createDataFrame(
        [("S", "red", b"\x00"), ("S", "nir", b"\x00")],
        "scene_id string, band string, content binary",
    )


GROUPED_ENTRY_POINTS = {
    "pixels_to_tiles": lambda s, d: raster.pixels_to_tiles(_pixels(s), tile=4),
    "tile_composite": lambda s, d: raster.tile_composite(_ndvi_tiles(s)),
    "tile_viz_products": lambda s, d: raster.tile_viz_products(_ndvi_tiles(s), factor=2),
    "export_scene_geotiffs": lambda s, d: raster.export_scene_geotiffs(_ndvi_tiles(s), d),
    "export_pixel_geotiffs": lambda s, d: raster.export_pixel_geotiffs(_pixels(s), d, "dn"),
    "scene_ndvi_from_bands": lambda s, d: raster.scene_ndvi_from_bands(_band_files(s)),
    "resample_scene_pixels": lambda s, d: warp.resample_scene_pixels(
        _pixels(s), 4, 4, 2.0, 2.0, value_col="dn"
    ),
    "warp_with_mapping": lambda s, d: warp.warp_with_mapping(
        _pixels(s), 4, 4, lambda y, x: (y, x), value_col="dn"
    ),
    "warp_bilinear_tiled": lambda s, d: warp.warp_bilinear_tiled(_ndvi_tiles(s), 4, 4, 2.0, 2.0),
    "focal_map_tiled": lambda s, d: focal.focal_map_tiled(_ndvi_tiles(s), focal.focal_mean_3x3),
}


@pytest.mark.parametrize("entry", sorted(GROUPED_ENTRY_POINTS))
def test_grouped_kernels_plan_arrow_not_pandas(spark, tmp_path, entry):
    plan = plan_as_run(GROUPED_ENTRY_POINTS[entry](spark, str(tmp_path)))
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "InPandas" not in plan, plan

"""Grid-blocked spatial join: points × MANY polygons, AOIs as DATA.

The J2 clip machinery treats the AOI as a plan literal (codegen
ray-cast, `clip_filter`) — right for the reference's one-polygon case
and for a handful of AOIs (`tile_clip_stats_multi`). It cannot scale
to an AOI *table* (thousands-millions of field boundaries, admin
units, land parcels): literals would blow up the plan, and a cross
join would be |points|·|aois|.

This operator is the standard scale shape — spatial blocking on a
uniform grid:

1. polygons expand to the grid cells their bbox covers (native
   `sequence` × `explode`, bbox from the flat-ring array — a few
   rows per polygon at a well-chosen cell size);
2. points key to their containing cell (two floor divisions);
3. equi-join on the cell key — plain hash-join machinery, shuffle
   partitioned by cell, skew handled by AQE like any hot key;
4. exact even-odd ray cast on the candidates only
   (`functions/geo.py::st_contains_udf`, an `arrow_udf` over the
   engine's Arrow boundary, one numpy kernel run per distinct polygon
   per batch).

Cell-size rule of thumb: ~the median polygon diameter — bbox cover
stays O(1) cells/polygon while each point joins to few cells. The
candidate count, not |points|·|aois|, bounds all downstream work —
the same blocking discipline as the dedup tier's LSH bands.

Geometry representation: flat interleaved ring ARRAY<DOUBLE>
([x0,y0,x1,y1,...]) — the engine's literal-free polygon form
(`functions/geo.py::ring_literal`); multipolygon/hole support rides
the same even-odd convention by unioning per-ring joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import st_contains_udf

__all__ = ["ring_bbox_cols", "cover_cells", "grid_spatial_join", "tile_clip_stats_table"]


def ring_bbox_cols(ring: Column) -> tuple[Column, Column, Column, Column]:
    """(minx, miny, maxx, maxy) from a flat interleaved ring array —
    native higher-order functions, no UDF."""
    xs = F.filter(ring, lambda _, i: i % 2 == 0)
    ys = F.filter(ring, lambda _, i: i % 2 == 1)
    return F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys)


def cover_cells(aois: DataFrame, ring_col: str, cell: float) -> DataFrame:
    """One row per (aoi row, covered grid cell): explode the bbox's
    cell range in both axes. Output adds `cell_x`, `cell_y`."""
    minx, miny, maxx, maxy = ring_bbox_cols(F.col(ring_col))
    return (
        aois.withColumn("_cx0", F.floor(minx / cell).cast("long"))
        .withColumn("_cx1", F.floor(maxx / cell).cast("long"))
        .withColumn("_cy0", F.floor(miny / cell).cast("long"))
        .withColumn("_cy1", F.floor(maxy / cell).cast("long"))
        .withColumn("cell_x", F.explode(F.sequence("_cx0", "_cx1")))
        .withColumn("cell_y", F.explode(F.sequence("_cy0", "_cy1")))
        .drop("_cx0", "_cx1", "_cy0", "_cy1")
    )


def grid_spatial_join(
    points: DataFrame,
    aois: DataFrame,
    cell: float,
    x_col: str = "x",
    y_col: str = "y",
    ring_col: str = "ring",
    broadcast_aois: bool | None = None,
) -> DataFrame:
    """points ⋈ polygons with grid blocking + exact refinement.

    Returns the point rows joined with every AOI row whose polygon
    contains them (inner). `broadcast_aois=None` lets AQE decide;
    True forces a broadcast of the expanded cell table (right when
    |aois| is dimension-sized); False forces the shuffle path (right
    when the AOI table is itself huge).
    """
    cells = cover_cells(aois, ring_col, cell)
    if broadcast_aois is True:
        cells = F.broadcast(cells)
    pts = points.withColumn(
        "cell_x", F.floor(F.col(x_col) / cell).cast("long")
    ).withColumn("cell_y", F.floor(F.col(y_col) / cell).cast("long"))
    cand = pts.join(cells, ["cell_x", "cell_y"])
    exact = cand.filter(
        st_contains_udf(F.col(ring_col), F.col(x_col).cast("double"), F.col(y_col).cast("double"))
    )
    return exact.drop("cell_x", "cell_y")


def tile_clip_stats_table(tiles: DataFrame, aois: DataFrame, tile_size: int) -> DataFrame:
    """J2+A1 with the AOIs as a TABLE, in TILE form: the raster twin
    of `grid_spatial_join`. Because tiles already sit on a uniform
    grid, the blocking cell size IS the tile size — `cover_cells`
    maps each polygon's bbox straight to tile indices and a plain
    (tile_y, tile_x) equi-join forms the (tile, aoi) candidates; the
    Arrow kernel ray-casts each candidate pair and emits PARTIAL
    stats (count, sum), so the final shuffle carries |tiles ∩ aois|
    rows, never pixels. Scales to polygon tables where
    `tile_clip_stats_multi`'s plan-literal OR-of-bboxes prune and
    closure-broadcast AOI dict do not.

    `aois` carries an integer `aoi_id` and a flat `ring` array.
    Output: (scene_id, aoi_id, n_in_aoi, mean_ndvi) — n over non-NaN
    in-polygon pixels, float32 payload semantics identical to the
    literal path.
    """
    import numpy as np

    from .arrow_kernels import as_tile, map_rows
    from .raster import MULTI_CLIP_SCHEMA, _ring_mask

    cells = (
        cover_cells(aois, "ring", float(tile_size))
        .withColumnRenamed("cell_x", "tile_x")
        .withColumnRenamed("cell_y", "tile_y")
        .select("tile_y", "tile_x", "aoi_id", "ring")
    )
    cand = tiles.join(cells, ["tile_y", "tile_x"]).select(
        "scene_id", "y0", "x0", "height", "width", "data", "aoi_id", "ring"
    )

    masks: dict[tuple, object] = {}  # one cached mask builder per ring

    def kernel(row):
        arr = as_tile(row.data, row.height, row.width)
        key = row.ring.tobytes()
        if key not in masks:
            # the ring views its Arrow batch; the cached mask outlives it
            masks[key] = _ring_mask([row.ring.copy()])
        mask = masks[key]
        sel = mask(row.y0, row.x0, row.height, row.width) & ~np.isnan(arr)
        n = int(sel.sum())
        if n:
            # float64 sum of float32 values — same accumulation as the
            # literal tile path
            yield (row.scene_id, int(row.aoi_id), n, float(arr[sel].astype(np.float64).sum()))

    partials = map_rows(cand, kernel, MULTI_CLIP_SCHEMA)
    return partials.groupBy("scene_id", "aoi_id").agg(
        F.sum("n_in_aoi").alias("n_in_aoi"),
        (F.sum("sum_ndvi") / F.sum("n_in_aoi")).alias("mean_ndvi"),
    )

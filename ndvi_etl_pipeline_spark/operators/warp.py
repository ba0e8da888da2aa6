"""Bilinear warp / resampling (SURVEY §4.2 item 3, the hardest kernel).

Reference semantics: compute_ndvi.py:162-179 (bilinear reprojection of
the continuous NDVI band) and load_to_postgis.py:90-136 (dtype-
dispatched warp to a metric CRS at fixed resolution). Both are
"build a destination grid, inverse-map each destination pixel into
the source, interpolate the 4 neighbors" — an affine (or projective)
grid resample.

Spark shape: one `map_groups` kernel per scene (applyInArrow,
operators/arrow_kernels.py). One scene's mosaic is
memory-bounded (the reference loads whole scenes too), scenes warp in
parallel across executors, and the output is pixel/tile rows again —
closed under the engine's representations. Halo-exchange per-tile
warping (a self-join of tiles with their 8 neighbors) is the fallback
if single-scene mosaics ever exceed executor memory; at Landsat scene
sizes (~8000², 256 MB float32) per-scene is comfortably within a
4 GB executor.

Interpolation rule: a destination pixel is valid iff all 4 source
neighbors are finite (NaN = absent/invalid propagates) — the
conservative mask used for masked continuous data so invalid values
never bleed into valid output. Pixel-center convention:
src = (dst + 0.5) * scale - 0.5 (the standard GDAL/area mapping).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrow_kernels import as_tile, map_groups, map_rows

PIXEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def bilinear_sample(
    src: np.ndarray, sy: np.ndarray, sx: np.ndarray
) -> np.ndarray:
    """Vectorized bilinear sample of float64 `src` at fractional
    coordinates (sy, sx). Out-of-range or any-NaN-neighbor → NaN."""
    h, w = src.shape
    out = np.full(sy.shape, np.nan, dtype=np.float64)
    y0 = np.floor(sy).astype(np.int64)
    x0 = np.floor(sx).astype(np.int64)
    ok = (y0 >= 0) & (x0 >= 0) & (y0 + 1 <= h - 1) & (x0 + 1 <= w - 1)
    if not ok.any():
        return out
    y0o, x0o = y0[ok], x0[ok]
    wy = sy[ok] - y0o
    wx = sx[ok] - x0o
    v00 = src[y0o, x0o]
    v01 = src[y0o, x0o + 1]
    v10 = src[y0o + 1, x0o]
    v11 = src[y0o + 1, x0o + 1]
    val = (
        v00 * (1.0 - wy) * (1.0 - wx)
        + v01 * (1.0 - wy) * wx
        + v10 * wy * (1.0 - wx)
        + v11 * wy * wx
    )
    out[ok] = val  # NaN neighbors propagate through the arithmetic
    return out


def nearest_sample(
    src: np.ndarray, sy: np.ndarray, sx: np.ndarray
) -> np.ndarray:
    """Vectorized nearest-neighbor sample of float64 `src` at
    fractional coordinates (sy, sx): index = floor(coord + 0.5), the
    GDAL nearest convention (ties round up). Out-of-range → NaN.
    Unlike bilinear, a single finite source pixel is enough — nearest
    never mixes values, which is exactly why the reference dispatches
    non-float bands here (categorical/DN data must not be blended;
    load_to_postgis.py:132)."""
    h, w = src.shape
    out = np.full(sy.shape, np.nan, dtype=np.float64)
    yn = np.floor(sy + 0.5).astype(np.int64)
    xn = np.floor(sx + 0.5).astype(np.int64)
    ok = (yn >= 0) & (xn >= 0) & (yn <= h - 1) & (xn <= w - 1)
    if not ok.any():
        return out
    out[ok] = src[yn[ok], xn[ok]]
    return out


_SAMPLERS = {"bilinear": bilinear_sample, "nearest": nearest_sample}


def resample_scene_pixels(
    pixels: DataFrame,
    out_height: int,
    out_width: int,
    scale_y: float,
    scale_x: float,
    value_col: str = "ndvi",
    src_height: int | None = None,
    src_width: int | None = None,
    method: str = "bilinear",
) -> DataFrame:
    """Resample per-scene pixel rows onto an out_height×out_width
    destination grid where destination pixel (i, j) samples source
    ((i+0.5)·scale_y−0.5, (j+0.5)·scale_x−0.5).

    `method`: 'bilinear' (continuous data, 4-neighbor blend) or
    'nearest' (categorical/integer data, no blending) — the two
    resampling kernels the reference dispatches between
    (compute_ndvi.py:178, load_to_postgis.py:132). Double precision
    end to end so results are reproducible against a SQL formulation
    of the same arithmetic. Output: (scene_id, y, x, v) with
    invalid/absent destinations dropped.
    """
    try:
        sampler = _SAMPLERS[method]
    except KeyError:
        raise ValueError(f"method must be one of {sorted(_SAMPLERS)}, got {method!r}")

    def inverse_map(dy, dx):
        return (dy + 0.5) * scale_y - 0.5, (dx + 0.5) * scale_x - 0.5

    return _warp_scenes(pixels, out_height, out_width, inverse_map, sampler,
                        value_col, src_height, src_width)


def resample_dispatch_dtype(
    pixels: DataFrame,
    out_height: int,
    out_width: int,
    scale_y: float,
    scale_x: float,
    value_col: str = "ndvi",
    src_height: int | None = None,
    src_width: int | None = None,
) -> DataFrame:
    """Dtype-dispatched resampling, mirroring the reference's
    `Resampling.bilinear if src.dtypes[i-1].startswith("float") else
    Resampling.nearest` (load_to_postgis.py:132): float value columns
    interpolate bilinearly, integer/categorical columns take the
    nearest source pixel. The dispatch reads the column's Spark type
    from the schema — a plan-time decision, no data inspection."""
    dt = dict(pixels.dtypes)[value_col]
    method = "bilinear" if dt in ("float", "double", "decimal") or dt.startswith("decimal") else "nearest"
    return resample_scene_pixels(
        pixels,
        out_height,
        out_width,
        scale_y,
        scale_x,
        value_col=value_col,
        src_height=src_height,
        src_width=src_width,
        method=method,
    )


def warp_with_mapping(
    pixels: DataFrame,
    out_height: int,
    out_width: int,
    inverse_map: Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]],
    value_col: str = "ndvi",
    src_height: int | None = None,
    src_width: int | None = None,
) -> DataFrame:
    """General warp: `inverse_map(dst_y, dst_x) -> (src_y, src_x)` in
    fractional source pixels — the hook for CRS reprojection (the
    mapping composes dst-grid→dst-CRS→src-CRS→src-grid, cf.
    load_to_postgis.py:90-136). Runs per scene like
    `resample_scene_pixels`."""
    return _warp_scenes(pixels, out_height, out_width, inverse_map, bilinear_sample,
                        value_col, src_height, src_width)


def _warp_scenes(pixels, out_height, out_width, inverse_map, sampler,
                 value_col, src_height, src_width) -> DataFrame:
    """The per-scene warp kernel behind `resample_scene_pixels` and
    `warp_with_mapping`: assemble each scene's float64 canvas from its
    pixel rows, inverse-map every destination pixel (as float64 row
    and column indices) into it, sample, and keep the valid ones."""

    def warp(key, g):
        (scene_id,) = key
        h = src_height or int(g.y.max()) + 1
        w = src_width or int(g.x.max()) + 1
        src = np.full((h, w), np.nan, dtype=np.float64)
        src[g.y, g.x] = np.asarray(g.v, dtype=np.float64)
        jj, ii = np.meshgrid(np.arange(out_width), np.arange(out_height))
        sy, sx = inverse_map(ii.ravel().astype(np.float64), jj.ravel().astype(np.float64))
        v = sampler(src, np.asarray(sy), np.asarray(sx))
        keep = ~np.isnan(v)
        ys, xs = ii.ravel()[keep].astype(np.int32), jj.ravel()[keep].astype(np.int32)
        yield scene_id, ys, xs, v[keep]

    px = pixels.select("scene_id", "y", "x", F.col(value_col).alias("v"))
    return map_groups(px, ["scene_id"], warp, PIXEL_OUT_SCHEMA)


def reproject_scene(
    pixels: DataFrame,
    src_transform: tuple,
    dst_transform: tuple,
    out_height: int,
    out_width: int,
    dst_to_lonlat,
    lonlat_to_src,
    value_col: str = "ndvi",
    src_height: int | None = None,
    src_width: int | None = None,
) -> DataFrame:
    """CRS reprojection with bilinear resampling — the reference's
    `reproject(..., Resampling.bilinear)` (compute_ndvi.py:162-179,
    load_to_postgis.py:90-136) as warp_with_mapping plus a composed
    dst-grid → dst-CRS → lon/lat → src-CRS → src-grid inverse map
    (functions/crs.py: UTM Krüger series / web-mercator closed forms —
    no GDAL needed). Pass identity hops to stay within one CRS."""
    from ..functions.crs import reproject_inverse_map

    inv = reproject_inverse_map(
        src_transform, dst_transform, dst_to_lonlat, lonlat_to_src
    )
    return warp_with_mapping(
        pixels,
        out_height,
        out_width,
        inv,
        value_col=value_col,
        src_height=src_height,
        src_width=src_width,
    )


TILE_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("recv_ty", T.IntegerType()),
        T.StructField("recv_tx", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        # the sender's tile size P: receivers read the grid from their
        # group, so building the plan needs no look at the data
        T.StructField("tile", T.IntegerType()),
    ]
)


def _halo_strips(tiles: DataFrame, halo: int) -> DataFrame:
    """The halo exchange's narrow emission: every tile sends its own
    core to itself and `halo`-wide edge strips (corners included) to
    its 8 neighbors, as TILE_STRIP_SCHEMA rows keyed by the receiving
    tile. Group the result by (scene_id, recv_ty, recv_tx) and rebuild
    each receiver's padded canvas with `_halo_canvas`."""

    def emit(row):
        arr = as_tile(row.data, row.height, row.width)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                rty, rtx = row.tile_y + dy, row.tile_x + dx
                if rty < 0 or rtx < 0:
                    continue
                # part of THIS tile inside the receiver's padded extent
                if dy == 0:
                    rs, re = 0, row.height
                elif dy == -1:  # receiver above: my first halo rows
                    rs, re = 0, halo
                else:  # receiver below: my last halo rows
                    rs, re = row.height - halo, row.height
                if dx == 0:
                    cs, ce = 0, row.width
                elif dx == -1:
                    cs, ce = 0, halo
                else:
                    cs, ce = row.width - halo, row.width
                yield (
                    row.scene_id, rty, rtx, row.y0 + rs, row.x0 + cs,
                    re - rs, ce - cs, arr[rs:re, cs:ce].tobytes(), row.height,
                )

    cols = ["scene_id", "tile_y", "tile_x", "height", "width", "y0", "x0", "data"]
    return map_rows(tiles.select(*cols), emit, TILE_STRIP_SCHEMA)


def _halo_canvas(key: tuple, g, halo: int) -> tuple[np.ndarray, int, int, int]:
    """One `map_groups` receiver group of `_halo_strips` → (canvas, P,
    oy, ox): the float64 (P+2·halo)² canvas around tile (recv_ty,
    recv_tx), NaN where no strip arrived, with (oy, ox) its top-left
    pixel."""
    _, rty, rtx = key
    P = int(g.tile[0])
    oy, ox = rty * P - halo, rtx * P - halo
    canvas = np.full((P + 2 * halo, P + 2 * halo), np.nan, dtype=np.float64)
    for y0, x0, h, w, buf in zip(g.y0, g.x0, g.height, g.width, g.data):
        canvas[y0 - oy : y0 - oy + h, x0 - ox : x0 - ox + w] = as_tile(buf, h, w)
    return canvas, P, oy, ox


WARP_TILE_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def warp_bilinear_tiled(
    tiles: DataFrame,
    out_height: int,
    out_width: int,
    scale_y: float,
    scale_x: float,
    output: str = "pixels",
) -> DataFrame:
    """Halo-exchange tiled warp — the scale path for scenes too large
    for the per-scene canvas (SURVEY §4.2 item 3's "only if needed"
    variant, now implemented).

    Instead of assembling one mosaic per scene, every source tile
    exchanges a CONSTANT 2-px halo of edge strips with its 8 neighbors
    (one narrow emission pass + one shuffle keyed by receiving tile).
    Each receiver assembles a (P+4)² padded canvas and computes the
    destination pixels whose SOURCE-center falls inside its own
    extent — so destination "tiles" are variable-sized (≈P/scale
    pixels per axis) and every destination pixel is produced exactly
    once. Because assignment follows source position, the halo does
    NOT grow with the zoom factor: shuffle volume stays
    (1+4/P)² ≈ 1.03× the tile bytes at P=256 for ANY scale, versus
    the per-scene path's whole-scene-per-task memory requirement.

    Identical sampling semantics to `resample_scene_pixels`
    (pixel-center inverse map, all-4-neighbor validity): the equality
    test in tests/test_warp.py checks bit-for-bit agreement.

    ``output='tiles'`` keeps the result in tile form (float32 payload
    rows, NaN = invalid) instead of exploding to pixel rows — the
    right choice when the warp feeds further tile kernels or a sink:
    one payload row replaces tens of thousands of pixel rows at the
    Arrow boundary.
    """
    if output not in ("pixels", "tiles"):
        raise ValueError(f"output must be 'pixels' or 'tiles', got {output!r}")
    if scale_y <= 0 or scale_x <= 0:
        raise ValueError("scales must be positive")

    halo = 2
    strips = _halo_strips(tiles, halo)

    def _dst_range(rt: int, P: int, scale: float, out_n: int) -> tuple[int, int]:
        """Destination indices whose source CENTER lies in source tile
        rt: (d+0.5)·scale − 0.5 ∈ [rt·P, (rt+1)·P)."""
        import math

        lo = max(0, math.ceil((rt * P + 0.5) / scale - 0.5))
        hi = min(out_n, math.ceil(((rt + 1) * P + 0.5) / scale - 0.5))
        return lo, hi  # half-open

    def assemble_and_warp(key, g):
        scene_id, rty, rtx = key
        canvas, P, oy, ox = _halo_canvas(key, g, halo)
        y_lo, y_hi = _dst_range(rty, P, scale_y, out_height)
        x_lo, x_hi = _dst_range(rtx, P, scale_x, out_width)
        if y_lo >= y_hi or x_lo >= x_hi:
            return
        dys = np.arange(y_lo, y_hi)
        dxs = np.arange(x_lo, x_hi)
        jj, ii = np.meshgrid(dxs, dys)
        sy = (ii.ravel() + 0.5) * scale_y - 0.5 - oy
        sx = (jj.ravel() + 0.5) * scale_x - 0.5 - ox
        v = bilinear_sample(canvas, sy, sx)
        keep = ~np.isnan(v)
        if not keep.any():
            return
        if output == "tiles":
            yield (
                scene_id, rty, rtx, len(dys), len(dxs), y_lo, x_lo,
                v.astype(np.float32).reshape(len(dys), len(dxs)).tobytes(),
            )
        else:
            ys, xs = ii.ravel()[keep].astype(np.int32), jj.ravel()[keep].astype(np.int32)
            yield scene_id, ys, xs, v[keep]

    out_schema = WARP_TILE_SCHEMA if output == "tiles" else PIXEL_OUT_SCHEMA
    return map_groups(strips, ["scene_id", "recv_ty", "recv_tx"], assemble_and_warp, out_schema)

"""Focal (neighborhood) raster operators over tile form.

The third member of the halo-exchange family (with the tiled warp,
operators/warp.py, and the overview cascade): per-pixel kernels that
need a neighborhood — smoothing, gradients, edge detection, slope /
hillshade — computed without ever assembling a whole scene. Every
tile ships `halo`-wide edge strips to its 8 neighbors (one narrow
emission + one shuffle keyed by receiving tile), each receiver applies
a vectorized numpy kernel to its padded canvas, and emits its own core
back in tile form. Shuffle volume is (1+2·halo/P)² ≈ 1.008× the tile
bytes at P=256, halo=1 — constant in scene size, so the operator
scales to any raster the tile grid scales to.

Reference parity: the reference has no focal ops (its only
neighborhood op is the bilinear warp, compute_ndvi.py:162-179); these
are the natural engine extensions once tiles exist — the
standard raster-algebra surface a Landsat pipeline grows next
(NDVI smoothing, gradient masks).

Scene borders and missing neighbors appear as NaN padding; kernels
decide the semantics (nanmean shrinks the window, the gradient
propagates NaN — both match the usual GIS conventions).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from .arrow_kernels import map_groups
from .warp import WARP_TILE_SCHEMA, _halo_canvas, _halo_strips

# tile form without band or partials — the tiled warp's output rows
FOCAL_TILE_SCHEMA = WARP_TILE_SCHEMA


def focal_mean_3x3(canvas: np.ndarray) -> np.ndarray:
    """3×3 NaN-aware mean (smoothing): the window shrinks where
    neighbors are NaN (scene borders), all-NaN windows stay NaN."""
    from numpy.lib.stride_tricks import sliding_window_view

    w = sliding_window_view(canvas, (3, 3))
    with np.errstate(invalid="ignore"):  # all-NaN windows
        return np.nanmean(w, axis=(2, 3))


def sobel_magnitude(canvas: np.ndarray) -> np.ndarray:
    """Sobel gradient magnitude; NaN anywhere in the 3×3 window
    propagates (a gradient against unknown data is unknown)."""
    c = canvas
    gx = (
        (c[:-2, 2:] + 2 * c[1:-1, 2:] + c[2:, 2:])
        - (c[:-2, :-2] + 2 * c[1:-1, :-2] + c[2:, :-2])
    )
    gy = (
        (c[2:, :-2] + 2 * c[2:, 1:-1] + c[2:, 2:])
        - (c[:-2, :-2] + 2 * c[:-2, 1:-1] + c[:-2, 2:])
    )
    return np.sqrt(gx * gx + gy * gy)


def focal_map_tiled(
    tiles: DataFrame,
    kernel: Callable[[np.ndarray], np.ndarray],
    halo: int = 1,
) -> DataFrame:
    """Apply a focal `kernel` to every tile with `halo` pixels of
    neighbor context.

    `kernel` receives the float64 padded canvas (P+2·halo)² — NaN
    where no data exists — and must return the P² core (i.e. consume
    exactly `halo` pixels of context per edge; a 3×3 kernel ⇒ halo 1,
    5×5 ⇒ halo 2). Input tiles must be the codec's uniform tile grid
    (pixels_to_tiles pads edge tiles to full size with NaN).

    Shares operators/warp.py::warp_bilinear_tiled's halo exchange
    (`_halo_strips` + `_halo_canvas`); this is the same two-stage plan
    with an identity destination mapping. A `halo` of at least the
    tile size fails the first receiver, when the query runs: the plan
    never looks at the data.
    """
    if halo <= 0:
        raise ValueError(f"halo must be positive, got {halo}")

    def assemble(key, g):
        scene_id, rty, rtx = key
        if halo >= g.tile[0]:
            raise ValueError(f"halo must be in (0, {g.tile[0]}), got {halo}")
        # a receiver with no full-size strip is a phantom neighbor
        # index past the grid edge (dy/dx overshoot) — drop it
        if not ((g.height == g.tile) & (g.width == g.tile)).any():
            return
        canvas, P, _, _ = _halo_canvas(key, g, halo)
        core = kernel(canvas)
        if core.shape != (P, P):
            raise ValueError(
                f"kernel returned {core.shape}, expected {(P, P)} "
                f"(must consume exactly halo={halo} per edge)"
            )
        yield scene_id, rty, rtx, P, P, rty * P, rtx * P, core.astype(np.float32).tobytes()

    strips = _halo_strips(tiles, halo)
    return map_groups(strips, ["scene_id", "recv_ty", "recv_tx"], assemble, FOCAL_TILE_SCHEMA)

"""Raster codec: tile form ⇄ pixel form ⇄ GeoTIFF (SURVEY §1.4, §2.1).

The engine carries rasters in two representations:

- **pixel form** `[scene_id, band, y, x, value]` — the relational
  core; all of §2.2-2.6 (filters, joins, aggs) runs here as plain
  Catalyst plans.
- **tile form** `[scene_id, band, tile_y, tile_x, height, width, y0,
  x0, data BINARY]` — one dense float32 tile per row (mirrors the
  reference's 256×256 GeoTIFF blocks, compute_ndvi.py:79-84). Kernels
  (NDVI, stats, resampling) run as vectorized numpy over the packed
  payload: ~65k pixels per Arrow row instead of 65k rows, which is
  the 100 TB fast path — per-row engine overhead amortizes 10⁴×.

Payload encoding: row-major float32, little-endian, NaN = "cell
absent/nodata". BinaryType keeps the bytes opaque to Catalyst (no
per-pixel serialization cost through shuffles). Every tile kernel
crosses into Python through operators/arrow_kernels.py: `map_rows`
for the narrow kernels (`mapInArrow`), `map_groups` for the grouped
ones (`applyInArrow`). Payloads are read in place as zero-copy
memoryviews; pandas touches neither side.

GeoTIFF: `write_geotiff`/`read_geotiff`/`decode_geotiff_bytes` are
thin entry points into the engine's one pure-Python TIFF codec
(operators/tiff.py). `write_geotiff` writes a single-band float32
GeoTIFF (striped, uncompressed, ModelPixelScale + ModelTiepoint +
GeoKey EPSG + GDAL nodata tags); the K1 product sinks write the
reference's tiled/deflate/predictor-3 profile (`REFERENCE_PROFILE`,
compute_ndvi.py:73-88); the readers take any layout the codec
decodes.

Reference parity: decode/encode = S4/K1 (compute_ndvi.py:38-44,73-88,
load_to_postgis.py:189-192); the NDVI tile kernel = P1-P6
(compute_ndvi.py:32-93); tile stats = A1 (load_to_postgis.py:74-79).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tiff as TF
from .arrow_kernels import as_tile, map_groups, map_rows

DEFAULT_TILE = 256
NODATA = -9999.0

TILE_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)

NDVI_TILE_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("y0", T.IntegerType()),
        T.StructField("x0", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("sum_ndvi", T.DoubleType()),
    ]
)


def _pool2(a: np.ndarray) -> np.ndarray:
    """NaN-aware 2×2 average pooling (float64); a block with no valid
    cell stays NaN."""
    h, w = a.shape
    blocks = a.reshape(h // 2, 2, w // 2, 2)
    with np.errstate(invalid="ignore"):
        s = np.nansum(blocks, axis=(1, 3))
        c = np.sum(~np.isnan(blocks), axis=(1, 3))
        return np.divide(s, c, out=np.full(s.shape, np.nan), where=c > 0)


def _ring_mask(rings):
    """The one AOI tile mask: `mask(y0, x0, h, w)` → the (h, w) bool
    membership of that tile extent's pixel centres in an even-odd RING
    SET (a polygon plus its holes, or a dissolved multi-feature AOI).

    Membership is the parity of per-ring ray casts over the whole set,
    so holes cut cavities and islands re-include exactly; a bbox
    prefilter skips the ray cast outside the set's extent. Masks are
    cached per extent — a tile grid repeats its extents scene after
    scene. Rings are [(x, y), ...] point lists or flat [x0, y0, ...]
    arrays; `mask.bbox` is the set's (minx, miny, maxx, maxy)."""
    from ..functions.geo import _ray_cast_numpy

    flats = [np.asarray(r, dtype=np.float64).ravel() for r in rings]
    minx = min(float(f[0::2].min()) for f in flats)
    miny = min(float(f[1::2].min()) for f in flats)
    maxx = max(float(f[0::2].max()) for f in flats)
    maxy = max(float(f[1::2].max()) for f in flats)
    cache: dict[tuple[int, int, int, int], np.ndarray] = {}

    def mask(y0: int, x0: int, h: int, w: int) -> np.ndarray:
        key = (y0, x0, h, w)
        hit = cache.get(key)
        if hit is None:
            px = np.broadcast_to(np.arange(x0, x0 + w, dtype=np.float64), (h, w)).ravel()
            py = np.repeat(np.arange(y0, y0 + h, dtype=np.float64), w)
            inside = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
            idx = np.nonzero(inside)[0]
            parity = np.zeros(idx.shape[0], dtype=bool)
            for flat in flats:
                parity ^= _ray_cast_numpy(px[idx], py[idx], flat)
            inside[idx] = parity
            hit = cache[key] = inside.reshape(h, w)
        return hit

    mask.bbox = (minx, miny, maxx, maxy)
    return mask


# ---------------------------------------------------------------------------
# pixel form → tile form
# ---------------------------------------------------------------------------


def pixels_to_tiles(
    pixels: DataFrame,
    tile: int = DEFAULT_TILE,
    value_col: str = "dn",
) -> DataFrame:
    """Pack sparse pixel rows into dense float32 tiles (NaN-filled).

    One shuffle on (scene, band, tile_y, tile_x); each group packs
    into a single Arrow batch. Tile size bounds executor memory at
    tile² × 4 bytes — 256 ⇒ 256 KiB per payload regardless of input
    scale, so the same code holds at 100 TB.
    """

    def pack(key, g):
        scene_id, band, tile_y, tile_x = key
        y0, x0 = tile_y * tile, tile_x * tile
        arr = np.full((tile, tile), np.nan, dtype=np.float32)
        arr[g.y - y0, g.x - x0] = np.asarray(g.v, dtype=np.float32)
        yield scene_id, band, tile_y, tile_x, tile, tile, y0, x0, arr.tobytes()

    keyed = pixels.select(
        "scene_id", "band",
        F.floor(F.col("y") / tile).cast("int").alias("tile_y"),
        F.floor(F.col("x") / tile).cast("int").alias("tile_x"),
        "y", "x", F.col(value_col).alias("v"),
    )
    return map_groups(keyed, ["scene_id", "band", "tile_y", "tile_x"], pack, TILE_SCHEMA)


def tiles_to_pixels(tiles: DataFrame, value_name: str = "value") -> DataFrame:
    """Unpack tiles back to pixel rows, dropping NaN (absent) cells.

    A narrow, streaming transformation: no shuffle, each tile expands
    independently (vectorized, one numpy block per tile), so the
    expansion pipelines into whatever consumes it.
    """
    keys = ["scene_id", "band"] if "band" in tiles.columns else ["scene_id"]
    out_schema = T.StructType(
        [T.StructField(k, T.StringType()) for k in keys]
        + [
            T.StructField("y", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField(value_name, T.DoubleType()),
        ]
    )

    def unpack(row):
        arr = as_tile(row.data, row.height, row.width)
        yy, xx = np.nonzero(~np.isnan(arr))
        yield (
            *row[: len(keys)],
            (yy + row.y0).astype(np.int32),
            (xx + row.x0).astype(np.int32),
            arr[yy, xx].astype(np.float64),
        )

    cols = [*keys, "height", "width", "y0", "x0", "data"]
    return map_rows(tiles.select(*cols), unpack, out_schema)


# ---------------------------------------------------------------------------
# tile-form NDVI kernel (P1-P6 vectorized per tile)
# ---------------------------------------------------------------------------

SCALE = 0.0000275
OFFSET = -0.2
EPS = 1e-6


def tile_ndvi(band_tiles: DataFrame, red_band: str = "red", nir_band: str = "nir") -> DataFrame:
    """J1 + P1-P6 in tile form: join red/nir tiles on the grid key,
    compute masked/clamped NDVI per tile with numpy, and emit the NDVI
    payload plus per-tile partial aggregates (n_pixels, n_valid,
    sum_ndvi) so scene stats finish with a tiny native groupBy — the
    two-level aggregation pattern (partials at data parallelism,
    finals on ~tiles/scene rows).

    Semantics match the pixel path exactly: a cell counts iff both
    bands are present; it is valid iff both DN ≠ 0; NDVI uses the
    Landsat C2L2 scale/offset, ε-guarded divide, clamp to [-1, 1]
    (compute_ndvi.py:32-93).
    """
    r = band_tiles.filter(F.col("band") == red_band).drop("band")
    n = band_tiles.filter(F.col("band") == nir_band).drop("band")
    for c in ("height", "width", "y0", "x0", "data"):
        r = r.withColumnRenamed(c, f"r_{c}")
        n = n.withColumnRenamed(c, f"n_{c}")
    joined = r.join(n, ["scene_id", "tile_y", "tile_x"], "inner")

    def kernel(row):
        red = as_tile(row.r_data, row.r_height, row.r_width)
        nir = as_tile(row.n_data, row.n_height, row.n_width)
        if red.shape != nir.shape:  # P7 grid-compat guard
            raise ValueError(
                f"grid mismatch for {row.scene_id} tile "
                f"({row.tile_y},{row.tile_x}): {red.shape} vs {nir.shape}"
            )
        present = ~np.isnan(red) & ~np.isnan(nir)
        valid = present & (red != 0) & (nir != 0)
        red_sr = red.astype(np.float64) * SCALE + OFFSET
        nir_sr = nir.astype(np.float64) * SCALE + OFFSET
        with np.errstate(invalid="ignore", divide="ignore"):
            ndvi = (nir_sr - red_sr) / (nir_sr + red_sr + EPS)
        ndvi = np.clip(ndvi, -1.0, 1.0)
        out = np.full(red.shape, np.nan, dtype=np.float32)
        out[valid] = ndvi[valid].astype(np.float32)
        yield (
            row.scene_id, row.tile_y, row.tile_x, row.r_height, row.r_width,
            row.r_y0, row.r_x0, out.tobytes(),
            int(present.sum()), int(valid.sum()),
            # float64 sum of the float32 ndvi values, matching what the
            # pixel path feeds Spark's avg()
            float(ndvi[valid].astype(np.float32).astype(np.float64).sum()),
        )

    return map_rows(joined, kernel, NDVI_TILE_SCHEMA)


def tile_scene_stats(ndvi_tiles: DataFrame) -> DataFrame:
    """A1 finals over tile partials: count/valid/mean per scene."""
    return ndvi_tiles.groupBy("scene_id").agg(
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("n_valid").alias("n_valid"),
        F.round(F.sum("sum_ndvi") / F.sum("n_valid"), 6).alias("mean_ndvi"),
    )


COMPOSITE_LABEL = "__composite__"


def tile_composite(ndvi_tiles: DataFrame, label: str = COMPOSITE_LABEL) -> DataFrame:
    """Greenest-pixel mosaic composite: per tile grid position, the
    elementwise NaN-aware max of every scene's tile (np.fmax — a
    masked pixel never beats a real observation; all-masked stays NaN).

    The merge is associative, commutative, and IDEMPOTENT, so the
    composite is exactly incrementally maintainable: merging a batch's
    composite into a running product (streaming/scenes.py
    stream_scene_composite) gives bit-identical results to one big
    batch over all scenes — no reprocessing window needed. One shuffle
    keyed by grid position; per-group fan-in is bounded by
    scenes-per-position, so no skew at any corpus size. Output rows
    keep NDVI_TILE_SCHEMA (partials recomputed from the merged array),
    so tile_scene_stats / tiles_to_pixels work on composites
    unchanged.
    """

    def kernel(key, g):
        tile_y, tile_x, y0, x0, th, tw = key
        merged = as_tile(g.data[0], th, tw)
        for buf in g.data[1:]:
            merged = np.fmax(merged, as_tile(buf, th, tw))
        valid = ~np.isnan(merged)
        yield (
            label, tile_y, tile_x, th, tw, y0, x0, merged.tobytes(),
            int(merged.size), int(valid.sum()),
            float(merged[valid].sum()) if valid.any() else 0.0,
        )

    keys = ["tile_y", "tile_x", "y0", "x0", "height", "width"]
    return map_groups(ndvi_tiles.select(*keys, "data"), keys, kernel, NDVI_TILE_SCHEMA)


# ---------------------------------------------------------------------------
# tile-form AOI clip (J2) and overview cascade (A6): the 100 TB paths
# ---------------------------------------------------------------------------


def tile_clip_stats(ndvi_tiles: DataFrame, ring) -> DataFrame:
    """J2 + A1 in tile form: masked mean inside an AOI polygon without
    ever leaving tile representation.

    Same semantics as the pixel path
    (`clip_filter(tiles_to_pixels(t)).groupBy(scene).avg()`) — bbox
    prefilter then exact even-odd ray-cast — but evaluated as one
    vectorized numpy test per 256×256 tile instead of one codegen row
    per pixel. Two scale properties the pixel path can't give:

    - **bbox pruning happens per tile, JVM-side**: tiles whose extent
      misses the polygon bbox are dropped by a sargable filter on
      (y0, x0, height, width) before any Python/Arrow cost — the
      overwhelming majority of a 100 TB mosaic for a small AOI.
    - **no pixel explosion**: shuffle input is |surviving tiles| rows
      of partial aggregates, not |pixels| rows.

    Reference semantics: compute_ndvi.py:95-160 (mask + crop),
    load_to_postgis.py:74-79 (masked mean).
    """
    return tile_clip_stats_rings(ndvi_tiles, [ring])


def tile_clip_stats_rings(ndvi_tiles: DataFrame, rings) -> DataFrame:
    """`tile_clip_stats` over an even-odd RING SET (e.g. a dissolved
    multi-feature AOI from polyclip.union_all, which may contain hole
    rings): membership = parity of per-ring ray casts over the full
    set, so cavities are excluded and islands re-included exactly —
    summing independent per-ring stats would double-count any pixel
    under both an exterior and its hole. bbox pruning uses the bbox of
    all rings (holes lie inside their exteriors, so this equals the
    union's bbox)."""
    return _clip_stats(ndvi_tiles, [(0, rings)], ("scene_id",))


MULTI_CLIP_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("aoi_id", T.IntegerType()),
        T.StructField("n_in_aoi", T.LongType()),
        T.StructField("sum_ndvi", T.DoubleType()),
    ]
)


def tile_clip_stats_multi(ndvi_tiles: DataFrame, aois) -> DataFrame:
    """J2+A1 generalized to MANY AOIs — the reference's actual product
    shape (ndvi_clipped is keyed (full_id, aoi_id), 002_schema.sql:
    UNIQUE(full_id,aoi_id)): per-(scene, aoi) masked means in one pass.

    `aois` is [(aoi_id, ring), ...]. JVM-side prune keeps tiles whose
    extent intersects ANY AOI bbox (an OR of sargable comparisons);
    the kernel evaluates each AOI's ray-cast mask per surviving tile,
    cached per (tile-extent, aoi). Broadcast of the AOI list rides the
    closure — the same "broadcast the small side" decision as J2, now
    with |aois| polygons instead of one. Output shuffles |tiles|×|aois
    overlapping| partial rows — never pixels.
    """
    return _clip_stats(ndvi_tiles, [(a, [r]) for a, r in aois], ("scene_id", "aoi_id"))


def _clip_stats(ndvi_tiles: DataFrame, aois, by: tuple[str, ...]) -> DataFrame:
    """The one tile clip kernel behind the three `tile_clip_stats*`
    entry points: `aois` is [(aoi_id, rings), ...] with an even-odd
    ring set per AOI; partial (count, sum) rows per (tile, aoi) are
    summed over `by`."""
    masks = {int(a): _ring_mask(rings) for a, rings in aois}

    # Sargable tile-extent × AOI-bbox intersection (J3 shape).
    cond = None
    for minx, miny, maxx, maxy in (m.bbox for m in masks.values()):
        c = (
            (F.col("x0") <= F.lit(maxx))
            & (F.col("x0") + F.col("width") - 1 >= F.lit(minx))
            & (F.col("y0") <= F.lit(maxy))
            & (F.col("y0") + F.col("height") - 1 >= F.lit(miny))
        )
        cond = c if cond is None else (cond | c)
    pruned = ndvi_tiles.filter(cond).select("scene_id", "y0", "x0", "height", "width", "data")

    def kernel(row):
        arr = as_tile(row.data, row.height, row.width)
        finite = ~np.isnan(arr)
        for aoi_id, mask in masks.items():
            m = mask(row.y0, row.x0, row.height, row.width) & finite
            n = int(m.sum())
            if n:
                yield (row.scene_id, aoi_id, n, float(arr[m].astype(np.float64).sum()))

    partials = map_rows(pruned, kernel, MULTI_CLIP_SCHEMA)
    return partials.groupBy(*by).agg(
        F.sum("n_in_aoi").alias("n_in_aoi"),
        (F.sum("sum_ndvi") / F.sum("n_in_aoi")).alias("mean_ndvi"),
    )


def tile_overviews(
    ndvi_tiles: DataFrame, factors: tuple[int, ...] = (2, 4, 8, 16, 32)
) -> DataFrame:
    """A6 overview pyramid in tile form: NaN-aware average pooling
    inside each tile, all levels emitted in ONE narrow Arrow kernel
    pass — zero shuffles, versus one groupBy shuffle per level in the
    pixel-form cascade (`overviews.overview_cascade`).

    Works because power-of-two factors ≤ tile size never pool across
    tile boundaries, so every level is tile-local; semantics are the
    same chained average-of-averages the pixel cascade (and GDAL's own
    overview chaining, compute_ndvi.py:146-157) computes. Output rows
    carry a `factor` column; payload cells with no valid source pixels
    are NaN (= absent, consistent with `tiles_to_pixels`).
    """
    out_schema = T.StructType(
        [T.StructField("factor", T.IntegerType())] + list(TILE_SCHEMA)
    ).add("n_valid", T.LongType())

    def kernel(row):
        prev, prev_f = as_tile(row.data, row.height, row.width).astype(np.float64), 1
        for f in factors:
            step = f // prev_f
            assert (
                step * prev_f == f
                and step & (step - 1) == 0
                and prev.shape[0] % step == 0
                and prev.shape[1] % step == 0
            ), "factors must be successive power-of-2 multiples dividing the tile"
            for _ in range(step.bit_length() - 1):
                prev = _pool2(prev)
            prev_f = f
            payload = prev.astype(np.float32)
            yield (
                f, row.scene_id, row.band, row.tile_y, row.tile_x,
                payload.shape[0], payload.shape[1], row.y0 // f, row.x0 // f,
                payload.tobytes(), int(np.sum(~np.isnan(payload))),
            )

    # TILE_SCHEMA includes 'band'; NDVI tiles have none — emit ''.
    band = F.col("band") if "band" in ndvi_tiles.columns else F.lit("").alias("band")
    cols = ["scene_id", band, "tile_y", "tile_x", "height", "width", "y0", "x0", "data"]
    return map_rows(ndvi_tiles.select(*cols), kernel, out_schema)


VIZ_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("style", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def tile_viz_products(
    ndvi_tiles: DataFrame,
    factor: int = 8,
    rings=None,
    style: str = "viz",
) -> DataFrame:
    """The reference's `*_NDVI_clipped_viz.tif` product
    (compute_ndvi.py:144-158 rescale/reproject; loaded into the
    `ndvi_viz` table by load_to_postgis.py:277-328) as a Spark product
    table: per scene, the NDVI raster — optionally clipped to an
    even-odd AOI ring set at FULL resolution, like the reference masks
    before reprojecting — average-pooled down by `factor`,
    byte-rescaled [-1, 1] → [0, 255] (q_ndvi_viz_rescale's exact value
    semantics), and encoded as one grayscale PNG per scene via the
    native codec (operators/multimodal.py::encode_png). NaN/nodata
    pixels render as byte 0.

    Scale shape: the mask+pool stage is a narrow Arrow kernel (no
    shuffle); the single shuffle groups factor²-reduced tiles per
    scene, so assembling a 16k×16k scene at factor 8 moves ~16 MB of
    floats, never full-resolution pixels."""
    if factor & (factor - 1) or factor < 1:
        raise ValueError("factor must be a power of two")
    mask = _ring_mask(rings) if rings else None

    reduced_schema = T.StructType(
        [
            T.StructField("scene_id", T.StringType()),
            T.StructField("y0", T.IntegerType()),
            T.StructField("x0", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("data", T.BinaryType()),
        ]
    )

    def reduce_kernel(row):
        arr = as_tile(row.data, row.height, row.width).astype(np.float64)
        if mask is not None:
            arr = np.where(mask(row.y0, row.x0, row.height, row.width), arr, np.nan)
        # NaN-pad edge tiles up to a factor multiple; padded cells pool
        # as "no valid source" and render as nodata
        ph = -arr.shape[0] % factor
        pw = -arr.shape[1] % factor
        if ph or pw:
            arr = np.pad(arr, ((0, ph), (0, pw)), constant_values=np.nan)
        for _ in range(factor.bit_length() - 1):
            arr = _pool2(arr)
        yield (
            row.scene_id, row.y0 // factor, row.x0 // factor,
            arr.shape[0], arr.shape[1], arr.astype(np.float32).tobytes(),
        )

    reduced = map_rows(
        ndvi_tiles.select("scene_id", "y0", "x0", "height", "width", "data"),
        reduce_kernel,
        reduced_schema,
    )

    def assemble(key, g):
        from .multimodal import encode_png

        H = int((g.y0 + g.height).max())
        W = int((g.x0 + g.width).max())
        canvas = np.full((H, W), np.nan, dtype=np.float64)
        for y0, x0, h, w, buf in zip(g.y0, g.x0, g.height, g.width, g.data):
            canvas[y0 : y0 + h, x0 : x0 + w] = as_tile(buf, h, w)
        valid = ~np.isnan(canvas)
        byte = np.zeros(canvas.shape, dtype=np.uint8)
        with np.errstate(invalid="ignore"):
            byte[valid] = np.round(
                np.clip((canvas[valid] + 1.0) * 127.5, 0.0, 255.0)
            ).astype(np.uint8)
        yield key[0], style, H, W, int(valid.sum()), encode_png(byte)

    return map_groups(reduced, ["scene_id"], assemble, VIZ_SCHEMA)


# ---------------------------------------------------------------------------
# GeoTIFF files: single-band float32 through the one codec (tiff.py)
# ---------------------------------------------------------------------------

# The reference's storage profile (compute_ndvi.py:79-84): tiled
# 256×256, deflate, floating-point predictor 3 — byte planes compress
# far better than raw floats on smooth rasters.
REFERENCE_PROFILE = {"compression": "deflate", "predictor": 3, "tile": DEFAULT_TILE}


def write_geotiff(
    arr: np.ndarray,
    path: str,
    origin: tuple[float, float] = (0.0, 0.0),
    pixel_size: tuple[float, float] = (1.0, 1.0),
    epsg: int = 4326,
    nodata: float = NODATA,
) -> None:
    """Write a single-band float32 GeoTIFF: one uncompressed strip with
    ModelPixelScale/ModelTiepoint/GeoKey EPSG/GDAL nodata tags —
    readable by GDAL/QGIS."""
    blob = TF.write_tiff(
        np.asarray(arr, dtype=np.float32),
        origin=origin, pixel_size=pixel_size, epsg=epsg, nodata=nodata,
    )
    with open(path, "wb") as fh:
        fh.write(blob)


def read_geotiff(path: str) -> tuple[np.ndarray, dict]:
    """Read a single-band GeoTIFF file; see `decode_geotiff_bytes`.
    Returns (array, metadata)."""
    with open(path, "rb") as fh:
        return decode_geotiff_bytes(fh.read())


def decode_geotiff_bytes(buf: "bytes | memoryview") -> tuple[np.ndarray, dict]:
    """Bytes-level decode for `binaryFile` scans (S4): GeoTIFF content
    → (float array, {epsg, nodata, origin, pixel_size}).

    Reads everything operators/tiff.py reads — the engine's own
    striped and tiled profiles and the real Landsat C2L2 envelope
    (uint16 DN bands, LZW, multi-strip, big-endian, BigTIFF). Integer
    samples are cast to float32 exactly as the reference's kernel does
    on read (compute_ndvi.py:43-44); float32 comes back little-endian.

    Accepts any buffer-protocol object (bytes, memoryview, Arrow
    buffer view) — the Arrow scan hands in a zero-copy memoryview of
    the columnar payload."""
    arr, meta = TF.decode_tiff(buf)
    if arr.dtype.kind != "f":
        arr = arr.astype(np.float32)
    elif arr.dtype.itemsize == 4:
        arr = np.ascontiguousarray(arr, dtype="<f4")
    return arr, {k: meta[k] for k in ("epsg", "nodata", "origin", "pixel_size")}


# ---------------------------------------------------------------------------
# GeoTIFF scan (S4): binaryFile source → tile rows
# ---------------------------------------------------------------------------


def _band_array_from_tiff(buf, nodata_to_nan: bool, overview_level: int = 0) -> np.ndarray:
    if overview_level > 0:
        # COG/Landsat pyramid: read a reduced-resolution IFD instead of
        # the full band — the cheap path for previews/coarse stats.
        # Clamps to the deepest available level (GDAL semantics).
        levels = TF.decode_tiff_ifds(buf)
        arr, meta = levels[min(overview_level, len(levels) - 1)]
    else:
        arr, meta = decode_geotiff_bytes(buf)
    # decode_geotiff_bytes and decode_tiff_ifds return fresh arrays, so
    # the nodata mask can write in place
    a = arr.astype(np.float32, copy=False)
    if nodata_to_nan and meta.get("nodata") is not None:
        a[a == np.float32(meta["nodata"])] = np.nan
    return a


def _file_tile_rows(path: str, buf, tile: int, nodata_to_nan: bool, overview_level: int = 0):
    """One GeoTIFF's bytes → TILE_SCHEMA row tuples: the band split
    into tile×tile blocks, edge blocks NaN-padded."""
    import os

    stem = os.path.basename(path).rsplit(".", 1)[0]
    scene_id, band = stem.rsplit("_", 1)
    a = _band_array_from_tiff(buf, nodata_to_nan, overview_level)
    h, w = a.shape
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            block = np.full((tile, tile), np.nan, dtype=np.float32)
            sub = a[ty : ty + tile, tx : tx + tile]
            block[: sub.shape[0], : sub.shape[1]] = sub
            yield (
                scene_id, band, ty // tile, tx // tile,
                tile, tile, ty, tx, block.tobytes(),
            )


def scan_geotiffs(
    spark,
    path_glob: str,
    tile: int = DEFAULT_TILE,
    nodata_to_nan: bool = True,
    overview_level: int = 0,
    on_error: str = "raise",
) -> DataFrame:
    """`spark.read.format('binaryFile')` over a GeoTIFF glob → tile
    rows. scene_id and band parse from the `<scene_id>_<band>.tif`
    filename (F9, load_to_postgis.py:178-183); decode runs
    distributed over the file bytes. Files stay whole per task (a
    GeoTIFF is not splittable without range reads); parallelism comes
    from files ≫ cores, which is the 100 TB shape (thousands of
    scenes × 2 bands).

    The file payload crosses the JVM→Python boundary as an Arrow
    buffer and is decoded through a zero-copy memoryview — no per-cell
    Python bytes materialization, no pandas block manager on either
    side of the kernel.

    ``overview_level > 0`` reads that reduced-resolution IFD from the
    file's pyramid instead of the full band (clamped to the deepest
    available level) — coarse stats/previews touch 1/4^level of the
    pixels without a resample pass.

    ``on_error``: 'raise' fails the task on an undecodable file (the
    default — corruption should be loud in dev); 'skip' drops that
    file's tiles and keeps the scan alive — E1's quarantine-not-raise
    rule (main.py:118-139) for the scan stage. Pair 'skip' with
    `scan_geotiff_status` to record WHICH files failed."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    binf = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def decode(row):
        try:
            return list(_file_tile_rows(row.path, row.content, tile, nodata_to_nan, overview_level))
        except Exception:
            if on_error == "raise":
                raise
            return []  # quarantined: no tiles from this file

    return map_rows(binf, decode, TILE_SCHEMA)


def scan_scene_ndvi(
    spark,
    path_glob: str,
    tile: int = DEFAULT_TILE,
    red_band: str = "red",
    nir_band: str = "nir",
    on_error: str = "raise",
) -> DataFrame:
    """Fused S4+J1+P1-P6: binaryFile scan → pair band FILES per scene
    → decode both bands and emit NDVI tiles in one applyInArrow
    kernel.

    The general codec path (`scan_geotiffs` → `tile_ndvi`) shuffles
    every tile payload to join red⋈nir on the grid key. Here the J1
    join happens at file granularity instead: one shuffle of the raw
    file bytes (2 rows/scene — bytes that had to move once anyway,
    since the two bands arrive in different files), then decode, grid
    check (P7), NDVI math, and per-tile partial aggregates run in a
    single kernel with zero intermediate Arrow round-trips. Scenes
    missing either band emit nothing — J1's inner-join semantics
    (download_landsat_stac.py:148-151's `continue`).

    Memory bound: one scene's two bands per task (~2×40-120 MB for
    real Landsat C2L2), the same envelope SURVEY §4.2 accepts for the
    per-scene warp; use `scan_geotiffs`+`tile_ndvi` when single
    scenes exceed executor memory.
    """
    parsed = parse_band_files(spark.read.format("binaryFile").load(path_glob)).filter(
        F.col("band").isin(red_band, nir_band)
    )
    return scene_ndvi_from_bands(
        parsed, tile=tile, red_band=red_band, nir_band=nir_band, on_error=on_error
    )


PATH_BYTES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_path_bytes(paths_df: DataFrame, path_col: str = "path") -> DataFrame:
    """Distributed file read from a PATH COLUMN: each executor opens
    the paths in its own partitions and emits (path, content) rows —
    the relational twin of the `binaryFile` reader for the case where
    the file list is itself the result of a query (e.g. the streaming
    scene feed's "complete but unprocessed" join) rather than a glob.

    This is what keeps a 10⁷-file backlog off the driver: the path
    relation never collects; bytes materialize executor-side inside an
    Arrow batch. file:// and plain local paths supported (the test /
    single-node envelope); object-store paths would swap the `open`
    for the store's client exactly like sources/stac.py's
    `http_fetcher`."""

    def read(row):
        local = row.path[7:] if row.path.startswith("file://") else row.path
        local = local if not local.startswith("file:") else local[5:]
        with open(local, "rb") as fh:
            yield (row.path, fh.read())

    return map_rows(
        paths_df.select(F.col(path_col).alias("path")), read, PATH_BYTES_SCHEMA
    )


SCAN_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
    ]
)


def scan_geotiff_status(spark, path_glob: str) -> DataFrame:
    """Per-file decode status for a GeoTIFF glob: (path, scene_id,
    band, ok, error, height, width) — the quarantine ledger companion
    to `scan_geotiffs(on_error='skip')` (E1: failures become ROWS the
    pipeline can count, join, and retry — main.py:118-139's per-scene
    try/except as a relation). Decode runs fully (not just header
    parse), so truncated pixel data is caught, not just bad magic."""
    import os

    binf = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def probe(row):
        stem = os.path.basename(row.path).rsplit(".", 1)[0]
        scene_id, _, band = stem.rpartition("_")
        try:
            arr, _meta = decode_geotiff_bytes(row.content)
        except Exception as e:  # noqa: BLE001 — E1: row, not raise
            yield (row.path, scene_id or stem, band, False, f"{type(e).__name__}: {e}"[:200], None, None)
        else:
            yield (row.path, scene_id or stem, band, True, None, int(arr.shape[0]), int(arr.shape[1]))

    return map_rows(binf, probe, SCAN_STATUS_SCHEMA)


BAND_FILENAME_PATTERN = r"^(.+)_([A-Za-z0-9]+)\.tif$"


def parse_band_names(
    binary_df: DataFrame, keep: tuple[str, ...] = ("content",)
) -> DataFrame:
    """(path, …) rows → (scene_id, band, *keep) via the
    `<scene_id>_<band>.tif` filename contract (F9). `keep` selects
    which source columns ride along (content for decode paths, path
    for streaming ledgers)."""
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return binary_df.select(
        F.regexp_extract(fname, BAND_FILENAME_PATTERN, 1).alias("scene_id"),
        F.regexp_extract(fname, BAND_FILENAME_PATTERN, 2).alias("band"),
        *keep,
    )


def parse_band_files(binary_df: DataFrame) -> DataFrame:
    """(path, content) rows → (scene_id, band, content) — see
    parse_band_names."""
    return parse_band_names(binary_df, keep=("content",))


def _scene_ndvi_rows(
    scene_id: str,
    by_band: dict,
    tile: int,
    red_band: str,
    nir_band: str,
    on_error: str,
) -> list[tuple]:
    """One scene's band buffers → NDVI_TILE_SCHEMA row tuples.

    Per-TILE math: identical elementwise results to a whole-scene
    pass, but the float64 intermediates live per 256² tile (~3 MB
    working set) instead of per scene (~6 arrays × 8 B × h·w —
    200 MB at 4096²). With 32 concurrent scene tasks the whole-scene
    version thrashes memory bandwidth; this one stays cache-resident
    (measured ~2× at full occupancy)."""
    if red_band not in by_band or nir_band not in by_band:
        return []
    try:
        red = _band_array_from_tiff(by_band[red_band], nodata_to_nan=True)
        nir = _band_array_from_tiff(by_band[nir_band], nodata_to_nan=True)
        if red.shape != nir.shape:  # P7 grid-compat guard
            raise ValueError(
                f"grid mismatch for {scene_id}: {red.shape} vs {nir.shape}"
            )
    except Exception:
        if on_error == "quarantine":
            return []
        raise

    h, w = red.shape
    rows = []
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            r32 = red[ty : ty + tile, tx : tx + tile]
            n32 = nir[ty : ty + tile, tx : tx + tile]
            pres = ~np.isnan(r32) & ~np.isnan(n32)
            val = pres & (r32 != 0) & (n32 != 0)
            red_sr = r32.astype(np.float64) * SCALE + OFFSET
            nir_sr = n32.astype(np.float64) * SCALE + OFFSET
            with np.errstate(invalid="ignore", divide="ignore"):
                ndvi = (nir_sr - red_sr) / (nir_sr + red_sr + EPS)
            ndvi = np.clip(ndvi, -1.0, 1.0)
            block = np.full((tile, tile), np.nan, dtype=np.float32)
            sub = block[: r32.shape[0], : r32.shape[1]]
            sub[val] = ndvi[val].astype(np.float32)
            rows.append(
                (
                    scene_id,
                    ty // tile,
                    tx // tile,
                    tile,
                    tile,
                    ty,
                    tx,
                    block.tobytes(),
                    int(pres.sum()),
                    int(val.sum()),
                    float(sub[~np.isnan(sub)].astype(np.float64).sum()),
                )
            )
    return rows


def scene_ndvi_from_bands(
    parsed: DataFrame,
    tile: int = DEFAULT_TILE,
    red_band: str = "red",
    nir_band: str = "nir",
    on_error: str = "raise",
) -> DataFrame:
    """The fused kernel over an already-parsed (scene_id, band,
    content) relation — shared by the batch glob scan and the
    streaming scene feed (streaming/scenes.py).

    ``on_error='quarantine'`` gives the reference's per-scene failure
    isolation (E1, main.py:118-139): a scene whose bands fail to
    decode or whose grids mismatch emits nothing instead of failing
    the job — one bad file cannot kill a 100 TB run. The default
    'raise' is strict (fail fast, the right mode for tests/dev).

    Runs through `map_groups`: each scene's band payloads arrive as
    zero-copy memoryviews of the Arrow buffers, and tile payloads leave
    as an Arrow batch — pandas never touches the ~100 MB binary
    cells."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', got {on_error!r}")

    def kernel(key, g):
        by_band = dict(zip(g.band, g.content))
        return _scene_ndvi_rows(key[0], by_band, tile, red_band, nir_band, on_error)

    bands = parsed.select("scene_id", "band", "content")
    return map_groups(bands, ["scene_id"], kernel, NDVI_TILE_SCHEMA)


# ---------------------------------------------------------------------------
# distributed GeoTIFF export (K1 sink): one file per scene
# ---------------------------------------------------------------------------


def export_scene_geotiffs(
    ndvi_tiles: DataFrame,
    out_dir: str,
    pixel_size: tuple[float, float] = (1.0, 1.0),
    epsg: int = 4326,
    nodata: float = NODATA,
) -> DataFrame:
    """Assemble each scene's tiles into one mosaic and write
    `<scene_id>_NDVI.tif` in the reference's tiled/deflate/predictor-3
    profile — the reference's per-scene product (compute_ndvi.py:73-88)
    as a distributed `map_groups` sink (scenes write in parallel from
    executors; `out_dir` must be shared storage on a cluster). Returns (scene_id, path, height,
    width, n_bytes) receipts."""
    schema = T.StructType(
        [
            T.StructField("scene_id", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def assemble(key, g):
        import os

        (scene_id,) = key
        max_y = int((g.y0 + g.height).max())
        max_x = int((g.x0 + g.width).max())
        min_y = int(g.y0.min())
        min_x = int(g.x0.min())
        mosaic = np.full((max_y - min_y, max_x - min_x), np.nan, dtype=np.float32)
        for y0, x0, h, w, buf in zip(g.y0, g.x0, g.height, g.width, g.data):
            y, x = y0 - min_y, x0 - min_x
            mosaic[y : y + h, x : x + w] = as_tile(buf, h, w)
        out = np.where(np.isnan(mosaic), np.float32(nodata), mosaic)
        path = os.path.join(out_dir, f"{scene_id}_NDVI.tif")
        blob = TF.write_tiff(
            out, origin=(min_x, min_y), pixel_size=pixel_size, epsg=epsg,
            nodata=nodata, **REFERENCE_PROFILE,
        )
        with open(path, "wb") as fh:
            fh.write(blob)
        yield scene_id, path, out.shape[0], out.shape[1], os.path.getsize(path)

    tiles = ndvi_tiles.select("scene_id", "y0", "x0", "height", "width", "data")
    return map_groups(tiles, ["scene_id"], assemble, schema)


def export_pixel_geotiffs(
    pixels: DataFrame,
    out_dir: str,
    value_col: str = "v",
    suffix: str = "_NDVI_clipped_viz",
    origin: tuple[float, float] = (0.0, 0.0),
    pixel_size: tuple[float, float] = (1.0, 1.0),
    epsg: int = 3857,
    nodata: float = NODATA,
) -> DataFrame:
    """The reference's ndvi_viz product (compute_ndvi.py:144-158 +
    load_to_postgis.py:279-322): per-scene GeoTIFF export from PIXEL
    rows — the natural output shape of the reprojection warp
    (warp.reproject_scene), whose web-mercator grid is exactly the
    reference's viz CRS. Tiled/deflate profile, nodata-filled, one
    distributed writer task per scene. Returns write receipts like
    export_scene_geotiffs."""
    schema = T.StructType(
        [
            T.StructField("scene_id", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def assemble(key, g):
        import os

        (scene_id,) = key
        h = int(g.y.max()) + 1
        w = int(g.x.max()) + 1
        arr = np.full((h, w), np.nan, dtype=np.float32)
        arr[g.y, g.x] = np.asarray(g.v, dtype=np.float32)
        out = np.where(np.isnan(arr), np.float32(nodata), arr)
        path = os.path.join(out_dir, f"{scene_id}{suffix}.tif")
        blob = TF.write_tiff(
            out, origin=origin, pixel_size=pixel_size, epsg=epsg, nodata=nodata,
            **REFERENCE_PROFILE,
        )
        with open(path, "wb") as fh:
            fh.write(blob)
        yield scene_id, path, h, w, os.path.getsize(path)

    px = pixels.select("scene_id", "y", "x", F.col(value_col).alias("v"))
    return map_groups(px, ["scene_id"], assemble, schema)

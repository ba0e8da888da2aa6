"""Raster codec tier: tile⇄pixel roundtrip, tile-path NDVI parity with
the (oracle-checked) pixel path, and the pure-Python GeoTIFF codec."""

from pathlib import Path

import numpy as np
import pyspark.sql.functions as F

from ndvi_etl_pipeline_spark.operators import raster
from ndvi_etl_pipeline_spark.operators import tiff as TF
from ndvi_etl_pipeline_spark.plans.queries import (
    derived_pixels,
    q_ndvi_scene_stats,
)


def band_tiles(spark, sf_dir, tile=32):
    return raster.pixels_to_tiles(derived_pixels(spark, sf_dir), tile=tile)


def test_tile_pixel_roundtrip(spark, sf_dir):
    px = derived_pixels(spark, sf_dir)
    # last-write-wins for duplicate grid cells (the generator can emit
    # several rows per cell; the packer keeps one — compare as sets of
    # cells with ANY of the original values)
    orig = {
        (r.scene_id, r.band, r.y, r.x)
        for r in px.select("scene_id", "band", "y", "x").distinct().collect()
    }
    back = raster.tiles_to_pixels(band_tiles(spark, sf_dir))
    got = {
        (r.scene_id, r.band, r.y, r.x)
        for r in back.select("scene_id", "band", "y", "x").collect()
    }
    assert got == orig


def test_tile_ndvi_matches_pixel_path(spark, sf_dir):
    """The tile-form kernel must reproduce the oracle-checked pixel
    path bit-for-bit at round(6)."""
    # dedupe grid cells first so both paths see identical inputs
    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    tiles = raster.pixels_to_tiles(px, tile=32)
    got = {
        r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi)
        for r in raster.tile_scene_stats(raster.tile_ndvi(tiles)).collect()
    }
    # pixel path on the same deduped input
    from ndvi_etl_pipeline_spark.functions.ndvi import ndvi_from_dn
    from ndvi_etl_pipeline_spark.operators.bands import pair_bands

    nv = pair_bands(px).select(
        "scene_id", ndvi_from_dn("red_dn", "nir_dn", nodata_dn=0.0).alias("ndvi")
    )
    want = {
        r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi)
        for r in nv.groupBy("scene_id")
        .agg(
            F.count("*").alias("n_pixels"),
            F.count("ndvi").alias("n_valid"),
            F.round(F.avg("ndvi"), 6).alias("mean_ndvi"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for scene in want:
        assert got[scene][0] == want[scene][0], scene
        assert got[scene][1] == want[scene][1], scene
        assert abs(got[scene][2] - want[scene][2]) <= 1e-6, scene


def test_geotiff_roundtrip(tmp_path):
    rng = np.random.default_rng(42)
    arr = rng.normal(size=(57, 43)).astype(np.float32)
    p = str(tmp_path / "t.tif")
    raster.write_geotiff(arr, p, origin=(25.1, 60.6), pixel_size=(0.1, 0.1), epsg=4326)
    back, meta = raster.read_geotiff(p)
    np.testing.assert_array_equal(back, arr)
    assert meta["epsg"] == 4326
    assert meta["nodata"] == raster.NODATA
    assert meta["origin"] == (25.1, 60.6)
    assert meta["pixel_size"] == (0.1, 0.1)


def _seeded_band(seed, h, w):
    """The arrays behind the committed seed_*.tif goldens."""
    rng = np.random.default_rng(seed)
    a = (rng.normal(size=(h, w)) * 1000).astype(np.float32)
    a[rng.random((h, w)) < 0.07] = np.nan
    return a


def test_seed_written_goldens_decode_identically():
    """Files written by the engine's earlier, separate GeoTIFF writers
    (a striped uncompressed band, and a tile=32 deflate/predictor-3
    band, both odd-sized with NaN cells) still decode pixel-identically,
    with their geo metadata, through the one codec."""
    fixtures = Path(__file__).parent / "fixtures"
    cases = [
        ("seed_striped_float32.tif", _seeded_band(20260101, 37, 23),
         {"epsg": 32635, "origin": (25.1, 60.6), "pixel_size": (0.1, 0.25)}),
        ("seed_tiled_deflate_fp3.tif", _seeded_band(20260102, 45, 71),
         {"epsg": 3857, "origin": (-12.5, 44.0), "pixel_size": (30.0, 30.0)}),
    ]
    for name, want, geo in cases:
        back, meta = raster.read_geotiff(str(fixtures / name))
        assert back.dtype == np.dtype("<f4")
        np.testing.assert_array_equal(back, want)
        assert meta == {**geo, "nodata": raster.NODATA}


def _write_tiled(arr, path, **kw):
    with open(path, "wb") as fh:
        fh.write(TF.write_tiff(np.asarray(arr, np.float32), nodata=raster.NODATA, **kw))


def test_export_scene_geotiffs(spark, sf_dir, tmp_path):
    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    ndvi_tiles = raster.tile_ndvi(raster.pixels_to_tiles(px, tile=32))
    receipts = raster.export_scene_geotiffs(ndvi_tiles, str(tmp_path)).collect()
    assert len(receipts) == 3  # 3 derived scenes
    stats = {
        r.scene_id: r.mean_ndvi
        for r in q_ndvi_scene_stats(spark, sf_dir).collect()
    }
    for r in receipts:
        arr, meta = raster.read_geotiff(r.path)
        assert arr.shape == (r.height, r.width)
        vals = arr[arr != raster.NODATA]
        assert vals.size > 0
        assert -1.0 <= vals.min() and vals.max() <= 1.0


def _ndvi_tiles(spark, sf_dir):
    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    return raster.tile_ndvi(raster.pixels_to_tiles(px, tile=32))


def test_tile_clip_matches_pixel_path(spark, sf_dir):
    """tile_clip_stats (bbox-pruned tile kernel) must agree with the
    pixel path (clip_filter explode + groupBy avg) exactly."""
    from ndvi_etl_pipeline_spark.functions.geo import clip_filter

    ring = [(10.0, 12.0), (88.0, 18.0), (92.0, 85.0), (50.0, 55.0), (15.0, 80.0)]
    ndvi = _ndvi_tiles(spark, sf_dir)
    got = {
        r.scene_id: (r.n_in_aoi, r.mean_ndvi)
        for r in raster.tile_clip_stats(ndvi, ring).collect()
    }
    px = raster.tiles_to_pixels(ndvi, value_name="ndvi")
    want = {
        r.scene_id: (r.n, r.mean_ndvi)
        for r in clip_filter(px, "x", "y", ring)
        .groupBy("scene_id")
        .agg(F.count("*").alias("n"), F.avg("ndvi").alias("mean_ndvi"))
        .collect()
    }
    assert set(got) == set(want)
    for scene, (n, mean) in want.items():
        assert got[scene][0] == n, scene
        assert abs(got[scene][1] - mean) <= 1e-9, scene


def test_tile_overviews_match_pixel_cascade(spark, sf_dir):
    """tile_overviews (single narrow pass) must agree with the
    oracle-checked pixel-form cascade at every level to float32
    chaining precision."""
    from ndvi_etl_pipeline_spark.operators.overviews import overview_cascade

    factors = (2, 4, 8, 16, 32)
    ndvi = _ndvi_tiles(spark, sf_dir)
    tiles_ov = raster.tile_overviews(ndvi, factors=factors)
    px = raster.tiles_to_pixels(ndvi, value_name="ndvi")
    levels = overview_cascade(px, factors=factors, value_col="ndvi")
    for f in factors:
        got = {
            (r.scene_id, r.y, r.x): r.v
            for r in raster.tiles_to_pixels(
                tiles_ov.filter(F.col("factor") == f).drop("factor", "n_valid"),
                value_name="v",
            ).collect()
        }
        want = {(r.scene_id, r.y, r.x): r.v for r in levels[f].collect()}
        assert set(got) == set(want), f
        for k, v in want.items():
            assert abs(got[k] - v) <= 1e-5, (f, k)


def test_scan_scene_ndvi_matches_codec_path(spark, tmp_path):
    """The fused file-level path (scan_scene_ndvi) must reproduce the
    general codec path (scan_geotiffs → tile_ndvi) exactly, and drop
    scenes missing a band (J1 inner-join semantics)."""
    rng = np.random.default_rng(7)
    for i in range(3):
        scene = f"SC{i:02d}_20220601"
        red = rng.integers(0, 30000, size=(70, 90)).astype(np.float32)
        nir = rng.integers(0, 60000, size=(70, 90)).astype(np.float32)
        raster.write_geotiff(red, str(tmp_path / f"{scene}_red.tif"))
        if i != 2:  # scene 2 is missing its NIR band → must drop out
            raster.write_geotiff(nir, str(tmp_path / f"{scene}_nir.tif"))

    fused = raster.scan_scene_ndvi(spark, str(tmp_path), tile=32)
    general = raster.tile_ndvi(raster.scan_geotiffs(spark, str(tmp_path), tile=32))

    def key_stats(df):
        return {
            (r.scene_id, r.tile_y, r.tile_x): (r.n_pixels, r.n_valid, round(r.sum_ndvi, 9))
            for r in df.collect()
        }

    got, want = key_stats(fused), key_stats(general)
    assert got == want
    assert not any(k[0].startswith("SC02") for k in got)

    # payloads bit-identical too
    fp = raster.tiles_to_pixels(fused, value_name="v").collect()
    gp = raster.tiles_to_pixels(general, value_name="v").collect()
    assert {(r.scene_id, r.y, r.x, r.v) for r in fp} == {
        (r.scene_id, r.y, r.x, r.v) for r in gp
    }


def test_arrow_scan_kernels_match_numpy_oracle(spark, tmp_path):
    """The Arrow scan kernels against numpy on the source arrays:
    `scan_geotiffs` tiles are each band's NaN-padded tile×tile blocks,
    byte for byte, and `scene_ndvi_from_bands` payloads and per-tile
    partials follow the P1-P6 formula on those blocks."""
    tile = 32
    rng = np.random.default_rng(11)
    bands = {}
    for i in range(2):
        scene = f"AR{i:02d}_20220601"
        for band, hi in (("red", 30000), ("nir", 60000)):
            a = rng.integers(0, hi, size=(70, 90)).astype(np.float32)
            raster.write_geotiff(a, str(tmp_path / f"{scene}_{band}.tif"))
            bands[scene, band] = a

    def blocks(a):
        for y0 in range(0, a.shape[0], tile):
            for x0 in range(0, a.shape[1], tile):
                blk = np.full((tile, tile), np.nan, dtype=np.float32)
                sub = a[y0 : y0 + tile, x0 : x0 + tile]
                blk[: sub.shape[0], : sub.shape[1]] = sub
                yield y0 // tile, x0 // tile, y0, x0, blk

    want_tiles = {
        (s, b, ty, tx, y0, x0, tile, tile, blk.tobytes())
        for (s, b), a in bands.items()
        for ty, tx, y0, x0, blk in blocks(a)
    }
    got_tiles = {
        (r.scene_id, r.band, r.tile_y, r.tile_x, r.y0, r.x0, r.height, r.width, bytes(r.data))
        for r in raster.scan_geotiffs(spark, str(tmp_path), tile=tile).collect()
    }
    assert got_tiles == want_tiles

    want_ndvi = set()
    for s in {s for s, _ in bands}:
        for (ty, tx, y0, x0, red), (*_, nir) in zip(blocks(bands[s, "red"]), blocks(bands[s, "nir"])):
            present = ~np.isnan(red) & ~np.isnan(nir)
            valid = present & (red != 0) & (nir != 0)
            red_sr = red.astype(np.float64) * raster.SCALE + raster.OFFSET
            nir_sr = nir.astype(np.float64) * raster.SCALE + raster.OFFSET
            with np.errstate(invalid="ignore", divide="ignore"):
                ndvi = np.clip((nir_sr - red_sr) / (nir_sr + red_sr + raster.EPS), -1.0, 1.0)
            out = np.full(red.shape, np.nan, dtype=np.float32)
            out[valid] = ndvi[valid].astype(np.float32)
            want_ndvi.add(
                (s, ty, tx, y0, x0, out.tobytes(), int(present.sum()), int(valid.sum()),
                 round(float(out[valid].astype(np.float64).sum()), 9))
            )
    parsed = raster.parse_band_files(spark.read.format("binaryFile").load(str(tmp_path)))
    got_ndvi = {
        (r.scene_id, r.tile_y, r.tile_x, r.y0, r.x0, bytes(r.data), r.n_pixels, r.n_valid,
         round(r.sum_ndvi, 9))
        for r in raster.scene_ndvi_from_bands(parsed, tile=tile).collect()
    }
    assert got_ndvi == want_ndvi


def test_scan_scene_ndvi_quarantines_bad_scene(spark, tmp_path):
    """E1 per-scene failure isolation: a corrupt band file must drop
    only its own scene under on_error='quarantine', and fail the job
    under the default strict mode."""
    import pytest

    rng = np.random.default_rng(11)
    for s in ("GOOD_20220601", "BAD_20220602"):
        red = rng.integers(0, 30000, size=(48, 48)).astype(np.float32)
        nir = rng.integers(0, 60000, size=(48, 48)).astype(np.float32)
        raster.write_geotiff(red, str(tmp_path / f"{s}_red.tif"))
        raster.write_geotiff(nir, str(tmp_path / f"{s}_nir.tif"))
    (tmp_path / "BAD_20220602_red.tif").write_bytes(b"NOT A TIFF AT ALL")

    good = raster.scan_scene_ndvi(
        spark, str(tmp_path), tile=32, on_error="quarantine"
    )
    assert {r.scene_id for r in good.select("scene_id").distinct().collect()} == {
        "GOOD_20220601"
    }

    with pytest.raises(Exception):
        raster.scan_scene_ndvi(spark, str(tmp_path), tile=32).count()


def test_tiled_deflate_geotiff_roundtrip(tmp_path):
    """The reference's storage profile (tiled 256, deflate, predictor 3,
    compute_ndvi.py:79-84) in pure Python: roundtrip must be lossless
    (incl. NaN and odd dims) and the fp predictor must actually earn
    its keep on smooth data."""
    rng = np.random.default_rng(21)
    # smooth field (realistic NDVI) + NaN holes + odd (non-tile) dims
    yy, xx = np.mgrid[0:300, 0:517]
    smooth = (np.sin(yy / 37.0) * np.cos(xx / 53.0)).astype(np.float32)
    smooth[::11, ::7] = np.nan

    p_tiled = str(tmp_path / "tiled.tif")
    _write_tiled(smooth, p_tiled, origin=(25.1, 60.6), pixel_size=(0.1, 0.1),
                 epsg=32635, **raster.REFERENCE_PROFILE)
    back, meta = raster.read_geotiff(p_tiled)
    np.testing.assert_array_equal(back, smooth)
    assert meta["epsg"] == 32635
    assert meta["origin"] == (25.1, 60.6)
    assert meta["nodata"] == raster.NODATA

    # predictor-3 + deflate must beat plain deflate of the raw bytes
    import os
    import zlib

    raw_deflate = len(zlib.compress(smooth.tobytes(), 6))
    assert os.path.getsize(p_tiled) < raw_deflate * 0.9

    # predictor=1 path also roundtrips
    p1 = str(tmp_path / "p1.tif")
    _write_tiled(smooth, p1, compression="deflate", tile=256)
    back1, _ = raster.read_geotiff(p1)
    np.testing.assert_array_equal(back1, smooth)

    # and the binaryFile-scan decoder handles the tiled profile too
    arr2, meta2 = raster.decode_geotiff_bytes(open(p_tiled, "rb").read())
    np.testing.assert_array_equal(arr2, smooth)


def test_export_tiled_profile(spark, sf_dir, tmp_path):
    """K1 writes the reference's tiled-deflate-predictor-3 profile end
    to end."""
    ndvi_tiles = _ndvi_tiles(spark, sf_dir)
    receipts = raster.export_scene_geotiffs(ndvi_tiles, str(tmp_path)).collect()
    assert receipts
    for r in receipts:
        arr, meta = raster.read_geotiff(r.path)
        assert arr.shape == (r.height, r.width)
        assert meta["nodata"] == raster.NODATA
        with open(r.path, "rb") as fh:
            blob = fh.read()
        en, _, ifds = TF.parse_tiff_ifds(blob)
        tags = ifds[0]
        assert TF._tag1(blob, en, tags, TF.T_TILE_WIDTH) == 256
        assert TF._tag1(blob, en, tags, TF.T_COMPRESSION) == 8
        assert TF._tag1(blob, en, tags, TF.T_PREDICTOR) == 3


def test_scan_handles_tiled_profile_files(spark, tmp_path):
    """scan_scene_ndvi must give identical results whether band files
    use the striped or the tiled/deflate/predictor-3 profile."""
    rng = np.random.default_rng(17)
    (tmp_path / "a").mkdir(), (tmp_path / "b").mkdir()
    for s in ("S1_20220601", "S2_20220602"):
        red = rng.integers(0, 30000, size=(70, 90)).astype(np.float32)
        nir = rng.integers(0, 60000, size=(70, 90)).astype(np.float32)
        raster.write_geotiff(red, str(tmp_path / "a" / f"{s}_red.tif"))
        raster.write_geotiff(nir, str(tmp_path / "a" / f"{s}_nir.tif"))
        profile = {**raster.REFERENCE_PROFILE, "tile": 32}
        _write_tiled(red, str(tmp_path / "b" / f"{s}_red.tif"), **profile)
        _write_tiled(nir, str(tmp_path / "b" / f"{s}_nir.tif"), **profile)

    def stats(d):
        return {
            r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi)
            for r in raster.tile_scene_stats(
                raster.scan_scene_ndvi(spark, str(d), tile=32)
            ).collect()
        }

    assert stats(tmp_path / "a") == stats(tmp_path / "b")


def _pool2_reference(a):
    """2×2 NaN-aware average of a float64 array: the mean of a block's
    finite cells, NaN where it has none."""
    quads = np.stack([a[0::2, 0::2], a[0::2, 1::2], a[1::2, 0::2], a[1::2, 1::2]])
    n = (~np.isnan(quads)).sum(axis=0)
    s = np.where(np.isnan(quads), 0.0, quads).sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(n > 0, s / n, np.nan)


def _ring_contains(ring, px, py):
    """Even-odd ray cast of points against one [(x, y), ...] ring."""
    inside = np.zeros(px.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        if y1 == y2:
            continue
        crosses = (y1 > py) != (y2 > py)
        inside ^= crosses & (px < x1 + (py - y1) * (x2 - x1) / (y2 - y1))
    return inside


def test_tile_viz_products_match_numpy_reference(spark, sf_dir):
    """Each scene's viz PNG decodes to its NDVI raster, masked to the
    ring at full resolution when rings are given, average-pooled by
    `factor` in chained 2×2 NaN-aware steps (GDAL's overview chaining;
    every step stays inside one tile because `factor` divides the
    tile), carried as float32, and rescaled [-1, 1] → [0, 255] with
    nodata as byte 0 — pixel for pixel."""
    from ndvi_etl_pipeline_spark.operators.multimodal import decode_png

    ndvi = _ndvi_tiles(spark, sf_dir)
    scenes = {}
    for r in ndvi.collect():
        scenes.setdefault(r.scene_id, []).append(r)
    # generic vertices: no pixel centre lies on an edge
    ring = [(10.3, 12.6), (88.7, 18.2), (92.4, 85.9), (50.1, 55.3), (15.8, 80.4)]
    for factor, rings in ((8, None), (4, [ring])):
        got = {
            r.scene_id: r
            for r in raster.tile_viz_products(ndvi, factor=factor, rings=rings).collect()
        }
        assert set(got) == set(scenes)
        for scene, tiles in scenes.items():
            H = max(t.y0 + t.height for t in tiles)
            W = max(t.x0 + t.width for t in tiles)
            full = np.full((H, W), np.nan)
            for t in tiles:
                full[t.y0 : t.y0 + t.height, t.x0 : t.x0 + t.width] = np.frombuffer(
                    t.data, dtype=np.float32
                ).reshape(t.height, t.width)
            if rings:
                yy, xx = np.mgrid[0:H, 0:W].astype(np.float64)
                full[~_ring_contains(ring, xx, yy)] = np.nan
            pooled = full
            for _ in range(factor.bit_length() - 1):
                pooled = _pool2_reference(pooled)
            pooled = pooled.astype(np.float32).astype(np.float64)
            valid = ~np.isnan(pooled)
            want = np.zeros(pooled.shape, dtype=np.uint8)
            want[valid] = np.round(np.clip((pooled[valid] + 1.0) * 127.5, 0.0, 255.0))
            row = got[scene]
            png = decode_png(bytes(row.png))
            assert (row.style, row.height, row.width) == ("viz", H // factor, W // factor)
            assert row.n_valid == int(valid.sum()) > 0
            np.testing.assert_array_equal(png.reshape(want.shape), want, err_msg=(scene, factor))

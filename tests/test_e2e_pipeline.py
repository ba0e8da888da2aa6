"""End-to-end pipeline on synthetic scenes — the reference's CI
philosophy ("whole pipeline exits 0", SURVEY §5.3) plus value checks:

GeoTIFF files on disk → binaryFile scan+decode → tile form → NDVI
kernel → scene stats / AOI clip / overviews → GeoTIFF + parquet
upsert sinks. No network, no Postgres, no external geo libs.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.functions.geo import clip_filter
from ndvi_etl_pipeline_spark.operators import raster
from ndvi_etl_pipeline_spark.operators.overviews import overview_cascade
from ndvi_etl_pipeline_spark.operators.upsert import upsert_replace, write_upsert

H = W = 64
SCENES = ["LC08_L2SP_189017_20220606_02_T1", "LC09_L2SP_189018_20220614_02_T1"]


@pytest.fixture(scope="module")
def scene_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("scenes")
    rng = np.random.default_rng(7)
    for i, scene in enumerate(SCENES):
        red = rng.integers(500, 2000, size=(H, W)).astype(np.float32)
        nir = rng.integers(2000, 6000, size=(H, W)).astype(np.float32)
        # plant fill zeros (the uint16 DN fill the reference masks, F6)
        red[::7, ::5] = 0.0
        nir[3::11, 2::9] = 0.0
        raster.write_geotiff(red, str(d / f"{scene}_red.tif"), nodata=-9999.0)
        raster.write_geotiff(nir, str(d / f"{scene}_nir.tif"), nodata=-9999.0)
    return d


def expected_stats(path, scene):
    red, _ = raster.read_geotiff(str(path / f"{scene}_red.tif"))
    nir, _ = raster.read_geotiff(str(path / f"{scene}_nir.tif"))
    valid = (red != 0) & (nir != 0)
    r = red.astype(np.float64) * raster.SCALE + raster.OFFSET
    n = nir.astype(np.float64) * raster.SCALE + raster.OFFSET
    ndvi = np.clip((n - r) / (n + r + raster.EPS), -1, 1).astype(np.float32)
    return valid.sum(), float(ndvi[valid].astype(np.float64).mean())


def test_full_pipeline(spark, scene_dir, tmp_path):
    tiles = raster.scan_geotiffs(spark, str(scene_dir), tile=32)
    ndvi_tiles = raster.tile_ndvi(tiles)

    # 1. scene stats match a straight numpy replay of the reference math
    stats = {r.scene_id: r for r in raster.tile_scene_stats(ndvi_tiles).collect()}
    assert set(stats) == set(SCENES)
    for scene in SCENES:
        n_valid, mean = expected_stats(scene_dir, scene)
        assert stats[scene].n_pixels == H * W
        assert stats[scene].n_valid == n_valid
        assert stats[scene].mean_ndvi == pytest.approx(mean, abs=1e-6)

    # 2. AOI clip (concave ring) over the pixel form
    ring = [(5.5, 5.5), (50.5, 8.5), (55.5, 55.5), (30.5, 30.5), (8.5, 50.5)]
    px = raster.tiles_to_pixels(ndvi_tiles, value_name="ndvi")
    clipped = clip_filter(px, "x", "y", ring)
    mean_by_scene = {
        r.scene_id: r.mean_ndvi
        for r in clipped.groupBy("scene_id")
        .agg(F.avg("ndvi").alias("mean_ndvi"))
        .collect()
    }
    assert set(mean_by_scene) == set(SCENES)
    for v in mean_by_scene.values():
        assert -1.0 <= v <= 1.0

    # 3. overview cascade: level-2 tile count is ceil(64/2)² per scene
    levels = overview_cascade(px, factors=(2, 4), value_col="ndvi")
    l2 = levels[2].filter(F.col("scene_id") == SCENES[0])
    assert l2.count() == 32 * 32
    # global mean is preserved by full-block averaging within ~tolerance
    m_base = px.filter(F.col("scene_id") == SCENES[0]).agg(F.avg("ndvi")).first()[0]
    m_l2 = l2.agg(F.avg("v")).first()[0]
    assert m_l2 == pytest.approx(m_base, abs=0.02)

    # 4. GeoTIFF product sink + readback
    receipts = raster.export_scene_geotiffs(ndvi_tiles, str(tmp_path)).collect()
    assert {r.scene_id for r in receipts} == set(SCENES)
    arr, meta = raster.read_geotiff(receipts[0].path)
    assert arr.shape == (H, W)
    assert meta["nodata"] == raster.NODATA

    # 5. parquet product table with K4 upsert semantics
    products = raster.tile_scene_stats(ndvi_tiles).withColumn(
        "acquisition_date", F.to_date(F.split("scene_id", "_")[3], "yyyyMMdd")
    )
    out = str(tmp_path / "ndvi_products")
    write_upsert(products, out, partition_cols=("acquisition_date",))
    first = spark.read.parquet(out)
    assert first.count() == 2
    # replay with an updated row: last write wins, no duplicates
    updated = products.withColumn(
        "mean_ndvi", F.when(F.col("scene_id") == SCENES[0], 0.5).otherwise(F.col("mean_ndvi"))
    )
    merged = upsert_replace(first, updated, keys=("scene_id",))
    write_upsert(merged, out, partition_cols=("acquisition_date",))
    final = {r.scene_id: r.mean_ndvi for r in spark.read.parquet(out).collect()}
    assert len(final) == 2
    assert final[SCENES[0]] == 0.5


def test_viz_product_webmercator_roundtrip(spark, tmp_path):
    """The reference's ndvi_viz chain (compute_ndvi.py:144-158): NDVI
    pixels on a lon/lat grid → web-mercator reprojection
    (warp.reproject_scene + functions/crs.py) → tiled GeoTIFF export.
    Decoded product must carry the 3857 profile and reproduce a linear
    field at every interior pixel."""
    import numpy as np

    from ndvi_etl_pipeline_spark.functions.crs import (
        lonlat_to_webmercator,
        webmercator_to_lonlat,
    )
    from ndvi_etl_pipeline_spark.operators.warp import reproject_scene

    h = w = 50
    lon0, dlon, lat0, dlat = 25.0, 0.01, 60.6, -0.01
    jj, ii = np.meshgrid(np.arange(w), np.arange(h))
    f = 2.0 * (lon0 + (jj + 0.5) * dlon) - 1.0 * (lat0 + (ii + 0.5) * dlat)
    pixels = spark.createDataFrame(
        [("V1", int(y), int(x), float(f[y, x])) for y in range(h) for x in range(w)],
        "scene_id string, y int, x int, ndvi double",
    )

    x_min, y_max = lonlat_to_webmercator(np.array([25.05]), np.array([60.55]))
    dst = (float(x_min[0]), 400.0, 0.0, float(y_max[0]), -400.0, 0.0)
    src = (lon0, dlon, 0.0, lat0, dlat, 0.0)
    out_h = out_w = 16

    warped = reproject_scene(
        pixels, src, dst, out_h, out_w,
        webmercator_to_lonlat, lambda lo, la: (lo, la),
    )
    receipts = raster.export_pixel_geotiffs(
        warped, str(tmp_path), origin=(dst[0], dst[3]),
        pixel_size=(dst[1], dst[4]), epsg=3857,
    ).collect()
    assert len(receipts) == 1 and receipts[0].path.endswith("_NDVI_clipped_viz.tif")

    arr, meta = raster.read_geotiff(receipts[0].path)
    assert meta.get("epsg", 3857) == 3857
    X = dst[0] + (np.arange(out_w) + 0.5) * dst[1]
    Y = dst[3] + (np.arange(out_h) + 0.5) * dst[4]
    XX, YY = np.meshgrid(X, Y)
    lo, la = webmercator_to_lonlat(XX, YY)
    expect = 2.0 * lo - 1.0 * la
    got = arr[: out_h, : out_w].astype(np.float64)
    valid = got != -9999.0
    assert valid.sum() > out_h * out_w * 0.5
    assert np.max(np.abs(got[valid] - expect[valid])) < 1e-5  # float32 product


def test_cli_entry_point(spark, tmp_path):
    """`python -m ndvi_etl_pipeline_spark` — the reference's
    `python main.py` equivalent — runs the full demo pipeline and
    writes the three product tables; re-running upserts idempotently
    (same scene set → same row count)."""
    from ndvi_etl_pipeline_spark.__main__ import main

    scenes = str(tmp_path / "scenes")
    out = tmp_path / "products"
    rc = main(
        [
            "--scenes", scenes, "--out", str(out),
            "--demo", "2", "--aoi", "10,10 400,20 450,450 20,400",
            "--overviews",
        ]
    )
    assert rc == 0
    full = spark.read.parquet(str(out / "ndvi_full_stats"))
    assert full.count() == 2
    assert {"scene_id", "acquisition_date"} <= set(full.columns)
    assert spark.read.parquet(str(out / "ndvi_clipped")).count() == 2
    factors = {
        r["factor"]
        for r in spark.read.parquet(str(out / "ndvi_overviews"))
        .select("factor").distinct().collect()
    }
    assert factors == {2, 4, 8, 16, 32}

    # 4th product table (reference db/init/002_schema.sql:28-35): one
    # viz row per clipped scene, FK-chained by (scene_id, aoi_id) with
    # acquisition_date + style, PNG payload decodable by the native codec
    from ndvi_etl_pipeline_spark.operators.multimodal import decode_png

    viz = spark.read.parquet(str(out / "ndvi_viz")).collect()
    assert len(viz) == 2
    clipped_keys = {
        (r.scene_id, r.aoi_id)
        for r in spark.read.parquet(str(out / "ndvi_clipped")).collect()
    }
    for r in viz:
        assert (r.scene_id, r.aoi_id) in clipped_keys  # FK chain
        assert r.style == "viz" and r.acquisition_date is not None
        img = decode_png(bytes(r.png))
        assert img.shape[:2] == (r.height, r.width) == (64, 64)  # 512/8
        assert r.n_valid > 0
        assert img.max() > 0  # some pixels inside the AOI rendered

    # idempotent replay (K3/K4 upsert semantics at the CLI surface)
    rc = main(["--scenes", scenes, "--out", str(out), "--demo", "2"])
    assert rc == 0
    assert spark.read.parquet(str(out / "ndvi_full_stats")).count() == 2


def test_cli_geojson_aoi_dissolve(spark, tmp_path):
    """--aoi-geojson: multi-feature AOI dissolves (unary_union) before
    clipping; the dissolved geometry lands in <out>/aois and the clip
    count equals the OR-membership count over the original rings."""
    import json

    import numpy as np

    from ndvi_etl_pipeline_spark.__main__ import main
    from ndvi_etl_pipeline_spark.functions.polyclip import point_in_ring

    r1 = [[10.5, 10.5], [100.5, 10.5], [100.5, 100.5], [10.5, 100.5], [10.5, 10.5]]
    r2 = [[80.5, 80.5], [200.5, 80.5], [200.5, 200.5], [80.5, 200.5], [80.5, 80.5]]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {}, "geometry": {"type": "Polygon", "coordinates": [r]}}
            for r in (r1, r2)
        ],
    }
    gj = tmp_path / "aoi.geojson"
    gj.write_text(json.dumps(fc))
    scenes, out = tmp_path / "scenes", tmp_path / "products"
    rc = main(
        [
            "--scenes", str(scenes), "--out", str(out),
            "--demo", "1", "--aoi-geojson", str(gj),
        ]
    )
    assert rc == 0

    aois = spark.read.parquet(str(out / "aois")).collect()
    assert len(aois) == 1 and aois[0].name == "AOI"
    geom = json.loads(aois[0].geom_geojson)
    assert geom["type"] == "Polygon"  # overlapping features merged to ONE

    clip = spark.read.parquet(str(out / "ndvi_clipped")).collect()
    assert len(clip) == 1
    ring_a = [tuple(p) for p in r1[:-1]]
    ring_b = [tuple(p) for p in r2[:-1]]
    # demo scene is 512²; n_in_aoi counts VALID pixels inside the OR
    # of rings — the demo synthesizer zeroes red at (y%7==0, x%5==0)
    # and nir at (y≡3 mod 11, x≡2 mod 9), which become NaN NDVI
    def valid(x, y):
        red0 = y % 7 == 0 and x % 5 == 0
        nir0 = y >= 3 and (y - 3) % 11 == 0 and x >= 2 and (x - 2) % 9 == 0
        return not (red0 or nir0)

    want = sum(
        (point_in_ring(x, y, ring_a) or point_in_ring(x, y, ring_b)) and valid(x, y)
        for y in range(512)
        for x in range(512)
    )
    assert clip[0].n_in_aoi == want

    # idempotent re-run (K4 upsert): counts unchanged
    rc = main(
        [
            "--scenes", str(scenes), "--out", str(out),
            "--aoi-geojson", str(gj),
        ]
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "aois")).count() == 1
    assert spark.read.parquet(str(out / "ndvi_clipped")).count() == 1


def test_cli_in_process_keeps_caller_session_confs(spark, tmp_path):
    """An in-process CLI run reuses the caller's session without
    re-tuning it: `get_spark` leaves a running session's confs alone
    instead of resetting shuffle partitions to its own default."""
    import os

    from ndvi_etl_pipeline_spark.__main__ import main

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    # a value neither of get_spark's defaults (SPARK_GRAFT_CPUS, the
    # core count) resolves to
    defaults = {os.environ.get("SPARK_GRAFT_CPUS"), str(os.cpu_count())}
    probe = next(str(n) for n in range(5, 64) if str(n) not in defaults)
    spark.conf.set(key, probe)
    try:
        rc = main(
            ["--scenes", str(tmp_path / "scenes"), "--out", str(tmp_path / "out"),
             "--demo", "1"]
        )
        assert rc == 0
        assert spark.conf.get(key) == probe
    finally:
        spark.conf.set(key, before)

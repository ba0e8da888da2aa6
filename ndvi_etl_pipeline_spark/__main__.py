"""CLI entry point — the reference's `python main.py` (SURVEY §3.1)
as one Spark job.

    python -m ndvi_etl_pipeline_spark --scenes DIR --out DIR \
        [--aoi "x1,y1 x2,y2 ..."] [--demo N] [--overviews]

Stages (each the Spark-native form of the reference's per-scene loop,
main.py:118-139): scan+decode GeoTIFF bands → fused NDVI → per-scene
stats → optional AOI clip stats → viz product (clipped, downsampled,
byte-rescaled PNG per scene) → optional overview pyramid → parquet
product tables (ndvi_full_stats / ndvi_clipped / ndvi_viz /
ndvi_overviews — full 4-table parity with db/init/002_schema.sql)
with last-write-wins upsert semantics — then a run summary mirroring
main.py:143-154's counters.

`--demo N` synthesizes N deterministic scenes into --scenes first
(no network; the reference's STAC download path is exercised offline
by tests/test_stac.py)."""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

import numpy as np


def _parse_ring(text: str) -> list[tuple[float, float]]:
    pts = []
    for tok in text.replace(";", " ").split():
        x, y = tok.split(",")
        pts.append((float(x), float(y)))
    if len(pts) < 3:
        raise SystemExit("--aoi needs at least 3 'x,y' vertices")
    return pts


def _synthesize_scenes(scene_dir: Path, n: int, size: int = 512) -> None:
    from .operators import raster

    scene_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(7)
    for i in range(n):
        scene = f"LC09_L2SP_{190 + i:03d}018_{20240301 + i}_demo_02_T1"
        red = rng.integers(500, 2000, size=(size, size)).astype(np.float32)
        nir = rng.integers(2000, 6000, size=(size, size)).astype(np.float32)
        red[::7, ::5] = 0.0
        nir[3::11, 2::9] = 0.0
        raster.write_geotiff(red, str(scene_dir / f"{scene}_red.tif"), nodata=-9999.0)
        raster.write_geotiff(nir, str(scene_dir / f"{scene}_nir.tif"), nodata=-9999.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ndvi_etl_pipeline_spark")
    ap.add_argument("--scenes", required=True, help="directory of *_red/_nir.tif")
    ap.add_argument("--out", required=True, help="output product directory")
    ap.add_argument("--aoi", help="AOI ring: 'x1,y1 x2,y2 x3,y3 ...' (pixel coords)")
    ap.add_argument(
        "--aoi-geojson",
        metavar="FILE",
        help="AOI FeatureCollection: features are dissolved (unary "
        "union) before clipping, and the dissolved geometry is "
        "written to <out>/aois — the reference's boundary.geojson "
        "path (download_landsat_stac.py:72-84, load_to_postgis "
        "aois table)",
    )
    ap.add_argument("--demo", type=int, metavar="N", help="synthesize N scenes first")
    ap.add_argument("--overviews", action="store_true", help="write pyramid levels")
    ap.add_argument("--cpus", type=int, default=None, help="local parallelism")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators import raster
    from .operators.arrow_kernels import local_df
    from .operators.upsert import write_upsert
    from .session import get_spark

    t0 = time.perf_counter()
    scene_dir = Path(args.scenes)
    if args.demo:
        _synthesize_scenes(scene_dir, args.demo)

    kwargs = {"app_name": "ndvi-pipeline"}
    if args.cpus:
        kwargs["shuffle_partitions"] = args.cpus
    spark = get_spark(**kwargs)
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)

    ndvi = raster.scan_scene_ndvi(
        spark, str(scene_dir), on_error="quarantine"
    ).cache()

    stats = raster.tile_scene_stats(ndvi).withColumn(
        "acquisition_date",
        F.to_date(F.regexp_extract("scene_id", r"_(\d{8})_", 1), "yyyyMMdd"),
    )
    write_upsert(
        stats, str(out / "ndvi_full_stats"), partition_cols=("acquisition_date",)
    )
    n_scenes = spark.read.parquet(str(out / "ndvi_full_stats")).count()

    n_clip = 0
    if args.aoi_geojson:
        import json as _json

        from .functions.polyclip import rings_to_geojson, union_polygons

        doc = _json.loads(Path(args.aoi_geojson).read_text())
        feats = doc.get("features", [doc])

        def _poly(coords):
            # GeoJSON Polygon coordinates = [exterior, hole, hole...];
            # interior rings ride along as the component's holes —
            # dropping them would count cavity pixels into the AOI.
            return (
                [tuple(p) for p in coords[0][:-1]],
                [[tuple(p) for p in ring[:-1]] for ring in coords[1:]],
            )

        polys = []
        for ft in feats:
            geom = ft.get("geometry", ft)
            if geom.get("type") == "Polygon":
                polys.append(_poly(geom["coordinates"]))
            elif geom.get("type") == "MultiPolygon":
                polys.extend(_poly(c) for c in geom["coordinates"])
        if not polys:
            raise SystemExit(f"no polygon features in {args.aoi_geojson}")
        # A2: dissolve BEFORE clipping (unary_union,
        # download_landsat_stac.py:79). The dissolved set may contain
        # hole rings (even-odd), so clip with parity membership over
        # the FULL ring set — summing independent per-ring stats would
        # double-count cavity pixels under exterior+hole.
        dissolved = union_polygons(polys)
        aois_df = local_df(
            spark,
            [(1, "AOI", _json.dumps(rings_to_geojson(dissolved)))],
            "aoi_id int, name string, geom_geojson string",
        )
        write_upsert(aois_df, str(out / "aois"), partition_cols=())
        clip = raster.tile_clip_stats_rings(ndvi, dissolved).withColumn(
            "aoi_id", F.lit(1)
        )
        write_upsert(clip, str(out / "ndvi_clipped"), partition_cols=())
        n_clip = spark.read.parquet(str(out / "ndvi_clipped")).count()
        clip_rings = dissolved
    elif args.aoi:
        ring = _parse_ring(args.aoi)
        clip = raster.tile_clip_stats(ndvi, ring).withColumn("aoi_id", F.lit(1))
        write_upsert(clip, str(out / "ndvi_clipped"), partition_cols=())
        n_clip = spark.read.parquet(str(out / "ndvi_clipped")).count()
        clip_rings = [ring]

    n_viz = 0
    if n_clip:
        # fourth product table — the reference's ndvi_viz
        # (db/init/002_schema.sql:28-35): one viz raster per CLIPPED
        # scene, FK-chained to ndvi_clipped via (scene_id, aoi_id)
        # (the parquet twin of clipped_id) + aoi_id + acquisition_date
        # + style, exactly the columns load_to_postgis.py:314 inserts.
        clipped = spark.read.parquet(str(out / "ndvi_clipped")).select(
            "scene_id", "aoi_id"
        )
        viz = (
            raster.tile_viz_products(ndvi, factor=8, rings=clip_rings)
            .join(clipped, "scene_id")  # viz only where a clipped row exists
            .withColumn(
                "acquisition_date",
                F.to_date(F.regexp_extract("scene_id", r"_(\d{8})_", 1), "yyyyMMdd"),
            )
        )
        write_upsert(viz, str(out / "ndvi_viz"), partition_cols=())
        n_viz = spark.read.parquet(str(out / "ndvi_viz")).count()

    n_levels = 0
    if args.overviews:
        levels = raster.tile_overviews(ndvi)
        levels.write.mode("overwrite").partitionBy("factor").parquet(
            str(out / "ndvi_overviews")
        )
        n_levels = (
            spark.read.parquet(str(out / "ndvi_overviews"))
            .select("factor")
            .distinct()
            .count()
        )

    dt = time.perf_counter() - t0
    print(
        f"pipeline OK: {n_scenes} scenes -> {out} "
        f"(clip rows: {n_clip}, viz rows: {n_viz}, "
        f"overview levels: {n_levels}) in {dt:.1f}s"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

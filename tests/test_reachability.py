"""Every top-level def in the package is run by an entry point or is
public API.

The scan parses the package with `ast` and follows names, not imports:
a def is reached when its name occurs in reached code, in any module.
It starts from the entry points:

- the registry's builders (every def decorated with `register(...)`);
- the programs: `__main__.py` and `curate.py` (the two CLIs),
  `__spark_entry__.py`, `bench.py`, `tools/` and `perfbench/`;
- the package's import-time code (module-level statements that are
  not defs, imports or plain name bindings);
- `PUBLIC_API`: the defs README's Quickstart or coverage map offers to
  callers, each with the README row it serves (README's "Public API"
  list is the same set).

Tests are not an entry point: a def only the tests call is a leftover,
and the test names it. Delete it, or add it to `PUBLIC_API` together
with its README row.
"""

import ast
from pathlib import Path

import ndvi_etl_pipeline_spark

PACKAGE = Path(ndvi_etl_pipeline_spark.__file__).resolve().parent
REPO = PACKAGE.parent
PROGRAMS = ("__main__.py", "curate.py")
ENTRY_GLOBS = ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py")

PUBLIC_API = {
    # the reference's pipeline stages (README coverage map, SURVEY ids)
    "sources/stac.py::stac_search_params": "S1 STAC search",
    "sources/stac.py::search_stac": "S1 STAC search",
    "sources/stac.py::items_to_df": "S1 STAC search",
    "sources/stac.py::select_scenes": "S2 signing",
    "sources/stac.py::fetch_assets": "S3 distributed fetch",
    "sources/stac.py::complete_scenes": "§2.10 error flow (completeness gate)",
    "operators/raster.py::scan_geotiffs": "S4 GeoTIFF scan",
    "operators/raster.py::scan_geotiff_status": "S4 GeoTIFF scan; §2.10 error flow (quarantine rows)",
    "operators/raster.py::read_geotiff": "K1 GeoTIFF sink (reads a written product back)",
    "operators/raster.py::export_scene_geotiffs": "K1 GeoTIFF sink",
    "operators/raster.py::export_pixel_geotiffs": "K1 GeoTIFF sink",
    "sources/geojson.py::read_feature_collection": "S5 GeoJSON read",
    "sources/geojson.py::collect_rings": "S5 GeoJSON read",
    "sources/geojson.py::bbox_to_feature_collection": "S5 GeoJSON read",
    "sources/geojson.py::union_clip_filter": "A2 geometry union",
    "functions/polyclip.py::rings_area_even_odd": "A2 geometry union (the area the union tests check)",
    "operators/bands.py::validate_grids": "J1 band pairing",
    "functions/geo.py::ring_literal": "J2 AOI clip (the ring column the ray-cast takes)",
    "functions/geo.py::buffered_clip_filter": "J2 AOI clip (the reference's buffer retry)",
    "functions/geo.py::bbox_intersects": "J3 footprint precheck",
    "functions/geo.py::pad_bbox_km": "P1-P9 scalar math (P8)",
    "functions/geo.py::utm_epsg": "P1-P9 scalar math (P9)",
    "functions/geo.py::polygon_area": "A3/A4 bounds/centroid",
    "functions/geo.py::polygon_centroid": "A3/A4 bounds/centroid",
    "operators/upsert.py::upsert_ignore": "K2-K4 upserts",
    "sinks/postgis.py::write_upsert_jdbc": "K2-K4 upserts",
    "sinks/postgis.py::write_upsert_jdbc_stream": "K2-K4 upserts",
    "sinks/postgis.py::raster_upsert_sql": "K2-K4 upserts",
    "sinks/postgis.py::raster_wkb": "K2-K4 upserts (raster column wire format)",
    "sinks/postgis.py::parse_raster_wkb": "K2-K4 upserts (raster column wire format)",
    "sinks/postgis.py::add_raster_constraints_sql": "K5 DDL hooks",
    "sinks/postgis.py::drop_raster_constraints_sql": "K5 DDL hooks",
    "operators/stats.py::with_observed_metrics": "K6 run summary",
    "operators/warp.py::reproject_scene": "warp (§4.2#3); K1 GeoTIFF sink (ndvi_viz)",
    "functions/crs.py::lonlat_to_utm": "warp (§4.2#3)",
    "functions/crs.py::utm_to_lonlat": "warp (§4.2#3)",
    "functions/crs.py::lonlat_to_webmercator": "warp (§4.2#3)",
    "functions/crs.py::webmercator_to_lonlat": "warp (§4.2#3)",
    # streaming (§2.9 and the streaming rows of the training-data table)
    "streaming/events.py::hourly_rollup": "§2.9 streaming",
    "streaming/events.py::sliding_activity": "§2.9 streaming",
    "streaming/events.py::session_windows": "§2.9 streaming",
    "streaming/events.py::stateful_sessionize": "§2.9 streaming",
    "streaming/events.py::dedup_within_watermark": "§2.9 streaming",
    "streaming/events.py::click_purchase_join": "§2.9 streaming",
    "streaming/events.py::stream_static_enrich": "§2.9 streaming",
    "streaming/events.py::run_stream_over_parquet": "§2.9 streaming",
    "streaming/events.py::run_two_streams_over_parquet": "§2.9 streaming",
    "streaming/events.py::run_stream_with_upsert_sink": "§2.9 streaming (foreachBatch upsert)",
    "streaming/events.py::countmin_counters": "streaming count-min",
    "streaming/scenes.py::stream_scene_stats": "Quickstart; streaming scene feed",
    "streaming/scenes.py::stream_scene_composite": "streaming scene feed",
    "streaming/ann.py::stream_ann_topk": "streaming ANN serving",
    "streaming/documents.py::stream_curated_documents": "streaming document curation",
    "streaming/documents.py::stream_gopher_documents": "streaming document curation",
    "streaming/documents.py::stream_tokenized_documents": "streaming document curation",
    "streaming/documents.py::stream_selected_documents": "streaming document curation",
    "streaming/documents.py::train_dsir_model": "streaming document curation",
    "streaming/documents.py::stream_neardup_documents": "streaming embedding near-dup admission gate",
    "streaming/documents.py::stream_neardup_documents_lake": "streaming embedding near-dup admission gate",
    "streaming/documents.py::stream_curated_documents_lake": "lake-backed curation drain",
    "streaming/documents.py::incremental_curation_from_lake": "lake-backed curation drain",
    "streaming/documents.py::incremental_curation_cdf": "lake-backed curation drain",
    # the training-data operator table
    "sources/lake.py::lake_adopt": "manifest lake (publishes an audited clone as one commit)",
    "operators/dedup.py::exact_duplicates": "dedup",
    "functions/text.py::winnowing_fingerprints": "dedup (winnowing)",
    "operators/similarity.py::brute_force_topk": "similarity: brute-force top-k",
    "operators/selection.py::hard_negatives": "data selection",
    "operators/selection.py::semdedup_cluster_stats": "data selection (SemDeDup)",
    "operators/scale.py::write_bucketed": "scale (bucketed co-located joins)",
    "operators/scale.py::salted_join": "scale (skew salting)",
    "operators/scale.py::write_zordered": "scale (Z-order write clustering)",
    "sources/webarchive.py::read_warc": "WARC web-archive ingestion",
    "sources/webarchive.py::warc_documents": "WARC web-archive ingestion",
    "sinks/jsonl.py::write_jsonl_shards": "sharded JSONL training-data export",
    "sinks/jsonl.py::read_jsonl": "sharded JSONL training-data export",
    "operators/multimodal.py::scan_media": "multimodal",
    "operators/multimodal.py::synthesize_media": "multimodal",
    "operators/multimodal.py::image_features": "multimodal (features)",
    "operators/multimodal.py::audio_features": "multimodal (features)",
    "operators/multimodal.py::audio_spectral_features": "multimodal (features)",
    "operators/multimodal.py::video_motion_features": "multimodal (features)",
    "operators/imagehash.py::image_hashes": "multimodal (features: perceptual hashes)",
    "operators/multimodal.py::resize_images": "multimodal (resize)",
    "operators/multimodal.py::sample_frames": "multimodal (frame-sample)",
    "operators/multimodal.py::patchify_images": "multimodal (patchify)",
    "operators/multimodal.py::encode_ppm": "multimodal (decode; the codec's encoder half)",
    "operators/multimodal.py::encode_bmp": "multimodal (decode; the codec's encoder half)",
    "operators/multimodal.py::encode_wav": "multimodal (decode; the codec's encoder half)",
    "operators/jpeg.py::encode_jpeg12": "multimodal (decode; the codec's encoder half)",
    "operators/jpeg.py::encode_jpeg_progressive": "multimodal (decode; the codec's encoder half)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _registered(fn) -> bool:
    for dec in fn.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _bound(stmt) -> list[str]:
    """The names a plain `name = ...` binding defines; [] for any other
    statement (a subscript or attribute store runs at import)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [t.id for t in targets] if all(isinstance(t, ast.Name) for t in targets) else []


def _scan():
    """({"<module path>::<name>": node}, {name: names its code uses},
    the names the entry points use)."""
    defs, uses, roots = {}, {}, set()

    def alias(stmt):  # `import x as y`: reaching y reaches x
        for a in stmt.names:
            if a.asname:
                uses.setdefault(a.asname, set()).add(a.name.rpartition(".")[2])

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                alias(stmt)
            elif isinstance(stmt, _DEFS):
                defs[f"{rel}::{stmt.name}"] = stmt
                uses.setdefault(stmt.name, set()).update(_names(stmt))
                if rel in PROGRAMS or _registered(stmt):
                    roots.add(stmt.name)
            elif bound := _bound(stmt):
                for name in bound:
                    if name != "__all__" and stmt.value:  # an export is not a use
                        uses.setdefault(name, set()).update(_names(stmt.value))
                if rel in PROGRAMS:
                    roots |= _names(stmt)
            elif not (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)):
                roots |= _names(stmt)  # runs at import
    for pattern in ENTRY_GLOBS:
        for path in sorted(REPO.glob(pattern)):
            tree = ast.parse(path.read_text())
            for node in ast.walk(tree):
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    alias(node)
            roots |= _names(tree)
    return defs, uses, roots


def _reached(uses, roots) -> set[str]:
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(uses.get(name, ()))
    return seen


def test_every_def_is_reached_from_an_entry_point_or_public():
    defs, uses, roots = _scan()
    assert sorted(set(PUBLIC_API) - set(defs)) == [], "PUBLIC_API names defs that do not exist"
    reached = _reached(uses, roots | {key.rpartition("::")[2] for key in PUBLIC_API})
    unreached = sorted(key for key in defs if key.rpartition("::")[2] not in reached)
    assert unreached == [], (
        "top-level defs no entry point runs (delete them, or add them to "
        f"PUBLIC_API with their README row): {unreached}"
    )


def test_readme_public_api_table_lists_public_api():
    """README's "Public API" table rows read `| <row> | `<path>` `<name>`,
    ... [; `<path>` ...] |`, and list exactly PUBLIC_API."""
    section = (REPO / "README.md").read_text().split("\n## Public API\n", 1)[1]
    listed = {}
    for line in section.split("\n## ", 1)[0].splitlines():
        if line.startswith("| ") and not line.startswith("| coverage-map row |"):
            row, defs = line.strip("| ").split(" | ")
            for group in defs.split("; "):
                path, _, names = group.partition(" ")
                for name in names.split(", "):
                    listed[f"{path.strip('`')}::{name.strip('`')}"] = row
    assert listed == PUBLIC_API

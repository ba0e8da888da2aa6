"""STAC catalog source (SURVEY §2.1 S1-S3, §2.2 F1-F5/F10, §2.10 E1-E2).

Reference behavior being re-expressed (download_landsat_stac.py):
- :96-118  server-side search with cloud/date/spatial predicates
- :139     asset signing
- :64-70   case-insensitive asset-key pick over the asset map
- :143-145 LE07 sensor exclusion
- :120-122 max_items cap
- :157-178 streamed band download with content-type (V1) and
           min-size (V2) validation; failures skip the scene (E2)

Engine design:
- The search runs on the driver (one small HTTP exchange — catalog
  metadata, not data). Predicates are BOTH pushed into the request
  (the reference's manual pushdown, §4.1) AND re-applied as real
  `.filter()`s on the resulting DataFrame — the engine never trusts a
  remote source to have filtered correctly, and Catalyst can reuse
  the predicates for pruning downstream.
- Items land in a DataFrame with MAP/STRUCT columns mirroring the
  STAC document shape; asset selection is a pure projection
  (`coalesce` over lower-cased map keys), no UDF.
- The *download* is the distributed part: one fetch task per scene
  row through the engine's Arrow boundary (arrow_kernels.map_rows),
  results as status rows (ok/quarantined + error) — per-scene
  failure isolation as data, not exceptions (E1).
  The fetcher is injectable so tests run without network and a
  cluster can swap in a cloud-storage copy.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_RED_KEYS = ("red", "sr_b4", "b04", "b4")
DEFAULT_NIR_KEYS = ("nir08", "sr_b5", "b08", "b5")

ASSET_TYPE = T.StructType(
    [T.StructField("href", T.StringType()), T.StructField("type", T.StringType())]
)

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("cloud_cover", T.DoubleType()),
        T.StructField("geometry", T.StringType()),  # GeoJSON text
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("assets", T.MapType(T.StringType(), ASSET_TYPE)),
    ]
)


def stac_search_params(
    collection: str,
    start: str,
    end: str,
    max_cloud_cover: float,
    bbox: tuple[float, float, float, float] | None = None,
    intersects: dict | None = None,
    page_limit: int = 200,
) -> dict:
    """Build the search request body with every predicate pushed
    server-side (the reference's manual pushdown,
    download_landsat_stac.py:96-118). Pure function — the single
    source of truth tests lock down."""
    params: dict = {
        "collections": [collection],
        "datetime": f"{start}/{end}",
        "query": {"eo:cloud_cover": {"lte": max_cloud_cover}},
        "limit": page_limit,
    }
    if intersects is not None:
        params["intersects"] = intersects
    elif bbox is not None:
        params["bbox"] = list(bbox)
    return params


def search_stac(
    endpoint: str, params: dict, timeout: float = 60.0
) -> list[dict]:
    """Driver-side POST to `{endpoint}/search`, following `next` page
    links. Network-touching — callers own retries/offline fallback."""
    import requests

    url = endpoint.rstrip("/") + "/search"
    items: list[dict] = []
    body = dict(params)
    while True:
        resp = requests.post(url, json=body, timeout=timeout)
        resp.raise_for_status()
        payload = resp.json()
        items.extend(payload.get("features", []))
        nxt = next(
            (l for l in payload.get("links", []) if l.get("rel") == "next"), None
        )
        if nxt is None or "body" not in nxt:
            break
        body = nxt["body"]
    return items


def item_to_row(it: dict) -> tuple:
    """One STAC item document → a row tuple matching ITEM_SCHEMA.
    Shared by the driver-side `items_to_df` path and the executor-side
    `stac_catalog` Python DataSource (sources/stac_datasource.py)."""
    import json

    props = it.get("properties", {}) or {}
    return (
        it.get("id"),
        props.get("datetime"),
        float(props["eo:cloud_cover"]) if "eo:cloud_cover" in props else None,
        json.dumps(it.get("geometry")) if it.get("geometry") else None,
        [float(v) for v in it.get("bbox", [])] or None,
        {k: str(v) for k, v in props.items()},
        {
            k: (a.get("href"), a.get("type"))
            for k, a in (it.get("assets", {}) or {}).items()
        },
    )


def items_to_df(spark: SparkSession, items: list[dict]) -> DataFrame:
    """STAC item documents → typed DataFrame (properties/assets as
    MAP columns, SURVEY §1.4)."""
    return spark.createDataFrame([item_to_row(it) for it in items], ITEM_SCHEMA)


def _pick_asset(assets_lc, keys: tuple[str, ...]):
    """coalesce over the lower-cased asset map — F5's case-insensitive
    first-match (download_landsat_stac.py:64-70) as a projection."""
    return F.coalesce(*[assets_lc[k]["href"] for k in keys])


def select_scenes(
    items: DataFrame,
    start: str,
    end: str,
    max_cloud_cover: float,
    exclude_prefix: str = "LE07",
    red_keys: tuple[str, ...] = DEFAULT_RED_KEYS,
    nir_keys: tuple[str, ...] = DEFAULT_NIR_KEYS,
    max_items: int = 10,
    sign: Callable[..., F.Column] | None = None,
) -> DataFrame:
    """F1-F5 + L1 on the item table → the scene relation
    [scene_id, acquisition_date, sensor, cloud_cover, red_href,
    nir_href]. Scenes missing either band drop out (J1's inner-join
    semantics, the reference's `continue`). Deterministic order:
    lowest cloud first, then id (the glob-order nondeterminism in the
    reference is a bug our engine does not reproduce)."""
    assets_lc = F.transform_keys(F.col("assets"), lambda k, _: F.lower(k))
    red = _pick_asset(assets_lc, tuple(k.lower() for k in red_keys))
    nir = _pick_asset(assets_lc, tuple(k.lower() for k in nir_keys))
    if sign is not None:
        red, nir = sign(red), sign(nir)
    out = (
        items.filter(F.col("cloud_cover") <= F.lit(max_cloud_cover))  # F1
        .filter(
            F.to_timestamp(F.col("datetime")).between(  # F2
                F.to_timestamp(F.lit(start)), F.to_timestamp(F.lit(end))
            )
        )
        .filter(~F.col("id").startswith(exclude_prefix))  # F4
        .select(
            F.col("id").alias("scene_id"),
            F.to_date(F.to_timestamp("datetime")).alias("acquisition_date"),
            F.element_at(F.split("id", "_"), 1).alias("sensor"),  # F9
            "cloud_cover",
            red.alias("red_href"),
            nir.alias("nir_href"),
        )
        .filter(F.col("red_href").isNotNull() & F.col("nir_href").isNotNull())  # J1/E2
        .orderBy(F.col("cloud_cover").asc(), F.col("scene_id").asc())
        .limit(max_items)  # L1
    )
    return out


FETCH_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("status", T.StringType()),  # ok | quarantined
        T.StructField("error", T.StringType()),
    ]
)


def http_fetcher(href: str, path: str, timeout: float = 240.0) -> tuple[int, str]:
    """The reference's streamed download (1 MiB chunks,
    download_landsat_stac.py:160-171). Returns (bytes, content_type)."""
    import requests

    with requests.get(href, stream=True, timeout=timeout) as resp:
        resp.raise_for_status()
        ctype = resp.headers.get("Content-Type", "")
        n = 0
        with open(path, "wb") as fh:
            for chunk in resp.iter_content(chunk_size=1024 * 1024):
                fh.write(chunk)
                n += len(chunk)
    return n, ctype


def fetch_assets(
    scenes: DataFrame,
    out_dir: str,
    fetcher: Callable[[str, str], tuple[int, str]] = http_fetcher,
    min_bytes: int = 1_000_000,
    require_tiff: bool = True,
    retries: int = 2,
    backoff_s: float = 1.0,
    sleeper: Callable[[float], None] | None = None,
) -> DataFrame:
    """Distributed asset download: one row per (scene, band), fetched
    from executors via `map_rows`, validated (V1 content-type, V2
    min size) and routed to ok/quarantined status rows instead of
    exceptions (E1). Repartitioned on scene so a slow scene does not
    serialize the rest.

    Transient fetch exceptions retry `retries` times with exponential
    backoff (the E3 retry-loop idea, load_to_postgis.py:41-56, applied
    to the HTTP boundary); validation failures (V1/V2) do NOT retry —
    a wrong content-type will not fix itself. `sleeper` is injectable
    for tests."""
    per_band = scenes.select(
        "scene_id",
        F.explode(
            F.create_map(
                F.lit("red"), F.col("red_href"), F.lit("nir"), F.col("nir_href")
            )
        ).alias("band", "href"),
    ).repartition("scene_id")

    from ..operators.arrow_kernels import map_rows

    sleep = sleeper if sleeper is not None else time.sleep

    def fetch(row):
        path = os.path.join(out_dir, f"{row.scene_id}_{row.band}.tif")
        n_bytes, content_type, status, error = 0, None, "quarantined", None
        for attempt in range(retries + 1):
            try:
                n, ctype = fetcher(row.href, path)
                n_bytes, content_type, error = int(n), ctype, None
                if require_tiff and ctype and "tiff" not in ctype.lower():
                    error = f"V1: content-type {ctype!r} not tiff"
                elif n < min_bytes:
                    error = f"V2: {n} bytes < {min_bytes}"
                else:
                    status = "ok"
                break  # validation failures don't retry
            except Exception as exc:  # per-row isolation, E1
                error = f"{type(exc).__name__}: {exc}"
                if attempt < retries:
                    sleep(backoff_s * (2**attempt))
        yield row.scene_id, row.band, row.href, path, n_bytes, content_type, status, error

    return map_rows(per_band, fetch, FETCH_SCHEMA)


def complete_scenes(fetched: DataFrame) -> DataFrame:
    """E2: a scene survives iff EVERY band fetched ok — bool_and gate
    (the reference's skip-scene-on-any-failure)."""
    gate = fetched.groupBy("scene_id").agg(
        F.bool_and(F.col("status") == "ok").alias("all_ok")
    )
    return (
        fetched.join(gate.filter("all_ok").select("scene_id"), "scene_id", "left_semi")
        .filter(F.col("status") == "ok")
        .groupBy("scene_id")
        .pivot("band", ["red", "nir"])
        .agg(F.first("path"))
        .withColumnsRenamed({"red": "red_path", "nir": "nir_path"})
    )

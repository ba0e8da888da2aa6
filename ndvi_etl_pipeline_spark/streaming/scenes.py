"""Streaming scene feed: the reference's batch scene loop as a
Structured Streaming file source (SURVEY §2.9, §3.1).

The reference polls a catalog and processes whatever scenes exist
(main.py:118-139). Here the same pipeline runs incrementally: a
`binaryFile` file-source discovers newly-landed band files per
micro-batch, and foreachBatch reconciles them into per-scene NDVI
products. The subtle part is J1 band pairing ACROSS micro-batches: a
scene's red band can land in batch k and its NIR in batch k+n. State
is kept relationally, not in memory:

- a **band ledger** (parquet, appended per batch): which band files
  have arrived, by scene — tiny path-metadata rows, never pixel data;
- the **products table**: scenes already processed.

Each batch: complete scenes = ledger ⋈ both-bands; todo = complete
anti-join processed (K3's idempotent upsert idiom, so replays and
restarts are exactly-once at scene granularity); re-read exactly the
todo scenes' files and run the fused kernel
(raster.scene_ndvi_from_bands). Restart-safe: the file source's
checkpoint replays un-committed batches, and the anti-join makes the
reprocessing a no-op.

At 100 TB the ledger/products stay metadata-sized (2 rows per scene);
the heavy bytes flow once through the fused kernel exactly as in the
batch path — streaming changes WHEN scenes process, not HOW.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import raster
from . import read_store_or_empty

__all__ = ["stream_scene_stats", "stream_scene_composite"]

BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)

_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("mean_ndvi", T.DoubleType()),
    ]
)


def _reconcile_arrivals(
    batch_df: DataFrame,
    ledger_path: str,
    processed: DataFrame,
    quarantined: DataFrame,
) -> DataFrame | None:
    """Shared per-batch bookkeeping for the scene streams: append this
    batch's red/nir arrivals to the ledger, then return the
    (scene_id, path) rows of scenes that are COMPLETE (both bands
    present across all batches so far), not yet processed, and not
    quarantined — or None when the batch leaves nothing to do.

    The emptiness probe runs on the metadata-scale todo relation only;
    the path list never reaches the driver (at a 10⁷-file backlog a
    collect()-of-paths is a driver bottleneck)."""
    s = batch_df.sparkSession
    arrivals = raster.parse_band_names(batch_df, keep=("path",)).filter(
        F.col("band").isin("red", "nir")
    )
    arrivals.write.mode("append").parquet(ledger_path)

    ledger = read_store_or_empty(s, ledger_path, _LEDGER_SCHEMA)
    complete = (
        ledger.groupBy("scene_id")
        .agg(F.countDistinct("band").alias("nb"))
        .filter(F.col("nb") >= 2)
        .select("scene_id")
    )
    todo = complete.join(processed, "scene_id", "left_anti").join(
        quarantined, "scene_id", "left_anti"
    )
    if todo.limit(1).count() == 0:
        return None
    return ledger.join(F.broadcast(todo), "scene_id").select("scene_id", "path")


def _quarantine_missing(
    todo_rows: DataFrame, ok_ids: DataFrame, quarantine_path: str
) -> None:
    """E1 isolation bookkeeping: scenes in the todo set that produced
    no output are recorded so the stream never re-attempts them."""
    bad = todo_rows.select("scene_id").distinct().join(ok_ids, "scene_id", "left_anti")
    if bad.limit(1).count() > 0:
        bad.write.mode("append").parquet(quarantine_path)


def stream_scene_stats(
    spark: SparkSession,
    in_dir: str,
    work_dir: str,
    tile: int = raster.DEFAULT_TILE,
    available_now: bool = True,
):
    """Run the incremental scene pipeline over `in_dir`.

    Writes `<work_dir>/ledger` and `<work_dir>/products` (parquet) and
    checkpoints at `<work_dir>/checkpoint`. With ``available_now`` the
    query drains everything currently in the directory and stops —
    call again after more files land to process just the delta (the
    reference's re-run semantics, now incremental instead of
    re-reading the world).
    """
    ledger_path = f"{work_dir}/ledger"
    products_path = f"{work_dir}/products"
    quarantine_path = f"{work_dir}/quarantine"
    _QUAR_SCHEMA = T.StructType([T.StructField("scene_id", T.StringType())])

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        processed = read_store_or_empty(s, products_path, _PRODUCT_SCHEMA).select("scene_id")
        quarantined = read_store_or_empty(s, quarantine_path, _QUAR_SCHEMA)
        todo_rows = _reconcile_arrivals(batch_df, ledger_path, processed, quarantined)
        if todo_rows is None:
            return
        parsed = raster.parse_band_files(
            raster.read_path_bytes(todo_rows)
        )
        # E1 per-scene isolation: undecodable scenes emit nothing here
        # and get quarantined so the stream never re-attempts them.
        stats = raster.tile_scene_stats(
            raster.scene_ndvi_from_bands(parsed, tile=tile, on_error="quarantine")
        ).persist()
        stats.write.mode("append").parquet(products_path)
        _quarantine_missing(todo_rows, stats.select("scene_id"), quarantine_path)
        stats.unpersist()

    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.tif")
        .load(in_dir)
    )
    writer = reader.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", f"{work_dir}/checkpoint"
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_scene_composite(
    spark: SparkSession,
    in_dir: str,
    work_dir: str,
    tile: int = raster.DEFAULT_TILE,
    available_now: bool = True,
):
    """Incrementally-maintained greenest-pixel composite: as scenes
    land, each batch's NDVI tiles are max-merged into a running
    composite product at `<work_dir>/composite`.

    Correctness rests on the merge's algebra (raster.tile_composite:
    associative + commutative + idempotent), so
    merge(product, batch) == composite(all scenes so far) EXACTLY —
    the streaming product equals the batch recompute after every
    batch, with per-batch work proportional to the delta, not the
    corpus. Scene bookkeeping (ledger / processed / quarantine) is the
    same relational state as stream_scene_stats; the processed set
    lives in its own parquet because the composite table doesn't keep
    scene ids.
    """
    ledger_path = f"{work_dir}/ledger"
    composite_path = f"{work_dir}/composite"
    processed_path = f"{work_dir}/processed"
    quarantine_path = f"{work_dir}/quarantine"
    _ID_SCHEMA = T.StructType([T.StructField("scene_id", T.StringType())])

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        processed = read_store_or_empty(s, processed_path, _ID_SCHEMA)
        quarantined = read_store_or_empty(s, quarantine_path, _ID_SCHEMA)
        todo_rows = _reconcile_arrivals(batch_df, ledger_path, processed, quarantined)
        if todo_rows is None:
            return
        parsed = raster.parse_band_files(raster.read_path_bytes(todo_rows))
        ndvi = raster.scene_ndvi_from_bands(
            parsed, tile=tile, on_error="quarantine"
        ).persist()

        batch_comp = raster.tile_composite(ndvi)
        existing = read_store_or_empty(s, composite_path, raster.NDVI_TILE_SCHEMA)
        # merge = one more composite pass over (product ∪ batch) —
        # idempotence makes checkpoint replays a no-op on values.
        merged = raster.tile_composite(existing.unionByName(batch_comp))
        # localCheckpoint breaks lineage off the files the overwrite
        # is about to invalidate (same pattern as the events upsert sink)
        merged.localCheckpoint().write.mode("overwrite").parquet(composite_path)

        ok = ndvi.select("scene_id").distinct()
        ok.write.mode("append").parquet(processed_path)
        _quarantine_missing(todo_rows, ok, quarantine_path)
        ndvi.unpersist()

    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.tif")
        .load(in_dir)
    )
    writer = reader.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", f"{work_dir}/checkpoint"
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()

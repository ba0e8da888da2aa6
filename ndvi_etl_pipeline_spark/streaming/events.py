"""Structured Streaming surface of the engine.

The reference is batch-only (SURVEY §2.9), but its scene feed — a
date-ordered catalog scan — is exactly a streaming file source. This
module gives the engine's streaming tier over the `events` schema:

- `hourly_rollup`: watermarked tumbling-window aggregation whose
  OUTPUT SEMANTICS match plans/queries.py::q_events_hourly_rollup
  (the batch twin the oracle checks) — same windows, same aggregates.
- `run_stream_over_parquet`: drives any of these queries over a
  parquet directory as a bounded stream (memory sink +
  processAllAvailable), which is how the tests verify
  batch/streaming agreement without Kafka.

Watermark: 2 hours — late events beyond that are dropped from the
window state, bounding state size (the 100 TB concern: state is
O(open windows × groups), never O(events)).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window: count + sum(value) per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_activity(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding windows (1 h window / 15 min slide): events per EVENT TYPE
    per window (group by user_id instead for per-user activity)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of
    q_events_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: a key's fingerprint is kept
    only until the watermark passes it, then evicted — unlike plain
    dropDuplicates, whose state grows with every key ever seen. This
    is the streaming twin of the batch exact-dedup operator
    (operators/dedup.py) and the at-least-once → effectively-once
    repair for replayed sources."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: purchases within
    `horizon` after a click by the same user. The time-range predicate
    plus watermarks on BOTH sides is what lets Spark evict join state
    (a click older than watermark+horizon can never match again);
    without it, stream-stream join state is unbounded."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    return c.join(
        p,
        (c.c_user == p.user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts < c.click_ts + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "value")


SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE = T.StructType(
    [
        T.StructField("session_start", T.LongType()),  # epoch micros
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def merge_session_chunk(
    ts_micros: list[int],
    state: tuple[int, int, int] | None,
    gap_us: int,
) -> tuple[list[tuple[int, int, int]], tuple[int, int, int]]:
    """Pure session-merge kernel: fold a sorted timestamp chunk into
    carried state. Returns (closed sessions, open state), each session
    as (start, end, n_events) in epoch micros. Unit-testable without
    the streaming harness; the stateful operator below is a thin shim
    around it."""
    closed: list[tuple[int, int, int]] = []
    cur = state
    for t in ts_micros:
        if cur is None:
            cur = (t, t, 1)
        elif t - cur[1] > gap_us:
            closed.append(cur)
            cur = (t, t, 1)
        else:
            cur = (cur[0], t, cur[2] + 1)
    assert cur is not None or not ts_micros
    return closed, cur


def stateful_sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: gap-based
    sessions per user with explicit GroupState — the
    `applyInPandasWithState` surface for session logic that
    session_window can't express (e.g. per-session payload
    accumulation). Emits every session (closed and currently-open) in
    update mode keyed by (user_id, session_start), so the sink's last
    write per key is the session's final extent.

    State is 3 longs per open session per user — O(active users), the
    bounded-state property that matters at 100 TB/day event volumes.
    """
    import pandas as pd  # the frame type of Spark's GroupState API, which has no Arrow form

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    def fn(key, pdf_iter, state) -> "pd.DataFrame":
        prev = tuple(state.get) if state.exists else None
        ts: list[int] = []
        for pdf in pdf_iter:
            ts.extend(
                (pdf["ts"].astype("int64") // 1000).tolist()
            )  # ns → µs
        ts.sort()
        closed, cur = merge_session_chunk(ts, prev, gap_us)
        if cur is not None:
            state.update(cur)
        rows = closed + ([cur] if cur is not None else [])
        out = pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "session_start": pd.to_datetime([r[0] for r in rows], unit="us"),
                "session_end": pd.to_datetime([r[1] for r in rows], unit="us"),
                "n_events": [r[2] for r in rows],
            }
        )
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_static_enrich(
    events: DataFrame, customers: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static join + windowed rollup: the event stream enriched
    against a batch dimension (user → market segment), then aggregated
    per (hour, segment). The static side is re-read per micro-batch
    (so dimension updates are picked up) and broadcast — at 100 TB/day
    stream volume the dimension is the small side by construction, and
    the join adds no stream-side shuffle or state: only the windowed
    aggregate keeps state, bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .join(
            F.broadcast(customers.select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n",
            "total_value",
        )
    )


def countmin_counters(events: "DataFrame", width: int = 512) -> "DataFrame":
    """Streaming count-min sketch over user ids: the depth-4 counter
    table as an unwindowed streaming aggregation on (row, col).

    The sketch IS its own streaming state: counters are sums keyed by
    the d·W-bounded (row, col) grid, so state size is a constant
    independent of stream length or key cardinality — the property
    that makes CM the standard streaming frequency sketch. The same
    affine-mod hash family as the batch operator (catalog part12), so
    a drained stream's counter table equals the batch sketch
    bit-for-bit (pinned in tests/test_streaming.py).
    """
    from ..plans.catalog.part12_recsys_trees import _CM_HASHES, _CM_P

    rows = None
    for r, a, b in _CM_HASHES:
        piece = events.select(
            F.lit(r).alias("r"),
            (((F.lit(a) * F.col("user_id") + F.lit(b)) % _CM_P) % width).alias("col"),
        )
        rows = piece if rows is None else rows.unionAll(piece)
    return rows.groupBy("r", "col").agg(F.count("*").cast("bigint").alias("cnt"))


def run_stream_with_upsert_sink(
    spark: SparkSession,
    parquet_path: str,
    transform,
    out_path: str,
    keys: tuple[str, ...],
    query_name: str = "t_upsert",
) -> DataFrame:
    """foreachBatch sink: each micro-batch MERGEs into a lake product
    table via the K4 last-write-wins idiom (operators/upsert.py) — the
    streaming twin of write_upsert. Used for continuously-maintained
    product tables (scene stats, hourly rollups) where append-only
    would accumulate superseded rows. Read the product with
    `lake_read` (the returned DataFrame is one)."""
    from ..operators.upsert import upsert_replace
    from ..sources.lake import lake_latest_version, lake_read, lake_vacuum, lake_write

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if lake_latest_version(out_path) is not None:
            merged = upsert_replace(lake_read(spark, out_path), batch_df, keys)
        else:
            merged = batch_df
        # one atomic commit: the previous version's files stay live
        # until the new ones are written, so a failed write leaves the
        # last product readable. Vacuum then drops the superseded files
        # at once: this stream is the table's only writer.
        lake_write(merged, out_path, mode="overwrite")
        lake_vacuum(out_path, retention_seconds=0)

    events = _stream_events(spark, parquet_path)
    # update mode: every changed window reaches the sink each batch and
    # the MERGE keeps the product table at the latest value per key —
    # append mode would withhold windows the watermark hasn't closed.
    q = (
        transform(events)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return lake_read(spark, out_path)


def run_stream_over_parquet(
    spark: SparkSession,
    parquet_path: str,
    transform,
    query_name: str = "stream_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Drive `transform(stream_df)` over a parquet dir as a bounded
    stream; returns the materialized result (memory sink, complete mode
    for aggregations; see _stream_events for the nanos-ts caveat).
    """
    events = _stream_events(spark, parquet_path)
    q = (
        transform(events)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def _stream_events(spark: SparkSession, parquet_path: str) -> DataFrame:
    """events parquet (possibly a single file) → streaming DataFrame
    with `ts` as a microsecond timestamp.

    FileStreamSource requires a directory; single-file inputs get a
    temp dir with a symlink (zero-copy). The ts physical type depends
    on how the parquet was written: TIMESTAMP(NANOS) arrives as LONG
    under the session's nanosAsLong and needs the /1000 conversion
    (same as sources/testdata.py batch path); TIMESTAMP(MICROS) is a
    native timestamp and must pass through untouched. A one-file batch
    schema probe picks the right branch.
    """
    if os.path.isfile(parquet_path):
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(parquet_path, os.path.join(d, os.path.basename(parquet_path)))
        parquet_path = d
    ts_is_nanos = isinstance(
        spark.read.parquet(parquet_path).schema["ts"].dataType, T.LongType
    )
    schema = _nanos_schema() if ts_is_nanos else EVENTS_SCHEMA
    raw = spark.readStream.schema(schema).format("parquet").load(parquet_path)
    if ts_is_nanos:
        raw = raw.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    return raw


def run_two_streams_over_parquet(
    spark: SparkSession,
    parquet_path: str,
    transform2,
    query_name: str = "stream2_out",
    output_mode: str = "append",
) -> DataFrame:
    """Drive `transform2(stream_a, stream_b)` — e.g. a stream-stream
    join — with both streams reading the same parquet dir (each gets
    its own source + state). Append mode: stream-stream joins and
    watermark dedup only emit rows the watermark has finalized."""
    a = _stream_events(spark, parquet_path)
    b = _stream_events(spark, parquet_path)
    q = (
        transform2(a, b)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def _nanos_schema() -> T.StructType:
    fields = []
    for f in EVENTS_SCHEMA.fields:
        if f.name == "ts":
            fields.append(T.StructField("ts", T.LongType()))
        else:
            fields.append(f)
    return T.StructType(fields)

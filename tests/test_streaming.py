"""Streaming tier: batch/stream agreement on the hourly rollup,
stateful sessionization, sliding windows, and the foreachBatch
upsert sink."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ndvi_etl_pipeline_spark.plans.queries import (
    q_events_hourly_rollup,
    q_events_sessionize,
)
from ndvi_etl_pipeline_spark.sources.lake import lake_read
from ndvi_etl_pipeline_spark.streaming.events import (
    click_purchase_join,
    dedup_within_watermark,
    hourly_rollup,
    merge_session_chunk,
    run_stream_over_parquet,
    run_stream_with_upsert_sink,
    run_two_streams_over_parquet,
    session_windows,
    sliding_activity,
    stateful_sessionize,
)


def test_stream_matches_batch_hourly(spark, sf_dir):
    stream_out = run_stream_over_parquet(
        spark, f"{sf_dir}/events.parquet", hourly_rollup, query_name="t_hourly"
    )
    batch_out = (
        q_events_hourly_rollup(spark, sf_dir)
        .withColumnRenamed("total_value", "total_value_b")
        .withColumnRenamed("n", "n_b")
    )
    j = stream_out.join(batch_out, ["window_start", "event_type"], "full_outer")
    mismatches = j.filter(
        F.col("n").isNull()
        | F.col("n_b").isNull()
        | (F.col("n") != F.col("n_b"))
        | (F.abs(F.col("total_value") - F.col("total_value_b")) > 1e-6)
    ).count()
    assert mismatches == 0
    assert stream_out.count() > 0


def test_merge_session_chunk_pure():
    gap = 10
    # single chunk, two sessions
    closed, cur = merge_session_chunk([0, 5, 30, 35], None, gap)
    assert closed == [(0, 5, 2)]
    assert cur == (30, 35, 2)
    # carried state merges with the next chunk
    closed2, cur2 = merge_session_chunk([40, 60], cur, gap)
    assert closed2 == [(30, 40, 3)]
    assert cur2 == (60, 60, 1)
    # empty chunk is a no-op
    assert merge_session_chunk([], cur2, gap) == ([], cur2)


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    out = run_stream_over_parquet(
        spark, f"{sf_dir}/events.parquet", stateful_sessionize,
        query_name="t_state", output_mode="update",
    )
    # update-mode memory sink: last row per (user, session_start) is the
    # session's final extent
    w = F.row_number().over(
        Window.partitionBy("user_id", "session_start").orderBy(
            F.col("session_end").desc()
        )
    )
    final = (
        out.withColumn("rn", w).filter("rn = 1")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    batch = q_events_sessionize(spark, sf_dir).withColumnsRenamed(
        {"n_sessions": "b_sessions", "n_events": "b_events"}
    )
    j = final.join(batch, "user_id", "full_outer")
    bad = j.filter(
        (F.col("n_sessions") != F.col("b_sessions"))
        | (F.col("n_events") != F.col("b_events"))
        | F.col("n_sessions").isNull()
        | F.col("b_sessions").isNull()
    )
    assert bad.count() == 0


def test_sliding_activity_runs(spark, sf_dir):
    out = run_stream_over_parquet(
        spark, f"{sf_dir}/events.parquet", sliding_activity, query_name="t_slide"
    )
    # each event lands in 4 sliding windows (1 h window / 15 min slide)
    total = out.agg(F.sum("n")).first()[0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == 4 * n_events


def test_foreachbatch_upsert_sink(spark, sf_dir, tmp_path):
    out = run_stream_with_upsert_sink(
        spark,
        f"{sf_dir}/events.parquet",
        hourly_rollup,
        str(tmp_path / "rollup"),
        keys=("window_start", "event_type"),
    )
    batch = q_events_hourly_rollup(spark, sf_dir)
    assert out.count() == batch.count()
    j = out.withColumnRenamed("n", "n_s").join(
        batch, ["window_start", "event_type"], "full_outer"
    )
    assert j.filter(F.col("n_s") != F.col("n")).count() == 0


def test_failed_upsert_write_keeps_the_previous_product(spark, sf_dir, tmp_path):
    """A micro-batch whose write fails leaves the product the batch
    before it committed intact and readable: the sink replaces the
    table in one commit, it does not clear it first. The injected
    fault: the parquet output committer is an abstract class, so the
    write job fails when it sets up its committer."""
    out, keys = str(tmp_path / "rollup"), ("window_start", "event_type")
    events = f"{sf_dir}/events.parquet"
    first = sorted(
        run_stream_with_upsert_sink(
            spark, events, hourly_rollup, out, keys=keys, query_name="t_first"
        ).collect()
    )
    conf = "spark.sql.parquet.output.committer.class"
    spark.conf.set(conf, "org.apache.hadoop.mapreduce.OutputCommitter")
    try:
        with pytest.raises(Exception, match="InstantiationException"):
            run_stream_with_upsert_sink(
                spark, events, hourly_rollup, out, keys=keys, query_name="t_failed"
            )
    finally:
        spark.conf.unset(conf)
    # read the product back through the sink: a run whose batch carries
    # no rows rewrites the stored product unchanged and returns it
    after = run_stream_with_upsert_sink(
        spark, events, lambda e: hourly_rollup(e.filter(F.lit(False))), out,
        keys=keys, query_name="t_after",
    )
    assert first and sorted(after.collect()) == first


def test_session_windows_run(spark, sf_dir):
    out = run_stream_over_parquet(
        spark, f"{sf_dir}/events.parquet", session_windows, query_name="t_sessions"
    )
    assert out.count() > 0
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_session_windows_stream_matches_batch(spark, sf_dir):
    """Exact agreement of F.session_window between execution modes: the
    streaming run (bounded stream, complete mode) must produce the same
    (user, session_start, session_end, n_events) set as the identical
    batch aggregation — gap merging, window extents, and counts all
    bit-equal. Also cross-checks the gap-based session COUNT per user
    against the lag/running-sum batch formulation (q_events_sessionize),
    tying all three sessionization surfaces together."""
    from ndvi_etl_pipeline_spark.sources import load_table

    stream_out = run_stream_over_parquet(
        spark, f"{sf_dir}/events.parquet", session_windows, query_name="t_sess_agree"
    )
    events = load_table(spark, "events", sf_dir)
    batch_out = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    j = stream_out.withColumnRenamed("n_events", "n_s").join(
        batch_out, ["user_id", "session_start", "session_end"], "full_outer"
    )
    assert j.filter(
        (F.col("n_s") != F.col("n_events"))
        | F.col("n_s").isNull()
        | F.col("n_events").isNull()
    ).count() == 0

    per_user = stream_out.groupBy("user_id").agg(
        F.count("*").alias("s_sessions"), F.sum("n_events").alias("s_events")
    )
    lag_based = q_events_sessionize(spark, sf_dir)
    k = per_user.join(lag_based, "user_id", "full_outer")
    assert k.filter(
        (F.col("s_sessions") != F.col("n_sessions"))
        | (F.col("s_events") != F.col("n_events"))
        | F.col("s_sessions").isNull()
        | F.col("n_sessions").isNull()
    ).count() == 0


def test_dedup_within_watermark_removes_replays(spark, sf_dir, tmp_path):
    """Feed the same events twice (a replayed source); streaming dedup
    on event_id must converge to exactly the distinct set."""
    import shutil

    src = f"{sf_dir}/events.parquet"
    d = tmp_path / "replayed"
    d.mkdir()
    shutil.copy(src, d / "a.parquet")
    shutil.copy(src, d / "b.parquet")

    out = run_stream_over_parquet(
        spark,
        str(d),
        dedup_within_watermark,
        query_name="t_dedup_wm",
        output_mode="append",
    )
    n_distinct = spark.read.parquet(src).select("event_id").distinct().count()
    assert out.select("event_id").distinct().count() == n_distinct
    assert out.count() == n_distinct


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    def xf(a, b):
        return click_purchase_join(
            a.filter(F.col("event_type") == "click"),
            b.filter(F.col("event_type") == "purchase"),
        )

    out = run_two_streams_over_parquet(
        spark, f"{sf_dir}/events.parquet", xf, query_name="t_ssj"
    )

    e = load_table(spark, "events", sf_dir)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = c.join(
        p,
        (c.c_user == p.user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts < c.click_ts + F.expr("INTERVAL 1 HOUR")),
    )
    assert out.count() == batch.count() > 0
    s_keys = {tuple(r) for r in out.select("click_id", "purchase_id").collect()}
    b_keys = {tuple(r) for r in batch.select("click_id", "purchase_id").collect()}
    assert s_keys == b_keys


def test_stream_scene_feed_pairs_bands_across_batches(spark, tmp_path):
    """SURVEY §2.9/§3.1: the scene loop as an incremental file-source
    stream. Scenes whose bands arrive in DIFFERENT micro-batch rounds
    must still pair (relational ledger state), already-processed
    scenes must not reprocess (anti-join idempotency), and results
    must equal the batch path."""
    import numpy as np

    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.streaming.scenes import stream_scene_stats

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rng = np.random.default_rng(3)

    def put(scene, band):
        lo, hi = (0, 30000) if band == "red" else (0, 60000)
        arr = rng.integers(lo, hi, size=(64, 64)).astype(np.float32)
        raster.write_geotiff(arr, str(in_dir / f"{scene}_{band}.tif"))

    # round 1: two complete scenes + one missing its NIR band
    put("SA_20220601", "red"), put("SA_20220601", "nir")
    put("SB_20220602", "red"), put("SB_20220602", "nir")
    put("SC_20220603", "red")
    stream_scene_stats(spark, str(in_dir), str(tmp_path / "work"))
    p1 = spark.read.parquet(str(tmp_path / "work" / "products"))
    assert {r.scene_id for r in p1.collect()} == {"SA_20220601", "SB_20220602"}

    # round 2: SC completes, SD arrives whole
    put("SC_20220603", "nir")
    put("SD_20220604", "red"), put("SD_20220604", "nir")
    stream_scene_stats(spark, str(in_dir), str(tmp_path / "work"))
    p2 = spark.read.parquet(str(tmp_path / "work" / "products"))
    got = {r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi) for r in p2.collect()}
    assert set(got) == {"SA_20220601", "SB_20220602", "SC_20220603", "SD_20220604"}
    assert len(p2.collect()) == 4  # each scene exactly once

    # equals the batch path over the same directory
    want = {
        r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi)
        for r in raster.tile_scene_stats(
            raster.scan_scene_ndvi(spark, str(in_dir))
        ).collect()
    }
    assert got == want


def test_stream_scene_feed_quarantines_corrupt_scene(spark, tmp_path):
    """E1 in streaming: a corrupt band file must not kill the query
    NOR wedge it into retrying forever — the scene lands in the
    quarantine ledger once and healthy scenes keep flowing."""
    import numpy as np

    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.streaming.scenes import stream_scene_stats

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rng = np.random.default_rng(9)

    def put(scene, band, corrupt=False):
        p = in_dir / f"{scene}_{band}.tif"
        if corrupt:
            p.write_bytes(b"garbage, not a tiff")
        else:
            lo, hi = (0, 30000) if band == "red" else (0, 60000)
            raster.write_geotiff(
                rng.integers(lo, hi, size=(48, 48)).astype(np.float32), str(p)
            )

    put("OK1_20220601", "red"), put("OK1_20220601", "nir")
    put("BAD_20220602", "red", corrupt=True), put("BAD_20220602", "nir")
    stream_scene_stats(spark, str(in_dir), str(tmp_path / "w"))
    products = spark.read.parquet(str(tmp_path / "w" / "products"))
    assert {r.scene_id for r in products.collect()} == {"OK1_20220601"}
    quar = spark.read.parquet(str(tmp_path / "w" / "quarantine"))
    assert {r.scene_id for r in quar.collect()} == {"BAD_20220602"}

    # next round: a healthy scene processes; BAD is not retried (stays
    # quarantined exactly once)
    put("OK2_20220603", "red"), put("OK2_20220603", "nir")
    stream_scene_stats(spark, str(in_dir), str(tmp_path / "w"))
    products = spark.read.parquet(str(tmp_path / "w" / "products"))
    assert {r.scene_id for r in products.collect()} == {"OK1_20220601", "OK2_20220603"}
    assert spark.read.parquet(str(tmp_path / "w" / "quarantine")).count() == 1


def test_stream_composite_equals_batch_composite(spark, tmp_path):
    """Incremental view maintenance for the greenest-pixel composite:
    after scenes land across two micro-batch rounds, the running
    composite product must BIT-MATCH a one-shot batch composite over
    all scenes (the max-merge is associative + idempotent)."""
    import numpy as np

    from ndvi_etl_pipeline_spark.operators import raster
    from ndvi_etl_pipeline_spark.streaming.scenes import stream_scene_composite

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rng = np.random.default_rng(11)

    def put(scene, band):
        lo, hi = (0, 30000) if band == "red" else (0, 60000)
        arr = rng.integers(lo, hi, size=(64, 64)).astype(np.float32)
        # sprinkle fill pixels so the composite sees masked cells
        arr[rng.random((64, 64)) < 0.05] = 0.0
        raster.write_geotiff(arr, str(in_dir / f"{scene}_{band}.tif"))

    put("SA_20220601", "red"), put("SA_20220601", "nir")
    put("SB_20220602", "red"), put("SB_20220602", "nir")
    stream_scene_composite(spark, str(in_dir), str(tmp_path / "work"))

    put("SC_20220603", "red"), put("SC_20220603", "nir")
    stream_scene_composite(spark, str(in_dir), str(tmp_path / "work"))

    got = raster.tiles_to_pixels(
        lake_read(spark, str(tmp_path / "work" / "composite")), "v"
    )
    want = raster.tiles_to_pixels(
        raster.tile_composite(raster.scan_scene_ndvi(spark, str(in_dir))), "v"
    )
    g = {(r.y, r.x): r.v for r in got.collect()}
    w = {(r.y, r.x): r.v for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment: the streaming result must
    equal the identical batch join + rollup."""
    from ndvi_etl_pipeline_spark.sources import load_table
    from ndvi_etl_pipeline_spark.streaming.events import stream_static_enrich

    customers = load_table(spark, "customer", sf_dir)
    out = run_stream_over_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        lambda ev: stream_static_enrich(ev, customers),
        query_name="t_enrich",
    )
    events = load_table(spark, "events", sf_dir)
    batch = (
        events.join(
            customers.select("c_custkey", "c_mktsegment"),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n_b"), F.round(F.sum("value"), 4).alias("tv_b"))
        .select(
            F.col("w.start").alias("window_start"), "c_mktsegment", "n_b", "tv_b"
        )
    )
    assert out.count() > 0
    j = out.join(batch, ["window_start", "c_mktsegment"], "full_outer")
    bad = j.filter(
        F.col("n").isNull()
        | F.col("n_b").isNull()
        | (F.col("n") != F.col("n_b"))
        | (F.abs(F.col("total_value") - F.col("tv_b")) > 1e-6)
    )
    assert bad.count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics pinned: rows arriving in a later batch with
    event times far behind the watermark are DROPPED from a windowed
    aggregate — no update row for their window ever reaches the sink."""
    import datetime as dt

    from ndvi_etl_pipeline_spark.streaming.events import (
        EVENTS_SCHEMA,
        hourly_rollup,
    )

    base = dt.datetime(2030, 6, 1, 12, 0, 0)
    d = tmp_path / "late_src"
    d.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / name))

    fresh = [
        (i, base + dt.timedelta(minutes=i), 1, "click", 1.0, None)
        for i in range(10)
    ]
    write_file("a.parquet", fresh)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(str(d))
    )
    q = (
        hourly_rollup(stream)
        .writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: 10 hours older than the watermark (max ts − 2 h)
        stale = [
            (100 + i, base - dt.timedelta(hours=10), 2, "click", 1.0, None)
            for i in range(5)
        ]
        write_file("b.parquet", stale)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT * FROM t_late_drop")
    stale_window = base - dt.timedelta(hours=10)
    assert out.filter(F.col("window_start") <= stale_window).count() == 0
    # last update per window carries all 10 fresh rows, none of the stale
    total = (
        out.groupBy("window_start")
        .agg(F.max("n").alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert total == len(fresh)


def test_stream_curated_documents_dedup_across_batches(spark, tmp_path):
    """Incremental curation: two landing drops with overlapping
    content — the second drop's duplicates (same text, different
    doc_id) must NOT re-enter the curated store, short/low-quality
    docs are gated, and re-running the drained stream appends
    nothing (exactly-once per fingerprint)."""
    import json as _json

    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_curated_documents,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    curated = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    good = "the quick brown fox jumps over the lazy dog again and again"
    other = "a completely different document body with plenty of words here"
    (landing / "drop1.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 1, "text": good, "source": "a"}),
                _json.dumps({"doc_id": 2, "text": "short", "source": "a"}),
                _json.dumps({"doc_id": 3, "text": good, "source": "a"}),
            ]
        )
    )
    stream_curated_documents(spark, str(landing), curated, ckpt)
    first = spark.read.parquet(curated).collect()
    assert len(first) == 1 and first[0]["doc_id"] == 1  # dup lost, short gated

    (landing / "drop2.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 10, "text": good, "source": "b"}),
                _json.dumps({"doc_id": 11, "text": other, "source": "b"}),
            ]
        )
    )
    stream_curated_documents(spark, str(landing), curated, ckpt)
    rows = {r["doc_id"]: r for r in spark.read.parquet(curated).collect()}
    assert set(rows) == {1, 11}  # cross-batch dup 10 rejected, 11 admitted

    # replay with the same checkpoint: nothing new to process, store stable
    stream_curated_documents(spark, str(landing), curated, ckpt)
    assert {r["doc_id"] for r in spark.read.parquet(curated).collect()} == {1, 11}


def test_stream_selected_documents_serves_batch_trained_dsir(
    spark, sf_dir, tmp_path
):
    """Train-offline/score-online: a DSIR bucket LM trained by the
    batch job and served in the stream must give every streamed doc
    the SAME weight the batch operator computes, gate on the
    threshold, and stay exactly-once per fingerprint on replay."""
    import json as _json

    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.selection import dsir_logweights
    from ndvi_etl_pipeline_spark.sources.testdata import load_table
    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_selected_documents,
        train_dsir_model,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source"
    )
    pred = F.col("source").isin("src0", "src1", "src2", "src3")
    model = str(tmp_path / "model")
    train_dsir_model(docs, pred, model)

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "drop1.jsonl", "w") as fh:
        for r in docs.collect():
            fh.write(
                _json.dumps(
                    {"doc_id": r.doc_id, "text": r.text, "source": r.source}
                )
                + "\n"
            )
    sel = str(tmp_path / "selected")
    ckpt = str(tmp_path / "ckpt")
    stream_selected_documents(spark, str(landing), sel, ckpt, model, min_weight=0.0)

    got = {r.doc_id: r.dsir_weight for r in spark.read.parquet(sel).collect()}
    exp = {
        r.doc_id: r.dsir_logweight for r in dsir_logweights(docs, pred).collect()
    }
    assert got, "stream admitted nothing"
    for doc_id, w in got.items():
        assert w >= 0.0  # threshold respected
        assert abs(w - exp[doc_id]) < 1e-9  # same model, same score
    # every positive-weight doc whose fingerprint won its group is in
    n_expected = sum(1 for v in exp.values() if v >= 0.0)
    assert len(got) <= n_expected

    # replay into a FRESH checkpoint: the store anti-join suppresses
    # every already-admitted fingerprint
    stream_selected_documents(
        spark, str(landing), sel, str(tmp_path / "ckpt2"), model, min_weight=0.0
    )
    assert len(spark.read.parquet(sel).collect()) == len(got)


def test_stream_gopher_gate_matches_batch_filter(spark, sf_dir, tmp_path):
    """The streaming Gopher gate must admit EXACTLY the docs the
    batch repetition filter keeps (the stats are a pure per-doc
    function, so the gate is stateless), split across two landing
    drops, and stay exactly-once per fingerprint on replay."""
    import json as _json

    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.selection import (
        gopher_reject_reason,
        gopher_repetition_stats,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table
    from ndvi_etl_pipeline_spark.streaming.documents import stream_gopher_documents

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    stats = gopher_repetition_stats(docs)
    batch_kept = {
        r.doc_id
        for r in stats.select(
            "doc_id", gopher_reject_reason().alias("reason")
        )
        .filter(F.col("reason") == "kept")
        .collect()
    }

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = docs.collect()
    for name, chunk in (("drop1.jsonl", rows[::2]), ("drop2.jsonl", rows[1::2])):
        with open(landing / name, "w") as fh:
            for r in chunk:
                fh.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "text": r.text, "source": r.source}
                    )
                    + "\n"
                )
    curated = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    stream_gopher_documents(spark, str(landing), curated, ckpt)

    got = {r.doc_id for r in spark.read.parquet(curated).collect()}
    # exact-dup texts collapse to one winner per fingerprint; every
    # admitted doc must be batch-kept, and every batch-kept
    # fingerprint must be represented
    assert got <= batch_kept
    fp = {
        r.fingerprint
        for r in spark.read.parquet(curated).collect()
    }
    kept_fp_expected = {
        r.fingerprint
        for r in docs.filter(F.col("doc_id").isin(list(batch_kept)))
        .withColumn(
            "fingerprint",
            F.md5(F.lower(F.trim(F.col("text"))).cast("binary")),
        )
        .collect()
    }
    assert fp == kept_fp_expected

    # replay with a fresh checkpoint: store anti-join admits nothing new
    stream_gopher_documents(spark, str(landing), curated, str(tmp_path / "ckpt2"))
    assert {r.doc_id for r in spark.read.parquet(curated).collect()} == got


def test_streaming_countmin_equals_batch_sketch(spark, sf_dir):
    """The streaming CM counter table (unwindowed agg on the bounded
    (row, col) grid) must equal the batch sketch exactly once the
    stream drains — counters are associative sums, so micro-batch
    boundaries cannot change them."""
    from ndvi_etl_pipeline_spark.plans.catalog.part12_recsys_trees import (
        _CM_HASHES,
        _CM_P,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table
    from ndvi_etl_pipeline_spark.streaming.events import (
        countmin_counters,
        run_stream_over_parquet,
    )

    stream_out = run_stream_over_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        countmin_counters,
        query_name="t_countmin",
        output_mode="complete",
    )
    got = {(r.r, r.col): r.cnt for r in stream_out.collect()}

    ev = load_table(spark, "events", sf_dir)
    import pyspark.sql.functions as F

    batch = None
    for r, a, b in _CM_HASHES:
        piece = ev.select(
            F.lit(r).alias("r"),
            (((F.lit(a) * F.col("user_id") + F.lit(b)) % _CM_P) % 512).alias("col"),
        )
        batch = piece if batch is None else batch.unionAll(piece)
    expect = {
        (r.r, r.col): r.cnt
        for r in batch.groupBy("r", "col")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .collect()
    }
    assert got == expect
    # state is grid-bounded regardless of stream length
    assert len(got) <= 4 * 512


def test_stream_tokenized_matches_batch_serving(spark, sf_dir, tmp_path):
    """The streaming unigram-serving gate must produce EXACTLY the
    per-doc fertility numbers of the batch twin
    (selection.unigram_token_stats) for the same trained vocab, and
    stay exactly-once per content fingerprint on replay."""
    import json as _json

    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.selection import (
        _viterbi_pieces_expr,
        unigram_em_pieces,
        unigram_token_stats,
        unigram_words,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table
    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_tokenized_documents,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source"
    )
    batch = {
        r.doc_id: (r.n_words, r.n_unigram_pieces, r.fertility)
        for r in unigram_token_stats(docs, vocab_size=40).collect()
    }

    # publish the trained (word -> n_pieces) table the stream serves
    words = unigram_words(docs, max_word_len=12)
    trained = unigram_em_pieces(words, vocab_size=40)
    logp = {r.piece: r.logp for r in trained.collect()}
    wlen_rows = [
        (r.word, r.n)
        for r in words.select(
            "word",
            F.size(F.expr(_viterbi_pieces_expr("word", logp, 4))).alias("n"),
        ).collect()
    ]

    landing = tmp_path / "landing"
    landing.mkdir()
    rows = docs.collect()
    for name, chunk in (("d1.jsonl", rows[::2]), ("d2.jsonl", rows[1::2])):
        with open(landing / name, "w") as fh:
            for r in chunk:
                fh.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "text": r.text, "source": r.source}
                    )
                    + "\n"
                )
    out = str(tmp_path / "tokenized")
    stream_tokenized_documents(
        spark, str(landing), out, str(tmp_path / "ckpt1"), wlen_rows
    )
    got = {
        r.doc_id: (r.n_words, r.n_unigram_pieces, r.fertility)
        for r in spark.read.parquet(out).collect()
    }
    # content dedup may collapse identical texts to the lowest doc_id —
    # every emitted row must match the batch twin exactly
    assert got and all(batch[i] == v for i, v in got.items())
    n_first = len(got)

    # replay into a FRESH checkpoint: the store anti-join admits nothing
    stream_tokenized_documents(
        spark, str(landing), out, str(tmp_path / "ckpt2"), wlen_rows
    )
    assert spark.read.parquet(out).count() == n_first


def test_stream_neardup_gate_matches_greedy_replay(spark, tmp_path):
    """Embedding near-dup admission gate (streaming/documents.py
    :neardup_gate_batch): the drained stream's curated store must
    equal an INDEPENDENT sequential greedy replay in arrival order —
    reject iff round(cos, 6) >= threshold vs an already-ADMITTED
    same-bucket doc (rejected docs don't block; exact text dups die
    in the fingerprint gate first). Cross-batch near-dups, a
    near-dup-of-a-rejected-doc admission, and exactly-once on replay
    are all exercised."""
    import json as _json
    import math as _math

    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_neardup_documents,
    )

    def rot(theta_deg):
        # rotate the (0,1) block of an all-5s 8-vector; signs never
        # flip below 45 deg so every vector shares one LSH bucket
        th = _math.radians(theta_deg)
        v = [5.0] * 8
        v[0] = 5.0 * _math.cos(th) - 5.0 * _math.sin(th)
        v[1] = 5.0 * _math.sin(th) + 5.0 * _math.cos(th)
        return v

    neg = [-5.0] * 8  # a different bucket entirely
    docs = [
        # (doc_id, text, embedding) — arrival order == doc_id order
        (1, "alpha document body one", rot(0)),           # admit
        (2, "alpha document body one", rot(0)),           # exact-dup reject
        (3, "beta paraphrase of one", rot(16)),           # near-dup of 1 -> reject
        (4, "gamma unrelated enough", rot(32)),           # cos vs 1 = .962 -> admit (3 not in store)
        (5, "delta other orthant", neg),                  # admit (own bucket)
    ]
    drop2 = [
        (10, "epsilon late twin of one", rot(2)),         # cross-batch near-dup of 1 -> reject
        (11, "zeta late twin of delta", [x * 1.01 for x in neg]),  # near-dup of 5 -> reject
        (12, "eta far from everything admitted", rot(48)),  # cos vs 4 = .990.. check replay decides
    ]

    landing = tmp_path / "landing"
    landing.mkdir()
    curated = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    thr = 0.99

    (landing / "drop1.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {"doc_id": i, "text": t, "source": "s", "embedding": e}
            )
            for i, t, e in docs
        )
    )
    stream_neardup_documents(spark, str(landing), curated, ckpt, threshold=thr)
    (landing / "drop2.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {"doc_id": i, "text": t, "source": "s", "embedding": e}
            )
            for i, t, e in drop2
        )
    )
    stream_neardup_documents(spark, str(landing), curated, ckpt, threshold=thr)

    # ---- independent greedy replay (pure python, arrival order) ----
    def bucket(v):
        return sum((1 << i) for i in range(8) if v[i] >= 0)

    admitted = []  # (doc_id, bucket, vec)
    seen_texts = set()
    for i, t, v in docs + drop2:
        if t in seen_texts:
            continue
        seen_texts.add(t)
        b = bucket(v)
        dup = False
        for _aid, ab, av, _at in admitted:
            if ab != b:
                continue
            dot = sum(x * y for x, y in zip(v, av))
            nv = _math.sqrt(sum(x * x for x in v))
            na = _math.sqrt(sum(x * x for x in av))
            if round(dot / (nv * na), 6) >= thr:
                dup = True
                break
        if not dup:
            admitted.append((i, b, v, t))

    want = {i for i, _b, _v, _t in admitted}
    got = {r.doc_id for r in spark.read.parquet(curated).collect()}
    assert got == want, (got, want)
    assert 1 in got and 4 in got and 5 in got  # the sanity anchors
    assert {2, 3, 10, 11} & got == set()

    # replay the drained stream: exactly-once, store unchanged
    stream_neardup_documents(spark, str(landing), curated, ckpt, threshold=thr)
    assert {r.doc_id for r in spark.read.parquet(curated).collect()} == want
    # fresh checkpoint over the same landing: every batch replays,
    # the fingerprint gate suppresses all of it
    stream_neardup_documents(
        spark, str(landing), curated, str(tmp_path / "ckpt2"), threshold=thr
    )
    assert {r.doc_id for r in spark.read.parquet(curated).collect()} == want


def test_stream_ann_serving_equals_batch(spark, sf_dir, tmp_path):
    """Streaming ADC serving (streaming/ann.py): queries landed across
    two drops, drained against a PQ-coded corpus, must produce EXACTLY
    the batch pq_topk_adc result over the union of queries — ADC
    ranking is per-query independent, so batch boundaries cannot show
    through. Replays (same checkpoint AND a fresh checkpoint over the
    same landing) re-serve nothing: the results store is its own
    query_id ledger."""
    import json as _json

    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk_adc,
        pq_train,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table
    from ndvi_etl_pipeline_spark.streaming.ann import stream_ann_topk

    e = load_table(spark, "embeddings", sf_dir)
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).collect()
    assert len(queries) >= 4

    landing = tmp_path / "qland"
    landing.mkdir()
    results = str(tmp_path / "served")
    ckpt = str(tmp_path / "ckpt")
    half = len(queries) // 2
    for name, chunk in (("drop1", queries[:half]), ("drop2", queries[half:])):
        (landing / f"{name}.jsonl").write_text(
            "\n".join(
                _json.dumps({"query_id": r.query_id, "embedding": list(r.v)})
                for r in chunk
            )
        )
    # duplicate query in drop2 (already served in drop1): must not dup
    (landing / "drop2.jsonl").write_text(
        (landing / "drop2.jsonl").read_text()
        + "\n"
        + _json.dumps(
            {"query_id": queries[0].query_id, "embedding": list(queries[0].v)}
        )
    )

    stream_ann_topk(spark, str(landing), results, ckpt, corpus, k=5)

    books = pq_train(corpus, m=4, k=8, iterations=2)
    codes = pq_encode(corpus, books)
    want = {
        (r.query_id, r.rank): (r.vec_id, r.adc_dist)
        for r in pq_topk_adc(
            codes,
            e.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").cast("long"), "embedding"
            ),
            books,
            k=5,
        ).collect()
    }
    got_rows = spark.read.parquet(results).collect()
    got = {(r.query_id, r.rank): (r.vec_id, r.adc_dist) for r in got_rows}
    assert len(got_rows) == len(got) == len(want)  # no dup serves
    assert got == want

    # replay with the same checkpoint: no new files, store unchanged
    stream_ann_topk(spark, str(landing), results, ckpt, corpus, k=5)
    assert spark.read.parquet(results).count() == len(want)
    # fresh checkpoint: every batch replays, the ledger suppresses all
    stream_ann_topk(
        spark, str(landing), results, str(tmp_path / "ckpt2"), corpus, k=5
    )
    assert spark.read.parquet(results).count() == len(want)


def test_stream_curated_documents_lake_snapshots(spark, tmp_path):
    """Lake-backed curation drain: each micro-batch is one atomic
    snapshot commit; cross-drain dedup reads through the manifest; a
    reader pinned at version 0 is isolated from the second drain; and
    lake history records the per-batch appends."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import lake_history, lake_read
    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_curated_documents_lake,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "curated_lake")
    ckpt = str(tmp_path / "ckpt")

    good = "the quick brown fox jumps over the lazy dog again and again"
    other = "a completely different document body with plenty of words here"
    (landing / "drop1.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 1, "text": good, "source": "a"}),
                _json.dumps({"doc_id": 2, "text": "short", "source": "a"}),
                _json.dumps({"doc_id": 3, "text": good, "source": "a"}),
            ]
        )
    )
    stream_curated_documents_lake(spark, str(landing), table, ckpt)
    assert {r.doc_id for r in lake_read(spark, table).collect()} == {1}
    pinned = lake_read(spark, table, version=0)

    (landing / "drop2.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"doc_id": 10, "text": good, "source": "b"}),
                _json.dumps({"doc_id": 11, "text": other, "source": "b"}),
            ]
        )
    )
    stream_curated_documents_lake(spark, str(landing), table, ckpt)
    assert {r.doc_id for r in lake_read(spark, table).collect()} == {1, 11}
    # the pinned snapshot never saw drop2 (isolation through the drain)
    assert {r.doc_id for r in pinned.collect()} == {1}
    assert [h["op"] for h in lake_history(table)] == ["append", "append"]

    # replay the drained stream: no new snapshot, store stable
    stream_curated_documents_lake(spark, str(landing), table, ckpt)
    assert len(lake_history(table)) == 2


def test_stream_neardup_lake_gate_matches_replay_and_prunes(spark, tmp_path):
    """The LAKE-backed near-dup gate (bucket-partitioned admission
    index): (a) the drained store equals the independent sequential
    greedy replay — identical semantics to the loose-parquet gate;
    (b) the per-batch embedding scan provably reads ONLY the files of
    buckets present in the batch (identity-partition file skipping),
    never the whole store; (c) replays admit nothing twice."""
    import json as _json
    import math as _math

    from ndvi_etl_pipeline_spark.sources.lake import lake_history, lake_read
    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_neardup_documents_lake,
    )

    def rot(theta_deg):
        th = _math.radians(theta_deg)
        v = [5.0] * 8
        v[0] = 5.0 * _math.cos(th) - 5.0 * _math.sin(th)
        v[1] = 5.0 * _math.sin(th) + 5.0 * _math.cos(th)
        return v

    neg = [-5.0] * 8
    docs = [
        (1, "alpha document body one", rot(0)),
        (2, "alpha document body one", rot(0)),   # exact-dup reject
        (3, "beta paraphrase of one", rot(16)),   # near-dup of 1 -> reject
        (4, "gamma unrelated enough", rot(32)),
        (5, "delta other orthant", neg),
    ]
    drop2 = [
        (10, "epsilon late twin of one", rot(2)),            # reject vs 1
        (11, "zeta late twin of delta", [x * 1.01 for x in neg]),  # reject vs 5
        (12, "eta far from everything admitted", rot(48)),
    ]

    landing = tmp_path / "landing"
    landing.mkdir()
    curated = str(tmp_path / "curated_lake")
    ckpt = str(tmp_path / "ckpt")
    thr = 0.99

    (landing / "drop1.jsonl").write_text(
        "\n".join(
            _json.dumps({"doc_id": i, "text": t, "source": "s", "embedding": e})
            for i, t, e in docs
        )
    )
    stream_neardup_documents_lake(spark, str(landing), curated, ckpt, threshold=thr)
    (landing / "drop2.jsonl").write_text(
        "\n".join(
            _json.dumps({"doc_id": i, "text": t, "source": "s", "embedding": e})
            for i, t, e in drop2
        )
    )
    stream_neardup_documents_lake(spark, str(landing), curated, ckpt, threshold=thr)

    # independent greedy replay (pure python, arrival order)
    def bucket(v):
        return sum((1 << i) for i in range(8) if v[i] >= 0)

    admitted, seen_texts = [], set()
    for i, t, v in docs + drop2:
        if t in seen_texts:
            continue
        seen_texts.add(t)
        b = bucket(v)
        dup = False
        for _aid, ab, av in admitted:
            if ab != b:
                continue
            dot = sum(x * y for x, y in zip(v, av))
            nv = _math.sqrt(sum(x * x for x in v))
            na = _math.sqrt(sum(x * x for x in av))
            if round(dot / (nv * na), 6) >= thr:
                dup = True
                break
        if not dup:
            admitted.append((i, b, v))
    want = {i for i, _b, _v in admitted}

    got = {r.doc_id for r in lake_read(spark, curated).collect()}
    assert got == want, (got, want)
    assert [h["op"] for h in lake_history(curated)] == ["append", "append"]

    # (b) bucket pruning is real: a single-bucket read's scan contains
    # ONLY that bucket's files — this is what bounds the per-batch
    # store scan to the batch's buckets at 100 TB
    some_bucket = sorted({b for _i, b, _v in admitted})[0]
    scan = lake_read(spark, curated, where=[("bucket", "in", [some_bucket])])
    files = scan.inputFiles()
    assert files and all(f"bucket={some_bucket}" in f for f in files)
    all_files = lake_read(spark, curated).inputFiles()
    assert len(files) < len(all_files)  # other buckets exist and were skipped

    # the fingerprint LEDGER is bloom-indexed too: a fingerprint the
    # store provably lacks opens ZERO files — this is what bounds the
    # per-batch ledger anti-join scan to matching files at 100 TB
    import json as _json2
    import os as _os

    # raw delta record (log-segment storage): v1 carries its scalar
    # state verbatim and only the entries it ADDED
    m = _json2.load(
        open(_os.path.join(curated, "_manifests", "v1.json"))
    )
    assert m["bloom_cols"] == ["fingerprint"]
    assert m["add"] and all(
        e["bloom"]["fingerprint"]["bits"] for e in m["add"]
    )
    none = lake_read(
        spark, curated, where=[("fingerprint", "==", "not-a-real-fp")]
    )
    assert none.inputFiles() == [] and none.count() == 0

    # (c) replay: same checkpoint is a no-op; a fresh checkpoint
    # replays every batch and the fingerprint gate suppresses all of it
    stream_neardup_documents_lake(spark, str(landing), curated, ckpt, threshold=thr)
    assert {r.doc_id for r in lake_read(spark, curated).collect()} == want
    stream_neardup_documents_lake(
        spark, str(landing), curated, str(tmp_path / "ckpt2"), threshold=thr
    )
    assert {r.doc_id for r in lake_read(spark, curated).collect()} == want


def test_stream_neardup_lake_maintenance_bounds_files(spark, tmp_path):
    """Long-running drain: many micro-batches into one hot bucket
    would grow its file count (and degrade bloom/partition pruning)
    without maintenance; with the post-commit small-file policy the
    partition's live-file count stays bounded, the admitted set is
    UNCHANGED by compactions (exactly-once preserved), and the
    fingerprint-bloom point lookup still prunes to one file."""
    import json as _json

    from ndvi_etl_pipeline_spark.sources.lake import (
        _file_may_match,
        _phys_where,
        _read_manifest,
        lake_history,
        lake_latest_version,
        lake_read,
    )
    from ndvi_etl_pipeline_spark.streaming.documents import (
        stream_neardup_documents_lake,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    curated = str(tmp_path / "curated_lake")
    ckpt = str(tmp_path / "ckpt")

    # all docs in the SAME bucket (all-positive embeddings), all
    # mutually distant: direction = the bitmask of (b+1), so any two
    # docs share at most part of their support (max pairwise cosine
    # ~0.87 < 0.999) — every batch admits one doc into the hot bucket
    n_batches = 12
    for b in range(n_batches):
        mask = b + 1
        emb = [10.0 if (mask >> i) & 1 else 0.001 for i in range(8)]
        (landing / f"drop{b:02d}.jsonl").write_text(
            _json.dumps(
                {"doc_id": b, "text": f"doc body {b}", "source": "s",
                 "embedding": emb}
            )
        )
        stream_neardup_documents_lake(
            spark, str(landing), curated, ckpt,
            threshold=0.999, maintain_max_files=4,
        )

    got = {r.doc_id for r in lake_read(spark, curated).collect()}
    # the greedy gate admits docs whose cosine to every prior admit
    # is < 0.999 — with near-orthogonal directions, all admit
    assert got == set(range(n_batches))
    ops = [h["op"] for h in lake_history(curated)]
    assert "compact" in ops  # maintenance fired
    m = _read_manifest(curated, lake_latest_version(curated))
    per_part: dict = {}
    for e in m["files"]:
        per_part.setdefault(e["partitions"]["bucket"], []).append(e)
    assert max(len(v) for v in per_part.values()) <= 5  # bounded
    # bloom prune stays selective after compaction rewrote the files
    fp_rows = lake_read(spark, curated).select("fingerprint", "doc_id").collect()
    one_fp = next(r.fingerprint for r in fp_rows if r.doc_id == 5)
    pw = _phys_where([("fingerprint", "==", one_fp)], m)
    kept = [
        e for e in m["files"]
        if _file_may_match(e, pw, tuple(m.get("partition_by") or ()))
    ]
    assert len(kept) <= 2, [e["path"] for e in kept]

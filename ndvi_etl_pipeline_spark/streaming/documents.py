"""Incremental training-data curation: a JSONL landing zone streamed
into a deduplicated, quality-gated curated store.

The batch curation pipeline (`plans/queries.py::curation_pipeline`,
operators/curation.py) as a Structured Streaming job — the shape a
100 TB corpus actually arrives in (crawl drops landing continuously,
the curated store must stay append-only and duplicate-free):

    readStream(json landing) → foreachBatch:
        quality gate (pure column exprs)
        within-batch fingerprint dedup (keep lowest doc_id)
        cross-batch dedup: anti-join against the curated store's own
          fingerprint column (the store IS the ledger — no second
          state table to drift out of sync; same device as
          streaming/scenes.py's pairing ledger)
        append curated parquet

Exactly-once per content fingerprint: replayed batches re-anti-join
against the store and insert nothing (the K3 DO-NOTHING upsert idiom,
load_to_postgis.py:163, applied to a stream). foreachBatch is the
right tool because the dedup key is CONTENT, unbounded in time — a
watermarked dropDuplicates would age fingerprints out and re-admit
late duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import exact_fingerprint, quality_score

LANDING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

CURATED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("quality", T.DoubleType()),
    ]
)


def _read_store_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Empty ONLY when the store does not exist yet; other read
    failures RAISE (an empty fallback would reset the cross-batch
    fingerprint state and double-admit every already-curated doc)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], schema)
        raise


def _read_curated(spark: SparkSession, path: str) -> DataFrame:
    return _read_store_or_empty(spark, path, CURATED_SCHEMA)


def curate_batch(
    batch_df: DataFrame, curated_path: str, min_quality: float = 0.5
) -> DataFrame:
    """One micro-batch through the gate: returns the rows to append
    (pure function of batch + current store — unit-testable without a
    stream)."""
    spark = batch_df.sparkSession
    gated = (
        batch_df.filter(F.col("text").isNotNull() & (F.length("text") >= 20))
        .withColumn("fingerprint", exact_fingerprint("text"))
        .withColumn("quality", quality_score("text"))
        .filter(F.col("quality") >= min_quality)
    )
    # within-batch: one winner per fingerprint, deterministic
    in_batch = gated.groupBy("fingerprint").agg(
        F.min_by(
            F.struct("doc_id", "text", "source", "quality"), F.col("doc_id")
        ).alias("w")
    ).select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.text").alias("text"),
        F.col("w.source").alias("source"),
        "fingerprint",
        F.col("w.quality").alias("quality"),
    )
    seen = _read_curated(spark, curated_path).select("fingerprint")
    return in_batch.join(seen, "fingerprint", "left_anti").select(
        "doc_id", "text", "source", "fingerprint", "quality"
    )


SELECTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("dsir_weight", T.DoubleType()),
    ]
)


def train_dsir_model(docs: DataFrame, target_pred, model_path: str) -> None:
    """Train the DSIR bucket LM offline and publish it as a parquet
    model store (64 rows: bucket → log importance ratio). The
    train-offline/score-online split: the batch job owns the model,
    every stream batch broadcasts it — no state in the stream."""
    from ..operators.selection import dsir_logweights  # noqa: F401  (doc anchor)
    from ..operators.selection import N_BUCKETS, token_bucket
    from ..functions.text import tokens

    tok = docs.select(
        target_pred.alias("is_t"), F.explode(tokens("text")).alias("w")
    ).select("is_t", token_bucket("w").alias("b"))
    cnt = tok.groupBy("b").agg(
        F.count("*").cast("double").alias("c_r"),
        F.sum(F.col("is_t").cast("int")).cast("double").alias("c_t"),
    ).persist()
    tot = cnt.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    bb = float(N_BUCKETS)
    lr = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + F.lit(bb)))
            - F.log((F.col("c_r") + F.lit(1.0)) / (F.col("n_r") + F.lit(bb)))
        ).alias("lr"),
    )
    lr.write.mode("overwrite").parquet(model_path)


def score_batch(
    batch_df: DataFrame,
    model_df: DataFrame,
    curated_path: str,
    min_weight: float = 0.0,
) -> DataFrame:
    """One micro-batch through the DSIR gate: per-doc log importance
    weight from the broadcast bucket LM, keep docs scoring above the
    threshold, fingerprint-anti-join against the store (exactly-once
    per content, the curate_batch idiom). Pure function of
    (batch, model, store) — unit-testable without a stream."""
    from ..operators.selection import token_bucket
    from ..functions.text import tokens

    spark = batch_df.sparkSession
    base = batch_df.filter(F.col("text").isNotNull()).withColumn(
        "fingerprint", exact_fingerprint("text")
    )
    tok = base.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).select("doc_id", token_bucket("w").alias("b"))
    w = (
        tok.join(F.broadcast(model_df), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("dsir_weight"))
    )
    # LEFT join + 0-weight default: a doc with no model-bucket tokens
    # (empty/punctuation-only text) scores sum-over-nothing = 0 and
    # faces the threshold like any other — an inner join would drop it
    # even when min_weight <= 0 admits weight-0 docs.
    scored = (
        base.join(w, "doc_id", "left")
        .withColumn("dsir_weight", F.coalesce("dsir_weight", F.lit(0.0)))
        .filter(F.col("dsir_weight") >= min_weight)
    )
    # one winner per fingerprint within the batch, then store anti-join
    in_batch = scored.groupBy("fingerprint").agg(
        F.min_by(
            F.struct("doc_id", "text", "source", "dsir_weight"), F.col("doc_id")
        ).alias("x")
    ).select(
        F.col("x.doc_id").alias("doc_id"),
        F.col("x.text").alias("text"),
        F.col("x.source").alias("source"),
        "fingerprint",
        F.col("x.dsir_weight").alias("dsir_weight"),
    )
    seen = _read_store_or_empty(spark, curated_path, SELECTED_SCHEMA).select(
        "fingerprint"
    )
    return in_batch.join(seen, "fingerprint", "left_anti")


def stream_selected_documents(
    spark: SparkSession,
    landing_dir: str,
    selected_path: str,
    checkpoint_dir: str,
    model_path: str,
    min_weight: float = 0.0,
) -> None:
    """Drain the landing zone through the batch-trained DSIR gate
    (availableNow). The model parquet is read once per run and
    broadcast into every micro-batch join."""
    model_df = spark.read.parquet(model_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = score_batch(batch_df, model_df, selected_path, min_weight)
        fresh.write.mode("append").parquet(selected_path)

    reader = spark.readStream.schema(LANDING_SCHEMA).json(landing_dir)
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_curated_documents(
    spark: SparkSession,
    landing_dir: str,
    curated_path: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
) -> None:
    """Drain the landing zone (availableNow) into the curated store."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = curate_batch(batch_df, curated_path, min_quality)
        fresh.write.mode("append").parquet(curated_path)

    reader = spark.readStream.schema(LANDING_SCHEMA).json(landing_dir)
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def gopher_gate_batch(
    batch_df: DataFrame, curated_path: str
) -> DataFrame:
    """One micro-batch through the Gopher repetition gate
    (operators/selection.py:GOPHER_THRESHOLDS — the same policy the
    batch catalog query applies): per-doc repetition stats are a
    pure function of the document text, so the gate is STATELESS
    per row and needs no cross-batch state beyond the store's
    fingerprint anti-join (exactly-once per content, the
    curate_batch idiom). Pure function of (batch, store) —
    unit-testable without a stream."""
    from ..operators.selection import gopher_reject_reason, gopher_repetition_stats

    spark = batch_df.sparkSession
    base = batch_df.filter(F.col("text").isNotNull()).withColumn(
        "fingerprint", exact_fingerprint("text")
    )
    stats = gopher_repetition_stats(base)
    kept = (
        stats.select("doc_id", gopher_reject_reason().alias("reason"))
        .filter(F.col("reason") == "kept")
        .select("doc_id")
    )
    gated = base.join(kept, "doc_id").select(
        "doc_id", "text", "source", "fingerprint"
    )
    in_batch = gated.groupBy("fingerprint").agg(
        F.min_by(F.struct("doc_id", "text", "source"), F.col("doc_id")).alias("x")
    ).select(
        F.col("x.doc_id").alias("doc_id"),
        F.col("x.text").alias("text"),
        F.col("x.source").alias("source"),
        "fingerprint",
    )
    from pyspark.errors import AnalysisException

    try:
        seen = spark.read.parquet(curated_path).select("fingerprint")
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        seen = spark.createDataFrame([], "fingerprint string")
    return in_batch.join(seen, "fingerprint", "left_anti")


def stream_gopher_documents(
    spark: SparkSession,
    landing_dir: str,
    curated_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain the landing zone (availableNow) through the Gopher
    repetition gate into the curated store."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = gopher_gate_batch(batch_df, curated_path)
        fresh.write.mode("append").parquet(curated_path)

    reader = spark.readStream.schema(LANDING_SCHEMA).json(landing_dir)
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


EMBEDDED_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

NEARDUP_CURATED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def neardup_gate_batch(
    batch_df: DataFrame,
    curated_path: str,
    threshold: float = 0.9,
    n_bits: int = 8,
) -> DataFrame:
    """One micro-batch through the EMBEDDING near-duplicate gate — the
    admission-control twin of the batch `embedding_neardup` pair query
    (similarity.lsh_near_duplicate_pairs): the exact-fingerprint
    anti-join catches byte-identical dups only; this closes the
    remaining contamination channel, paraphrase/near-dup admission.

    Semantics (online greedy, deterministic): a candidate is REJECTED
    iff some ALREADY-ADMITTED document in the same sign-LSH bucket has
    round(cosine, 6) ≥ threshold — earlier batches' admissions live in
    the curated store (the store IS the ledger, as everywhere in this
    module), and within a batch candidates are processed in doc_id
    order against the store plus batch admissions so far. Rejected
    docs do NOT block future ones (they're not in the store), which
    makes the outcome identical to a sequential greedy replay in
    arrival order — the stream-equals-batch property
    tests/test_streaming.py pins against an independent Python replay.

    Scale shape: near-dup pairs only form WITHIN a bucket
    (lsh_near_duplicate_pairs' own invariant), so the greedy is
    bucket-local and buckets run in parallel: one shuffle of
    candidates + store on bucket, then a cogrouped Arrow kernel
    (applyInArrow) does the |cand|×|store| vectorized cosines per
    bucket — no all-pairs join, no driver collect. Exactly-once per
    content across replays: a replayed batch's rows are byte-identical
    to store rows and die in the fingerprint anti-join before the
    kernel runs.

    This loose-parquet form cogroups the FULL store per batch — the
    100 TB path is neardup_gate_batch_lake, whose bucket-partitioned
    lake store prunes the per-batch embedding scan to only the
    buckets present in the batch."""
    store = _read_store_or_empty(
        batch_df.sparkSession, curated_path, NEARDUP_CURATED_SCHEMA
    )
    fresh = _neardup_fresh_candidates(
        batch_df, store.select("fingerprint"), n_bits
    )
    return _admit_against_store(
        fresh, store.select("bucket", "doc_id", "embedding"), threshold
    )


def _neardup_fresh_candidates(
    batch_df: DataFrame, seen_fp: DataFrame, n_bits: int
) -> DataFrame:
    """Batch rows → deduped candidates: _neardup_in_batch then the
    anti-join against the store's fingerprint ledger."""
    return _neardup_in_batch(batch_df, n_bits).join(
        seen_fp, "fingerprint", "left_anti"
    )


def _neardup_in_batch(batch_df: DataFrame, n_bits: int) -> DataFrame:
    """Within-batch candidate prep: drop null/empty embeddings,
    fingerprint + LSH-bucket each row, keep the min-doc_id winner per
    fingerprint (hash aggregate)."""
    from ..operators.similarity import sign_lsh_bucket

    base = (
        batch_df.filter(
            F.col("text").isNotNull()
            & F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
        )
        .withColumn("fingerprint", exact_fingerprint("text"))
        .withColumn("bucket", sign_lsh_bucket("embedding", n_bits))
    )
    in_batch = base.groupBy("fingerprint").agg(
        F.min_by(
            F.struct("doc_id", "text", "source", "bucket", "embedding"),
            F.col("doc_id"),
        ).alias("x")
    ).select(
        F.col("x.doc_id").alias("doc_id"),
        F.col("x.text").alias("text"),
        F.col("x.source").alias("source"),
        "fingerprint",
        F.col("x.bucket").alias("bucket"),
        F.col("x.embedding").alias("embedding"),
    )
    return in_batch


def _admit_against_store(
    fresh: DataFrame, store_embeddings: DataFrame, threshold: float
) -> DataFrame:
    """Bucket-cogrouped greedy admission: per bucket, candidates in
    doc_id order are rejected iff round(cos, 6) >= threshold against
    an already-admitted vector (store first, then batch admissions so
    far). `store_embeddings` is a (bucket, doc_id, embedding)
    relation — the FULL store for the loose-parquet gate, or only the
    matching-bucket files for the lake-indexed gate."""
    import numpy as np

    from ..operators.arrow_kernels import _column

    thr = float(threshold)

    def bucket_greedy(cand, store):
        admitted = [np.asarray(e, dtype=np.float64) for e in _column(store["embedding"])]
        emb = _column(cand["embedding"])
        keep = []
        for i in np.argsort(_column(cand["doc_id"]), kind="stable"):
            v = np.asarray(emb[i], dtype=np.float64)
            nv = float(np.sqrt((v * v).sum()))
            dup = False
            for a in admitted:
                na = float(np.sqrt((a * a).sum()))
                sim = float(v @ a) / (nv * na) if nv and na else 0.0
                if round(sim, 6) >= thr:
                    dup = True
                    break
            if not dup:
                keep.append(i)
                admitted.append(v)
        return cand.take(np.array(keep, dtype=np.int64))

    return (
        fresh.select("doc_id", "text", "source", "fingerprint", "bucket", "embedding")
        .groupBy("bucket")
        .cogroup(store_embeddings.groupBy("bucket"))
        .applyInArrow(bucket_greedy, schema=NEARDUP_CURATED_SCHEMA)
    )


def neardup_gate_batch_lake(
    batch_df: DataFrame,
    curated_table: str,
    threshold: float = 0.9,
    n_bits: int = 8,
) -> DataFrame:
    """The embedding near-dup gate with the curated store as a
    BUCKET-PARTITIONED manifest-lake table (sources/lake.py) — the
    incremental admission index. The loose-parquet gate cogroups the
    FULL store's embeddings every micro-batch, O(store) per batch at
    100 TB; here the store's hive layout keys each file by its LSH
    bucket, so the per-batch embedding scan is

        lake_read(table, where=[("bucket", "in", <batch buckets>)])

    — identity-partition FILE SKIPPING prunes to exactly the buckets
    present in the batch (near-dup pairs only form within a bucket,
    so no other file can affect admission), making the scan
    O(matching buckets), not O(store). The fingerprint ledger
    anti-join still reads the full store's fingerprint COLUMN (a
    column-pruned scan — the ledger is table-wide by definition), but
    never the embedding payloads. The batch's distinct bucket set is
    a ≤2^n_bits-row driver collect (metadata-scale).

    Admission semantics are IDENTICAL to neardup_gate_batch — the
    stream-equals-batch replay test pins both."""
    from ..sources.lake import lake_read

    spark = batch_df.sparkSession
    in_batch = _neardup_in_batch(batch_df, n_bits)
    store_exists = True
    try:
        lake_read(spark, curated_table)
    except FileNotFoundError:
        store_exists = False
    if store_exists:
        # ledger anti-join, bloom-pruned: only files whose fingerprint
        # bloom may contain one of THIS batch's fingerprints can
        # produce an anti-join match, so the ledger scan is O(matching
        # files), not O(store). prune_only: the anti-join re-checks
        # membership exactly; an isin() row filter over thousands of
        # literals would only bloat the plan.
        fps = [
            r.fingerprint
            for r in in_batch.select("fingerprint").distinct().collect()
        ]
        seen_fp = (
            lake_read(
                spark,
                curated_table,
                where=[("fingerprint", "in", fps)],
                prune_only=True,
            ).select("fingerprint")
            if fps
            else spark.createDataFrame([], "fingerprint string")
        )
    else:
        seen_fp = spark.createDataFrame([], "fingerprint string")
    fresh = in_batch.join(seen_fp, "fingerprint", "left_anti")
    store_cols = "bucket long, doc_id long, embedding array<double>"
    if store_exists:
        buckets = [r.bucket for r in fresh.select("bucket").distinct().collect()]
        store_b = (
            lake_read(spark, curated_table, where=[("bucket", "in", buckets)])
            .select("bucket", "doc_id", "embedding")
            if buckets
            else spark.createDataFrame([], store_cols)
        )
    else:
        store_b = spark.createDataFrame([], store_cols)
    return _admit_against_store(fresh, store_b, threshold)


def stream_neardup_documents_lake(
    spark: SparkSession,
    landing_dir: str,
    curated_table: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    n_bits: int = 8,
    maintain_max_files: int = 8,
) -> None:
    """Drain an embedded landing zone through the fingerprint +
    embedding near-dup gates into a bucket-partitioned LAKE store:
    every micro-batch lands as one atomic snapshot commit (snapshot
    isolation + per-batch time travel, as in
    stream_curated_documents_lake), and the admission index reads
    only the batch's buckets (neardup_gate_batch_lake).

    POST-COMMIT MAINTENANCE: every drained batch appends one small
    file per touched bucket, and both gates' pruning (the bucket
    partition skip and the fingerprint bloom skip) degrades linearly
    with live-file count — so after each commit the small-file policy
    (sources/lake.py:lake_maintain) compacts any bucket partition
    that crossed `maintain_max_files` down to one file, recomputing
    its stats and blooms. Write amplification stays O(small files);
    untouched buckets carry over byte-identical, and a maintenance
    pass racing a concurrent append re-runs from the winner's
    snapshot (file-pinned selection — never compacts stale files)."""
    from ..sources.lake import lake_maintain, lake_write

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = neardup_gate_batch_lake(
            batch_df, curated_table, threshold, n_bits
        ).localCheckpoint()
        if fresh.count():
            lake_write(
                fresh,
                curated_table,
                partition_by=("bucket",),
                bloom_cols=("fingerprint",),
            )
            lake_maintain(
                spark,
                curated_table,
                max_files=maintain_max_files,
                target_files=1,
                # only files below this count as "small": without it
                # every pass re-rewrites the bucket's one big
                # compacted file too, and total write volume over the
                # stream's life goes O(bucket²) instead of O(deltas)
                small_bytes=32 << 20,
            )

    reader = (
        spark.readStream.schema(EMBEDDED_LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(landing_dir)
    )
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_neardup_documents(
    spark: SparkSession,
    landing_dir: str,
    curated_path: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    n_bits: int = 8,
) -> None:
    """Drain an embedded landing zone (availableNow) through the
    exact-fingerprint + embedding near-dup gates into the curated
    store. `option(maxFilesPerTrigger)` upstream controls batch
    granularity; admission is arrival-order greedy (see
    neardup_gate_batch)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = neardup_gate_batch(batch_df, curated_path, threshold, n_bits)
        fresh.write.mode("append").parquet(curated_path)

    reader = (
        spark.readStream.schema(EMBEDDED_LANDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(landing_dir)
    )
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


TOKENIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_unigram_pieces", T.IntegerType()),
        T.StructField("fertility", T.DoubleType()),
    ]
)


def tokenize_batch(
    batch_df: DataFrame,
    wlen_rows: list[tuple[str, int]],
    tokenized_path: str,
) -> DataFrame:
    """One micro-batch through a PRE-TRAINED unigram tokenizer (the
    streaming twin of selection.unigram_token_stats's serving half):
    per-doc word count, Viterbi piece count via the trained
    (word → n_pieces) table shipped as a broadcast relation, fertility,
    plus the fingerprint-anti-join against the store (exactly-once per
    content, the curate_batch idiom). Untrained words fall back to one
    piece per character — identical to the batch serving path.

    The tokenizer is TRAINED OFFLINE (selection.unigram_em_pieces over
    a corpus snapshot) and only the vocab-sized word table rides into
    the stream — the standard split between the heavyweight training
    job and the lightweight serving gate, same as the DSIR model in
    score_batch."""
    spark = batch_df.sparkSession
    wlen = spark.createDataFrame(wlen_rows, "word string, n_pieces int")
    base = batch_df.filter(F.col("text").isNotNull()).withColumn(
        "fingerprint", exact_fingerprint("text")
    )
    dw = base.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"),
    ).filter(F.length("word") >= 1)
    per_doc = (
        dw.join(F.broadcast(wlen), "word", "left")
        .select(
            "doc_id",
            F.coalesce("n_pieces", F.length("word")).alias("np"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("np").cast("int").alias("n_unigram_pieces"),
        )
    )
    scored = base.join(per_doc, "doc_id").select(
        "doc_id",
        "source",
        "fingerprint",
        "n_words",
        "n_unigram_pieces",
        F.round(
            F.col("n_unigram_pieces").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
    )
    # cross-batch exactly-once per content fingerprint
    dedup = scored.groupBy("fingerprint").agg(
        F.min_by(
            F.struct(
                "doc_id", "source", "n_words", "n_unigram_pieces", "fertility"
            ),
            F.col("doc_id"),
        ).alias("x")
    ).select(
        F.col("x.doc_id").alias("doc_id"),
        F.col("x.source").alias("source"),
        "fingerprint",
        F.col("x.n_words").alias("n_words"),
        F.col("x.n_unigram_pieces").alias("n_unigram_pieces"),
        F.col("x.fertility").alias("fertility"),
    )
    seen = _read_store_or_empty(spark, tokenized_path, TOKENIZED_SCHEMA).select(
        "fingerprint"
    )
    return dedup.join(seen, "fingerprint", "left_anti")


def stream_tokenized_documents(
    spark: SparkSession,
    landing_dir: str,
    tokenized_path: str,
    checkpoint_dir: str,
    wlen_rows: list[tuple[str, int]],
) -> None:
    """Drain the landing zone (availableNow) through the pre-trained
    unigram tokenizer into the tokenized store — fertility per doc,
    exactly-once per content fingerprint across batches/replays."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = tokenize_batch(batch_df, wlen_rows, tokenized_path)
        fresh.write.mode("append").parquet(tokenized_path)

    reader = spark.readStream.schema(LANDING_SCHEMA).json(landing_dir)
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_curated_documents_lake(
    spark: SparkSession,
    landing_dir: str,
    curated_table: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
) -> None:
    """The landing-zone drain with the curated store as a MANIFEST
    LAKE table (sources/lake.py) instead of loose parquet: every
    micro-batch lands as one atomic snapshot commit, so

    - a trainer that pinned version N keeps reading exactly version N
      while the drain appends (snapshot isolation — loose parquet
      readers can see half-written batches),
    - the curated corpus is time-travelable per batch (which docs did
      the store hold when run X trained? `lake_read(..., version=k)`),
    - a crashed foreachBatch never leaves a torn append: data files
      without a manifest commit are invisible to every reader, and the
      replay's fingerprint anti-join still dedups content that DID
      commit (the same store-is-the-ledger idiom, now reading through
      the manifest).
    """
    from ..sources.lake import lake_read, lake_write

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        gated = (
            batch_df.filter(F.col("text").isNotNull() & (F.length("text") >= 20))
            .withColumn("fingerprint", exact_fingerprint("text"))
            .withColumn("quality", quality_score("text"))
            .filter(F.col("quality") >= min_quality)
        )
        in_batch = gated.groupBy("fingerprint").agg(
            F.min_by(
                F.struct("doc_id", "text", "source", "quality"), F.col("doc_id")
            ).alias("w")
        ).select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.text").alias("text"),
            F.col("w.source").alias("source"),
            "fingerprint",
            F.col("w.quality").alias("quality"),
        )
        try:
            # bloom-pruned ledger: only files that may contain one of
            # the batch's fingerprints feed the anti-join (prune_only —
            # the join re-checks exactly)
            fps = [
                r.fingerprint
                for r in in_batch.select("fingerprint").distinct().collect()
            ]
            seen = (
                lake_read(
                    spark,
                    curated_table,
                    where=[("fingerprint", "in", fps)],
                    prune_only=True,
                ).select("fingerprint")
                if fps
                else spark.createDataFrame([], "fingerprint string")
            )
        except FileNotFoundError:
            seen = spark.createDataFrame([], "fingerprint string")
        fresh = in_batch.join(seen, "fingerprint", "left_anti")
        if fresh.count():
            # lake_write retries lost commit races internally; the
            # explicit loop guards only the exhausted-retries case
            lake_write(
                fresh, curated_table, mode="append",
                bloom_cols=("fingerprint",),
            )

    reader = spark.readStream.schema(LANDING_SCHEMA).json(landing_dir)
    q = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DERIVED_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("source_version", T.IntegerType()),
    ]
)


def incremental_curation_from_lake(
    spark: SparkSession, curated_table: str, derived_table: str
) -> int:
    """Catch a derived per-doc feature table up to the curated LAKE
    store using CDC-LITE manifest diffs (sources/lake.py:
    lake_read_changes): read ONLY the data files appended since the
    last processed source version — never the whole store — derive
    features, and append them to `derived_table` as ONE atomic commit
    stamped with the source version they came from. Returns the
    number of new feature rows (0 when already caught up).

    The cursor is self-contained and crash-safe: it IS the committed
    data (max(source_version) over the derived table, recovered from
    MANIFEST STATS alone — lake_column_max, zero data files read, a
    stats scan as fallback). There is no separate cursor file to get
    out of sync: a run that crashes before its commit left nothing, a
    replayed run recomputes the same cursor and is a no-op, and
    incremental applications COMPOSE — applying after every source
    append yields exactly the batch derivation over the full store
    (the lake_read_changes composition property, test-pinned).

    At 100 TB each application's cost is O(new files), the shape an
    hourly downstream featurization job needs."""
    from ..sources.lake import (
        lake_column_max,
        lake_latest_version,
        lake_read,
        lake_read_changes,
        lake_write,
    )

    src_v = lake_latest_version(curated_table)
    if src_v is None:
        return 0
    cursor = lake_column_max(derived_table, "source_version")
    if cursor is None and lake_latest_version(derived_table) is not None:
        # stats unavailable for some file: fall back to a real scan
        row = lake_read(spark, derived_table).agg(
            F.max("source_version").alias("m")
        ).collect()[0]
        cursor = row.m
    start = -1 if cursor is None else int(cursor)
    if start >= src_v:
        return 0
    changes = lake_read_changes(spark, curated_table, start, src_v)
    feats = _doc_features(changes, src_v).localCheckpoint()
    n = feats.count()
    if n:
        lake_write(feats, derived_table, mode="append")
    return n


def _doc_features(docs, src_v: int):
    return docs.select(
        "doc_id",
        "source",
        "fingerprint",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda w: F.length(w) > 0
            )
        ).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars"),
        F.lit(src_v).cast("int").alias("source_version"),
    )


def incremental_curation_cdf(
    spark: SparkSession, curated_table: str, derived_table: str
) -> tuple[int, int]:
    """The CHANGE-FEED upgrade of incremental_curation_from_lake:
    source dv-DELETES and MERGE updates propagate as retractions +
    re-inserts instead of breaking the incremental path. One
    application reads the row-level feed (sources/lake.py:
    lake_read_cdf) since the recovered cursor and:

    1. RETRACTS first — derived rows for every doc whose FIRST
       in-range event is a delete (it provably existed downstream)
       are dv-deleted via lake_delete_keys;
    2. then APPENDS features for every doc whose LAST in-range event
       is an insert, stamped with the source version — so an
       upstream UPDATE becomes retract+re-derive, an insert+delete
       inside one range nets to nothing, and a plain append is just
       an insert.

    Returns (n_inserted, n_retracted). DELETE-BEFORE-APPEND is the
    crash-safety order: the cursor is max(source_version) over the
    derived table, so a crash after the retract but before the
    append replays with the OLD cursor — the retract re-matches
    nothing (those rows are already gone; lake_delete_keys publishes
    no snapshot on zero matches) and the append then lands. The
    reverse order would bump the cursor past the unapplied delete.

    Cost per application is O(range's delta files + DV sets), never
    the store — the hourly-downstream shape at 100 TB, now including
    GDPR-style upstream scrubs."""
    from ..sources.lake import (
        lake_delete_keys,
        lake_history,
        lake_latest_version,
        lake_read_cdf,
        lake_write,
    )

    src_v = lake_latest_version(curated_table)
    if src_v is None:
        return (0, 0)
    # the cursor is a COMMIT PROPERTY on the derived table's own
    # manifests (lake commit properties, Delta userMetadata): every
    # commit this consumer makes stamps the source version it
    # processed, so recovery is one manifest-log walk — and a
    # delete-only range advances the cursor too (per-row stats
    # cannot: a retraction adds no rows)
    cursor = None
    for h in lake_history(derived_table):
        sv = (h.get("properties") or {}).get("source_version")
        if sv is not None and (cursor is None or int(sv) > cursor):
            cursor = int(sv)
    start = -1 if cursor is None else cursor
    if start >= src_v:
        return (0, 0)
    props = {"source_version": src_v}
    feed = lake_read_cdf(spark, curated_table, start, src_v)
    # event-order netting, which handles UPDATES (a merge emits
    # delete(old)+insert(new) at the same version for one doc_id;
    # within a version, delete orders before insert — exactly merge's
    # semantics): a doc existed downstream iff its FIRST in-range
    # event is a delete → retract those; a doc should exist after the
    # range iff its LAST event is an insert → (re)insert that row.
    ev = feed.withColumn(
        "_rk",
        F.struct(
            F.col("_commit_version"),
            (F.col("_change_type") == "insert").cast("int").alias("_i"),
        ),
    )
    agg = ev.groupBy("doc_id").agg(
        F.min_by(F.col("_change_type"), F.col("_rk")).alias("_first"),
        F.max_by(F.struct([F.col(c) for c in ev.columns]), F.col("_rk")).alias("e"),
    )
    to_retract = (
        agg.where(F.col("_first") == "delete").select("doc_id").localCheckpoint()
    )
    to_insert = (
        agg.where(F.col("e._change_type") == "insert")
        .select("e.*")
        .drop("_change_type", "_commit_version", "_rk")
        .localCheckpoint()
    )
    n_retract = to_retract.count()
    feats = _doc_features(to_insert, src_v).localCheckpoint()
    n_ins = feats.count()
    if n_retract and lake_latest_version(derived_table) is not None:
        # the retract commit carries the cursor ONLY when no append
        # follows: in a mixed range the append is the cursor bump, so
        # a crash between the two replays the retract (which then
        # matches nothing) and re-lands the append — never the
        # reverse, which would strand the unapplied delete
        lake_delete_keys(
            spark, derived_table, to_retract, keys=("doc_id",),
            properties=props if n_ins == 0 else None,
        )
    if n_ins:
        lake_write(feats, derived_table, mode="append", properties=props)
    return (n_ins, n_retract)

"""Streaming ANN serving: a landing zone of QUERY vectors drained
against a static PQ-coded corpus (the online half of the similarity
tier — operators/similarity.py owns the offline build).

Shape (the standard vector-serving split):
- OFFLINE, once: pq_train + pq_encode compress the corpus to m-byte
  codes (64× smaller scans at m=4/k=256); the codes relation and the
  driver-tiny codebooks are the serving state.
- ONLINE, per micro-batch: the batch's ADC tables ship as ONE
  broadcast relation and the coded corpus scans ONCE for the whole
  batch (similarity.pq_topk_adc — plan size constant in batch size),
  results append to a parquet store.

Exactly-once per query_id across replays: the results store is its
own ledger (the streaming/documents.py idiom) — a replayed batch
anti-joins on query_id and re-serves nothing. Because ADC ranking is
per-query independent, the drained stream's store EQUALS the batch
pq_topk_adc over the union of all landed queries, whatever the batch
boundaries — the stream-equals-batch twin tests pin exactly that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import read_store_or_empty

QUERY_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

ANN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("adc_dist", T.DoubleType()),
    ]
)


def ann_serve_batch(
    batch_df: DataFrame,
    results_path: str,
    corpus_codes: DataFrame,
    codebooks,
    k: int = 5,
) -> DataFrame:
    """One micro-batch of query vectors through the ADC server: dedup
    within the batch (deterministic array-min per query_id), anti-join
    already-served ids from the results store, then ONE coded-corpus
    scan serves everything that's left. Pure function of
    (batch, store, serving state) — unit-testable without a stream."""
    spark = batch_df.sparkSession
    in_batch = (
        batch_df.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        )
        .groupBy("query_id")
        .agg(F.min("embedding").alias("embedding"))
    )
    served = (
        read_store_or_empty(spark, results_path, ANN_RESULT_SCHEMA).select("query_id").distinct()
    )
    fresh = in_batch.join(served, "query_id", "left_anti").select(
        F.col("query_id").cast("long").alias("vec_id"), "embedding"
    )
    from ..operators.similarity import pq_topk_adc

    out = pq_topk_adc(corpus_codes, fresh, codebooks, k=k)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("rank").cast("int"),
        F.col("vec_id").cast("long"),
        F.col("adc_dist").cast("double"),
    )


def stream_ann_topk(
    spark: SparkSession,
    query_landing_dir: str,
    results_path: str,
    checkpoint_dir: str,
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
    k: int = 5,
) -> None:
    """Drain a query landing zone (availableNow, one file per
    micro-batch) against `corpus`: PQ state builds once up front
    (train + encode, codes persisted for the run), every batch is one
    coded scan, results append exactly-once per query_id."""
    from ..operators.similarity import pq_encode, pq_train

    books = pq_train(corpus, m=m, k=k_codes, iterations=iterations)
    codes = pq_encode(corpus, books).persist()
    codes.count()  # materialize the serving state before the drain

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = ann_serve_batch(batch_df, results_path, codes, books, k=k)
        fresh.write.mode("append").parquet(results_path)

    try:
        reader = (
            spark.readStream.schema(QUERY_LANDING_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(query_landing_dir)
        )
        q = (
            reader.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        codes.unpersist()

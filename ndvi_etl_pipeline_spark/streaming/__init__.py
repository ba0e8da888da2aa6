"""Streaming surfaces: scene ingest (`scenes`), document curation
(`documents`), ANN serving (`ann`) and event sessionization
(`events`). Their sinks share one store reader."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.arrow_kernels import local_df


def read_store_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """The parquet store at `path`, or an empty relation ONLY when the
    store does not exist yet (a first batch). Any other read failure
    (a corrupt footer from a killed writer, an FS error) RAISES: an
    empty fallback would reset the cross-batch state — processed
    scenes, curated fingerprints — and re-admit everything already
    written."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return local_df(spark, [], schema)
        raise

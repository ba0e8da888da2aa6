"""Upsert idioms for an append-only columnar store (K3/K4).

Reference: load_to_postgis.py uses per-row `INSERT .. ON CONFLICT DO
NOTHING` (aois :163, ndvi_full :209) and `DO UPDATE` (clipped
:263-266, viz :316-319). On Parquet there is no conflict clause, so:

- K3 (ignore)  = left-anti join of incoming against existing keys,
  then union — new keys only.
- K4 (replace) = union then last-write-wins dedup per key.

Both are single-shuffle set operations, and at scale the write uses
dynamic partition overwrite so only partitions containing touched
keys rewrite (see `write_upsert`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_ignore(existing: DataFrame, incoming: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """K3: keep existing rows; add incoming rows whose key is new."""
    new_rows = incoming.join(existing.select(*keys).distinct(), list(keys), "left_anti")
    return existing.unionByName(new_rows)


def upsert_replace(
    existing: DataFrame,
    incoming: DataFrame,
    keys: tuple[str, ...],
    version_col: str | None = None,
) -> DataFrame:
    """K4: incoming wins per key (or the greatest `version_col` wins).

    Implemented as union + row_number over (keys → precedence): one
    shuffle, no join. Precedence: incoming (src=1) over existing, then
    version desc when supplied.
    """
    e = existing.withColumn("_src", F.lit(0))
    i = incoming.withColumn("_src", F.lit(1))
    order = [F.col("_src").desc()]
    if version_col is not None:
        order.insert(0, F.col(version_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        e.unionByName(i)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def write_upsert(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Sink with partition-scoped overwrite: only partitions present in
    `df` are replaced (the write's own partitionOverwriteMode=dynamic;
    the session's mode is left as it is) — the Parquet analog of
    row-level ON CONFLICT at partition granularity.
    """
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)

"""Scale utilities: bucketing for co-located joins, salting for skew.

These are the two knobs SURVEY §4.3 reserves for the 100 TB layout
that have no analog in the reference (its "join strategy" is per-row
SELECT lookups, load_to_postgis.py:236-241):

- **Bucketing** pre-shuffles a table ONCE at write time. Two tables
  bucketed on the same keys with the same bucket count join with NO
  exchange on either side — the recurring fact⋈fact join (pixels ⋈
  pixels, events ⋈ orders) stops paying its dominant cost. Worth it
  exactly when a table is joined on the same key more often than it
  is rewritten.
- **Salting** splits a skewed build key across `n_salts` synthetic
  sub-keys: the left (skewed) side gets a deterministic salt from a
  high-cardinality discriminator column, the right side replicates
  each row once per salt. The hot key's rows spread over n_salts
  tasks instead of one straggler. AQE's skew-join split handles most
  cases at runtime; explicit salting remains for aggregations and
  for joins where AQE's split granularity (shuffle blocks) is too
  coarse.
"""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Persist as a bucketed (optionally sorted) table. Sorting within
    buckets additionally enables exchange-AND-sort-free sort-merge
    joins."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A fresh in-memory metastore doesn't know about tables a previous
    # session wrote, but their warehouse directories survive on disk and
    # block CREATE with LOCATION_ALREADY_EXISTS — clear any orphan.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    orphan = Path(urlparse(wh).path or wh) / table.lower()
    shutil.rmtree(orphan, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *keys)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    discriminator: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's skew spread over `n_salts`
    sub-keys. The salt is deterministic — pmod(xxhash64(discriminator),
    n) — so replays and retries stay stable (no rand() in the plan).
    The right side replicates n_salts× (keep it the smaller input).
    Result equals `left.join(right, key, how)` exactly for the
    supported join types.

    Right/full-outer joins are REJECTED: each right row's n_salts − 1
    non-matching replicas would surface as spurious null-extended
    output rows (the replicas exist only to meet the left side's salt
    values — an unmatched replica is an artifact, not a fact about
    the data). Salting the right side of a right join means salting
    ITS skew: call with the sides swapped and how='left'.
    """
    if how in ("right", "rightouter", "right_outer", "full", "outer", "fullouter", "full_outer"):
        raise ValueError(
            f"salted_join(how={how!r}): right/full outer joins would emit "
            "null-extended rows for the right side's non-matching salt "
            "replicas — swap the sides and use how='left'"
        )
    disc = F.col(discriminator) if discriminator else F.spark_partition_id()
    l_salted = left.withColumn("_salt", F.pmod(F.xxhash64(disc), F.lit(n_salts)))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    r_salted = right.select("*", salts).withColumn("_salt", F.col("_salt").cast("bigint"))
    return l_salted.join(r_salted, [key, "_salt"], how).drop("_salt")


def morton_key(x, y, bits: int = 16):
    """Z-order (Morton) curve key: interleaves the low `bits` bits of
    two non-negative integer columns. Pure column expression (shift /
    mask / or), fully codegen'd — no UDF.

    Why: sorting a write by morton_key(x, y) clusters rows that are
    near in BOTH dimensions into the same parquet row groups, so the
    engine's min/max row-group statistics prune 2-D predicates
    (a bbox filter over a pixel lake, SURVEY J2's sargable prefilter)
    instead of only the leading sort column. This is the poor-man's
    Z-ORDER BY of Delta/Iceberg, with identical semantics at write
    time and zero table-format dependency.
    """
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def with_hilbert_key(
    df: "DataFrame",
    x: str,
    y: str,
    out: str = "hilbert",
    bits: int = 8,
) -> "DataFrame":
    """Add the Hilbert-curve index of (x, y) (order-`bits` curve,
    coordinates in [0, 2^bits)) as column `out`.

    Same layout-clustering role as morton_key() above, with strictly
    better locality: the Hilbert curve has no Z-order "seams" (every
    consecutive pair of curve positions is 4-adjacent in the grid),
    so range predicates touch fewer distinct key ranges — the
    hilbert_layout_census catalog query quantifies the difference on
    the same query box as the Z-order census.

    The xy→d walk (Hamilton's standard per-bit rotation recurrence)
    is SEQUENTIAL in the bit index, so it is emitted as one
    projection per bit over named state columns rather than a single
    column expression: the rotation uses each state column several
    times per step, and inlining the recurrence would grow the
    expression tree ~4^bits. Catalyst keeps the chain as stacked
    projections (CollapseProject declines to duplicate non-cheap
    multiply-referenced aliases), all inside one WholeStageCodegen —
    integer shift/mask/xor only, no UDF.
    """
    sx, sy, sd = f"_h_{out}_x", f"_h_{out}_y", f"_h_{out}_d"
    cur = df.withColumns(
        {
            sx: F.col(x).cast("long"),
            sy: F.col(y).cast("long"),
            sd: F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        s_val = 1 << i
        rx = F.shiftright(F.col(sx), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col(sy), i).bitwiseAND(F.lit(1))
        d_new = F.col(sd) + F.lit(s_val) * F.lit(s_val) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        ).cast("long")
        flip = (ry == 0) & (rx == 1)
        x_f = F.when(flip, F.lit(s_val - 1) - F.col(sx)).otherwise(F.col(sx))
        y_f = F.when(flip, F.lit(s_val - 1) - F.col(sy)).otherwise(F.col(sy))
        x_new = F.when(ry == 0, y_f).otherwise(x_f)
        y_new = F.when(ry == 0, x_f).otherwise(y_f)
        cur = cur.withColumns({sx: x_new, sy: y_new, sd: d_new})
    return cur.withColumn(out, F.col(sd)).drop(sx, sy, sd)


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    files: int = 8,
) -> None:
    """Write parquet clustered on the (x, y) Z-order curve:
    range-partitioned by the morton key across `files` output files
    (so whole FILES are skippable by footer stats, not just row
    groups), sorted by the key within each."""
    (
        df.withColumn("_z", morton_key(x, y, bits))
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )

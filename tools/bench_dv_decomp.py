#!/usr/bin/env python
"""Decompose the in-debt DV read into its plan components so the
round-9 residual (BENCH_lake_sf100_r09: hash-keyed in-debt read still
~37x a plain scan, nearly independent of DV key count) gets attributed
to the piece that actually costs, before anything is rewritten.

Builds a lake table from --sf-dir lineitem, commits a mid-tier DV
delete (2% of rows -> past the string-broadcast bound, inside the
compact/fid broadcast bound), then times, each as cold + min-of-2
warm with clearCache between:

  plain          raw-files scan + 2-col aggregate (the floor)
  pos_only       + _metadata.row_index in the projection
  hash_only      + xxhash64(_metadata.file_path) in the projection
  stat_only      + (_metadata.file_size, file_modification_time) —
                 the constant-per-file all-numeric identity candidate
  build_only     the anti-join BUILD side alone (DV parquet ->
                 broadcast-map join -> collect-to-broadcast), via a
                 noop-sink write of dv_keys plus an explicit
                 broadcast-materializing join against a 1-row probe
  antijoin_full  lake_read(table) — the shipping in-debt read
  antijoin_const the same anti-join but with the table-side key
                 replaced by a LITERAL long (isolates the probe +
                 join machinery from the per-row key computation)

Usage: python tools/bench_dv_decomp.py [--sf-dir bench_sf10] [--out F]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def timed(spark, label, fn, runs=2):
    spark.sparkContext.setJobDescription(f"dv_decomp: {label}")
    t0 = time.perf_counter()
    fn()
    cold = time.perf_counter() - t0
    warm = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        warm.append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(cold, 3), round(min(warm), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="bench_sf10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from ndvi_etl_pipeline_spark.session import get_spark
    from ndvi_etl_pipeline_spark.sources.lake import (
        _DV_FILE,
        _DV_POS,
        _DV_SCHEMA,
        _dv_hash_map,
        _latest_version,
        _local_df,
        _read_manifest,
        lake_delete,
        lake_read,
        lake_write,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    n_cpus = os.cpu_count() or 8
    spark = get_spark(app_name="bench-dv-decomp", shuffle_partitions=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="bench_dv_decomp_")
    table = os.path.join(base, "lineitem_lake")
    li = load_table(spark, "lineitem", args.sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    t0 = time.perf_counter()
    lake_write(li.repartition(n_cpus), table)
    build_s = round(time.perf_counter() - t0, 3)
    lake_delete(spark, table, F.col("l_orderkey") % 50 == 7, strategy="dv")
    m = _read_manifest(table, _latest_version(table))
    raw_files = sorted(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    dv_paths = [os.path.join(table, d) for d in m["dvs"]]
    dv_df = spark.read.schema(_DV_SCHEMA).parquet(*dv_paths)
    n_dv = dv_df.count()
    rels = sorted(
        e["path"] if isinstance(e, dict) else e for e in m["files"]
    )
    result = {
        "sf_dir": args.sf_dir,
        "n_files": len(raw_files),
        "n_dv": n_dv,
        "build_s": build_s,
        "cases": {},
    }
    sys.stderr.write(
        f"table: {len(raw_files)} files, {n_dv} DV rows\n"
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    base_scan = spark.read.parquet(*raw_files)
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("rev"),
    ]

    cases = {}
    cases["plain"] = lambda: base_scan.agg(*agg_cols).collect()
    cases["pos_only"] = lambda: (
        base_scan.select(
            "l_extendedprice", "l_discount",
            F.col("_metadata.row_index").alias("p"),
        )
        .agg(*agg_cols, F.max("p"))
        .collect()
    )
    cases["hash_only"] = lambda: (
        base_scan.select(
            "l_extendedprice", "l_discount",
            F.xxhash64(F.col("_metadata.file_path")).alias("h"),
            F.col("_metadata.row_index").alias("p"),
        )
        .agg(*agg_cols, F.max("h"), F.max("p"))
        .collect()
    )
    cases["stat_only"] = lambda: (
        base_scan.select(
            "l_extendedprice", "l_discount",
            F.col("_metadata.file_size").alias("fs"),
            F.unix_micros(F.col("_metadata.file_modification_time")).alias(
                "mt"
            ),
            F.col("_metadata.row_index").alias("p"),
        )
        .agg(*agg_cols, F.max("fs"), F.max("mt"), F.max("p"))
        .collect()
    )

    hashes = _dv_hash_map(spark, table, rels)
    assert hashes is not None
    hm = _local_df(
        spark, sorted(hashes.items()), f"{_DV_FILE} string, __dv_h bigint"
    )
    dv_keys = dv_df.join(F.broadcast(hm), [_DV_FILE]).select(
        "__dv_h", _DV_POS
    )

    # build side alone: noop-materialize the dv_keys relation
    cases["build_relation"] = lambda: noop(dv_keys)

    # build + actual broadcast construction: join a 1-row DF against
    # broadcast(dv_keys) so Spark collects + builds + ships the real
    # broadcast hash relation without touching the big table
    probe = spark.range(1).select(
        F.lit(-1).cast("long").alias("__dv_h"),
        F.lit(-1).cast("long").alias(_DV_POS),
    )
    cases["build_broadcast"] = lambda: probe.join(
        F.broadcast(dv_keys), ["__dv_h", _DV_POS], "left_anti"
    ).collect()

    # the real in-debt read
    cases["antijoin_full"] = lambda: lake_read(spark, table).agg(
        *agg_cols
    ).collect()

    # anti-join machinery with a CONSTANT table-side key: per-row key
    # computation removed, broadcast probe + join overhead kept
    cases["antijoin_constkey"] = lambda: (
        base_scan.select(
            "l_extendedprice", "l_discount",
            F.lit(-1).cast("long").alias("__dv_h"),
            F.col("_metadata.row_index").alias(_DV_POS),
        )
        .join(F.broadcast(dv_keys), ["__dv_h", _DV_POS], "left_anti")
        .agg(*agg_cols)
        .collect()
    )

    # anti-join with the hash key but WITHOUT broadcast build re-cost:
    # key on (hash, pos) probing the same relation, no agg pruning
    cases["antijoin_hashkey_rawfiles"] = lambda: (
        base_scan.select(
            "l_extendedprice", "l_discount",
            F.xxhash64(F.col("_metadata.file_path")).alias("__dv_h"),
            F.col("_metadata.row_index").alias(_DV_POS),
        )
        .join(F.broadcast(dv_keys), ["__dv_h", _DV_POS], "left_anti")
        .agg(*agg_cols)
        .collect()
    )

    for name, fn in cases.items():
        cold, warm = timed(spark, name, fn)
        result["cases"][name] = {"cold": cold, "warm": warm}
        sys.stderr.write(f"{name:26s} cold={cold:8.3f}  warm={warm:8.3f}\n")

    out = json.dumps(result, indent=1)
    print(out)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(out + "\n")
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The benchmark's workloads: seeded inputs, one round of closed-loop
operations, and the check of every operation's output.

A workload is driven by `run.py`:

    w.prepare(work_dir)       fixtures, no Spark          (set-up)
    w.start(spark)            Spark-side set-up           (set-up)
    w.arm()                   oracle answers              (untimed)
    for r in rounds: w.ops(r) -> [Op]; each op is timed, then checked

An `Op.fn` returns what `Op.check` needs; the check runs after the
clock stops and returns None or the reason the output is wrong.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np

import checks
import fixtures
import spans

# The 9 headline queries plus three global-rank members (operators/rank.py).
RANK_QUERIES = ("rfm_segmentation", "wasserstein_1d", "gini_coefficient")


@dataclass
class Op:
    name: str
    kind: str  # groups latencies: query | raster | sink | commit | read | cdf
    fn: Callable[[], Any]
    check: Callable[[Any], str | None]
    # traced rounds only, outside the timed region: storage snapshots
    pre: Callable[[], None] | None = None
    post: Callable[[], None] | None = None


class Catalog:
    """`catalog_sf0.1`: the 12 queries over seeded tables shaped like the
    sf0.1 test data.

    One operation is `builder(spark, sf).toPandas()` followed by
    `clearCache()`: plan build, execution and the fetch of the full
    result (at most 20k rows), which is then compared with the DuckDB
    oracle. Round 0 runs the registry order in a fresh session (cold);
    later rounds run a seeded shuffle of it.
    """

    name = "catalog_sf0.1"
    MAX_ROUNDS = 50

    def __init__(self, seed: int):
        from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

        self.seed = seed
        self.registry = REGISTRY
        self.names = [n for n, s in REGISTRY.items() if s.headline] + list(RANK_QUERIES)
        self.sf_dir: Path | None = None
        self.oracle: checks.CatalogOracle | None = None

    def prepare(self, work: Path) -> None:
        self.sf_dir = work / "sf0.1"
        fixtures.write_tables(self.sf_dir, self.seed)

    def start(self, spark) -> None:
        self.spark = spark

    def arm(self) -> None:
        self.oracle = checks.CatalogOracle(
            self.sf_dir, self.names, {n: self.registry[n].oracle for n in self.names}
        )

    def ops(self, r: int, tracer) -> list[Op]:
        order = list(self.names)
        if r > 0:
            order = [order[i] for i in np.random.default_rng([self.seed, r]).permutation(len(order))]
        return [self._op(n, tracer) for n in order]

    def _op(self, name: str, tracer) -> Op:
        spark, sf, builder = self.spark, str(self.sf_dir), self.registry[name].builder
        last: dict = {}

        def fn():
            try:
                with tracer.span("plans.build"):
                    last["df"] = builder(spark, sf)
                with tracer.span("exec.action"):
                    last["pdf"] = last["df"].toPandas()
                return last["pdf"]
            finally:
                spark.catalog.clearCache()

        def post():
            tracer.layers.update(tracer.catalyst(last["df"]))
            tracer.layers["rows_out"] = len(last["pdf"])

        return Op(name, "query", fn, lambda pdf: self.oracle.check(name, pdf), post=post)

    def layer_metrics(self, rounds, traced, self_times, layers) -> dict[str, float]:
        """`operators.rank`: wall time and executor work of the three
        global-rank members, traced."""
        rank = [o for o in traced if o["name"] in RANK_QUERIES]
        return {
            "rank.wall_s": sum(o["seconds"] for o in rank),
            "rank.run_s": sum(o["layers"].get("exec.run_s", 0.0) for o in rank),
            "rank.stages": sum(o["layers"].get("exec.stages", 0.0) for o in rank),
        }


class PipelineLake:
    """`pipeline_lake`: the paper's NDVI raster DAG, then a lake round of
    writes beside reads. One round:

    DAG over N seeded scene pairs: scan_scene_ndvi (decode) →
    tile_scene_stats → tile_clip_stats → tile_overviews (×5 levels) →
    warp_bilinear_tiled → write_upsert into one product table (every
    round after the first overwrites its partitions).

    Lake: append, lake_merge(mor), lake_delete(dv), lake_merge(cow),
    each on its own seeded 1% key slice (l_orderkey % 100) and each
    followed by an aggregate lake_read; one lake_read_cdf over the
    round ends it.
    """

    name = "pipeline_lake"
    MAX_ROUNDS = 25  # four distinct 1% key slices per round
    N_SCENES = 3
    SIZE = 1024
    TILE = 256
    LAKE_ROWS = 60_000
    FACTORS = (2, 4, 8, 16, 32)

    def __init__(self, seed: int):
        self.seed = seed
        self.residues = np.random.default_rng([seed, 31]).permutation(100)

    # -- set-up ----------------------------------------------------------
    def prepare(self, work: Path) -> None:
        import pyarrow.parquet as pq

        self.scene_dir = work / "scenes"
        self.scenes = fixtures.write_scenes(self.scene_dir, self.seed, self.N_SCENES, self.SIZE)
        self.ring = fixtures.aoi_ring(self.seed, self.SIZE)
        self.base = fixtures.lake_rows(self.seed, self.LAKE_ROWS)
        self.base_path = work / "lake_base.parquet"
        pq.write_table(self.base, self.base_path)
        self.table = str(work / "lake" / "lineitem")
        self.products = str(work / "products")

    def start(self, spark) -> None:
        from ndvi_etl_pipeline_spark.sources.lake import lake_write

        self.spark = spark
        self.base_df = spark.read.parquet(str(self.base_path))
        shutil.rmtree(self.table, ignore_errors=True)
        lake_write(self.base_df.repartition(spark.sparkContext.defaultParallelism), self.table)

    def arm(self) -> None:
        self.expected_stats = {
            sid: checks.scene_stats(*fixtures.scene_bands(self.seed, i, self.SIZE))
            for i, sid in enumerate(self.scenes)
        }
        self.model = checks.LakeModel(self.base, fixtures.LAKE_KEYS)
        from ndvi_etl_pipeline_spark.sources.lake import CONFLICT_STATS

        self.conflicts_at_arm = sum(CONFLICT_STATS.values())

    def layer_metrics(self, rounds, traced, self_times, L) -> dict[str, float]:
        """Raster, warp, sink and lake layers of the traced operations,
        and DAG/commit/read latencies of the warm rounds."""
        from ndvi_etl_pipeline_spark.sources.lake import CONFLICT_STATS

        warm = rounds[1:]
        dag = float(np.median([sum(o["seconds"] for o in r if o["kind"] in ("raster", "sink"))
                               for r in warm]))
        reads = [o for o in traced if o["kind"] == "read"]
        live = sum(o["layers"].get("lake.live_rows", 0) for o in reads)
        scanned = sum(o["layers"].get("exec.input_rows", 0) for o in reads)
        table_bytes = sum(spans.dir_files(self.table).values())

        def p50(kind):
            xs = [o["seconds"] for r in warm for o in r if o["kind"] == kind]
            return float(np.median(xs)) if xs else 0.0

        out = {f"{k}_s": self_times.get(k, 0.0) for k in (
            "raster.decode_ndvi", "raster.scene_stats", "raster.clip", "raster.overviews",
            "warp.tiled", "sink.upsert", "lake.read_plan", "lake.read_exec", "lake.cdf")}
        for kind in ("append", "merge_mor", "dv_delete", "merge_cow"):
            out[f"lake.commit_s.{kind}"] = self_times.get(f"lake.commit.{kind}", 0.0)
        out.update({
            "sink.bytes_written_mb": L["sink.bytes_written"] / 2**20,
            "sink.files_written": L["sink.files_written"],
            "lake.commit_retries": float(sum(CONFLICT_STATS.values()) - self.conflicts_at_arm),
            "lake.files_scanned": L["lake.files_scanned"],
            "lake.rows_scanned_per_live_row": scanned / live if live else 0.0,
            "lake.bytes_written_mb": L["lake.bytes_written"] / 2**20,
            "lake.files_added": L["lake.files_added"],
            "lake.files_removed": L["lake.files_removed"],
            "scenes_per_min": self.N_SCENES * 60 / dag if dag else 0.0,
            "cold_dag_s": sum(o["seconds"] for o in rounds[0] if o["kind"] in ("raster", "sink")),
            "commit_p50_s": p50("commit"),
            "read_p50_s": p50("read"),
            "bytes_per_changed_row": (L["lake.bytes_written"] / L["lake.rows_changed"]
                                      if L["lake.rows_changed"] else 0.0),
            "table_bytes_per_live_row": table_bytes / max(1, self.model.expected()[0]),
        })
        return out

    # -- one round -------------------------------------------------------
    def ops(self, r: int, tracer) -> list[Op]:
        return self._dag_ops(tracer) + self._lake_ops(r, tracer)

    def _dag_ops(self, tracer) -> list[Op]:
        import pyspark.sql.functions as F

        from ndvi_etl_pipeline_spark.operators import raster
        from ndvi_etl_pipeline_spark.operators.upsert import write_upsert
        from ndvi_etl_pipeline_spark.operators.warp import warp_bilinear_tiled

        spark, state = self.spark, {}
        n, size, tile = self.N_SCENES, self.SIZE, self.TILE

        def decode():
            with tracer.span("raster.decode_ndvi"):
                state["ndvi"] = raster.scan_scene_ndvi(spark, str(self.scene_dir), tile=tile).persist()
                return state["ndvi"].count()

        def stats():
            with tracer.span("raster.scene_stats"):
                return raster.tile_scene_stats(state["ndvi"]).collect()

        def clip():
            with tracer.span("raster.clip"):
                return raster.tile_clip_stats(state["ndvi"], self.ring).collect()

        def overviews():
            with tracer.span("raster.overviews"):
                levels = raster.tile_overviews(state["ndvi"], factors=self.FACTORS)
                return levels.groupBy("factor").agg(F.sum("n_valid").alias("n")).collect()

        out_dim = size * 2 // 3

        def warp():
            with tracer.span("warp.tiled"):
                return warp_bilinear_tiled(
                    state["ndvi"], out_dim, out_dim, size / out_dim, size / out_dim, output="tiles"
                ).count()

        def sink():
            with tracer.span("sink.upsert"):
                products = raster.tile_scene_stats(state["ndvi"]).withColumn(
                    "acquisition_date", F.to_date(F.split("scene_id", "_")[3], "yyyyMMdd")
                )
                write_upsert(products, self.products, partition_cols=("acquisition_date",))
            state["ndvi"].unpersist()

        def sink_check(_):
            got = spark.read.parquet(self.products).count()
            return None if got == n else f"product table rows {got} != {n}"

        def sink_pre():
            state["disk"] = spans.dir_files(self.products)

        def sink_post():
            disk = spans.dir_files(self.products)
            new = [sz for p, sz in disk.items() if p.endswith(".parquet") and state["disk"].get(p) != sz]
            tracer.layers.update({"sink.bytes_written": sum(new), "sink.files_written": len(new)})

        tiles = n * (-(-size // tile)) ** 2
        return [
            Op("decode_ndvi", "raster", decode,
               lambda c: None if c == tiles else f"tiles {c} != {tiles}"),
            Op("scene_stats", "raster", stats,
               lambda rows: checks.check_scene_stats(rows, self.expected_stats)),
            Op("clip_stats", "raster", clip,
               lambda rows: None if len(rows) == n else f"clip rows {len(rows)} != {n}"),
            Op("overviews", "raster", overviews,
               lambda rows: checks.check_overview_counts(rows, n, size)),
            Op("warp_tiled", "raster", warp,
               lambda c: None if c > 0 else "warp produced no tiles"),
            Op("upsert_sink", "sink", sink, sink_check, sink_pre, sink_post),
        ]

    def _lake_ops(self, r: int, tracer) -> list[Op]:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        from ndvi_etl_pipeline_spark.sources.lake import (
            lake_delete,
            lake_latest_version,
            lake_merge,
            lake_read,
            lake_read_cdf,
            lake_write,
        )

        spark, table, keys, model = self.spark, self.table, fixtures.LAKE_KEYS, self.model
        v0 = lake_latest_version(table)  # the round's CDF starts here
        a, b, c, d = (int(x) for x in self.residues[4 * r : 4 * r + 4])
        shift = (r + 1) * 1_000_000_000  # ≡ 0 mod 100: appended keys keep residue a

        def residue(t, res: int):
            return pa.array(t["l_orderkey"].to_numpy() % 100 == res)

        def changed(res: int, **add):
            """(model rows, Spark rows) of base slice `res` with `add`
            added to columns."""
            t = self.base.filter(residue(self.base, res))
            df = self.base_df.filter(F.col("l_orderkey") % 100 == res)
            for col, v in add.items():
                t = t.set_column(t.schema.get_field_index(col), col, pc.add(t[col], v))
                df = df.withColumn(col, F.col(col) + F.lit(v))
            return t, df

        ap, ap_df = changed(a, l_orderkey=shift)
        mor, mor_df = changed(b, l_quantity=1.0, l_extendedprice=0.25)
        cow, cow_df = changed(d, l_quantity=2.0, l_extendedprice=0.5)
        n_deleted = model.count_where(lambda t: residue(t, c))
        want_cdf = {
            "insert": ap.num_rows + mor.num_rows + cow.num_rows,
            "delete": mor.num_rows + n_deleted + cow.num_rows,
        }
        state: dict = {}

        def live_files() -> set[str]:
            return set(lake_read(spark, table).inputFiles())

        def commit(name: str, fn, rows_changed: int, apply) -> Op:
            def run():
                with tracer.span(f"lake.commit.{name}"):
                    return fn()

            def pre():
                state["disk"], state["files"] = spans.dir_files(table), live_files()

            def post():
                disk, files = spans.dir_files(table), live_files()
                tracer.layers.update({
                    "lake.bytes_written": sum(sz for p, sz in disk.items() if state["disk"].get(p) != sz),
                    "lake.files_added": len(files - state["files"]),
                    "lake.files_removed": len(state["files"] - files),
                    "lake.rows_changed": rows_changed,
                })

            def check(_):
                apply()
                return None

            return Op(name, "commit", run, check, pre, post)

        def read_op(after: str) -> Op:
            def run():
                with tracer.span("lake.read_plan"):
                    state["read"] = lake_read(spark, table)
                with tracer.span("lake.read_exec"):
                    row = state["read"].agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
                    ).collect()[0]
                return row["n"], float(row["rev"] or 0.0)

            def post():
                tracer.layers["lake.files_scanned"] = len(state["read"].inputFiles())
                tracer.layers["lake.live_rows"] = model.expected()[0]

            return Op(f"read_after_{after}", "read", run, lambda res: model.check(*res), post=post)

        def cdf():
            with tracer.span("lake.cdf"):
                rows = lake_read_cdf(spark, table, from_version=v0).groupBy(
                    "_change_type").count().collect()
            return {x["_change_type"]: x["count"] for x in rows}

        return [
            commit("append", lambda: lake_write(ap_df, table), ap.num_rows,
                   lambda: model.append(ap)),
            read_op("append"),
            commit("merge_mor", lambda: lake_merge(spark, mor_df, table, keys, strategy="mor"),
                   mor.num_rows, lambda: model.merge(mor)),
            read_op("merge_mor"),
            commit("dv_delete", lambda: lake_delete(spark, table, F.col("l_orderkey") % 100 == c,
                                                    strategy="dv"),
                   n_deleted, lambda: model.delete_where(lambda t: residue(t, c))),
            read_op("dv_delete"),
            commit("merge_cow", lambda: lake_merge(spark, cow_df, table, keys, strategy="cow"),
                   cow.num_rows, lambda: model.merge(cow)),
            read_op("merge_cow"),
            Op("read_cdf", "cdf", cdf,
               lambda got: None if got == want_cdf else f"cdf {got} != {want_cdf}"),
        ]


WORKLOADS = {Catalog.name: Catalog, PipelineLake.name: PipelineLake}

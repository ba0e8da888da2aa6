"""SparkSession factory with scale-aware defaults.

Every knob here is chosen for the 100 TB design point and then scaled
down for local testing:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — on a real cluster this is what adapts the
  static plan to actual shuffle sizes.
- Arrow on — every pandas-UDF kernel (geometry, raster codec, minhash)
  rides Arrow batches, not pickled rows.
- UTC session timezone — deterministic timestamp semantics and
  apples-to-apples comparison with external oracles.
- shuffle.partitions default sized to cores locally; on a cluster this
  should be ~2-3× total executor cores (or left to AQE's coalescing
  with a high initial value).
- Generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps 100 compiled classes by
  default; one 12-query catalog round needs about 210 distinct classes
  and one raster + lake round about 145, so with the default every warm
  re-run of a plan recompiles almost all of its code with Janino (about
  170 compiles per catalog round and 130 per raster + lake round,
  counted with ``CodegenMetrics`` in perfbench's traced runs on
  ``local[4]``). At 1024 entries a warm catalog round compiles 0-2
  classes (a raster + lake round 16: its per-round literals are new
  code). A kept class costs 4-10 KB of Metaspace (a one-projection
  stage; the average catalog query's), so the bound is about 10 MB.
  It is a *static* conf, read once when the JVM first generates code:
  a session built elsewhere — one passed in to
  ``__spark_entry__.entry(spark)``, or an already-active session that
  ``get_spark`` returns untouched — keeps whatever cache size it was
  started with (``get_spark`` warns when that is below ours).
- Driver heap: ``SPARK_DRIVER_MEM`` when set, else half the host's
  physical memory, capped at 16g. In local mode the driver JVM runs
  every task beside the Python workers, so a heap larger than the host
  invites the kernel's OOM killer, not a JVM error. On a cluster, pass
  the driver's size explicitly (``spark-submit --driver-memory``, or
  ``SPARK_DRIVER_MEM``).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# spark.sql.codegen.cache.maxEntries: about 4x the larger benchmark
# working set (module docstring)
CODEGEN_CACHE_ENTRIES = 1024
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
_DRIVER_MEMORY_CAP_GB = 16


def _default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB (at least 1g),
    capped at 16g: the driver heap `get_spark` asks for when
    ``SPARK_DRIVER_MEM`` is unset."""
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(_DRIVER_MEMORY_CAP_GB, int(host_gb // 2)))}g"


def get_spark(
    app_name: str = "ndvi_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode honors ``SPARK_GRAFT_CPUS`` (default: all cores). On a
    real cluster, pass ``master=None`` and submit via spark-submit —
    the builder then inherits the cluster manager's settings.

    An already-running session is returned as it is, confs untouched:
    the builder would otherwise overwrite its runtime SQL confs (e.g.
    ``spark.sql.shuffle.partitions``) with this call's defaults, so an
    in-process CLI run would silently re-tune its caller's session.
    Its code cache cannot be resized (a static conf): when it is below
    ``CODEGEN_CACHE_ENTRIES``, a warning says so.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        entries = int(active.conf.get(_CODEGEN_CACHE_CONF))
        if entries < CODEGEN_CACHE_ENTRIES:
            logging.getLogger(__name__).warning(
                f"{_CODEGEN_CACHE_CONF} is {entries} on this session, below the engine's "
                f"{CODEGEN_CACHE_ENTRIES}: warm re-runs recompile most of their generated code. "
                f"Pass it when the session is built (spark-submit --conf "
                f"{_CODEGEN_CACHE_CONF}={CODEGEN_CACHE_ENTRIES})."
            )
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Post-shuffle coalescing: parallelism FIRST. With
        # parallelismFirst=true AQE sizes partitions at
        # max(total/parallelism, minPartitionSize) — tiny shuffles
        # (< 1 MB) still collapse to one task (the sf0.1 overhead win
        # round 1 measured), but CPU-bound reduce stages keep all
        # cores. Round 1 shipped parallelismFirst=false, and at sf1 it
        # ran a 5.9M-group aggregate + window on 1-2 tasks because the
        # ~60 MB shuffle sat under the 64 MB advisory size — a 5×
        # slowdown on min_cost_supplier that would be a cluster-wide
        # stall at 100 TB with large executors. Measured: sf1 headline
        # total 16.7 s → 12.9 s (min_cost_supplier 5.1 → 1.0 s), and
        # sf0.1 7.7 s → 6.3 s — the round-1 rationale for
        # parallelismFirst=false did not replicate.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # 64 MB static broadcast threshold (default 10 MB): dimension
        # tables broadcast without waiting for an AQE runtime
        # conversion, removing one shuffle-stage materialization per
        # join. At 100 TB the fact side never qualifies, and AQE still
        # demotes a broadcast that turns out too large.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushFilters bridge (off by default in
        # Spark 4.1) — the `lake` source prunes files with it
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Some testdata generations store TIMESTAMP(NANOS); read as long
        # and convert in the scan layer (sources/testdata.py). Harmless
        # for MICROS-written files, which arrive as native timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB input splits: the sweet spot for parquet scans at scale;
        # small local files coalesce via AQE anyway.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(_CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

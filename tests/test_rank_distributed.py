"""Distributed exact-rank mode (operators/rank.py): the two-pass
range-id + per-range-offset form must be BIT-IDENTICAL to the
single-partition global Window on every supported analytic, its plan
must contain zero unpartitioned Window nodes and zero SinglePartition
exchanges, and — the range ids being plan literals, not pinned blocks
— it must survive lost blocks and shuffle outputs. Without an
explicit mode, the input's estimated size picks the plan."""

import re

import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.operators.rank import (
    RANK_MODE_CONF,
    global_ranked,
)
from tools.audit_plans import _bracket_groups, _global_window_nodes, plan_as_run

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _rows(df):
    cols = sorted(df.columns)
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731 None-safe
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=key)


def _plan(df) -> str:
    df.collect()  # materialize so AQE's final plan is the real one
    return plan_as_run(df)


def _mk(spark, n=500, ties=True):
    """Skewed keys with heavy ties (k % 7) so rank ties WOULD straddle
    range boundaries if RangePartitioning didn't co-locate equal keys."""
    return spark.range(n).select(
        (F.col("id") % 7).alias("k") if ties else F.col("id").alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 13).cast("long").alias("v"),
    )


ALL = dict(
    row_number="rn",
    rank="rk",
    dense_rank="dr",
    ntile={"nt5": 5, "nt3": 3},
    cume_dist="cd",
    percent_rank="pr",
    running_sums=None,  # filled per-call (Column objects)
    total_count="n_all",
)


def _both(spark, df, order, **kw):
    a = global_ranked(df, order, mode="single", **kw)
    b = global_ranked(df, order, mode="distributed", **kw)
    return a, b


def test_all_functions_bit_identical_with_ties(spark):
    df = _mk(spark, 500)
    kw = dict(ALL, running_sums={"rsum": F.col("v")})
    a, b = _both(spark, df, [("k", "desc"), "uid"], **kw)
    assert _rows(a) == _rows(b)


def test_lag_lead_total_sums_bit_identical(spark):
    """lag/lead handoff across range boundaries + global sums: a
    TOTAL order (uid is unique) so the previous/next row is uniquely
    defined; many partitions over few rows forces boundary rows (and
    empty ranges) to be the common case, not the corner."""
    df = _mk(spark, 97, ties=False)
    kw = dict(
        lag={"pv": F.col("v"), "pk": F.col("k")},
        lead={"nv": F.col("v")},
        total_sums={"tv": F.col("v"), "tn": F.lit(1)},
    )
    a = global_ranked(df, ["k"], mode="single", **kw)
    b = global_ranked(df, ["k"], mode="distributed", num_partitions=16, **kw)
    assert _rows(a) == _rows(b)
    # descending order flips which boundary is the handoff
    a = global_ranked(df, [("k", "desc")], mode="single", **kw)
    b = global_ranked(
        df, [("k", "desc")], mode="distributed", num_partitions=16, **kw
    )
    assert _rows(a) == _rows(b)


def test_running_max_excl_bit_identical(spark):
    """The dominance-sweep primitive (Pareto skyline): running max
    over all PRECEDING rows, excluding the current one — NULL on the
    global first row, and the cross-range combine must prefer the
    prefix max even when the local prefix is NULL (range-first rows)."""
    def rows(df):
        cols = sorted(df.columns)
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()), key=key
        )

    df = _mk(spark, 200, ties=False)
    kw = dict(running_max_excl={"bm": F.col("v"), "bk": F.col("k")})
    a = global_ranked(df, ["k"], mode="single", **kw)
    b = global_ranked(df, ["k"], mode="distributed", num_partitions=16, **kw)
    assert rows(a) == rows(b)
    assert sum(1 for r in b.collect() if r.bm is None) == 1  # global first


def test_pareto_skyline_partition_invariant_distributed(spark):
    """pareto_skyline_2d routes its global sweep through
    global_ranked: distributed mode must return the identical skyline."""
    from ndvi_etl_pipeline_spark.operators.stats import pareto_skyline_2d

    pts = (
        spark.range(300)
        .select(
            (F.col("id") % 17).cast("double").alias("x"),
            ((F.col("id") * 7) % 23).cast("double").alias("y"),
        )
        .groupBy("x", "y")
        .count()
    )
    ref = _rows(pareto_skyline_2d(pts, "x", "y"))
    spark.conf.set(RANK_MODE_CONF, "distributed")
    try:
        got = pareto_skyline_2d(pts, "x", "y")
        rows = _rows(got)
        plan = _plan(got)
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    assert rows == ref
    # the per-input-partition prefilter window (partitioned by
    # spark_partition_id) is in the plan too; neither window is global
    assert "__rank_pid" in plan
    assert _global_window_nodes(plan) == 0


def test_lag_lead_null_values_mid_stream(spark):
    """A NULL in the lagged column mid-order must surface as a NULL
    lag on the NEXT row (not be skipped), including when the NULL row
    is the last row of a range partition."""
    df = _mk(spark, 40, ties=False).select(
        "k",
        "uid",
        F.when(F.col("uid") % 3 == 0, None).otherwise(F.col("v")).alias("v"),
    )
    kw = dict(lag={"pv": F.col("v")}, lead={"nv": F.col("v")})
    a = global_ranked(df, ["k"], mode="single", **kw)
    b = global_ranked(df, ["k"], mode="distributed", num_partitions=13, **kw)
    assert _rows(a) == _rows(b)


def test_unique_keys_and_single_partition_input(spark):
    df = _mk(spark, 97, ties=False).coalesce(1)
    kw = dict(ALL, running_sums={"rsum": F.col("v")})
    a, b = _both(spark, df, ["k"], **kw)
    assert _rows(a) == _rows(b)


def test_ntile_more_buckets_than_rows(spark):
    df = _mk(spark, 4, ties=False)
    a, b = _both(spark, df, ["k"], ntile={"nt": 10})
    assert _rows(a) == _rows(b)
    assert {r.nt for r in b.collect()} == {1, 2, 3, 4}


def test_nulls_in_order_key(spark):
    df = _mk(spark, 60).select(
        F.when(F.col("uid") % 5 == 0, None).otherwise(F.col("k")).alias("k"),
        "uid",
        "v",
    )
    a, b = _both(
        spark, df, ["k", "uid"], row_number="rn", rank="rk", cume_dist="cd"
    )
    assert _rows(a) == _rows(b)


def test_range_ids_mixed_key_types_and_directions(spark):
    """The literal-boundary range ids honour every key's direction and
    Spark's ordering rules: NULLS FIRST ascending / LAST descending,
    NaN above every double, -0.0 equal to 0.0 (equal keys share a
    range, so ranks over ties stay exact), strings by bytes (quotes
    and backslashes survive the boundary literals) and timestamps to
    the microsecond."""
    i = F.col("id")
    df = spark.range(400).select(
        i.alias("uid"),
        F.when(i % 11 == 0, None)
        .otherwise(F.concat(F.lit("k'\\"), (i % 5).cast("string")))
        .alias("s"),
        F.when(i % 13 == 0, None)
        .when(i % 7 == 0, F.lit(float("nan")))
        .when(i % 6 == 0, F.lit(-0.0))
        .when(i % 5 == 0, F.lit(0.0))
        .otherwise((i % 4).cast("double"))
        .alias("d"),
        F.when(i % 9 == 0, None)
        .otherwise(F.timestamp_micros(1_700_000_000_000_001 + (i % 3) * 7))
        .alias("t"),
    )
    for order in (
        [("s", "desc"), "d", ("t", "desc")],
        ["d", ("s", "desc"), "t"],
        [("t", "desc"), ("d", "desc")],
    ):
        kw = dict(rank="rk", dense_rank="dr", cume_dist="cd")
        a = global_ranked(df, order, mode="single", **kw)
        b = global_ranked(df, order, mode="distributed", num_partitions=16, **kw)
        ranks = lambda d: {r.uid: (r.rk, r.dr, r.cd) for r in d.collect()}  # noqa: E731
        assert ranks(a) == ranks(b), order


def test_running_sum_exact_integer_offsets(spark):
    df = _mk(spark, 300)
    a, b = _both(
        spark,
        df,
        ["k", "uid"],
        running_sums={"rs": F.col("v"), "rcnt": F.lit(1)},
    )
    assert _rows(a) == _rows(b)


def test_session_conf_dispatch(spark):
    df = _mk(spark, 50)
    spark.conf.set(RANK_MODE_CONF, "distributed")
    try:
        got = global_ranked(df, ["k", "uid"], row_number="rn")
        plan = _plan(got)
        assert "__rank_pid" in plan  # the distributed form ran
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    ref = global_ranked(df, ["k", "uid"], row_number="rn", mode="single")
    assert _rows(ref) == _rows(got)


def test_distributed_plan_shape(spark):
    """The scale contract: no unpartitioned Window, no SinglePartition
    exchange, and no range exchange at all — the range ids are a plan
    expression over literal boundaries sampled once at build, placed
    by id (a branch that re-sampled its own boundaries would corrupt
    the offsets, so this assertion is the canary)."""
    df = _mk(spark, 400)
    b = global_ranked(
        df,
        [("k", "desc"), "uid"],
        mode="distributed",
        row_number="rn",
        ntile={"nt": 5},
        running_sums={"rs": F.col("v")},
        total_count="n_all",
    )
    final = _plan(b)
    assert "SinglePartition" not in final
    # no pinned blocks and no per-branch boundary sampling: the rows
    # are recomputed from lineage and placed by their literal range id
    assert "ExistingRDD" not in final
    assert "rangepartitioning" not in final
    assert "shufflepartitionidpassthrough" in final
    # every Window node is partition-local (partitionBy __rank_pid)
    for line in final.splitlines():
        if "Window [" in line and "WindowGroupLimit" not in line:
            assert "__rank_pid" in line, f"global window survived: {line}"


def test_default_mode_follows_input_size(spark):
    """Without mode= or the session conf, an input below one advisory
    partition plans the single global Window; the same input with the
    advisory size set to 1 byte plans the distributed form; both
    return identical rows."""
    df = _mk(spark, 50)
    small = global_ranked(df, ["k", "uid"], row_number="rn", rank="rk")
    plan = _plan(small)
    assert "__rank_pid" not in plan
    assert _global_window_nodes(plan) == 1
    spark.conf.set(ADVISORY, "1")
    try:
        big = global_ranked(df, ["k", "uid"], row_number="rn", rank="rk")
    finally:
        spark.conf.unset(ADVISORY)
    bplan = _plan(big)
    assert "__rank_pid" in bplan
    assert "SinglePartition" not in bplan
    assert _global_window_nodes(bplan) == 0
    assert _rows(small) == _rows(big)


@pytest.mark.parametrize(
    "name,windows",
    [
        ("rfm_segmentation", 3),
        ("gains_chart_deciles", 3),
        ("hodges_lehmann_shift", 1),
        ("mi_token_selection", 1),
        ("profit_curve_threshold", 1),
        ("uncertainty_margin_sampling", 1),
        ("wilcoxon_signed_rank", 1),
    ],
)
def test_size_rule_keeps_sf001_members_single(spark, sf_dir_oracle, name, windows):
    """At sf0.01 every call of these members chooses the single plan.
    rfm_segmentation chains three calls, each one's input the previous
    one's output; the others rank the output of joins, whose estimate
    without CBO is the product of the join's children — megabytes to
    gigabytes for a few thousand rows until the size rule caps it at
    the leaf relations' total."""
    from ndvi_etl_pipeline_spark.plans.catalog import REGISTRY

    got = REGISTRY[name].builder(spark, sf_dir_oracle)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__rank_pid" not in plan
    assert _global_window_nodes(plan) == windows


def test_size_rule_caps_join_estimates_at_their_inputs(spark):
    """Two 3000-row ranges joined on id estimate as their product,
    576 MB for 3000 rows; capped at the leaves' total (48 KB) the
    input plans the single global Window."""
    j = spark.range(3000).join(
        spark.range(3000).withColumn("w", F.col("id") * 2), "id"
    )
    est = int(str(j._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert est >= 64 * 1024 * 1024
    got = global_ranked(j, ["w", "id"], row_number="rn")
    plan = _plan(got)
    assert "__rank_pid" not in plan
    assert _global_window_nodes(plan) == 1


def test_chained_distributed_calls_compute_each_input_once(spark):
    """A call ordered by an earlier call's rank reads that call's
    output once: in the as-run plan of a two-level chain the source
    scan appears once and each level's range shuffle once (the ranged
    rows are cached, so the local-window and stats branches share
    them). Branches that each recomputed their input scanned the
    source three times here and ran seven range shuffles, doubling
    the earlier level at every level of a longer chain."""
    df = _mk(spark, 3000)
    kw1 = dict(row_number="r1", running_sums={"rs": F.col("v")})
    kw2 = dict(row_number="r2", ntile={"d": 10})
    one = global_ranked(df, [("k", "desc"), "uid"], mode="distributed", **kw1)
    two = global_ranked(
        one.select("uid", "v", "r1"), [("r1", "desc")], mode="distributed", **kw2
    )
    plan = _plan(two)
    assert plan.count("Range (") == 1
    assert plan.count("Exchange shufflepartitionidpassthrough") == 2
    ref = global_ranked(
        global_ranked(df, [("k", "desc"), "uid"], mode="single", **kw1).select(
            "uid", "v", "r1"
        ),
        [("r1", "desc")],
        mode="single",
        **kw2,
    )
    assert _rows(two) == _rows(ref)


def test_range_id_code_stays_small_at_thousands_of_ranges(spark):
    """The range id is a binary search by powers of two over literal
    boundary arrays, so its code grows with log2 P: at 2048 ranges of
    a three-column key every generated method stays far below the
    64 KB limit (a comparison per boundary reached 22 KB at 64 ranges
    and failed to compile at 1024)."""
    from ndvi_etl_pipeline_spark.operators import rank as R

    i = F.col("id")
    df = spark.range(6000).select(
        F.format_string("s%04d", i % 2999).alias("s"),
        (i % 101 / 7.0).alias("d"),
        i.alias("uid"),
    )
    norm = R._norm_order(["s", ("d", "desc"), "uid"])
    n, arrays = R._range_bounds(df, norm, 2048)
    assert n == 2047
    keyed = df.withColumn(R._PID, R._range_id(norm, n, arrays))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = keyed._jdf.queryExecution().executedPlan()
        debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package")
        it = debug.codegenStringSeq(plan).iterator()
        sizes = []
        while it.hasNext():
            sizes.append(it.next()._3().maxMethodCodeSize())
        counts = {r[0]: r[1] for r in keyed.groupBy(R._PID).count().collect()}
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
    assert sizes and max(sizes) < 4096, sizes
    # every range is a 1/2048 slice of the sorted keys
    assert set(counts) == set(range(2048))
    assert sum(counts.values()) == 6000


def test_distributed_survives_lost_blocks_and_shuffles(spark):
    """Fault injection: between two actions on one distributed query,
    drop every RDD block and unregister every shuffle output the query
    made. The second action recomputes from lineage and returns the
    same rows (pinned ranged rows would be gone for good)."""
    sc = spark.sparkContext
    env = sc._jvm.org.apache.spark.SparkEnv.get()
    first_shuffle = sc._jsc.sc().newShuffleId()
    rdds_before = set(sc._jsc.getPersistentRDDs().keySet())
    df = _mk(spark, 400)
    got = global_ranked(
        df,
        [("k", "desc"), "uid"],
        mode="distributed",
        num_partitions=6,
        row_number="rn",
        rank="rk",
        dense_rank="dr",
        running_sums={"rs": F.col("v")},
        lag={"pv": F.col("v")},
        total_count="n_all",
    )
    ref = _rows(got)
    for rid in set(sc._jsc.getPersistentRDDs().keySet()) - rdds_before:
        env.blockManager().master().removeRdd(rid, True)
    tracker = env.mapOutputTracker()
    dropped = 0
    for sid in range(first_shuffle, sc._jsc.sc().newShuffleId()):
        if tracker.containsShuffle(sid):
            tracker.unregisterAllMapAndMergeOutput(sid)
            dropped += 1
    assert dropped  # the query's exchanges were really taken away
    assert _rows(got) == ref
    assert ref == _rows(
        global_ranked(
            df,
            [("k", "desc"), "uid"],
            mode="single",
            row_number="rn",
            rank="rk",
            dense_rank="dr",
            running_sums={"rs": F.col("v")},
            lag={"pv": F.col("v")},
            total_count="n_all",
        )
    )


@pytest.mark.parametrize("n,parts", [(1, 4), (2, 8), (1000, 3)])
def test_partition_count_insensitive(spark, n, parts):
    df = _mk(spark, n)
    a = global_ranked(
        df, ["k", "uid"], mode="single", row_number="rn", ntile={"nt": 4}
    )
    b = global_ranked(
        df,
        ["k", "uid"],
        mode="distributed",
        num_partitions=parts,
        row_number="rn",
        ntile={"nt": 4},
    )
    assert _rows(a) == _rows(b)


from ndvi_etl_pipeline_spark.operators.rank import CLASS3_MEMBERS

CLASS3_PARITY = list(CLASS3_MEMBERS)

#: members whose split finding (operators/trees) runs a global window
#: over a bucket grid of at most n_buckets rows, single in every mode
GRID_MEMBERS = {
    "best_feature_split",
    "decision_stump_orders",
    "regression_stump_lineitem",
}


def _grid_windows(plan: str) -> int:
    """Global Window nodes ordered by a bucket grid column alone."""
    n = 0
    for line in plan.splitlines():
        if _global_window_nodes(line):
            order = _bracket_groups(line[line.find("Window [") + 7:])[-1]
            n += bool(re.fullmatch(r"bucket#\d+L? ASC NULLS FIRST", order))
    return n


@pytest.mark.parametrize("name", CLASS3_PARITY)
def test_class3_catalog_parity_and_plan(spark, sf_dir, name):
    """The five round-7-verdict parity members: distributed rank mode
    must return BIT-IDENTICAL rows to the single-partition form, and its executed plan must contain zero unpartitioned Window
    nodes and zero SinglePartition exchanges outside the final scalar
    aggregate the query itself returns."""
    from ndvi_etl_pipeline_spark.plans.catalog import REGISTRY

    q = REGISTRY[name].builder
    spark.conf.set(RANK_MODE_CONF, "single")
    try:
        ref_rows = _rows(q(spark, sf_dir))
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    spark.conf.set(RANK_MODE_CONF, "distributed")
    try:
        got = q(spark, sf_dir)
        got_rows = _rows(got)
        plan = _plan(got)
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    assert got_rows == ref_rows
    # the audit's precise detector: a Window node with NO partition
    # spec (partitioned windows — __rank_pid locals, per-key windows
    # like count() OVER (PARTITION BY score) — are the scale-safe
    # shape and stay). The split finders' prefix sums over their
    # bucket grid are global at any data size by design.
    grid = _grid_windows(plan)
    assert (grid > 0) == (name in GRID_MEMBERS), f"{name}: {grid} grid windows"
    assert _global_window_nodes(plan) == grid, f"{name}: global window survived"

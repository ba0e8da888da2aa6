"""Scale utilities: bucketed joins skip the exchange; salted joins
reproduce plain join results exactly."""

import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.operators.scale import (
    read_table,
    salted_join,
    write_bucketed,
)
from ndvi_etl_pipeline_spark.sources.testdata import load_table
from tools.audit_plans import _sp_exchanges_nonagg, explain_str, plan_as_run


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    write_bucketed(o.select("o_orderkey", "o_totalprice"), "t_orders_b", ("o_orderkey",), 8)
    write_bucketed(li.select("l_orderkey", "l_quantity"), "t_lineitem_b", ("l_orderkey",), 8)
    j = read_table(spark, "t_lineitem_b").join(
        read_table(spark, "t_orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = explain_str(j)
    assert "Exchange" not in plan, plan
    # and it still computes the right thing
    expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert j.count() == expected


def test_unbucketed_join_does_exchange(spark, sf_dir, no_broadcast):
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = explain_str(li.join(o, li.l_orderkey == o.o_orderkey))
    assert "Exchange" in plan


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_orderkey", "k"),
            o.withColumnRenamed("o_orderkey", "k"),
            key="k",
            n_salts=4,
            discriminator="l_linenumber",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_partitioned_lake_prunes_scan(spark, sf_dir, tmp_path):
    """A date-partitioned product lake: (a) a date predicate becomes a
    PartitionFilter (pruned at planning, zero data read from other
    days); (b) dynamic partition overwrite rewrites ONLY the
    partitions present in the incoming batch (K4 at partition
    granularity)."""
    from ndvi_etl_pipeline_spark.operators.upsert import write_upsert

    path = str(tmp_path / "lake")
    e = load_table(spark, "events", sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )
    write_upsert(e, path, ("event_date",))

    lake = spark.read.parquet(path)
    day = lake.agg(F.min("event_date")).first()[0]
    q = lake.filter(F.col("event_date") == F.lit(day))

    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # the pruned scan reads exactly the one partition directory
    one_dir = spark.read.parquet(f"{path}/event_date={day}")
    assert q.count() == one_dir.count() > 0

    # dynamic overwrite: zero out one day, leave every other day alone
    before_other = (
        lake.filter(F.col("event_date") != F.lit(day))
        .agg(F.count("*"), F.round(F.sum("value"), 2))
        .first()
    )
    upd = e.filter(F.col("event_date") == F.lit(day)).withColumn(
        "value", F.lit(0.0)
    )
    write_upsert(upd, path, ("event_date",))

    after = spark.read.parquet(path)
    assert after.filter(F.col("event_date") == F.lit(day)).agg(
        F.sum("value")
    ).first()[0] == 0.0
    after_other = (
        after.filter(F.col("event_date") != F.lit(day))
        .agg(F.count("*"), F.round(F.sum("value"), 2))
        .first()
    )
    assert tuple(after_other) == tuple(before_other)


def test_morton_key_matches_reference(spark):
    from ndvi_etl_pipeline_spark.operators.scale import morton_key

    def py_morton(x, y, bits=16):
        k = 0
        for i in range(bits):
            k |= ((x >> i) & 1) << (2 * i)
            k |= ((y >> i) & 1) << (2 * i + 1)
        return k

    df = (
        spark.range(64)
        .select(
            (F.col("id") % 8).alias("x"),
            (F.col("id") / 8).cast("long").alias("y"),
        )
        .withColumn("z", morton_key("x", "y"))
    )
    for r in df.collect():
        assert r.z == py_morton(r.x, r.y), (r.x, r.y)


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    """Z-order clustering: every output file's footer stats must be
    tight in BOTH x and y (→ 2-D predicate skipping), which a
    row-major (x, y) sort cannot achieve for y."""
    import pyarrow.parquet as pq

    from ndvi_etl_pipeline_spark.operators.scale import write_zordered

    n = 128  # n×n grid
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    path = str(tmp_path / "zorder")
    write_zordered(grid, path, "x", "y", bits=8, files=16)

    import glob

    spans_x, spans_y = [], []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        lo_x = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi_x = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        lo_y = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi_y = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        spans_x.append((hi_x - lo_x + 1) / n)
        spans_y.append((hi_y - lo_y + 1) / n)
    # each file covers a compact 2-D block: both dims well under the
    # full range on average (a 1-D x-sort gives spans_y ≈ 1.0)
    assert sum(spans_x) / len(spans_x) <= 0.5, spans_x
    assert sum(spans_y) / len(spans_y) <= 0.5, spans_y
    # and the data survives the round trip
    assert spark.read.parquet(path).count() == n * n


def test_tile_clip_plan_prunes_before_python(spark, tmp_path):
    """tile_clip_stats plan shape: the sargable tile-extent × AOI-bbox
    filter must run JVM-side BEFORE the clip kernel's Python boundary,
    and the scene aggregate must have a map-side partial, so the only
    shuffle carries |surviving tiles| partial rows."""
    import numpy as np

    from ndvi_etl_pipeline_spark.operators import raster

    rng = np.random.default_rng(0)
    for i in range(2):
        s = f"S{i}_20220601"
        raster.write_geotiff(
            rng.integers(0, 30000, size=(64, 64)).astype(np.float32),
            str(tmp_path / f"{s}_red.tif"),
        )
        raster.write_geotiff(
            rng.integers(0, 60000, size=(64, 64)).astype(np.float32),
            str(tmp_path / f"{s}_nir.tif"),
        )
    ndvi = raster.scan_scene_ndvi(spark, str(tmp_path), tile=32)
    ring = [(5.0, 5.0), (60.0, 8.0), (58.0, 58.0), (8.0, 55.0)]
    plan = explain_str(raster.tile_clip_stats(ndvi, ring))

    # plan prints parent-first: clip kernel (MapInArrow) must appear
    # BEFORE (above) the bbox Filter, i.e. the Filter is its child —
    # pruning happens before bytes cross into Python.
    map_idx = plan.index("MapInArrow")
    filt_idx = plan.index("Filter ")
    assert map_idx < filt_idx
    # the bbox predicate on the tile-extent columns is that Filter's
    # condition (details section of the formatted plan)
    assert any("Condition" in ln and "x0" in ln for ln in plan.splitlines())
    # map-side partial aggregation of the per-tile sums
    assert "partial_sum(n_in_aoi" in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    """The claims PLANS.md makes about the scan layer, as regression
    tests: date+price predicates must reach the parquet reader as
    PushedFilters, and ReadSchema must contain only referenced
    columns."""
    o = load_table(spark, "orders", sf_dir)
    q = (
        o.filter(
            (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_totalprice") <= 150000.0)
        )
        .groupBy("o_orderpriority")
        .count()
    )
    plan = explain_str(q)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "o_totalprice" in pushed and "o_orderdate" in pushed, pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("o_orderdate", "o_totalprice", "o_orderpriority"):
        assert col in read_schema
    assert "o_comment" not in read_schema and "o_custkey" not in read_schema


def test_no_row_python_udfs_anywhere(spark, sf_dir):
    """Engine-wide invariant: no BatchEvalPython (row-at-a-time Python
    UDF) in any query plan — Python appears only as Arrow-vectorized
    nodes. Samples a representative slice of the catalog (the full
    sweep is tools/audit_plans.py)."""
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    sample = [
        "pricing_summary", "join_chain_revenue", "ndvi_scene_stats",
        "ndvi_tiled_stats", "dedup_minhash_lsh", "ann_ivf_topk",
        "curation_pipeline", "events_asof_join", "tfidf_top_terms",
        "word_frequencies", "embedding_norms", "sequence_packing",
    ]
    for name in sample:
        plan = explain_str(REGISTRY[name].builder(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_audit_counts_arrow_python_nodes(spark):
    """tools/audit_plans.py counts the Arrow-native Python nodes too: a
    plan with one `mapInArrow` and one grouped `applyInArrow` has two
    vectorized Python boundaries, neither of them pandas; the pandas
    twins count as both."""
    from tools.audit_plans import audit_one

    df = spark.range(8).mapInArrow(lambda batches: batches, "id long")
    df = df.groupBy("id").applyInArrow(lambda table: table, "id long")
    counts = audit_one(df)
    assert (counts["arrow_python_nodes"], counts["pandas_python_nodes"]) == (2, 0)
    pdf = spark.range(8).mapInPandas(lambda frames: frames, "id long")
    pdf = pdf.groupBy("id").applyInPandas(lambda frame: frame, "id long")
    counts = audit_one(pdf)
    assert (counts["arrow_python_nodes"], counts["pandas_python_nodes"]) == (2, 2)
    # a scalar pandas UDF (eval type 200) and a cogrouped pandas kernel
    # are pandas boundaries too; an arrow_udf (eval type 250) is not
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    @F.pandas_udf("boolean")
    def pos_pd(x: pd.Series) -> pd.Series:
        return x > 0

    @F.arrow_udf("boolean")
    def pos_pa(x: pa.Array) -> pa.Array:
        return pc.greater(x, 0)

    df = spark.range(8)
    counts = audit_one(df.select(pos_pd("id"), pos_pa("id")))
    assert (counts["arrow_python_nodes"], counts["pandas_python_nodes"]) == (2, 1)
    co = df.groupBy("id").cogroup(df.groupBy("id"))
    counts = audit_one(co.applyInPandas(lambda a, b: a, "id long"))
    assert (counts["arrow_python_nodes"], counts["pandas_python_nodes"]) == (1, 1)
    counts = audit_one(co.applyInArrow(lambda a, b: a, "id long"))
    assert (counts["arrow_python_nodes"], counts["pandas_python_nodes"]) == (1, 0)


def test_tpch_dim_joins_broadcast(spark, sf_dir_oracle):
    """Dimension joins in the TPC-H shapes must plan as broadcast-hash
    joins (nation/region/customer are the small sides by construction)
    — no shuffled sort-merge join for a dim lookup."""
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    plan = (
        REGISTRY["tpch_q5_local_supplier"]
        .builder(spark, sf_dir_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a filter on a joined dimension must
    prune FACT partitions at runtime (the star-join pattern every
    100 TB date-partitioned lake lives on) — the scan's
    PartitionFilters carries a dynamicpruning expression fed by the
    dim subquery, so only the dim-selected days are read, without the
    query ever naming them statically."""
    from ndvi_etl_pipeline_spark.sources import load_table

    path = str(tmp_path / "factlake")
    e = load_table(spark, "events", sf_dir).withColumn("event_date", F.to_date("ts"))
    e.repartition(8).write.partitionBy("event_date").parquet(path)
    fact = spark.read.parquet(path)

    # small dim: one row per date, keep only 3 days of it
    dim = (
        fact.select("event_date").distinct().limit(3)
        .withColumn("keep", F.lit(1))
    )
    dim.write.parquet(str(tmp_path / "dim"))
    dim = spark.read.parquet(str(tmp_path / "dim"))

    q = fact.join(dim.filter(F.col("keep") == 1), "event_date").groupBy(
        "event_date"
    ).count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    # correctness: equals the statically-filtered result
    days = [r["event_date"] for r in dim.collect()]
    expected = (
        fact.filter(F.col("event_date").isin(days)).groupBy("event_date").count()
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, expected.collect()))


def test_runtime_bloom_filter_join_injection(spark, sf_dir_oracle):
    """Runtime bloom-filter semi-join injection: a selective filter on
    the orders side of a shuffled join plants a bloom filter on the
    lineitem scan side (might_contain pre-filter), discarding
    non-matching fact rows BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    the ~matching fraction. Thresholds are lowered to engage the rule
    at test scale; the rewrite itself is what's under test, plus
    result equality with the filter disabled."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir_oracle}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir_oracle}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        q = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        ex = q._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in ex.lower() or "bloomfilter" in ex.lower(), ex
        with_bloom = sorted(map(tuple, q.collect()))

        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        q2 = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        assert sorted(map(tuple, q2.collect())) == with_bloom
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_degenerate_bucket_skew_split(spark):
    """The LSH candidate self-join's documented skew guard, proven:
    a pathological bucket (hundreds of IDENTICAL docs -> one band_key
    holds the whole pile) must (a) still produce exactly C(n,2)
    candidate pairs for the pile, and (b) get split by AQE's
    skew-join optimization instead of serializing one fat partition
    (operators/dedup.py::lsh_candidate_pairs docstring)."""
    from ndvi_etl_pipeline_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_docs,
    )

    n_dup, n_norm = 400, 100
    rows = [
        (i, "the same exact degenerate text that lands every copy in one bucket")
        for i in range(n_dup)
    ]
    rows += [
        (10_000 + i, f"unique document number {i} with distinct filler {i * 7} {i * i}")
        for i in range(n_norm)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        # no broadcast (force the shuffle join skew applies to) + tiny
        # skew thresholds so the degenerate bucket trips detection at
        # test scale the way a multi-GB bucket would at 100 TB
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        banded = lsh_bands(minhash_signatures(shingle_docs(df, "text", "doc_id")))
        cands = lsh_candidate_pairs(banded)
        got = cands.collect()
        dup_pairs = sum(1 for r in got if r.doc_a < 10_000 and r.doc_b < 10_000)
        assert dup_pairs == n_dup * (n_dup - 1) // 2  # exactly C(400, 2)

        plan = cands._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_selection_tier_plan_shapes(spark, sf_dir):
    """The data-selection tier's physical plans stay the ones you'd
    want at corpus scale: the DSIR top-k is sort+limit
    (TakeOrderedAndProject, never a global window), its bucket-LM
    join is broadcast, hard-negative mining broadcasts the query
    side, and no BatchEvalPython appears anywhere in the tier."""
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    def plan_of(name):
        return plan_as_run(REGISTRY[name].builder(spark, sf_dir))

    # The top-k + LM-join subplan feeds global_ranked: assert the
    # sort+limit shape under explicit single mode, and under explicit
    # distributed mode the same subplan plus the scale invariants (no
    # single-partition exchange that moves data, no unpartitioned
    # window, no pinned ExistingRDD scan, no range exchange).
    from ndvi_etl_pipeline_spark.operators.rank import RANK_MODE_CONF

    spark.conf.set(RANK_MODE_CONF, "single")
    try:
        p = plan_of("dsir_importance_topk")
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # the 64-row LM join
    spark.conf.set(RANK_MODE_CONF, "distributed")
    try:
        p = plan_of("dsir_importance_topk")
    finally:
        spark.conf.unset(RANK_MODE_CONF)
    assert "TakeOrderedAndProject" in p
    # the input's one SinglePartition exchange feeds a scalar
    # aggregate (the bucket LM totals: one row per partition)
    assert _sp_exchanges_nonagg(p) == 0
    assert "ExistingRDD" not in p
    assert "rangepartitioning" not in p
    for line in p.splitlines():
        if "Window [" in line and "WindowGroupLimit" not in line:
            assert "__rank_pid" in line, line
    # hard-negative mining scores via the Arrow kernel (driver-held
    # query matrix — no join at all), then ranks with a window
    p = plan_of("hard_negative_mining")
    assert "MapInArrow" in p and "Join" not in p
    for name in (
        "dsir_importance_topk",
        "semdedup_prune_census",
        "exact_substring_dup_stats",
        "exact_substring_coverage",
        "naive_bayes_lang_quality",
        "ccnet_perplexity_buckets",
        "soft_dedup_effective_size",
        "hard_negative_mining",
        "selection_funnel",
    ):
        assert "BatchEvalPython" not in plan_of(name), name


def test_pq_serving_plan_constant_in_batch_size(spark):
    """ADC serving must be ONE corpus scan no matter how many queries
    are in the batch (round 3 built one plan branch per query and
    union-ed them — plan size and scan count grew linearly). Assert
    the physical plan's scan/union/join node counts are IDENTICAL for
    a 2-query and a 6-query batch, for both pq_topk_adc and
    ivfpq_topk."""
    from ndvi_etl_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk_adc,
        pq_train,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(40)
    ]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = pq_train(e, m=2, k=4, iterations=1, dims=8)
    corpus = e.filter(F.col("vec_id") >= 6)
    codes = pq_encode(corpus, books)
    cents = e.filter(F.col("vec_id") < 3)

    def histogram(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {
            tok: plan.count(tok)
            for tok in ("Scan", "Union", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "Exchange")
        }

    q2 = e.filter(F.col("vec_id") < 2)
    q6 = e.filter(F.col("vec_id") < 6)
    h2 = histogram(pq_topk_adc(codes, q2, books, k=3))
    h6 = histogram(pq_topk_adc(codes, q6, books, k=3))
    assert h2 == h6, (h2, h6)
    assert h2["Union"] == 0

    h2 = histogram(ivfpq_topk(corpus, q2, cents, books, k=3, nprobe=2))
    h6 = histogram(ivfpq_topk(corpus, q6, cents, books, k=3, nprobe=2))
    assert h2 == h6, (h2, h6)
    assert h2["Union"] == 0
    # probe restriction is a hash join on centroid_id, not isin filters
    assert h2["BroadcastHashJoin"] >= 1


def test_salted_join_rejects_outer_joins(spark):
    """Right/full outer through the salt replication would emit
    spurious null-extended rows — the guard must refuse them."""
    import pytest as _pytest

    from ndvi_etl_pipeline_spark.operators.scale import salted_join

    l = spark.createDataFrame([(1, "a")], "k int, v string")
    r = spark.createDataFrame([(1, "x")], "k int, w string")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError, match="swap the sides"):
            salted_join(l, r, "k", how=how)
    # left joins stay supported and exact
    got = salted_join(l, r, "k", how="left").collect()
    assert len(got) == 1 and got[0].w == "x"


def test_curation_pipeline_dedup_has_no_window_sort(spark, sf_dir):
    """The curation-pipeline fingerprint dedup must be a hash
    aggregate (min_by over the fingerprint), NOT a row_number sort
    window — at sf10 the window-sort form ran 3.8x the comparator
    because every ~5 M-group partition had to sort, while min_by gets
    a map-side partial combine and no per-group sort at all."""
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    plan = (
        REGISTRY["curation_pipeline"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert "min_by" in plan or "HashAggregate" in plan, plan


def test_itemcf_hot_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """itemcf_similar_parts' hot-10 selection must be a distributed
    TakeOrderedAndProject (orderBy+limit — per-partition partial
    top-k), never a row_number over an UNPARTITIONED window, which
    funnels the items-sized freq relation through one task's sort at
    corpus scale. The user_recs sibling keeps its window but it is
    partitioned (per-user rank)."""
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    plan = (
        REGISTRY["itemcf_similar_parts"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan

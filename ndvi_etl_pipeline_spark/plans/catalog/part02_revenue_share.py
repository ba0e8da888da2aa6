"""Query catalog part 2/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403



@register(
    "revenue_share",
    oracle="""
    WITH nrev AS (
      SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT n_name,
           round(rev, 2) AS revenue,
           round(rev / sum(rev) OVER (), 6) AS share,
           CAST(rank() OVER (ORDER BY rev DESC, n_name) AS INT) AS rnk
    FROM nrev
    """,
    tags=("window", "agg"),
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of total revenue via an
    empty-frame window sum. The window input is the POST-aggregate
    relation (|nations| rows), so the unpartitioned window is cheap at
    any scale — the pattern to teach is aggregate-then-window, never
    window-over-fact-table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    nrev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("rev"), F.asc("n_name"))
    return nrev.select(
        "n_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_all), 6).alias("share"),
        F.rank().over(w_rank).cast("int").alias("rnk"),
    )


@register(
    "warp_tiled",
    oracle=_NDVI_SQL
    + """
    , dst AS (
      SELECT s.scene_id, i AS y, j AS x,
             (i + 0.5) * 1.25 - 0.5 AS sy, (j + 0.5) * 1.25 - 0.5 AS sx
      FROM (SELECT DISTINCT scene_id FROM nv) s
      CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS i)
      CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS j)
    ),
    c AS (
      SELECT scene_id, y, x,
             CAST(floor(sy) AS INT) AS y0, CAST(floor(sx) AS INT) AS x0,
             sy - floor(sy) AS wy, sx - floor(sx) AS wx
      FROM dst
    )
    SELECT c.scene_id, c.y, c.x,
           round(CAST(CAST(v00.ndvi AS REAL) AS DOUBLE) * (1 - c.wy) * (1 - c.wx)
               + CAST(CAST(v01.ndvi AS REAL) AS DOUBLE) * (1 - c.wy) * c.wx
               + CAST(CAST(v10.ndvi AS REAL) AS DOUBLE) * c.wy * (1 - c.wx)
               + CAST(CAST(v11.ndvi AS REAL) AS DOUBLE) * c.wy * c.wx, 6) AS v
    FROM c
    JOIN nv v00 ON v00.scene_id = c.scene_id AND v00.y = c.y0     AND v00.x = c.x0
    JOIN nv v01 ON v01.scene_id = c.scene_id AND v01.y = c.y0     AND v01.x = c.x0 + 1
    JOIN nv v10 ON v10.scene_id = c.scene_id AND v10.y = c.y0 + 1 AND v10.x = c.x0
    JOIN nv v11 ON v11.scene_id = c.scene_id AND v11.y = c.y0 + 1 AND v11.x = c.x0 + 1
    WHERE v00.ndvi IS NOT NULL AND v01.ndvi IS NOT NULL
      AND v10.ndvi IS NOT NULL AND v11.ndvi IS NOT NULL
    """,
    tags=("ndvi", "raster", "warp", "tiled"),
)
def q_warp_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The halo-exchange tiled warp (warp_bilinear_tiled) against the
    same 4-neighbor-join SQL formulation as `warp_bilinear` —
    100×100 → 80×80 (scale 1.25, halo=22 on 32-px tiles), so BOTH
    warp execution strategies are oracle-checked, not just
    equality-checked against each other. Tile payloads are float32,
    so the oracle replays the quantization (CAST … AS REAL) before
    the double-precision interpolation."""
    from ...operators.raster import pixels_to_tiles
    from ...operators.warp import warp_bilinear_tiled

    nv = _ndvi_pixels_df(spark, sf_dir)
    tiles = pixels_to_tiles(
        nv.withColumn("band", F.lit("ndvi")), tile=32, value_col="ndvi"
    ).drop("band")
    out = warp_bilinear_tiled(tiles, out_height=80, out_width=80, scale_y=1.25, scale_x=1.25)
    return out.select("scene_id", "y", "x", F.round("v", 6).alias("v"))


@register(
    "having_global_share",
    oracle="""
    SELECT p_type,
           round(sum(l_extendedprice), 2) AS type_value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_type
    HAVING sum(l_extendedprice) >
           (SELECT sum(l_extendedprice) * 0.04
            FROM lineitem JOIN part ON l_partkey = p_partkey)
    """,
    tags=("agg", "subquery"),
)
def q_having_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global scalar subquery. The
    scalar aggregates once and broadcasts as a 1-row cross join — the
    grouped relation is NOT rescanned per group. (Spark plans the
    uncorrelated scalar subquery exactly this way.)"""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(p, li["l_partkey"] == p["p_partkey"]).select("p_type", "l_extendedprice")
    total = joined.agg((F.sum("l_extendedprice") * 0.04).alias("threshold"))
    return (
        joined.groupBy("p_type")
        .agg(F.sum("l_extendedprice").alias("tv"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("tv") > F.col("threshold"))
        .select("p_type", F.round("tv", 2).alias("type_value"))
    )


@register(
    "not_in_null_semantics",
    oracle="""
    SELECT variant, CAST(n AS BIGINT) AS n FROM (
      SELECT 'clean' AS variant, count(*) AS n
      FROM supplier
      WHERE s_suppkey NOT IN (
        SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
      UNION ALL
      SELECT 'null_poisoned' AS variant, count(*) AS n
      FROM supplier
      WHERE s_suppkey NOT IN (
        SELECT CASE WHEN l_quantity > 49 THEN l_suppkey END FROM lineitem))
    """,
    tags=("antijoin", "null"),
)
def q_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN three-valued-logic semantics — the classic engine
    correctness trap: a single NULL in the subquery makes NOT IN
    return UNKNOWN for every row (count 0), while the null-free
    variant is a plain anti-join. Expressed DataFrame-first as a
    left_anti join plus a null-existence guard — the rewrite every
    optimizer performs for null-aware anti joins. Fully lazy: the
    guard is a 1-row aggregate cross-joined into the plan (`CASE
    WHEN any_null THEN 0 ELSE anti_count END`), not a driver-side
    count at build time."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")

    clean_keys = li.filter(F.col("l_quantity") > 49).select(
        F.col("l_suppkey").alias("k")
    )
    n_clean = (
        s.join(clean_keys, s["s_suppkey"] == clean_keys["k"], "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("clean").alias("variant"), F.col("n").cast("bigint").alias("n"))
    )

    poisoned = li.select(
        F.when(F.col("l_quantity") > 49, F.col("l_suppkey")).alias("k")
    )
    # 1-row guard: does the subquery contain a NULL? (three-valued
    # logic: if yes, NOT IN is UNKNOWN everywhere → count 0)
    guard = poisoned.agg(
        F.max(F.col("k").isNull().cast("int")).alias("any_null")
    )
    pk = poisoned.filter(F.col("k").isNotNull()).distinct()
    anti_n = s.join(pk, s["s_suppkey"] == pk["k"], "left_anti").agg(
        F.count("*").alias("n")
    )
    n_poisoned = (
        anti_n.crossJoin(F.broadcast(guard))
        .select(
            F.lit("null_poisoned").alias("variant"),
            F.when(F.col("any_null") == 1, F.lit(0))
            .otherwise(F.col("n"))
            .cast("bigint")
            .alias("n"),
        )
    )
    return n_clean.unionAll(n_poisoned)


@register(
    "exists_not_exists",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_custs
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000.0)
    GROUP BY c.c_mktsegment
    """,
    tags=("semijoin", "antijoin"),
)
def q_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined EXISTS / NOT EXISTS (TPC-H Q21/Q22 shape): customers
    with at least one order but no order above the threshold —
    left_semi then left_anti on the same dimension, both hash joins
    on the customer key, pipelined in one plan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000.0)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .join(big, F.col("c_custkey") == big["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_custs"))
    )


@register("multi_aoi_clip", oracle=None, tags=("ndvi", "clip", "multi-aoi"))
def q_multi_aoi_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+A1 over MANY AOIs in one pass (tile_clip_stats_multi) — the
    reference's ndvi_clipped product shape (UNIQUE(full_id, aoi_id),
    002_schema.sql). Tile payloads are float32, so the oracle clips
    per-pixel on REAL-quantized values."""
    from ...operators.raster import pixels_to_tiles, tile_clip_stats_multi

    nv = _ndvi_pixels_df(spark, sf_dir)
    tiles = pixels_to_tiles(
        nv.withColumn("band", F.lit("ndvi")), tile=32, value_col="ndvi"
    ).drop("band")
    out = tile_clip_stats_multi(tiles, [(1, _AOI_RING), (2, _AOI_RING_B)])
    return out.select(
        "scene_id",
        F.col("aoi_id").cast("int").alias("aoi_id"),
        F.col("n_in_aoi").alias("n_pixels"),
        F.round("mean_ndvi", 6).alias("mean_ndvi"),
    )


_finalize_multi_aoi_oracle()


@register("aoi_buffer_retry_clip", oracle=None, tags=("ndvi", "spatial", "buffer"))
def q_aoi_buffer_retry_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 retry semantics: the reference checks AOI∩raster overlap and,
    on miss, retries with `geom.buffer(1.0)` (compute_ndvi.py:128-132).
    Engine form: point ∈ buffer(poly, d) ⇔ inside OR within d of an
    edge — a native codegen predicate
    (functions/geo.py::point_in_buffered_rings_col), no offset-polygon
    construction and no UDF; the bbox prefilter expands by d and stays
    sargable. Output per scene: strict count (0 here — the AOI misses
    the grid), buffered count, the retry flag, and the buffered mean —
    the oracle replays the identical distance arithmetic in SQL."""
    from ...functions.geo import (
        point_in_buffered_rings_col,
        point_in_rings_col,
        rings_bbox,
    )

    rings = [_AOI_RING_OFFGRID]
    d = _BUFFER_DIST
    minx, miny, maxx, maxy = rings_bbox(rings)
    nv = _ndvi_pixels_df(spark, sf_dir)
    sp = point_in_rings_col("x", "y", rings)
    bp = point_in_buffered_rings_col("x", "y", rings, d)
    return (
        nv.filter(
            F.col("x").between(minx - d, maxx + d)
            & F.col("y").between(miny - d, maxy + d)
        )
        .groupBy("scene_id")
        .agg(
            F.sum(sp.cast("int")).cast("bigint").alias("n_strict"),
            F.sum(bp.cast("int")).cast("bigint").alias("n_buffered"),
            (F.sum(sp.cast("int")) == 0).alias("used_buffer_retry"),
            F.round(F.avg(F.when(bp, F.col("ndvi"))), 6).alias("mean_ndvi_buffered"),
        )
    )


_finalize_buffer_retry_oracle()


@register("aoi_union_dissolve", oracle=None, tags=("ndvi", "spatial", "union"))
def q_aoi_union_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 dissolve on OVERLAPPING features: the reference unions all
    AOI features into one geometry before any intersects/clip
    (`unary_union`, download_landsat_stac.py:79). Engine form:
    membership in the dissolved geometry = OR of per-feature ray casts
    (sources/geojson.py::point_in_any_ring) — exact for arbitrary
    overlap, unlike even-odd over the combined ring set, which would
    carve the intersection OUT. Output proves it: n_union <
    n_a + n_b (inclusion-exclusion), n_overlap > 0, and the
    even-odd count equals n_union − n_overlap exactly."""
    from ...sources.geojson import point_in_any_ring
    from ...functions.geo import point_in_rings_col

    nv = _ndvi_pixels_df(spark, sf_dir)
    in_a = point_in_rings_col("x", "y", [_AOI_UNION_A])
    in_b = point_in_rings_col("x", "y", [_AOI_UNION_B])
    in_union = point_in_any_ring("x", "y", [_AOI_UNION_A, _AOI_UNION_B])
    in_evenodd = point_in_rings_col("x", "y", [_AOI_UNION_A, _AOI_UNION_B])
    return nv.groupBy("scene_id").agg(
        F.sum(in_a.cast("int")).cast("bigint").alias("n_a"),
        F.sum(in_b.cast("int")).cast("bigint").alias("n_b"),
        F.sum(in_union.cast("int")).cast("bigint").alias("n_union"),
        F.sum((in_a & in_b).cast("int")).cast("bigint").alias("n_overlap"),
        F.sum(in_evenodd.cast("int")).cast("bigint").alias("n_evenodd"),
        F.round(F.avg(F.when(in_union, F.col("ndvi"))), 6).alias("mean_ndvi_union"),
    )


@register("aoi_union_geometry_clip", oracle=None, tags=("ndvi", "spatial", "union"))
def q_aoi_union_geometry_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 dissolve producing GEOMETRY, not just membership: the two
    overlapping AOIs are unioned into an actual ring set by the
    pure-Python Greiner–Hormann clipper
    (functions/polyclip.py::union_all — the engine's `unary_union`,
    download_landsat_stac.py:79), and the pixels are clipped by the
    even-odd ray cast over the COMPUTED union rings (clip_filter, the
    same machinery as any single AOI). The oracle clips by OR of the
    ORIGINAL rings' predicates — count and mean match exactly iff the
    constructed geometry is correct, making the DuckDB gate a
    geometry-correctness check for the clipper itself."""
    from ...functions.geo import clip_filter
    from ...functions.polyclip import union_all

    union_rings = union_all([_AOI_UNION_A, _AOI_UNION_B])
    nv = _ndvi_pixels_df(spark, sf_dir)
    return (
        clip_filter(nv, "x", "y", union_rings)
        .groupBy("scene_id")
        .agg(
            F.count("*").alias("n_pixels"),
            F.round(F.avg("ndvi"), 6).alias("mean_ndvi"),
        )
    )


@register("grid_spatial_join_clip", oracle=None, tags=("ndvi", "spatial", "join"))
def q_grid_spatial_join_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points × MANY polygons with the AOIs as a TABLE, not plan
    literals (operators/spatial_join.py::grid_spatial_join): polygons
    expand to covered grid cells (native sequence/explode over the
    flat-ring bbox), pixels key to their cell, candidates form on a
    plain cell equi-join, and the exact even-odd refinement runs only
    on candidates via the Arrow-batched ray-cast UDF — the shape that
    scales to millions of field-boundary polygons where codegen
    literals and cross joins both die. Overlapping AOIs multi-match
    by design (one row per containing polygon). The oracle replays
    each polygon's clip as literal SQL predicates — identical counts
    and means prove blocking lost no candidates."""
    from ...operators.spatial_join import grid_spatial_join

    rows = [
        (aoi_id, [float(v) for p in ring for v in p]) for aoi_id, ring in _AOI_TABLE
    ]
    aois = spark.createDataFrame(rows, "aoi_id int, ring array<double>")
    nv = _ndvi_pixels_df(spark, sf_dir)
    joined = grid_spatial_join(nv, aois, cell=16.0, x_col="x", y_col="y")
    return joined.groupBy("aoi_id").agg(
        F.count("*").alias("n_pixels"),
        F.round(F.avg("ndvi"), 6).alias("mean_ndvi"),
    )


@register("grid_tile_clip_stats", oracle=None, tags=("ndvi", "spatial", "join", "raster"))
def q_grid_tile_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TILE-form polygon-table clip
    (operators/spatial_join.py::tile_clip_stats_table): tiles block to
    AOI bbox cells at cell = tile size, (tile, aoi) candidates form on
    a plain tile-coordinate equi-join, and the Arrow kernel emits
    per-candidate PARTIAL stats so the final shuffle carries tile×aoi
    rows, never pixels — the raster twin of grid_spatial_join_clip and
    the scale path past tile_clip_stats_multi's plan-literal prune.
    Tile payloads are float32, so the oracle clips per-pixel on
    REAL-quantized values (same convention as multi_aoi_clip)."""
    from ...operators.raster import pixels_to_tiles
    from ...operators.spatial_join import tile_clip_stats_table

    rows = [
        (aoi_id, [float(v) for p in ring for v in p]) for aoi_id, ring in _AOI_TABLE
    ]
    aois = spark.createDataFrame(rows, "aoi_id int, ring array<double>")
    nv = _ndvi_pixels_df(spark, sf_dir)
    tiles = pixels_to_tiles(
        nv.withColumn("band", F.lit("ndvi")), tile=32, value_col="ndvi"
    ).drop("band")
    out = tile_clip_stats_table(tiles, aois, tile_size=32)
    return out.select(
        "scene_id",
        "aoi_id",
        F.col("n_in_aoi").alias("n_pixels"),
        F.round("mean_ndvi", 6).alias("mean_ndvi"),
    )


_finalize_grid_tile_clip_oracle()


_finalize_grid_join_oracle()


_finalize_union_geometry_oracle()


_finalize_union_dissolve_oracle()


@register(
    "array_functions",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id <= 40)
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS INT) AS n_unique,
           CAST(len(list_intersect(toks, ['the','and','of','to','in'])) AS INT)
             AS n_stop_kinds,
           CAST(len(list_filter(toks, x -> length(x) > 5)) AS INT) AS n_long,
           array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), '-')
             AS first3
    FROM t
    """,
    tags=("array", "hof"),
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface (§2.8 array family,
    extended): distinct, intersect, lambda filter, sort, slice, join —
    all JVM-side codegen, no explode and no UDF, so per-row array work
    never leaves Tungsten."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    stop = F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "in")])
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size(F.array_distinct("toks")).cast("int").alias("n_unique"),
        F.size(F.array_intersect("toks", stop)).cast("int").alias("n_stop_kinds"),
        F.size(F.filter("toks", lambda x: F.length(x) > 5)).cast("int").alias("n_long"),
        F.array_join(F.slice(F.sort_array(F.array_distinct("toks")), 1, 3), "-").alias(
            "first3"
        ),
    )


@register(
    "decimal_exact_sums",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS exact_total,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS exact_qty,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("decimal", "agg"),
)
def q_decimal_exact_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation — no FP rounding anywhere: sums run
    in fixed-point and the result compares as a STRING, so the match
    is exact to the last cent regardless of accumulation order. (The
    float queries need round(); decimal is how a money pipeline
    avoids needing it.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("exact_total"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("string").alias("exact_qty"),
        F.count("*").alias("n"),
    )


@register(
    "events_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS next_orderkey,
           strftime(o.o_orderdate + INTERVAL 25 YEAR, '%Y-%m-%d') AS next_date
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id
     AND o.o_orderdate + INTERVAL 25 YEAR >= e.ts
     AND o.o_orderdate + INTERVAL 25 YEAR <= e.ts + INTERVAL 90 DAY
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate ASC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
    tags=("events", "asof", "forward"),
)
def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (pandas merge_asof parity): each
    event matched to the user's NEXT order within 90 days, or NULLs.
    Same one-shuffle union-trick plan as the backward direction — the
    stream just sorts time-descending; the tolerance is a free
    post-window predicate (operators/asof.py)."""
    from ...operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderdate") + F.expr("INTERVAL 25 YEARS")).alias("o_ts"),
        "o_orderkey",
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_ts",
        right_cols=("o_orderkey", "o_ts"),
        tie_break="o_orderkey",
        direction="forward",
        tolerance_seconds=90 * 24 * 3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("next_orderkey"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("next_date"),
    )


@register(
    "interval_merge_coverage",
    oracle="""
    WITH iv AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS e
      FROM orders),
    flagged AS (
      SELECT o_custkey, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY o_custkey ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e) OVER (
                    PARTITION BY o_custkey ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS new_iv
      FROM iv),
    islands AS (
      SELECT o_custkey, s, e,
             sum(new_iv) OVER (
               PARTITION BY o_custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged),
    merged AS (
      SELECT o_custkey, island, min(s) AS ms, max(e) AS me
      FROM islands GROUP BY o_custkey, island)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(date_diff('day', ms, me)) AS BIGINT) AS covered_days
    FROM merged GROUP BY o_custkey
    """,
    tags=("window", "intervals"),
)
def q_interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (temporal coverage): each order opens
    a 30-day window; per customer, merge overlaps and report merged
    interval count + total covered days. The islands idiom with a
    RUNNING MAX of interval ends (plain lag is wrong when an earlier
    interval outlasts a later one) — one shuffle on the customer key,
    two window passes over it."""
    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    w = Window.partitionBy("o_custkey").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_iv",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_iv").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = islands.groupBy("o_custkey", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum(F.datediff("me", "ms")).cast("bigint").alias("covered_days"),
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    GROUP BY n_name
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: local-supplier volume — the 6-table join with the
    EXTRA non-key predicate c_nationkey = s_nationkey riding the
    supplier join (the part that breaks naive join reordering).
    Region/nation broadcast; the fact-side joins hash on the keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & F.col("o_orderdate")
            .cast("date")
            .between(F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — every predicate pushes
    to the parquet reader, the whole query is one codegen span with a
    scalar result. The canonical 'is pushdown working' probe."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return li.filter(
        (d >= F.lit("1995-01-01").cast("date"))
        & (d < F.lit("1996-01-01").cast("date"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "tpch_q10_returned",
    oracle="""
    SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(max(c_acctbal), 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def q_tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item reporting — join chain, grouped
    revenue, deterministic top-20 (TakeOrderedAndProject, no global
    sort materialization)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .filter(
            (F.col("l_returnflag") == "R")
            & F.col("o_orderdate")
            .cast("date")
            .between(F.lit("1995-01-01").cast("date"), F.lit("1995-12-31").cast("date"))
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14_promo",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount) END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-09-01' AND DATE '1995-09-30'
    """,
    tags=("tpch", "conditional"),
)
def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share — conditional aggregation
    ratio in one pass over the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev)
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(
            F.col("l_shipdate")
            .cast("date")
            .between(F.lit("1995-09-01").cast("date"), F.lit("1995-09-30").cast("date"))
        )
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    GROUP BY n1.n_name, n2.n_name, 3
    """,
    tags=("tpch", "join", "self-join"),
)
def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipping — the nation DIMENSION joins twice
    under different roles (supplier's vs customer's nation) with a
    symmetric pair predicate. Both roles broadcast; the disjunctive
    pair filter evaluates post-join, codegen-side."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(
            pair
            & F.col("l_shipdate")
            .cast("date")
            .between(F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("l_year"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "disjunctive"),
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-arm predicate spanning BOTH
    join sides — the optimizer must still push the single-side
    implications (p_brand ∈ {...}, p_size ≤ 35, l_quantity ≤ 30) below
    the join even though the full OR can only evaluate above it."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(p, p["p_partkey"] == li["l_partkey"])
        .filter(arm("Brand#12", 15, 1, 11) | arm("Brand#23", 25, 10, 20) | arm("Brand#34", 35, 20, 30))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
           round(o_totalprice, 2) AS total,
           sum(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 210)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY total DESC, o_orderkey LIMIT 50
    """,
    tags=("tpch", "having", "semijoin"),
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders — grouped HAVING produces the
    qualifying key set, which semi-joins back to the detail before the
    reporting join/aggregate. The IN-subquery becomes a left_semi hash
    join on the order key; the qualifying set is small, so AQE
    broadcasts it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 210)
        .select("l_orderkey")
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("total"),
            "sum_qty",
        )
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: shipping priority — asymmetric date predicates on the
    two fact tables (ordered before the cutoff, shipped after it), both
    pushed below the join; top-10 revenue via TakeOrderedAndProject.
    (o_shippriority doesn't exist in this schema; o_orderpriority
    stands in as the carried-through reporting column.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1996-03-15").cast("date")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o.filter(F.col("o_orderdate").cast("date") < cutoff), c["c_custkey"] == o["o_custkey"])
        .join(li.filter(F.col("l_shipdate").cast("date") > cutoff), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    ) t
    GROUP BY o_year
    """,
    tags=("tpch", "join", "conditional"),
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — the deepest join tree in the
    suite (8 relations, nation twice under different roles), reduced to
    a conditional-aggregate ratio per year. Dimensions broadcast; the
    customer-side nation restricts via region while the supplier-side
    nation feeds the numerator predicate."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    r = _t(spark, sf_dir, "region")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        p.filter(F.col("p_type") == "STANDARD")
        .join(li, p["p_partkey"] == li["l_partkey"])
        .join(s, s["s_suppkey"] == li["l_suppkey"])
        .join(
            o.filter(
                F.col("o_orderdate")
                .cast("date")
                .between(F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n1_rkey") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .groupBy(F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.1 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) t
    GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year. This
    schema has no partsupp/ps_supplycost, so cost is the deterministic
    stand-in 0.1 * p_retailprice * l_quantity — preserving the shape
    (substring LIKE on part, 5-way join, two-level rollup key) without
    the missing table. The '%red%' contains-filter cannot push to the
    scan as a range, but column pruning still holds the scan to 3
    part columns."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        p.filter(F.col("p_name").like("%red%"))
        .join(li, p["p_partkey"] == li["l_partkey"])
        .join(s, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@register(
    "tpch_q12_ship_latency",
    oracle="""
    SELECT ship_bucket,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) > 60
                  THEN 'SLOW' ELSE 'FAST' END AS ship_bucket
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE CAST(l_shipdate AS DATE)
            BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
    ) t
    GROUP BY ship_bucket
    """,
    tags=("tpch", "conditional"),
)
def q_tpch_q12_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix by shipping mode. l_shipmode does
    not exist here, so the mode is a derived latency bucket
    (order→ship gap over/under 60 days) — same structure: join, CASE
    bucketing, two complementary conditional counts per bucket."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 60,
        "SLOW",
    ).otherwise("FAST")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(
            F.col("l_shipdate")
            .cast("date")
            .between(F.lit("1996-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
        )
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "agg"),
)
def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution — LEFT OUTER join
    with a predicate INSIDE the join condition (customers keep a row
    even when every order is filtered away; count(o_orderkey) then
    counts only non-null matches), followed by a second aggregation
    over the first's result. Two shuffles, both on keys we chose."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").cast("bigint").alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE)
            BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier — a derived revenue relation consumed
    twice (once as the join input, once reduced to its max). The
    derived table is tiny (|suppliers| rows), so the scalar max arrives
    via broadcast and the re-derivation is a cheap re-aggregation of
    the same shuffle output, not a second lineitem pass."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            F.col("l_shipdate")
            .cast("date")
            .between(F.lit("1996-01-01").cast("date"), F.lit("1996-03-31").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        s.join(revenue, s["s_suppkey"] == revenue["supplier_no"])
        .join(F.broadcast(best), F.col("total_revenue") == F.col("best_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "distinct", "antijoin"),
)
def q_tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier diversity per (brand, type, size) —
    negated predicates, a NOT-IN exclusion list (negative-balance
    suppliers stand in for the missing complaint-comment filter; the
    key side is null-free so NOT IN ≡ anti-join), and COUNT(DISTINCT)
    over the surviving pairs. partsupp doesn't exist; lineitem is the
    part↔supplier incidence relation."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        p.filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").like("PROMO%")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .join(li, p["p_partkey"] == li["l_partkey"])
        .join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("bigint").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue — a correlated scalar
    subquery (per-part average quantity) decorrelated into a grouped
    aggregate joined back to the detail. The per-part averages relation
    has |parts| rows → broadcast; quantities are integral doubles so
    the 0.2*avg threshold compares identically across engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((0.2 * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        li.join(
            p.filter((F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")),
            p["p_partkey"] == li["l_partkey"],
        )
        .join(F.broadcast(avg_qty), F.col("ap_partkey") == li["l_partkey"])
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


@register(
    "tpch_q20_part_promotion",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             sum(l_quantity) AS total_qty,
             sum(CASE WHEN CAST(l_shipdate AS DATE)
                           BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
                      THEN l_quantity ELSE 0 END) AS qty_win
      FROM lineitem GROUP BY l_suppkey, l_partkey)
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%' AND qty_win > 0.5 * total_qty)
    ORDER BY s_name
    """,
    tags=("tpch", "semijoin", "subquery"),
)
def q_tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with promotable red-part stock. No
    partsupp/ps_availqty here, so the availability predicate becomes
    'shipped more than half their all-time quantity of that part in
    January 1995' — same nested structure: grouped quantity rollup → prefix
    LIKE part filter → IN-list semi-join up to the supplier dimension.
    Quantities are integral, so the half-threshold compare is exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    in_win = (
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1995-01-01").cast("date"), F.lit("1995-01-31").cast("date"))
    )
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("total_qty"),
        F.sum(F.when(in_win, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("qty_win"),
    )
    promotable = (
        shipped.join(
            F.broadcast(p.filter(F.col("p_name").like("red%")).select("p_partkey")),
            shipped["l_partkey"] == F.col("p_partkey"),
        )
        .filter(F.col("qty_win") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(promotable, s["s_suppkey"] == promotable["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders    ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
    tags=("tpch", "exists", "antijoin"),
)
def q_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame supplier — the suite's hardest
    correlation pattern: one EXISTS and one NOT EXISTS against the same
    fact table, each correlated on the order key with a supplier
    INEQUALITY rider. No receipt/commit dates in this schema, so
    l_returnflag='R' marks the 'late' line. Both subqueries become hash
    semi/anti joins on l_orderkey; the <> rider rides the join
    condition, not a post-filter, so no row explosion."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_returnflag")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    return (
        l1.filter(F.col("l_returnflag") == "R")
        .join(
            l2,
            (l1["l_orderkey"] == F.col("l2_orderkey"))
            & (l1["l_suppkey"] != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (l1["l_orderkey"] == F.col("l3_orderkey"))
            & (l1["l_suppkey"] != F.col("l3_suppkey")),
            "left_anti",
        )
        .join(o.filter(F.col("o_orderstatus") == "F"), l1["l_orderkey"] == o["o_orderkey"])
        .join(s, s["s_suppkey"] == l1["l_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "tpch_q22_dormant_balance",
    oracle="""
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0
                           AND c_nationkey % 10 IN (1, 2, 3, 4, 5))
    ) t
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY cntrycode
    """,
    tags=("tpch", "antijoin", "subquery"),
)
def q_tpch_q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance dormant customers. No c_phone in
    this schema, so the country code derives from c_nationkey % 10;
    every customer has SOME order in this dataset, so dormancy means
    'no order since 2000-01-01'. Structure preserved: uncorrelated
    scalar average (broadcast), derived-code IN filter, NOT EXISTS →
    anti-join against a date-filtered orders scan, grouped rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    code = (F.col("c_nationkey") % 10).alias("cntrycode")
    eligible = c.filter((F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5))
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = o.filter(F.col("o_orderdate").cast("date") >= F.lit("2000-01-01").cast("date"))
    return (
        eligible.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, eligible["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(code)
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "char_entropy_quality",
    oracle="""
    WITH chars AS (
      SELECT doc_id, source, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, unnest(generate_series(1, length(text))) AS t(i)
    ), pc AS (
      SELECT doc_id, source, ch, count(*) AS c FROM chars GROUP BY 1, 2, 3
    ), ent AS (
      SELECT doc_id, source,
             log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
      FROM pc GROUP BY 1, 2
    )
    SELECT source,
           round(avg(h), 5) AS avg_entropy,
           round(min(h), 5) AS min_entropy,
           round(max(h), 5) AS max_entropy,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM ent GROUP BY source
    """,
    tags=("text", "curation", "documents"),
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, summarized per
    source — the curation signal that separates natural text from
    boilerplate/garbage (low entropy = repeated filler, high = random
    bytes). Single-pass identity H = log2(n) − Σc·log2(c)/n over
    per-(doc, char) counts, so no per-char probability join is needed.

    Scale: the char explode is |total_chars| rows, but the first
    groupBy partial-aggregates map-side down to ≤|alphabet| rows per
    doc per task before any shuffle; the per-doc and per-source
    reductions ride two more tiny exchanges. At 100 TB this is the
    same shape as token counting: shuffle bytes ∝ docs × alphabet,
    not corpus size."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        "source",
        "text",
        F.explode(seq1(F.length("text"))).alias("i"),
    ).select("doc_id", "source", F.expr("substring(text, i, 1)").alias("ch"))
    pc = chars.groupBy("doc_id", "source", "ch").agg(F.count("*").alias("c"))
    ent = pc.groupBy("doc_id", "source").agg(
        (
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
        ).alias("h")
    )
    return ent.groupBy("source").agg(
        F.round(F.avg("h"), 5).alias("avg_entropy"),
        F.round(F.min("h"), 5).alias("min_entropy"),
        F.round(F.max("h"), 5).alias("max_entropy"),
        F.count("*").cast("bigint").alias("n_docs"),
    )


@register(
    "pareto_skyline",
    oracle="""
    WITH pts AS (
      SELECT p_retailprice, p_size, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT p_retailprice, p_size, n_parts FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
    tags=("skyline", "window"),
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (minimize price, maximize size): parts no
    other part beats on both axes. The oracle is the O(n²) NOT-EXISTS
    self-join definition; the Spark plan is the O(n log n) sweep — sort
    by (price asc, size desc), a point survives iff its size strictly
    exceeds the running max over all preceding (= no cheaper-or-equal
    point with ≥ size dominates it; exact-duplicate points were already
    merged by the distinct groupBy).

    Scale: a global-order window would single-partition, so stage 1
    runs the same sweep per input partition (local skylines — a sound
    prefilter, since global skyline ⊆ every superset's skyline) and
    only the few local survivors reach the global sweep. This is the
    standard distributed-skyline recipe and survives 100× data: the
    global pass sees |partitions| × |skyline|-ish rows, not |input|."""
    from ...operators.stats import pareto_skyline_2d

    p = _t(spark, sf_dir, "part")
    pts = p.groupBy("p_retailprice", "p_size").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    return pareto_skyline_2d(pts, "p_retailprice", "p_size").select(
        "p_retailprice", "p_size", "n_parts"
    )


@register(
    "welch_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type, avg(value) AS m, var_samp(value) AS v,
             count(*) AS n
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    )
    SELECT round(a.m - b.m, 6) AS mean_diff,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
           round(pow(a.v / a.n + b.v / b.n, 2)
                 / (pow(a.v / a.n, 2) / (a.n - 1)
                    + pow(b.v / b.n, 2) / (b.n - 1)), 4) AS dof,
           CAST(a.n AS BIGINT) AS n_click,
           CAST(b.n AS BIGINT) AS n_purchase
    FROM g a, g b
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
    tags=("stats", "events"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event cohorts
    (A/B-test primitive): per-group moments in one distributed hash
    aggregate, then the t statistic and Welch–Satterthwaite degrees of
    freedom as driver-light scalar arithmetic over two 1-row sides
    (broadcast cross join — no data movement). The whole test costs
    one scan + one 2-row shuffle at any scale."""
    e = _t(spark, sf_dir, "events")
    g = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
            F.count("*").alias("n"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("m").alias("ma"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = g.filter(F.col("event_type") == "purchase").select(
        F.col("m").alias("mb"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    j = a.crossJoin(F.broadcast(b))
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    return j.select(
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb), 6).alias("t_stat"),
        F.round(
            F.pow(sea + seb, F.lit(2))
            / (
                F.pow(sea, F.lit(2)) / (F.col("na") - 1)
                + F.pow(seb, F.lit(2)) / (F.col("nb") - 1)
            ),
            4,
        ).alias("dof"),
        F.col("na").cast("bigint").alias("n_click"),
        F.col("nb").cast("bigint").alias("n_purchase"),
    )


@register(
    "regr_diagnostics",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
           round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
           round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("stats", "agg"),
)
def q_regr_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full linear-regression aggregate family (slope, intercept, R²,
    pair count, axis means) per return flag — the same moment-sketch
    machinery as `ndvi_trend`'s regr_slope, exercised as a complete
    diagnostics panel. Single-pass partial/final aggregates: shuffle
    rows = |groups| regardless of input size."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
        F.expr("regr_count(l_extendedprice, l_quantity)").cast("bigint").alias(
            "n_pairs"
        ),
        F.round(F.expr("regr_avgx(l_extendedprice, l_quantity)"), 4).alias("avg_qty"),
        F.round(F.expr("regr_avgy(l_extendedprice, l_quantity)"), 4).alias(
            "avg_price"
        ),
    )


@register(
    "touch_attribution",
    oracle="""
    SELECT user_id,
           arg_min(event_type, ts) AS first_touch,
           arg_max(event_type, ts) AS last_touch,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END), 4) AS purchase_value
    FROM events GROUP BY user_id
    """,
    tags=("events", "agg"),
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution per user: min_by/max_by pick the
    earliest and latest event type in ONE aggregate — no window, no
    per-user history shuffle (the win over the row_number formulation
    at scale: arg-extremes are associative partial aggs). Honest plan
    note (round-9 audit): a min_by carrying a STRING value is not
    hash-aggregable (immutable UnsafeRow buffer), so this plans as
    SortAggregate — a per-task sort of narrow (user, type, ts) rows
    with map-side combine, bounded and shuffle-free; eliminating it
    would need an event-type dictionary join, which costs more than
    the sort saves.
    (user_id, ts) is unique in this feed, so the arg picks are
    deterministic; a production feed would tie-break on event_id."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_touch"),
        F.max_by("event_type", "ts").alias("last_touch"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.count("*").cast("bigint").alias("n_events"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            ),
            4,
        ).alias("purchase_value"),
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
           CAST(count(*) FILTER (WHERE CAST(props->>'$.k' AS INT) > 50)
                AS BIGINT) AS n_big,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    tags=("events", "json", "variant"),
)
def q_events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the open VARIANT type (Spark 4):
    `parse_json` shreds the props document once into Variant's binary
    encoding, and `variant_get` does typed path extraction JVM-side —
    no regexp, no full-schema `from_json`, and unknown/extra keys ride
    along untyped. This is the engine's STAC-properties idiom
    (SURVEY §1.1: properties MAP / assets STRUCT) done the modern way:
    at 100 TB the win over from_json is that shredding happens once
    per row regardless of how many paths are later extracted, and
    paths prune like columns."""
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count_if(k > 50).cast("bigint").alias("n_big"),
        F.count("*").alias("n"),
    )


@register(
    "doc_chunking_udtf",
    oracle="""
    WITH d AS (
      SELECT source,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tok
      FROM documents),
    c AS (
      SELECT source, n_tok,
             CASE WHEN n_tok <= 64 THEN 1
                  ELSE CAST(ceil((n_tok - 64) / 48.0) AS INT) + 1 END AS n_chunks
      FROM d),
    ch AS (
      SELECT source, least(64, n_tok - i * 48) AS chunk_len
      FROM c CROSS JOIN (SELECT unnest(generate_series(0, 200)) AS i) g
      WHERE i < n_chunks)
    SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
           round(avg(chunk_len), 4) AS mean_chunk_len
    FROM ch GROUP BY source
    """,
    tags=("curation", "text", "udtf"),
)
def q_doc_chunking_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc_chunking inventory re-expressed through a Python table
    function (Spark 4 UDTF, arrow-optimized): `LATERAL chunk_spans(...)`
    plans as ArrowEvalPythonUDTF — the generator runs batch-vectorized
    next to the scan, no shuffle added, and the same DuckDB oracle as
    the pure-column formulation must hash-match. Two implementations ×
    one oracle = the representation-duality discipline applied to the
    UDTF surface."""
    from ...functions.udtfs import register_udtfs

    register_udtfs(spark)
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
        )
    )
    d.select("source", n_tok.alias("n_tok")).createOrReplaceTempView(
        "_doc_tok_counts"
    )
    return spark.sql(
        """
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_chunks,
               round(avg(c.chunk_len), 4) AS mean_chunk_len
        FROM _doc_tok_counts d, LATERAL chunk_spans(d.n_tok, 64, 48) c
        GROUP BY d.source
        """
    )


@register(
    "warc_records_udtf",
    oracle="""
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
                AS INT) AS record_idx,
           'resource' AS warc_type,
           'urn:doc:' || CAST(doc_id AS VARCHAR) AS target_uri,
           CAST(strlen(text) AS BIGINT) AS content_length,
           substr(text, 1, 16) AS payload_prefix
    FROM documents
    """,
    tags=("webarchive", "udtf", "source"),
)
def q_warc_records_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record expansion through the Spark-4 UDTF surface
    (functions/udtfs.py::WarcRecords — `LATERAL warc_records(bytes)`),
    reusing doc_chunking_udtf's pattern on the web-archive parser
    (sources/webarchive.py::parse_warc_bytes). The plan round-trips
    the documents table: docs are framed as spec-conformant WARC/1.1
    resource records IN-PLAN (native string ops, Content-Length =
    octet length), concatenated per source, then the UDTF expands the
    blob back to records — so record order, header fields, and exact
    payload framing are all oracle-checked against a direct relational
    derivation (parse∘build = id). ArrowEvalPythonUDTF node, payload
    stays BINARY until the final prefix projection."""
    from ...functions.udtfs import register_udtfs

    register_udtfs(spark)
    d = _t(spark, sf_dir, "documents")
    rec = F.concat(
        F.lit("WARC/1.1\r\nWARC-Type: resource\r\nWARC-Target-URI: urn:doc:"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    )
    blobs = (
        d.select("source", F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "source",
            F.encode(
                F.concat_ws("", F.transform("ss", lambda s: s["rec"])), "UTF-8"
            ).alias("content"),
        )
    )
    blobs.createOrReplaceTempView("_warc_blobs")
    return spark.sql(
        """
        SELECT b.source, r.record_idx, r.warc_type, r.target_uri,
               r.content_length,
               substring(decode(r.payload, 'UTF-8'), 1, 16) AS payload_prefix
        FROM _warc_blobs b, LATERAL warc_records(b.content, b.source) r
        """
    )


@register(
    "ordered_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
               AS statuses,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "string"),
)
def q_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG (SQL:2023) with WITHIN GROUP ordering — the ordered
    string aggregation every report/export path needs. The explicit
    ORDER BY is what makes the result well-defined in a distributed
    engine: without it, concatenation order is partitioning-dependent
    in both Spark and DuckDB. Complements array_agg_sorted (array
    form) with the delimited-string form."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_osa_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, '|')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM _osa_orders GROUP BY o_orderpriority
        """
    )


@register(
    "ansi_safe_math",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount = 0) AS BIGINT)
               AS n_div_by_zero,
           round(avg(l_extendedprice
                     / nullif(CASE WHEN l_discount = 0 THEN 0
                                   ELSE l_quantity END, 0)), 4)
               AS avg_safe_ratio,
           CAST(count(*) AS BIGINT) AS n_overflow_null,
           CAST(count(*) AS BIGINT) AS n_oob_null
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("scalar", "ansi"),
)
def q_ansi_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe expression family (ANSI-mode companion
    surface): try_divide → NULL on zero denominator, try_add → NULL on
    bigint overflow, try_element_at → NULL out of bounds — errors
    become data, the E1/E4 quarantine philosophy (SURVEY §2.10) at
    expression granularity, so one poisoned row can NEVER kill a
    100 TB job. The oracle encodes the identical semantics with
    NULLIF/CASE, pinning that try_* is sugar for well-defined NULL
    algebra, not engine-specific behavior."""
    li = _t(spark, sf_dir, "lineitem")
    safe_ratio = F.try_divide(
        F.col("l_extendedprice"),
        F.when(F.col("l_discount") == 0, F.lit(0.0)).otherwise(F.col("l_quantity")),
    )
    overflowed = F.try_add(
        F.lit(9223372036854775807).cast("bigint"),
        F.col("l_linenumber").cast("bigint"),  # ≥ 1 ⇒ always overflows
    )
    oob = F.try_element_at(F.split("l_linestatus", ""), F.lit(5))
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_if(safe_ratio.isNull()).cast("bigint").alias("n_div_by_zero"),
        F.round(F.avg(safe_ratio), 4).alias("avg_safe_ratio"),
        F.count_if(overflowed.isNull()).cast("bigint").alias("n_overflow_null"),
        F.count_if(oob.isNull()).cast("bigint").alias("n_oob_null"),
    )


@register(
    "recursive_org_depth",
    oracle="""
    WITH RECURSIVE org AS (
      SELECT c_custkey AS id, 0 AS depth FROM customer WHERE c_custkey = 1
      UNION ALL
      SELECT c.c_custkey, o.depth + 1
      FROM customer c
      JOIN org o ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = o.id
      WHERE c.c_custkey > 1
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_customers
    FROM org GROUP BY depth
    """,
    tags=("recursive", "hierarchy"),
)
def q_recursive_org_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native recursive CTE (new in Spark 4): BFS depth over an
    implicit binary hierarchy (parent = ⌊key/2⌋) — the org-chart /
    bill-of-materials traversal shape. The IDENTICAL SQL text runs on
    both engines; Catalyst executes it as an iterative union loop, so
    each level is one distributed join against the previous frontier —
    the same plan the hand-rolled iterative operators
    (operators/graph.py, dedup_components) build manually, now
    optimizer-managed. Depth is bounded by log2(|customer|), well
    under the engine's recursion limit."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE org AS (
          SELECT c_custkey AS id, 0 AS depth FROM customer WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey, o.depth + 1
          FROM customer c
          JOIN org o ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = o.id
          WHERE c.c_custkey > 1
        )
        SELECT depth, CAST(count(*) AS BIGINT) AS n_customers
        FROM org GROUP BY depth
        """
    )


@register(
    "weighted_sample_es",
    oracle="""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                 + 1) / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT lang, doc_id, n_chars, round(k, 6) AS sample_key
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
                AS rn
      FROM keyed
    ) WHERE rn <= 5
    """,
    tags=("curation", "sampling"),
)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    per-item key ln(u)/w with u derived bit-exactly from md5(doc_id)
    and w = n_chars; the top-k keys per stratum ARE a weighted sample
    — longer documents proportionally likelier, yet fully
    deterministic and engine-independent (the property that makes
    corpus mixing reproducible across reruns AND across engines; same
    discipline as hash_split/stratified_sample). One scan + one
    per-stratum top-k: at 100 TB this is a map-side key computation
    and a k-row-per-group shuffle, no global sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1
    ) / F.lit(4294967296.0)
    keyed = d.select(
        "lang", "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    w = Window.partitionBy("lang").orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "n_chars", F.round("k", 6).alias("sample_key"))
    )


@register(
    "dq_expectations",
    oracle="""
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE NOT coalesce(l_orderkey IS NOT NULL
                AND l_partkey IS NOT NULL, FALSE)) AS BIGINT) AS keys_not_null,
             CAST(count(*) FILTER (WHERE NOT coalesce(l_quantity > 0
                AND l_quantity <= 100, FALSE)) AS BIGINT) AS qty_in_range,
             CAST(count(*) FILTER (WHERE NOT coalesce(l_discount >= 0
                AND l_discount <= 0.1, FALSE)) AS BIGINT) AS discount_band,
             CAST(count(*) FILTER (WHERE NOT coalesce(l_returnflag IN
                ('A', 'N', 'R'), FALSE)) AS BIGINT) AS flag_domain,
             CAST(count(*) FILTER (WHERE NOT coalesce(l_extendedprice
                > l_quantity, FALSE)) AS BIGINT) AS price_exceeds_qty
      FROM lineitem
    )
    SELECT expectation, n_rows, n_violations,
           round(n_violations / n_rows, 6) AS violation_rate,
           n_violations = 0 AS passed
    FROM (
      SELECT n_rows, 'keys_not_null' AS expectation,
             keys_not_null AS n_violations FROM agg
      UNION ALL SELECT n_rows, 'qty_in_range', qty_in_range FROM agg
      UNION ALL SELECT n_rows, 'discount_band', discount_band FROM agg
      UNION ALL SELECT n_rows, 'flag_domain', flag_domain FROM agg
      UNION ALL SELECT n_rows, 'price_exceeds_qty', price_exceeds_qty FROM agg
    )
    """,
    tags=("curation", "quality"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (operators/curation.py::expect):
    five predicates over lineitem checked in ONE scan — nullability,
    range, domain, and cross-column rules — emitted as violation-count
    rows with pass flags. NULL predicate = violation (strict
    three-valued reading)."""
    li = _t(spark, sf_dir, "lineitem")
    return CUR.expect(
        li,
        {
            "keys_not_null": F.col("l_orderkey").isNotNull()
            & F.col("l_partkey").isNotNull(),
            "qty_in_range": (F.col("l_quantity") > 0)
            & (F.col("l_quantity") <= 100),
            "discount_band": (F.col("l_discount") >= 0)
            & (F.col("l_discount") <= 0.1),
            "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "price_exceeds_qty": F.col("l_extendedprice") > F.col("l_quantity"),
        },
    )


@register(
    "approx_distinct_bands",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_5pct,
           TRUE AS p50_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def q_approx_distinct_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate tier made oracle-checkable: the sketches
    themselves differ across engines (approx_distinct_stats stays
    rows-only for that reason), but their ERROR BANDS are a contract —
    this query emits booleans asserting HLL++ (rsd 2%) lands within 5%
    of the exact distinct count and approx_percentile within 5% of the
    exact p50, and the oracle pins them to TRUE. A sketch regression
    (engine upgrade, accuracy change) now fails the hash-match gate,
    not just a unit test."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
        F.percentile_approx("value", 0.5, 10000).alias("ap50"),
        F.expr("percentile(value, 0.5)").alias("ep50"),
    )
    return g.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("hll") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("hll_within_5pct"),
        (F.abs(F.col("ap50") - F.col("ep50")) / F.abs(F.col("ep50")) <= 0.05).alias(
            "p50_within_5pct"
        ),
    )


@register(
    "ndvi_focal_smooth",
    oracle=_NDVI_SQL
    + """
    , valid AS (SELECT scene_id, y, x, CAST(ndvi AS REAL) AS ndvi
                FROM nv WHERE ndvi IS NOT NULL),
    sm AS (
      SELECT v.scene_id, v.y + dy.d AS y, v.x + dx.d AS x,
             CAST(avg(v.ndvi) AS REAL) AS smooth
      FROM valid v
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
      GROUP BY 1, 2, 3
    )
    SELECT scene_id, CAST(count(*) AS BIGINT) AS n_pixels,
           round(avg(smooth), 6) AS mean_smooth
    FROM sm WHERE y >= 0 AND x >= 0
    GROUP BY scene_id
    """,
    tags=("ndvi", "raster", "focal"),
)
def q_ndvi_focal_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 NaN-aware focal smoothing through the halo-exchange focal
    operator (operators/focal.py): NDVI tiles exchange 1-px halos,
    each tile nanmeans its padded canvas, and the smoothed scene is
    summarized. The oracle states the identical semantics relationally
    — every valid pixel scatters into its 9 window-centers and each
    center averages its contributions (the scatter/gather dual of the
    window view, NaN-shrinking at borders included).

    The anchor union pins every (band, tile) of the 100×100 derived
    grid into existence with nodata cells (dn=0 → NaN), so the tile
    grid is dense and the focal output domain — every cell with ≥1
    valid neighbor — matches the oracle's dilation exactly even on a
    sparse scene."""
    from ...operators.focal import focal_map_tiled, focal_mean_3x3
    from ...operators.raster import tiles_to_pixels

    smooth = focal_map_tiled(
        _anchored_ndvi_tiles(spark, sf_dir), focal_mean_3x3, halo=1
    )
    return (
        tiles_to_pixels(smooth, value_name="smooth")
        .groupBy("scene_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pixels"),
            F.round(F.avg("smooth"), 6).alias("mean_smooth"),
        )
    )


@register(
    "ndvi_edge_stats",
    oracle=_NDVI_SQL
    + """
    , valid AS (SELECT scene_id, y, x, CAST(ndvi AS REAL) AS ndvi
                FROM nv WHERE ndvi IS NOT NULL),
    offs AS (
      SELECT dy.d AS dy, dx.d AS dx,
             -dx.d * (2 - abs(dy.d)) AS wx,
             -dy.d * (2 - abs(dx.d)) AS wy
      FROM (SELECT unnest([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
      WHERE NOT (dy.d = 0 AND dx.d = 0)
    ),
    grad AS (
      SELECT v.scene_id, v.y + o.dy AS y, v.x + o.dx AS x,
             sum(v.ndvi * o.wx) AS gx, sum(v.ndvi * o.wy) AS gy,
             count(*) AS n_ring
      FROM valid v CROSS JOIN offs o
      GROUP BY 1, 2, 3
    )
    SELECT scene_id,
           CAST(count(*) AS BIGINT) AS n_pixels,
           round(avg(CAST(sqrt(gx * gx + gy * gy) AS REAL)), 6)
               AS mean_gradient,
           round(CAST(max(CAST(sqrt(gx * gx + gy * gy) AS REAL)) AS DOUBLE), 6)
               AS max_gradient
    FROM grad WHERE n_ring = 8
    GROUP BY scene_id
    """,
    tags=("ndvi", "raster", "focal"),
)
def q_ndvi_edge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel gradient magnitude over NDVI through the same
    halo-exchange focal operator — the edge-detection / field-boundary
    product. NaN anywhere in the 8-cell ring voids the gradient
    (operators/focal.py::sobel_magnitude), which the oracle states as
    `n_ring = 8`: a center keeps its gradient iff all eight neighbors
    scattered into it. Scatter weights w(−dy,−dx) are the gathered
    Sobel coefficients ox·(2−|oy|) / oy·(2−|ox|). Same dense-grid
    anchor trick as ndvi_focal_smooth."""
    from ...operators.focal import focal_map_tiled, sobel_magnitude
    from ...operators.raster import tiles_to_pixels

    edges = focal_map_tiled(
        _anchored_ndvi_tiles(spark, sf_dir), sobel_magnitude, halo=1
    )
    return (
        tiles_to_pixels(edges, value_name="grad")
        .groupBy("scene_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pixels"),
            F.round(F.avg("grad"), 6).alias("mean_gradient"),
            F.round(F.max("grad"), 6).alias("max_gradient"),
        )
    )


@register(
    "modal_value",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, l_quantity AS modal_qty, CAST(n AS BIGINT) AS n_rows
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_returnflag ORDER BY n DESC, l_quantity ASC) AS rk
      FROM c
    ) WHERE rk = 1
    """,
    tags=("agg", "stats"),
)
def q_modal_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent quantity per return flag with
    an explicit smallest-value tie-break — the native mode() aggregate
    breaks ties arbitrarily in BOTH engines, so a distributed pipeline
    that needs reproducible output must state the tie order. Count
    aggregate first (shuffle = |distinct pairs|), then a 1-row-per-
    group top-k window over the already-tiny counts relation."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("modal_qty"),
            F.col("n").cast("bigint").alias("n_rows"),
        )
    )


@register(
    "multimodal_patch_budget",
    oracle="""
    WITH img AS (
      SELECT source,
             64 + doc_id % 192 AS h,
             64 + (doc_id * 3) % 192 AS w
      FROM documents
    ),
    p AS (
      SELECT source,
             CAST(ceil(h / 16.0) * ceil(w / 16.0) AS BIGINT) AS n_patches
      FROM img
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(n_patches) AS BIGINT) AS total_patches,
           CAST(max(n_patches) AS BIGINT) AS max_patches,
           round(avg(n_patches), 4) AS mean_patches,
           CAST(sum(CAST(floor(8192.0 / (n_patches + 1)) AS BIGINT))
                AS BIGINT) AS ctx8k_capacity
    FROM p GROUP BY source
    """,
    tags=("multimodal", "curation"),
)
def q_multimodal_patch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch budgeting over image metadata — the sequence-length
    planning a multimodal training pipeline runs BEFORE any decode:
    16×16 patch counts per image (dimensions derived deterministically
    from doc_id, standing in for the typed metadata columns of
    operators/multimodal.py::MEDIA_SCHEMA), aggregated into per-source
    token budgets and how many such images fit an 8k context each
    (+1 separator). Pure column arithmetic at scan speed — payload
    bytes are never touched, the property that makes budgeting a
    planning-time pass over a 100 TB media lake."""
    d = _t(spark, sf_dir, "documents")
    h = 64 + F.col("doc_id") % 192
    w = 64 + (F.col("doc_id") * 3) % 192
    n_patches = (F.ceil(h / 16.0) * F.ceil(w / 16.0)).cast("bigint")
    p = d.select("source", n_patches.alias("n_patches"))
    return p.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.sum("n_patches").cast("bigint").alias("total_patches"),
        F.max("n_patches").cast("bigint").alias("max_patches"),
        F.round(F.avg("n_patches"), 4).alias("mean_patches"),
        F.sum(F.floor(8192.0 / (F.col("n_patches") + 1)).cast("bigint"))
        .cast("bigint")
        .alias("ctx8k_capacity"),
    )


@register(
    "timeband_matrix",
    oracle="""
    SELECT b1.n AS morning, b2.n AS midday, b3.n AS evening, b4.n AS night
    FROM (SELECT count(*) AS n FROM events
          WHERE extract(hour FROM ts) BETWEEN 6 AND 11) b1,
         (SELECT count(*) AS n FROM events
          WHERE extract(hour FROM ts) BETWEEN 12 AND 17) b2,
         (SELECT count(*) AS n FROM events
          WHERE extract(hour FROM ts) BETWEEN 18 AND 23) b3,
         (SELECT count(*) AS n FROM events
          WHERE extract(hour FROM ts) BETWEEN 0 AND 5) b4
    """,
    tags=("tpcds", "events"),
)
def q_timeband_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape: N independent band counts cross-joined into
    one wide row. The oracle states it as four subquery scans (the
    spec's formulation); the Spark plan computes all four bands in ONE
    scan with conditional aggregates and a no-op cross join of 1-row
    sides — the rewrite every engine wants for this shape, worth 4× the
    scan I/O at any scale."""
    e = _t(spark, sf_dir, "events")
    hr = F.hour("ts")
    return (
        e.agg(
            F.count_if(hr.between(6, 11)).alias("morning"),
            F.count_if(hr.between(12, 17)).alias("midday"),
            F.count_if(hr.between(18, 23)).alias("evening"),
            F.count_if(hr.between(0, 5)).alias("night"),
        )
    )


@register(
    "order_size_bands",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, count(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CASE WHEN n_lines <= 2 THEN 'small'
                WHEN n_lines <= 4 THEN 'medium'
                ELSE 'large' END AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines_total,
           round(avg(n_lines), 4) AS avg_lines
    FROM sizes GROUP BY 1
    """,
    tags=("tpcds", "agg"),
)
def q_order_size_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q34/Q73 shape: aggregate-then-band — per-order line
    counts banded into a size distribution. Two hash aggregates; the
    second runs over |orders| rows already reduced by the first, and
    the CASE banding is free post-shuffle arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    band = (
        F.when(F.col("n_lines") <= 2, "small")
        .when(F.col("n_lines") <= 4, "medium")
        .otherwise("large")
    )
    return sizes.groupBy(band.alias("band")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("n_lines").cast("bigint").alias("n_lines_total"),
        F.round(F.avg("n_lines"), 4).alias("avg_lines"),
    )


@register(
    "cumulative_channel_compare",
    oracle="""
    WITH v AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (
      SELECT coalesce(v.d, p.d) AS d,
             coalesce(v.n, 0) AS nv, coalesce(p.n, 0) AS np
      FROM v FULL JOIN p ON v.d = p.d
    ),
    c AS (
      SELECT d, sum(nv) OVER (ORDER BY d) AS cum_views,
                sum(np) OVER (ORDER BY d) AS cum_purchases
      FROM j
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(cum_views AS BIGINT) AS cum_views,
           CAST(cum_purchases AS BIGINT) AS cum_purchases
    FROM c WHERE cum_purchases > cum_views
    """,
    tags=("tpcds", "window", "outer"),
)
def q_cumulative_channel_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 shape: two channels' daily series full-outer joined
    on date, cumulative sums over the merged calendar, keep the days
    one channel's running total leads the other. The full-outer +
    coalesce is the load-bearing part — a day missing from one channel
    must still advance the other's cumulative. The global-order window
    runs on |days| rows (post-aggregate), not events; a real deploy
    partitions the window by item/user exactly as Q51 does."""
    e = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date").alias("d")

    def daily(et):
        return (
            e.filter(F.col("event_type") == et)
            .groupBy(d)
            .agg(F.count("*").alias("n"))
        )

    v, p = daily("view"), daily("purchase")
    j = (
        v.withColumnsRenamed({"d": "vd", "n": "nv"})
        .join(
            p.withColumnsRenamed({"d": "pd", "n": "np"}),
            F.col("vd") == F.col("pd"),
            "full_outer",
        )
        .select(
            F.coalesce("vd", "pd").alias("d"),
            F.coalesce("nv", F.lit(0)).alias("nv"),
            F.coalesce("np", F.lit(0)).alias("np"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = j.select(
        "d",
        F.sum("nv").over(w).alias("cum_views"),
        F.sum("np").over(w).alias("cum_purchases"),
    )
    return c.filter(F.col("cum_purchases") > F.col("cum_views")).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cum_views").cast("bigint").alias("cum_views"),
        F.col("cum_purchases").cast("bigint").alias("cum_purchases"),
    )


@register(
    "session_sequence_match",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    seq AS (
      SELECT user_id, session_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS sig
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE regexp_matches(sig, 'v.*p'))
                AS BIGINT) AS n_view_then_purchase,
           CAST(count(*) FILTER (WHERE regexp_matches(sig, '(e)(.*e){2,}'))
                AS BIGINT) AS n_error_heavy
    FROM seq GROUP BY user_id
    """,
    tags=("events", "sequence", "window"),
)
def q_session_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): sessionize,
    collapse each session to an ordered event-initial signature string
    (LISTAGG WITHIN GROUP — deterministic on the unique (ts, event_id)
    key), then count sessions whose signature matches a regex —
    view-before-purchase, and 3+ errors. Encoding order-sensitive
    patterns as strings turns sequence analytics into the engine's
    string machinery: one window pass + one agg, no self-joins per
    pattern step, patterns composable as plain regexes."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("_ssm_events")
    return spark.sql(
        """
        WITH g AS (
          SELECT user_id, event_id, ts, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN unix_micros(ts) - unix_micros(lag(ts) OVER w)
                           > 1800000000 THEN 1 ELSE 0 END AS new_session
          FROM _ssm_events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, event_id, ts, event_type,
                 sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g
        ),
        seq AS (
          SELECT user_id, session_id,
                 listagg(substr(event_type, 1, 1), '')
                   WITHIN GROUP (ORDER BY ts, event_id) AS sig
          FROM s GROUP BY user_id, session_id
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(count_if(sig RLIKE 'v.*p') AS BIGINT)
                 AS n_view_then_purchase,
               CAST(count_if(sig RLIKE '(e)(.*e){2,}') AS BIGINT)
                 AS n_error_heavy
        FROM seq GROUP BY user_id
        """
    )


@register(
    "events_asof_nearest",
    oracle="""
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS nearest_orderkey,
           strftime(o.o_orderdate + INTERVAL 25 YEAR, '%Y-%m-%d')
             AS nearest_date
    FROM events e
    LEFT JOIN orders o ON o.o_custkey = e.user_id
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY abs(epoch_us(o.o_orderdate + INTERVAL 25 YEAR) - epoch_us(e.ts))
                 ASC NULLS LAST,
               CASE WHEN o.o_orderdate + INTERVAL 25 YEAR <= e.ts
                    THEN 0 ELSE 1 END ASC,
               CASE WHEN o.o_orderdate + INTERVAL 25 YEAR <= e.ts
                    THEN -o.o_orderkey ELSE o.o_orderkey END ASC
    ) = 1
    """,
    tags=("events", "asof"),
)
def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of (pandas merge_asof direction='nearest'):
    each event matched to the user's CLOSEST order in time, either
    side, backward preferred on exact-distance ties. Still the
    one-shuffle union-trick plan — backward candidate from the
    preceding window, forward from the following window of the SAME
    sorted stream (operators/asof.py). The oracle is the O(n·m)
    QUALIFY definition with the matching per-side tie-breaks
    (backward keeps max orderkey, forward min)."""
    from ...operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderdate") + F.expr("INTERVAL 25 YEARS")).alias("o_ts"),
        "o_orderkey",
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_ts",
        right_cols=("o_orderkey", "o_ts"),
        tie_break="o_orderkey",
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("nearest_orderkey"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("nearest_date"),
    )


@register(
    "zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents
    ),
    c AS (
      SELECT token, count(*) AS n FROM tok WHERE token <> '' GROUP BY token
    ),
    r AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rk FROM c
    )
    SELECT round(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
           round(regr_r2(ln(n), ln(rk)), 6) AS fit_r2,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(n) AS BIGINT) AS corpus_tokens
    FROM r
    """,
    tags=("text", "stats"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus: rank words by frequency and
    regress ln(count) on ln(rank) — slope near −1 with high R² is the
    signature of natural language, and a corpus that DOESN'T fit is a
    curation red flag (template spam, generated filler). One token
    aggregate (map-side explode), one vocab-sized rank window, one
    moment-sketch regression — the expensive part is the same token
    count word_frequencies already pays; everything after runs on
    |vocab| rows."""
    d = _t(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    c = tokens.groupBy("token").agg(F.count("*").alias("n"))
    r = c.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
    )
    return r.agg(
        F.round(F.expr("regr_slope(ln(n), ln(rk))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(n), ln(rk))"), 6).alias("fit_r2"),
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum("n").cast("bigint").alias("corpus_tokens"),
    )


@register(
    "centroid_classify",
    oracle="""
    WITH dims AS (
      SELECT label, CAST(i AS INT) AS pos, embedding[CAST(i AS INT)]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
    ),
    cent AS (
      SELECT label AS c_label, list(cv ORDER BY pos) AS c
      FROM (SELECT label, pos, avg(v) AS cv FROM dims GROUP BY 1, 2)
      GROUP BY label
    ),
    scored AS (
      SELECT a.vec_id, a.label, b.c_label,
             list_sum(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * b.c[i]))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> b.c[i] * b.c[i])))) AS cos
      FROM embeddings a CROSS JOIN cent b
    ),
    pred AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, c_label ASC) AS rn
      FROM scored
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(*) FILTER (WHERE c_label = label) AS BIGINT) AS n_correct,
           round(count(*) FILTER (WHERE c_label = label)
                 / CAST(count(*) AS DOUBLE), 4) AS accuracy
    FROM pred WHERE rn = 1 GROUP BY label
    """,
    tags=("similarity", "ml"),
)
def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification (Rocchio) — the eval primitive
    for embedding quality: per-label centroids from one per-dimension
    aggregate, every vector assigned to its max-cosine centroid
    (10-row broadcast, corpus scans once, no shuffle on the wide
    side), per-label accuracy out. The per-dim explode shuffles
    |vectors|×64 skinny rows ONCE to build centroids; assignment is
    scan + windowed argmax per vector."""
    from ...operators.similarity import cosine

    e = _t(spark, sf_dir, "embeddings")
    dims = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("c")
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", cosine("embedding", "c").alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_label"))
    pred = scored.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return pred.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.count_if(F.col("c_label") == F.col("label"))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.count_if(F.col("c_label") == F.col("label"))
            / F.count("*").cast("double"),
            4,
        ).alias("accuracy"),
    )


@register(
    "quantized_ann_recall",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(x::DOUBLE
               * (127.0 / list_max(list_transform(embedding,
                                                  y -> abs(y)::DOUBLE))))) AS q
      FROM embeddings
    ),
    exact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_COSINE_SQL} DESC, b.vec_id ASC) AS rk
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < 5 AND b.vec_id >= 5
      ) WHERE rk <= 5
    ),
    quant5 AS (
      SELECT query_id, vec_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY
                   list_sum(list_transform(generate_series(1, 64),
                            i -> a.q[i] * b.q[i]))
                   / (sqrt(list_sum(list_transform(generate_series(1, 64),
                            i -> a.q[i] * a.q[i])))
                    * sqrt(list_sum(list_transform(generate_series(1, 64),
                            i -> b.q[i] * b.q[i])))) DESC,
                   b.vec_id ASC) AS rk
        FROM qv a JOIN qv b ON a.vec_id < 5 AND b.vec_id >= 5
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(count(q.vec_id) AS BIGINT) AS n_overlap,
           round(count(q.vec_id) / 5.0, 2) AS recall_at_5
    FROM exact5 e
    LEFT JOIN quant5 q ON q.query_id = e.query_id AND q.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
    tags=("similarity", "quantization"),
)
def q_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization for ANN — the 4× memory/bandwidth lever
    a 100 TB vector store pulls first: per-vector max-abs scaling to
    [−127, 127], ranking on quantized cosine (scale-invariant, so only
    the rounding matters), recall@5 measured against the exact ranking
    per query. The quantization is plain deterministic arithmetic, so
    BOTH rankings are value-checked cross-engine — not a tolerance
    band. Quantized ties broken by vec_id on both sides. The exact
    baseline comes from the family-shared materialized cache
    (catalog/_cache.py::exact_topk_shared) rather than a per-query
    brute-force recomputation."""
    from ...operators.similarity import cosine
    from ._cache import exact_topk_shared

    e = _t(spark, sf_dir, "embeddings")
    scale = 127.0 / F.array_max(
        F.transform("embedding", lambda y: F.abs(y.cast("double")))
    )
    qv = e.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * scale)).alias(
            "q"
        ),
    )
    exact5 = exact_topk_shared(spark, sf_dir, k=5).select("query_id", "vec_id")
    corpus, queries_ = qv.filter(F.col("vec_id") >= 5), qv.filter(F.col("vec_id") < 5)
    scored = (
        queries_.withColumnsRenamed({"vec_id": "query_id", "q": "qa"})
        .crossJoin(corpus)
        .select("query_id", "vec_id", cosine("qa", "q").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    quant5 = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .select("query_id", F.col("vec_id").alias("q_vec_id"))
    )
    j = exact5.join(
        quant5,
        (quant5.query_id == exact5.query_id)
        & (quant5.q_vec_id == exact5.vec_id),
        "left",
    ).select(exact5.query_id, "q_vec_id")
    return j.groupBy("query_id").agg(
        F.count("q_vec_id").cast("bigint").alias("n_overlap"),
        F.round(F.count("q_vec_id") / 5.0, 2).alias("recall_at_5"),
    )


@register(
    "basket_lift",
    oracle="""
    WITH base AS (
      SELECT DISTINCT l.l_orderkey, p.p_type
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM base),
    tf AS (SELECT p_type, count(*) AS n_t FROM base GROUP BY 1),
    pairs AS (
      SELECT a.p_type AS t1, b.p_type AS t2, count(*) AS n_pair
      FROM base a JOIN base b
        ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      GROUP BY 1, 2
    )
    SELECT t1, t2, CAST(n_pair AS BIGINT) AS n_pair,
           round(n_pair * tot.n / (f1.n_t * CAST(f2.n_t AS DOUBLE)), 4)
             AS lift
    FROM pairs
    JOIN tf f1 ON f1.p_type = pairs.t1
    JOIN tf f2 ON f2.p_type = pairs.t2
    CROSS JOIN tot
    WHERE n_pair >= 20
    ORDER BY lift DESC, t1 ASC, t2 ASC
    LIMIT 15
    """,
    tags=("basket", "join", "agg"),
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: part-type co-occurrence within an
    order, scored by lift = P(a,b)/(P(a)·P(b)) with a min-support
    floor, top-15. The self-join runs on the DISTINCT (order, type)
    relation — deduped FIRST so the pair explosion is bounded by
    types-per-order, not lines-per-order; frequencies and the order
    total are broadcast back onto pairs. The classic co-purchase
    recommendation shape, one of everything: dedup, self-join, three
    joins, global top-k."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    base = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    tot = base.select(F.countDistinct("l_orderkey").alias("n"))
    tf = base.groupBy("p_type").agg(F.count("*").alias("n_t"))
    a = base.withColumnsRenamed({"p_type": "t1"})
    b = base.withColumnsRenamed({"p_type": "t2"})
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 20)
    )
    f1 = F.broadcast(tf.withColumnsRenamed({"p_type": "t1", "n_t": "n_t1"}))
    f2 = F.broadcast(tf.withColumnsRenamed({"p_type": "t2", "n_t": "n_t2"}))
    return (
        pairs.join(f1, "t1")
        .join(f2, "t2")
        .crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(
                F.col("n_pair") * F.col("n")
                / (F.col("n_t1") * F.col("n_t2").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("t1"), F.asc("t2"))
        .limit(15)
    )


@register(
    "profile_columns",
    oracle="""
    WITH long AS (
      SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ),
    stats AS (
      SELECT col, count(*) AS n_rows,
             CAST(count(*) - count(val) AS BIGINT) AS n_null,
             CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
             min(val) AS min_val, max(val) AS max_val
      FROM long GROUP BY col
    ),
    freq AS (
      SELECT col, val, count(*) AS n FROM long
      WHERE val IS NOT NULL GROUP BY 1, 2
    ),
    modal AS (
      SELECT col, val AS top_value, CAST(n AS BIGINT) AS top_count FROM (
        SELECT *, row_number() OVER (
          PARTITION BY col ORDER BY n DESC, val ASC) AS rk
        FROM freq
      ) WHERE rk = 1
    )
    SELECT s.col, s.n_rows, s.n_null, s.n_distinct, s.min_val, s.max_val,
           m.top_value, m.top_count
    FROM stats s JOIN modal m ON m.col = s.col
    """,
    tags=("profiling", "curation"),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler: every column of `orders` rendered to
    its string form and unpivoted via `stack` (single scan — the
    Expand operator emits |cols| rows per input row map-side), then
    per-column row/null/distinct counts, lexicographic min/max of the
    rendering, and the deterministic modal value. The oracle pays six
    UNION ALL scans for the same relation — the engine's Expand is the
    rewrite that makes profiling a 100 TB table cost ONE read.
    Min/max are over the string rendering (documented: a profile of
    the rendered values, type-faithful ordering lives in the typed
    queries)."""
    o = _t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    stack = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    long = o.select(
        F.expr(f"stack({len(cols)}, {stack}) AS (col, val)")
    )
    stats = long.groupBy("col").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("val")).cast("bigint").alias("n_null"),
        F.countDistinct("val").cast("bigint").alias("n_distinct"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    freq = (
        long.filter(F.col("val").isNotNull())
        .groupBy("col", "val")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("col").orderBy(F.desc("n"), F.asc("val"))
    modal = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select(
            "col",
            F.col("val").alias("top_value"),
            F.col("n").cast("bigint").alias("top_count"),
        )
    )
    return stats.join(modal, "col")


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      WITH b AS (
        SELECT vec_id, embedding,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> CASE WHEN embedding[i] >= 0
                              THEN CAST(pow(2, i - 1) AS BIGINT)
                              ELSE 0 END)) AS BIGINT) AS bucket
        FROM embeddings
      )
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round({{cos}}, 6) >= 0.3
    ),
    edges AS (
      SELECT vec_a AS s, vec_b AS d FROM pairs
      UNION ALL SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    scored AS (
      SELECT cc.component, cc.node,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
               AS norm
      FROM cc JOIN embeddings e ON e.vec_id = cc.node
    )
    , ranked AS (
      SELECT component, node, norm,
             row_number() OVER (
               PARTITION BY component ORDER BY norm DESC, node ASC) AS rk,
             count(*) OVER (PARTITION BY component) AS n_members
      FROM scored
    )
    SELECT component,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(node AS BIGINT) AS kept_vec_id,
           round(norm, 6) AS kept_norm
    FROM ranked WHERE rk = 1
    """.replace("{cos}", _COSINE_SQL),
    tags=("dedup", "iterative", "curation"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup POLICY stage: within each near-dup cluster (sign-LSH
    pairs → connected components, same fixpoint as dedup_components),
    keep the best representative — max L2 norm, smallest vec_id on
    ties — the select-the-canonical step a training-data build runs
    after clustering (keep the longest/highest-quality copy, drop the
    rest). argmax-by-(norm, −id) is a single associative aggregate per
    component; no sort, no per-cluster subquery."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = SIM.lsh_near_duplicate_pairs(e, threshold=0.3, n_bits=8).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    cc = DD.connected_components(pairs)
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    scored = cc.join(
        e.select(F.col("vec_id").alias("node"), norm.alias("norm")), "node"
    )
    return scored.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.max_by(
            "node", F.struct(F.col("norm"), (-F.col("node")).cast("double"))
        )
        .cast("bigint")
        .alias("kept_vec_id"),
        F.round(F.max("norm"), 6).alias("kept_norm"),
    )


@register(
    "decayed_engagement",
    oracle="""
    WITH mx AS (SELECT max(ts) AS now FROM events)
    SELECT user_id,
           round(sum(value * exp(-(epoch_us(mx.now) - epoch_us(ts))
                                 / 86400000000.0 / 7.0)), 4) AS decayed_score,
           round(sum(value), 4) AS raw_score,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN mx
    GROUP BY user_id
    """,
    tags=("events", "agg"),
)
def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (7-day e-folding
    time): each event weighted by exp(−age/7d) relative to the
    feed's max timestamp — the recency weighting every ranking /
    retention model wants. 'now' is an aggregate of the data itself
    (broadcast 1-row cross join), so the query is deterministic and
    re-runnable; the decay is plain column math folded into one hash
    aggregate — no window, no sort, shuffle rows = |users|."""
    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("now"))
    age_days = (
        F.unix_micros(F.col("now")) - F.unix_micros(F.col("ts"))
    ) / 86400000000.0
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * F.exp(-age_days / 7.0)), 4).alias(
                "decayed_score"
            ),
            F.round(F.sum("value"), 4).alias("raw_score"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )


@register(
    "pareto_8020",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p_brand, r,
             row_number() OVER w AS rk,
             sum(r) OVER (PARTITION BY p_brand) AS total,
             sum(r) OVER (w ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
      WINDOW w AS (PARTITION BY p_brand ORDER BY r DESC, l_partkey ASC)
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(CASE WHEN cum >= 0.8 * total THEN rk END) AS BIGINT)
             AS parts_to_80pct,
           round(min(CASE WHEN cum >= 0.8 * total THEN rk END)
                 / CAST(count(*) AS DOUBLE), 4) AS concentration
    FROM ranked GROUP BY p_brand
    """,
    tags=("window", "agg"),
)
def q_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 concentration cutoff: per brand, how many top parts
    cover 80% of revenue. Revenue per part (one hash agg), then a
    single window pass computes rank, partition total, and running
    sum together — the cutoff is min(rank where cumulative ≥ 80%),
    an aggregate over the windowed relation, no second scan. Low
    `concentration` = revenue concentrated in few parts."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    ranked = rev.select(
        "p_brand",
        F.row_number().over(w).alias("rk"),
        F.sum("r").over(Window.partitionBy("p_brand")).alias("total"),
        F.sum("r").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    cutoff = F.min(F.when(F.col("cum") >= 0.8 * F.col("total"), F.col("rk")))
    return ranked.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        cutoff.cast("bigint").alias("parts_to_80pct"),
        F.round(cutoff / F.count("*").cast("double"), 4).alias("concentration"),
    )


@register(
    "running_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, count(*) AS n_new FROM first_seen GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(sum(n_new) OVER (ORDER BY d) AS BIGINT) AS cumulative_users
    FROM daily
    """,
    tags=("events", "window"),
)
def q_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve metric. A
    naive COUNT(DISTINCT) OVER (ORDER BY day) needs per-day distinct
    state; the scalable identity is first-seen-day: each user
    contributes once at min(day), so cumulative-distinct = running sum
    of new-user counts. Two tiny hash aggs + a window over |days|
    rows — at 100 TB the heavy relation shuffles once on user_id."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) / CAST((SELECT count(*) FROM d) AS DOUBLE), 4)
             AS share,
           round(log10(1.0 + 1.0 / digit), 4) AS benford_expected
    FROM d GROUP BY digit
    """,
    tags=("stats", "quality"),
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    anomaly/fabrication screen auditors run on financial columns:
    observed leading-digit shares against the log10(1+1/d) law.
    Digit extraction is integer/string column math; the share needs
    the total count, provided by a broadcast scalar aggregate (the
    uncorrelated-subquery idiom), so the whole audit is one scan +
    two 9-row joins."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count("*").alias("n_total"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total").cast("double"), 4).alias("share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4).alias(
                "benford_expected"
            ),
        )
    )


@register(
    "chi_square_independence",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 3 AS seg, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS N,
                   count(DISTINCT event_type) AS nr,
                   count(DISTINCT seg) AS nc FROM c),
    rowm AS (SELECT event_type, sum(n) AS rn FROM c GROUP BY 1),
    colm AS (SELECT seg, sum(n) AS cn FROM c GROUP BY 1)
    SELECT round(sum(pow(c.n - rowm.rn * colm.cn / tot.N, 2)
                     / (rowm.rn * colm.cn / tot.N)), 4) AS chi2,
           CAST((max(tot.nr) - 1) * (max(tot.nc) - 1) AS BIGINT) AS dof,
           CAST(max(tot.N) AS BIGINT) AS n_obs
    FROM c
    JOIN rowm USING (event_type)
    JOIN colm USING (seg)
    CROSS JOIN tot
    """,
    tags=("stats", "events"),
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and a
    derived user segment: contingency counts (ONE shuffle on the
    cell key), marginals re-aggregated from the tiny cell relation
    and broadcast back, χ² = Σ(obs−exp)²/exp with its degrees of
    freedom. The A/B-companion for categorical outcomes (welch_ttest
    covers the continuous case) — everything after the first
    aggregate runs on |cells| rows."""
    e = _t(spark, sf_dir, "events")
    c = (
        e.select("event_type", (F.col("user_id") % 3).alias("seg"))
        .groupBy("event_type", "seg")
        .agg(F.count("*").alias("n"))
    )
    tot = c.agg(
        F.sum("n").cast("double").alias("n_total"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("seg").alias("nc"),
    )
    rowm = c.groupBy("event_type").agg(F.sum("n").alias("rn"))
    colm = c.groupBy("seg").agg(F.sum("n").alias("cn"))
    j = (
        c.join(F.broadcast(rowm), "event_type")
        .join(F.broadcast(colm), "seg")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("rn") * F.col("cn") / F.col("n_total")
    return j.agg(
        F.round(F.sum(F.pow(F.col("n") - exp, F.lit(2)) / exp), 4).alias("chi2"),
        ((F.max("nr") - 1) * (F.max("nc") - 1)).cast("bigint").alias("dof"),
        F.max("n_total").cast("bigint").alias("n_obs"),
    )


@register(
    "lateral_topn_per_key",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS total
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
    WHERE c.c_acctbal > 9000
    """,
    tags=("lateral", "subquery", "topk"),
)
def q_lateral_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-key ORDER BY LIMIT — the
    top-N-per-group shape written the SQL-standard way, identical text
    on both engines. Catalyst DECORRELATES it: the per-customer
    subquery becomes a windowed rank over one join, not |customers|
    subquery executions — the rewrite that makes lateral top-N viable
    at 100 TB. Same semantics as the window formulation
    (topk_per_group); this pins the parser/decorrelation surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS total
        FROM _lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM _lat_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        WHERE c.c_acctbal > 9000
        """
    )


@register(
    "psi_drift",
    oracle="""
    WITH norms AS (
      SELECT vec_id, CASE WHEN label < 5 THEN 'ref' ELSE 'cur' END AS cohort,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS norm
      FROM embeddings
    ),
    rng AS (SELECT min(norm) AS mn, max(norm) AS mx FROM norms),
    binned AS (
      SELECT cohort,
             least(9, CAST(floor((norm - rng.mn) / (rng.mx - rng.mn) * 10)
                           AS INT)) AS bin
      FROM norms CROSS JOIN rng
    ),
    counts AS (
      SELECT bin,
             count(*) FILTER (WHERE cohort = 'ref') AS a,
             count(*) FILTER (WHERE cohort = 'cur') AS b
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts),
    p AS (
      SELECT (a + 0.5) / (tot.na + 5.0) AS pa,
             (b + 0.5) / (tot.nb + 5.0) AS pb
      FROM counts CROSS JOIN tot
    )
    SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM p
    """,
    tags=("stats", "ml", "drift"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two embedding cohorts — the
    drift monitor an ML platform runs between training and serving
    distributions: L2 norms binned on the shared data-derived range
    (10 equal-width bins, Laplace-smoothed so empty bins stay finite),
    PSI = Σ(pa−pb)·ln(pa/pb). One scan for norms, one 2-row aggregate
    for the range (broadcast), one 10-row counts relation — drift
    monitoring at any scale is three tiny reductions over a single
    pass."""
    e = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = e.select(
        F.when(F.col("label") < 5, "ref").otherwise("cur").alias("cohort"),
        norm.alias("norm"),
    )
    rng = norms.agg(F.min("norm").alias("mn"), F.max("norm").alias("mx"))
    binned = norms.crossJoin(F.broadcast(rng)).select(
        "cohort",
        F.least(
            F.lit(9),
            F.floor(
                (F.col("norm") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 10
            ).cast("int"),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.count_if(F.col("cohort") == "ref").alias("a"),
        F.count_if(F.col("cohort") == "cur").alias("b"),
    )
    tot = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        ((F.col("a") + 0.5) / (F.col("na") + 5.0)).alias("pa"),
        ((F.col("b") + 0.5) / (F.col("nb") + 5.0)).alias("pb"),
    )
    return p.agg(
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            6,
        ).alias("psi"),
        F.count("*").cast("bigint").alias("n_bins"),
    )


@register(
    "auc_rank_sum",
    oracle="""
    WITH cent AS (
      SELECT list(cv ORDER BY pos) AS c FROM (
        SELECT CAST(i AS INT) AS pos, avg(embedding[CAST(i AS INT)]::DOUBLE) AS cv
        FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        WHERE label = 0 GROUP BY 1
      )
    ),
    scored AS (
      SELECT e.vec_id, e.label = 0 AS positive,
             list_sum(list_transform(generate_series(1, 64),
                      i -> e.embedding[i]::DOUBLE * cent.c[i]))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> cent.c[i] * cent.c[i])))) AS score
      FROM embeddings e CROSS JOIN cent
    ),
    ranked AS (
      SELECT positive,
             row_number() OVER (ORDER BY score ASC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT round((sum(CASE WHEN positive THEN rk END)
                  - sum(CASE WHEN positive THEN 1 END)
                    * (sum(CASE WHEN positive THEN 1 END) + 1) / 2.0)
                 / (sum(CASE WHEN positive THEN 1 END)
                    * sum(CASE WHEN NOT positive THEN 1 END)), 6) AS auc,
           CAST(sum(CASE WHEN positive THEN 1 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN NOT positive THEN 1 END) AS BIGINT) AS n_neg
    FROM ranked
    """,
    tags=("stats", "ml", "eval"),
)
def q_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC via the Mann-Whitney rank-sum identity — the
    classifier-eval primitive computed without thresholds or curves:
    score = cosine to the positive-class centroid, rank once globally,
    AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊·n₋). Ranking is a window over
    |vectors| rows with a deterministic vec_id tie-break (identical in
    both engines, so exact scores hash-match); at scale the global
    sort is the only wide operation and every other step is a scalar
    aggregate. Complements psi_drift (monitoring) and
    centroid_classify (accuracy) as the eval tier. The ranking
    routes through operators/rank.global_ranked (distributed mode
    range-partitions the sort at 100 TB)."""
    from ...operators.rank import global_ranked
    from ...operators.similarity import cosine

    e = _t(spark, sf_dir, "embeddings")
    dims = e.filter(F.col("label") == 0).select(
        F.posexplode("embedding").alias("pos", "v")
    )
    cent = (
        dims.groupBy("pos")
        .agg(F.avg("v").alias("cv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("c")
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        (F.col("label") == 0).alias("positive"),
        cosine("embedding", "c").alias("score"),
    )
    ranked = global_ranked(
        scored, ["score", "vec_id"], row_number="rk"
    ).select("positive", "rk")
    n_pos = F.sum(F.when(F.col("positive"), 1))
    n_neg = F.sum(F.when(~F.col("positive"), 1))
    r_pos = F.sum(F.when(F.col("positive"), F.col("rk")))
    return ranked.agg(
        F.round(
            (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6
        ).alias("auc"),
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
    )


@register(
    "ks_two_sample",
    oracle="""
    WITH pts AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'click') AS a,
             count(*) FILTER (WHERE event_type = 'purchase') AS b
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ),
    tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM pts),
    c AS (
      SELECT sum(a) OVER (ORDER BY value) / CAST(tot.na AS DOUBLE) AS fa,
             sum(b) OVER (ORDER BY value) / CAST(tot.nb AS DOUBLE) AS fb
      FROM pts CROSS JOIN tot
    )
    SELECT round(max(abs(fa - fb)), 6) AS ks_d,
           CAST(max(tot2.na) AS BIGINT) AS n_click,
           CAST(max(tot2.nb) AS BIGINT) AS n_purchase
    FROM c CROSS JOIN (SELECT na, nb FROM tot) tot2
    """,
    tags=("stats", "events"),
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between cohorts: the
    nonparametric distribution-equality test (no normality assumption
    — completing the stats-test family with welch_ttest and
    chi_square_independence). D = max |ECDF_a − ECDF_b|, evaluated at
    the distinct observed values: per-value counts (one shuffle),
    cumulative fractions in one window pass over |distinct values|
    rows, exact integer cumsums so the statistic hash-matches across
    engines (and stay exact in rankMode=distributed — integer prefix
    sums associate freely; operators/rank.global_ranked)."""
    from ...operators.rank import global_ranked

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pts = e.groupBy("value").agg(
        F.count_if(F.col("event_type") == "click").alias("a"),
        F.count_if(F.col("event_type") == "purchase").alias("b"),
    )
    tot = pts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    cum = global_ranked(
        pts, ["value"], running_sums={"ca": F.col("a"), "cb": F.col("b")}
    )
    c = cum.crossJoin(F.broadcast(tot)).select(
        (F.col("ca") / F.col("na").cast("double")).alias("fa"),
        (F.col("cb") / F.col("nb").cast("double")).alias("fb"),
        "na",
        "nb",
    )
    return c.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_d"),
        F.max("na").cast("bigint").alias("n_click"),
        F.max("nb").cast("bigint").alias("n_purchase"),
    )


@register(
    "ndvi_clip_histogram",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id,
           least(4, CAST(floor((ndvi + 1.0) / 0.4) AS INT)) AS bin,
           CAST(count(*) AS BIGINT) AS n_pixels,
           round(avg(ndvi), 6) AS bin_mean
    FROM nv
    WHERE ndvi IS NOT NULL
      AND x BETWEEN 20 AND 59 AND y BETWEEN 30 AND 69
    GROUP BY scene_id, bin
    """,
    tags=("ndvi", "spatial", "agg"),
)
def q_ndvi_clip_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal NDVI histogram: the per-AOI distribution product
    (vegetation-class breakdown inside the clip region) — bbox
    prefilter → 5 equal-width bins over [−1, 1] (top edge folded into
    the last bin) → per-(scene, bin) counts and means. The reference
    only stores the clipped mean (load_to_postgis.py:244-248); the
    histogram is the same scan with a composite group key, which is
    why it's free to add at 100 TB: predicate prunes first, bin id is
    scalar math, and the aggregate shuffles |scenes|×5 rows."""
    nv = _ndvi_pixels_df(spark, sf_dir)
    bin_ = F.least(
        F.lit(4), F.floor((F.col("ndvi") + 1.0) / 0.4).cast("int")
    ).alias("bin")
    return (
        nv.filter(
            F.col("ndvi").isNotNull()
            & F.col("x").between(20, 59)
            & F.col("y").between(30, 69)
        )
        .groupBy("scene_id", bin_)
        .agg(
            F.count("*").cast("bigint").alias("n_pixels"),
            F.round(F.avg("ndvi"), 6).alias("bin_mean"),
        )
    )


@register(
    "mean_family",
    oracle="""
    SELECT p_brand,
           round(avg(p_retailprice), 4) AS arithmetic_mean,
           round(exp(avg(ln(p_retailprice))), 4) AS geometric_mean,
           round(count(*) / sum(1.0 / p_retailprice), 4) AS harmonic_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM part WHERE p_retailprice > 0 GROUP BY p_brand
    """,
    tags=("agg", "stats"),
)
def q_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean means side by side per brand: arithmetic,
    geometric (exp∘avg∘ln — the log-space identity that makes a
    multiplicative mean a plain associative aggregate, the same trick
    behind distributed perplexity computation), and harmonic (rate
    averaging). All three are single-pass partial/final aggregates;
    AM ≥ GM ≥ HM holds per row as a built-in sanity invariant."""
    pt = _t(spark, sf_dir, "part").filter(F.col("p_retailprice") > 0)
    return pt.groupBy("p_brand").agg(
        F.round(F.avg("p_retailprice"), 4).alias("arithmetic_mean"),
        F.round(F.exp(F.avg(F.log("p_retailprice"))), 4).alias("geometric_mean"),
        F.round(F.count("*") / F.sum(1.0 / F.col("p_retailprice")), 4).alias(
            "harmonic_mean"
        ),
        F.count("*").cast("bigint").alias("n"),
    )


@register(
    "max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(o_totalprice) - 2 * sum(o_totalprice)
               FILTER (WHERE o_orderstatus = 'F') AS net
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT d, sum(net) OVER (ORDER BY d) AS cum FROM daily
    ),
    dd AS (
      SELECT d, max(cum) OVER (ORDER BY d) - cum AS drawdown FROM c
    )
    SELECT round(max(drawdown), 2) AS max_drawdown,
           CAST(count(*) AS BIGINT) AS n_days
    FROM dd
    """,
    tags=("window", "timeseries"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of a running series (the finance/monitoring
    shape): daily net flow (finalized orders count negative so the
    series actually dips), cumulative sum, running peak, max(peak −
    value). Two stacked window passes over |days| rows after the
    day-level aggregate — the composition (cumsum → running max →
    scalar max) that cannot be expressed as one aggregate but never
    touches row-level data twice."""
    o = _t(spark, sf_dir, "orders")
    net = F.sum("o_totalprice") - 2 * F.sum(
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        net.alias("net")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select("d", F.sum("net").over(w).alias("cum"))
    dd = c.select((F.max("cum").over(w) - F.col("cum")).alias("drawdown"))
    return dd.agg(
        F.round(F.max("drawdown"), 2).alias("max_drawdown"),
        F.count("*").cast("bigint").alias("n_days"),
    )


@register(
    "referential_integrity",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
           AS BIGINT) AS orphan_lineitems,
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS orphan_orders,
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
           AS BIGINT) AS orphan_part_refs,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
           AS BIGINT) AS orphan_customers
    """,
    tags=("quality", "antijoin"),
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for the
    four FK chains (lineitem→orders, orders→customer, lineitem→part,
    customer→nation) — the relational complement of the single-table
    dq_expectations suite, and the engine-level stand-in for the FK
    constraints the reference declares in DDL (db/init/002_schema.sql:
    20-31): a lake has no enforced FKs, so integrity is a query you
    run. Each check is a left-anti join that broadcasts the key side
    when small and degrades to shuffled anti-join at scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pt = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")

    def orphans(child, parent, ck, pk, out):
        # lazy 1-row count — the four checks compose into ONE plan
        return child.join(
            parent.select(pk), child[ck] == parent[pk], "left_anti"
        ).agg(F.count("*").cast("bigint").alias(out))

    return (
        orphans(li, o, "l_orderkey", "o_orderkey", "orphan_lineitems")
        .crossJoin(orphans(o, c, "o_custkey", "c_custkey", "orphan_orders"))
        .crossJoin(orphans(li, pt, "l_partkey", "p_partkey", "orphan_part_refs"))
        .crossJoin(
            orphans(c, n, "c_nationkey", "n_nationkey", "orphan_customers")
        )
    )


@register(
    "weighted_median",
    oracle="""
    WITH w AS (
      SELECT p.p_brand, l.l_extendedprice / l.l_quantity AS unit_price,
             l.l_quantity AS wt
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
    ),
    r AS (
      SELECT p_brand, unit_price,
             sum(wt) OVER (PARTITION BY p_brand ORDER BY unit_price
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY p_brand) AS tw
      FROM w
    )
    SELECT p_brand,
           round(min(CASE WHEN cw >= 0.5 * tw THEN unit_price END), 4)
             AS weighted_median_price,
           round(max(tw), 2) AS total_weight
    FROM r GROUP BY p_brand
    """,
    tags=("window", "stats"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per brand: sort by value,
    running weight, first value whose cumulative weight crosses half
    the total. The crossing value is order-independent within
    equal-price ties (whichever tied row crosses, the selected PRICE
    is the same), so no tie-break column is needed for determinism —
    the property that makes weighted quantiles safe distributed. One
    shuffle on brand, one window pass, one aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    w_rel = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "p_brand",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.col("l_quantity").alias("wt"),
    )
    win = Window.partitionBy("p_brand").orderBy("unit_price")
    r = w_rel.select(
        "p_brand",
        "unit_price",
        F.sum("wt").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("wt").over(Window.partitionBy("p_brand")).alias("tw"),
    )
    return r.groupBy("p_brand").agg(
        F.round(
            F.min(F.when(F.col("cw") >= 0.5 * F.col("tw"), F.col("unit_price"))),
            4,
        ).alias("weighted_median_price"),
        F.round(F.max("tw"), 2).alias("total_weight"),
    )


@register(
    "capped_topk",
    oracle="""
    WITH per_source AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS src_rk
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM (
      SELECT *, row_number() OVER (
               ORDER BY n_chars DESC, doc_id ASC) AS global_rk
      FROM per_source WHERE src_rk <= 3
    ) WHERE global_rk <= 20
    """,
    tags=("curation", "topk", "window"),
)
def q_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-capped selection: global top-20 longest documents
    with AT MOST 3 per source — the anti-domination constraint every
    curation pass needs so one crawl source cannot fill the whole
    budget. Per-source rank first (distributed window on the source
    key, prunes to ≤3×|sources| rows), THEN the global top-k over the
    tiny survivor set — the order of the two windows is what keeps
    the global sort off the full corpus; the survivor ranking routes
    through operators/rank.global_ranked."""
    from ...operators.rank import global_ranked

    d = _t(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    survivors = d.withColumn("src_rk", F.row_number().over(w_src)).filter(
        F.col("src_rk") <= 3
    )
    return (
        global_ranked(
            survivors,
            [("n_chars", "desc"), "doc_id"],
            row_number="global_rk",
        )
        .filter(F.col("global_rk") <= 20)
        .select("doc_id", "source", "n_chars")
    )


@register(
    "struct_in_groupby_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    WHERE (l_returnflag, l_linestatus) IN (('A', 'F'), ('N', 'O'))
    GROUP BY ALL
    """,
    tags=("sql", "filter"),
)
def q_struct_in_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-value IN list + GROUP BY ALL — two modern-SQL surfaces in
    one query, IDENTICAL text on both engines. The tuple IN compiles
    to a pair of equality conjunctions (sargable — both legs reach the
    parquet scan as pushed filters), and GROUP BY ALL infers the
    non-aggregated columns; neither is sugar the engine pays for."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_sig_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice), 2) AS total
        FROM _sig_lineitem
        WHERE (l_returnflag, l_linestatus) IN (('A', 'F'), ('N', 'O'))
        GROUP BY ALL
        """
    )


@register(
    "time_bucket_15min",
    oracle="""
    SELECT strftime(to_timestamp(floor(epoch_us(ts) / 900000000.0)
                                 * 900), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "agg", "time"),
)
def q_time_bucket_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-interval time bucketing (15 min) via pure epoch
    arithmetic — the `time_bucket`/`date_bin` primitive expressed
    portably: floor(epoch/width)·width. Unlike the tumbling `window()`
    struct this composes with any GROUP BY and stays a plain sargable
    column; identical integer math both engines so bucket edges
    hash-match exactly."""
    e = _t(spark, sf_dir, "events")
    bucket = F.date_format(
        F.timestamp_seconds(
            F.floor(F.unix_micros("ts") / 900000000.0).cast("long") * 900
        ),
        "yyyy-MM-dd HH:mm:ss",
    )
    return e.groupBy(bucket.alias("bucket"), F.col("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "rank_movement",
    oracle="""
    WITH rev AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                  THEN 'early' ELSE 'late' END AS period,
             o_custkey, sum(o_totalprice) AS total
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT period, o_custkey,
             row_number() OVER (PARTITION BY period
                                ORDER BY total DESC, o_custkey ASC) AS rk
      FROM rev
    )
    SELECT e.o_custkey,
           CAST(e.rk AS BIGINT) AS early_rank,
           CAST(l.rk AS BIGINT) AS late_rank,
           CAST(e.rk - l.rk AS BIGINT) AS movement
    FROM (SELECT * FROM ranked WHERE period = 'early') e
    JOIN (SELECT * FROM ranked WHERE period = 'late') l
      ON l.o_custkey = e.o_custkey
    ORDER BY abs(e.rk - l.rk) DESC, e.o_custkey ASC
    LIMIT 10
    """,
    tags=("window", "trending"),
)
def q_rank_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending analysis: customer spend ranked in an early vs late
    period, self-joined on the entity, biggest absolute rank movers on
    top — the leaderboard-delta shape behind every 'rising/falling'
    report. Ranks are deterministic (total desc, key asc), the join is
    on the entity key, and the final top-10 is TakeOrderedAndProject
    over |entities| rows."""
    o = _t(spark, sf_dir, "orders")
    period = F.when(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), "early"
    ).otherwise("late")
    rev = o.groupBy(period.alias("period"), F.col("o_custkey")).agg(
        F.sum("o_totalprice").alias("total")
    )
    w = Window.partitionBy("period").orderBy(
        F.desc("total"), F.asc("o_custkey")
    )
    ranked = rev.withColumn("rk", F.row_number().over(w))
    e = ranked.filter("period = 'early'").select(
        "o_custkey", F.col("rk").alias("early_rank")
    )
    l = ranked.filter("period = 'late'").select(
        F.col("o_custkey").alias("l_custkey"), F.col("rk").alias("late_rank")
    )
    return (
        e.join(l, e.o_custkey == l.l_custkey)
        .select(
            "o_custkey",
            F.col("early_rank").cast("bigint").alias("early_rank"),
            F.col("late_rank").cast("bigint").alias("late_rank"),
            (F.col("early_rank") - F.col("late_rank"))
            .cast("bigint")
            .alias("movement"),
        )
        .orderBy(F.abs(F.col("movement")).desc(), F.asc("o_custkey"))
        .limit(10)
    )


@register(
    "gini_coefficient",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x ASC, o_custkey ASC) AS i,
             count(*) OVER () AS n
      FROM spend
    )
    SELECT round(2.0 * sum(i * x) / (max(n) * sum(x))
                 - (max(n) + 1.0) / max(n), 6) AS gini,
           CAST(max(n) AS BIGINT) AS n_customers,
           round(sum(x), 2) AS total_spend
    FROM ranked
    """,
    tags=("stats", "inequality"),
)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality measure
    behind every concentration dashboard, via the rank identity
    G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending-sorted totals. Ties in
    x are order-insensitive in Σi·xᵢ (equal values × consecutive
    ranks sum the same either way), so the statistic is deterministic
    without caring how the sort broke them. One aggregate, one global
    rank over |customers| rows, one scalar reduction. The global rank
    routes through operators/rank.global_ranked: single-partition by
    default (exact-rank class 3, PLANS.md), fully distributed under
    spark.ndvi_etl.rankMode=distributed."""
    from ...operators.rank import global_ranked

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    ranked = global_ranked(
        spend, ["x", "o_custkey"], row_number="i", total_count="n"
    ).select("x", "i", "n")
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.sum("x"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.sum("x"), 2).alias("total_spend"),
    )


@register(
    "herfindahl_concentration",
    oracle="""
    WITH s AS (
      SELECT p_type, p_brand, sum(p_retailprice) AS v
      FROM part GROUP BY 1, 2
    ),
    sh AS (
      SELECT p_type, v / sum(v) OVER (PARTITION BY p_type) AS share FROM s
    )
    SELECT p_type,
           round(sum(share * share), 6) AS hhi,
           round(1.0 / sum(share * share), 4) AS effective_brands,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM sh GROUP BY p_type
    """,
    tags=("stats", "inequality"),
)
def q_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration per part type: Σshare² and
    its reciprocal (the 'effective number of brands' — the inverse
    Simpson index ecology and market analysis share). Shares come
    from a partition-total window over the tiny grouped relation;
    everything after the first aggregate is |type×brand| rows."""
    pt = _t(spark, sf_dir, "part")
    s = pt.groupBy("p_type", "p_brand").agg(F.sum("p_retailprice").alias("v"))
    share = F.col("v") / F.sum("v").over(Window.partitionBy("p_type"))
    sh = s.select("p_type", share.alias("share"))
    return sh.groupBy("p_type").agg(
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        F.round(1.0 / F.sum(F.col("share") * F.col("share")), 4).alias(
            "effective_brands"
        ),
        F.count("*").cast("bigint").alias("n_brands"),
    )


@register(
    "kaplan_meier_conversion",
    oracle="""
    WITH bounds AS (SELECT max(ts) AS tmax FROM events),
    per_user AS (
      SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY user_id
    ),
    durs AS (
      SELECT CASE WHEN tp IS NOT NULL
                  THEN CAST(epoch_us(tp) - epoch_us(t0) AS BIGINT)
                  ELSE CAST(epoch_us(bounds.tmax) - epoch_us(t0) AS BIGINT)
             END AS dur,
             tp IS NOT NULL AS is_event
      FROM per_user CROSS JOIN bounds
    ),
    g AS (
      SELECT dur AS t,
             count(*) FILTER (WHERE is_event) AS d,
             count(*) AS all_at_t
      FROM durs GROUP BY dur
    ),
    o AS (
      SELECT t, d,
             sum(all_at_t) OVER ()
               - (sum(all_at_t) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  - all_at_t) AS at_risk
      FROM g
    ),
    km AS (
      SELECT t, d, at_risk,
             (at_risk - d) / CAST(at_risk AS DOUBLE) AS factor
      FROM o WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS duration_s_us,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS n_events,
           round(CASE WHEN min(factor) OVER w = 0 THEN 0.0
                      ELSE exp(sum(ln(nullif(factor, 0.0))) OVER w)
                 END, 6) AS survival
    FROM km
    WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
    """,
    tags=("stats", "survival", "events"),
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase with
    RIGHT-CENSORING — users who never purchase are censored at the
    feed horizon, which naive 'average conversion time' silently
    throws away. S(t) = Π(1 − dᵢ/nᵢ) over event times, computed as
    exp of a running sum of logs (the associative form); a factor of
    exactly 0 (everyone remaining converts) is NULLed out of the sum —
    both engines' sums skip NULL — and forced to survival 0 via the
    running min, because Spark's ln(0) is NULL while DuckDB's raises.
    At-risk counts come from one cumulative window over |distinct
    durations| rows; the heavy relation shuffles once on user_id."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("tmax"))
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    durs = per_user.crossJoin(F.broadcast(bounds)).select(
        F.when(
            F.col("tp").isNotNull(),
            F.unix_micros("tp") - F.unix_micros("t0"),
        )
        .otherwise(F.unix_micros("tmax") - F.unix_micros("t0"))
        .cast("bigint")
        .alias("dur"),
        F.col("tp").isNotNull().alias("is_event"),
    )
    g = durs.groupBy(F.col("dur").alias("t")).agg(
        F.count_if("is_event").alias("d"), F.count("*").alias("all_at_t")
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    o = g.select(
        "t",
        "d",
        (
            F.sum("all_at_t").over(Window.partitionBy())
            - (F.sum("all_at_t").over(w_cum) - F.col("all_at_t"))
        ).alias("at_risk"),
    )
    km = o.filter(F.col("d") > 0).withColumn(
        "factor", (F.col("at_risk") - F.col("d")) / F.col("at_risk").cast("double")
    )
    return km.select(
        F.col("t").cast("bigint").alias("duration_s_us"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.round(
            F.when(F.min("factor").over(w_cum) == 0, 0.0).otherwise(
                F.exp(F.sum(F.log(F.nullif(F.col("factor"), F.lit(0.0)))).over(w_cum))
            ),
            6,
        ).alias("survival"),
    )


@register(
    "linear_interpolation_fill",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS total
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    grid AS (
      SELECT CAST(lo + CAST(i AS INT) AS DATE) AS d
      FROM bounds, unnest(generate_series(0, hi - lo)) AS t(i)
    ),
    j AS (
      SELECT g.d, daily.total,
             epoch_us(CAST(g.d AS TIMESTAMP)) / 86400000000 AS ed
      FROM grid g LEFT JOIN daily ON daily.d = g.d
    ),
    ctx AS (
      SELECT d, total, ed,
             last_value(total IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN total IS NOT NULL THEN ed END IGNORE NULLS)
               OVER wb AS pd,
             first_value(total IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN total IS NOT NULL THEN ed END IGNORE NULLS)
               OVER wf AS nd
      FROM j
      WINDOW wb AS (ORDER BY d ROWS UNBOUNDED PRECEDING),
             wf AS (ORDER BY d ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING)
    ),
    filled AS (
      SELECT d, total,
             CASE WHEN total IS NOT NULL THEN total
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (ed - pd) / (nd - pd)
             END AS v
      FROM ctx
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(total) AS BIGINT) AS n_observed,
           CAST(count(*) - count(total) AS BIGINT) AS n_interpolated,
           round(sum(v), 2) AS total_filled,
           round(avg(v), 4) AS mean_filled
    FROM filled
    """,
    tags=("timeseries", "window"),
)
def q_linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over a dense calendar — the lerp
    companion to gap_fill_forward: missing days get
    prev + (next−prev)·Δt/ΔT from the bracketing observations
    (IGNORE NULLS last/first value over backward/forward windows),
    edges fall back to nearest-neighbor. The dense grid comes from the
    data's own bounds (sequence/generate_series), so the query is
    closed over its input; the two window passes run on |days| rows
    after the daily aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("total")
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    j = grid.join(daily, "d", "left").select(
        "d", "total", F.datediff(F.col("d"), F.lit("1970-01-01")).alias("ed")
    )
    wb = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    ed_if_obs = F.when(F.col("total").isNotNull(), F.col("ed"))
    ctx = j.select(
        "d",
        "total",
        "ed",
        F.last("total", ignorenulls=True).over(wb).alias("pv"),
        F.last(ed_if_obs, ignorenulls=True).over(wb).alias("pd"),
        F.first("total", ignorenulls=True).over(wf).alias("nv"),
        F.first(ed_if_obs, ignorenulls=True).over(wf).alias("nd"),
    )
    v = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("ed") - F.col("pd"))
            / (F.col("nd") - F.col("pd"))
        )
    )
    return ctx.select("total", v.alias("v")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.count("total").cast("bigint").alias("n_observed"),
        (F.count("*") - F.count("total")).cast("bigint").alias("n_interpolated"),
        F.round(F.sum("v"), 2).alias("total_filled"),
        F.round(F.avg("v"), 4).alias("mean_filled"),
    )

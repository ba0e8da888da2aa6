"""Query catalog part 1/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

"""The engine's query catalog: every SURVEY.md §2 operator class as a
named, oracle-checked query.

Each entry pairs a DataFrame-API builder (the Spark-first
implementation, exercising the package's operators) with an ANSI-SQL
oracle DuckDB runs over the same parquet tables. Column names and
types are aligned on both sides (every computed column aliased
identically; sums of ints cast to BIGINT; floats rounded at a fixed
precision so cross-engine accumulation-order differences cannot leak
into the compared values).

Naming: q_<area>_<operator> with SURVEY §2 ids in the docstrings.
"""


# ===========================================================================
# A. Relational core on the TPC-H-style tables (SURVEY §2.2-§2.8)
# ===========================================================================


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("agg", "filter"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → F2 date filter → 8-way hash aggregate.

    The partial/final aggregate pair means shuffle traffic is one row
    per (flag, status) per task regardless of input size.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "filter_pushdown_scan",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      AND o_totalprice <= 150000.0
    GROUP BY o_orderpriority
    """,
    tags=("filter",),
)
def q_filter_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2: threshold + temporal-range predicates, pushed to parquet."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderdate").cast("date").between("1996-01-01", "1997-12-31")
            & (F.col("o_totalprice") <= 150000.0)
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "prefix_exclusion",
    oracle="""
    SELECT p_type, count(*) AS n_parts, CAST(sum(p_size) AS BIGINT) AS total_size
    FROM part
    WHERE NOT starts_with(p_brand, 'Brand#1') AND contains(p_name, 'bolt')
    GROUP BY p_type
    """,
    tags=("filter", "string"),
)
def q_prefix_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (prefix exclusion, the LE07 idiom) + F7 (substring contains)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(~F.col("p_brand").startswith("Brand#1") & F.col("p_name").contains("bolt"))
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
        )
    )


@register(
    "parse_projection",
    oracle="""
    SELECT CAST(string_split(o_orderpriority, '-')[1] AS INT) AS prio_num,
           string_split(o_orderpriority, '-')[2] AS prio_name,
           count(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("string", "projection"),
)
def q_parse_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: split-and-project, the filename-parsing idiom
    (load_to_postgis.py:178-183) applied to priority codes."""
    o = _t(spark, sf_dir, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    return (
        o.select(
            F.element_at(parts, 1).cast("int").alias("prio_num"),
            F.element_at(parts, 2).alias("prio_name"),
        )
        .groupBy("prio_num", "prio_name")
        .agg(F.count("*").alias("n"))
    )


@register(
    "join_chain_revenue",
    oracle="""
    SELECT n.n_name, r.r_name,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    headline=True,
    tags=("join", "agg"),
)
def q_join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J4/J5 equi-join chain. nation/region are broadcast (fixed-size
    dims — no shuffle of the fact table for them); customer⋈orders⋈
    lineitem shuffle on their keys, AQE re-plans from runtime sizes.
    """
    # Round 9: at sf0.1 every dimension (orders included) broadcasts,
    # so the whole 4-deep probe chain + partial agg fused into the
    # single-task scan stage of the 1-row-group lineitem file. Spread
    # by l_orderkey (row-group-gated, no-op on real layouts) — and
    # l_orderkey is exactly the key a non-broadcast li⋈o plan would
    # shuffle on at larger scale, so the exchange is never wasted.
    li = _t(spark, sf_dir, "lineitem", spread_key="l_orderkey")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "upsert_ignore_antijoin",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    """,
    tags=("join",),
)
def q_upsert_ignore_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: the 'ON CONFLICT DO NOTHING' idiom — left anti join.

    (Suppliers with no lineitems = rows that WOULD be inserted.)
    """
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_anti").select("s_suppkey", "s_name")


@register(
    "semi_join_exists",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c.c_mktsegment
    """,
    tags=("join",),
)
def q_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — J4's 'parent must exist' precheck."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "last_write_wins",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_date, o_totalprice
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC
      ) AS rn
      FROM orders
    ) WHERE rn = 1 AND o_custkey <= 200
    """,
    tags=("window", "upsert"),
)
def q_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: 'ON CONFLICT DO UPDATE' as last-write-wins dedup — one row
    per key by (date, key) recency. The upsert idiom for an
    append-only parquet store (SURVEY §4.2 item 4)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("o_custkey") <= 200))
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date"),
            "o_totalprice",
        )
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L3/A7: global top-k = TakeOrderedAndProject (no full sort —
    each task keeps a k-heap, driver merges k·tasks rows)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT l_returnflag, CAST(rk AS INT) AS rk, l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
             ) AS rk
      FROM lineitem
    ) WHERE rk <= 3
    """,
    tags=("window",),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (§2.9 extension surface)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_returnflag", "rk", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "set_ops_nations",
    oracle="""
    SELECT 'customers_only' AS tag, n_nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'both' AS tag, n_nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
    )
    """,
    tags=("setop",),
)
def q_set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: EXCEPT / INTERSECT / UNION ALL in one result."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    only_c = c.distinct().subtract(s.distinct()).select(
        F.lit("customers_only").alias("tag"), "n_nationkey"
    )
    both = c.distinct().intersect(s.distinct()).select(F.lit("both").alias("tag"), "n_nationkey")
    return only_c.unionAll(both)


@register(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals (§2.5 noted extension): ROLLUP."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column DISTINCT aggregation (expand + two-phase agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "utm_zone_math",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 360) - 180 + 0.5 AS lon,
             ((c_custkey * 7) % 180) - 90 + 0.5 AS lat
      FROM customer
    )
    SELECT CAST(CASE WHEN lat >= 0 THEN 32600 ELSE 32700 END
                + CAST(floor((lon + 180) / 6) AS BIGINT) + 1 AS BIGINT) AS epsg,
           count(*) AS n_points,
           round(avg(10.0 / (111.32 * cos(radians(lat)))), 6) AS avg_pad_deg
    FROM pts
    GROUP BY 1
    """,
    tags=("math",),
)
def q_utm_zone_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (UTM zone selection, load_to_postgis.py:18-38) + P8 (km→deg
    bbox padding, download_landsat_stac.py:44-51) as column math."""
    c = _t(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") % 360 - 180 + F.lit(0.5)).alias("lon")
    lat = ((F.col("c_custkey") * 7) % 180 - 90 + F.lit(0.5)).alias("lat")
    pts = c.select("c_custkey", lon, lat)
    zone = F.floor((F.col("lon") + 180) / 6).cast("bigint") + 1
    epsg = (
        F.when(F.col("lat") >= 0, F.lit(32600)).otherwise(F.lit(32700)).cast("bigint") + zone
    ).alias("epsg")
    pad = 10.0 / (111.32 * F.cos(F.radians(F.col("lat"))))
    return pts.select(epsg, "lat", pad.alias("pad")).groupBy("epsg").agg(
        F.count("*").alias("n_points"), F.round(F.avg("pad"), 6).alias("avg_pad_deg")
    )


@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(substr(p_name, 1, 4)) AS prefix4,
           CAST(length(p_name) AS INT) AS name_len,
           CAST(nullif(regexp_extract(p_brand, 'Brand#(\\d+)', 1), '') AS INT) AS brand_num,
           concat_ws('|', p_type, p_brand) AS type_brand,
           replace(p_name, ' ', '_') AS name_snake
    FROM part
    WHERE p_partkey <= 100
    """,
    tags=("string",),
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string family: lower/upper/substr/length/regexp/concat_ws."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 100).select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper(F.substring("p_name", 1, 4)).alias("prefix4"),
        F.length("p_name").cast("int").alias("name_len"),
        F.nullif(F.regexp_extract("p_brand", r"Brand#(\d+)", 1), F.lit("")).cast("int").alias(
            "brand_num"
        ),
        F.concat_ws("|", "p_type", "p_brand").alias("type_brand"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           count(*) AS n_orders,
           CAST(min(day(o_orderdate)) AS INT) AS first_day,
           CAST(floor(avg(datediff('day', CAST(o_orderdate AS DATE), DATE '2001-12-31')))
                AS BIGINT) AS avg_age_days
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("date",),
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date family: year/month/day extraction, datediff, grouping
    by calendar buckets (F2's partition-pruning access path)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(F.dayofmonth("o_orderdate")).cast("int").alias("first_day"),
            F.floor(
                F.avg(
                    F.datediff(
                        F.lit("2001-12-31").cast("date"), F.col("o_orderdate").cast("date")
                    )
                )
            )
            .cast("bigint")
            .alias("avg_age_days"),
        )
    )


@register(
    "masked_mean_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(CASE WHEN value > 50.0 THEN 1 END) AS n_valid,
           round(avg(CASE WHEN value > 50.0 THEN value END), 4) AS mean_valid
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "null"),
)
def q_masked_mean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+A1 on a generic table: sentinel→NULL masking then masked
    mean — exactly the NDVI masked-mean shape, with avg skipping NULLs."""
    e = _t(spark, sf_dir, "events")
    masked = F.when(F.col("value") > 50.0, F.col("value"))
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(masked).alias("n_valid"),
        F.round(F.avg(masked), 4).alias("mean_valid"),
    )


@register(
    "pivot_status",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("pivot",),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = groupBy + conditional aggregation (single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "ndvi_scene_stats",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id, count(*) AS n_pixels, count(ndvi) AS n_valid,
           round(avg(ndvi), 6) AS mean_ndvi
    FROM nv GROUP BY scene_id
    """,
    headline=True,
    tags=("ndvi", "agg", "join"),
)
def q_ndvi_scene_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: P1-P6 band math + J1 pairing + A1 masked mean on a
    pixel grid derived from lineitem (so DuckDB can replay it)."""
    nv = _ndvi_pixels_df(spark, sf_dir)
    return nv.groupBy("scene_id").agg(
        F.count("*").alias("n_pixels"),
        F.count("ndvi").alias("n_valid"),
        F.round(F.avg("ndvi"), 6).alias("mean_ndvi"),
    )


@register(
    "ndvi_tiled_stats",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id, count(*) AS n_pixels, count(ndvi) AS n_valid,
           round(avg(ndvi), 6) AS mean_ndvi
    FROM nv GROUP BY scene_id
    """,
    tags=("ndvi", "raster", "agg"),
)
def q_ndvi_tiled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME statistic as ndvi_scene_stats, computed through the
    tile codec: pixels → dense 32×32 float32 tiles → vectorized numpy
    NDVI kernel with per-tile partial aggregates → tiny final groupBy
    (operators/raster.py). Shares ndvi_scene_stats' oracle — the two
    physical paths must agree bit-for-bit at round(6)."""
    from ...operators.raster import pixels_to_tiles, tile_ndvi, tile_scene_stats

    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    return tile_scene_stats(tile_ndvi(pixels_to_tiles(px, tile=32)))


@register(
    "ndvi_bbox_clip",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id, count(*) AS n_pixels, round(avg(ndvi), 6) AS mean_ndvi
    FROM nv
    WHERE x BETWEEN 20 AND 59 AND y BETWEEN 30 AND 69
    GROUP BY scene_id
    """,
    tags=("ndvi", "spatial"),
)
def q_ndvi_bbox_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2's sargable core: the AOI clip as a bbox range predicate
    (the prefilter our st_* wrappers emit; FIXTURES.md §4 rectangle)."""
    nv = _ndvi_pixels_df(spark, sf_dir)
    return (
        nv.filter(F.col("x").between(20, 59) & F.col("y").between(30, 69))
        .groupBy("scene_id")
        .agg(F.count("*").alias("n_pixels"), F.round(F.avg("ndvi"), 6).alias("mean_ndvi"))
    )


@register(
    "ndvi_overviews",
    oracle=_NDVI_SQL
    + """
    , l2 AS (
      SELECT scene_id,
             CAST(floor(y / 2) AS INT) AS ty, CAST(floor(x / 2) AS INT) AS tx,
             avg(ndvi) AS v
      FROM nv WHERE ndvi IS NOT NULL GROUP BY 1, 2, 3
    ),
    l4 AS (
      SELECT scene_id,
             CAST(floor(ty / 2) AS INT) AS ty, CAST(floor(tx / 2) AS INT) AS tx,
             avg(v) AS v
      FROM l2 GROUP BY 1, 2, 3
    )
    SELECT 2 AS level, scene_id, count(*) AS n_tiles, round(avg(v), 6) AS mean_v FROM l2 GROUP BY scene_id
    UNION ALL
    SELECT 4 AS level, scene_id, count(*) AS n_tiles, round(avg(v), 6) AS mean_v FROM l4 GROUP BY scene_id
    """,
    tags=("ndvi", "agg"),
)
def q_ndvi_overviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the overview pyramid as a hash-agg cascade — each level ¼
    the rows of the last (compute_ndvi.py:146-157). Level summaries
    keep the compared result small while checking every tile."""
    from ...operators.overviews import overview_cascade

    nv = _ndvi_pixels_df(spark, sf_dir).filter(F.col("ndvi").isNotNull())
    levels = overview_cascade(nv, factors=(2, 4), value_col="ndvi")
    out = None
    for lvl, df in levels.items():
        s = df.groupBy("scene_id").agg(
            F.count("*").alias("n_tiles"), F.round(F.avg("v"), 6).alias("mean_v")
        ).select(F.lit(lvl).alias("level"), "scene_id", "n_tiles", "mean_v")
        out = s if out is None else out.unionAll(s)
    return out


@register(
    "ndvi_tile_composite",
    oracle=_NDVI_SQL
    + """
    , comp AS (
      SELECT y, x, max(ndvi) AS v
      FROM nv WHERE ndvi IS NOT NULL
      GROUP BY y, x)
    SELECT CAST(count(*) AS BIGINT) AS n_pixels, round(avg(v), 6) AS mean_v
    FROM comp
    """,
    tags=("ndvi", "raster", "agg"),
)
def q_ndvi_tile_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenest-pixel mosaic through the TILE codec: per-position
    elementwise fmax across the 3 derived scenes
    (operators/raster.py::tile_composite — the kernel the streaming
    product stream_scene_composite maintains incrementally), unpacked
    and summarized. Must equal the pixel-relational max-per-(y,x)
    oracle exactly."""
    from ...operators.raster import (
        pixels_to_tiles,
        tile_composite,
        tile_ndvi,
        tiles_to_pixels,
    )

    px = (
        derived_pixels(spark, sf_dir)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    comp = tile_composite(tile_ndvi(pixels_to_tiles(px, tile=32)))
    v = tiles_to_pixels(comp, "v")
    return v.agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.round(F.avg("v"), 6).alias("mean_v"),
    )


@register(
    "ndvi_annual_composite",
    oracle=_TS_NDVI_SQL
    + """
    , comp AS (
      SELECT CAST(floor(period / 100.0) AS INT) AS yr, y, x,
             max(ndvi) AS cv, count(*) AS n_obs
      FROM nv WHERE ndvi IS NOT NULL GROUP BY 1, 2, 3
    )
    SELECT yr, count(*) AS n_pixels,
           round(avg(cv), 6) AS mean_composite,
           round(avg(CAST(n_obs AS DOUBLE)), 2) AS mean_obs
    FROM comp GROUP BY yr
    """,
    tags=("ndvi", "timeseries", "agg"),
)
def q_ndvi_annual_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annual greenest-pixel composite (max NDVI per pixel per year) —
    the classic cloud-robust Landsat product, one hash-agg cascade
    (operators/timeseries.py). Per-year summary keeps the compared
    result small while every composite cell feeds the average."""
    from ...operators.timeseries import temporal_composite

    nv = _ts_ndvi_df(spark, sf_dir).withColumn(
        "yr", F.floor(F.col("period") / F.lit(100.0)).cast("int")
    )
    comp = temporal_composite(nv, keys=("yr", "y", "x"))
    return comp.groupBy("yr").agg(
        F.count("*").alias("n_pixels"),
        F.round(F.avg("cv"), 6).alias("mean_composite"),
        F.round(F.avg(F.col("n_obs").cast("double")), 2).alias("mean_obs"),
    )


@register(
    "ndvi_multi_index",
    oracle=_TS_NDVI_SQL
    + """
    SELECT period, count(*) AS n_pixels,
           round(avg(ndvi), 6) AS mean_ndvi,
           round(avg(2.5 * (nir_sr - red_sr) / (nir_sr + 2.4 * red_sr + 1.0)), 6) AS mean_evi2,
           round(avg(1.5 * (nir_sr - red_sr) / (nir_sr + red_sr + 0.5)), 6) AS mean_savi
    FROM nv WHERE ndvi IS NOT NULL
    GROUP BY period
    """,
    tags=("ndvi", "timeseries", "agg"),
)
def q_ndvi_multi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three vegetation indices (NDVI, EVI2, SAVI) in ONE fused pass
    over the paired grid — multi-expression aggregate, single shuffle,
    all Catalyst codegen (functions/ndvi.py evi2/savi). The reference
    would run three separate raster passes for this."""
    from ...functions.ndvi import evi2, savi

    nv = _ts_ndvi_df(spark, sf_dir).filter(F.col("ndvi").isNotNull())
    return nv.groupBy("period").agg(
        F.count("*").alias("n_pixels"),
        F.round(F.avg("ndvi"), 6).alias("mean_ndvi"),
        F.round(F.avg(evi2("red_sr", "nir_sr")), 6).alias("mean_evi2"),
        F.round(F.avg(savi("red_sr", "nir_sr")), 6).alias("mean_savi"),
    )


@register(
    "ndvi_greenup_period",
    oracle=_TS_NDVI_SQL
    + """
    , g AS (
      SELECT y, x, min(period) AS first_period
      FROM nv WHERE ndvi >= 0.2
      GROUP BY y, x
    )
    SELECT first_period, count(*) AS n_pixels
    FROM g GROUP BY first_period
    """,
    tags=("ndvi", "timeseries", "agg"),
)
def q_ndvi_greenup_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phenology greenup: the first period each pixel's NDVI reaches
    0.2, histogrammed by period (operators/timeseries.py
    first_crossing — min-over-filter, no window sort)."""
    from ...operators.timeseries import first_crossing

    nv = _ts_ndvi_df(spark, sf_dir)
    g = first_crossing(nv, pixel_keys=("y", "x"), threshold=0.2)
    return g.groupBy("first_period").agg(F.count("*").alias("n_pixels"))


@register(
    "ndvi_anomaly_zscore",
    oracle=_TS_NDVI_SQL
    + """
    , v AS (SELECT period, y, x, ndvi FROM nv WHERE ndvi IS NOT NULL),
    clim AS (
      SELECT y, x, avg(ndvi) AS mu, stddev_samp(ndvi) AS sigma, count(*) AS n
      FROM v GROUP BY y, x),
    z AS (
      SELECT v.period, (v.ndvi - c.mu) / c.sigma AS z
      FROM v JOIN clim c ON c.y = v.y AND c.x = v.x
      WHERE c.n >= 2 AND c.sigma > 0)
    SELECT period, count(*) AS n_obs,
           round(avg(z), 6) AS mean_z,
           CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM z GROUP BY period
    """,
    tags=("ndvi", "timeseries", "agg", "join"),
)
def q_ndvi_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection against per-pixel climatology: z-score each
    observation vs its pixel's long-term mean/std, report per-period
    mean anomaly and |z|>2 outlier counts. Climatology is a hash-agg
    keyed by pixel; the join back is on the same key, so with a
    pixel-partitioned store both sides co-locate and the join is
    shuffle-free (the groupBy output reuses the scan's partitioning).
    A window-function formulation would sort every pixel history;
    agg+join only hashes."""
    v = _ts_ndvi_df(spark, sf_dir).filter(F.col("ndvi").isNotNull()).select(
        "period", "y", "x", "ndvi"
    )
    clim = v.groupBy("y", "x").agg(
        F.avg("ndvi").alias("mu"),
        F.stddev_samp("ndvi").alias("sigma"),
        F.count("*").alias("n"),
    )
    z = (
        v.join(clim, ["y", "x"])
        .filter((F.col("n") >= 2) & (F.col("sigma") > 0))
        .select("period", ((F.col("ndvi") - F.col("mu")) / F.col("sigma")).alias("z"))
    )
    return z.groupBy("period").agg(
        F.count("*").alias("n_obs"),
        F.round(F.avg("z"), 6).alias("mean_z"),
        F.sum(F.when(F.abs("z") > 2, 1).otherwise(0)).alias("n_outliers"),
    )


@register(
    "ndvi_trend",
    oracle=_TS_NDVI_SQL
    + """
    , v AS (
      SELECT y, x, ndvi,
             CAST(floor(period / 100.0) * 12 + period % 100 AS DOUBLE) AS t
      FROM nv WHERE ndvi IS NOT NULL),
    tr AS (
      SELECT y, x, regr_slope(ndvi, t) AS slope, count(*) AS n
      FROM v GROUP BY y, x)
    SELECT CASE WHEN slope > 0.0005 THEN 'greening'
                WHEN slope < -0.0005 THEN 'browning'
                ELSE 'stable' END AS trend_class,
           count(*) AS n_pixels
    FROM tr WHERE n >= 12 AND slope IS NOT NULL
    GROUP BY 1
    """,
    tags=("ndvi", "timeseries", "agg"),
)
def q_ndvi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greening/browning trend per pixel: least-squares slope of NDVI
    against month index via the SQL-standard regr_slope aggregate —
    one hash-agg keyed by pixel, associative partials, no window sort
    (same scale shape as the climatology in ndvi_anomaly_zscore).
    Pixels are classified by slope sign at a ±5e-4/month threshold;
    the compared result is the 3-row class histogram, which is robust
    to last-ulp float divergence between engines."""
    v = (
        _ts_ndvi_df(spark, sf_dir)
        .filter(F.col("ndvi").isNotNull())
        .select(
            "y",
            "x",
            "ndvi",
            (
                F.floor(F.col("period") / F.lit(100.0)) * 12 + F.col("period") % 100
            )
            .cast("double")
            .alias("t"),
        )
    )
    tr = v.groupBy("y", "x").agg(
        F.regr_slope("ndvi", "t").alias("slope"), F.count("*").alias("n")
    )
    trend_class = (
        F.when(F.col("slope") > 0.0005, F.lit("greening"))
        .when(F.col("slope") < -0.0005, F.lit("browning"))
        .otherwise(F.lit("stable"))
    )
    return (
        tr.filter((F.col("n") >= 12) & F.col("slope").isNotNull())
        .groupBy(trend_class.alias("trend_class"))
        .agg(F.count("*").alias("n_pixels"))
    )


@register(
    "warp_bilinear",
    oracle=_NDVI_SQL
    + """
    , dst AS (
      SELECT s.scene_id, i AS y, j AS x,
             (i + 0.5) * 2.5 - 0.5 AS sy, (j + 0.5) * 2.5 - 0.5 AS sx
      FROM (SELECT DISTINCT scene_id FROM nv) s
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS i)
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS j)
    ),
    c AS (
      SELECT scene_id, y, x,
             CAST(floor(sy) AS INT) AS y0, CAST(floor(sx) AS INT) AS x0,
             sy - floor(sy) AS wy, sx - floor(sx) AS wx
      FROM dst
    )
    SELECT c.scene_id, c.y, c.x,
           round(v00.ndvi * (1 - c.wy) * (1 - c.wx)
               + v01.ndvi * (1 - c.wy) * c.wx
               + v10.ndvi * c.wy * (1 - c.wx)
               + v11.ndvi * c.wy * c.wx, 6) + 0.0 AS v
    FROM c
    JOIN nv v00 ON v00.scene_id = c.scene_id AND v00.y = c.y0     AND v00.x = c.x0
    JOIN nv v01 ON v01.scene_id = c.scene_id AND v01.y = c.y0     AND v01.x = c.x0 + 1
    JOIN nv v10 ON v10.scene_id = c.scene_id AND v10.y = c.y0 + 1 AND v10.x = c.x0
    JOIN nv v11 ON v11.scene_id = c.scene_id AND v11.y = c.y0 + 1 AND v11.x = c.x0 + 1
    WHERE v00.ndvi IS NOT NULL AND v01.ndvi IS NOT NULL
      AND v10.ndvi IS NOT NULL AND v11.ndvi IS NOT NULL
    """,
    tags=("ndvi", "raster", "warp"),
)
def q_warp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear resample of the 100×100 NDVI grid onto 40×40 (scale
    2.5, pixel-center convention) — the reference's reprojection
    kernel (compute_ndvi.py:162-179) as a per-scene applyInArrow
    warp (operators/warp.py). The oracle replays the identical
    arithmetic as 4-neighbor joins, so interpolation weights, the
    all-4-valid mask, and FP association must all line up."""
    from ...operators.warp import resample_scene_pixels

    nv = _ndvi_pixels_df(spark, sf_dir)
    out = resample_scene_pixels(
        nv, out_height=40, out_width=40, scale_y=2.5, scale_x=2.5,
        value_col="ndvi", src_height=100, src_width=100,
    )
    return out.select("scene_id", "y", "x", canon_round("v", 6).alias("v"))


@register(
    "warp_nearest",
    oracle=_NDVI_SQL
    + """
    , dst AS (
      SELECT s.scene_id, i AS y, j AS x,
             CAST(floor((i + 0.5) * 2.5) AS INT) AS yn,
             CAST(floor((j + 0.5) * 2.5) AS INT) AS xn
      FROM (SELECT DISTINCT scene_id FROM nv) s
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS i)
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS j)
    )
    SELECT d.scene_id, d.y, d.x, round(nv.ndvi, 6) + 0.0 AS v
    FROM dst d
    JOIN nv ON nv.scene_id = d.scene_id AND nv.y = d.yn AND nv.x = d.xn
    WHERE nv.ndvi IS NOT NULL
    """,
    tags=("ndvi", "raster", "warp"),
)
def q_warp_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resample of the 100×100 NDVI grid onto 40×40
    — the reference's OTHER resampling kernel, dispatched for
    non-float bands (`Resampling.nearest`, load_to_postgis.py:132):
    index = floor(src_coord + 0.5), no value blending, so categorical
    and DN data survive the warp unmixed. The oracle picks the same
    nearest source cell by a plain equi-join — nearest is exactly
    reproducible cross-engine (no FP-association concerns at all;
    src = (i+0.5)·2.5 − 0.5, so floor(src + 0.5) = floor((i+0.5)·2.5)).
    Values are canon_round'ed: tiny negative NDVI rounds to -0.0 in
    DuckDB but +0.0 in Spark, which the driver's value-hash sees."""
    from ...operators.warp import resample_scene_pixels

    nv = _ndvi_pixels_df(spark, sf_dir)
    out = resample_scene_pixels(
        nv, out_height=40, out_width=40, scale_y=2.5, scale_x=2.5,
        value_col="ndvi", src_height=100, src_width=100, method="nearest",
    )
    return out.select("scene_id", "y", "x", canon_round("v", 6).alias("v"))


@register(
    "warp_dtype_dispatch",
    oracle=_NDVI_SQL
    + """
    , dn AS (
      SELECT p.scene_id, p.y, p.x, p.red_dn AS dn
      FROM paired p
      WHERE p.red_dn IS NOT NULL AND p.nir_dn IS NOT NULL
    ),
    dst AS (
      SELECT s.scene_id, i AS y, j AS x,
             CAST(floor((i + 0.5) * 2.5) AS INT) AS yn,
             CAST(floor((j + 0.5) * 2.5) AS INT) AS xn
      FROM (SELECT DISTINCT scene_id FROM dn) s
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS i)
      CROSS JOIN (SELECT unnest(generate_series(0, 39)) AS j)
    )
    SELECT d.scene_id,
           count(*) AS n_out,
           CAST(sum(CAST(dn.dn AS BIGINT)) AS BIGINT) AS dn_sum,
           CAST(sum(CASE WHEN dn.dn = CAST(dn.dn AS BIGINT) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_integer_valued
    FROM dst d
    JOIN dn ON dn.scene_id = d.scene_id AND dn.y = d.yn AND dn.x = d.xn
    GROUP BY d.scene_id
    """,
    tags=("ndvi", "raster", "warp"),
)
def q_warp_dtype_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dtype dispatch (`Resampling.bilinear if
    dtype.startswith("float") else Resampling.nearest`,
    load_to_postgis.py:132) as a plan-time schema decision
    (operators/warp.py::resample_dispatch_dtype): warping the INT
    red-DN band routes to nearest automatically. The output audit
    proves no blending happened — every warped DN is integer-valued
    and the per-scene DN checksum matches the oracle's equi-join
    replay exactly (bilinear would interpolate fractional DNs and
    break both columns)."""
    from ...operators.warp import resample_dispatch_dtype

    px = pair_bands(derived_pixels(spark, sf_dir))
    dn = px.filter(F.col("red_dn").isNotNull()).select(
        "scene_id", "y", "x", F.col("red_dn").cast("int").alias("dn")
    )
    out = resample_dispatch_dtype(
        dn, out_height=40, out_width=40, scale_y=2.5, scale_x=2.5,
        value_col="dn", src_height=100, src_width=100,
    )
    return out.groupBy("scene_id").agg(
        F.count("*").alias("n_out"),
        F.sum(F.col("v").cast("bigint")).cast("bigint").alias("dn_sum"),
        F.sum((F.col("v") == F.floor("v")).cast("int")).cast("bigint").alias(
            "n_integer_valued"
        ),
    )


@register(
    "band_pairing_counts",
    oracle="""
    WITH px AS ({pixels})
    SELECT scene_id, band, count(*) AS n_rows,
           count(DISTINCT (y, x)) AS n_cells
    FROM px GROUP BY scene_id, band
    """.format(pixels=_PIXELS_SQL),
    tags=("ndvi",),
)
def q_band_pairing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 input audit: rows and distinct grid cells per (scene, band)."""
    px = derived_pixels(spark, sf_dir)
    return px.groupBy("scene_id", "band").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("y", "x").alias("n_cells"),
    )


# ===========================================================================
# C. Training-data operators: dedup / text analysis (documents table)
# ===========================================================================


@register(
    "dedup_exact_stats",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_exact_dups
    FROM documents GROUP BY source
    """,
    tags=("dedup",),
)
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup audit per source: hash-distinct vs raw counts."""
    d = _t(spark, sf_dir, "documents")
    h = TXT.exact_fingerprint("text")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count("*") - F.countDistinct(h)).alias("n_exact_dups"),
    )


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                   '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_docs
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
    tags=("dedup",),
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dup groups (casefold + strip punct +
    collapse whitespace → md5): catches reformat-only duplicates."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(TXT.normalized_fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    headline=True,
    tags=("dedup",),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (3-word shingles, 8 hashes, 4 bands,
    verify at jaccard ≥ 0.8) — operators/dedup.py end to end."""
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_near_duplicates(d, threshold=0.8)


@register(
    "dedup_minhash_estimate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
    ),
    shl AS (
      SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w) - 2, 0)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM tok WHERE len(w) >= 3
    ),
    sh AS (SELECT doc_id, md5(unnest(shingles)) AS d FROM shl),
    mh AS (
      SELECT doc_id,
             min(substr(d,  1, 4)) AS h0, min(substr(d,  5, 4)) AS h1,
             min(substr(d,  9, 4)) AS h2, min(substr(d, 13, 4)) AS h3,
             min(substr(d, 17, 4)) AS h4, min(substr(d, 21, 4)) AS h5,
             min(substr(d, 25, 4)) AS h6, min(substr(d, 29, 4)) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, unnest([md5(h0 || h1), md5(h2 || h3), md5(h4 || h5), md5(h6 || h7)]) AS band
      FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             ((ma.h0 = mb.h0)::INT + (ma.h1 = mb.h1)::INT + (ma.h2 = mb.h2)::INT
              + (ma.h3 = mb.h3)::INT + (ma.h4 = mb.h4)::INT + (ma.h5 = mb.h5)::INT
              + (ma.h6 = mb.h6)::INT + (ma.h7 = mb.h7)::INT) / 8.0 AS est,
             round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4)
               AS exact
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b
      JOIN shl sa ON sa.doc_id = c.doc_a
      JOIN shl sb ON sb.doc_id = c.doc_b
    )
    SELECT count(*) AS n_pairs,
           round(avg(est), 4) AS mean_est,
           round(avg(exact), 4) AS mean_exact,
           round(avg(abs(est - exact)), 4) AS mean_abs_err,
           CAST(sum(CASE WHEN est > exact THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overestimated
    FROM scored
    """,
    tags=("dedup", "approx"),
)
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated vs exact Jaccard on the SAME LSH candidate pairs —
    the calibration of the production fast path
    (operators/dedup.py::estimated_jaccard_pairs): #matching minhash
    slots / k is an unbiased Jaccard estimator, so skipping the
    shingle-array verify trades ±1/√k noise for dropping the verify
    stage that dominates the sf1 headline (2.2 s of 3.9 s). The audit
    quantifies the trade cross-engine: mean estimate, mean exact,
    mean |error|, and the overestimate count, all from the identical
    md5-slice signatures in both engines."""
    d = _t(spark, sf_dir, "documents")
    sc = spark.sparkContext
    dd = d.repartition(sc.defaultParallelism, "doc_id")
    from ...operators.iterate import scoped_persist

    shingled = scoped_persist(
        DD.shingle_docs(dd, "text", "doc_id"), "part01.minhash_estimate.shingled"
    )
    sigs = DD.minhash_signatures(shingled, "doc_id")
    from ...operators.iterate import materialize

    sigs = materialize(sigs)  # feeds bands + both estimate sides
    banded = DD.lsh_bands(sigs, "doc_id")
    cands = DD.lsh_candidate_pairs(banded, "doc_id")
    est = DD.estimated_jaccard_pairs(cands, sigs, "doc_id")
    exact = DD.verified_jaccard_pairs(cands, shingled, "doc_id", threshold=0.0)
    both = est.join(exact, ["doc_a", "doc_b"])
    return both.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("est_jaccard"), 4).alias("mean_est"),
        F.round(F.avg("jaccard"), 4).alias("mean_exact"),
        F.round(F.avg(F.abs(F.col("est_jaccard") - F.col("jaccard"))), 4).alias(
            "mean_abs_err"
        ),
        F.sum((F.col("est_jaccard") > F.col("jaccard")).cast("int"))
        .cast("bigint")
        .alias("n_overestimated"),
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    th AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(token), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(token), 4, 1)) - 1) AS hbits
      FROM tok
    ),
    bitsums AS (
      SELECT doc_id, pos,
             sum(CASE WHEN (hbits // CAST(pow(2, pos) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, 15)) AS pos)
      GROUP BY doc_id, pos
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bitsums GROUP BY doc_id
    )
    SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_docs
    FROM fp GROUP BY simhash HAVING count(*) > 1
    """,
    tags=("dedup",),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) bucket groups — operators/dedup.py simhash."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_groups(d)


@register(
    "dedup_winnowing",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(t) - 7, 0)),
                            i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hashes
      FROM norm
    ),
    fps AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, greatest(len(hashes) - 3, 0)),
                              j -> list_min(hashes[j:j+3])))) AS fp
      FROM grams
    )
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_docs
    FROM fps GROUP BY fp HAVING count(*) > 1
    """,
    tags=("dedup", "text"),
)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash + window-min selection, the MOSS
    scheme): fingerprints shared by >1 doc — catches partial overlap
    (any common substring ≥ 11 chars), which whole-doc hashing cannot
    (functions/text.py winnowing_fingerprints; k=8, w=4).

    The fingerprint projection costs O(chars) md5s per row — ~100×
    any other per-row kernel here — so the scan's natural split (ONE
    task for a single small file) serializes it. The explicit
    repartition spreads rows across every core BEFORE the expensive
    projection: a cheap narrow shuffle buying full parallelism
    (measured 550 s → 30 s at sf0.01 on local[32]). At real scale
    file splits provide partitions, but keying them to compute cost
    rather than bytes is still the right call for kernels this hot.

    Normalization AND the k-gram hash array are staged as real columns
    between projections (winnowing_fingerprint_rows): lambda-cloned
    expressions re-evaluate per element, so inlining the regex made
    the whole-document regexp_replace run once per k-gram — O(chars²),
    90 s at sf0.01; fully staged it is O(chars) and ~10 s. The helper
    returns exploded rows because handing the fingerprint ARRAY
    across one more select lets CollapseProject re-inline the hash
    array into the window lambda (see its docstring)."""
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (
        TXT.winnowing_fingerprint_rows(d, "text", "doc_id", k=8, w=4)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "approx_distinct_stats",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           count(*) AS n,
           TRUE AS hll_within_5pct,
           TRUE AS p50_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def q_approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate tier for 100 TB interactive profiling:
    approx_count_distinct (HLL++) and approx_percentile (t-digest
    family) — sketches merge associatively, so partials combine
    map-side exactly like sums.

    Sketch registers differ across engines, so the raw estimates are
    not hash-matchable; what IS cross-engine checkable is the
    accuracy CONTRACT. Both estimates are computed alongside their
    exact counterparts in the same aggregate and compared in-plan to
    a ±5% relative band (HLL++ at rsd=0.02 and percentile_approx at
    accuracy=10000 sit far inside it); the oracle asserts the exact
    values plus literal TRUE for both band checks."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
            F.count_distinct("user_id").cast("bigint").alias("exact_users"),
            F.percentile_approx("value", 0.5, 10000).alias("ap50"),
            F.expr("percentile(value, 0.5)").alias("ep50"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            "exact_users",
            "n",
            (
                F.abs(F.col("au") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
            (F.abs(F.col("ap50") - F.col("ep50")) <= 0.05 * F.col("ep50")).alias(
                "p50_within_5pct"
            ),
        )
    )


@register(
    "text_quality",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
             AS total_tokens,
           round(avg(len(string_split_regex(lower(trim(text)), '\\s+'))), 4) AS avg_tokens,
           round(avg((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                     / greatest(length(text), 1)), 6) AS avg_punct_ratio,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY source
    """,
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality profile per source: token counts + punct ratio."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(TXT.tokens("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.round(F.avg(TXT.punct_ratio("text")), 6).alias("avg_punct_ratio"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "lang_id_confusion",
    oracle="""
    WITH scored AS (
      SELECT lang,
             [
               {{'neg': -len(list_filter(w, t -> list_contains(['der','die','das','und','nicht','ist'], t))), 'lang': 'de'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['the','and','of','to','is','a'], t))), 'lang': 'en'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['el','la','de','que','y','es'], t))), 'lang': 'es'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['le','la','les','et','est','que'], t))), 'lang': 'fr'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['de','shi','le','bu','wo','zai'], t))), 'lang': 'zh'}}
             ] AS pairs
      FROM (SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents)
    )
    SELECT lang, list_sort(pairs)[1]['lang'] AS pred_lang, count(*) AS n
    FROM scored GROUP BY lang, pred_lang
    """.replace("{{", "{").replace("}}", "}"),
    tags=("text",),
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs the labeled lang: confusion counts."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", TXT.predict_lang("text").alias("pred_lang")).agg(
        F.count("*").alias("n")
    )


@register(
    "token_counting",
    oracle="""
    SELECT lang,
           CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(list_filter(string_split_regex(text, '[\\s[:punct:]]+'), x -> x != '')))
             AS BIGINT) AS bpe_ish_tokens
    FROM documents GROUP BY lang
    """,
    tags=("text",),
)
def q_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace + punctuation-aware."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(TXT.tokens("text", lowercase=False))).cast("bigint").alias("ws_tokens"),
        F.sum(F.size(TXT.bpe_ish_tokens("text"))).cast("bigint").alias("bpe_ish_tokens"),
    )


@register(
    "multimodal_byte_stats",
    oracle="""
    SELECT source,
           count(*) AS n_payloads,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           count(DISTINCT md5(text)) AS n_distinct
    FROM documents GROUP BY source
    """,
    tags=("multimodal", "binary"),
)
def q_multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-checked: payloads as BinaryType
    (utf-8 encoded doc text standing in for media bytes), with
    byte-length and content-hash aggregates — the metadata/dedup ops a
    multimodal lake runs without ever decoding payloads
    (operators/multimodal.py owns the decode kernels)."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.groupBy("source").agg(
        F.count("*").alias("n_payloads"),
        F.sum(F.octet_length(payload)).cast("bigint").alias("total_bytes"),
        F.max(F.octet_length(payload)).cast("bigint").alias("max_bytes"),
        F.countDistinct(F.md5(payload)).alias("n_distinct"),
    )


@register(
    "jpeg_roundtrip_fidelity",
    oracle="""
    SELECT doc_id,
           CAST(24 + (doc_id % 3) * 8 AS INT) AS height,
           CAST(32 + (doc_id % 5) * 8 AS INT) AS width,
           CAST(3 AS INT) AS channels,
           true AS within_tol
    FROM documents WHERE doc_id < 12 ORDER BY doc_id
    """,
    tags=("multimodal", "jpeg", "binary"),
)
def q_jpeg_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline JPEG codec (operators/jpeg.py) under the driver
    gate: per document, a deterministic smooth RGB image (dims keyed
    off doc_id) is ENCODED to real JFIF bytes and DECODED back inside
    one Arrow kernel. The decoder reads height/width/channels from the
    actual SOF0 header and within_tol asserts max|err| ≤ 6 at q=95
    4:4:4 — the oracle predicts every column from doc_id alone, so a
    header-layout, sampling, Huffman, or IDCT bug flips a value and
    fails the hash. Narrow Arrow kernel (arrow_kernels.map_rows);
    payloads never shuffle."""
    import numpy as np
    from pyspark.sql import types as T

    from ...operators.arrow_kernels import map_rows
    from ...operators.jpeg import decode_jpeg, encode_jpeg

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 12).select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id bigint, height int, width int, channels int, within_tol boolean"
    )

    def kernel(row):
        doc_id = int(row.doc_id)
        h = 24 + (doc_id % 3) * 8
        w = 32 + (doc_id % 5) * 8
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        img = np.stack(
            [
                np.clip(ii * 4 + doc_id, 0, 255),
                np.clip(jj * 3, 0, 255),
                np.clip(255 - ii - jj * 2, 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=95, subsample="444"))
        err = int(np.abs(out.astype(int) - img.astype(int)).max())
        yield doc_id, *out.shape, err <= 6

    return map_rows(d, kernel, schema).orderBy("doc_id")


@register(
    "webp_roundtrip_fidelity",
    oracle="""
    SELECT doc_id,
           CAST(16 + (doc_id % 4) * 8 AS INT) AS height,
           CAST(24 + (doc_id % 3) * 8 AS INT) AS width,
           CAST(3 AS INT) AS channels,
           'vp8l' AS lossless_codec,
           'vp8' AS lossy_codec,
           true AS lossless_exact,
           true AS lossy_within_tol
    FROM documents WHERE doc_id < 10 ORDER BY doc_id
    """,
    tags=("multimodal", "webp", "binary"),
)
def q_webp_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WebP path (operators/webp.py) under the driver gate: per
    document, a deterministic RGB image (dims keyed off doc_id) is
    encoded BOTH lossless (VP8L) and lossy (VP8, q=90) and decoded
    back inside one Arrow kernel. The reported codec comes from the
    PURE-SPEC container parse (webp_info — RIFF walk, VP8 key-frame
    tag + start code, VP8L signature bits), the dims from the decoded
    array, lossless_exact asserts bit-identity and lossy_within_tol a
    mean-|err| < 16 envelope — so a container-layout bug, a codec
    misroute, or a decode regression flips a value and fails the
    hash. Narrow Arrow kernel (arrow_kernels.map_rows); payloads
    never shuffle."""
    import numpy as np
    from pyspark.sql import types as T

    from ...operators.arrow_kernels import map_rows
    from ...operators.webp import decode_webp, encode_webp, webp_info

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10).select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id bigint, height int, width int, channels int, "
        "lossless_codec string, lossy_codec string, "
        "lossless_exact boolean, lossy_within_tol boolean"
    )

    def kernel(row):
        doc_id = int(row.doc_id)
        h = 16 + (doc_id % 4) * 8
        w = 24 + (doc_id % 3) * 8
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        img = np.stack(
            [
                np.clip(ii * 5 + doc_id, 0, 255),
                np.clip(jj * 4, 0, 255),
                np.clip(200 - ii * 2 - jj, 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        ll = encode_webp(img, lossless=True)
        lossy = encode_webp(img, quality=90.0)
        out_ll = decode_webp(ll)
        err = float(np.abs(decode_webp(lossy).astype(int) - img.astype(int)).mean())
        yield (
            doc_id, *out_ll.shape, webp_info(ll)["codec"], webp_info(lossy)["codec"],
            bool(np.array_equal(out_ll, img)), err < 16.0,
        )

    return map_rows(d, kernel, schema).orderBy("doc_id")


@register(
    "webp_anim_census",
    oracle="""
    SELECT doc_id,
           CAST(2 + (doc_id % 2) AS INT) AS n_frames,
           CAST(20 AS INT) AS height,
           CAST(32 AS INT) AS width,
           true AS headers_roundtrip,
           true AS compositing_correct
    FROM documents WHERE doc_id < 8 ORDER BY doc_id
    """,
    tags=("multimodal", "webp", "binary", "video"),
)
def q_webp_anim_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated WebP as a VIDEO operator under the driver gate: per
    document a deterministic 2-3 frame animation (full-canvas base +
    doc_id-keyed patch frames) is CONTAINER-ENCODED (VP8X/ANIM/ANMF,
    operators/webp.py:encode_webp_animation, frames as VP8L) and
    extracted back (webp_frames — canvas compositing with
    replace/dispose semantics). headers_roundtrip pins the pure-spec
    ANMF header fields (rects, durations, flags) and
    compositing_correct pins the composited pixels of every frame
    against a straight numpy replay — a container-layout, frame
    decode, or compositing bug flips a boolean and fails the hash.
    Frame pixel decode is the NATIVE VP8L path (no libwebp on the
    read side)."""
    import numpy as np
    from pyspark.sql import types as T

    from ...operators.arrow_kernels import map_rows
    from ...operators.webp import encode_webp_animation, webp_frame_headers, webp_frames

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 8).select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id bigint, n_frames int, height int, width int, "
        "headers_roundtrip boolean, compositing_correct boolean"
    )
    H, W = 20, 32

    def kernel(row):
        doc_id = int(row.doc_id)
        n = 2 + (doc_id % 2)
        base = np.zeros((H, W, 3), np.uint8)
        base[:, :, 0] = 100 + doc_id * 10
        frames = [base]
        rects = [(0, 0)]
        durs = [30]
        for j in range(1, n):
            ph, pw = 6 + 2 * j, 8 + 2 * j
            patch = np.full(
                (ph, pw, 3), [(doc_id * 40 + j * 90) % 256, 250, j * 70 % 256], np.uint8
            )
            frames.append(patch)
            rects.append((2 * j, 2 * j))
            durs.append(30 + 10 * j)
        payload = encode_webp_animation(frames, durs, rects=rects, blend=False, dispose_bg=False)
        heads = webp_frame_headers(payload)
        hr = (
            len(heads) == n
            and [h_["duration_ms"] for h_ in heads] == durs
            and [(h_["x"], h_["y"]) for h_ in heads] == rects
            and all(not h_["blend"] and not h_["dispose_bg"] for h_ in heads)
        )
        got, _meta = webp_frames(payload)
        # straight numpy replay of replace-compositing
        canvas = np.zeros((H, W, 4), np.uint8)
        ok = got.shape == (n, H, W, 4)
        for j, (fr, (x, y)) in enumerate(zip(frames, rects)):
            rgba = np.concatenate([fr, np.full(fr.shape[:2] + (1,), 255, np.uint8)], axis=2)
            canvas[y : y + fr.shape[0], x : x + fr.shape[1]] = rgba
            ok = ok and bool(np.array_equal(got[j], canvas))
        yield doc_id, *got.shape[:3], bool(hr), bool(ok)

    return map_rows(d, kernel, schema).orderBy("doc_id")


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id >= 5
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    headline=True,
    tags=("similarity",),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 5 query vectors: one corpus scan,
    windowed top-k. Uses the Arrow/numpy scoring kernel
    (similarity.brute_force_topk_np) — ~4× over the codegen
    higher-order-function path at sf1 with bit-identical results
    (dim-ordered accumulation matches aggregate()/list_sum exactly;
    equality with the native path is test-pinned)."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk_np(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5), k=5
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(generate_series(1, 8),
                  i -> CASE WHEN embedding[i] >= 0 THEN CAST(pow(2, i - 1) AS BIGINT)
                            ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < 5 AND b.vec_id >= 5
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity",),
)
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: sign-LSH bucketing (8 fixed hyperplanes) then
    top-k within the query's bucket only — candidate volume n/2^8."""
    e = _t(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id", "embedding", SIM.sign_lsh_bucket("embedding", 8).alias("bucket")
    )
    q = b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"), "bucket"
    )
    c = b.filter(F.col("vec_id") >= 5)
    sim = F.round(SIM.cosine("q_vec", "embedding"), 6).alias("cosine_sim")
    scored = c.join(F.broadcast(q), "bucket").select("query_id", "vec_id", sim)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cosine_sim")
    )


@register(
    "embedding_neardup",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(generate_series(1, 8),
                  i -> CASE WHEN embedding[i] >= 0 THEN CAST(pow(2, i - 1) AS BIGINT)
                            ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COSINE_SQL}, 6) AS cosine_sim
    FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_COSINE_SQL}, 6) >= 0.3
    """,
    tags=("similarity", "dedup"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within sign-LSH buckets."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.lsh_near_duplicate_pairs(e, threshold=0.3, n_bits=8)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id BETWEEN 5 AND 12
    ),
    assign AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {_L2_SQL} ASC, c.centroid_id ASC
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    lists AS (
      SELECT a.vec_id, a.centroid_id FROM assign a
      WHERE a.rn = 1 AND a.vec_id >= 5
    ),
    probes AS (
      SELECT a.vec_id AS query_id, a.centroid_id FROM assign a
      WHERE a.rn <= 2 AND a.vec_id < 5
    ),
    scored AS (
      SELECT p.query_id, l.vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM probes p
      JOIN lists l ON l.centroid_id = p.centroid_id
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = l.vec_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity",),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: inverted lists under 8 deterministic centroids
    (corpus rows 5-12), queries probe their 2 nearest cells —
    candidate volume ~nprobe/k of the corpus, shuffle keyed on the
    bounded centroid id (operators/similarity.py ivf_topk)."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(
        corpus=e.filter(F.col("vec_id") >= 5),
        queries=e.filter(F.col("vec_id") < 5),
        centroids=e.filter(F.col("vec_id").between(5, 12)),
        k=5,
        nprobe=2,
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    shl AS (
      SELECT doc_id, source, lang, list_distinct(list_transform(
          generate_series(1, greatest(len(w) - 2, 0)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM tok WHERE len(w) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
    FROM shl a
    JOIN shl b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) >= 0.5
    """,
    tags=("dedup",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within (source, lang) blocking buckets —
    the blocked-exact tier of the dedup family: no sketch, bucket
    keys bound the pair explosion (vs. MinHash's probabilistic
    buckets). One shuffle on the block key."""
    d = _t(spark, sf_dir, "documents")
    sh = DD.shingle_docs(d).join(d.select("doc_id", "source", "lang"), "doc_id")
    a = sh.select(
        F.col("doc_id").alias("doc_a"), "source", "lang", F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), "source", "lang", F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        a.join(b, ["source", "lang"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# ===========================================================================
# E. Events: time-series / streaming-equivalent / as-of
# ===========================================================================


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
    tags=("events", "streaming"),
)
def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the batch twin of the
    streaming/events.py watermarked query (identical semantics)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


@register(
    "events_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM s GROUP BY user_id
    """,
    tags=("events", "window"),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap): lag + running sum of session starts
    — the stateful-streaming shape expressed as batch windows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap_us.isNull() | (gap_us > 1800 * 1000 * 1000), 1).otherwise(0)
    sess = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(nullif(regexp_extract(props, '"k": (\\d+)', 1), '') AS INT)) AS BIGINT)
             AS sum_k,
           round(avg(CAST(nullif(regexp_extract(props, '"k": (\\d+)', 1), '') AS INT)), 4)
             AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    tags=("events", "json"),
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: extract props.k (the STAC-properties
    idiom, SURVEY §1.1) via regexp — engine-portable JSON access."""
    e = _t(spark, sf_dir, "events")
    k = F.nullif(F.regexp_extract("props", r'"k": (\d+)', 1), F.lit("")).cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count("*").alias("n"),
    )


@register(
    "events_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS asof_orderkey,
           strftime(o.o_orderdate + INTERVAL 25 YEAR, '%Y-%m-%d') AS asof_date
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate + INTERVAL 25 YEAR <= e.ts
    QUALIFY row_number() OVER (
      PARTITION BY e.event_id
      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
    tags=("events", "asof"),
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one): each event matched to the
    user's latest order at/before the event time (order dates shifted
    +25y into the event era).

    Implementation is the scalable union trick: interleave both
    streams on (key, time), then `last(ignorenulls)` carries the most
    recent order forward — ONE shuffle + ONE window pass, no per-row
    subquery, no join explosion (operators/asof.py).
    """
    from ...operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            (F.col("o_orderdate") + F.expr("INTERVAL 25 YEARS")).alias("o_ts"),
            "o_orderkey",
        )
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_ts",
        right_cols=("o_orderkey", "o_ts"),
        tie_break="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.date_format("o_ts", "yyyy-MM-dd").alias("asof_date"),
    )


@register(
    "range_join_window",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey AS user_id,
             o_orderdate + INTERVAL 25 YEAR AS o_ts
      FROM orders
    )
    SELECT o.o_orderkey, count(*) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM o JOIN events e
      ON e.user_id = o.user_id
     AND e.ts >= o.o_ts AND e.ts < o.o_ts + INTERVAL 6 HOUR
    GROUP BY o.o_orderkey
    """,
    headline=True,
    tags=("join", "range"),
)
def q_range_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — events within 6 h after each order.

    The scalable idiom: quantize both sides to coarse time buckets
    sized to the interval, equi-join on (key, bucket) with the right
    side expanded to the 2 buckets an interval can straddle, then
    refine with the exact range predicate. The shuffle key is
    (user, bucket) — equi-join machinery, map-side pruned — instead
    of a theta-join that degenerates to per-key cross products.
    """
    bucket_s = 6 * 3600
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "value", (F.unix_timestamp("ts") / bucket_s).cast("long").alias("b")
    )
    # Round 9: AQE broadcasts the events side at sf0.1, leaving the
    # orders explode + probe + partial agg fused into the single-task
    # scan of the 1-row-group orders file; spread it (row-group-gated).
    o = (
        _t(spark, sf_dir, "orders", spread_key="o_orderkey")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("user_id"),
            (F.col("o_orderdate") + F.expr("INTERVAL 25 YEARS")).alias("o_ts"),
        )
        .withColumn("b0", (F.unix_timestamp("o_ts") / bucket_s).cast("long"))
        .withColumn("b", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
    )
    return (
        e.join(o, ["user_id", "b"])
        .filter(
            (F.col("ts") >= F.col("o_ts"))
            & (F.col("ts") < F.col("o_ts") + F.expr("INTERVAL 6 HOURS"))
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )


@register(
    "correlated_avg_filter",
    oracle="""
    SELECT l.l_partkey, count(*) AS n_above,
           round(sum(l.l_extendedprice), 2) AS total_above
    FROM lineitem l
    WHERE l.l_quantity > (
      SELECT 1.2 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    HAVING count(*) >= 3
    """,
    tags=("join", "subquery"),
)
def q_correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17's shape): rows above
    1.2× their group's average. De-correlated the way Catalyst does
    it — one aggregate over the correlation key, broadcast back as an
    equi-join — so the 'subquery per row' costs one extra scan, not
    |rows| subqueries (the reference's per-row SELECT anti-pattern,
    load_to_postgis.py:236-241, solved in-plan)."""
    li = _t(spark, sf_dir, "lineitem")
    avgs = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 1.2).alias("thresh")
    )
    return (
        li.join(avgs, li.l_partkey == avgs.pk)
        .filter(F.col("l_quantity") > F.col("thresh"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_above"),
        )
        .filter(F.col("n_above") >= 3)
    )


@register(
    "run_counters",
    oracle="""
    SELECT event_type AS status, count(*) AS n,
           round(count(*)::DOUBLE / (SELECT count(*) FROM events), 6) AS share
    FROM events GROUP BY event_type
    """,
    tags=("events", "agg"),
)
def q_run_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: success/failure-style counters with shares (main.py:143-154)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy(F.col("event_type").alias("status")).agg(F.count("*").alias("n"))
    total = e.count()  # scalar action on a tiny aggregate — driver-side literal
    return counts.select(
        "status", "n", F.round(F.col("n").cast("double") / F.lit(total), 6).alias("share")
    )


@register(
    "aoi_raycast_clip",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id, count(*) AS n_pixels, round(avg(ndvi), 6) AS mean_ndvi
    FROM nv
    WHERE x BETWEEN {minx} AND {maxx} AND y BETWEEN {miny} AND {maxy}
      AND {pred}
    GROUP BY scene_id
    """,
    tags=("ndvi", "spatial"),
)
def q_aoi_raycast_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 in full: AOI polygon clip = sargable bbox prefilter + exact
    even-odd ray cast unrolled as a native codegen expression
    (functions/geo.py; reference semantics compute_ndvi.py:95-134).
    Handles concave polygons — no convexity assumption."""
    from ...functions.geo import clip_filter

    nv = _ndvi_pixels_df(spark, sf_dir)
    return (
        clip_filter(nv, "x", "y", _AOI_RING)
        .groupBy("scene_id")
        .agg(F.count("*").alias("n_pixels"), F.round(F.avg("ndvi"), 6).alias("mean_ndvi"))
    )


_finalize_raycast_oracle()


@register(
    "aoi_multiring_clip",
    oracle=_NDVI_SQL
    + """
    SELECT scene_id, count(*) AS n_pixels, round(avg(ndvi), 6) AS mean_ndvi
    FROM nv
    WHERE x BETWEEN {minx} AND {maxx} AND y BETWEEN {miny} AND {maxy}
      AND {pred}
    GROUP BY scene_id
    """,
    tags=("ndvi", "spatial"),
)
def q_aoi_multiring_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 generalized to polygon-with-holes / multipolygon AOIs: the
    even-odd ray cast sums crossings over every ring's edges mod 2, so
    a hole flips its interior back outside and a disjoint island ring
    adds a second inside region — still one codegen'd expression, no
    UDF (functions/geo.py point_in_rings_col; the reference clips with
    an arbitrary GeoJSON geometry at compute_ndvi.py:108-134, which may
    carry holes/multi-parts)."""
    from ...functions.geo import clip_filter

    nv = _ndvi_pixels_df(spark, sf_dir)
    return (
        clip_filter(nv, "x", "y", _AOI_RINGS)
        .groupBy("scene_id")
        .agg(F.count("*").alias("n_pixels"), F.round(F.avg("ndvi"), 6).alias("mean_ndvi"))
    )


_finalize_multiring_oracle()


@register(
    "cube_revenue",
    oracle="""
    SELECT coalesce(CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR), 'ALL') AS order_year,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (year(CAST(o_orderdate AS DATE)), o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, priority) — all four grouping combinations in
    one pass (Expand + single shuffle), labels coalesced so subtotal
    rows are engine-portable."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    return (
        o.cube(yr.alias("order_year"), F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias("order_year"),
            F.coalesce("priority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@register(
    "grouping_sets_parts",
    oracle="""
    SELECT coalesce(p_type, 'ALL') AS p_type,
           coalesce(p_brand, 'ALL') AS p_brand,
           count(*) AS n_parts,
           round(avg(p_retailprice), 4) AS avg_price
    FROM part
    GROUP BY GROUPING SETS ((p_type), (p_brand), ())
    """,
    tags=("agg", "cube"),
)
def q_grouping_sets_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general multidimensional form CUBE
    and ROLLUP desugar to."""
    p = _t(spark, sf_dir, "part")
    p.createOrReplaceTempView("part_gs")
    return spark.sql("""
        SELECT coalesce(p_type, 'ALL') AS p_type,
               coalesce(p_brand, 'ALL') AS p_brand,
               count(*) AS n_parts,
               round(avg(p_retailprice), 4) AS avg_price
        FROM part_gs
        GROUP BY GROUPING SETS ((p_type), (p_brand), ())
    """)


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
    tags=("agg", "events"),
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`). The approximate path at 100 TB is
    approx_percentile / t-digest; exact is kept as the oracle-checkable
    semantics."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@register(
    "rolling_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             sum(o_totalprice) AS day_total
      FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, strftime(d, '%Y-%m-%d') AS order_date,
           round(sum(day_total) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS revenue_7d,
           round(avg(day_total) OVER (
             PARTITION BY o_custkey ORDER BY d
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS avg_3rows
    FROM daily
    """,
    tags=("window",),
)
def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window analytics (§2.9 extension surface — the NDVI
    time-series shape): 7-day range frame + 3-row sliding frame per
    customer. Range frames order on epoch days so the interval
    semantics match across engines."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            "o_custkey", F.col("o_orderdate").cast("date").alias("d")
        ).agg(F.sum("o_totalprice").alias("day_total"))
    )
    epoch_day = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w_range = (
        Window.partitionBy("o_custkey").orderBy(epoch_day).rangeBetween(-6, 0)
    )
    w_rows = Window.partitionBy("o_custkey").orderBy("d").rowsBetween(-2, 0)
    return daily.select(
        "o_custkey",
        F.date_format("d", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum("day_total").over(w_range), 2).alias("revenue_7d"),
        F.round(F.avg("day_total").over(w_rows), 4).alias("avg_3rows"),
    )


@register(
    "left_outer_enrichment",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    tags=("join", "outer"),
)
def q_left_outer_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + aggregate: every customer, zero-order ones
    included with count 0 / spend 0. count() over the probe-side key
    (not count(*)) gives the correct 0 for unmatched rows.

    Scale note: the groupBy keys equal the join key, so once the join
    is a shuffled join (orders >> broadcast threshold at real scale)
    the aggregate inherits its partitioning and adds NO extra
    exchange; at test SF AQE broadcasts the orders side instead —
    the plan degrades gracefully in both directions."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "full_outer_reconcile",
    oracle="""
    WITH a AS (
      SELECT user_id, count(*) AS n_click
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), b AS (
      SELECT user_id, count(*) AS n_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           coalesce(n_click, 0) AS n_click,
           coalesce(n_purchase, 0) AS n_purchase
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
    tags=("join", "outer"),
)
def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of two aggregates over the same fan-in
    table — users who click but never purchase and vice versa survive
    with a 0 on the missing side.

    Scale note: both inputs are pre-aggregated (one row per user per
    side) BEFORE the full-outer join, so the join input is the key
    cardinality, not the event count; and both branches shuffle on
    user_id so the join adds no third exchange."""
    e = _t(spark, sf_dir, "events")
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_click"))
    )
    b = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchase"))
    )
    return a.join(b, "user_id", "full").select(
        "user_id",
        F.coalesce("n_click", F.lit(0)).alias("n_click"),
        F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
    )


@register(
    "min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), mins AS (
      SELECT l_partkey, min(unit_cost) AS min_cost
      FROM costs GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey, s.s_name, c.unit_cost
    FROM costs c
    JOIN mins m ON c.l_partkey = m.l_partkey AND c.unit_cost = m.min_cost
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    """,
    headline=True,
    tags=("join", "subquery"),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part. The oracle spells
    it as min-per-group + join-back; the Spark plan uses the stronger
    formulation — `min() OVER (PARTITION BY part)` on the pair-level
    aggregate — which scans lineitem ONCE and (since round 9) needs a
    single exchange instead of the join-back's two scans and three
    shuffles. Ties keep all minimal suppliers identically in
    both engines because the compared value is one of the group's own
    doubles, not a recomputation.

    Scale note: the window partition is l_partkey (bounded fan-in:
    suppliers-per-part), never a global sort; the supplier dimension
    is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # Round 9: ONE exchange instead of two. Hash-partitioning by
    # l_partkey up front satisfies both downstream distribution
    # requirements — ClusteredDistribution(l_partkey, l_suppkey) for
    # the pair aggregate (partkey is a subset of the grouping keys)
    # and ClusteredDistribution(l_partkey) for the window — so the
    # plan goes repartition-exchange → HashAggregate → Window with no
    # second shuffle and no partial/final split. What the old shape
    # bought with its extra exchange was map-side combine, which this
    # data can't use: distinct (l_partkey, l_suppkey) pairs ≈ 98% of
    # lineitem rows (591 k of 600 k at sf0.1), so the partial
    # aggregate shuffled as many bytes as the raw columns while ALSO
    # running a 591 k-group hash aggregate inside the single-task
    # scan stage of the driver's 1-row-group input.
    costs = (
        li.select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        costs.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(s), costs.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            "s_name",
            "unit_cost",
        )
    )


@register(
    "lag_delta_timeseries",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT strftime(d, '%Y-%m-%d') AS order_date, revenue,
           round(revenue - lag(revenue) OVER (
             PARTITION BY date_trunc('month', d) ORDER BY d), 2) AS delta
    FROM daily
    """,
    tags=("window",),
)
def q_lag_delta_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta via lag() — the NDVI-time-series
    window SURVEY §2.9 names as the natural extension
    (Window.partitionBy(aoi).orderBy(acquisition_date)).

    Scale note: partitioned by month, NOT a global ORDER BY window —
    a single-partition window funnels the whole table through one
    task at 100 TB. Month-boundary rows get a NULL delta by design;
    if exact boundaries matter, a 1-row-per-month halo join fills
    them without globalizing the sort."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.partitionBy(F.date_trunc("month", F.col("d"))).orderBy("d")
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("order_date"),
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("delta"),
    )


@register(
    "curation_pipeline",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                     '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    dedup AS (
      SELECT doc_id, source, text
      FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp)
      WHERE rn = 1
    ),
    feat AS (
      SELECT source, text,
             string_split_regex(lower(trim(text)), '\\s+') AS w,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok,
             (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
               / greatest(length(text), 1) AS pr
      FROM dedup
    ),
    scored AS (
      SELECT source, w, n_tok,
             (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN pr <= 0.2 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN ((length(text) - n_tok + 1)::DOUBLE / greatest(n_tok, 1))
                    BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END) AS q
      FROM feat
    ),
    langed AS (
      SELECT source, n_tok,
             list_sort([
               {{'neg': -len(list_filter(w, t -> list_contains(['der','die','das','und','nicht','ist'], t))), 'lang': 'de'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['the','and','of','to','is','a'], t))), 'lang': 'en'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['el','la','de','que','y','es'], t))), 'lang': 'es'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['le','la','les','et','est','que'], t))), 'lang': 'fr'}},
               {{'neg': -len(list_filter(w, t -> list_contains(['de','shi','le','bu','wo','zai'], t))), 'lang': 'zh'}}
             ])[1]['lang'] AS pred_lang
      FROM scored WHERE q >= 0.7
    )
    SELECT source, pred_lang, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM langed GROUP BY source, pred_lang
    """.replace("{{", "{").replace("}}", "}"),
    headline=True,
    tags=("text", "dedup", "pipeline"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow as ONE lazy plan:
    normalized-fingerprint dedup (keep lowest doc_id) → quality gate
    (≥ 0.7) → language ID → per-(source, lang) doc + token budget.

    Scale shape: the winner per fingerprint is DECIDED on small rows
    — a true HashAggregate over (fp, doc_id) with map-side combine,
    never a row_number sort window (at sf10 that window sort over
    ~5 M fingerprint groups cost 3.8× the comparator) and never an
    aggregation buffer carrying the text payload (min_by of a struct
    is not hash-aggregable and silently planned SortAggregate until
    round 9) — then ATTACHED with a doc_id semi-join, so the text
    bytes never ride a sort or an agg buffer. Quality scoring and
    language ID are
    pure column expressions fused into the same codegen stage; no
    Python touches the text. The threshold comparison is FP-safe
    cross-engine because both sides sum the identical component
    doubles in the identical order."""
    # Round 9: the min_by(struct(source, text), doc_id) winner pick
    # carried the text payload in the aggregation buffer — a struct
    # buffer is immutable in UnsafeRow, so Catalyst silently demoted
    # the dedup to SortAggregate over full-text rows (the docstring's
    # "ONE hash aggregate" was not what actually planned). Decide on
    # SMALL rows instead: compute every per-doc metric the final
    # answer needs (fingerprint, quality, lang, token count — a few
    # dozen bytes) in the scan-side projection, and let the dedup
    # aggregate carry only those. Text never crosses an exchange
    # after the spread and never sits in an agg buffer; the min_by
    # struct is ~40 B so the unavoidable SortAggregate sorts tiny
    # rows with map-side partial combine. Same 2-exchange count as
    # the old shape, minus the payload. The spread_key repartition
    # parallelizes the regex-heavy text expressions when the input is
    # a 1-row-group file (single-task scan stage otherwise) and is a
    # no-op on any real lake layout. Computing metrics pre-dedup does
    # the expression work for duplicate docs too — compute scales
    # with cores, shuffled payload bytes do not (guide §8).
    d = _t(spark, sf_dir, "documents", spread_key="doc_id")
    pre = d.select(
        "doc_id",
        "source",
        TXT.normalized_fingerprint("text").alias("fp"),
        TXT.quality_score("text").alias("q"),
        TXT.predict_lang("text").alias("pred_lang"),
        F.size(TXT.tokens("text")).alias("n_tok"),
    )
    win = (
        pre.groupBy("fp")
        .agg(
            F.min_by(
                F.struct("source", "q", "pred_lang", "n_tok"), F.col("doc_id")
            ).alias("w")
        )
        .select("w.source", "w.q", "w.pred_lang", "w.n_tok")
    )
    return (
        win.filter(F.col("q") >= 0.7)
        .groupBy("source", "pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      WITH b AS (
        SELECT vec_id, embedding,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> CASE WHEN embedding[i] >= 0 THEN CAST(pow(2, i - 1) AS BIGINT)
                              ELSE 0 END)) AS BIGINT) AS bucket
        FROM embeddings
      )
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round({_COSINE_SQL}, 6) >= 0.3
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
    cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
    SELECT component, count(*) AS n_members, max(node) AS max_member
    FROM cc GROUP BY component
    """,
    tags=("dedup", "iterative"),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: sign-LSH cosine pairs (≥ 0.3) → connected
    components (iterative min-label propagation,
    operators/dedup.py::connected_components) → per-cluster size.
    The oracle computes the same fixpoint as a recursive CTE — the
    rare case where an iterative distributed algorithm still has an
    exact SQL twin."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = SIM.lsh_near_duplicate_pairs(e, threshold=0.3, n_bits=8).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    cc = DD.connected_components(pairs)
    return cc.groupBy("component").agg(
        F.count("*").alias("n_members"), F.max("node").alias("max_member")
    )


# ===========================================================================
# G. Corpus curation: splits, sampling, scrubbing, packing, contamination
#    (operators/curation.py — the post-dedup stages of a training-data build)
# ===========================================================================


@register(
    "hash_split_summary",
    oracle="""
    WITH s AS (
      SELECT source,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 100 < 5
                  THEN 'eval' ELSE 'train' END AS split,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    )
    SELECT split, source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM s GROUP BY split, source
    """,
    tags=("curation", "split"),
)
def q_hash_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split by content hash (md5-bucket of
    doc_id, operators/curation.py::assign_split). A per-row column
    expression — zero shuffles beyond the final aggregate; a row's
    split is stable as the corpus grows, unlike rand()-based splits."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            CUR.assign_split(F.col("doc_id"), eval_pct=5).alias("split"),
            TXT.token_count(F.col("text")).alias("n_tok"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@register(
    "mixture_sampling",
    oracle="""
    WITH s AS (
      SELECT source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               % 10000 AS b,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents),
    k AS (
      SELECT source, n_tok, b,
             CASE source WHEN 'src0' THEN 10000
                         WHEN 'src1' THEN 5000
                         WHEN 'src2' THEN 2500
                         ELSE 1000 END AS thr
      FROM s)
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN b < thr THEN n_tok ELSE 0 END) AS BIGINT)
             AS tokens_kept
    FROM k GROUP BY source
    """,
    tags=("curation", "sample"),
)
def q_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixture re-weighting: deterministic per-source keep
    rates (src0 100%, src1 50%, src2 25%, rest 10%) via content-hash
    thresholds (operators/curation.py::mixture_keep). Per-row
    expression, zero shuffles before the audit aggregate; samples are
    NESTED across weights, so a mixture tweak only adds/removes the
    marginal rows."""
    d = _t(spark, sf_dir, "documents")
    keep = CUR.mixture_keep(
        F.col("doc_id"),
        F.col("source"),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_weight=0.1,
    )
    return (
        d.select(
            "source", keep.alias("keep"), TXT.token_count(F.col("text")).alias("n_tok")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )


@register(
    "weighted_reservoir_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   + 0.5) / 4294967296.0,
                 1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS sample_key
      FROM documents)
    SELECT doc_id, source, n_chars, round(sample_key, 6) AS sample_key
    FROM keyed
    ORDER BY keyed.sample_key DESC, doc_id
    LIMIT 20
    """,
    tags=("curation", "sampling"),
)
def q_weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling without replacement via
    Efraimidis–Spirakis keys (u^(1/w), w = doc length): the k largest
    keys ARE the weighted sample, so the 'reservoir' is a plain
    top-k — per-partition heads + tiny merge (TakeOrderedAndProject),
    no state and no single reducer at any corpus size
    (operators/curation.py::weighted_reservoir_sample). u is the md5
    hash bucket, not rand(), so the sample is deterministic,
    replayable, and identical in the oracle."""
    d = _t(spark, sf_dir, "documents")
    out = CUR.weighted_reservoir_sample(
        d.select(
            "doc_id", "source", F.greatest(F.col("n_chars"), F.lit(1)).alias("n_chars")
        ),
        k=20,
        key_col="doc_id",
        weight_col="n_chars",
    )
    return out.select(
        "doc_id", "source", "n_chars", F.round("sample_key", 6).alias("sample_key")
    )


@register(
    "epoch_shuffle_order",
    oracle="""
    WITH sh AS (
      SELECT e.epoch, doc_id,
             ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':'
                                 || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS h
      FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS epoch) e),
    ranked AS (
      SELECT epoch, doc_id, CAST(h % 8 AS INT) AS shard,
             CAST(row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, doc_id)
                  - 1 AS BIGINT) AS pos
      FROM sh)
    SELECT epoch, shard,
           count(*) AS n_docs,
           CAST(min(CASE WHEN pos = 0 THEN doc_id END) AS BIGINT) AS first_doc,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM ranked GROUP BY epoch, shard
    """,
    tags=("curation", "shuffle", "window"),
)
def q_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic global shuffle for training order
    (operators/curation.py::epoch_shuffle): shard = hash(epoch, id)
    mod 8, pos = within-shard hash rank — a fresh reproducible
    permutation per epoch with NO global sort (parallelism = shard
    count; each window sorts corpus/shards rows). The audit shows the
    re-deal: per-shard id_checksums differ across epochs while each
    epoch partitions the identical corpus (shard sizes re-balance,
    totals conserved). md5-based, so both engines replay the exact
    permutation."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    eps = [CUR.epoch_shuffle(d, epoch=e, key_col="doc_id", shards=8).withColumn(
        "epoch", F.lit(e)
    ) for e in (1, 2)]
    allp = eps[0].unionByName(eps[1])
    return allp.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_docs"),
        F.min(F.when(F.col("pos") == 0, F.col("doc_id"))).cast("bigint").alias(
            "first_doc"
        ),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "doc_chunking",
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
    tags=("curation", "text"),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunk inventory (window 64 / stride 48 — the
    standard RAG/embedding chunking shape): per-source chunk counts and
    mean chunk length. Chunk lengths come from a JVM sequence/transform
    array (operators/curation.py::chunk_lengths) — the tokens
    themselves are never materialized, only counted, so this runs at
    scan speed on a 100 TB corpus. The oracle's bounded generate_series
    is an oracle-side artifact; the Spark plan's sequence is sized per
    row."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
        )
    )
    ch = d.select(
        "source",
        F.explode(CUR.chunk_lengths(n_tok, window=64, stride=48)).alias("chunk_len"),
    )
    return ch.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.round(F.avg("chunk_len"), 4).alias("mean_chunk_len"),
    )


@register(
    "stratified_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source, lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source, lang FROM r WHERE rk <= 3
    """,
    tags=("curation", "sample"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly min(3, |stratum|)
    docs per (source, lang), chosen by content-hash order
    (operators/curation.py::stratified_sample). One shuffle on the
    strata; rank streams over the sorted partition, so a giant
    stratum never materializes."""
    d = _t(spark, sf_dir, "documents")
    return CUR.stratified_sample(d, ["source", "lang"], k=3, key="doc_id").select(
        "doc_id", "source", "lang"
    )


@register(
    "pii_scrub_stats",
    oracle=f"""
    SELECT source,
           CAST(count(*) FILTER (
             WHERE len(regexp_extract_all(text, '{CUR_SCRUB_PATTERN_SQL}')) > 0
           ) AS BIGINT) AS n_docs_hit,
           CAST(sum(len(regexp_extract_all(text, '{CUR_SCRUB_PATTERN_SQL}')))
                AS BIGINT) AS total_matches,
           CAST(sum(length(text)
                    - length(regexp_replace(text, '{CUR_SCRUB_PATTERN_SQL}', '', 'g')))
                AS BIGINT) AS chars_removed
    FROM documents GROUP BY source
    """,
    tags=("curation", "text"),
)
def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blockword/PII scrubbing audit (operators/curation.py::scrub_*):
    match counts and removed-character volume per source. Pure
    regexp codegen fused with the scan — the scrub itself
    (regexp_replace with a redaction token) is the same expression
    with a different replacement, so auditing costs one pass and
    scrubbing costs zero extra."""
    d = _t(spark, sf_dir, "documents")
    n_matches = CUR.scrub_count(F.col("text"))
    removed = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), CUR.SCRUB_PATTERN, "")
    )
    return d.groupBy("source").agg(
        F.sum(F.when(n_matches > 0, 1).otherwise(0)).cast("bigint").alias("n_docs_hit"),
        F.sum(n_matches).cast("bigint").alias("total_matches"),
        F.sum(removed).cast("bigint").alias("chars_removed"),
    )


@register(
    "repetition_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
      FROM documents
    ),
    pt AS (
      SELECT doc_id, source, n_tok, tok, count(*) AS c
      FROM t GROUP BY doc_id, source, n_tok, tok
    ),
    d AS (
      SELECT doc_id, source, max(n_tok) AS n_tok,
             max(c) AS top_c, count(*) AS n_distinct
      FROM pt GROUP BY doc_id, source
    )
    SELECT source,
           round(avg(n_distinct / greatest(n_tok, 1)), 4) AS avg_distinct_ratio,
           round(avg(top_c / greatest(n_tok, 1)), 4) AS avg_top_ratio,
           CAST(count(*) FILTER (WHERE top_c / greatest(n_tok, 1) > 0.12)
                AS BIGINT) AS n_flagged
    FROM d GROUP BY source
    """,
    tags=("curation", "quality"),
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rules (operators/curation.py::
    repetition_stats): distinct-token ratio (pure array expr, no
    shuffle) and top-token ratio (explode → two-level aggregate;
    map-side partials mean the shuffle carries distinct tokens per
    doc, not raw tokens). Docs with top_ratio > 0.12 are flagged as
    repetitive boilerplate."""
    d = _t(spark, sf_dir, "documents")
    stats = CUR.repetition_stats(d)
    return stats.groupBy("source").agg(
        F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
        F.round(F.avg("top_ratio"), 4).alias("avg_top_ratio"),
        F.sum(F.when(F.col("top_ratio") > 0.12, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )


@register(
    "sequence_packing",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tok,
             COALESCE(sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM d
    )
    SELECT source, CAST(floor(cum_before / 2048) AS INT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, bin
    """,
    tags=("curation", "packing"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/curation.py::
    pack_sequences): docs laid end-to-end per source stream, each doc
    binned by the 2048-token window its first token falls in —
    exclusive running sum over one window shuffle. Bin boundaries are
    a pure function of ordered prefix sums: deterministic under any
    partitioning, no driver state."""
    d = _t(spark, sf_dir, "documents")
    packed = CUR.pack_sequences(d, budget=2048)
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("bin_tokens"),
    )


@register(
    "contamination_ngrams",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 100 < 5
                  THEN 'eval' ELSE 'train' END AS split,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, split,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS gram
      FROM s
    )
    SELECT e.source, CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_contaminated
    FROM g e
    WHERE e.split = 'eval'
      AND EXISTS (SELECT 1 FROM g t WHERE t.split = 'train' AND t.gram = e.gram)
    GROUP BY e.source
    """,
    tags=("curation", "dedup"),
)
def q_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination (operators/curation.py::
    contamination_check): eval docs sharing any 3-token shingle with
    the train split. One scan → split column → shingle explode →
    semi-join on the gram hash; heavy-hitter grams (boilerplate) are
    the AQE skew-split case, and raising n shrinks collision mass
    geometrically."""
    d = _t(spark, sf_dir, "documents")
    hits = CUR.contamination_check(d, ngram=3, eval_pct=5)
    return hits.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_contaminated")
    )


@register(
    "unpivot_metrics",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, l_returnflag,
           count(*) AS n,
           round(sum(val), 2) AS total,
           round(avg(val), 4) AS mean
    FROM m GROUP BY metric, l_returnflag
    """,
    tags=("reshape",),
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape: unpivot four lineitem measures into
    (metric, val) rows, then aggregate per metric × returnflag.
    Spark's Unpivot (Expand) node emits the long rows inside the same
    codegen stage as the scan — the input is read ONCE, vs the
    oracle's 4-scan UNION ALL formulation."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return long.groupBy("metric", "l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("val"), 2).alias("total"),
        F.round(F.avg("val"), 4).alias("mean"),
    )


# ===========================================================================
# H. Time-series gap fill, pivot, ranked windows, null semantics
# ===========================================================================


@register(
    "gap_fill_forward",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    tt AS (SELECT DISTINCT event_type FROM events),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hh
      FROM b, tt
    ),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hh,
             count(*) AS n, sum(value) AS v
      FROM events GROUP BY event_type, hh
    )
    SELECT g.event_type, strftime(g.hh, '%Y-%m-%d %H:%M') AS hour,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
           round(last_value(h.v IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hh), 2) AS filled_total
    FROM grid g
    LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hh = h.hh
    """,
    tags=("timeseries", "window"),
)
def q_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly grid (sequence/explode
    from the data's own bounds — no literals, so the query is
    SF-independent) left-joined to hourly aggregates, missing cells
    forward-filled with last(ignorenulls) per series.

    Scale shape: the grid is |types| × |hours| (tiny vs the fact
    table); hourly aggregation carries partial sums; the fill window
    shuffles grid-sized data only. The standard sensor/NDVI
    time-series densification every monitoring pipeline needs."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hh")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        bounds.select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
            ).alias("hh")
        )
        .crossJoin(e.select("event_type").distinct())
    )
    joined = grid.join(hourly, ["event_type", "hh"], "left")
    w = Window.partitionBy("event_type").orderBy("hh")
    return joined.select(
        "event_type",
        F.date_format("hh", "yyyy-MM-dd HH:mm").alias("hour"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.round(F.last("v", ignorenulls=True).over(w), 2).alias("filled_total"),
    )


@register(
    "pivot_priorities",
    oracle="""
    SELECT o_orderstatus,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
             AS "1-URGENT",
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '2-HIGH'), 2)
             AS "2-HIGH",
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '3-MEDIUM'), 2)
             AS "3-MEDIUM",
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED'), 2)
             AS "4-NOT SPECIFIED",
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 2)
             AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("reshape", "agg"),
)
def q_pivot_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (the inverse of unpivot_metrics; same machinery
    as J1 band pairing in operators/bands.py): revenue by status ×
    priority. Explicit pivot values keep the plan a single-pass
    aggregate — Spark never runs the extra distinct-values job, and
    the output schema is static for Catalyst."""
    o = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@register(
    "ranked_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, total,
             ntile(4) OVER (ORDER BY total, o_custkey) AS quartile,
             percent_rank() OVER (ORDER BY total, o_custkey) AS pr,
             cume_dist() OVER (ORDER BY total, o_custkey) AS cd,
             dense_rank() OVER (ORDER BY total, o_custkey) AS dr
      FROM spend
    )
    SELECT quartile, count(*) AS n,
           round(min(total), 2) AS min_total,
           round(max(total), 2) AS max_total,
           round(min(pr), 6) AS min_pr,
           round(max(cd), 6) AS max_cd,
           CAST(max(dr) AS BIGINT) AS max_dense_rank
    FROM ranked GROUP BY quartile
    """,
    tags=("window", "rank"),
)
def q_ranked_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-window family (ntile / percent_rank / cume_dist /
    dense_rank) over per-customer spend, summarized per quartile.
    The total order includes the key as tiebreak so ranks are
    deterministic. The whole family routes through
    operators/rank.global_ranked: single-partition by default
    (bit-identical to the oracle), and under
    spark.ndvi_etl.rankMode=distributed the exact two-pass
    range-partitioned form — the plan to flip on at 100 TB."""
    from ...operators.rank import global_ranked

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    ranked = global_ranked(
        spend,
        ["total", "o_custkey"],
        ntile={"quartile": 4},
        percent_rank="pr",
        cume_dist="cd",
        dense_rank="dr",
    ).select("o_custkey", "total", "quartile", "pr", "cd", "dr")
    return ranked.groupBy("quartile").agg(
        F.count("*").alias("n"),
        F.round(F.min("total"), 2).alias("min_total"),
        F.round(F.max("total"), 2).alias("max_total"),
        F.round(F.min("pr"), 6).alias("min_pr"),
        F.round(F.max("cd"), 6).alias("max_cd"),
        F.max("dr").cast("bigint").alias("max_dense_rank"),
    )


@register(
    "nullsafe_join_semantics",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    ),
    dim AS (
      SELECT seg, COALESCE(seg, '(unattributed)') AS seg_label
      FROM (SELECT DISTINCT seg FROM c)
    )
    SELECT d.seg_label,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.seg_label
    """,
    tags=("join", "null"),
)
def q_nullsafe_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): customers
    whose derived segment is NULL still match the NULL dimension row —
    the semantic a plain equi-join silently drops. Spark plans <=> as
    a hash join (null-safe keys hash like values), so the broadcast
    path survives."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    dim = c.select("seg").distinct().select(
        "seg", F.coalesce(F.col("seg"), F.lit("(unattributed)")).alias("seg_label")
    )
    joined = c.alias("c").join(
        F.broadcast(dim).alias("d"), F.col("c.seg").eqNullSafe(F.col("d.seg"))
    )
    return joined.groupBy("seg_label").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(skewness(l_quantity), 5) AS skew_qty,
           round(kurtosis(l_quantity), 5) AS kurt_qty,
           max_by(l_linestatus, l_extendedprice) AS status_of_max_price,
           min_by(l_linestatus, l_extendedprice) AS status_of_min_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (§2.8 math surface, extended):
    sample stddev/variance, correlation, covariance, skewness, excess
    kurtosis, and arg-min/max (min_by/max_by). All single-pass
    moment-sketch aggregates — partial/final pairs, shuffle rows =
    |groups|; both engines use the same definitions so values match
    to 5-6 decimals after rounding."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.skewness("l_quantity"), 5).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 5).alias("kurt_qty"),
        F.max_by("l_linestatus", "l_extendedprice").alias("status_of_max_price"),
        F.min_by("l_linestatus", "l_extendedprice").alias("status_of_min_price"),
    )


@register(
    "array_agg_sorted",
    oracle="""
    SELECT o_orderpriority,
           list_sort(list(DISTINCT o_orderstatus)) AS statuses,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "nested"),
)
def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-result aggregation: collect_set → sort_array gives a
    deterministic ARRAY column (set aggregation order is
    partitioning-dependent in ANY distributed engine — the sort is
    what makes the result well-defined and comparable)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sort_array(F.collect_set("o_orderstatus")).alias("statuses"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
    )


@register(
    "conditional_agg",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
               AS urgent_total,
           bool_and(o_totalprice > 900.0) AS all_over_900,
           bool_or(o_orderpriority = '5-LOW') AS any_low,
           CAST(count(*) FILTER (WHERE o_orderpriority LIKE '%URGENT%') AS BIGINT)
               AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "conditional"),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregate family (§2.5 extension): FILTER
    clauses, count_if, and boolean aggregates (bool_and/bool_or).

    All remain single-pass partial/final hash aggregates — the FILTER
    predicate is evaluated map-side, so shuffle rows = |groups|.
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 150000.0).alias("n_big"),
        F.round(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))), 2
        ).alias("urgent_total"),
        F.bool_and(F.col("o_totalprice") > 900.0).alias("all_over_900"),
        F.bool_or(F.col("o_orderpriority") == "5-LOW").alias("any_low"),
        F.count_if(F.col("o_orderpriority").contains("URGENT")).cast("bigint").alias("n_urgent"),
    )


@register(
    "histogram_bins",
    oracle="""
    SELECT CAST(least(floor(l_extendedprice / 10000.0), 9) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram as pure column math + hash aggregate — the
    same shape as the overview downsample A6 (floor-divide bucketing,
    `compute_ndvi.py:147` analog on a value domain instead of a pixel
    grid). No UDF, no sort; one shuffle of |bins| rows per task."""
    li = _t(spark, sf_dir, "lineitem")
    bin_col = F.least(F.floor(F.col("l_extendedprice") / 10000.0), F.lit(9)).cast("bigint")
    return li.groupBy(bin_col.alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@register(
    "word_frequencies",
    oracle="""
    SELECT token, n FROM (
      SELECT token, count(*) AS n FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
        FROM documents
      ) WHERE token <> ''
      GROUP BY token
    ) ORDER BY n DESC, token ASC LIMIT 20
    """,
    tags=("text", "explode"),
)
def q_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic corpus word-count: split → explode (generator/UNNEST) →
    hash aggregate → deterministic top-k (count desc, token asc).

    The explode is map-side (no shuffle until the aggregate), partial
    aggregation collapses each task's token stream to its distinct
    tokens, and the top-20 is TakeOrderedAndProject — no global sort
    materialization at any scale."""
    d = _t(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tokens.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "bitwise_agg",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_orderkey) AS and_key,
           bit_or(l_orderkey) AS or_key,
           bit_xor(l_orderkey) AS xor_key,
           CAST(count(DISTINCT l_orderkey % 16) AS BIGINT) AS n_low_nibbles
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "bitwise"),
)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor) — order- and
    partitioning-independent by construction, so distributed partial
    aggregation is exact with zero determinism caveats."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").alias("and_key"),
        F.bit_or("l_orderkey").alias("or_key"),
        F.bit_xor("l_orderkey").alias("xor_key"),
        F.countDistinct(F.col("l_orderkey") % 16).cast("bigint").alias("n_low_nibbles"),
    )


@register(
    "embedding_norms",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(len(embedding)) AS INT) AS dim,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm,
           round(max(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("array", "hof"),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column: per-row
    L2 norm via `aggregate` (fold) over the array, entirely JVM-side —
    no UDF, no explode, so a 100 TB embedding table never leaves
    whole-stage codegen for this computation."""
    e = _t(spark, sf_dir, "embeddings")
    sq = lambda acc, x: acc + x.cast("double") * x.cast("double")  # noqa: E731
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), sq))
    with_norm = e.select("label", F.size("embedding").alias("d"), norm.alias("norm"))
    return with_norm.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("d").cast("int").alias("dim"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
    )


@register(
    "interval_functions",
    oracle="""
    SELECT CAST(quarter(o_orderdate) AS INT) AS qtr,
           count(*) AS n,
           strftime(min(last_day(CAST(o_orderdate AS DATE))), '%Y-%m-%d') AS first_month_end,
           strftime(max(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS last_month_start,
           strftime(min(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH), '%Y-%m-%d') AS first_due,
           strftime(max(CAST(o_orderdate AS DATE) - INTERVAL 90 DAY), '%Y-%m-%d') AS last_cutoff
    FROM orders
    GROUP BY 1
    """,
    tags=("date", "interval"),
)
def q_interval_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic (§2.8 date family, extended):
    add_months (month-end clamped identically in both engines),
    last_day, month truncation, and day offsets."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.groupBy(F.quarter("o_orderdate").cast("int").alias("qtr")).agg(
        F.count("*").alias("n"),
        F.date_format(F.min(F.last_day(d)), "yyyy-MM-dd").alias("first_month_end"),
        F.date_format(F.max(F.trunc(d, "month")), "yyyy-MM-dd").alias("last_month_start"),
        F.date_format(F.min(F.add_months(d, 3)), "yyyy-MM-dd").alias("first_due"),
        F.date_format(F.max(F.date_sub(d, 90)), "yyyy-MM-dd").alias("last_cutoff"),
    )


@register(
    "pagerank_graph",
    oracle=_pagerank_oracle(5),
    tags=("graph", "iterative"),
)
def q_pagerank_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm tier: 5 power iterations of PageRank on a
    25-node graph derived from the orders⋈lineitem relation
    (customer-bucket → supplier-bucket edges). The oracle unrolls the
    same iterations as chained CTEs, so the fixed-point loop is
    value-checked exactly, not rows-only. See operators/graph.py for
    the per-iteration shuffle analysis."""
    from ...operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") % 25).cast("bigint").alias("src"),
            (F.col("l_suppkey") % 25).cast("bigint").alias("dst"),
        )
    )
    return pagerank(edges, iterations=5).select(
        "node", F.round("rank", 6).alias("rank")
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.token,
             t.tf * (ln(((SELECT n FROM n) + 1) / (d.df + 1)) + 1) AS score
      FROM tf t JOIN df d ON d.token = t.token
      WHERE t.doc_id <= 30)
    SELECT doc_id, token, round(score, 6) AS score
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, token ASC) <= 3
    """,
    tags=("text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf, sklearn-style ln((N+1)/(df+1))+1) with
    top-3 terms per document. Corpus statistics (df, N) come from the
    FULL corpus; the per-doc projection is filtered afterwards — the
    order that matters for correctness at any scale. df is a
    pre-aggregated (doc,token) relation, so the expensive token
    explode happens once and both tf and df derive from it."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").cast("double").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    n_docs = float(d.count())
    scored = (
        tf.filter(F.col("doc_id") <= 30)
        .join(df, "token")
        .select(
            "doc_id",
            "token",
            (F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", F.round("score", 6).alias("score"))
    )


@register(
    "keep_first_cdc",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rk
      FROM events)
    SELECT event_type AS first_event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(value), 2) AS first_value_sum
    FROM r WHERE rk = 1
    GROUP BY event_type
    """,
    tags=("dedup", "window", "cdc"),
)
def q_keep_first_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-record-per-key dedup — the CDC twin of last_write_wins
    (keep the INSERT, drop later updates): one row_number window per
    key with a deterministic (ts, event_id) order, summarized by the
    kept row's type. Same single-shuffle shape as the K4 idiom; at
    scale the window streams each key's rows without materializing
    history."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = e.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return first.groupBy(F.col("event_type").alias("first_event_type")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("value"), 2).alias("first_value_sum"),
    )


@register(
    "ndvi_viz_rescale",
    oracle=_NDVI_SQL
    + """
    , viz AS (
      SELECT scene_id,
             CAST(round(greatest(0.0, least(255.0, (ndvi + 1.0) * 127.5)))
                  AS INT) AS byte_v
      FROM nv WHERE ndvi IS NOT NULL)
    SELECT scene_id, CAST(count(*) AS BIGINT) AS n_pixels,
           min(byte_v) AS min_b, max(byte_v) AS max_b,
           round(avg(CAST(byte_v AS DOUBLE)), 4) AS mean_b
    FROM viz GROUP BY scene_id
    """,
    tags=("ndvi", "viz", "agg"),
)
def q_ndvi_viz_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The viz product's value semantics (compute_ndvi.py:144-158
    'viz' style): NDVI [-1, 1] rescaled to display bytes [0, 255],
    summarized per scene. Pure column arithmetic fused with the NDVI
    expression — Catalyst collapses rescale∘clamp∘ndvi into one
    codegen span, where the reference runs a separate raster pass."""
    nv = _ndvi_pixels_df(spark, sf_dir).filter(F.col("ndvi").isNotNull())
    byte_v = F.round(
        F.greatest(F.lit(0.0), F.least(F.lit(255.0), (F.col("ndvi") + 1.0) * 127.5))
    ).cast("int")
    return nv.select("scene_id", byte_v.alias("byte_v")).groupBy("scene_id").agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.min("byte_v").alias("min_b"),
        F.max("byte_v").alias("max_b"),
        F.round(F.avg(F.col("byte_v").cast("double")), 4).alias("mean_b"),
    )


@register(
    "scd2_lookup",
    oracle="""
    WITH dim AS (
      SELECT s_suppkey, 1 AS version, DATE '1992-01-01' AS eff_from,
             DATE '1996-01-01' AS eff_to, s_acctbal * 0.9 AS rate
      FROM supplier
      UNION ALL
      SELECT s_suppkey, 2, DATE '1996-01-01', DATE '1999-01-01',
             s_acctbal * 1.0
      FROM supplier
      UNION ALL
      SELECT s_suppkey, 3, DATE '1999-01-01', DATE '2999-01-01',
             s_acctbal * 1.1
      FROM supplier)
    SELECT d.version, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * d.rate / 10000.0), 2) AS weighted
    FROM lineitem l
    JOIN dim d ON d.s_suppkey = l.l_suppkey
      AND CAST(l.l_shipdate AS DATE) >= d.eff_from
      AND CAST(l.l_shipdate AS DATE) < d.eff_to
    GROUP BY d.version
    """,
    tags=("join", "scd", "warehouse"),
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) effective-dated lookup: each
    fact row joins the dimension VERSION whose [eff_from, eff_to)
    window covers its ship date. Equi-join on the surrogate key with
    the date window as a residual predicate — per-key fan-in is the
    version count (3 here), so the join never explodes; the versioned
    dimension stays broadcastable because SCD2 grows it by versions,
    not by fact volume."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")

    def ver(v: int, frm: str, to: str, mult: float) -> DataFrame:
        return s.select(
            "s_suppkey",
            F.lit(v).alias("version"),
            F.lit(frm).cast("date").alias("eff_from"),
            F.lit(to).cast("date").alias("eff_to"),
            (F.col("s_acctbal") * mult).alias("rate"),
        )

    dim = (
        ver(1, "1992-01-01", "1996-01-01", 0.9)
        .unionByName(ver(2, "1996-01-01", "1999-01-01", 1.0))
        .unionByName(ver(3, "1999-01-01", "2999-01-01", 1.1))
    )
    d = F.col("l_shipdate").cast("date")
    j = li.join(
        F.broadcast(dim),
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (d >= F.col("eff_from"))
        & (d < F.col("eff_to")),
    )
    return j.groupBy("version").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * F.col("rate") / 10000.0), 2).alias(
            "weighted"
        ),
    )


@register(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, m.med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type, m.med)
    SELECT e.event_type,
           round(m.med, 4) AS med,
           round(m.mad, 4) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN mad m ON m.event_type = e.event_type
    GROUP BY e.event_type, m.med, m.mad
    """,
    tags=("stats", "robust", "join"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation (the
    3-sigma rule's breakdown-resistant twin: |v − med| > 3·1.4826·MAD).
    Two median aggregates with a join-back between them — both keyed
    on event_type, so the second agg and both joins reuse the same
    hash partitioning (one logical shuffle key end-to-end). Exact
    medians at this group count; at extreme cardinality swap
    percentile_approx in with the same plan shape."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    is_out = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return (
        e.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
            "n",
        )
    )


@register(
    "event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    tags=("events", "window"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    per user (the input to clickstream transition matrices): one
    window pass partitioned by user (bounded history per partition key
    — never a global sort) feeding one hash-agg over the
    (prev, next) pairs. Tie-break on event_id makes the sequence
    deterministic under equal timestamps."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("bigint").alias("n")
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST((epoch(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                   - epoch(CAST(f.cohort_week AS TIMESTAMP))) / 604800 AS INT)
               AS week_offset
      FROM events e JOIN first_seen f ON f.user_id = e.user_id)
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    tags=("events", "cohort", "join"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort table: users bucketed by first-activity week,
    counted as active per week offset since their cohort. The cohort
    relation is one row per user (agg before join — same fan-out
    discipline as the funnel); distinct-per-(user, week) collapses
    repeat activity before the final count so heavy users don't
    inflate retention."""
    e = _t(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    first_seen = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    offset = (
        (
            F.unix_timestamp(F.date_trunc("week", F.col("ts")))
            - F.unix_timestamp(F.col("cohort_week").cast("timestamp"))
        )
        / 604800
    ).cast("int")
    activity = (
        e.join(first_seen, "user_id")
        .select("user_id", "cohort_week", offset.alias("week_offset"))
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"), "week_offset"
    ).agg(F.count("*").cast("bigint").alias("n_active_users"))


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (
      SELECT v.user_id,
             min(epoch_us(e.ts) - epoch_us(v.first_view)) AS us_to_convert
      FROM v JOIN events e ON e.user_id = v.user_id
        AND e.event_type = 'purchase'
        AND e.ts >= v.first_view
        AND epoch_us(e.ts) - epoch_us(v.first_view) <= 3600000000
      GROUP BY v.user_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM v), 4)
             AS conversion_rate,
           round(avg(us_to_convert / 60000000.0), 2) AS avg_minutes
    FROM p
    """,
    tags=("events", "funnel", "join"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→purchase funnel within a 1-hour window: users whose first
    'view' is followed by a 'purchase' within the hour, with
    conversion rate and mean minutes-to-convert. The first-view
    relation is an agg (one row per user), so the event join fans out
    only to each user's purchases — never event×event; the time-band
    predicate is sargable on the purchase scan."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    n_viewed = v.count()
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("first_view"))
    p = (
        v.join(e.filter(F.col("event_type") == "purchase"), "user_id")
        .filter((F.col("ts") >= F.col("first_view")) & (gap <= 3600000000))
        .groupBy("user_id")
        .agg(F.min(gap).alias("us_to_convert"))
    )
    return p.agg(
        F.lit(n_viewed).cast("bigint").alias("n_viewed"),
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.count("*") / F.lit(float(n_viewed)), 4).alias("conversion_rate"),
        F.round(F.avg(F.col("us_to_convert") / 60000000.0), 2).alias("avg_minutes"),
    )


@register(
    "triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT
             least(CAST(o_custkey % 60 AS INT), CAST(o_orderkey % 60 AS INT)) AS a,
             greatest(CAST(o_custkey % 60 AS INT), CAST(o_orderkey % 60 AS INT)) AS b
      FROM orders
      WHERE o_custkey % 60 <> o_orderkey % 60)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    tags=("graph", "join"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on a derived undirected graph:
    canonicalize each edge to (a < b), then the standard two-join
    enumeration e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — the a<b<c ordering
    counts every triangle exactly once and cuts the join fan-out 6×
    vs undirected enumeration. Shuffles are keyed on edge endpoints
    (the joins' equi-keys); at scale the classic degree-based
    orientation (orient edges low→high degree) bounds the wedge count
    — canonical ordering is its id-based special case."""
    o = _t(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 60).cast("int")
    b = (F.col("o_orderkey") % 60).cast("int")
    e = (
        o.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    n_edges = e.count()
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count("*").cast("bigint").alias("n_triangles"),
    )


@register(
    "bm25_rank",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id,
             sum( ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                  * t.tf * 2.2
                  / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) ) AS score
      FROM tf t
      JOIN df d ON d.token = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      WHERE t.token IN ('spark', 'join', 'window')
      GROUP BY t.doc_id)
    SELECT doc_id, round(score, 6) AS score
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id LIMIT 10
    """,
    tags=("text", "ranking"),
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene's non-negative idf) top-10
    docs for a 3-term query. Corpus stats (N, avgdl) are a 2-value
    scalar aggregate collected driver-side — they become plan
    literals, so no cross join survives into the physical plan. The
    query-term filter is an `isin` on the pre-aggregated tf relation:
    it prunes BEFORE the df/dl joins, and both join sides are tiny
    (terms × docs), so AQE broadcasts them. Ordering is on the
    round-6 score with doc_id tiebreak — deterministic across engines
    regardless of float summation order."""
    d = _t(spark, sf_dir, "documents")
    terms = ["spark", "join", "window"]
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").cast("double").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n, avgdl = dl.agg(
        F.count("*").cast("double"), F.avg("dl")
    ).first()
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    idf = F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.lit(avgdl))
    scored = (
        tf.filter(F.col("token").isin(terms))
        .join(df, "token")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "vocab_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
      FROM documents),
    x AS (
      SELECT source,
             CASE WHEN t IN ('data','table','value','row','query',
                             'join','scan','fast','key','spark')
                  THEN 0 ELSE 1 END AS oov
      FROM toks WHERE t <> '')
    SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(avg(CAST(oov AS DOUBLE)), 4) AS oov_rate
    FROM x GROUP BY source
    """,
    tags=("text", "training"),
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: out-of-vocabulary token rate per
    source against a fixed vocab (the audit run before committing to a
    tokenizer). The vocab membership is an `isin` over a literal set —
    codegen'd hash lookup per token, no join; one shuffle for the
    per-source aggregate. For a real 100k-entry vocab, broadcast-join
    a vocab table instead — same plan shape."""
    d = _t(spark, sf_dir, "documents")
    vocab = [
        "data", "table", "value", "row", "query",
        "join", "scan", "fast", "key", "spark",
    ]
    toks = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t")
    ).filter(F.col("t") != "")
    oov = F.when(F.col("t").isin(vocab), 0).otherwise(1)
    return (
        toks.select("source", oov.alias("oov"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("oov").cast("bigint").alias("n_oov"),
            F.round(F.avg(F.col("oov").cast("double")), 4).alias("oov_rate"),
        )
    )


@register(
    "bpe_pair_counts",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents),
    t AS (SELECT token FROM toks WHERE length(token) >= 2),
    pairs AS (
      SELECT substring(token, CAST(i AS INT), 2) AS pair
      FROM t CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS i) g
      WHERE i <= length(token) - 1)
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 30
    """,
    tags=("text", "training"),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-wide adjacent
    character-pair frequencies, top-30. The pair enumeration is a
    JVM-side higher-order function — transform(sequence(1, len-1),
    i -> substr(i, 2)) then one explode — no Python, no per-char
    explode (explodes len-1 two-char strings instead of len single
    chars + a self-join). One shuffle for the global count."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.length("token") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.col("token").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(30)
    )


@register(
    "session_window_native",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 2700000000
                       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("events", "session", "window"),
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (45-min gap): merging
    windows in one aggregate, the batch twin of the streaming
    session-window state store. The oracle derives identical sessions
    via the lag/cumsum islands idiom (events merge iff gap < 45 min —
    session_window merges on overlap of [ts, ts+gap), i.e. strict
    inequality, hence `>=` starts a new session)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "45 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@register(
    "contiguous_ids",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY doc_id) - 1 AS example_id
    FROM documents
    """,
    tags=("curation", "ids"),
)
def q_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..N-1 example-id assignment
    (curation.assign_contiguous_ids): two-pass range-partition +
    prefix-sum offsets — NO single-task global sort. The oracle is the
    naive single-partition row_number; results must be identical."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return CUR.assign_contiguous_ids(d, "doc_id").select("doc_id", "example_id")


@register(
    "union_by_name_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, NULL AS o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 1)
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
           CAST(count(o_orderstatus) AS BIGINT) AS n_with_status,
           round(sum(o_totalprice), 2) AS total
    FROM unioned GROUP BY o_orderpriority
    """,
    tags=("setop", "schema-evolution"),
)
def q_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two relations with different column
    sets combined by NAME with missing columns null-filled
    (unionByName(allowMissingColumns=True)) — the reader-side half of
    schema evolution on a growing lake; position-based UNION would
    silently misalign."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count("o_totalprice").cast("bigint").alias("n_with_price"),
        F.count("o_orderstatus").cast("bigint").alias("n_with_status"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "sql_text_interface",
    oracle=_SQL_TEXT_QUERY,
    tags=("sql", "join", "agg"),
)
def q_sql_text_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end: the IDENTICAL ANSI text runs through
    `spark.sql` over registered temp views and through the DuckDB
    oracle — proving a reference user can bring raw SQL, not just the
    DataFrame API, and Catalyst plans it the same way (the CTE + two
    aggregation levels land as the usual partial/final hash aggs and
    AQE-selected joins)."""
    for t in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_TEXT_QUERY)


@register(
    "kmeans_clusters",
    oracle=_kmeans_oracle(4, 3),
    tags=("clustering", "iterative", "embedding"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (3 Lloyd steps, k=4) on the embedding table — the
    operator runs array-native (zip_with/aggregate folds, broadcast
    centroids); the oracle replays the identical trajectory in
    exploded relational form. Per-iteration centroid rounding makes
    the trajectory engine-portable, so this is an exact value check
    of an iterative ML algorithm, not rows-only."""
    from ...operators.clustering import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(e, k=4, iterations=3)


@register(
    "ann_ivf_trained",
    oracle=_ivf_trained_oracle(4, 3, 2, 5),
    tags=("similarity", "clustering", "iterative"),
)
def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF on FITTED cells: k-means centroids (3 Lloyd steps, the
    kmeans_clusters trajectory) become the coarse quantizer, corpus
    vectors shard into inverted lists under their trained cell,
    queries probe their 2 nearest cells — the train-then-index
    composition a real ANN deployment runs
    (clustering.kmeans_centroid_vectors → similarity.ivf_topk),
    versus ann_ivf_topk's sampled-row centroids. The oracle extends
    the SAME unrolled Lloyd CTE chain with the assignment/probe/rank
    relations, so training AND serving replay exactly cross-engine —
    an end-to-end value check of a trained index."""
    from ._cache import kmeans_centroids_shared

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_shared(spark, sf_dir, k=4, iterations=3)
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "vec_id int, embedding array<double>"
    )
    return SIM.ivf_topk(
        corpus=e.filter(F.col("vec_id") >= 5),
        queries=e.filter(F.col("vec_id") < 5),
        centroids=cdf,
        k=5,
        nprobe=2,
    )


@register(
    "ann_ivf_trained_recall",
    oracle=_ivf_recall_oracle(4, 3, 2, 5),
    tags=("similarity", "eval", "clustering"),
)
def q_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality audit: recall@5 of the TRAINED IVF (k-means
    cells, nprobe=2) against the exact brute-force top-5 on the same
    corpus/queries — the eval every ANN deployment gates on before
    trading exactness for the nprobe/k cost model. Both rankings and
    the recall join replay in the oracle (the k-means trajectory CTE
    chain feeds the IVF side; the brute side is the plain cross
    score), so the reported recall is value-checked, not just
    shape-checked. The exact-topk baseline and the k-means trajectory
    come from the family-shared materialized cache (catalog/_cache.py)
    so the recall/calibration queries stop re-deriving them."""
    from ._cache import exact_topk_shared, kmeans_centroids_shared

    e = _t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5)
    cents = kmeans_centroids_shared(spark, sf_dir, k=4, iterations=3)
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "vec_id int, embedding array<double>"
    )
    itop = SIM.ivf_topk(corpus, queries, cdf, k=5, nprobe=2).select(
        "query_id", F.col("vec_id").alias("ivf_vec")
    )
    btop = exact_topk_shared(spark, sf_dir, k=5).select("query_id", "vec_id")
    per_q = (
        btop.join(
            itop,
            (btop["query_id"] == itop["query_id"])
            & (btop["vec_id"] == itop["ivf_vec"]),
            "left",
        )
        .groupBy(btop["query_id"])
        .agg((F.count("ivf_vec").cast("double") / 5).alias("recall"))
    )
    return per_q.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("mean_recall_at_5"),
        F.round(F.min("recall"), 4).alias("min_recall_at_5"),
    )


@register(
    "fuzzy_name_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a JOIN part b
      ON substr(a.p_name, 1, 8) = substr(b.p_name, 1, 8)
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    """,
    tags=("dedup", "fuzzy", "join"),
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking — the fuzzy
    sibling of the dedup family. The 8-char-prefix equi-join is the
    blocking key (candidate pairs shuffle on it, like MinHash bands);
    levenshtein runs only on candidates, never all-pairs. At 100 TB
    the blocking key is what keeps this from being a cross join."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, 8).alias("blk"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, 8).alias("blk"),
    )
    return (
        a.join(b, ["blk"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= 6)
        .select("key_a", "key_b", "dist")
    )

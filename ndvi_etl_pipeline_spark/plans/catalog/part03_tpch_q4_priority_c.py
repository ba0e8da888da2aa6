"""Query catalog part 3/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403



@register(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "semijoin", "exists"),
)
def q_tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — a date-window scan of
    orders with a correlated EXISTS against lineitem, grouped by
    priority. The schema has no l_commitdate/l_receiptdate, so "late"
    is l_shipdate > o_orderdate + 30 days (first shipment more than a
    month out). The EXISTS compiles to a LEFT SEMI hash join on
    l_orderkey with the non-equi ship-lag predicate attached; the
    date window prunes orders before the join, and the group count
    runs on |qualifying orders| rows."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    od = o.filter(
        F.col("o_orderdate")
        .cast("date")
        .between(F.lit("1996-01-01").cast("date"), F.lit("1996-03-31").cast("date"))
    )
    late = (
        od.join(
            li,
            (od["o_orderkey"] == li["l_orderkey"])
            & (
                li["l_shipdate"].cast("date")
                > F.date_add(od["o_orderdate"].cast("date"), 30)
            ),
            "left_semi",
        )
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH value_by_part AS (
      SELECT l_partkey AS partkey,
             sum(l_extendedprice * l_quantity) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      GROUP BY l_partkey)
    SELECT partkey, round(part_value, 2) AS part_value
    FROM value_by_part
    WHERE part_value > (SELECT 0.001 * sum(part_value) FROM value_by_part)
    """,
    tags=("tpch", "subquery", "having"),
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important-stock identification — per-part
    inventory value restricted to a supplier nation-group, kept only
    where it exceeds a fraction of the TOTAL value (an uncorrelated
    scalar subquery over the same aggregate). partsupp doesn't exist;
    lineitem is the part↔supplier incidence with
    extendedprice·quantity as the value proxy. The per-part aggregate
    is computed ONCE and reused for both the detail and the total
    (Spark reuses the cached relation; the total is a 1-row broadcast
    cross join, not a second scan pass)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    nat = n.filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
    by_part = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(nat), s["s_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("pv"))
    )
    from ...operators.iterate import scoped_persist

    by_part = scoped_persist(by_part, "part03.tpch_q11.by_part")
    total = by_part.agg((0.001 * F.sum("pv")).alias("threshold"))
    return (
        by_part.join(F.broadcast(total))
        .filter(F.col("pv") > F.col("threshold"))
        .select("partkey", F.round("pv", 2).alias("part_value"))
    )


@register(
    "acf_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT v,
             lag(v, 1) OVER (ORDER BY d) AS v1,
             lag(v, 7) OVER (ORDER BY d) AS v7
      FROM daily)
    SELECT round(corr(v, v1), 4) AS acf_lag1,
           round(corr(v, v7), 4) AS acf_lag7,
           CAST(count(*) AS BIGINT) AS n_days
    FROM lagged
    """,
    tags=("timeseries", "window", "stats"),
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 / lag-7 autocorrelation of the daily revenue series —
    seasonality diagnostics as a window(lag) + corr aggregate. The
    windows run over |days| rows AFTER the daily pre-aggregate, so
    the single-partition ORDER BY is bounded by the calendar, not the
    fact table; Pearson corr ignores the null lead-in pairs in both
    engines."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 7).over(w).alias("v7"),
    )
    return lagged.agg(
        F.round(F.corr("v", "v1"), 4).alias("acf_lag1"),
        F.round(F.corr("v", "v7"), 4).alias("acf_lag7"),
        F.count("*").cast("bigint").alias("n_days"),
    )


@register(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    stats AS (SELECT avg(v) AS m, stddev_samp(v) AS s FROM daily),
    c AS (
      SELECT d,
             sum((v - m) / s) OVER (
               ORDER BY d ROWS UNBOUNDED PRECEDING) AS cu
      FROM daily CROSS JOIN stats)
    SELECT strftime(d, '%Y-%m-%d') AS changepoint_date,
           round(cu, 3) AS cusum
    FROM c ORDER BY abs(cu) DESC, d LIMIT 1
    """,
    tags=("timeseries", "window", "stats"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily revenue: standardize by
    the global mean/σ (1-row broadcast), cumulative-sum in date order,
    report the date of maximum |CUSUM| — the classic mean-shift
    locator. Everything after the daily pre-aggregate is |days| rows;
    the argmax is a top-1 TakeOrderedAndProject, not a full sort."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    stats = daily.agg(
        F.avg("v").alias("m"), F.stddev_samp("v").alias("s")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        daily.join(F.broadcast(stats))
        .select("d", F.sum((F.col("v") - F.col("m")) / F.col("s")).over(w).alias("cu"))
    )
    return (
        c.orderBy(F.abs(F.col("cu")).desc(), F.col("d"))
        .limit(1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("changepoint_date"),
            F.round("cu", 3).alias("cusum"),
        )
    )


@register(
    "percentile_disc_bands",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_disc(o_totalprice, 0.5), 2) AS med_disc,
           round(quantile_cont(o_totalprice, 0.5), 2) AS med_cont,
           round(quantile_disc(o_totalprice, 0.9), 2) AS p90_disc
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile"),
)
def q_percentile_disc_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distribution percentiles per priority band: DISC (an
    actual data value) vs CONT (interpolated) medians side by side —
    the SQL:2008 WITHIN GROUP surface (Spark percentile_disc/
    percentile_cont ≡ DuckDB quantile_disc/quantile_cont). Exact
    percentiles sort within each hash-agg group; the approximate
    t-digest path (approx_percentile) is the 100 TB default and is
    covered by value_percentiles' docstring."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 2
        ).alias("med_disc"),
        F.round(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 2
        ).alias("med_cont"),
        F.round(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"), 2
        ).alias("p90_disc"),
    )


@register(
    "salted_skew_agg",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    """,
    tags=("agg", "scale", "skew"),
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe distinct count via explicit salting: event_type has
    few values (every row of a 100 TB feed lands on ≤ |types| reduce
    tasks if grouped directly), so stage 1 groups by
    (event_type, pmod(hash(user_id), 16)) — 16× the parallelism, and
    each user falls in exactly ONE salt bucket so the per-bucket
    DISTINCT counts sum without overlap. Stage 2 reduces 16·|types|
    tiny rows. Same answer as a direct COUNT(DISTINCT), plan shape
    survives arbitrary key skew (operators/scale.py has the general
    helper)."""
    e = _t(spark, sf_dir, "events")
    partial = (
        e.groupBy(
            "event_type",
            F.pmod(F.hash("user_id"), F.lit(16)).alias("salt"),
        )
        .agg(F.count_distinct("user_id").alias("du"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("du").cast("bigint").alias("distinct_users")
    )


@register(
    "tile_binning_webmercator",
    oracle="""
    WITH pts AS (
      SELECT (c_custkey * 37 % 3600) / 10.0 - 180.0 AS lon,
             (c_custkey * 53 % 1600) / 10.0 - 80.0 AS lat,
             c_acctbal
      FROM customer),
    binned AS (
      SELECT CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT) AS tile_x,
             CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
                         / pi()) / 2.0 * 64) AS BIGINT) AS tile_y,
             c_acctbal
      FROM pts)
    SELECT tile_x, tile_y,
           CAST(count(*) AS BIGINT) AS n_points,
           round(avg(c_acctbal), 2) AS avg_balance
    FROM binned GROUP BY tile_x, tile_y
    HAVING count(*) >= 5
    """,
    tags=("geo", "binning"),
)
def q_tile_binning_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-mercator slippy-tile binning at z=6 (the XYZ scheme the
    reference's viz product targets via its EPSG:3857 reproject,
    compute_ndvi.py:162-179): lon/lat → (tile_x, tile_y) by the
    standard mercator formula, then a per-tile aggregate. Tile
    assignment is pure column math (ln/tan/radians — whole-stage
    codegen), so at 100 TB this is one map + one hash-agg keyed by
    the tile id; the tile key is ALSO the natural partition key for a
    spatial lake (partition pruning = bbox query). Points are derived
    deterministically from customer so the oracle sees identical
    input."""
    c = _t(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") * 37 % 3600) / 10.0 - 180.0
    lat = (F.col("c_custkey") * 53 % 1600) / 10.0 - 80.0
    n = F.lit(64)
    tile_x = F.floor((lon + 180.0) / 360.0 * n).cast("bigint")
    lat_r = F.radians(lat)
    tile_y = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0 * n
    ).cast("bigint")
    return (
        c.select(tile_x.alias("tile_x"), tile_y.alias("tile_y"), "c_acctbal")
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_balance"),
        )
        .filter(F.col("n_points") >= 5)
    )


@register(
    "haversine_nearest_hub",
    oracle="""
    WITH hubs AS (
      SELECT * FROM (VALUES
        ('helsinki', 60.17, 24.94), ('london', 51.51, -0.13),
        ('nyc', 40.71, -74.01), ('tokyo', 35.68, 139.69),
        ('sydney', -33.87, 151.21), ('nairobi', -1.29, 36.82),
        ('sao_paulo', -23.55, -46.63), ('anchorage', 61.22, -149.90)
      ) AS t(hub, hub_lat, hub_lon)),
    pts AS (
      SELECT s_suppkey,
             (s_suppkey * 53 % 1600) / 10.0 - 80.0 AS lat,
             (s_suppkey * 37 % 3600) / 10.0 - 180.0 AS lon
      FROM supplier),
    dists AS (
      SELECT s_suppkey, hub,
             2 * 6371.0 * asin(sqrt(
               pow(sin(radians(hub_lat - lat) / 2), 2)
               + cos(radians(lat)) * cos(radians(hub_lat))
                 * pow(sin(radians(hub_lon - lon) / 2), 2))) AS dist_km,
             row_number() OVER (
               PARTITION BY s_suppkey
               ORDER BY 2 * 6371.0 * asin(sqrt(
                 pow(sin(radians(hub_lat - lat) / 2), 2)
                 + cos(radians(lat)) * cos(radians(hub_lat))
                   * pow(sin(radians(hub_lon - lon) / 2), 2))), hub) AS rn
      FROM pts CROSS JOIN hubs)
    SELECT hub,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(avg(dist_km), 1) AS avg_dist_km
    FROM dists WHERE rn = 1 GROUP BY hub
    """,
    tags=("geo", "join"),
)
def q_haversine_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment by great-circle distance: every point ×
    a tiny broadcast hub dim (the degenerate-but-universal spatial NN
    pattern — |dims| small enough that brute force beats any index),
    haversine in pure column math, per-point argmin via ranked window.
    At 100 TB the cross join stays map-side (8× row amplification,
    no shuffle); the only exchange is the final per-hub rollup of
    |points| pre-argmin rows — and the window's partition key is the
    point id, so it rides the same hash partitioning."""
    s = _t(spark, sf_dir, "supplier")
    hubs = local_df(
        spark,
        [
            ("helsinki", 60.17, 24.94), ("london", 51.51, -0.13),
            ("nyc", 40.71, -74.01), ("tokyo", 35.68, 139.69),
            ("sydney", -33.87, 151.21), ("nairobi", -1.29, 36.82),
            ("sao_paulo", -23.55, -46.63), ("anchorage", 61.22, -149.90),
        ],
        "hub STRING, hub_lat DOUBLE, hub_lon DOUBLE",
    )
    pts = s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 1600) / 10.0 - 80.0).alias("lat"),
        ((F.col("s_suppkey") * 37 % 3600) / 10.0 - 180.0).alias("lon"),
    )
    dist = (
        2.0
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("hub_lat") - F.col("lat")) / 2), 2)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("hub_lat"))
                * F.pow(F.sin(F.radians(F.col("hub_lon") - F.col("lon")) / 2), 2)
            )
        )
    )
    w = Window.partitionBy("s_suppkey").orderBy("dist_km", "hub")
    ranked = (
        pts.join(F.broadcast(hubs))
        .withColumn("dist_km", dist)
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("hub")
        .agg(
            F.count("*").cast("bigint").alias("n_assigned"),
            F.round(F.avg("dist_km"), 1).alias("avg_dist_km"),
        )
    )


@register(
    "max_concurrency_sweepline",
    oracle="""
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + CAST(1 + o_orderkey % 28 AS INTEGER) AS e
      FROM orders),
    deltas AS (
      SELECT s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta FROM iv),
    c AS (
      SELECT t, sum(delta) OVER (
        ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS cu
      FROM deltas)
    SELECT CAST(cu AS BIGINT) AS peak_concurrency,
           strftime(t, '%Y-%m-%d') AS peak_date
    FROM c ORDER BY cu DESC, t ASC LIMIT 1
    """,
    tags=("interval", "window"),
)
def q_max_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency by sweep-line: each order holds a
    synthetic [start, start+1..28d) reservation; explode to ±1 delta
    events, running-sum in (time, delta) order — ends retire before
    same-day starts, the half-open convention — and take the top-1.
    The shape is |2·intervals| narrow rows through ONE global sort;
    at 100 TB the same sweep runs per partition key (resource id)
    with the window partitioned, making the global variant here the
    worst case, and the answer is a TakeOrderedAndProject, never a
    full result sort."""
    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (1 + F.col("o_orderkey") % 28).cast("int"),
        ).alias("e"),
    )
    deltas = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    c = deltas.select("t", F.sum("delta").over(w).alias("cu"))
    return (
        c.orderBy(F.col("cu").desc(), F.col("t").asc())
        .limit(1)
        .select(
            F.col("cu").cast("bigint").alias("peak_concurrency"),
            F.date_format("t", "yyyy-MM-dd").alias("peak_date"),
        )
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS now FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT now FROM mx)) AS recency,
             count(*) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT ntile(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m_score
      FROM rfm)
    SELECT r_score, f_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(m_score), 3) AS avg_m_score
    FROM scored GROUP BY r_score, f_score
    """,
    tags=("window", "segmentation"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency/frequency/
    monetary, quintile-scored with ntile over deterministic
    (metric, key) orders — recency DESC so quintile 5 = most recent,
    matching the marketing convention — then the segment grid with
    customer counts and mean monetary score. ntile's equal-fill
    semantics are identical across engines once the order is total.
    The three global ntiles route through operators/rank.global_ranked:
    single-partition windows over |customers| pre-aggregated rows by
    default, EXACT two-pass range-partitioned form under
    spark.ndvi_etl.rankMode=distributed (no approximation needed at
    100 TB — same grid, parallel sort)."""
    from ...operators.rank import global_ranked

    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("now"))
    rfm = (
        o.join(F.broadcast(mx))
        .groupBy("o_custkey", "now")
        .agg(
            F.datediff(F.first("now"), F.max(F.col("o_orderdate").cast("date"))).alias(
                "recency"
            ),
            F.count("*").alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    s = global_ranked(
        rfm, [("recency", "desc"), "o_custkey"], ntile={"r_score": 5}
    )
    s = global_ranked(s, ["frequency", "o_custkey"], ntile={"f_score": 5})
    s = global_ranked(s, ["monetary", "o_custkey"], ntile={"m_score": 5})
    scored = s.select("r_score", "f_score", "m_score")
    return scored.groupBy("r_score", "f_score").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.avg("m_score"), 3).alias("avg_m_score"),
    )


@register(
    "proration_allocation",
    oracle="""
    WITH alloc AS (
      SELECT o_totalprice,
             l_extendedprice
             / sum(l_extendedprice) OVER (PARTITION BY l_orderkey) AS share
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(share * o_totalprice), 2) AS total_allocated,
           round(min(share), 6) AS min_share,
           round(max(share), 6) AS max_share
    FROM alloc
    """,
    tags=("window", "allocation"),
)
def q_proration_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent proration: each order's header total allocated
    across its lineitems by extended-price share (the window-sum
    ratio-to-report idiom). The conservation invariant —
    Σ(share·total) = Σ header totals over orders that have lines — is
    what the output checks. One shuffle on l_orderkey serves BOTH the
    window and the join (same key), so the plan reuses the exchange;
    at 100 TB this is the standard one-pass allocation shape."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("l_orderkey")
    alloc = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_totalprice",
        (F.col("l_extendedprice") / F.sum("l_extendedprice").over(w)).alias("share"),
    )
    return alloc.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.round(F.sum(F.col("share") * F.col("o_totalprice")), 2).alias(
            "total_allocated"
        ),
        F.round(F.min("share"), 6).alias("min_share"),
        F.round(F.max("share"), 6).alias("max_share"),
    )


@register(
    "repeat_purchase_overlap",
    oracle="""
    WITH baskets AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             list_distinct(list(l_partkey)) AS parts
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, o_orderkey, o_orderdate),
    seq AS (
      SELECT parts,
             lag(parts) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev
      FROM baskets)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN len(list_intersect(parts, prev)) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapping,
           round(avg(CAST(len(list_intersect(parts, prev)) AS DOUBLE)
                     / len(list_distinct(list_concat(parts, prev)))), 4)
             AS avg_jaccard
    FROM seq WHERE prev IS NOT NULL
    """,
    tags=("window", "array", "basket"),
)
def q_repeat_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-order basket overlap per customer: collect each
    order's distinct part set, lag the ARRAY column through a window
    (windows over complex types), and score Jaccard with
    array_intersect/array_union — set semantics make the engines'
    different array orders irrelevant. The basket collect and the
    window both key on the customer/order chain: one shuffle for the
    groupBy, one for the per-customer window, both on keys whose
    cardinality scales with the data (no hot key)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = baskets.select("parts", F.lag("parts").over(w).alias("prev")).filter(
        F.col("prev").isNotNull()
    )
    inter = F.size(F.array_intersect("parts", "prev"))
    union = F.size(F.array_union("parts", "prev"))
    return seq.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(inter > 0, 1).otherwise(0)).cast("bigint").alias("n_overlapping"),
        F.round(F.avg(inter.cast("double") / union), 4).alias("avg_jaccard"),
    )


@register(
    "frequency_cap_window",
    oracle="""
    WITH w AS (
      SELECT event_type,
             count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS cnt_1h
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN cnt_1h > 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap,
           round(avg(cnt_1h), 4) AS avg_rate_1h
    FROM w GROUP BY event_type
    """,
    tags=("window", "events", "range-frame"),
)
def q_frequency_cap_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-hour frequency capping: per-user event rate over a
    value-based RANGE frame (trailing 3600 s by the event's own
    timestamp, not row count — peers at the same instant all see the
    same frame in both engines), then the over-cap fraction per type.
    The frame key is unix microseconds so both engines window over
    identical integers. Partitioned by user_id → the window
    parallelizes across users; the 100 TB variant adds a time-bucket
    secondary partition to bound any single user's row run."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    counted = e.select(
        "event_type", F.count("*").over(w).alias("cnt_1h")
    )
    return counted.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("cnt_1h") > 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_cap"),
        F.round(F.avg("cnt_1h"), 4).alias("avg_rate_1h"),
    )


@register(
    "trimmed_winsorized_means",
    oracle="""
    WITH cut AS (
      SELECT o_orderpriority AS pr,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority,
           round(avg(o_totalprice), 2) AS mean_raw,
           round(avg(CASE WHEN o_totalprice BETWEEN lo AND hi
                          THEN o_totalprice END), 2) AS mean_trimmed,
           round(avg(least(greatest(o_totalprice, lo), hi)), 2)
             AS mean_winsorized
    FROM orders JOIN cut ON o_orderpriority = pr
    GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile", "robust"),
)
def q_trimmed_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per priority band: 5th/95th-percentile cutpoints
    (one grouped exact-percentile pass over |groups| rows), broadcast
    back, then trimmed (drop the tails) and winsorized (clamp the
    tails) means next to the raw mean. The two-pass
    cutpoints-then-clamp plan is the scalable robust-mean shape — the
    second pass is a pure map + hash-agg; swap the exact percentile
    for approx_percentile at 100 TB and nothing else changes."""
    o = _t(spark, sf_dir, "orders")
    cut = o.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    j = o.join(F.broadcast(cut), F.col("o_orderpriority") == F.col("pr"))
    tp = F.col("o_totalprice")
    return j.groupBy("o_orderpriority").agg(
        F.round(F.avg(tp), 2).alias("mean_raw"),
        F.round(
            F.avg(F.when(tp.between(F.col("lo"), F.col("hi")), tp)), 2
        ).alias("mean_trimmed"),
        F.round(
            F.avg(F.least(F.greatest(tp, F.col("lo")), F.col("hi"))), 2
        ).alias("mean_winsorized"),
    )


@register(
    "set_ops_multiset",
    oracle="""
    WITH a AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls FROM lineitem
      WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                         AND DATE '1996-06-30'),
    b AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls FROM lineitem
      WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01'
                                         AND DATE '1997-06-30')
    SELECT 'except_all' AS op, rf, ls, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY rf, ls
    UNION ALL
    SELECT 'intersect_all' AS op, rf, ls, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY rf, ls
    """,
    tags=("setops", "multiset"),
)
def q_set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — EXCEPT ALL / INTERSECT ALL preserve
    duplicate COUNTS (bag semantics), unlike the distinct variants in
    set_ops_nations: comparing two half-year slices of lineitem
    status pairs, the except-all count is max(0, n_a − n_b) per value
    and intersect-all is min(n_a, n_b). Spark plans both as a single
    hash aggregate over tagged counts (no join, no distinct) — the
    same one-shuffle shape as a groupBy, which is why bag set-ops
    stay cheap at any scale."""
    li = _t(spark, sf_dir, "lineitem")

    def half(year: int) -> DataFrame:
        return li.filter(
            F.col("l_shipdate")
            .cast("date")
            .between(
                F.lit(f"{year}-01-01").cast("date"),
                F.lit(f"{year}-06-30").cast("date"),
            )
        ).select(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls"))

    a, b = half(1996), half(1997)
    ex = (
        a.exceptAll(b)
        .groupBy("rf", "ls")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "rf", "ls", "n")
    )
    ix = (
        a.intersectAll(b)
        .groupBy("rf", "ls")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "rf", "ls", "n")
    )
    return ex.unionAll(ix)


@register(
    "bigram_logprob_quality",
    oracle="""
    WITH chars AS (
      SELECT doc_id, lang,
             substring(text, i, 2) AS bg,
             substring(text, i, 1) AS c1
      FROM documents,
           unnest(generate_series(1, len(text) - 1)) AS t(i)),
    model AS (SELECT bg, count(*) AS n_bg FROM chars GROUP BY bg),
    ctx AS (SELECT c1, count(*) AS n_c1 FROM chars GROUP BY c1),
    scored AS (
      SELECT doc_id, lang,
             avg(ln(CAST(n_bg AS DOUBLE) / n_c1)) AS lp
      FROM chars JOIN model USING (bg) JOIN ctx USING (c1)
      GROUP BY doc_id, lang)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(lp), 4) AS mean_logprob,
           round(quantile_cont(lp, 0.1), 4) AS p10_logprob
    FROM scored GROUP BY lang
    """,
    tags=("text", "quality", "lm"),
)
def q_bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring with a character-bigram LM
    trained on the corpus itself: P(b|a) = n(ab)/n(a·), per-doc mean
    log-probability, then the per-language score distribution — the
    cheap statistical-LM filter (out-of-distribution text scores low)
    that sits between heuristic ratios (text_quality) and a real LM.
    The model and context tables are |alphabet|²-sized aggregates →
    broadcast joins back onto the exploded bigram stream; at 100 TB
    you train the model on a hash-sample and the scoring pass stays
    one explode + two broadcast joins + one doc-key hash-agg."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        "lang",
        F.explode(seq1(F.length("text") - 1)).alias("i"),
        "text",
    ).select(
        "doc_id",
        "lang",
        F.expr("substring(text, i, 2)").alias("bg"),
        F.expr("substring(text, i, 1)").alias("c1"),
    )
    model = chars.groupBy("bg").agg(F.count("*").alias("n_bg"))
    ctx = chars.groupBy("c1").agg(F.count("*").alias("n_c1"))
    scored = (
        chars.join(F.broadcast(model), "bg")
        .join(F.broadcast(ctx), "c1")
        .groupBy("doc_id", "lang")
        .agg(F.avg(F.log(F.col("n_bg").cast("double") / F.col("n_c1"))).alias("lp"))
    )
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
        F.round(F.expr("percentile(lp, 0.1)"), 4).alias("p10_logprob"),
    )


@register(
    "new_vs_returning",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_d
      FROM orders GROUP BY o_custkey)
    SELECT strftime(date_trunc('month', CAST(o_orderdate AS DATE)),
                    '%Y-%m') AS month,
           CAST(sum(CASE WHEN date_trunc('month', CAST(o_orderdate AS DATE))
                              = date_trunc('month', first_d)
                         THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
           CAST(sum(CASE WHEN date_trunc('month', CAST(o_orderdate AS DATE))
                              <> date_trunc('month', first_d)
                         THEN 1 ELSE 0 END) AS BIGINT) AS returning_orders,
           round(sum(CASE WHEN date_trunc('month', CAST(o_orderdate AS DATE))
                               = date_trunc('month', first_d)
                          THEN o_totalprice ELSE 0 END), 2) AS new_revenue
    FROM orders JOIN first_order USING (o_custkey)
    GROUP BY 1
    """,
    tags=("cohort", "agg"),
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly new-vs-returning split: each order classified by
    whether it falls in its customer's first-purchase month (min-date
    self-aggregate joined back — the first-touch idiom), then
    conditional counts/revenue per calendar month. The first-order
    relation is |customers| rows off the same shuffle key as the
    join; the classification itself is a codegen CASE, so the whole
    query is two hash passes over orders at any scale."""
    o = _t(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d")
    )
    month = F.date_format(F.date_trunc("month", F.col("o_orderdate").cast("date")), "yyyy-MM")
    is_new = F.date_trunc("month", F.col("o_orderdate").cast("date")) == F.date_trunc(
        "month", F.col("first_d")
    )
    return (
        o.join(first, "o_custkey")
        .groupBy(month.alias("month"))
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("new_orders"),
            F.sum(F.when(~is_new, 1).otherwise(0))
            .cast("bigint")
            .alias("returning_orders"),
            F.round(
                F.sum(F.when(is_new, F.col("o_totalprice")).otherwise(0.0)), 2
            ).alias("new_revenue"),
        )
    )


@register(
    "interorder_gap_histogram",
    oracle="""
    WITH gaps AS (
      SELECT date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders)
    SELECT CASE WHEN gap_days < 7 THEN '0-6d'
                WHEN gap_days < 30 THEN '7-29d'
                WHEN gap_days < 90 THEN '30-89d'
                WHEN gap_days < 365 THEN '90-364d'
                ELSE '365d+' END AS gap_band,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(avg(gap_days), 2) AS avg_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
    tags=("window", "histogram"),
)
def q_interorder_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution: per-customer lag on the order
    date (deterministic tie-break by order key), day deltas banded
    into lifecycle buckets. The window partitions by customer — fully
    parallel — and the histogram is a 5-group hash-agg; the same two
    passes at 100 TB, with the band CASE folded into codegen."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    gaps = o.select(
        F.datediff(d, F.lag(d).over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    band = (
        F.when(F.col("gap_days") < 7, "0-6d")
        .when(F.col("gap_days") < 30, "7-29d")
        .when(F.col("gap_days") < 90, "30-89d")
        .when(F.col("gap_days") < 365, "90-364d")
        .otherwise("365d+")
    )
    return gaps.groupBy(band.alias("gap_band")).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.avg("gap_days"), 2).alias("avg_gap_days"),
    )


@register(
    "funnel_latency_percentiles",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id),
    conv AS (
      SELECT (epoch_us(first_purchase) - epoch_us(first_view))
             / 3600000000.0 AS hours
      FROM stages
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(hours, 0.5), 3) AS p50_hours,
           round(quantile_cont(hours, 0.9), 3) AS p90_hours,
           round(avg(hours), 3) AS mean_hours
    FROM conv
    """,
    tags=("funnel", "events", "percentile"),
)
def q_funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per-user first view and first
    purchase via conditional MIN aggregates (one hash pass — no
    self-join of the two stages), forward-converting users only, then
    exact latency percentiles. Complements funnel_conversion (which
    counts stage reach): this measures the latency of the
    view→purchase edge. |users| intermediate rows; the percentile is
    the only single-point step and runs on the converted subset."""
    e = _t(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    conv = stages.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            (F.unix_micros("first_purchase") - F.unix_micros("first_view"))
            / 3_600_000_000.0
        ).alias("hours")
    )
    return conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(hours, 0.5)"), 3).alias("p50_hours"),
        F.round(F.expr("percentile(hours, 0.9)"), 3).alias("p90_hours"),
        F.round(F.avg("hours"), 3).alias("mean_hours"),
    )


@register(
    "tpcds_q36_margin_rank",
    oracle="""
    WITH agg AS (
      SELECT r_name, n_name,
             grouping(r_name) + grouping(n_name) AS lochierarchy,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name))
    SELECT lochierarchy, r_name, n_name, revenue,
           CAST(rank() OVER (
             PARTITION BY lochierarchy,
                          CASE WHEN lochierarchy = 0 THEN r_name END
             ORDER BY revenue DESC, n_name NULLS FIRST, r_name NULLS FIRST
           ) AS BIGINT) AS rank_within_parent
    FROM agg
    """,
    tags=("tpcds", "rollup", "window"),
)
def q_tpcds_q36_margin_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q36 shape: revenue over a ROLLUP(region, nation)
    hierarchy with rank-within-parent — the window runs ON the
    grouped output, partitioned by hierarchy level (grouping() flags)
    and, at the leaf level, by the parent region, so nations rank
    against their siblings and regions against each other. The rolled
    relation is tiny (|regions|·|nations| + margins), so the ranking
    windows cost nothing; all the work is the one rollup pass over
    the fact join, which Spark executes as a single Expand +
    hash-agg."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    agg = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name")).alias("lochierarchy"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("r_name")),
    ).orderBy(
        F.col("revenue").desc(),
        F.col("n_name").asc_nulls_first(),
        F.col("r_name").asc_nulls_first(),
    )
    return agg.select(
        "lochierarchy",
        "r_name",
        "n_name",
        "revenue",
        F.rank().over(w).cast("bigint").alias("rank_within_parent"),
    )


@register(
    "spearman_rank_corr",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity) AS rq,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice) AS rp
      FROM lineitem)
    SELECT l_returnflag,
           round(corr(rq, rp), 4) AS spearman_rho,
           CAST(count(*) AS BIGINT) AS n
    FROM ranked GROUP BY l_returnflag
    """,
    tags=("stats", "window", "rank"),
)
def q_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per return-flag: rank-transform both
    variables (RANK, not row_number — ties must share a rank for the
    statistic to be engine-independent) inside each group, then
    Pearson corr of the ranks. Monotone-relationship detection that
    Pearson misses. The two windows partition by the group key so
    they parallelize; at 100 TB you'd bucket values through
    approx-percentile ranks instead of exact global sorts — same
    downstream corr."""
    li = _t(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        F.rank().over(wq).alias("rq"),
        F.rank().over(wp).alias("rp"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.round(F.corr("rq", "rp"), 4).alias("spearman_rho"),
        F.count("*").cast("bigint").alias("n"),
    )


@register(
    "scd2_build",
    oracle="""
    WITH versions AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events WHERE event_type = 'signup'),
    spans AS (
      SELECT user_id,
             (epoch_us(valid_to) - epoch_us(valid_from)) / 86400000000.0
               AS span_days,
             CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
      FROM versions)
    SELECT CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(is_current) AS BIGINT) AS n_current,
           round(avg(span_days), 4) AS avg_span_days,
           round(max(span_days), 4) AS max_span_days
    FROM spans
    """,
    tags=("scd", "window", "etl"),
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 CONSTRUCTION (the companion to scd2_lookup, which
    queries an existing dimension): each change event opens a version
    row whose validity closes at the user's next change — LEAD over
    (user, time) builds [valid_from, valid_to) intervals in one
    window pass, NULL valid_to marking the current version. Reported
    as version-count / open-count / span stats so the oracle checks
    the interval math, not row order. One shuffle on user_id; the
    dimension build at 100 TB is exactly this plan on the CDC feed."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    span = (
        (F.unix_micros("valid_to") - F.unix_micros("valid_from")) / 86_400_000_000.0
    )
    spans = versions.select(
        span.alias("span_days"),
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
    )
    return spans.agg(
        F.count("*").cast("bigint").alias("n_versions"),
        F.sum("is_current").cast("bigint").alias("n_current"),
        F.round(F.avg("span_days"), 4).alias("avg_span_days"),
        F.round(F.max("span_days"), 4).alias("max_span_days"),
    )


@register(
    "calendar_grid_fill",
    oracle="""
    WITH months AS (
      SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS m
      FROM orders),
    nations AS (SELECT n_nationkey, n_name FROM nation),
    actual AS (
      SELECT n_name,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    grid AS (
      SELECT n.n_name, months.m, coalesce(a.rev, 0.0) AS rev
      FROM nations n CROSS JOIN months
      LEFT JOIN actual a ON a.n_name = n.n_name AND a.m = months.m)
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(CASE WHEN rev > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active_months,
           round(sum(rev), 2) AS total_rev
    FROM grid GROUP BY n_name
    """,
    tags=("densification", "join"),
)
def q_calendar_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar-grid densification: nations × observed months
    cross join (both sides tiny — the grid is |dims|·|periods|, never
    fact-sized), zero-filled from the monthly revenue aggregate via
    LEFT join, then per-nation coverage. The reporting idiom that
    makes downstream window math safe (no missing-period holes). The
    fact table is touched once, for the aggregate; the densification
    happens entirely on broadcastable relations."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    month = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    months = o.select(month.alias("m")).distinct()
    actual = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", month.alias("m"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    grid = (
        n.select("n_name")
        .crossJoin(F.broadcast(months))
        .join(actual, ["n_name", "m"], "left")
        .select("n_name", "m", F.coalesce("rev", F.lit(0.0)).alias("rev"))
    )
    return grid.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.sum(F.when(F.col("rev") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_active_months"),
        F.round(F.sum("rev"), 2).alias("total_rev"),
    )


@register(
    "rolling_median_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    win AS (
      SELECT d, v,
             list_sort(list(v) OVER (
               ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS ws
      FROM daily)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(avg(ws[(len(ws) + 1) // 2]), 2) AS mean_rolling_median,
           round(max(ws[(len(ws) + 1) // 2]), 2) AS max_rolling_median
    FROM win WHERE len(ws) = 7
    """,
    tags=("window", "median", "timeseries"),
)
def q_rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 7-day exact median of daily revenue — an order statistic
    over a sliding frame, which no engine exposes as a native window
    aggregate, built portably as collect-the-frame → sort → index
    (lower median, (n+1)//2, stated identically in both SQLs). The
    frame is 7 elements so the per-row array cost is constant; the
    window runs on the |days| post-aggregate. The 100 TB variant
    replaces the collect with two heaps in a stateful streaming op or
    an approx sketch; the relational statement here is the oracle
    semantics."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    win = daily.select(
        "d", F.array_sort(F.collect_list("v").over(w)).alias("ws")
    ).filter(F.size("ws") == 7)
    med = F.element_at("ws", ((F.size("ws") + 1) / 2).cast("int"))
    return win.select(med.alias("m")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg("m"), 2).alias("mean_rolling_median"),
        F.round(F.max("m"), 2).alias("max_rolling_median"),
    )


@register(
    "largest_remainder_apportionment",
    oracle="""
    WITH rev AS (
      SELECT n_name, sum(o_totalprice) AS r
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    quota AS (
      SELECT n_name, r,
             100.0 * r / sum(r) OVER () AS q,
             CAST(floor(100.0 * r / sum(r) OVER ()) AS BIGINT) AS base
      FROM rev),
    ranked AS (
      SELECT n_name, base, q - base AS frac,
             row_number() OVER (ORDER BY q - base DESC, n_name) AS rn,
             100 - sum(base) OVER () AS leftover
      FROM quota)
    SELECT n_name,
           CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS seats,
           round(frac, 6) AS remainder
    FROM ranked
    """,
    tags=("window", "apportionment"),
)
def q_largest_remainder_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment: allocate 100
    integer 'seats' to nations in proportion to revenue — floor each
    quota, then hand the leftover seats to the largest fractional
    remainders (deterministic name tie-break). Integer outputs make
    the oracle check exact. The shape is a grouped aggregate followed
    by three global windows over |nations| rows — the windows run on
    the tiny post-aggregate, never the fact table, which is the rule
    for every 'global total' reporting query at scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    wall = Window.partitionBy()
    q = 100.0 * F.col("r") / F.sum("r").over(wall)
    quota = rev.select(
        "n_name", q.alias("q"), F.floor(q).cast("bigint").alias("base")
    )
    ranked = quota.select(
        "n_name",
        "base",
        (F.col("q") - F.col("base")).alias("frac"),
        F.row_number()
        .over(Window.orderBy((F.col("q") - F.col("base")).desc(), F.col("n_name")))
        .alias("rn"),
        (100 - F.sum("base").over(wall)).alias("leftover"),
    )
    return ranked.select(
        "n_name",
        (
            F.col("base") + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("seats"),
        F.round("frac", 6).alias("remainder"),
    )


@register(
    "cross_sell_gap",
    oracle="""
    WITH bought AS (
      SELECT DISTINCT o_custkey, p_brand
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand IN ('Brand#1', 'Brand#2'))
    SELECT CAST(count(*) AS BIGINT) AS n_gap_customers,
           round(avg(c_acctbal), 2) AS avg_balance
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM bought WHERE p_brand = 'Brand#1')
      AND c_custkey NOT IN (SELECT o_custkey FROM bought WHERE p_brand = 'Brand#2')
    """,
    tags=("semijoin", "antijoin", "crosssell"),
)
def q_cross_sell_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sell gap: customers who bought Brand#1 but never Brand#2
    — a semi join composed with an anti join off ONE shared
    customer×brand incidence relation (deduped before either join so
    the probe sides stay |customers|-sized, and the brand filter
    prunes the fact scan first). The audience-building shape behind
    every 'bought X, target with Y' campaign; both joins key on
    customer so they ride the same exchange."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    bought = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(
            F.broadcast(p.filter(F.col("p_brand").isin("Brand#1", "Brand#2"))),
            li["l_partkey"] == p["p_partkey"],
        )
        .select("o_custkey", "p_brand")
        .distinct()
    )
    b1 = bought.filter(F.col("p_brand") == "Brand#1").select("o_custkey")
    b2 = bought.filter(F.col("p_brand") == "Brand#2").select("o_custkey")
    gap = (
        c.join(b1, c["c_custkey"] == b1["o_custkey"], "left_semi")
        .join(b2, c["c_custkey"] == b2["o_custkey"], "left_anti")
    )
    return gap.agg(
        F.count("*").cast("bigint").alias("n_gap_customers"),
        F.round(F.avg("c_acctbal"), 2).alias("avg_balance"),
    )


@register(
    "never_discounted_parts",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(avg(p_retailprice), 2) AS avg_retail
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_partkey = p_partkey AND l_discount > 0.08)
    GROUP BY p_brand
    """,
    tags=("antijoin", "predicate-join"),
)
def q_never_discounted_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join WITH a join-side predicate: parts that were never
    sold at a deep (>8%) discount — NOT EXISTS over (key match AND
    condition). The condition lives INSIDE the anti join (the
    lineitem side is filtered before the hash build, so the join
    carries only deep-discount rows — far smaller than the full fact
    at any scale), which is exactly how Catalyst plans the NOT
    EXISTS; parts with no sales at all qualify too, matching the SQL
    semantics."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    deep = li.filter(F.col("l_discount") > 0.08).select("l_partkey")
    return (
        p.join(deep, p["p_partkey"] == deep["l_partkey"], "left_anti")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_retail"),
        )
    )


@register(
    "query_likelihood_lm",
    oracle="""
    WITH words AS (
      SELECT doc_id, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    doclen AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
    corpus AS (SELECT w, count(*) AS cf FROM words GROUP BY w),
    total AS (SELECT sum(cf) AS big_c FROM corpus),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words
      WHERE w IN ('spark', 'join', 'data') GROUP BY doc_id, w),
    scored AS (
      SELECT d.doc_id,
             sum(ln(0.7 * coalesce(tf.tf, 0) / dl.dl
                    + 0.3 * c.cf / t.big_c)) AS ql
      FROM (SELECT DISTINCT doc_id FROM words) d
      CROSS JOIN (SELECT w, cf FROM corpus
                  WHERE w IN ('spark', 'join', 'data')) c
      CROSS JOIN total t
      JOIN doclen dl ON dl.doc_id = d.doc_id
      LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.w = c.w
      GROUP BY d.doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(ql), 4) AS mean_ql,
           round(max(ql), 4) AS best_ql
    FROM scored
    """,
    tags=("text", "retrieval", "lm"),
)
def q_query_likelihood_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Jelinek–Mercer smoothing:
    score(d) = Σ_q ln(λ·tf/|d| + (1−λ)·cf/|C|) for the query terms —
    the statistical-LM ranking family next to BM25 (bm25_rank) and
    TF-IDF. Corpus stats (cf, |C|) are tiny broadcast relations; the
    per-doc term frequencies come from ONE explode pass filtered to
    the query terms, and docs missing a term still score via the
    smoothed background — the LEFT join that makes smoothing work.
    Reported as corpus-level score stats so the oracle pins every
    doc's score through the aggregate."""
    d = _t(spark, sf_dir, "documents")
    terms = ["spark", "join", "data"]
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    doclen = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = words.groupBy("w").agg(F.count("*").alias("cf"))
    total = corpus.agg(F.sum("cf").alias("big_c"))
    tf = (
        words.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    qterms = corpus.filter(F.col("w").isin(terms))
    scored = (
        doclen.crossJoin(F.broadcast(qterms))
        .crossJoin(F.broadcast(total))
        .join(tf, ["doc_id", "w"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    0.7 * F.coalesce(F.col("tf"), F.lit(0)) / F.col("dl")
                    + 0.3 * F.col("cf") / F.col("big_c")
                )
            ).alias("ql")
        )
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("ql"), 4).alias("mean_ql"),
        F.round(F.max("ql"), 4).alias("best_ql"),
    )


@register(
    "division_relational",
    oracle="""
    WITH target AS (
      SELECT DISTINCT p_brand FROM part
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')),
    covered AS (
      SELECT l_suppkey, count(DISTINCT p_brand) AS n_brands
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      GROUP BY l_suppkey)
    SELECT CAST(count(*) AS BIGINT) AS n_full_coverage,
           round(avg(s_acctbal), 2) AS avg_balance
    FROM supplier
    JOIN covered ON s_suppkey = l_suppkey
    WHERE n_brands = (SELECT count(*) FROM target)
    """,
    tags=("division", "agg", "forall"),
)
def q_division_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — suppliers that have shipped EVERY brand
    in the target set (the universal-quantifier query that SQL has no
    operator for): count distinct covered brands per supplier and
    keep those matching the divisor's cardinality. The
    count-equals-|divisor| rewrite turns ∀ into one hash aggregate —
    no nested NOT EXISTS double negation, no |suppliers|×|brands|
    cross join — and the divisor count is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    brands = ["Brand#1", "Brand#2", "Brand#3"]
    target_n = (
        p.filter(F.col("p_brand").isin(brands))
        .select("p_brand")
        .distinct()
        .agg(F.count("*").alias("target_n"))
    )
    covered = (
        li.join(
            F.broadcast(p.filter(F.col("p_brand").isin(brands))),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy("l_suppkey")
        .agg(F.count_distinct("p_brand").alias("n_brands"))
    )
    return (
        s.join(covered, s["s_suppkey"] == covered["l_suppkey"])
        .join(F.broadcast(target_n))
        .filter(F.col("n_brands") == F.col("target_n"))
        .agg(
            F.count("*").cast("bigint").alias("n_full_coverage"),
            F.round(F.avg("s_acctbal"), 2).alias("avg_balance"),
        )
    )


@register(
    "topk_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY round(o_totalprice, -3) DESC) AS rk,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY round(o_totalprice, -3) DESC,
                                         o_orderkey) AS rn
      FROM orders)
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS topk_with_ties,
           CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS topk_row_number
    FROM r GROUP BY o_orderpriority
    """,
    tags=("window", "topk", "ties"),
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES vs without: RANK keeps every row tied with the
    k-th (the SQL:2008 FETCH FIRST k WITH TIES semantics), row_number
    cuts at exactly k — the counts per group expose the difference
    (prices are coarsened to the nearest thousand so ties genuinely
    occur). Same single window sort serves both functions; at scale
    a top-k-per-group pre-aggregation would bound the sort input."""
    o = _t(spark, sf_dir, "orders")
    coarse = F.round(F.col("o_totalprice"), -3)
    wr = Window.partitionBy("o_orderpriority").orderBy(coarse.desc())
    wn = Window.partitionBy("o_orderpriority").orderBy(
        coarse.desc(), F.col("o_orderkey")
    )
    r = o.select(
        "o_orderpriority",
        F.rank().over(wr).alias("rk"),
        F.row_number().over(wn).alias("rn"),
    )
    return r.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("topk_with_ties"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("topk_row_number"),
    )


@register(
    "error_burn_rate",
    oracle="""
    WITH buckets AS (
      SELECT to_timestamp(floor(epoch(ts) / 900) * 900) AS b15,
             to_timestamp(floor(epoch(ts) / 3600) * 3600) AS b60,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events),
    fine AS (
      SELECT b15, min(b60) AS b60,
             CAST(sum(is_err) AS DOUBLE) / count(*) AS err_rate_15m
      FROM buckets GROUP BY b15),
    coarse AS (
      SELECT b60, CAST(sum(is_err) AS DOUBLE) / count(*) AS err_rate_1h
      FROM buckets GROUP BY b60)
    SELECT CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN err_rate_15m > 0.25 AND err_rate_1h > 0.22
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_burn_alerts,
           round(avg(err_rate_15m), 4) AS mean_15m_rate
    FROM fine JOIN coarse USING (b60)
    """,
    tags=("sre", "events", "window"),
)
def q_error_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window burn-rate alerting (the SRE error-budget idiom):
    error rate per 15-min bucket AND per enclosing hour, alert only
    when BOTH exceed their thresholds — fast windows catch the spike,
    slow windows stop flapping. One scan feeds both granularities
    (the hour key is derived in the same pass and carried through the
    fine aggregate via min — no second read); the join is
    |15-min buckets| vs |hours|, trivially broadcastable forever."""
    e = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    buckets = e.select(
        F.timestamp_seconds(F.floor(epoch / 900) * 900).alias("b15"),
        F.timestamp_seconds(F.floor(epoch / 3600) * 3600).alias("b60"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    fine = buckets.groupBy("b15").agg(
        F.min("b60").alias("b60"),
        (F.sum("is_err").cast("double") / F.count("*")).alias("err_rate_15m"),
    )
    coarse = buckets.groupBy("b60").agg(
        (F.sum("is_err").cast("double") / F.count("*")).alias("err_rate_1h")
    )
    j = fine.join(F.broadcast(coarse), "b60")
    return j.agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.sum(
            F.when(
                (F.col("err_rate_15m") > 0.25) & (F.col("err_rate_1h") > 0.22), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_burn_alerts"),
        F.round(F.avg("err_rate_15m"), 4).alias("mean_15m_rate"),
    )


@register(
    "ndvi_percentile_composite",
    oracle=None,  # placeholder replaced below (needs _TS_NDVI_SQL)
    tags=("ndvi", "timeseries", "percentile"),
)
def q_ndvi_percentile_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pixel 90th-percentile temporal composite — the
    outlier-robust alternative to the greenest-pixel max
    (ndvi_annual_composite): a max composite keeps sensor spikes, the
    high-percentile composite rejects them while preserving peak
    greenness. Exact interpolated percentile per (year, pixel) group
    — small groups (|periods/year|), so the per-group sort is
    constant work and the plan is the same single hash-agg cascade
    as the max composite."""
    nv = _ts_ndvi_df(spark, sf_dir).withColumn(
        "yr", F.floor(F.col("period") / F.lit(100.0)).cast("int")
    )
    comp = (
        nv.filter(F.col("ndvi").isNotNull())
        .groupBy("yr", "y", "x")
        .agg(
            F.expr("percentile(ndvi, 0.9)").alias("cv"),
            F.count("*").alias("n_obs"),
        )
    )
    return comp.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("n_pixels"),
        F.round(F.avg("cv"), 6).alias("mean_composite"),
        F.round(F.avg(F.col("n_obs").cast("double")), 2).alias("mean_obs"),
    )


_spec_npc = REGISTRY["ndvi_percentile_composite"]
REGISTRY["ndvi_percentile_composite"] = QuerySpec(
    _spec_npc.builder,
    _TS_NDVI_SQL
    + """
    , comp AS (
      SELECT CAST(floor(period / 100.0) AS INT) AS yr, y, x,
             quantile_cont(ndvi, 0.9) AS cv, count(*) AS n_obs
      FROM nv WHERE ndvi IS NOT NULL GROUP BY 1, 2, 3
    )
    SELECT yr, CAST(count(*) AS BIGINT) AS n_pixels,
           round(avg(cv), 6) AS mean_composite,
           round(avg(CAST(n_obs AS DOUBLE)), 2) AS mean_obs
    FROM comp GROUP BY yr
    """,
    _spec_npc.headline,
    _spec_npc.tags,
)


@register(
    "centroid_pairwise_distances",
    oracle="""
    WITH dims AS (
      SELECT label, dim, embedding[dim] AS v
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS t(dim)),
    centroids AS (
      SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sqrt(sum((a.c - b.c) * (a.c - b.c))) AS dist
      FROM centroids a JOIN centroids b ON a.dim = b.dim
      WHERE a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b, round(dist, 5) AS dist
    FROM pairs
    """,
    tags=("embeddings", "similarity", "geometry"),
)
def q_centroid_pairwise_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid distance matrix — the class-separability
    diagnostic behind nearest-centroid classification
    (centroid_classify): per-label mean vector via explode +
    (label, dim) hash-agg, then all label pairs joined on dim and
    reduced to Euclidean distances. |labels|²·dims intermediate rows
    — centroids are a broadcastable relation no matter how many
    embeddings fed them, so the pairwise stage never scales with the
    corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    cent = dims.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    a = cent.alias("a")
    b = cent.alias("b")
    pairs = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(
            F.sqrt(
                F.sum((F.col("a.c") - F.col("b.c")) * (F.col("a.c") - F.col("b.c")))
            ).alias("dist")
        )
    )
    return pairs.select("label_a", "label_b", F.round("dist", 5).alias("dist"))


@register(
    "backlog_aging_waterfall",
    oracle="""
    WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS today FROM orders),
    open_orders AS (
      SELECT date_diff('day', CAST(o_orderdate AS DATE),
                       (SELECT today FROM ref)) AS age_days,
             o_totalprice
      FROM orders WHERE o_orderstatus IN ('O', 'P'))
    SELECT CASE WHEN age_days < 30 THEN 'a_0_29'
                WHEN age_days < 90 THEN 'b_30_89'
                WHEN age_days < 365 THEN 'c_90_364'
                ELSE 'd_365_plus' END AS age_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS open_value
    FROM open_orders GROUP BY 1
    """,
    tags=("aging", "agg"),
)
def q_backlog_aging_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: unfinished orders bucketed by age
    against the data's own as-of date (max order date — closed over
    the input, no wall clock), with count and open value per band —
    the receivables/backlog waterfall every ops dashboard carries.
    One scan, one 4-group agg; the as-of date is a 1-row broadcast."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("today"))
    open_orders = (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .join(F.broadcast(ref))
        .select(
            F.datediff(F.col("today"), F.col("o_orderdate").cast("date")).alias(
                "age_days"
            ),
            "o_totalprice",
        )
    )
    band = (
        F.when(F.col("age_days") < 30, "a_0_29")
        .when(F.col("age_days") < 90, "b_30_89")
        .when(F.col("age_days") < 365, "c_90_364")
        .otherwise("d_365_plus")
    )
    return open_orders.groupBy(band.alias("age_band")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("open_value"),
    )


@register(
    "variance_decomposition",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, avg(o_totalprice) AS mu_i, count(*) AS n_i
      FROM orders GROUP BY o_custkey),
    gstat AS (
      SELECT avg(o_totalprice) AS mu, var_pop(o_totalprice) AS var_total,
             count(*) AS n
      FROM orders),
    within AS (
      SELECT avg((o.o_totalprice - p.mu_i) * (o.o_totalprice - p.mu_i))
        AS var_within
      FROM orders o JOIN per_cust p ON o.o_custkey = p.o_custkey),
    between_c AS (
      SELECT sum(p.n_i * (p.mu_i - g.mu) * (p.mu_i - g.mu)) / g.n
        AS var_between
      FROM per_cust p CROSS JOIN gstat g GROUP BY g.n)
    SELECT round(g.var_total, 2) AS var_total,
           round(w.var_within, 2) AS var_within,
           round(b.var_between, 2) AS var_between,
           round(w.var_within + b.var_between - g.var_total, 4) AS residual
    FROM gstat g CROSS JOIN within w CROSS JOIN between_c b
    """,
    tags=("stats", "decomposition"),
)
def q_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-total-variance decomposition: order-value variance split
    into within-customer and between-customer components (the ANOVA
    identity — residual pinned ≈ 0 makes the oracle check the
    algebra, not just the numbers). Per-customer moments are one
    hash-agg; the within term re-joins them to the facts on the SAME
    key, so the join inherits the aggregate's partitioning — two
    passes over orders total, no window, no sort, at any scale."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.avg("o_totalprice").alias("mu_i"), F.count("*").alias("n_i")
    )
    glob = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.var_pop("o_totalprice").alias("var_total"),
        F.count("*").alias("n"),
    )
    dev = F.col("o_totalprice") - F.col("mu_i")
    within = o.join(per_cust, "o_custkey").agg(
        F.avg(dev * dev).alias("var_within")
    )
    bdev = F.col("mu_i") - F.col("mu")
    between = (
        per_cust.join(F.broadcast(glob))
        .groupBy("n")
        .agg((F.sum(F.col("n_i") * bdev * bdev) / F.col("n")).alias("var_between"))
    )
    return (
        glob.join(F.broadcast(within))
        .join(F.broadcast(between.select("var_between")))
        .select(
            F.round("var_total", 2).alias("var_total"),
            F.round("var_within", 2).alias("var_within"),
            F.round("var_between", 2).alias("var_between"),
            F.round(
                F.col("var_within") + F.col("var_between") - F.col("var_total"), 4
            ).alias("residual"),
        )
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             date_trunc('month', min(CAST(o_orderdate AS DATE))) AS cohort_m
      FROM orders GROUP BY o_custkey),
    cohort_sizes AS (
      SELECT cohort_m, count(*) AS cohort_n FROM firsts GROUP BY cohort_m),
    monthly AS (
      SELECT f.cohort_m,
             date_diff('month', f.cohort_m,
                       date_trunc('month', CAST(o.o_orderdate AS DATE)))
               AS age_m,
             sum(o.o_totalprice) AS rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    cumulative AS (
      SELECT cohort_m, age_m,
             sum(rev) OVER (PARTITION BY cohort_m ORDER BY age_m
                            ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM monthly)
    SELECT age_m,
           CAST(count(*) AS BIGINT) AS n_cohorts,
           round(avg(c.cum_rev / s.cohort_n), 2) AS avg_ltv_per_customer
    FROM cumulative c JOIN cohort_sizes s USING (cohort_m)
    WHERE age_m <= 12
    GROUP BY age_m
    """,
    tags=("cohort", "ltv", "window"),
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation curve: revenue per (cohort, months
    since first order), cumulated within cohort, normalized per
    cohort member, averaged across cohorts — the customer-lifetime
    curve next to retention_cohorts' activity counts. Everything
    after the first-order join runs on the |cohorts|×|ages| grid; the
    cumulative window partitions by cohort so no global sort exists
    anywhere."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).alias(
            "cohort_m"
        )
    )
    sizes = firsts.groupBy("cohort_m").agg(F.count("*").alias("cohort_n"))
    age = F.months_between(
        F.date_trunc("month", F.col("o_orderdate").cast("date")), F.col("cohort_m")
    ).cast("long")
    monthly = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_m", age.alias("age_m"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumulative = monthly.select(
        "cohort_m", "age_m", F.sum("rev").over(w).alias("cum_rev")
    )
    return (
        cumulative.join(F.broadcast(sizes), "cohort_m")
        .filter(F.col("age_m") <= 12)
        .groupBy("age_m")
        .agg(
            F.count("*").cast("bigint").alias("n_cohorts"),
            F.round(F.avg(F.col("cum_rev") / F.col("cohort_n")), 2).alias(
                "avg_ltv_per_customer"
            ),
        )
    )


@register(
    "seasonal_index_monthly",
    oracle="""
    WITH monthly AS (
      SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%m') AS INT) AS cal_m,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2),
    base AS (SELECT avg(rev) AS overall FROM monthly)
    SELECT cal_m,
           round(avg(rev / overall), 4) AS seasonal_index,
           CAST(count(*) AS BIGINT) AS n_years
    FROM monthly CROSS JOIN base
    GROUP BY cal_m
    """,
    tags=("timeseries", "seasonality"),
)
def q_seasonal_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative monthly seasonal index: each calendar month's
    average revenue ratio to the overall monthly mean — the
    decomposition step before any deseasonalized trend fit (the NDVI
    phenology analog on business data). Runs entirely on the
    |months| pre-aggregate with a 1-row broadcast base; index > 1 =
    month runs hot."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month(F.col("o_orderdate").cast("date")).alias("cal_m"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    base = monthly.agg(F.avg("rev").alias("overall"))
    return (
        monthly.join(F.broadcast(base))
        .groupBy("cal_m")
        .agg(
            F.round(F.avg(F.col("rev") / F.col("overall")), 4).alias(
                "seasonal_index"
            ),
            F.count("*").cast("bigint").alias("n_years"),
        )
    )


@register(
    "polygon_shoelace_metrics",
    oracle=None,  # finalized below from _AOI_RING
    tags=("geo", "window"),
)
def q_polygon_shoelace_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace polygon area + perimeter over a vertex relation: pair
    each vertex with its successor via modular index join (closing
    edge included — the wrap that LEAD alone can't express), then the
    cross-product half-sum and edge-length sum. The concave test ring
    (the AOI from the clip queries) pins signed-area handling via
    abs(). Vertex tables for real cadastres are millions of rows per
    polygon set; the join keys on (polygon, (i+1) mod n) so each
    polygon's edges stay co-partitioned."""
    n = len(_AOI_RING)
    ring = local_df(
        spark,
        [(i, float(x), float(y)) for i, (x, y) in enumerate(_AOI_RING)],
        "i INT, x DOUBLE, y DOUBLE",
    )
    nxt = ring.select(
        F.col("i").alias("j"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    edges = ring.join(nxt, F.pmod(F.col("i") + 1, F.lit(n)) == F.col("j"))
    cross = F.col("x") * F.col("y2") - F.col("x2") * F.col("y")
    seg = F.sqrt(
        F.pow(F.col("x2") - F.col("x"), 2) + F.pow(F.col("y2") - F.col("y"), 2)
    )
    return edges.agg(
        F.round(F.abs(F.sum(cross)) / 2.0, 4).alias("area"),
        F.round(F.sum(seg), 4).alias("perimeter"),
        F.count("*").cast("bigint").alias("n_edges"),
    )


_spec_shoe = REGISTRY["polygon_shoelace_metrics"]
REGISTRY["polygon_shoelace_metrics"] = QuerySpec(
    _spec_shoe.builder,
    f"""
    WITH ring AS (SELECT * FROM {_ring_values_sql()}),
    edges AS (
      SELECT r.x, r.y, s.x AS x2, s.y AS y2
      FROM ring r JOIN ring s ON (r.i + 1) % {len(_AOI_RING)} = s.i)
    SELECT round(abs(sum(x * y2 - x2 * y)) / 2.0, 4) AS area,
           round(sum(sqrt((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y))), 4)
             AS perimeter,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM edges
    """,
    _spec_shoe.headline,
    _spec_shoe.tags,
)


@register(
    "time_weighted_average",
    oracle="""
    WITH seg AS (
      SELECT user_id, value,
             (epoch_us(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              - epoch_us(ts)) / 1000000.0 AS dur_s
      FROM events WHERE event_type = 'view'),
    twa AS (
      SELECT user_id,
             sum(value * dur_s) / sum(dur_s) AS twa_value,
             CAST(count(*) AS BIGINT) AS n_segments
      FROM seg WHERE dur_s IS NOT NULL AND dur_s > 0
      GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(twa_value), 4) AS mean_twa,
           round(max(twa_value), 4) AS max_twa
    FROM twa
    """,
    tags=("timeseries", "window", "integral"),
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a step function: each observation
    holds until the user's next one (LEAD gives the segment
    duration), TWA = Σ v·Δt / Σ Δt — the correct mean for
    irregularly-sampled gauges (balances, queue depths, sensor
    readings), where the arithmetic mean over-weights busy periods.
    One window pass keyed by user, then a per-user weighted agg on
    the same key — single shuffle end to end."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "value",
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")) / 1_000_000.0
        ).alias("dur_s"),
    )
    twa = (
        seg.filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("value") * F.col("dur_s")) / F.sum("dur_s")).alias(
                "twa_value"
            ),
            F.count("*").cast("bigint").alias("n_segments"),
        )
    )
    return twa.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("twa_value"), 4).alias("mean_twa"),
        F.round(F.max("twa_value"), 4).alias("max_twa"),
    )


@register(
    "chained_growth_rate",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    factors AS (
      SELECT m, rev / lag(rev) OVER (ORDER BY m) AS f
      FROM monthly),
    yearly AS (
      SELECT CAST(strftime(m, '%Y') AS INT) AS yr,
             exp(sum(ln(f))) AS chained,
             CAST(count(*) AS BIGINT) AS n_months,
             round(min(f), 4) AS worst_month,
             round(max(f), 4) AS best_month
      FROM factors WHERE f IS NOT NULL
      GROUP BY 1)
    SELECT yr, round(chained, 4) AS chained_growth,
           n_months, worst_month, best_month
    FROM yearly
    """,
    tags=("timeseries", "product-agg"),
)
def q_chained_growth_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained (compounded) growth per year: monthly growth factors
    multiplied via the exp-Σ-ln product aggregate — SQL has no
    PRODUCT(), so the log-space identity is how index chaining,
    compound returns and survival products are computed relationally
    (growth factors are strictly positive, so the logs are safe).
    Window + aggregate both run on the |months| pre-aggregate."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("m")
    factors = monthly.select(
        "m", (F.col("rev") / F.lag("rev").over(w)).alias("f")
    ).filter(F.col("f").isNotNull())
    return (
        factors.groupBy(F.year("m").alias("yr"))
        .agg(
            F.round(F.exp(F.sum(F.log("f"))), 4).alias("chained_growth"),
            F.count("*").cast("bigint").alias("n_months"),
            F.round(F.min("f"), 4).alias("worst_month"),
            F.round(F.max("f"), 4).alias("best_month"),
        )
    )


@register(
    "hll_sketch_rollup",
    oracle="""
    SELECT r_name,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS estimate_within_5pct
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("approx", "sketch", "rollup"),
)
def q_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch persistence + merge-on-read (the pattern behind every
    100 TB distinct-count dashboard): per-NATION HLL sketches of
    ordering customers built once (hll_sketch_agg, Apache
    DataSketches — a BINARY column you could store in the lake), then
    UNIONED up to regions (hll_union_agg) without touching raw data
    again — mergeability is the whole point; re-aggregation to any
    coarser grain is sketch-sized work. The oracle pins the EXACT
    per-region counts and the estimate-within-5% contract (the same
    banded-contract device as approx_distinct_bands), so the rollup's
    correctness is hash-checked even though sketches differ across
    engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    nation_sketches = base.groupBy("r_name", "n_name").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
    )
    merged = nation_sketches.groupBy("r_name").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = base.groupBy("r_name").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_customers")
    )
    return (
        exact.join(merged, "r_name")
        .select(
            "r_name",
            "exact_customers",
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            ).alias("estimate_within_5pct"),
        )
    )


@register(
    "rrf_rank_fusion",
    oracle="""
    WITH metrics AS (
      SELECT s_suppkey, s_name, s_acctbal,
             coalesce(rev, 0.0) AS rev
      FROM supplier LEFT JOIN (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_suppkey) r ON s_suppkey = l_suppkey),
    ranked AS (
      SELECT s_suppkey, s_name,
             row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey)
               AS rank_bal,
             row_number() OVER (ORDER BY rev DESC, s_suppkey) AS rank_rev
      FROM metrics),
    fused AS (
      SELECT s_suppkey, s_name, rank_bal, rank_rev,
             1.0 / (60 + rank_bal) + 1.0 / (60 + rank_rev) AS rrf
      FROM ranked)
    SELECT s_name,
           round(rrf, 6) AS rrf_score,
           CAST(rank_bal AS BIGINT) AS rank_bal,
           CAST(rank_rev AS BIGINT) AS rank_rev
    FROM fused ORDER BY rrf DESC, s_suppkey LIMIT 10
    """,
    tags=("retrieval", "ranking", "fusion"),
)
def q_rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion — the standard way to blend rankings
    from incomparable scorers (BM25 + vector similarity in a real
    retrieval stack; balance + revenue here): RRF = Σ 1/(k+rankᵢ),
    k=60, needing no score normalization at all. Deterministic
    row_number tie-breaks make the fusion reproducible; the final
    list is a top-10 TakeOrderedAndProject. Each ranking is a window
    over the |suppliers| aggregate — at 100 TB each source ranking
    would arrive pre-computed (top-k from its own engine) and the
    fusion joins k-sized lists."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    metrics = s.join(rev, s["s_suppkey"] == rev["l_suppkey"], "left").select(
        "s_suppkey", "s_name", "s_acctbal", F.coalesce("rev", F.lit(0.0)).alias("rev")
    )
    ranked = metrics.select(
        "s_suppkey",
        "s_name",
        F.row_number()
        .over(Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey")))
        .alias("rank_bal"),
        F.row_number()
        .over(Window.orderBy(F.col("rev").desc(), F.col("s_suppkey")))
        .alias("rank_rev"),
    )
    fused = ranked.withColumn(
        "rrf", 1.0 / (60 + F.col("rank_bal")) + 1.0 / (60 + F.col("rank_rev"))
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("s_suppkey"))
        .limit(10)
        .select(
            "s_name",
            F.round("rrf", 6).alias("rrf_score"),
            F.col("rank_bal").cast("bigint").alias("rank_bal"),
            F.col("rank_rev").cast("bigint").alias("rank_rev"),
        )
    )


@register(
    "odds_ratio_returns",
    oracle="""
    WITH cells AS (
      SELECT p_brand,
             CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
                           THEN 1 ELSE 0 END) AS DOUBLE) AS a,
             CAST(sum(CASE WHEN l_returnflag = 'R' AND l_discount <= 0.05
                           THEN 1 ELSE 0 END) AS DOUBLE) AS b,
             CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_discount > 0.05
                           THEN 1 ELSE 0 END) AS DOUBLE) AS c,
             CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_discount <= 0.05
                           THEN 1 ELSE 0 END) AS DOUBLE) AS d
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand)
    SELECT p_brand,
           round((a * d) / (b * c), 4) AS odds_ratio,
           round(exp(ln((a * d) / (b * c))
                     - 1.96 * sqrt(1/a + 1/b + 1/c + 1/d)), 4) AS ci_low,
           round(exp(ln((a * d) / (b * c))
                     + 1.96 * sqrt(1/a + 1/b + 1/c + 1/d)), 4) AS ci_high
    FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    """,
    tags=("stats", "epidemiology", "conditional"),
)
def q_odds_ratio_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio with Woolf confidence interval per brand: does
    a deep discount associate with returns? The contingency cells are
    four conditional sums in ONE pass (never four scans), the OR and
    its log-space CI are scalar math on the |brands| aggregate — the
    case-control analysis shape, next to chi_square_independence
    (which tests, where this sizes the effect). CI straddling 1.0 =
    no effect; the synthetic data's flat generator makes that the
    expected read."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    ret = F.col("l_returnflag") == "R"
    deep = F.col("l_discount") > 0.05
    cell = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("double")  # noqa: E731
    cells = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            cell(ret & deep).alias("a"),
            cell(ret & ~deep).alias("b"),
            cell(~ret & deep).alias("c"),
            cell(~ret & ~deep).alias("d"),
        )
        .filter(
            (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
        )
    )
    orx = (F.col("a") * F.col("d")) / (F.col("b") * F.col("c"))
    se = F.sqrt(1 / F.col("a") + 1 / F.col("b") + 1 / F.col("c") + 1 / F.col("d"))
    return cells.select(
        "p_brand",
        F.round(orx, 4).alias("odds_ratio"),
        F.round(F.exp(F.log(orx) - 1.96 * se), 4).alias("ci_low"),
        F.round(F.exp(F.log(orx) + 1.96 * se), 4).alias("ci_high"),
    )


@register(
    "mutual_information_binned",
    oracle="""
    WITH binned AS (
      SELECT ntile(5) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
               AS bx,
             ntile(5) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS by
      FROM lineitem),
    joint AS (
      SELECT bx, by, CAST(count(*) AS DOUBLE) AS nxy FROM binned
      GROUP BY bx, by),
    tot AS (SELECT sum(nxy) AS n FROM joint),
    mx  AS (SELECT bx, sum(nxy) AS nx FROM joint GROUP BY bx),
    my  AS (SELECT by, sum(nxy) AS ny FROM joint GROUP BY by)
    SELECT round(sum((nxy / n) * ln((nxy * n) / (nx * ny))), 6)
             AS mutual_information,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM joint CROSS JOIN tot
    JOIN mx USING (bx) JOIN my USING (by)
    """,
    tags=("stats", "information", "binning"),
)
def q_mutual_information_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between quantity and price, estimated on a
    5×5 quantile-binned joint distribution (the copula grid):
    deterministic ntile bins, joint/marginal cell counts, then
    I = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) — the dependence measure that
    sees what Pearson/Spearman miss (non-monotone structure). All the
    information math runs on ≤25 cells; only the binning touches the
    fact table. Both global ntiles route through
    operators/rank.global_ranked — under
    spark.ndvi_etl.rankMode=distributed each becomes an exact
    range-partitioned two-pass, so the fact table is never funneled
    to one partition."""
    from ...operators.rank import global_ranked

    li = _t(spark, sf_dir, "lineitem")
    base = li.select("l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber")
    binned = global_ranked(
        global_ranked(
            base,
            ["l_quantity", "l_orderkey", "l_linenumber"],
            ntile={"bx": 5},
        ),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        ntile={"by": 5},
    ).select("bx", "by")
    joint = binned.groupBy("bx", "by").agg(
        F.count("*").cast("double").alias("nxy")
    )
    tot = joint.agg(F.sum("nxy").alias("n"))
    mx = joint.groupBy("bx").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("by").agg(F.sum("nxy").alias("ny"))
    j = (
        joint.join(F.broadcast(tot))
        .join(F.broadcast(mx), "bx")
        .join(F.broadcast(my), "by")
    )
    term = (F.col("nxy") / F.col("n")) * F.log(
        (F.col("nxy") * F.col("n")) / (F.col("nx") * F.col("ny"))
    )
    return j.agg(
        F.round(F.sum(term), 6).alias("mutual_information"),
        F.count("*").cast("bigint").alias("n_cells"),
    )


@register(
    "sliding_distinct_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM daily)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT daily.user_id) AS BIGINT) AS wau_7d
    FROM days JOIN daily
      ON daily.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
    tags=("window", "distinct", "events"),
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day active users per day — SLIDING distinct, which
    no window frame can express (COUNT(DISTINCT) doesn't decrement):
    dedup to (day, user) grain first — the only fact-sized pass —
    then a bounded range join of days onto that grain (≤7 daily rows
    per output day) and an exact distinct per day. The day-grain
    relation is |days|·|daily actives|, tiny relative to events; at
    100 TB the same query runs on the stored daily-actives rollup,
    or swaps the exact distinct for mergeable HLL sketches
    (hll_sketch_rollup) and becomes a 7-sketch union per day."""
    e = _t(spark, sf_dir, "events")
    daily = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = daily.select("d").distinct().withColumnRenamed("d", "day_d")
    j = days.join(
        daily,
        F.col("d").between(F.date_sub(F.col("day_d"), 6), F.col("day_d")),
    )
    return (
        j.groupBy("day_d")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau_7d"))
        .select(F.date_format("day_d", "yyyy-MM-dd").alias("day"), "wau_7d")
    )


@register(
    "saturating_balance_recursive",
    oracle=_SATURATING_SQL,
    tags=("recursive", "timeseries", "stateful"),
)
def q_saturating_balance_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saturating running balance — b_i = max(0, b_{i−1} + net_i), the
    inventory/credit recurrence that NO window frame can express
    (the clamp makes it non-associative, unlike a plain cumsum), run
    as the IDENTICAL recursive CTE text on both engines: each
    recursion step joins the next day onto the accumulated balance.
    Day count is bounded (one month), so the recursion depth is
    |days|; the at-scale variants are per-entity applyInPandasWithState
    (streaming) or a per-partition sequential kernel — this query
    pins the semantics those must reproduce."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SATURATING_SQL)


@register(
    "wilson_score_ranking",
    oracle="""
    WITH rates AS (
      SELECT event_type,
             CAST(sum(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
               AS pos,
             CAST(count(*) AS DOUBLE) AS n
      FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT event_type,
           round(pos / n, 4) AS raw_rate,
           round((pos / n + 1.9208 / n
                  - 1.96 * sqrt((pos / n) * (1 - pos / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 4) AS wilson_lower,
           CAST(n AS BIGINT) AS n
    FROM rates
    """,
    tags=("stats", "ranking", "interval"),
)
def q_wilson_score_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score lower bound per event type — the correct way to
    rank success rates with unequal sample sizes (a 3/3 never
    outranks a 900/1000): the binomial CI lower bound at z=1.96,
    closed-form scalar math on a |types|-row aggregate. The raw rate
    sits alongside so the ranking inversion is visible. One hash-agg
    over events; the formula is pure codegen."""
    e = _t(spark, sf_dir, "events")
    rates = (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") > 0.5, 1).otherwise(0))
            .cast("double")
            .alias("pos"),
            F.count("*").cast("double").alias("n"),
        )
    )
    p = F.col("pos") / F.col("n")
    n = F.col("n")
    wilson = (
        p + 1.9208 / n - 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    ) / (1 + 3.8416 / n)
    return rates.select(
        "event_type",
        F.round(p, 4).alias("raw_rate"),
        F.round(wilson, 4).alias("wilson_lower"),
        n.cast("bigint").alias("n"),
    )


@register(
    "negative_sampling_margin",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 20),
    negs AS (
      SELECT a.vec_id AS anchor_id, a.label,
             {_COSINE_SQL} AS sim
      FROM anchors a
      JOIN (SELECT unnest(generate_series(1, 3)) AS j) js ON TRUE
      JOIN embeddings b ON b.vec_id = (a.vec_id * 31 + js.j * 97) % 500
      WHERE b.label <> a.label),
    poss AS (
      SELECT a.vec_id AS anchor_id, a.label,
             {_COSINE_SQL} AS sim
      FROM anchors a
      JOIN embeddings b ON b.label = a.label AND b.vec_id <> a.vec_id),
    per_anchor AS (
      SELECT n.anchor_id, n.label,
             avg(DISTINCT n.sim) AS neg_sim, p.pos_sim
      FROM negs n JOIN (
        SELECT anchor_id, avg(sim) AS pos_sim FROM poss GROUP BY anchor_id
      ) p ON n.anchor_id = p.anchor_id
      GROUP BY n.anchor_id, n.label, p.pos_sim)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           round(avg(pos_sim), 5) AS mean_pos_sim,
           round(avg(neg_sim), 5) AS mean_neg_sim,
           round(avg(pos_sim - neg_sim), 5) AS mean_margin
    FROM per_anchor GROUP BY label
    """,
    tags=("embeddings", "training", "sampling"),
)
def q_negative_sampling_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling with margin audit: for each
    anchor, k=3 DETERMINISTIC hash-ring negatives ((id·31 + j·97)
    mod N — reproducible across runs and engines, the property random
    sampling can't give a correctness gate), cross-label filtered,
    scored against the anchor's mean same-label (positive)
    similarity. The per-label margin (pos − neg) is the health check
    run before contrastive training. Negatives join by computed key
    (constant fan-out k), positives by label — both broadcastable at
    this anchor count, and at 100 TB anchors shard while negatives
    stay an O(k) computed-key lookup per anchor."""
    from ...operators.similarity import cosine

    e = _t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_vec"),
        F.col("label").alias("a_label"),
    )
    js = anchors.select(
        "anchor_id", "a_vec", "a_label",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"),
    ).withColumn("neg_id", F.pmod(F.col("anchor_id") * 31 + F.col("j") * 97, F.lit(500)))
    negs = (
        js.join(e, js["neg_id"] == e["vec_id"])
        .filter(F.col("label") != F.col("a_label"))
        .select(
            "anchor_id", "a_label", cosine("a_vec", "embedding").alias("sim")
        )
        .distinct()
        .groupBy("anchor_id", "a_label")
        .agg(F.avg("sim").alias("neg_sim"))
    )
    poss = (
        anchors.join(
            e,
            (e["label"] == anchors["a_label"]) & (e["vec_id"] != anchors["anchor_id"]),
        )
        .select("anchor_id", cosine("a_vec", "embedding").alias("sim"))
        .groupBy("anchor_id")
        .agg(F.avg("sim").alias("pos_sim"))
    )
    per_anchor = negs.join(poss, "anchor_id")
    return per_anchor.groupBy(F.col("a_label").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_anchors"),
        F.round(F.avg("pos_sim"), 5).alias("mean_pos_sim"),
        F.round(F.avg("neg_sim"), 5).alias("mean_neg_sim"),
        F.round(F.avg(F.col("pos_sim") - F.col("neg_sim")), 5).alias("mean_margin"),
    )


@register(
    "bipartite_degree_profile",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    cdeg AS (SELECT c, count(*) AS deg FROM edges GROUP BY c),
    pdeg AS (SELECT p, count(*) AS deg FROM edges GROUP BY p)
    SELECT side, log2_bin,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(avg(deg), 2) AS mean_degree
    FROM (
      SELECT 'customer' AS side,
             CAST(floor(ln(deg) / ln(2)) AS BIGINT) AS log2_bin, deg
      FROM cdeg
      UNION ALL
      SELECT 'part' AS side,
             CAST(floor(ln(deg) / ln(2)) AS BIGINT) AS log2_bin, deg
      FROM pdeg)
    GROUP BY side, log2_bin
    """,
    tags=("graph", "histogram", "profile"),
)
def q_bipartite_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree distribution of the customer↔part purchase
    graph, log₂-binned per side — the first profile run on any graph
    before choosing join strategies (a heavy-tailed part side is
    exactly what forces the salting/skew machinery; cf. the
    degree-orientation note in PLANS.md on triangle counting). Edge
    dedup is the only fact-sized pass; each degree relation is one
    further hash-agg and the binning is pure codegen."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cdeg = edges.groupBy("c").agg(F.count("*").alias("deg"))
    pdeg = edges.groupBy("p").agg(F.count("*").alias("deg"))
    both = cdeg.select(F.lit("customer").alias("side"), "deg").unionAll(
        pdeg.select(F.lit("part").alias("side"), "deg")
    )
    log2_bin = F.floor(F.log("deg") / math.log(2)).cast("bigint")
    return both.groupBy("side", log2_bin.alias("log2_bin")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.round(F.avg("deg"), 2).alias("mean_degree"),
    )


@register(
    "grid_bucketed_spatial_join",
    oracle="""
    WITH cust AS (
      SELECT c_custkey AS id,
             (c_custkey * 53 % 1600) / 10.0 AS y,
             (c_custkey * 37 % 3600) / 10.0 AS x
      FROM customer WHERE c_custkey <= 300),
    supp AS (
      SELECT s_suppkey AS id,
             (s_suppkey * 53 % 1600) / 10.0 AS y,
             (s_suppkey * 37 % 3600) / 10.0 AS x
      FROM supplier),
    cand AS (
      SELECT c.id AS cust_id, s.id AS supp_id,
             sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y))
               AS dist,
             row_number() OVER (
               PARTITION BY c.id
               ORDER BY sqrt((c.x - s.x) * (c.x - s.x)
                             + (c.y - s.y) * (c.y - s.y)), s.id) AS rn
      FROM cust c JOIN supp s
        ON CAST(floor(s.x / 20) AS BIGINT)
             BETWEEN CAST(floor(c.x / 20) AS BIGINT) - 1
                 AND CAST(floor(c.x / 20) AS BIGINT) + 1
       AND CAST(floor(s.y / 20) AS BIGINT)
             BETWEEN CAST(floor(c.y / 20) AS BIGINT) - 1
                 AND CAST(floor(c.y / 20) AS BIGINT) + 1)
    SELECT CAST(count(*) AS BIGINT) AS n_matched,
           round(avg(dist), 4) AS mean_nn_dist,
           round(max(dist), 4) AS max_nn_dist
    FROM cand WHERE rn = 1
    """,
    tags=("geo", "join", "grid"),
)
def q_grid_bucketed_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest-neighbor spatial join — the SCALABLE
    spatial join (vs haversine_nearest_hub's tiny-dim brute force):
    both point sets bucket into 20-unit cells, candidates come only
    from the query point's 3×3 cell neighborhood (an equi-join on
    cell ids after a 9× neighbor expansion — never a cross join), and
    the per-point argmin ranks candidates. Cell size must exceed the
    max NN distance for exactness within the neighborhood guarantee;
    the same plan with geohash/tile ids is how billion-point spatial
    joins run. Spark expresses the 3×3 expansion as an explode of the
    9 neighbor cells on the (smaller) query side, keeping the join a
    pure equi-join on the cell key."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cust = c.filter(F.col("c_custkey") <= 300).select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") * 53 % 1600) / 10.0).alias("cy"),
        ((F.col("c_custkey") * 37 % 3600) / 10.0).alias("cx"),
    )
    supp = s.select(
        F.col("s_suppkey").alias("supp_id"),
        ((F.col("s_suppkey") * 53 % 1600) / 10.0).alias("sy"),
        ((F.col("s_suppkey") * 37 % 3600) / 10.0).alias("sx"),
    ).withColumns(
        {
            "cell_x": F.floor(F.col("sx") / 20).cast("bigint"),
            "cell_y": F.floor(F.col("sy") / 20).cast("bigint"),
        }
    )
    nbr = cust.select(
        "cust_id", "cx", "cy",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(CAST(floor(cx / 20) AS BIGINT) + dx AS cell_x, "
                "CAST(floor(cy / 20) AS BIGINT) + dy AS cell_y))))"
            )
        ).alias("cell"),
    ).select("cust_id", "cx", "cy", "cell.cell_x", "cell.cell_y")
    dist = F.sqrt(
        F.pow(F.col("cx") - F.col("sx"), 2) + F.pow(F.col("cy") - F.col("sy"), 2)
    )
    cand = nbr.join(supp, ["cell_x", "cell_y"]).withColumn("dist", dist)
    w = Window.partitionBy("cust_id").orderBy("dist", "supp_id")
    nn = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return nn.agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.round(F.avg("dist"), 4).alias("mean_nn_dist"),
        F.round(F.max("dist"), 4).alias("max_nn_dist"),
    )


@register(
    "revenue_bridge_waterfall",
    oracle="""
    WITH y1 AS (
      SELECT n_name, sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) = 1996
      GROUP BY n_name),
    y2 AS (
      SELECT n_name, sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) = 1997
      GROUP BY n_name),
    bridge AS (
      SELECT coalesce(y1.n_name, y2.n_name) AS n_name,
             coalesce(y2.rev, 0) - coalesce(y1.rev, 0) AS delta
      FROM y1 FULL OUTER JOIN y2 ON y1.n_name = y2.n_name)
    SELECT n_name, round(delta, 2) AS delta,
           round(sum(delta) OVER (
             ORDER BY delta DESC, n_name
             ROWS UNBOUNDED PRECEDING), 2) AS running_bridge
    FROM bridge
    """,
    tags=("reporting", "window", "outer"),
)
def q_revenue_bridge_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge: per-nation deltas between two
    periods (FULL OUTER so nations present in only one year
    contribute their whole swing), ordered biggest-gain-first with a
    running cumulative — the waterfall whose last bar IS the total
    YoY change, decomposed. Two filtered aggregates off the same
    join; the window runs on |nations| rows. The single-partition
    ORDER BY is safe exactly because the bridge relation is
    dimension-sized."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )

    def year_rev(yr: int) -> DataFrame:
        return (
            base.filter(F.year(F.col("o_orderdate").cast("date")) == yr)
            .groupBy("n_name")
            .agg(F.sum("o_totalprice").alias("rev"))
        )

    y1, y2 = year_rev(1996), year_rev(1997)
    bridge = (
        y1.withColumnRenamed("rev", "rev1")
        .join(y2.withColumnRenamed("rev", "rev2"), "n_name", "full_outer")
        .select(
            "n_name",
            (
                F.coalesce("rev2", F.lit(0.0)) - F.coalesce("rev1", F.lit(0.0))
            ).alias("delta"),
        )
    )
    w = (
        Window.orderBy(F.col("delta").desc(), F.col("n_name"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return bridge.select(
        "n_name",
        F.round("delta", 2).alias("delta"),
        F.round(F.sum("delta").over(w), 2).alias("running_bridge"),
    )


@register(
    "shingle_containment",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             substring(text, i, 24) AS g
      FROM documents,
           unnest(generate_series(1, len(text) - 23)) AS t(i)
      WHERE doc_id < 60),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT da, db, CAST(inter AS DOUBLE) / sa.n AS containment
      FROM shared
      JOIN sizes sa ON sa.doc_id = da)
    SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
           CAST(sum(CASE WHEN containment >= 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contained,
           round(max(containment), 4) AS max_containment
    FROM scored
    """,
    tags=("dedup", "text", "containment"),
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B|/|A| — what symmetric
    Jaccard dedup (dedup_ngram_jaccard) cannot see: a short doc
    quoted inside a long one scores high containment but low Jaccard,
    so excerpt/quotation duplication needs this directed measure
    (Broder's original distinction). Candidate pairs arise only from
    SHARED 24-char shingles (an equi-join on the shingle — never the
    n² doc cross join), intersections come from the join's group
    count, and each direction divides by ITS OWN doc's shingle count.
    At 100 TB the shared-shingle join keys on a hashed shingle
    (xxhash64) exactly like contamination_ngrams."""
    d = _t(spark, sf_dir, "documents")
    sh = (
        d.filter(F.col("doc_id") < 60)
        .select(
            "doc_id",
            F.explode(seq1(F.length("text") - 23)).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substring(text, i, 24)").alias("g"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .agg(F.count("*").alias("inter"))
    )
    scored = shared.join(
        F.broadcast(sizes.withColumnRenamed("doc_id", "da")), "da"
    ).select(
        "da", "db", (F.col("inter").cast("double") / F.col("n")).alias("containment")
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("containment") >= 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_contained"),
        F.round(F.max("containment"), 4).alias("max_containment"),
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH per_user AS (
      SELECT o_custkey,
             sum(CASE WHEN CAST(strftime(CAST(o_orderdate AS DATE), '%Y')
                            AS INT) = 1995 THEN o_totalprice ELSE 0 END) AS x,
             sum(CASE WHEN CAST(strftime(CAST(o_orderdate AS DATE), '%Y')
                            AS INT) = 1996 THEN o_totalprice ELSE 0 END) AS y
      FROM orders
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT)
            IN (1995, 1996)
      GROUP BY o_custkey),
    theta AS (
      SELECT covar_pop(y, x) / var_pop(x) AS th, avg(x) AS xbar
      FROM per_user),
    adj AS (
      SELECT y, y - th * (x - xbar) AS y_cuped
      FROM per_user CROSS JOIN theta)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(var_pop(y), 2) AS var_raw,
           round(var_pop(y_cuped), 2) AS var_cuped,
           round(1 - var_pop(y_cuped) / var_pop(y), 4) AS variance_reduction,
           round(avg(y) - avg(y_cuped), 4) + 0.0 AS mean_shift
    FROM adj
    """,
    tags=("stats", "experimentation"),
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data):
    adjust each user's experiment-period metric by θ·(covariate −
    mean) where θ = cov(y,x)/var(x) from pre-period spend — the
    variance-reduction workhorse of modern A/B platforms (Deng et al.
    2013). The oracle pins the reduction ratio AND the ≈0 mean shift
    (CUPED must not bias the point estimate). Two passes over the
    per-user aggregate with a 1-row broadcast θ — the fact table is
    touched once."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    per_user = (
        o.filter(yr.isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(yr == 1995, F.col("o_totalprice")).otherwise(0.0)).alias("x"),
            F.sum(F.when(yr == 1996, F.col("o_totalprice")).otherwise(0.0)).alias("y"),
        )
    )
    theta = per_user.agg(
        (F.covar_pop("y", "x") / F.var_pop("x")).alias("th"),
        F.avg("x").alias("xbar"),
    )
    adj = per_user.join(F.broadcast(theta)).select(
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))).alias("y_cuped"),
    )
    return adj.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.var_pop("y"), 2).alias("var_raw"),
        F.round(F.var_pop("y_cuped"), 2).alias("var_cuped"),
        F.round(1 - F.var_pop("y_cuped") / F.var_pop("y"), 4).alias(
            "variance_reduction"
        ),
        canon_round(F.avg("y") - F.avg("y_cuped"), 4).alias("mean_shift"),
    )


@register(
    "bayes_smoothed_rate",
    oracle="""
    WITH brand AS (
      SELECT p_brand,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS r,
             CAST(count(*) AS DOUBLE) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand),
    prior AS (SELECT sum(r) / sum(n) AS p0 FROM brand)
    SELECT p_brand,
           round(r / n, 4) AS raw_rate,
           round((r + 50 * p0) / (n + 50), 4) AS smoothed_rate,
           CAST(n AS BIGINT) AS n
    FROM brand CROSS JOIN prior
    """,
    tags=("stats", "smoothing", "feature"),
)
def q_bayes_smoothed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes m-estimate smoothing: per-brand return rates
    shrunk toward the global prior with pseudo-count m=50 — the
    standard guard against small-sample categorical rates in feature
    engineering (target encoding) and cold-start ranking: sparse
    brands collapse to the prior, dense brands keep their own rate.
    One fact pass for the cells, a 1-row broadcast prior, scalar
    codegen math."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    brand = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("double")
            .alias("r"),
            F.count("*").cast("double").alias("n"),
        )
    )
    prior = brand.agg((F.sum("r") / F.sum("n")).alias("p0"))
    return brand.join(F.broadcast(prior)).select(
        "p_brand",
        F.round(F.col("r") / F.col("n"), 4).alias("raw_rate"),
        F.round((F.col("r") + 50 * F.col("p0")) / (F.col("n") + 50), 4).alias(
            "smoothed_rate"
        ),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "difference_in_differences",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN c_nationkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN CAST(strftime(CAST(o_orderdate AS DATE), '%Y')
                        AS INT) >= 1997 THEN 1 ELSE 0 END AS post,
             o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT)
            BETWEEN 1996 AND 1997),
    cells AS (
      SELECT treated, post, avg(o_totalprice) AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY treated, post)
    SELECT round(
             (SELECT m FROM cells WHERE treated = 1 AND post = 1)
           - (SELECT m FROM cells WHERE treated = 1 AND post = 0)
           - ((SELECT m FROM cells WHERE treated = 0 AND post = 1)
            - (SELECT m FROM cells WHERE treated = 0 AND post = 0)), 4)
             AS did_estimate,
           (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_obs
    """,
    tags=("stats", "causal", "experimentation"),
)
def q_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 (treated × post) cell means
    and the DiD contrast (ΔT − ΔC) — the canonical quasi-experimental
    estimator, with a deterministic even-nation pseudo-treatment so
    the oracle pins an exact value (≈0 on this flat generator: the
    parallel-trends null). One pass builds all four cells
    (conditional aggregation, never four scans); the contrast is
    driver-side scalar algebra on a 4-row relation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    yr = F.year(F.col("o_orderdate").cast("date"))
    labeled = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(yr.between(1996, 1997))
        .select(
            F.when(F.col("c_nationkey") % 2 == 0, 1).otherwise(0).alias("treated"),
            F.when(yr >= 1997, 1).otherwise(0).alias("post"),
            "o_totalprice",
        )
    )
    cells = labeled.groupBy("treated", "post").agg(
        F.avg("o_totalprice").alias("m"), F.count("*").alias("n")
    )
    flat = cells.agg(
        F.round(
            F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("m")))
            - F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("m")))
            - (
                F.max(
                    F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("m"))
                )
                - F.max(
                    F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("m"))
                )
            ),
            4,
        ).alias("did_estimate"),
        F.sum("n").cast("bigint").alias("n_obs"),
    )
    return flat


@register(
    "covariate_balance_smd",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
                       >= '8' THEN 1 ELSE 0 END AS treated,
             c_acctbal, c_nationkey
      FROM customer),
    stats AS (
      SELECT treated,
             avg(c_acctbal) AS m_bal, var_samp(c_acctbal) AS v_bal,
             avg(CAST(c_nationkey AS DOUBLE)) AS m_nat,
             var_samp(CAST(c_nationkey AS DOUBLE)) AS v_nat,
             CAST(count(*) AS BIGINT) AS n
      FROM assigned GROUP BY treated)
    SELECT round((t.m_bal - c.m_bal)
                 / sqrt((t.v_bal + c.v_bal) / 2), 4) AS smd_acctbal,
           round((t.m_nat - c.m_nat)
                 / sqrt((t.v_nat + c.v_nat) / 2), 4) AS smd_nationkey,
           t.n AS n_treated, c.n AS n_control
    FROM (SELECT * FROM stats WHERE treated = 1) t
    CROSS JOIN (SELECT * FROM stats WHERE treated = 0) c
    """,
    tags=("stats", "experimentation", "balance"),
)
def q_covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance check via standardized mean difference —
    the pre-analysis gate on any experiment assignment: hash-based
    treatment split (md5 first hex digit ≥ '8', the same
    deterministic device as hash_split_summary), then
    SMD = (μ_T − μ_C)/√((σ²_T+σ²_C)/2) per covariate; |SMD| < 0.1 is
    the accepted-balance convention and the expected read under a
    correct hash split. One grouped-moments pass, scalar math on the
    2-row result."""
    c = _t(spark, sf_dir, "customer")
    assigned = c.select(
        F.when(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) >= "8", 1)
        .otherwise(0)
        .alias("treated"),
        "c_acctbal",
        F.col("c_nationkey").cast("double").alias("natk"),
    )
    stats = assigned.groupBy("treated").agg(
        F.avg("c_acctbal").alias("m_bal"),
        F.var_samp("c_acctbal").alias("v_bal"),
        F.avg("natk").alias("m_nat"),
        F.var_samp("natk").alias("v_nat"),
        F.count("*").cast("bigint").alias("n"),
    )
    t = stats.filter(F.col("treated") == 1).alias("t")
    ctl = stats.filter(F.col("treated") == 0).alias("c")
    return t.crossJoin(ctl).select(
        F.round(
            (F.col("t.m_bal") - F.col("c.m_bal"))
            / F.sqrt((F.col("t.v_bal") + F.col("c.v_bal")) / 2),
            4,
        ).alias("smd_acctbal"),
        F.round(
            (F.col("t.m_nat") - F.col("c.m_nat"))
            / F.sqrt((F.col("t.v_nat") + F.col("c.v_nat")) / 2),
            4,
        ).alias("smd_nationkey"),
        F.col("t.n").alias("n_treated"),
        F.col("c.n").alias("n_control"),
    )


@register(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    forecast AS (
      SELECT d, v, lag(v, 7) OVER (ORDER BY d) AS yhat
      FROM daily)
    SELECT CAST(strftime(d, '%w') AS INT) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(v - yhat)), 2) AS mae,
           round(avg(abs(v - yhat) / v), 4) AS mape
    FROM forecast WHERE yhat IS NOT NULL
    GROUP BY 1
    """,
    tags=("timeseries", "forecast", "backtest"),
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: ŷ(t) = y(t−7) — the baseline
    every forecasting model must beat, back-tested in one lag window
    with MAE/MAPE per weekday (weekday split exposes which seasons
    the naive carry actually captures). The window runs on the daily
    pre-aggregate; at scale the same backtest per series key is the
    partitioned variant. Oracle note: DuckDB %w and Spark dayofweek
    disagree on numbering, so weekday is pinned to the %w (0=Sunday)
    convention explicitly."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    fc = daily.select(
        "d", "v", F.lag("v", 7).over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    err = F.abs(F.col("v") - F.col("yhat"))
    return fc.groupBy((F.dayofweek("d") - 1).alias("weekday")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg(err), 2).alias("mae"),
        F.round(F.avg(err / F.col("v")), 4).alias("mape"),
    )


@register(
    "freshness_lag_audit",
    oracle="""
    WITH per_source AS (
      SELECT event_type AS source,
             max(CAST(ts AS TIMESTAMP)) AS latest,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type),
    ref AS (SELECT max(latest) AS frontier FROM per_source)
    SELECT source, n_events,
           round((epoch_us(frontier) - epoch_us(latest)) / 3600000000.0, 3)
             AS lag_hours,
           (epoch_us(frontier) - epoch_us(latest)) / 3600000000.0 > 24.0
             AS stale_24h
    FROM per_source CROSS JOIN ref
    """,
    tags=("audit", "events", "json"),
)
def q_freshness_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data freshness: latest event per feed
    (event_type stands in for the feed id), lag against the freshest source (the
    frontier — data-derived, no wall clock), staleness flags at 24 h
    — the first alert every multi-feed ingestion pipeline wires up.
    One pass for per-source maxima, a 1-row broadcast frontier;
    staleness ≈ 0 on this generator (all types run to the end) — the flags are the contract."""
    e = _t(spark, sf_dir, "events")
    per_source = (
        e.select(F.col("event_type").alias("source"), "ts")
        .groupBy("source")
        .agg(
            F.max("ts").alias("latest"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    ref = per_source.agg(F.max("latest").alias("frontier"))
    lag_h = (
        F.unix_micros("frontier") - F.unix_micros("latest")
    ) / 3_600_000_000.0
    return per_source.join(F.broadcast(ref)).select(
        "source",
        "n_events",
        F.round(lag_h, 3).alias("lag_hours"),
        (lag_h > 24.0).alias("stale_24h"),
    )


@register(
    "event_dwell_share",
    oracle="""
    WITH seg AS (
      SELECT event_type,
             (epoch_us(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              - epoch_us(ts)) / 1000000.0 AS dur_s
      FROM events),
    capped AS (
      SELECT event_type, least(dur_s, 1800.0) AS dur_s
      FROM seg WHERE dur_s IS NOT NULL),
    tot AS (SELECT sum(dur_s) AS total FROM capped)
    SELECT event_type,
           round(sum(dur_s) / 3600.0, 3) AS dwell_hours,
           round(sum(dur_s) / total, 4) AS dwell_share
    FROM capped CROSS JOIN tot
    GROUP BY event_type, total
    """,
    tags=("events", "window", "dwell"),
)
def q_event_dwell_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time share by event type: time attributed to an event
    until the user's next action (LEAD segments, the time_weighted_
    average mechanics pointed at attribution), capped at 30 min so
    walk-aways don't own the budget — the 'where do users actually
    spend time' split that raw event counts misrepresent. One
    user-keyed window pass, then a type-level rollup against a 1-row
    broadcast total."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "event_type",
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")) / 1_000_000.0
        ).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    capped = seg.select(
        "event_type", F.least(F.col("dur_s"), F.lit(1800.0)).alias("dur_s")
    )
    tot = capped.agg(F.sum("dur_s").alias("total"))
    return (
        capped.join(F.broadcast(tot))
        .groupBy("event_type", "total")
        .agg(
            F.round(F.sum("dur_s") / 3600.0, 3).alias("dwell_hours"),
            F.round(F.sum("dur_s") / F.first("total"), 4).alias("dwell_share"),
        )
        .select("event_type", "dwell_hours", "dwell_share")
    )


@register(
    "retry_storm_episodes",
    oracle="""
    WITH errs AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS t
      FROM events WHERE event_type = 'error'),
    flagged AS (
      SELECT user_id, event_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY t
                            RANGE BETWEEN 300000000 PRECEDING
                                      AND CURRENT ROW) >= 3 AS in_storm
      FROM errs),
    islands AS (
      SELECT user_id, in_storm,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, in_storm
                                    ORDER BY ts, event_id) AS BIGINT) AS grp
      FROM flagged)
    SELECT CAST(count(*) AS BIGINT) AS n_episodes,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_with_storms,
           round(avg(ep_len), 3) AS mean_episode_len
    FROM (
      SELECT user_id, grp, CAST(count(*) AS DOUBLE) AS ep_len
      FROM islands WHERE in_storm
      GROUP BY user_id, grp)
    """,
    tags=("sre", "window", "islands"),
)
def q_retry_storm_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-storm detection: a user is 'in storm' when ≥3 errors land
    within a trailing 5-minute RANGE frame; contiguous in-storm rows
    collapse into EPISODES via the gaps-and-islands double
    row_number — so the output counts incidents, not alert rows (the
    flap-suppression every paging pipeline needs; cf. error_burn_rate
    for the rate-threshold view). Both windows and the island
    grouping share the user_id partitioning — one shuffle total."""
    e = _t(spark, sf_dir, "events")
    errs = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("t")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-300_000_000, 0)
    )
    flagged = errs.select(
        "user_id", "event_id", "ts",
        (F.count("*").over(wr) >= 3).alias("in_storm"),
    )
    r_all = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    r_grp = F.row_number().over(
        Window.partitionBy("user_id", "in_storm").orderBy("ts", "event_id")
    )
    islands = flagged.select(
        "user_id", "in_storm", (r_all - r_grp).cast("bigint").alias("grp")
    )
    episodes = (
        islands.filter(F.col("in_storm"))
        .groupBy("user_id", "grp")
        .agg(F.count("*").cast("double").alias("ep_len"))
    )
    return episodes.agg(
        F.count("*").cast("bigint").alias("n_episodes"),
        F.count_distinct("user_id").cast("bigint").alias("n_users_with_storms"),
        F.round(F.avg("ep_len"), 3).alias("mean_episode_len"),
    )


@register(
    "stock_span_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    brk AS (
      SELECT a.d,
             max(b.d) AS last_higher
      FROM daily a LEFT JOIN daily b
        ON b.d < a.d AND b.v > a.v
      GROUP BY a.d),
    span AS (
      SELECT daily.d,
             CASE WHEN last_higher IS NULL
                  THEN date_diff('day',
                         (SELECT min(d) FROM daily), daily.d) + 1
                  ELSE date_diff('day', last_higher, daily.d) END AS s
      FROM daily JOIN brk ON daily.d = brk.d)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(s) AS BIGINT) AS max_span,
           round(avg(CAST(s AS DOUBLE)), 3) AS mean_span
    FROM span
    """,
    tags=("window", "span", "timeseries"),
)
def q_stock_span_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stock-span problem: for each day, how many days since
    revenue was last HIGHER — the momentum/streak statistic that is
    not a frame aggregate (the lookback distance is data-dependent),
    solved relationally as a theta-join to the most recent dominating
    day. Quadratic in |days| — which is the point of the daily
    pre-aggregate: the join runs on calendar-sized input, never
    facts. (The O(n) monotonic-stack version is a sequential kernel;
    this relation pins its semantics.)"""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    brk = (
        a.join(
            b,
            (F.col("b.d") < F.col("a.d")) & (F.col("b.v") > F.col("a.v")),
            "left",
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.max("b.d").alias("last_higher"))
    )
    first_day = daily.agg(F.min("d").alias("d0"))
    span = (
        daily.join(brk, "d")
        .join(F.broadcast(first_day))
        .select(
            F.when(
                F.col("last_higher").isNull(),
                F.datediff(F.col("d"), F.col("d0")) + 1,
            )
            .otherwise(F.datediff(F.col("d"), F.col("last_higher")))
            .alias("s")
        )
    )
    return span.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("s").cast("bigint").alias("max_span"),
        F.round(F.avg(F.col("s").cast("double")), 3).alias("mean_span"),
    )


@register(
    "heaps_law_fit",
    oracle="""
    WITH words AS (
      SELECT doc_id, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    ordered AS (
      SELECT w, row_number() OVER (ORDER BY doc_id, w) AS pos
      FROM words),
    firsts AS (
      SELECT min(pos) AS fp FROM ordered GROUP BY w),
    curve AS (
      SELECT CAST(pow(2, k) AS BIGINT) AS n_tokens,
             (SELECT CAST(count(*) AS BIGINT) FROM firsts
              WHERE fp <= CAST(pow(2, k) AS BIGINT)) AS vocab
      FROM unnest(generate_series(6, 14)) AS t(k))
    SELECT round(regr_slope(ln(CAST(vocab AS DOUBLE)),
                            ln(CAST(n_tokens AS DOUBLE))), 4) AS beta,
           round(exp(regr_intercept(ln(CAST(vocab AS DOUBLE)),
                                    ln(CAST(n_tokens AS DOUBLE)))), 2) AS k_const,
           CAST(count(*) AS BIGINT) AS n_points
    FROM curve
    """,
    tags=("text", "corpus", "regression"),
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V(N) = K·N^β — vocabulary growth against corpus
    size, the companion diagnostic to zipf_fit (β ≈ 0.4–0.6 for
    natural text; a flat or linear curve flags synthetic/duplicated
    corpora): token stream in deterministic (doc, word) order, each
    type's first-occurrence position, the V(N) curve sampled at
    powers of two, then a log-log regression. The stream order
    window is the only global sort and runs once; the curve itself
    is 9 scalar lookups against the firsts relation."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    ordered = words.select(
        "w", F.row_number().over(Window.orderBy("doc_id", "w")).alias("pos")
    )
    firsts = ordered.groupBy("w").agg(F.min("pos").alias("fp"))
    ks = spark.range(6, 15).select(
        F.pow(F.lit(2.0), F.col("id")).cast("bigint").alias("n_tokens")
    )
    curve = (
        ks.join(F.broadcast(firsts), F.col("fp") <= F.col("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    return curve.agg(
        F.round(F.regr_slope(ly, lx), 4).alias("beta"),
        F.round(F.exp(F.regr_intercept(ly, lx)), 2).alias("k_const"),
        F.count("*").cast("bigint").alias("n_points"),
    )


@register(
    "sequence_gap_audit",
    oracle="""
    WITH ks AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM orders),
    gaps AS (
      SELECT k + 1 AS gap_start, nxt - 1 AS gap_end, nxt - k - 1 AS missing
      FROM ks WHERE nxt - k > 1)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(coalesce(sum(missing), 0) AS BIGINT) AS total_missing,
           CAST(coalesce(max(missing), 0) AS BIGINT) AS largest_gap,
           CAST(min(gap_start) AS BIGINT) AS first_gap_start
    FROM gaps
    """,
    tags=("audit", "window", "sequence"),
)
def q_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps in a supposedly-dense id sequence (missing invoice
    numbers — the completeness audit behind financial recon): LEAD
    over the sorted keys exposes each gap as (prev+1, next−1), then
    gap count / total missing / largest run. One window over the key
    column only (ReadSchema is a single column); the at-scale variant
    partitions by id range so each task scans its own span and only
    range boundaries need a second look."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    ks = o.select(
        F.col("o_orderkey").alias("k"),
        F.lead("o_orderkey").over(w).alias("nxt"),
    )
    gaps = ks.filter(F.col("nxt") - F.col("k") > 1).select(
        (F.col("k") + 1).alias("gap_start"),
        (F.col("nxt") - F.col("k") - 1).alias("missing"),
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.coalesce(F.sum("missing"), F.lit(0)).cast("bigint").alias("total_missing"),
        F.coalesce(F.max("missing"), F.lit(0)).cast("bigint").alias("largest_gap"),
        F.min("gap_start").cast("bigint").alias("first_gap_start"),
    )


@register(
    "position_weighted_attribution",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id
      FROM events WHERE event_type = 'purchase'),
    touches AS (
      SELECT p.p_id, e.event_type, e.value,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY e.ts, e.event_id) AS pos,
             count(*) OVER (PARTITION BY p.p_id) AS n_touch
      FROM purchases p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts < p.p_ts
       AND e.ts >= p.p_ts - INTERVAL 48 HOURS),
    credited AS (
      SELECT event_type,
             CASE WHEN n_touch = 1 THEN 1.0
                  WHEN pos = 1 THEN 0.4
                  WHEN pos = n_touch THEN 0.4
                  ELSE 0.2 / (n_touch - 2) END AS credit
      FROM touches)
    SELECT event_type,
           round(sum(credit), 4) AS total_credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM credited GROUP BY event_type
    """,
    tags=("attribution", "window", "funnel"),
)
def q_position_weighted_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each
    purchase's preceding 48 h of view/click touches get 40% first,
    40% last, 20% spread over the middle — the credit-division model
    between first/last-touch (touch_attribution) and data-driven
    Markov. The purchase×touch join is time-banded per user (the
    range_join_window discipline keeps it from exploding); the
    position windows partition by purchase so credit math stays
    local. Total credit ≈ |attributed purchases| by construction —
    conservation is the checkable invariant."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    touches = (
        e.filter(F.col("event_type").isin("view", "click"))
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") < F.col("p_ts"))
            & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 48 HOURS")),
        )
    )
    wp = Window.partitionBy("p_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("p_id")
    positioned = touches.select(
        "event_type",
        F.row_number().over(wp).alias("pos"),
        F.count("*").over(wn).alias("n_touch"),
    )
    credit = (
        F.when(F.col("n_touch") == 1, 1.0)
        .when(F.col("pos") == 1, 0.4)
        .when(F.col("pos") == F.col("n_touch"), 0.4)
        .otherwise(0.2 / (F.col("n_touch") - 2))
    )
    return positioned.groupBy("event_type").agg(
        F.round(F.sum(credit), 4).alias("total_credit"),
        F.count("*").cast("bigint").alias("n_touches"),
    )


@register(
    "repeat_purchase_ladder",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders GROUP BY o_custkey),
    ladder AS (
      SELECT k,
             (SELECT CAST(count(*) AS BIGINT) FROM counts
              WHERE n_orders >= k) AS at_least_k
      FROM unnest(generate_series(1, 10)) AS t(k))
    SELECT k, at_least_k,
           round(CAST(at_least_k AS DOUBLE)
                 / lag(at_least_k) OVER (ORDER BY k), 4)
             AS p_next_given_prev
    FROM ladder
    """,
    tags=("cohort", "ladder", "window"),
)
def q_repeat_purchase_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase ladder: P(k-th order | made k−1) — the
    conditional continuation probabilities growth teams watch (the
    first rungs decide LTV far more than the tail): per-customer
    order counts, survivors-at-k for k=1..10 via a threshold join,
    successive ratios with LAG. The ladder relation is 10 rows; only
    the per-customer count touches facts. NULL first ratio is the
    k=1 base case by construction."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    ladder = (
        ks.join(F.broadcast(counts), F.col("n_orders") >= F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("at_least_k"))
    )
    w = Window.orderBy("k")
    return ladder.select(
        "k",
        "at_least_k",
        F.round(
            F.col("at_least_k").cast("double") / F.lag("at_least_k").over(w), 4
        ).alias("p_next_given_prev"),
    )


@register(
    "seasonal_baseline_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(strftime(CAST(o_orderdate AS DATE), '%w') AS INT) AS wd,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1, 2),
    base AS (
      SELECT wd, avg(v) AS mu, stddev_samp(v) AS sigma
      FROM daily GROUP BY wd)
    SELECT daily.wd AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN abs(v - mu) > 3 * sigma THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           round(max(abs(v - mu) / sigma), 3) AS worst_zscore
    FROM daily JOIN base ON daily.wd = base.wd
    GROUP BY daily.wd
    """,
    tags=("timeseries", "anomaly", "seasonal"),
)
def q_seasonal_baseline_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly flags: each day scored against ITS
    WEEKDAY's mean ± 3σ rather than a global band — the fix for the
    false positives a flat threshold raises every weekend (the
    seasonal-hybrid half of anomaly detection; ndvi_anomaly_zscore
    is the same device on pixel climatology). Weekday baselines are
    a 7-row broadcast; one pass over the daily aggregate scores and
    rolls up."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("wd"),
    ).agg(F.sum("o_totalprice").alias("v"))
    base = daily.groupBy("wd").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    z = F.abs(F.col("v") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(base), "wd")
        .groupBy(F.col("wd").alias("weekday"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.when(F.abs(F.col("v") - F.col("mu")) > 3 * F.col("sigma"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
            F.round(F.max(z), 3).alias("worst_zscore"),
        )
    )


@register(
    "cohort_payback_month",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             date_trunc('month', min(CAST(o_orderdate AS DATE))) AS cohort_m
      FROM orders GROUP BY o_custkey),
    sizes AS (
      SELECT cohort_m, count(*) AS cohort_n FROM firsts GROUP BY cohort_m),
    monthly AS (
      SELECT f.cohort_m,
             date_diff('month', f.cohort_m,
                       date_trunc('month', CAST(o.o_orderdate AS DATE)))
               AS age_m,
             sum(o.o_totalprice) AS rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT m.cohort_m, m.age_m,
             sum(m.rev) OVER (PARTITION BY m.cohort_m ORDER BY m.age_m
                              ROWS UNBOUNDED PRECEDING) / s.cohort_n
               AS cum_per_cust
      FROM monthly m JOIN sizes s USING (cohort_m)),
    payback AS (
      SELECT cohort_m,
             min(CASE WHEN cum_per_cust >= 200000 THEN age_m END)
               AS payback_age
      FROM cum GROUP BY cohort_m)
    SELECT CAST(count(*) AS BIGINT) AS n_cohorts,
           CAST(count(payback_age) AS BIGINT) AS n_paid_back,
           round(avg(payback_age), 3) AS mean_payback_months
    FROM payback
    """,
    tags=("cohort", "ltv", "threshold"),
)
def q_cohort_payback_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort payback: first month-of-life where cumulative revenue
    per cohort member crosses the acquisition-cost threshold — the
    unit-economics question the LTV curve (cohort_ltv_curve) exists
    to answer, computed as a conditional-MIN threshold crossing over
    the cohort-age cumulative (no sort-and-take-first per cohort).
    Cohorts that never pay back stay NULL and are counted separately
    — the honest read at any threshold."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).alias(
            "cohort_m"
        )
    )
    sizes = firsts.groupBy("cohort_m").agg(F.count("*").alias("cohort_n"))
    age = F.months_between(
        F.date_trunc("month", F.col("o_orderdate").cast("date")), F.col("cohort_m")
    ).cast("long")
    monthly = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_m", age.alias("age_m"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = monthly.join(F.broadcast(sizes), "cohort_m").select(
        "cohort_m",
        "age_m",
        (F.sum("rev").over(w) / F.col("cohort_n")).alias("cum_per_cust"),
    )
    payback = cum.groupBy("cohort_m").agg(
        F.min(F.when(F.col("cum_per_cust") >= 200000, F.col("age_m"))).alias(
            "payback_age"
        )
    )
    return payback.agg(
        F.count("*").cast("bigint").alias("n_cohorts"),
        F.count("payback_age").cast("bigint").alias("n_paid_back"),
        F.round(F.avg("payback_age"), 3).alias("mean_payback_months"),
    )


@register(
    "uncertainty_margin_sampling",
    oracle="""
    WITH dims AS (
      SELECT label, dim, embedding[dim] AS v
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS t(dim)),
    centroids AS (
      SELECT label AS c_label, dim, avg(v) AS c
      FROM dims GROUP BY label, dim),
    dists AS (
      SELECT e.vec_id, e.label, k.c_label,
             sqrt(sum((e.embedding[k.dim] - k.c) * (e.embedding[k.dim] - k.c)))
               AS d
      FROM embeddings e,
           centroids k
      GROUP BY e.vec_id, e.label, k.c_label),
    ranked AS (
      SELECT vec_id, label, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label)
               AS rn
      FROM dists),
    margins AS (
      SELECT a.vec_id, a.label,
             b.d - a.d AS margin
      FROM ranked a JOIN ranked b
        ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
    selected AS (
      SELECT label, margin,
             row_number() OVER (ORDER BY margin, vec_id) AS pick
      FROM margins)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_ambiguous,
           round(avg(margin), 5) AS mean_margin
    FROM selected WHERE pick <= 50
    GROUP BY label
    """,
    tags=("embeddings", "ml", "active-learning"),
)
def q_uncertainty_margin_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based uncertainty sampling — the active-learning
    labeling queue: per embedding, distance to its nearest and
    second-nearest label centroid; the 50 smallest margins are the
    points worth a human label, reported per true label (a class
    over-represented here is where the decision boundary is
    weakest). Centroids broadcast (|labels|·dims); top-2-per-point
    comes from one ranked window over the point×centroid distances,
    and the global pick is a bounded top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    cent = dims.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.avg("v").alias("c")
    )
    pt = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "pv")
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "pv")
    dists = (
        pt.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sqrt(F.sum((F.col("pv") - F.col("c")) * (F.col("pv") - F.col("c")))).alias(
                "d"
            )
        )
    )
    wr = Window.partitionBy("vec_id").orderBy("d", "c_label")
    ranked = dists.withColumn("rn", F.row_number().over(wr))
    a = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "label", F.col("d").alias("d1")
    )
    b = ranked.filter(F.col("rn") == 2).select(
        F.col("vec_id").alias("v2"), F.col("d").alias("d2")
    )
    margins = a.join(b, a["vec_id"] == b["v2"]).select(
        "vec_id", "label", (F.col("d2") - F.col("d1")).alias("margin")
    )
    from ...operators.rank import global_ranked

    picked = global_ranked(
        margins, ["margin", "vec_id"], row_number="pick"
    ).filter(F.col("pick") <= 50)
    return picked.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_ambiguous"),
        F.round(F.avg("margin"), 5).alias("mean_margin"),
    )


@register(
    "quantile_treatment_effect",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                       >= '8' THEN 1 ELSE 0 END AS treated,
             o_totalprice
      FROM orders),
    qs AS (
      SELECT treated,
             quantile_cont(o_totalprice, 0.1) AS q1,
             quantile_cont(o_totalprice, 0.2) AS q2,
             quantile_cont(o_totalprice, 0.3) AS q3,
             quantile_cont(o_totalprice, 0.4) AS q4,
             quantile_cont(o_totalprice, 0.5) AS q5,
             quantile_cont(o_totalprice, 0.6) AS q6,
             quantile_cont(o_totalprice, 0.7) AS q7,
             quantile_cont(o_totalprice, 0.8) AS q8,
             quantile_cont(o_totalprice, 0.9) AS q9
      FROM assigned GROUP BY treated),
    longq AS (
      SELECT treated, q / 10.0 AS tau,
             CASE q WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q3
                    WHEN 4 THEN q4 WHEN 5 THEN q5 WHEN 6 THEN q6
                    WHEN 7 THEN q7 WHEN 8 THEN q8 ELSE q9 END AS v
      FROM qs, unnest(generate_series(1, 9)) AS t(q))
    SELECT t.tau,
           round(t.v, 2) AS q_treated,
           round(c.v, 2) AS q_control,
           round(t.v - c.v, 2) AS qte
    FROM (SELECT * FROM longq WHERE treated = 1) t
    JOIN (SELECT * FROM longq WHERE treated = 0) c ON t.tau = c.tau
    """,
    tags=("stats", "experimentation", "percentile"),
)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: decile-by-decile difference
    between treatment and control outcome distributions — the view
    that catches effects a mean comparison (welch_ttest) averages
    away (a treatment can lift the tail while flattening the
    median). Hash-split assignment for a deterministic oracle; nine
    exact interpolated quantiles per arm from one grouped pass, a
    9-row join for the effect curve. QTE ≈ 0 everywhere is the
    correct read under a null split."""
    o = _t(spark, sf_dir, "orders")
    assigned = o.select(
        F.when(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) >= "8", 1
        )
        .otherwise(0)
        .alias("treated"),
        "o_totalprice",
    )
    taus = [i / 10.0 for i in range(1, 10)]
    qs = assigned.groupBy("treated").agg(
        *[
            F.expr(f"percentile(o_totalprice, {t})").alias(f"q{i}")
            for i, t in enumerate(taus, start=1)
        ]
    )
    long = qs.select(
        "treated",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tau"), F.col(f"q{i}").alias("v")
                    )
                    for i, t in enumerate(taus, start=1)
                ]
            )
        ).alias("s"),
    ).select("treated", "s.tau", "s.v")
    t = long.filter(F.col("treated") == 1).select("tau", F.col("v").alias("vt"))
    c = long.filter(F.col("treated") == 0).select(
        F.col("tau").alias("tau_c"), F.col("v").alias("vc")
    )
    return t.join(c, t["tau"] == c["tau_c"]).select(
        "tau",
        F.round("vt", 2).alias("q_treated"),
        F.round("vc", 2).alias("q_control"),
        F.round(F.col("vt") - F.col("vc"), 2).alias("qte"),
    )


@register(
    "overlap_coefficient_sources",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE w <> ''),
    sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, count(*) AS shared
      FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT sa, sb, shared,
           round(CAST(shared AS DOUBLE) / least(x.n, y.n), 4)
             AS overlap_coef
    FROM inter
    JOIN sizes x ON x.source = sa
    JOIN sizes y ON y.source = sb
    """,
    tags=("text", "corpus", "setop"),
)
def q_overlap_coefficient_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szymkiewicz–Simpson overlap between source vocabularies —
    |A∩B| / min(|A|,|B|), the asymmetry-tolerant cousin of Jaccard
    for corpus mixing decisions (a small source fully inside a big
    one scores 1.0 where Jaccard hides it; shingle_containment is
    the same idea at document grain). Vocab dedup per source is the
    only corpus-sized pass; intersections come from the shared-word
    equi-join's group count, sizes broadcast back."""
    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(F.count("*").alias("shared"))
    )
    x = sizes.withColumnRenamed("source", "sa").withColumnRenamed("n", "nx")
    y = sizes.withColumnRenamed("source", "sb").withColumnRenamed("n", "ny")
    return (
        inter.join(F.broadcast(x), "sa")
        .join(F.broadcast(y), "sb")
        .select(
            "sa",
            "sb",
            "shared",
            F.round(
                F.col("shared").cast("double") / F.least("nx", "ny"), 4
            ).alias("overlap_coef"),
        )
    )


@register(
    "partial_correlation",
    oracle="""
    WITH base AS (
      SELECT l_quantity AS x, l_extendedprice AS y, l_discount AS z
      FROM lineitem),
    cs AS (
      SELECT corr(x, y) AS rxy, corr(x, z) AS rxz, corr(y, z) AS ryz,
             CAST(count(*) AS BIGINT) AS n
      FROM base)
    SELECT round(rxy, 6) AS r_xy,
           round((rxy - rxz * ryz)
                 / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6)
             AS r_xy_given_z,
           n
    FROM cs
    """,
    tags=("stats", "correlation"),
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation r_xy·z — the quantity↔price association
    with the discount's influence removed, from the three pairwise
    Pearson correlations in ONE aggregate pass (the recursion
    formula; no residual regressions needed). The raw and partial r
    side by side show whether the control variable was doing the
    work — the first confounder check before any causal claim."""
    li = _t(spark, sf_dir, "lineitem")
    cs = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("rxy"),
        F.corr("l_quantity", "l_discount").alias("rxz"),
        F.corr("l_extendedprice", "l_discount").alias("ryz"),
        F.count("*").cast("bigint").alias("n"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / (
        F.sqrt(1 - F.col("rxz") * F.col("rxz"))
        * F.sqrt(1 - F.col("ryz") * F.col("ryz"))
    )
    return cs.select(
        F.round("rxy", 6).alias("r_xy"),
        F.round(partial, 6).alias("r_xy_given_z"),
        "n",
    )


@register(
    "kendalls_w_concordance",
    oracle="""
    WITH yearly AS (
      SELECT n_name,
             CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) AS yr,
             sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT)
            BETWEEN 1996 AND 1998
      GROUP BY 1, 2),
    ranked AS (
      SELECT n_name, yr,
             rank() OVER (PARTITION BY yr ORDER BY rev DESC, n_name) AS r
      FROM yearly),
    sums AS (
      SELECT n_name, CAST(sum(r) AS DOUBLE) AS rsum,
             CAST(count(*) AS BIGINT) AS m_check
      FROM ranked GROUP BY n_name),
    stats AS (
      SELECT var_pop(rsum) * count(*) AS s,
             CAST(count(*) AS DOUBLE) AS n
      FROM sums)
    SELECT round(12.0 * s / (9.0 * (n * n * n - n)), 6) AS kendalls_w,
           CAST(n AS BIGINT) AS n_items
    FROM stats
    """,
    tags=("stats", "rank", "agreement"),
)
def q_kendalls_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W — concordance of m=3 yearly revenue rankings of
    the nations: W = 12S/(m²(n³−n)) with S the sum of squared
    rank-sum deviations (computed as n·var_pop of the rank sums).
    W→1 = the league table is stable year over year, W→0 = the
    rankings are noise — the multi-period stability statistic behind
    rank_movement's per-pair view. Rankings are per-year windows on
    the |nations|×|years| aggregate; everything after is scalar."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    yr = F.year(F.col("o_orderdate").cast("date"))
    yearly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .filter(yr.between(1996, 1998))
        .groupBy("n_name", yr.alias("yr"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    wrank = Window.partitionBy("yr").orderBy(F.col("rev").desc(), F.col("n_name"))
    ranked = yearly.select("n_name", F.rank().over(wrank).alias("r"))
    sums = ranked.groupBy("n_name").agg(F.sum("r").cast("double").alias("rsum"))
    stats = sums.agg(
        (F.var_pop("rsum") * F.count("*")).alias("s"),
        F.count("*").cast("double").alias("nn"),
    )
    return stats.select(
        F.round(
            12.0 * F.col("s") / (9.0 * (F.col("nn") ** 3 - F.col("nn"))), 6
        ).alias("kendalls_w"),
        F.col("nn").cast("bigint").alias("n_items"),
    )


@register(
    "runs_test_randomness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    med AS (SELECT quantile_cont(v, 0.5) AS m FROM daily),
    signs AS (
      SELECT d, CASE WHEN v > m THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med WHERE v <> m),
    runs AS (
      SELECT s,
             CASE WHEN lag(s) OVER (ORDER BY d) IS DISTINCT FROM s
                  THEN 1 ELSE 0 END AS new_run
      FROM signs),
    cnt AS (
      SELECT CAST(sum(new_run) AS DOUBLE) AS r,
             CAST(sum(s) AS DOUBLE) AS n1,
             CAST(count(*) - sum(s) AS DOUBLE) AS n0
      FROM runs)
    SELECT CAST(r AS BIGINT) AS n_runs,
           round(1 + 2 * n1 * n0 / (n1 + n0), 3) AS expected_runs,
           round((r - (1 + 2 * n1 * n0 / (n1 + n0)))
                 / sqrt(2 * n1 * n0 * (2 * n1 * n0 - n1 - n0)
                        / ((n1 + n0) * (n1 + n0) * (n1 + n0 - 1))), 4)
             AS z_score
    FROM cnt
    """,
    tags=("stats", "timeseries", "randomness"),
)
def q_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily revenue vs its median:
    count sign runs (LAG flags run starts), compare against the
    expected count under exchangeability — too few runs = trending,
    too many = oscillating; |z| < 2 = consistent with randomness
    (the expected read on this generator, and the residual check a
    forecaster runs after detrending; cf. acf_daily_revenue for the
    parametric view). One window over the daily aggregate, scalar
    algebra after."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    med = daily.agg(F.expr("percentile(v, 0.5)").alias("m"))
    signs = (
        daily.join(F.broadcast(med))
        .filter(F.col("v") != F.col("m"))
        .select("d", F.when(F.col("v") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    w = Window.orderBy("d")
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("new_run"),
    )
    cnt = runs.agg(
        F.sum("new_run").cast("double").alias("r"),
        F.sum("s").cast("double").alias("n1"),
        (F.count("*") - F.sum("s")).cast("double").alias("n0"),
    )
    exp_r = 1 + 2 * F.col("n1") * F.col("n0") / (F.col("n1") + F.col("n0"))
    var_r = (
        2
        * F.col("n1")
        * F.col("n0")
        * (2 * F.col("n1") * F.col("n0") - F.col("n1") - F.col("n0"))
        / (
            (F.col("n1") + F.col("n0"))
            * (F.col("n1") + F.col("n0"))
            * (F.col("n1") + F.col("n0") - 1)
        )
    )
    return cnt.select(
        F.col("r").cast("bigint").alias("n_runs"),
        F.round(exp_r, 3).alias("expected_runs"),
        F.round((F.col("r") - exp_r) / F.sqrt(var_r), 4).alias("z_score"),
    )


@register(
    "dp_noisy_counts",
    oracle="""
    WITH cells AS (
      SELECT n_name, CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    noised AS (
      SELECT n_name, n,
             (('0x' || substr(md5(n_name), 1, 8))::UBIGINT + 1)
               / 4294967296.0 AS u
      FROM cells)
    SELECT n_name,
           round(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                     * 2.0 * ln(1.0 - 2.0 * abs(u - 0.5)), 3)
             AS noisy_count,
           round(abs((CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                     * 2.0 * ln(1.0 - 2.0 * abs(u - 0.5))), 3)
             AS noise_magnitude
    FROM noised
    """,
    tags=("privacy", "agg"),
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release (ε=0.5, sensitivity 1 →
    scale b=2): per-nation customer-order counts plus
    inverse-CDF-sampled Laplace noise — with the uniform drawn
    BIT-EXACTLY from md5 of the cell key (the weighted_sample_es
    device), so the 'noise' is reproducible across engines and the
    oracle can pin the released values. A real deployment draws u
    from a CSPRNG — everything else (the mechanism, the per-cell
    independence, the magnitude distribution) is exactly this
    query's shape; sensitivity-1 holds because each (customer,
    order) contributes to one nation cell."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    u = (
        F.conv(F.substring(F.md5(F.col("n_name")), 1, 8), 16, 10).cast("double") + 1
    ) / F.lit(4294967296.0)
    sign = F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = sign * 2.0 * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    return cells.select(
        "n_name",
        F.round(F.col("cnt") + noise, 3).alias("noisy_count"),
        F.round(F.abs(noise), 3).alias("noise_magnitude"),
    )

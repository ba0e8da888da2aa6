"""Query catalog part 7/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403
from .part04_k_anonymity_audit import *  # noqa: F401,F403
from .part05_bloom_filter_fpr import *  # noqa: F401,F403
from .part06_energy_distance_tw import *  # noqa: F401,F403



@register(
    "split_conformal_interval",
    oracle="""
    WITH obs AS (
      SELECT o_orderkey,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
               % 3 AS fold,
             CAST(cnt AS DOUBLE) AS x, o_totalprice AS y
      FROM orders JOIN (SELECT l_orderkey, count(*) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey),
    fit AS (
      SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a
      FROM obs WHERE fold = 0),
    cal AS (
      SELECT CAST(quantile_cont(abs(y - a - b * x), 0.9) AS DOUBLE) AS q
      FROM obs, fit WHERE fold = 1),
    test AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             round(avg(CASE WHEN abs(y - a - b * x) <= q
                            THEN 1.0 ELSE 0.0 END), 4) AS coverage,
             round(2 * any_value(q), 2) AS interval_width
      FROM obs, fit, cal WHERE fold = 2)
    SELECT n_test, coverage, interval_width
    FROM test
    """,
    tags=("ml", "estimation", "split"),
)
def q_split_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction: fit a one-feature model on fold
    0, take the 90th percentile of |residual| on the CALIBRATION
    fold as the interval radius, and verify ~90% empirical coverage
    on the held-out test fold — the distribution-free guarantee
    that holds for ANY model, however wrong (here deliberately
    crude OLS), which is why conformal is how production systems
    put honest error bars on black-box predictions. The three
    folds are the deterministic md5 split; fit and radius are each
    one aggregate broadcast forward — the whole pipeline is three
    passes over one scan's output."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        CUR.hash_bucket(F.col("o_orderkey"), 3).alias("fold"),
        F.col("cnt").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    fit = obs.filter(F.col("fold") == 0).agg(
        F.expr("regr_slope(y, x)").alias("b"),
        F.expr("regr_intercept(y, x)").alias("a"),
    )
    resid = F.abs(F.col("y") - F.col("a") - F.col("b") * F.col("x"))
    cal = (
        obs.filter(F.col("fold") == 1)
        .crossJoin(F.broadcast(fit))
        .agg(F.expr("percentile(abs(y - a - b * x), 0.9)").alias("q"))
    )
    test = (
        obs.filter(F.col("fold") == 2)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(cal))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.round(
                F.avg(F.when(resid <= F.col("q"), 1.0).otherwise(0.0)), 4
            ).alias("coverage"),
            F.round(2 * F.first("q"), 2).alias("interval_width"),
        )
    )
    return test.select("n_test", "coverage", "interval_width")


@register(
    "pinball_loss_eval",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders GROUP BY 1),
    fc AS (
      SELECT d, y,
             lag(y, 1) OVER (ORDER BY d) AS naive,
             lag(y, 7) OVER (ORDER BY d) AS snaive
      FROM daily),
    scored AS (
      SELECT 'naive_lag1' AS model,
             avg(CASE WHEN y >= naive THEN 0.9 * (y - naive)
                      ELSE 0.1 * (naive - y) END) AS pinball_q90,
             avg(abs(y - naive)) AS mae
      FROM fc WHERE snaive IS NOT NULL
      UNION ALL
      SELECT 'seasonal_lag7',
             avg(CASE WHEN y >= snaive THEN 0.9 * (y - snaive)
                      ELSE 0.1 * (snaive - y) END),
             avg(abs(y - snaive))
      FROM fc WHERE snaive IS NOT NULL)
    SELECT model, round(pinball_q90, 2) AS pinball_q90,
           round(mae, 2) AS mae
    FROM scored
    """,
    tags=("forecast", "eval", "window"),
)
def q_pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss at q=0.9 for two baseline forecasts
    (yesterday vs same-day-last-week): the asymmetric loss that
    scores a QUANTILE forecast properly — under-forecasts cost 9×
    over-forecasts, exactly the asymmetry of capacity planning,
    where 'we provisioned short' and 'we provisioned long' are not
    symmetric mistakes (MAE, shown alongside, is the q=0.5 special
    case and picks a different winner when errors are skewed).
    Both models and both losses come from ONE window pass with two
    lag columns; the shared WHERE keeps the comparison on identical
    evaluation days."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("y")
    )
    w = Window.orderBy("d")
    fc = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 7).over(w).alias("snaive"),
    ).filter(F.col("snaive").isNotNull())

    def pinball(pred):
        return F.avg(
            F.when(
                F.col("y") >= F.col(pred), 0.9 * (F.col("y") - F.col(pred))
            ).otherwise(0.1 * (F.col(pred) - F.col("y")))
        )

    naive = fc.agg(
        pinball("naive").alias("pinball_q90"),
        F.avg(F.abs(F.col("y") - F.col("naive"))).alias("mae"),
    ).select(F.lit("naive_lag1").alias("model"), "pinball_q90", "mae")
    snaive = fc.agg(
        pinball("snaive").alias("pinball_q90"),
        F.avg(F.abs(F.col("y") - F.col("snaive"))).alias("mae"),
    ).select(F.lit("seasonal_lag7").alias("model"), "pinball_q90", "mae")
    return naive.unionAll(snaive).select(
        "model",
        F.round("pinball_q90", 2).alias("pinball_q90"),
        F.round("mae", 2).alias("mae"),
    )


@register(
    "binary_segmentation_2level",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    gl AS (SELECT avg(v) AS mu, stddev_samp(v) AS sd FROM daily),
    c1 AS (
      SELECT d, sum((v - mu) / sd) OVER (ORDER BY d) AS cs
      FROM daily, gl),
    cp1 AS (
      SELECT d AS split1, abs(cs) AS score1,
             row_number() OVER (ORDER BY abs(cs) DESC, d) AS rk
      FROM c1 QUALIFY rk = 1),
    seg AS (
      SELECT daily.d, v, CASE WHEN daily.d <= split1 THEN 0 ELSE 1 END AS s
      FROM daily, cp1),
    segstats AS (
      SELECT s, avg(v) AS smu, stddev_samp(v) AS ssd FROM seg GROUP BY s),
    c2 AS (
      SELECT s, d,
             sum((v - smu) / ssd) OVER (PARTITION BY s ORDER BY d) AS cs
      FROM seg JOIN segstats USING (s)),
    cp2 AS (
      SELECT s, d AS split2, abs(cs) AS score2,
             row_number() OVER (PARTITION BY s
                                ORDER BY abs(cs) DESC, d) AS rk
      FROM c2 QUALIFY rk = 1)
    SELECT strftime((SELECT split1 FROM cp1), '%Y-%m-%d') AS level1_split,
           round((SELECT score1 FROM cp1), 3) AS level1_score,
           strftime(min(CASE WHEN s = 0 THEN split2 END), '%Y-%m-%d')
             AS left_split,
           strftime(min(CASE WHEN s = 1 THEN split2 END), '%Y-%m-%d')
             AS right_split,
           round(max(CASE WHEN s = 0 THEN score2 END), 3) AS left_score,
           round(max(CASE WHEN s = 1 THEN score2 END), 3) AS right_score
    FROM cp2
    """,
    tags=("timeseries", "window", "decomposition"),
)
def q_binary_segmentation_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation, two levels unrolled: the strongest
    CUSUM change-point splits the series, then each half is
    re-standardized and searched again — three candidate
    change-points from a fixed recursion depth, the multiple-
    change-point extension of cusum_changepoint (which finds
    exactly one and dilutes when several exist). The second level
    is ONE partitioned window over the segment-labeled relation —
    segmentation parallelism is literally partition parallelism,
    which is why binary segmentation (not optimal-partitioning DP)
    is the distributed change-point algorithm of choice."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    gl = daily.agg(F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd"))
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c1 = daily.crossJoin(F.broadcast(gl)).select(
        "d",
        "v",
        F.sum((F.col("v") - F.col("mu")) / F.col("sd")).over(wc).alias("cs"),
    )
    cp1 = (
        c1.select(
            F.col("d").alias("split1"),
            F.abs(F.col("cs")).alias("score1"),
            F.row_number()
            .over(Window.orderBy(F.abs(F.col("cs")).desc(), "d"))
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    seg = daily.crossJoin(F.broadcast(cp1)).select(
        "d",
        "v",
        "split1",
        "score1",
        F.when(F.col("d") <= F.col("split1"), 0).otherwise(1).alias("s"),
    )
    segstats = seg.groupBy("s").agg(
        F.avg("v").alias("smu"), F.stddev_samp("v").alias("ssd")
    )
    wseg = Window.partitionBy("s").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c2 = seg.join(F.broadcast(segstats), "s").select(
        "s",
        "d",
        "split1",
        "score1",
        F.sum((F.col("v") - F.col("smu")) / F.col("ssd")).over(wseg).alias("cs"),
    )
    cp2 = c2.select(
        "s",
        F.col("d").alias("split2"),
        F.abs(F.col("cs")).alias("score2"),
        "split1",
        "score1",
        F.row_number()
        .over(Window.partitionBy("s").orderBy(F.abs(F.col("cs")).desc(), "d"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return cp2.groupBy("split1", "score1").agg(
        F.date_format(
            F.min(F.when(F.col("s") == 0, F.col("split2"))), "yyyy-MM-dd"
        ).alias("left_split"),
        F.date_format(
            F.min(F.when(F.col("s") == 1, F.col("split2"))), "yyyy-MM-dd"
        ).alias("right_split"),
        F.round(F.max(F.when(F.col("s") == 0, F.col("score2"))), 3).alias(
            "left_score"
        ),
        F.round(F.max(F.when(F.col("s") == 1, F.col("score2"))), 3).alias(
            "right_score"
        ),
    ).select(
        F.date_format("split1", "yyyy-MM-dd").alias("level1_split"),
        F.round("score1", 3).alias("level1_score"),
        "left_split",
        "right_split",
        "left_score",
        "right_score",
    )


@register(
    "fractional_knapsack_budget",
    oracle="""
    WITH items AS (
      SELECT p_brand,
             sum(l_extendedprice * (1 - l_discount)) AS value,
             CAST(sum(l_quantity) AS DOUBLE) AS cost
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand),
    ranked AS (
      SELECT p_brand, value, cost, value / cost AS density,
             sum(cost) OVER (ORDER BY value / cost DESC, p_brand) AS cum_cost
      FROM items),
    budget AS (SELECT 0.5 * sum(cost) AS cap FROM items),
    taken AS (
      SELECT p_brand, value, cost, density, cum_cost, cap,
             CASE WHEN cum_cost <= cap THEN 1.0
                  WHEN cum_cost - cost < cap
                  THEN (cap - (cum_cost - cost)) / cost
                  ELSE 0.0 END AS fraction
      FROM ranked, budget)
    SELECT CAST(sum(CASE WHEN fraction = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_items,
           CAST(sum(CASE WHEN fraction > 0 AND fraction < 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fractional,
           round(sum(value * fraction), 2) AS captured_value,
           round(sum(value * fraction) / sum(value), 4) AS value_share,
           round(any_value(cap), 1) AS budget_cap
    FROM taken
    """,
    tags=("allocation", "window", "economics"),
)
def q_fractional_knapsack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional knapsack at half the total capacity: brands
    greedily taken in value-density order until the budget cap,
    the boundary brand taken fractionally — the greedy that is
    PROVABLY optimal for divisible resources (budget allocation,
    shelf space, compute quota), unlike 0/1 knapsack where greedy
    only approximates. The entire allocation is one cumulative-cost
    window over the density ordering plus a broadcast cap — the
    value_share column quantifies the Pareto effect (half the
    budget captures well over half the value when densities are
    skewed, cf. pareto_8020)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    items = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "value"
            ),
            F.sum("l_quantity").cast("double").alias("cost"),
        )
    )
    density = F.col("value") / F.col("cost")
    wd = Window.orderBy(density.desc(), "p_brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = items.select(
        "p_brand", "value", "cost", density.alias("density"),
        F.sum("cost").over(wd).alias("cum_cost"),
    )
    budget = items.agg((0.5 * F.sum("cost")).alias("cap"))
    frac = (
        F.when(F.col("cum_cost") <= F.col("cap"), 1.0)
        .when(
            F.col("cum_cost") - F.col("cost") < F.col("cap"),
            (F.col("cap") - (F.col("cum_cost") - F.col("cost"))) / F.col("cost"),
        )
        .otherwise(0.0)
    )
    taken = ranked.crossJoin(F.broadcast(budget)).select(
        "value", "cap", frac.alias("fraction")
    )
    return taken.agg(
        F.sum(F.when(F.col("fraction") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_full_items"),
        F.sum(
            F.when((F.col("fraction") > 0) & (F.col("fraction") < 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_fractional"),
        F.round(F.sum(F.col("value") * F.col("fraction")), 2).alias(
            "captured_value"
        ),
        F.round(
            F.sum(F.col("value") * F.col("fraction")) / F.sum("value"), 4
        ).alias("value_share"),
        F.round(F.first("cap"), 1).alias("budget_cap"),
    )


@register(
    "placebo_did_check",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN c_nationkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CAST(o_orderdate AS DATE) AS d, o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    did AS (
      SELECT 'real_1997' AS test,
             avg(CASE WHEN treated = 1 AND d >= DATE '1997-01-01'
                      THEN y END)
           - avg(CASE WHEN treated = 1 AND d < DATE '1997-01-01'
                      THEN y END)
           - (avg(CASE WHEN treated = 0 AND d >= DATE '1997-01-01'
                       THEN y END)
            - avg(CASE WHEN treated = 0 AND d < DATE '1997-01-01'
                       THEN y END)) AS did
      FROM obs
      UNION ALL
      SELECT 'placebo_1996',
             avg(CASE WHEN treated = 1 AND d >= DATE '1996-01-01'
                      AND d < DATE '1997-01-01' THEN y END)
           - avg(CASE WHEN treated = 1 AND d < DATE '1996-01-01'
                      THEN y END)
           - (avg(CASE WHEN treated = 0 AND d >= DATE '1996-01-01'
                       AND d < DATE '1997-01-01' THEN y END)
            - avg(CASE WHEN treated = 0 AND d < DATE '1996-01-01'
                       THEN y END))
      FROM obs WHERE d < DATE '1997-01-01')
    SELECT test, round(did, 4) AS did_estimate
    FROM did ORDER BY test
    """,
    tags=("causal", "experimentation", "audit"),
)
def q_placebo_did_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placebo test for the difference-in-differences design: the
    same 2×2 contrast re-run with a FAKE treatment date inside the
    pre-period (1996, using only pre-1997 data) — a nonzero placebo
    'effect' means the parallel-trends assumption
    difference_in_differences silently relies on was already broken
    before treatment, and the real estimate is trend, not effect.
    This negative-control discipline is the cheapest causal
    robustness check there is: one extra conditional aggregate over
    the same scan, and it should be a mandatory companion to every
    DiD in production."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.when(F.col("c_nationkey") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("y"),
    )

    def did(df, cut, lo=None):
        pre = F.col("d") < cut
        post = F.col("d") >= cut
        if lo is not None:
            post = post & (F.col("d") < lo)
        cell = lambda t, per: F.avg(
            F.when((F.col("treated") == t) & per, F.col("y"))
        )
        return df.agg(
            (
                cell(1, post) - cell(1, pre) - (cell(0, post) - cell(0, pre))
            ).alias("did")
        )

    real = did(obs, F.lit("1997-01-01").cast("date")).select(
        F.lit("real_1997").alias("test"), F.round("did", 4).alias("did_estimate")
    )
    placebo = did(
        obs.filter(F.col("d") < "1997-01-01"),
        F.lit("1996-01-01").cast("date"),
        F.lit("1997-01-01").cast("date"),
    ).select(
        F.lit("placebo_1996").alias("test"), F.round("did", 4).alias("did_estimate")
    )
    return real.unionAll(placebo).orderBy("test")


@register(
    "load_duration_curve",
    oracle="""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, hour(ts) AS h,
             CAST(count(*) AS DOUBLE) AS load
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
             max(load) AS peak, avg(load) AS mean_load,
             CAST(quantile_cont(load, 0.9) AS DOUBLE) AS p90,
             CAST(quantile_cont(load, 0.5) AS DOUBLE) AS p50,
             CAST(quantile_cont(load, 0.1) AS DOUBLE) AS p10
      FROM hourly)
    SELECT n_hours,
           CAST(peak AS BIGINT) AS peak_load,
           round(mean_load / peak, 4) AS capacity_factor,
           round(p90 / peak, 4) AS p90_over_peak,
           round(p50 / peak, 4) AS p50_over_peak,
           round(p10 / peak, 4) AS p10_over_peak
    FROM stats
    """,
    tags=("sre", "percentile", "events"),
)
def q_load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration curve summary of hourly event volume — the
    power-grid planning view applied to service capacity: the
    capacity factor (mean/peak — how much of provisioned capacity
    the average hour uses) and the P90/P50/P10 load levels as
    fractions of peak. A low capacity factor with a thin peak is
    the signature workload for autoscaling or load-shifting
    (provisioning for peak wastes 1−CF of the fleet); the
    percentile levels price exactly how much capacity each nine of
    availability buys. One hourly aggregate + one exact-percentile
    reduction."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.to_date("ts").alias("d"), F.hour("ts").alias("h")).agg(
        F.count("*").cast("double").alias("load")
    )
    stats = hourly.agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.max("load").alias("peak"),
        F.avg("load").alias("mean_load"),
        F.expr("percentile(load, 0.9)").alias("p90"),
        F.expr("percentile(load, 0.5)").alias("p50"),
        F.expr("percentile(load, 0.1)").alias("p10"),
    )
    return stats.select(
        "n_hours",
        F.col("peak").cast("bigint").alias("peak_load"),
        F.round(F.col("mean_load") / F.col("peak"), 4).alias("capacity_factor"),
        F.round(F.col("p90") / F.col("peak"), 4).alias("p90_over_peak"),
        F.round(F.col("p50") / F.col("peak"), 4).alias("p50_over_peak"),
        F.round(F.col("p10") / F.col("peak"), 4).alias("p10_over_peak"),
    )


@register(
    "inspection_paradox",
    oracle="""
    WITH arr AS (SELECT epoch_us(ts) / 1e6 AS t FROM events),
    gaps AS (
      SELECT t - lag(t) OVER (ORDER BY t) AS g
      FROM arr QUALIFY g IS NOT NULL AND g > 0),
    mom AS (
      SELECT avg(g) AS m1, avg(g * g) AS m2,
             var_samp(g) / pow(avg(g), 2) AS cv2,
             CAST(count(*) AS BIGINT) AS n
      FROM gaps)
    SELECT n AS n_gaps,
           round(m1, 4) AS mean_gap_s,
           round(m2 / m1, 4) AS length_biased_mean_s,
           round(m2 / (m1 * m1), 4) AS paradox_ratio,
           round(1 + cv2, 4) AS one_plus_cv2
    FROM mom
    """,
    tags=("stats", "pointprocess", "events"),
)
def q_inspection_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inspection paradox, measured: the mean interarrival gap
    vs the mean of the gap a RANDOM INSTANT lands in —
    E[L²]/E[L] = E[L]·(1+cv²), so a random observer's 'typical
    wait' exceeds the true mean by exactly the squared variation
    (the identity is verified by the twin columns, which must
    match to rounding). This length-biased sampling is why users
    report worse latency than the latency dashboard, why sampled
    sessions skew long, and why bus waits exceed half the headway
    — the observer bias every event-sampled metric inherits. Two
    moment aggregates over the one lag-window gap relation."""
    e = _t(spark, sf_dir, "events")
    arr = e.select((F.unix_micros("ts") / 1e6).alias("t"))
    w = Window.orderBy("t")
    gaps = arr.select((F.col("t") - F.lag("t").over(w)).alias("g")).filter(
        F.col("g").isNotNull() & (F.col("g") > 0)
    )
    mom = gaps.agg(
        F.avg("g").alias("m1"),
        F.avg(F.col("g") * F.col("g")).alias("m2"),
        (F.var_samp("g") / F.pow(F.avg("g"), 2)).alias("cv2"),
        F.count("*").cast("bigint").alias("n"),
    )
    return mom.select(
        F.col("n").alias("n_gaps"),
        F.round("m1", 4).alias("mean_gap_s"),
        F.round(F.col("m2") / F.col("m1"), 4).alias("length_biased_mean_s"),
        F.round(F.col("m2") / (F.col("m1") * F.col("m1")), 4).alias(
            "paradox_ratio"
        ),
        F.round(1 + F.col("cv2"), 4).alias("one_plus_cv2"),
    )


@register(
    "shift_share_analysis",
    oracle="""
    WITH cell AS (
      SELECT n_name, p_brand, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2, 3),
    wide AS (
      SELECT n_name, p_brand,
             sum(CASE WHEN yr = 1996 THEN rev ELSE 0 END) AS e0,
             sum(CASE WHEN yr = 1997 THEN rev ELSE 0 END) AS e1
      FROM cell GROUP BY 1, 2),
    nat_g AS (
      SELECT sum(e1) / sum(e0) - 1 AS g FROM wide),
    ind_g AS (
      SELECT p_brand, sum(e1) / sum(e0) - 1 AS gi FROM wide GROUP BY 1),
    dec AS (
      SELECT n_name,
             sum(e0 * g) AS national_effect,
             sum(e0 * (gi - g)) AS industry_mix,
             sum(e1 - e0 * (1 + gi)) AS competitive_shift,
             sum(e1 - e0) AS total_change
      FROM wide JOIN ind_g USING (p_brand), nat_g
      GROUP BY n_name)
    SELECT n_name,
           round(total_change, 0) + 0.0 AS total_change,
           round(national_effect, 0) + 0.0 AS national_effect,
           round(industry_mix, 0) + 0.0 AS industry_mix,
           round(competitive_shift, 0) + 0.0 AS competitive_shift,
           round(total_change
                 - (national_effect + industry_mix + competitive_shift), 2)
             + 0.0 AS identity_gap
    FROM dec ORDER BY abs(competitive_shift) DESC, n_name LIMIT 10
    """,
    tags=("economics", "decomposition", "join"),
)
def q_shift_share_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of each nation's 1996→1997 revenue
    change: national effect (what growing with the whole market
    explains) + industry mix (being weighted toward fast/slow
    brands) + competitive shift (the residual that is genuinely
    local performance) — the regional-economics standard that stops
    mayors taking credit for national booms, with the additive
    identity pinned at 0.00 per nation in both engines. One star
    join builds the (nation, brand, year) cube; both growth-rate
    marginals re-aggregate from it, so the decomposition costs one
    fact pass; top-10 |competitive shift| surface."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    cell = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "n_name",
            "p_brand",
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    wide = cell.groupBy("n_name", "p_brand").agg(
        F.sum(F.when(F.col("yr") == 1996, F.col("rev")).otherwise(0.0)).alias("e0"),
        F.sum(F.when(F.col("yr") == 1997, F.col("rev")).otherwise(0.0)).alias("e1"),
    )
    nat_g = wide.agg((F.sum("e1") / F.sum("e0") - 1).alias("g"))
    ind_g = wide.groupBy("p_brand").agg(
        (F.sum("e1") / F.sum("e0") - 1).alias("gi")
    )
    dec = (
        wide.join(F.broadcast(ind_g), "p_brand")
        .crossJoin(F.broadcast(nat_g))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("e0") * F.col("g")).alias("national_effect"),
            F.sum(F.col("e0") * (F.col("gi") - F.col("g"))).alias("industry_mix"),
            F.sum(F.col("e1") - F.col("e0") * (1 + F.col("gi"))).alias(
                "competitive_shift"
            ),
            F.sum(F.col("e1") - F.col("e0")).alias("total_change"),
        )
    )
    return (
        dec.orderBy(F.abs(F.col("competitive_shift")).desc(), "n_name")
        .limit(10)
        .select(
            "n_name",
            canon_round("total_change", 0).alias("total_change"),
            canon_round("national_effect", 0).alias("national_effect"),
            canon_round("industry_mix", 0).alias("industry_mix"),
            canon_round("competitive_shift", 0).alias("competitive_shift"),
            canon_round(
                F.col("total_change")
                - (
                    F.col("national_effect")
                    + F.col("industry_mix")
                    + F.col("competitive_shift")
                ),
                2,
            ).alias("identity_gap"),
        )
    )


@register(
    "taylors_power_law",
    oracle="""
    WITH daily AS (
      SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2),
    per_part AS (
      SELECT l_partkey, avg(q) AS m, var_samp(q) AS v
      FROM daily GROUP BY l_partkey HAVING count(*) >= 10),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             regr_slope(ln(v), ln(m)) AS b,
             regr_r2(ln(v), ln(m)) AS r2
      FROM per_part WHERE v > 0 AND m > 0)
    SELECT n_parts, round(b, 4) AS taylor_exponent,
           round(r2, 4) AS r_squared
    FROM fit
    """,
    tags=("stats", "pointprocess", "regression"),
)
def q_taylors_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law on per-part daily demand: regress
    ln(variance) on ln(mean) across parts — ecology's most
    replicated empirical law (variance ∝ mean^b with b typically
    1..2: b=1 is Poisson, b=2 is proportional/clustered noise) and
    the exact relationship demand-forecast error models assume when
    they set safety stock ∝ mean^(b/2) (newsvendor_quantile's
    spread input). One grouped moment pass with a ≥10-observation
    floor, one regr_slope — the law's slope IS the fit."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_partkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(F.sum("l_quantity").cast("double").alias("q"))
    per_part = (
        daily.groupBy("l_partkey")
        .agg(
            F.avg("q").alias("m"),
            F.var_samp("q").alias("v"),
            F.count("*").alias("nd"),
        )
        .filter(F.col("nd") >= 10)
    )
    fit = per_part.filter((F.col("v") > 0) & (F.col("m") > 0)).agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.expr("regr_slope(ln(v), ln(m))").alias("b"),
        F.expr("regr_r2(ln(v), ln(m))").alias("r2"),
    )
    return fit.select(
        "n_parts",
        F.round("b", 4).alias("taylor_exponent"),
        F.round("r2", 4).alias("r_squared"),
    )


@register(
    "whittaker_beta_diversity",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT c_nationkey, l_partkey
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey),
    gamma AS (SELECT CAST(count(DISTINCT l_partkey) AS DOUBLE) AS g FROM inc),
    alpha AS (
      SELECT avg(a) AS abar, CAST(count(*) AS BIGINT) AS n_sites
      FROM (SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS a
            FROM inc GROUP BY 1))
    SELECT n_sites,
           CAST(g AS BIGINT) AS gamma_diversity,
           round(abar, 1) AS mean_alpha_diversity,
           round(g / abar, 4) AS whittaker_beta
    FROM gamma, alpha
    """,
    tags=("coverage", "distinct", "agg"),
)
def q_whittaker_beta_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whittaker's beta diversity of the part assortment across
    nations: γ (total distinct parts) over ᾱ (mean distinct parts
    per nation) — β=1 means every nation sells the same catalog
    (pure overlap), β→n_sites means fully disjoint regional
    assortments; the single number that says whether the 'long
    tail' is shared or local, which decides if inventory can be
    pooled centrally or must be stocked regionally. One deduped
    incidence relation feeds both levels — the same
    aggregate-once-read-twice shape as hypergeometric_enrichment."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    inc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_nationkey", "l_partkey")
        .distinct()
    )
    gamma = inc.agg(F.count_distinct("l_partkey").cast("double").alias("g"))
    alpha = (
        inc.groupBy("c_nationkey")
        .agg(F.count("*").cast("double").alias("a"))
        .agg(F.avg("a").alias("abar"), F.count("*").cast("bigint").alias("n_sites"))
    )
    return alpha.crossJoin(F.broadcast(gamma)).select(
        "n_sites",
        F.col("g").cast("bigint").alias("gamma_diversity"),
        F.round("abar", 1).alias("mean_alpha_diversity"),
        F.round(F.col("g") / F.col("abar"), 4).alias("whittaker_beta"),
    )


@register(
    "gibrats_law_check",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS rev
      FROM orders
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2),
    wide AS (
      SELECT a.o_custkey, a.rev AS r0, b.rev AS r1
      FROM cust a JOIN cust b
        ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             corr(ln(r0), ln(r1 / r0)) AS size_growth_corr,
             regr_slope(ln(r1 / r0), ln(r0)) AS beta
      FROM wide WHERE r0 > 0 AND r1 > 0)
    SELECT n_customers,
           round(size_growth_corr, 4) AS size_growth_corr,
           round(beta, 4) AS growth_on_size_slope,
           abs(size_growth_corr) < 0.05 AS gibrat_holds
    FROM fit
    """,
    tags=("economics", "regression", "stats"),
)
def q_gibrats_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gibrat's law of proportionate effect: is customer growth
    rate independent of customer size? corr(ln size, ln growth)
    across customers active both years — Gibrat holding (≈0) is
    what generates lognormal size distributions; a NEGATIVE slope
    is mean reversion (small accounts grow faster — the usual
    reality, and why 'land-and-expand' revenue models work), a
    positive one is winner-take-all concentration feeding the
    Pareto machinery (pareto_8020, hill_tail_index measure the
    resulting tail). One year-pair self-join on the per-customer
    aggregate, one corr."""
    o = _t(spark, sf_dir, "orders").filter(
        F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997)
    )
    cust = o.groupBy(
        "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    ).agg(F.sum("o_totalprice").alias("rev"))
    a = cust.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("rev").alias("r0")
    )
    b = cust.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("rev").alias("r1")
    )
    wide = a.join(b, "o_custkey").filter((F.col("r0") > 0) & (F.col("r1") > 0))
    fit = wide.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.corr(F.log("r0"), F.log(F.col("r1") / F.col("r0"))).alias(
            "size_growth_corr"
        ),
        F.expr("regr_slope(ln(r1 / r0), ln(r0))").alias("beta"),
    )
    return fit.select(
        "n_customers",
        F.round("size_growth_corr", 4).alias("size_growth_corr"),
        F.round("beta", 4).alias("growth_on_size_slope"),
        (F.abs(F.col("size_growth_corr")) < 0.05).alias("gibrat_holds"),
    )


@register(
    "bass_diffusion_fit",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             min(date_trunc('month', CAST(o_orderdate AS DATE))) AS m
      FROM orders GROUP BY 1),
    adopt AS (
      SELECT m, CAST(count(*) AS DOUBLE) AS n_t FROM first_order GROUP BY m),
    market AS (SELECT sum(n_t) AS mm FROM adopt),
    series AS (
      SELECT m, n_t,
             coalesce(sum(n_t) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM adopt),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             var_samp(cum_prev) AS s11, var_samp(cum_prev * cum_prev) AS s22,
             covar_samp(cum_prev, cum_prev * cum_prev) AS s12,
             covar_samp(n_t, cum_prev) AS s1y,
             covar_samp(n_t, cum_prev * cum_prev) AS s2y,
             avg(n_t) AS my, avg(cum_prev) AS m1,
             avg(cum_prev * cum_prev) AS m2
      FROM series),
    beta AS (
      SELECT (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
             (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2,
             my, m1, m2
      FROM mom),
    pars AS (
      SELECT (my - b1 * m1 - b2 * m2) AS a, b1, b2, mm
      FROM beta, market),
    bass AS (
      SELECT a / mm AS p, -b2 * mm AS q, a, b1, b2
      FROM pars)
    SELECT round(p, 5) AS innovation_p,
           round(q, 5) AS imitation_q,
           round(ln(greatest(q, 1e-9) / greatest(p, 1e-9))
                 / (p + q), 2) AS peak_month_estimate
    FROM bass
    """,
    tags=("marketing", "regression", "timeseries"),
)
def q_bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit on monthly customer adoption: the
    discrete Bass regression n(t) = a + b₁N(t−1) + b₂N(t−1)² with
    p = a/m and q = −b₂m — innovation (external pull) vs imitation
    (word-of-mouth) coefficients, plus the implied adoption-peak
    time ln(q/p)/(p+q), the launch-planning quantity the model
    exists for. The two-regressor OLS is the moment-matrix
    Cramer's-rule device again (granger_causality_f's trick), the
    adoption curve one first-order aggregate + one prefix window —
    a marketing-science model with zero optimizer."""
    o = _t(spark, sf_dir, "orders")
    first_order = o.groupBy("o_custkey").agg(
        F.min(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
        ).alias("m")
    )
    adopt = first_order.groupBy("m").agg(
        F.count("*").cast("double").alias("n_t")
    )
    market = adopt.agg(F.sum("n_t").alias("mm"))
    wprev = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    series = adopt.select(
        "n_t",
        F.coalesce(F.sum("n_t").over(wprev), F.lit(0.0)).alias("cum_prev"),
    )
    x2 = F.col("cum_prev") * F.col("cum_prev")
    mom = series.agg(
        F.var_samp("cum_prev").alias("s11"),
        F.var_samp(x2).alias("s22"),
        F.covar_samp(F.col("cum_prev"), x2).alias("s12"),
        F.covar_samp("n_t", F.col("cum_prev")).alias("s1y"),
        F.covar_samp(F.col("n_t"), x2).alias("s2y"),
        F.avg("n_t").alias("my"),
        F.avg("cum_prev").alias("m1"),
        F.avg(x2).alias("m2"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    a = F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")
    pars = mom.crossJoin(F.broadcast(market)).select(
        (a / F.col("mm")).alias("p"), (-b2 * F.col("mm")).alias("q")
    )
    return pars.select(
        F.round("p", 5).alias("innovation_p"),
        F.round("q", 5).alias("imitation_q"),
        F.round(
            F.log(
                F.greatest(F.col("q"), F.lit(1e-9))
                / F.greatest(F.col("p"), F.lit(1e-9))
            )
            / (F.col("p") + F.col("q")),
            2,
        ).alias("peak_month_estimate"),
    )


@register(
    "yules_k_richness",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents)
      WHERE length(w) >= 1),
    freq AS (
      SELECT source, w, CAST(count(*) AS DOUBLE) AS m
      FROM ws GROUP BY 1, 2),
    spectrum AS (
      SELECT source, m, CAST(count(*) AS DOUBLE) AS vm
      FROM freq GROUP BY 1, 2),
    k AS (
      SELECT source,
             sum(m * vm) AS n,
             sum(m * m * vm) AS s2,
             CAST(sum(vm) AS BIGINT) AS vocab
      FROM spectrum GROUP BY source)
    SELECT source, vocab,
           CAST(n AS BIGINT) AS n_tokens,
           round(10000 * (s2 - n) / (n * n), 4) AS yules_k
    FROM k ORDER BY yules_k DESC, source LIMIT 10
    """,
    tags=("text", "stylometry", "corpus"),
)
def q_yules_k_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K vocabulary-richness constant per source:
    10⁴·(Σm²V_m − N)/N² over the frequency-of-frequencies spectrum
    — the stylometric measure designed to be LENGTH-INVARIANT
    (type-token ratios fall mechanically as text grows; K does
    not, which is why it survives as an authorship feature a
    century on — Burrows' Delta's single-number cousin). High K =
    repetitive vocabulary (boilerplate/template sources — a
    curation flag), low K = rich. Two stacked aggregates: word
    frequencies, then the spectrum of those frequencies."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    freq = ws.groupBy("source", "w").agg(F.count("*").cast("double").alias("m"))
    spectrum = freq.groupBy("source", "m").agg(
        F.count("*").cast("double").alias("vm")
    )
    k = spectrum.groupBy("source").agg(
        F.sum(F.col("m") * F.col("vm")).alias("n"),
        F.sum(F.col("m") * F.col("m") * F.col("vm")).alias("s2"),
        F.sum("vm").cast("bigint").alias("vocab"),
    )
    return (
        k.select(
            "source",
            "vocab",
            F.col("n").cast("bigint").alias("n_tokens"),
            F.round(
                10000 * (F.col("s2") - F.col("n")) / (F.col("n") * F.col("n")), 4
            ).alias("yules_k"),
        )
        .orderBy(F.desc("yules_k"), "source")
        .limit(10)
    )


@register(
    "lotkas_law_check",
    oracle="""
    WITH prod AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS k
      FROM orders GROUP BY 1),
    spec AS (
      SELECT k, CAST(count(*) AS DOUBLE) AS authors
      FROM prod GROUP BY k),
    base AS (SELECT authors AS a1 FROM spec WHERE k = 1),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_levels,
             regr_slope(ln(authors), ln(CAST(k AS DOUBLE))) AS alpha
      FROM spec WHERE k <= 20)
    SELECT n_levels,
           round(-alpha, 4) AS lotka_exponent,
           round((SELECT coalesce(a1, 0) FROM base), 0) AS singletons,
           abs(-alpha - 2) < 0.5 AS near_classical_lotka
    FROM fit
    """,
    tags=("stats", "distribution-fit", "histogram"),
)
def q_lotkas_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lotka's inverse-square law on customer 'productivity': the
    number of customers with k orders should fall as 1/k^α with
    α≈2 (the bibliometric law of author output, the discrete cousin
    of zipf_fit's rank law and the degree-distribution shape
    bipartite_degree_profile bins) — fit by log-log regression over
    the frequency spectrum truncated at k=20 where counts are
    dense. The spectrum is a histogram OF a histogram: two stacked
    aggregates, each map-side combinable; α far from 2 means the
    ordering process is nothing like independent incremental
    activity."""
    o = _t(spark, sf_dir, "orders")
    prod = o.groupBy("o_custkey").agg(F.count("*").alias("k"))
    spec = prod.groupBy("k").agg(F.count("*").cast("double").alias("authors"))
    base = spec.filter(F.col("k") == 1).agg(
        F.coalesce(F.sum("authors"), F.lit(0.0)).alias("a1")
    )
    fit = spec.filter(F.col("k") <= 20).agg(
        F.count("*").cast("bigint").alias("n_levels"),
        F.expr("regr_slope(ln(authors), ln(CAST(k AS DOUBLE)))").alias("alpha"),
    )
    return fit.crossJoin(F.broadcast(base)).select(
        "n_levels",
        F.round(-F.col("alpha"), 4).alias("lotka_exponent"),
        F.round("a1", 0).alias("singletons"),
        (F.abs(-F.col("alpha") - 2) < 0.5).alias("near_classical_lotka"),
    )


@register(
    "incidence_rate_ratio",
    oracle="""
    WITH users AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm,
             CAST(date_diff('day', min(CAST(ts AS DATE)),
                            max(CAST(ts AS DATE))) + 1 AS DOUBLE)
               AS exposure_days,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS k
      FROM events GROUP BY user_id),
    arms AS (
      SELECT sum(CASE WHEN arm = 1 THEN k ELSE 0 END) AS k1,
             sum(CASE WHEN arm = 0 THEN k ELSE 0 END) AS k0,
             sum(CASE WHEN arm = 1 THEN exposure_days ELSE 0 END) AS t1,
             sum(CASE WHEN arm = 0 THEN exposure_days ELSE 0 END) AS t0
      FROM users),
    irr AS (
      SELECT k1, k0, (k1 / t1) / (k0 / t0) AS rr,
             sqrt(1 / k1 + 1 / k0) AS se
      FROM arms)
    SELECT CAST(k1 AS BIGINT) AS events_arm1,
           CAST(k0 AS BIGINT) AS events_arm0,
           round(rr, 4) AS rate_ratio,
           round(exp(ln(rr) - 1.96 * se), 4) AS ci_lower,
           round(exp(ln(rr) + 1.96 * se), 4) AS ci_upper,
           (exp(ln(rr) - 1.96 * se) > 1 OR exp(ln(rr) + 1.96 * se) < 1)
             AS significant
    FROM irr
    """,
    tags=("epidemiology", "experimentation", "estimation"),
)
def q_incidence_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incidence-rate ratio between two hash arms with EXPOSURE
    OFFSETS: purchases per observed user-day, not per user — the
    epidemiological rate comparison that stays honest when arms
    differ in observation time (a raw count ratio confounds
    engagement duration with rate; the person-time denominator is
    the whole point of incidence analysis). The log-scale CI uses
    the Poisson variance 1/k₁+1/k₀, asymmetric around the ratio as
    rate CIs must be; one per-user aggregate, one 2-arm
    reduction."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        (
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1
        )
        .cast("double")
        .alias("exposure_days"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("k"),
    ).select(
        CUR.hash_bucket(F.col("user_id"), 2).alias("arm"), "exposure_days", "k"
    )
    arms = users.agg(
        F.sum(F.when(F.col("arm") == 1, F.col("k")).otherwise(0.0)).alias("k1"),
        F.sum(F.when(F.col("arm") == 0, F.col("k")).otherwise(0.0)).alias("k0"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("exposure_days")).otherwise(0.0)
        ).alias("t1"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("exposure_days")).otherwise(0.0)
        ).alias("t0"),
    )
    rr = (F.col("k1") / F.col("t1")) / (F.col("k0") / F.col("t0"))
    se = F.sqrt(1 / F.col("k1") + 1 / F.col("k0"))
    lo = F.exp(F.log(rr) - 1.96 * se)
    hi = F.exp(F.log(rr) + 1.96 * se)
    return arms.select(
        F.col("k1").cast("bigint").alias("events_arm1"),
        F.col("k0").cast("bigint").alias("events_arm0"),
        F.round(rr, 4).alias("rate_ratio"),
        F.round(lo, 4).alias("ci_lower"),
        F.round(hi, 4).alias("ci_upper"),
        ((lo > 1) | (hi < 1)).alias("significant"),
    )


@register(
    "myerson_reserve_price",
    oracle="""
    WITH bids AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS bid
      FROM lineitem WHERE l_quantity > 0
      GROUP BY 1, 2),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bids),
    cand AS (
      SELECT bid AS r,
             CAST(count(*) AS DOUBLE) AS c
      FROM bids GROUP BY bid),
    surv AS (
      SELECT r,
             (SELECT nb FROM n)
             - (sum(c) OVER (ORDER BY r) - c) AS n_ge
      FROM cand),
    rev AS (
      SELECT r, r * n_ge / (SELECT nb FROM n) AS expected_rev,
             row_number() OVER (
               ORDER BY r * n_ge / (SELECT nb FROM n) DESC, r) AS rk
      FROM surv),
    med AS (
      SELECT CAST(quantile_cont(bid, 0.5) AS DOUBLE) AS rmed FROM bids),
    medrev AS (
      SELECT rmed * sum(CASE WHEN bid >= rmed THEN 1 ELSE 0 END)
             / (SELECT nb FROM n) AS rev_at_median
      FROM bids, med GROUP BY rmed)
    SELECT CAST((SELECT nb FROM n) AS BIGINT) AS n_bids,
           round((SELECT r FROM rev WHERE rk = 1), 2) AS optimal_reserve,
           round((SELECT expected_rev FROM rev WHERE rk = 1), 4)
             AS rev_per_bidder_at_optimum,
           round(rev_at_median, 4) AS rev_per_bidder_at_median
    FROM medrev
    """,
    tags=("auction", "economics", "window"),
)
def q_myerson_reserve_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Myerson reserve price: the posted price r
    maximizing r·P(bid ≥ r) over the OBSERVED bid distribution —
    the monopoly-pricing problem solved nonparametrically by
    evaluating every observed bid as a candidate in one
    survivor-count window (no distribution fit, no derivative);
    the revenue at the optimum vs at the median reserve quantifies
    what optimizing the reserve is worth (second_price_auction
    shows what the MARKET sets; Myerson is what the SELLER should
    demand). Candidate sweep = |distinct bids| rows; argmax is a
    top-1 rank."""
    li = _t(spark, sf_dir, "lineitem")
    bids = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("bid"))
    )
    n = bids.agg(F.count("*").cast("double").alias("nb"))
    cand = bids.groupBy(F.col("bid").alias("r")).agg(
        F.count("*").cast("double").alias("c")
    )
    wv = Window.orderBy("r")
    surv = cand.crossJoin(F.broadcast(n)).select(
        "r",
        "nb",
        (F.col("nb") - (F.sum("c").over(wv) - F.col("c"))).alias("n_ge"),
    )
    rev = surv.select(
        "r",
        (F.col("r") * F.col("n_ge") / F.col("nb")).alias("expected_rev"),
    ).select(
        "r",
        "expected_rev",
        F.row_number()
        .over(Window.orderBy(F.desc("expected_rev"), "r"))
        .alias("rk"),
    )
    best = rev.filter(F.col("rk") == 1).select(
        F.col("r").alias("ropt"), F.col("expected_rev").alias("revopt")
    )
    med = bids.agg(F.expr("percentile(bid, 0.5)").alias("rmed"))
    medrev = (
        bids.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(n))
        .agg(
            (
                F.first("rmed")
                * F.sum(F.when(F.col("bid") >= F.col("rmed"), 1).otherwise(0))
                / F.first("nb")
            ).alias("rev_at_median"),
            F.first("nb").alias("nb"),
        )
    )
    return medrev.crossJoin(F.broadcast(best)).select(
        F.col("nb").cast("bigint").alias("n_bids"),
        F.round("ropt", 2).alias("optimal_reserve"),
        F.round("revopt", 4).alias("rev_per_bidder_at_optimum"),
        F.round("rev_at_median", 4).alias("rev_per_bidder_at_median"),
    )


@register(
    "evpi_arms",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', CAST(ts AS DATE)) AS wk, event_type AS arm,
             avg(value) AS v
      FROM events
      WHERE event_type IN ('view', 'click', 'signup', 'purchase')
      GROUP BY 1, 2),
    fixed AS (
      SELECT arm, avg(v) AS mv FROM weekly GROUP BY arm),
    best_fixed AS (
      SELECT arm, mv, row_number() OVER (ORDER BY mv DESC, arm) AS rk
      FROM fixed),
    perfect AS (
      SELECT avg(best) AS pv
      FROM (SELECT wk, max(v) AS best FROM weekly GROUP BY wk))
    SELECT (SELECT arm FROM best_fixed WHERE rk = 1) AS best_fixed_arm,
           round((SELECT mv FROM best_fixed WHERE rk = 1), 4)
             AS fixed_policy_value,
           round(pv, 4) AS perfect_info_value,
           round(pv - (SELECT mv FROM best_fixed WHERE rk = 1), 4) AS evpi,
           round(100 * (pv / (SELECT mv FROM best_fixed WHERE rk = 1) - 1), 2)
             AS evpi_pct
    FROM perfect
    """,
    tags=("decision", "bandit", "agg"),
)
def q_evpi_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected value of perfect information over the weekly arm
    choice: E[maxₐ v] (switch to the best arm every week —
    clairvoyance) minus maxₐ E[v] (commit to the one best arm) —
    the decision-theory bound on what ANY adaptive policy
    (bandit_replay_eval's greedy, successive_halving_replay's
    tournament) can possibly add over the static choice. EVPI ≈ 0
    kills the case for adaptivity before a single experiment runs;
    Jensen's inequality guarantees it is never negative (a built-in
    sanity check). Two aggregates over the |weeks|×|arms|
    relation."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    )
    weekly = e.groupBy(
        F.date_trunc("week", F.to_date("ts")).alias("wk"),
        F.col("event_type").alias("arm"),
    ).agg(F.avg("value").alias("v"))
    fixed = weekly.groupBy("arm").agg(F.avg("v").alias("mv"))
    best_fixed = (
        fixed.select(
            "arm",
            "mv",
            F.row_number().over(Window.orderBy(F.desc("mv"), "arm")).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("arm").alias("best_fixed_arm"), F.col("mv").alias("fv"))
    )
    perfect = (
        weekly.groupBy("wk")
        .agg(F.max("v").alias("best"))
        .agg(F.avg("best").alias("pv"))
    )
    return best_fixed.crossJoin(F.broadcast(perfect)).select(
        "best_fixed_arm",
        F.round("fv", 4).alias("fixed_policy_value"),
        F.round("pv", 4).alias("perfect_info_value"),
        F.round(F.col("pv") - F.col("fv"), 4).alias("evpi"),
        F.round(100 * (F.col("pv") / F.col("fv") - 1), 2).alias("evpi_pct"),
    )


@register(
    "meta_analysis_pooled",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS site,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    per_site AS (
      SELECT site,
             avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff,
             var_samp(CASE WHEN g = 1 THEN y END)
               / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             + var_samp(CASE WHEN g = 0 THEN y END)
               / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS var_eff
      FROM obs GROUP BY site
      HAVING sum(g) >= 30 AND sum(1 - g) >= 30),
    pooled AS (
      SELECT sum(eff / var_eff) / sum(1 / var_eff) AS theta,
             1 / sum(1 / var_eff) AS var_theta,
             CAST(count(*) AS DOUBLE) AS k
      FROM per_site),
    het AS (
      SELECT k, theta, var_theta,
             sum(pow(eff - theta, 2) / var_eff) AS q
      FROM per_site, pooled GROUP BY k, theta, var_theta)
    SELECT CAST(k AS BIGINT) AS n_sites,
           round(theta, 4) AS pooled_effect,
           round(sqrt(var_theta), 4) AS pooled_se,
           round(q, 4) AS cochran_q,
           round(greatest((q - (k - 1)) / q, 0), 4) AS i_squared
    FROM het
    """,
    tags=("stats", "experimentation", "estimation"),
)
def q_meta_analysis_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis of the weekend effect across 25
    nation 'sites': inverse-variance-weighted pooled effect, its
    SE, Cochran's Q heterogeneity statistic, and I² = (Q−df)/Q —
    the multi-site experiment readout (each site too small to
    decide alone; pooling is exact when effects are homogeneous,
    and I² says whether they ARE — high I² means report sites, not
    the pool, and reach for random-effects). Per-site effects and
    variances from one grouped conditional-moment pass; the pool
    and Q are |sites|-row reductions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("site"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    per_site = (
        obs.groupBy("site")
        .agg(
            (
                F.avg(F.when(F.col("g") == 1, F.col("y")))
                - F.avg(F.when(F.col("g") == 0, F.col("y")))
            ).alias("eff"),
            (
                F.var_samp(F.when(F.col("g") == 1, F.col("y")))
                / F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                + F.var_samp(F.when(F.col("g") == 0, F.col("y")))
                / F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            ).alias("var_eff"),
            F.sum("g").alias("n1"),
            F.sum(1 - F.col("g")).alias("n0"),
        )
        .filter((F.col("n1") >= 30) & (F.col("n0") >= 30))
    )
    pooled = per_site.agg(
        (F.sum(F.col("eff") / F.col("var_eff")) / F.sum(1 / F.col("var_eff"))).alias(
            "theta"
        ),
        (1 / F.sum(1 / F.col("var_eff"))).alias("var_theta"),
        F.count("*").cast("double").alias("k"),
    )
    het = per_site.crossJoin(F.broadcast(pooled)).groupBy(
        "k", "theta", "var_theta"
    ).agg(
        F.sum(F.pow(F.col("eff") - F.col("theta"), 2) / F.col("var_eff")).alias("q")
    )
    return het.select(
        F.col("k").cast("bigint").alias("n_sites"),
        F.round("theta", 4).alias("pooled_effect"),
        F.round(F.sqrt("var_theta"), 4).alias("pooled_se"),
        F.round("q", 4).alias("cochran_q"),
        F.round(
            F.greatest((F.col("q") - (F.col("k") - 1)) / F.col("q"), F.lit(0.0)), 4
        ).alias("i_squared"),
    )


@register(
    "price_stickiness",
    oracle="""
    WITH monthly AS (
      SELECT l_partkey, date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             sum(l_extendedprice) / sum(l_quantity) AS p
      FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
    chg AS (
      SELECT l_partkey, p,
             lag(p) OVER (PARTITION BY l_partkey ORDER BY m) AS pp
      FROM monthly),
    classified AS (
      SELECT CASE WHEN abs(p - pp) / pp > 0.01 THEN 1 ELSE 0 END AS changed,
             abs(p - pp) / pp AS mag
      FROM chg WHERE pp IS NOT NULL AND pp > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_part_months,
           round(avg(CAST(changed AS DOUBLE)), 4) AS change_frequency,
           round(1 / avg(CAST(changed AS DOUBLE)), 2)
             AS implied_duration_months,
           round(avg(CASE WHEN changed = 1 THEN mag END), 4)
             AS mean_change_magnitude
    FROM classified
    """,
    tags=("economics", "window", "timeseries"),
)
def q_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price stickiness à la Bils-Klenow: per part-month, did the
    realized unit price move more than 1%? The change frequency's
    reciprocal is the implied price-spell duration (the menu-cost
    literature's headline number), and the conditional magnitude
    says whether changes are frequent-and-small (flexible) or
    rare-and-large (sticky with lumpy adjustment) — the
    micro-foundation under arc_elasticity_bands' demand response.
    One per-part lag window, partition-parallel across parts; one
    conditional aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    monthly = li.groupBy(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m"),
    ).agg((F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"))
    w = Window.partitionBy("l_partkey").orderBy("m")
    chg = monthly.select(
        "p", F.lag("p").over(w).alias("pp")
    ).filter(F.col("pp").isNotNull() & (F.col("pp") > 0))
    mag = F.abs(F.col("p") - F.col("pp")) / F.col("pp")
    classified = chg.select(
        F.when(mag > 0.01, 1).otherwise(0).alias("changed"), mag.alias("mag")
    )
    return classified.agg(
        F.count("*").cast("bigint").alias("n_part_months"),
        F.round(F.avg(F.col("changed").cast("double")), 4).alias(
            "change_frequency"
        ),
        F.round(1 / F.avg(F.col("changed").cast("double")), 2).alias(
            "implied_duration_months"
        ),
        F.round(
            F.avg(F.when(F.col("changed") == 1, F.col("mag"))), 4
        ).alias("mean_change_magnitude"),
    )


@register(
    "weibull_hazard_shape",
    oracle="""
    WITH users AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_seen,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS ev
      FROM events GROUP BY user_id),
    durations AS (
      SELECT date_diff('day', first_seen, ev) + 1 AS t
      FROM users WHERE ev IS NOT NULL),
    ecdf AS (
      SELECT t, CAST(count(*) AS DOUBLE) AS c
      FROM durations GROUP BY t),
    surv AS (
      SELECT t,
             1 - (sum(c) OVER (ORDER BY t)) / (sum(c) OVER ()) AS s
      FROM ecdf),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             regr_slope(ln(-ln(s)), ln(CAST(t AS DOUBLE))) AS k,
             regr_r2(ln(-ln(s)), ln(CAST(t AS DOUBLE))) AS r2
      FROM surv WHERE s > 0.001 AND s < 0.999 AND t > 0)
    SELECT n_points,
           round(k, 4) AS weibull_shape,
           round(r2, 4) AS fit_r2,
           CASE WHEN k < 0.95 THEN 'decreasing_hazard'
                WHEN k > 1.05 THEN 'increasing_hazard'
                ELSE 'constant_hazard' END AS hazard_verdict
    FROM fit
    """,
    tags=("survival", "distribution-fit", "regression"),
)
def q_weibull_hazard_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape parameter for time-to-first-purchase by the
    probability-plot regression ln(−ln S(t)) ~ k·ln t on the
    uncensored empirical survival curve — k<1 means DECREASING
    hazard (users who haven't converted early become ever less
    likely: spend retention budget in week one), k>1 increasing
    (conversion pressure builds), k=1 exactly exponential/
    memoryless; the r² says whether Weibull describes the process
    at all. The survival curve is one window over the
    |distinct durations| histogram — the parametric reading of the
    curve kaplan_meier_conversion draws nonparametrically."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("ev"),
    )
    durations = users.filter(F.col("ev").isNotNull()).select(
        (F.datediff(F.col("ev"), F.col("first_seen")) + 1).alias("t")
    )
    ecdf = durations.groupBy("t").agg(F.count("*").cast("double").alias("c"))
    wv = Window.orderBy("t")
    wall = Window.partitionBy()
    surv = ecdf.select(
        "t",
        (1 - F.sum("c").over(wv) / F.sum("c").over(wall)).alias("s"),
    )
    fit = surv.filter(
        (F.col("s") > 0.001) & (F.col("s") < 0.999) & (F.col("t") > 0)
    ).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.expr("regr_slope(ln(-ln(s)), ln(CAST(t AS DOUBLE)))").alias("k"),
        F.expr("regr_r2(ln(-ln(s)), ln(CAST(t AS DOUBLE)))").alias("r2"),
    )
    return fit.select(
        "n_points",
        F.round("k", 4).alias("weibull_shape"),
        F.round("r2", 4).alias("fit_r2"),
        F.when(F.col("k") < 0.95, "decreasing_hazard")
        .when(F.col("k") > 1.05, "increasing_hazard")
        .otherwise("constant_hazard")
        .alias("hazard_verdict"),
    )


@register(
    "markov_removal_attribution",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type AS s
      FROM events
      WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
    seq AS (
      SELECT user_id, s,
             coalesce(lead(s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id), 'exit') AS nxt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM ev),
    firstp AS (
      SELECT user_id, min(rn) AS prn FROM seq
      WHERE s = 'purchase' GROUP BY user_id),
    trimmed AS (
      SELECT seq.* FROM seq LEFT JOIN firstp USING (user_id)
      WHERE prn IS NULL OR rn <= prn),
    trans AS (
      SELECT s, nxt, CAST(count(*) AS DOUBLE) AS c
      FROM trimmed WHERE s <> 'purchase' GROUP BY s, nxt),
    probs AS (
      SELECT s, nxt, c / sum(c) OVER (PARTITION BY s) AS p FROM trans),
    wide AS (SELECT {_MRA_CELLS_SQL} FROM probs),
    starts AS (
      SELECT s, CAST(count(*) AS DOUBLE) AS c
      FROM trimmed WHERE rn = 1 GROUP BY s),
    pi AS (
      SELECT coalesce(max(CASE WHEN s = 'view' THEN c END), 0) / sum(c)
               AS p1,
             coalesce(max(CASE WHEN s = 'click' THEN c END), 0) / sum(c)
               AS p2,
             coalesce(max(CASE WHEN s = 'signup' THEN c END), 0) / sum(c)
               AS p3,
             coalesce(max(CASE WHEN s = 'purchase' THEN c END), 0) / sum(c)
               AS p4
      FROM starts),
    solved AS (
      SELECT ({_MRA_P_BASE}) AS p_base,
             ({_MRA_P_NO1}) AS p_no1,
             ({_MRA_P_NO2}) AS p_no2,
             ({_MRA_P_NO3}) AS p_no3
      FROM wide, pi),
    effects AS (
      SELECT p_base,
             1 - p_no1 / p_base AS e1,
             1 - p_no2 / p_base AS e2,
             1 - p_no3 / p_base AS e3
      FROM solved)
    SELECT channel, round(p_base, 4) AS base_conversion,
           round(p_removed, 4) AS conversion_without,
           round(effect, 4) AS removal_effect,
           round(effect / nullif(e1 + e2 + e3, 0), 4) AS attribution_share
    FROM (
      SELECT 'view' AS channel, p_base, p_base * (1 - e1) AS p_removed,
             e1 AS effect, e1, e2, e3 FROM effects
      UNION ALL
      SELECT 'click', p_base, p_base * (1 - e2), e2, e1, e2, e3
      FROM effects
      UNION ALL
      SELECT 'signup', p_base, p_base * (1 - e3), e3, e1, e2, e3
      FROM effects)
    ORDER BY channel
    """,
    tags=("attribution", "markov", "marketing"),
)
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.) solved in
    CLOSED FORM: user journeys become a first-order absorbing chain
    over view/click/signup with purchase and exit absorbing, base
    conversion is π'(I−Q)⁻¹r via Cramer's rule on the 3×3 pivoted
    transition matrix — a ONE-ROW relation, so the matrix algebra
    is scalar arithmetic — and each channel's credit is the
    removal effect 1 − P(conv | channel deleted)/P(conv), each
    removal a 2×2 solve. This is the data-driven attribution model
    that replaces heuristic last-touch/U-shaped rules
    (touch_attribution), the chain trimmed at first purchase so
    absorption is honest. The identical formula TEXT drives both
    engines — the algebra cannot drift between them."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("s"),
        F.coalesce(F.lead("event_type").over(w), F.lit("exit")).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    firstp = seq.filter(F.col("s") == "purchase").groupBy("user_id").agg(
        F.min("rn").alias("prn")
    )
    trimmed = seq.join(firstp, "user_id", "left").filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    trans = (
        trimmed.filter(F.col("s") != "purchase")
        .groupBy("s", "nxt")
        .agg(F.count("*").cast("double").alias("c"))
    )
    probs = trans.select(
        "s",
        "nxt",
        (F.col("c") / F.sum("c").over(Window.partitionBy("s"))).alias("p"),
    )
    wide = probs.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("s") == sname) & (F.col("nxt") == nname), F.col("p")
                    )
                ),
                F.lit(0.0),
            ).alias(alias)
            for (sname, si) in (("view", 1), ("click", 2), ("signup", 3))
            for (nname, alias) in (
                ("view", f"q{si}1"),
                ("click", f"q{si}2"),
                ("signup", f"q{si}3"),
                ("purchase", f"r{si}"),
            )
        ]
    )
    starts = trimmed.filter(F.col("rn") == 1).groupBy("s").agg(
        F.count("*").cast("double").alias("c")
    )
    pick = lambda name: F.coalesce(
        F.max(F.when(F.col("s") == name, F.col("c"))), F.lit(0.0)
    )
    pi = starts.agg(
        (pick("view") / F.sum("c")).alias("p1"),
        (pick("click") / F.sum("c")).alias("p2"),
        (pick("signup") / F.sum("c")).alias("p3"),
        (pick("purchase") / F.sum("c")).alias("p4"),
    )
    solved = wide.crossJoin(F.broadcast(pi)).select(
        F.expr(_MRA_P_BASE).alias("p_base"),
        F.expr(_MRA_P_NO1).alias("p_no1"),
        F.expr(_MRA_P_NO2).alias("p_no2"),
        F.expr(_MRA_P_NO3).alias("p_no3"),
    )
    effects = solved.select(
        "p_base",
        (1 - F.col("p_no1") / F.col("p_base")).alias("e1"),
        (1 - F.col("p_no2") / F.col("p_base")).alias("e2"),
        (1 - F.col("p_no3") / F.col("p_base")).alias("e3"),
    )
    rows = None
    for name, ecol in (("view", "e1"), ("click", "e2"), ("signup", "e3")):
        piece = effects.select(
            F.lit(name).alias("channel"),
            "p_base",
            (F.col("p_base") * (1 - F.col(ecol))).alias("p_removed"),
            F.col(ecol).alias("effect"),
            "e1",
            "e2",
            "e3",
        )
        rows = piece if rows is None else rows.unionAll(piece)
    total = F.col("e1") + F.col("e2") + F.col("e3")
    return rows.select(
        "channel",
        F.round("p_base", 4).alias("base_conversion"),
        F.round("p_removed", 4).alias("conversion_without"),
        F.round("effect", 4).alias("removal_effect"),
        F.round(F.col("effect") / F.nullif(total, F.lit(0.0)), 4).alias(
            "attribution_share"
        ),
    ).orderBy("channel")


@register(
    "dersimonian_laird_random",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS site,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    per_site AS (
      SELECT site,
             avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff,
             var_samp(CASE WHEN g = 1 THEN y END)
               / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             + var_samp(CASE WHEN g = 0 THEN y END)
               / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS v
      FROM obs GROUP BY site
      HAVING sum(g) >= 30 AND sum(1 - g) >= 30),
    fe AS (
      SELECT sum(eff / v) / sum(1 / v) AS theta_fe,
             sum(1 / v) AS sw, sum(1 / (v * v)) AS sw2,
             CAST(count(*) AS DOUBLE) AS k
      FROM per_site),
    q AS (
      SELECT k, sw, sw2, theta_fe,
             sum(pow(eff - theta_fe, 2) / v) AS qstat
      FROM per_site, fe GROUP BY k, sw, sw2, theta_fe),
    tau AS (
      SELECT k, theta_fe,
             greatest((qstat - (k - 1)) / (sw - sw2 / sw), 0) AS tau2
      FROM q),
    re AS (
      SELECT k, theta_fe, tau2,
             sum(eff / (v + tau2)) / sum(1 / (v + tau2)) AS theta_re,
             sqrt(1 / sum(1 / (v + tau2))) AS se_re
      FROM per_site, tau GROUP BY k, theta_fe, tau2)
    SELECT CAST(k AS BIGINT) AS n_sites,
           round(tau2, 2) AS tau_squared,
           round(theta_fe, 4) AS fixed_effect,
           round(theta_re, 4) AS random_effect,
           round(se_re, 4) AS random_effect_se
    FROM re
    """,
    tags=("stats", "experimentation", "estimation"),
)
def q_dersimonian_laird_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DerSimonian-Laird random-effects meta-analysis — the sequel
    meta_analysis_pooled's I² demands when sites genuinely differ:
    the between-site variance τ² = (Q−df)/(Σw−Σw²/Σw) is added to
    every site's sampling variance before re-weighting, which pulls
    weights toward equality (big sites lose their dominance —
    exactly the behavior that distinguishes 'estimating THE effect'
    from 'estimating the MEAN of effects') and widens the SE to
    cover real heterogeneity. Three cascaded reductions over the
    same per-site relation; τ² floors at zero where FE and RE
    coincide."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("site"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    per_site = (
        obs.groupBy("site")
        .agg(
            (
                F.avg(F.when(F.col("g") == 1, F.col("y")))
                - F.avg(F.when(F.col("g") == 0, F.col("y")))
            ).alias("eff"),
            (
                F.var_samp(F.when(F.col("g") == 1, F.col("y")))
                / F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                + F.var_samp(F.when(F.col("g") == 0, F.col("y")))
                / F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            ).alias("v"),
            F.sum("g").alias("n1"),
            F.sum(1 - F.col("g")).alias("n0"),
        )
        .filter((F.col("n1") >= 30) & (F.col("n0") >= 30))
    )
    fe = per_site.agg(
        (F.sum(F.col("eff") / F.col("v")) / F.sum(1 / F.col("v"))).alias(
            "theta_fe"
        ),
        F.sum(1 / F.col("v")).alias("sw"),
        F.sum(1 / (F.col("v") * F.col("v"))).alias("sw2"),
        F.count("*").cast("double").alias("k"),
    )
    q = per_site.crossJoin(F.broadcast(fe)).groupBy(
        "k", "sw", "sw2", "theta_fe"
    ).agg(
        F.sum(F.pow(F.col("eff") - F.col("theta_fe"), 2) / F.col("v")).alias(
            "qstat"
        )
    )
    tau = q.select(
        "k",
        "theta_fe",
        F.greatest(
            (F.col("qstat") - (F.col("k") - 1))
            / (F.col("sw") - F.col("sw2") / F.col("sw")),
            F.lit(0.0),
        ).alias("tau2"),
    )
    re = per_site.crossJoin(F.broadcast(tau)).groupBy(
        "k", "theta_fe", "tau2"
    ).agg(
        (
            F.sum(F.col("eff") / (F.col("v") + F.col("tau2")))
            / F.sum(1 / (F.col("v") + F.col("tau2")))
        ).alias("theta_re"),
        F.sqrt(1 / F.sum(1 / (F.col("v") + F.col("tau2")))).alias("se_re"),
    )
    return re.select(
        F.col("k").cast("bigint").alias("n_sites"),
        F.round("tau2", 2).alias("tau_squared"),
        F.round("theta_fe", 4).alias("fixed_effect"),
        F.round("theta_re", 4).alias("random_effect"),
        F.round("se_re", 4).alias("random_effect_se"),
    )


@register(
    "digit_preference_heaping",
    oracle="""
    WITH digits AS (
      SELECT CAST(l_quantity AS BIGINT) % 10 AS d,
             CAST(count(*) AS DOUBLE) AS c
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(c) AS n, CAST(count(*) AS DOUBLE) AS k FROM digits),
    chi AS (
      SELECT sum(pow(c - n / k, 2) / (n / k)) AS chi2,
             any_value(n) AS n
      FROM digits, tot GROUP BY n),
    heap AS (
      SELECT sum(CASE WHEN d IN (0, 5) THEN c ELSE 0 END) / sum(c)
               AS share05
      FROM digits)
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(chi2, 4) AS uniformity_chi2,
           round(share05, 4) AS share_ending_0_or_5,
           round(share05 / 0.2, 4) AS heaping_index
    FROM chi, heap
    """,
    tags=("quality", "audit", "histogram"),
)
def q_digit_preference_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal-digit preference audit on quantities: the
    demographer's heaping check — humans reporting numbers pile
    onto 0 and 5 (ages, blood pressures, survey answers), so the
    share ending in 0/5 against its uniform 20% expectation (the
    heaping index; Whipple's index is this ×5) plus a full
    last-digit χ² separates MEASURED values from REPORTED ones —
    the cheap instrument-vs-human provenance test, Benford's
    (benford_first_digit) terminal-digit sibling: Benford catches
    fabricated magnitudes, heaping catches lazy reporting. One
    10-bin histogram."""
    li = _t(spark, sf_dir, "lineitem")
    digits = li.groupBy(
        (F.col("l_quantity").cast("bigint") % 10).alias("d")
    ).agg(F.count("*").cast("double").alias("c"))
    tot = digits.agg(
        F.sum("c").alias("n"), F.count("*").cast("double").alias("k")
    )
    exp = F.col("n") / F.col("k")
    chi = digits.crossJoin(F.broadcast(tot)).groupBy("n").agg(
        F.sum(F.pow(F.col("c") - exp, 2) / exp).alias("chi2")
    )
    heap = digits.agg(
        (
            F.sum(F.when(F.col("d").isin(0, 5), F.col("c")).otherwise(0.0))
            / F.sum("c")
        ).alias("share05")
    )
    return chi.crossJoin(F.broadcast(heap)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round("chi2", 4).alias("uniformity_chi2"),
        F.round("share05", 4).alias("share_ending_0_or_5"),
        F.round(F.col("share05") / 0.2, 4).alias("heaping_index"),
    )


@register(
    "retention_decay_law",
    oracle="""
    WITH firstw AS (
      SELECT user_id, min(date_trunc('week', CAST(ts AS DATE))) AS w0
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT e.user_id,
             CAST(date_diff('week', f.w0,
                  date_trunc('week', CAST(e.ts AS DATE))) AS BIGINT) AS age
      FROM events e JOIN firstw f ON e.user_id = f.user_id),
    cohort_n AS (SELECT CAST(count(*) AS DOUBLE) AS n0 FROM firstw),
    ret AS (
      SELECT age, count(*) / n0 AS s
      FROM active, cohort_n WHERE age >= 1 GROUP BY age, n0),
    fits AS (
      SELECT regr_r2(ln(s), CAST(age AS DOUBLE)) AS r2_exp,
             regr_r2(ln(s), ln(CAST(age AS DOUBLE))) AS r2_pow,
             regr_slope(ln(s), ln(CAST(age AS DOUBLE))) AS pow_slope,
             CAST(count(*) AS BIGINT) AS n_weeks
      FROM ret WHERE s > 0)
    SELECT n_weeks,
           round(r2_exp, 4) AS r2_exponential,
           round(r2_pow, 4) AS r2_power_law,
           round(pow_slope, 4) AS power_exponent,
           CASE WHEN r2_pow > r2_exp THEN 'power_law'
                ELSE 'exponential' END AS better_decay_law
    FROM fits
    """,
    tags=("retention", "distribution-fit", "cohort"),
)
def q_retention_decay_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which law does retention decay follow? The weekly
    return-rate curve fit BOTH ways — ln S ~ t (exponential:
    constant churn hazard, a leaky bucket) vs ln S ~ ln t (power
    law: the hazard falls as survivors prove loyal — heterogeneous
    users, the shape app-retention data almost always shows) — and
    judged by r². The answer changes everything downstream: an
    exponential fit caps LTV at rate/churn, a power law makes
    late-tail users disproportionately valuable
    (cohort_ltv_curve's integrand; weibull_hazard_shape asks the
    same question of time-to-convert). One cohort-age aggregate,
    two regressions."""
    e = _t(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.to_date("ts"))).alias("w0")
    )
    active = (
        e.join(firstw, "user_id")
        .select(
            "user_id",
            (
                F.datediff(
                    F.date_trunc("week", F.to_date("ts")), F.col("w0")
                )
                / 7
            )
            .cast("bigint")
            .alias("age"),
        )
        .distinct()
    )
    cohort_n = firstw.agg(F.count("*").cast("double").alias("n0"))
    ret = (
        active.filter(F.col("age") >= 1)
        .groupBy("age")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(cohort_n))
        .select("age", (F.col("cnt") / F.col("n0")).alias("s"))
    )
    fits = ret.filter(F.col("s") > 0).agg(
        F.expr("regr_r2(ln(s), CAST(age AS DOUBLE))").alias("r2_exp"),
        F.expr("regr_r2(ln(s), ln(CAST(age AS DOUBLE)))").alias("r2_pow"),
        F.expr("regr_slope(ln(s), ln(CAST(age AS DOUBLE)))").alias("pow_slope"),
        F.count("*").cast("bigint").alias("n_weeks"),
    )
    return fits.select(
        "n_weeks",
        F.round("r2_exp", 4).alias("r2_exponential"),
        F.round("r2_pow", 4).alias("r2_power_law"),
        F.round("pow_slope", 4).alias("power_exponent"),
        F.when(F.col("r2_pow") > F.col("r2_exp"), "power_law")
        .otherwise("exponential")
        .alias("better_decay_law"),
    )


@register(
    "pps_horvitz_thompson",
    oracle="""
    WITH units AS (
      SELECT l_partkey, sum(l_extendedprice) AS y
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(y) AS ty, CAST(count(*) AS DOUBLE) AS n FROM units),
    pi AS (
      SELECT l_partkey, y,
             least(200 * y / ty, 1.0) AS p,
             (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
              ::UBIGINT % 1000000) / 1000000.0 AS u
      FROM units, tot),
    sample AS (SELECT y, p FROM pi WHERE u < p),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             sum(y / p) AS ht_total
      FROM sample)
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_units,
           n_sampled,
           round((SELECT ty FROM tot), 2) AS true_total,
           round(ht_total, 2) AS ht_estimate,
           round(ht_total / (SELECT ty FROM tot), 4) AS estimate_ratio
    FROM est
    """,
    tags=("sampling", "survey", "hash"),
)
def q_pps_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sampling with the
    Horvitz-Thompson estimator: each part's inclusion probability
    is proportional to its revenue (capped at 1 — certainty units,
    the big parts every PPS design takes with probability one),
    selection is the deterministic md5-uniform draw, and the HT
    total Σy/π unbiasedly reconstructs the full total from the
    sample — the design under every audit-sampling and
    big-customer-stratum scheme, because sampling big units surely
    kills most of the variance a uniform sample wastes on them.
    The estimate_ratio against truth IS the audit; one scan, one
    filtered reduction."""
    li = _t(spark, sf_dir, "lineitem")
    units = li.groupBy("l_partkey").agg(F.sum("l_extendedprice").alias("y"))
    tot = units.agg(
        F.sum("y").alias("ty"), F.count("*").cast("double").alias("n")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 1000000
    ) / 1000000.0
    pi = units.crossJoin(F.broadcast(tot)).select(
        "y",
        "ty",
        "n",
        F.least(200 * F.col("y") / F.col("ty"), F.lit(1.0)).alias("p"),
        u.alias("u"),
    )
    sample = pi.filter(F.col("u") < F.col("p"))
    est = sample.agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum(F.col("y") / F.col("p")).alias("ht_total"),
        F.first("ty").alias("ty"),
        F.first("n").alias("n"),
    )
    return est.select(
        F.col("n").cast("bigint").alias("n_units"),
        "n_sampled",
        F.round("ty", 2).alias("true_total"),
        F.round("ht_total", 2).alias("ht_estimate"),
        F.round(F.col("ht_total") / F.col("ty"), 4).alias("estimate_ratio"),
    )


@register(
    "abc_migration_matrix",
    oracle="""
    WITH yearly AS (
      SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
             sum(l_extendedprice) AS v
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2),
    classed AS (
      SELECT l_partkey, yr,
             CASE WHEN cum <= 0.8 THEN 'A'
                  WHEN cum <= 0.95 THEN 'B' ELSE 'C' END AS cls
      FROM (SELECT l_partkey, yr,
                   sum(v) OVER (PARTITION BY yr ORDER BY v DESC, l_partkey)
                   / sum(v) OVER (PARTITION BY yr) AS cum
            FROM yearly)),
    pairs AS (
      SELECT a.cls AS cls_1996, b.cls AS cls_1997,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM classed a JOIN classed b
        ON a.l_partkey = b.l_partkey AND a.yr = 1996 AND b.yr = 1997
      GROUP BY 1, 2)
    SELECT cls_1996, cls_1997, n_parts,
           round(n_parts / sum(n_parts)
                 OVER (PARTITION BY cls_1996), 4) AS row_share
    FROM pairs ORDER BY cls_1996, cls_1997
    """,
    tags=("inventory", "scd", "window"),
)
def q_abc_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-class migration matrix, 1996→1997: every part classed by
    cumulative-value share within each year (the abc_xyz_matrix
    device, per-year windows), then the year-pair join counts the
    3×3 transitions with row-normalized shares — the class-churn
    view that tells inventory planners whether A-status is STABLE
    (diagonal-heavy, classification once a year suffices) or
    volatile (off-diagonal mass, the reorder-policy assignments are
    stale the day they ship). Per-year ranking windows partition by
    year; the migration join is part-keyed."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year(F.col("l_shipdate").cast("date")).isin(1996, 1997)
    )
    yearly = li.groupBy(
        "l_partkey", F.year(F.col("l_shipdate").cast("date")).alias("yr")
    ).agg(F.sum("l_extendedprice").alias("v"))
    wcum = Window.partitionBy("yr").orderBy(F.desc("v"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("yr")
    classed = yearly.select(
        "l_partkey",
        "yr",
        (F.sum("v").over(wcum) / F.sum("v").over(wall)).alias("cum"),
    ).select(
        "l_partkey",
        "yr",
        F.when(F.col("cum") <= 0.8, "A")
        .when(F.col("cum") <= 0.95, "B")
        .otherwise("C")
        .alias("cls"),
    )
    a = classed.filter(F.col("yr") == 1996).select(
        "l_partkey", F.col("cls").alias("cls_1996")
    )
    b = classed.filter(F.col("yr") == 1997).select(
        "l_partkey", F.col("cls").alias("cls_1997")
    )
    pairs = a.join(b, "l_partkey").groupBy("cls_1996", "cls_1997").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    wrow = Window.partitionBy("cls_1996")
    return pairs.select(
        "cls_1996",
        "cls_1997",
        "n_parts",
        F.round(F.col("n_parts") / F.sum("n_parts").over(wrow), 4).alias(
            "row_share"
        ),
    ).orderBy("cls_1996", "cls_1997")


@register(
    "split_half_reliability",
    oracle="""
    WITH halves AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  ::UBIGINT % 2 AS INT) AS half,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
      FROM documents),
    ws AS (SELECT half, w FROM halves WHERE length(w) >= 1),
    top AS (
      SELECT w FROM ws GROUP BY w ORDER BY count(*) DESC, w LIMIT 50),
    tot AS (SELECT half, CAST(count(*) AS DOUBLE) AS t
            FROM ws GROUP BY half),
    prof AS (
      SELECT top.w,
             coalesce(sum(CASE WHEN ws.half = 0 THEN 1 END), 0)
               / max(CASE WHEN tot.half = 0 THEN t END) AS f0,
             coalesce(sum(CASE WHEN ws.half = 1 THEN 1 END), 0)
               / max(CASE WHEN tot.half = 1 THEN t END) AS f1
      FROM top LEFT JOIN ws ON ws.w = top.w, tot
      GROUP BY top.w),
    rel AS (SELECT corr(f0, f1) AS r FROM prof)
    SELECT round(r, 4) AS split_half_corr,
           round(2 * r / (1 + r), 4) AS spearman_brown_reliability,
           CAST(50 AS BIGINT) AS n_words
    FROM rel
    """,
    tags=("text", "agreement", "stats"),
)
def q_split_half_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half reliability of the corpus word-frequency profile:
    hash the documents into two halves, correlate the two halves'
    top-50 relative frequencies, and step up with Spearman-Brown
    2r/(1+r) — the psychometric answer to 'is this profile a
    stable property of the corpus or sampling noise', which gates
    every profile-based decision upstream (Burrows' Delta,
    jensen_shannon_sources, feature_hashing_cosine all ASSUME the
    profile is reliable; this measures it). Deterministic halves
    via the md5 device; the profile grid is a 50-row left join."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        CUR.hash_bucket(F.col("doc_id"), 2).alias("half"),
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w"),
    ).filter(F.length("w") >= 1)
    top = (
        ws.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(50)
        .select("w")
    )
    tot = ws.groupBy("half").agg(F.count("*").cast("double").alias("t"))
    t0 = tot.filter(F.col("half") == 0).select(F.col("t").alias("t0"))
    t1 = tot.filter(F.col("half") == 1).select(F.col("t").alias("t1"))
    counts = (
        ws.join(F.broadcast(top), "w")
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("double")
            .alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("double")
            .alias("c1"),
        )
    )
    prof = (
        F.broadcast(top)
        .join(counts, "w", "left")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            (F.coalesce("c0", F.lit(0.0)) / F.col("t0")).alias("f0"),
            (F.coalesce("c1", F.lit(0.0)) / F.col("t1")).alias("f1"),
        )
    )
    rel = prof.agg(F.corr("f0", "f1").alias("r"))
    return rel.select(
        F.round("r", 4).alias("split_half_corr"),
        F.round(2 * F.col("r") / (1 + F.col("r")), 4).alias(
            "spearman_brown_reliability"
        ),
        F.lit(50).cast("bigint").alias("n_words"),
    )


@register(
    "median_ci_orderstat",
    oracle="""
    WITH vals AS (
      SELECT o_totalprice AS v,
             CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                  AS DOUBLE) AS rn
      FROM orders),
    n AS (SELECT max(rn) AS nn FROM vals),
    ks AS (
      SELECT floor(nn / 2 - 1.96 * sqrt(nn / 4)) AS k_lo,
             ceil(nn / 2 + 1 + 1.96 * sqrt(nn / 4)) AS k_hi, nn
      FROM n),
    med AS (
      SELECT CAST(quantile_cont(v, 0.5) AS DOUBLE) AS m FROM vals)
    SELECT CAST(nn AS BIGINT) AS n_rows,
           round(m, 2) AS median,
           round(max(CASE WHEN rn = k_lo THEN v END), 2) AS ci_lower,
           round(max(CASE WHEN rn = k_hi THEN v END), 2) AS ci_upper
    FROM vals, ks, med GROUP BY nn, m
    """,
    tags=("stats", "percentile", "estimation"),
)
def q_median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free confidence interval for the median via
    order statistics: the values at ranks n/2 ± 1.96√(n/4) bound
    the true median with ~95% confidence by the BINOMIAL argument
    alone — no normality, no variance formula, no bootstrap
    (poisson_bootstrap_ci needed 50 resample passes for the mean;
    the median's CI comes free from ONE ranking because
    P(median < X₍ₖ₎) is exactly a binomial tail). The rank bounds
    are computed IN-PLAN from the broadcast count, then read off
    by rank-equality filter — two order statistics, not a sort
    per bound."""
    o = _t(spark, sf_dir, "orders")
    from ...operators.rank import global_ranked

    vals = global_ranked(
        o.select(F.col("o_totalprice").alias("v"), "o_orderkey"),
        ["v", "o_orderkey"],
        row_number="irn",
    ).select("v", F.col("irn").cast("double").alias("rn"))
    n = vals.agg(F.max("rn").alias("nn"))
    ks = n.select(
        "nn",
        F.floor(F.col("nn") / 2 - 1.96 * F.sqrt(F.col("nn") / 4)).alias("k_lo"),
        F.ceil(F.col("nn") / 2 + 1 + 1.96 * F.sqrt(F.col("nn") / 4)).alias(
            "k_hi"
        ),
    )
    med = o.agg(F.expr("percentile(o_totalprice, 0.5)").alias("m"))
    return (
        vals.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(med))
        .groupBy("nn", "m")
        .agg(
            F.round(
                F.max(F.when(F.col("rn") == F.col("k_lo"), F.col("v"))), 2
            ).alias("ci_lower"),
            F.round(
                F.max(F.when(F.col("rn") == F.col("k_hi"), F.col("v"))), 2
            ).alias("ci_upper"),
        )
        .select(
            F.col("nn").cast("bigint").alias("n_rows"),
            F.round("m", 2).alias("median"),
            "ci_lower",
            "ci_upper",
        )
    )


@register(
    "profit_curve_threshold",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS v, label
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    cent AS (SELECT pos, avg(v) AS cv FROM dims WHERE label = 0 GROUP BY pos),
    dots AS (
      SELECT d.vec_id, any_value(d.label) AS label,
             sum(d.v * c.cv) AS dot, sqrt(sum(d.v * d.v)) AS na
      FROM dims d JOIN cent c ON d.pos = c.pos GROUP BY d.vec_id),
    nc AS (SELECT sqrt(sum(cv * cv)) AS ncn FROM cent),
    scored AS (
      SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
             (1 + dot / (na * ncn)) / 2 AS p
      FROM dots, nc),
    ths AS (SELECT unnest(generate_series(1, 9)) / 10.0 AS th),
    conf AS (
      SELECT th,
             CAST(sum(CASE WHEN p >= th AND y = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tp,
             CAST(sum(CASE WHEN p >= th AND y = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fp
      FROM scored CROSS JOIN ths GROUP BY th),
    profit AS (
      SELECT th, tp, fp, 10 * tp - 2 * fp AS profit,
             row_number() OVER (ORDER BY 10 * tp - 2 * fp DESC, th) AS rk
      FROM conf)
    SELECT round(th, 1) AS threshold,
           CAST(tp AS BIGINT) AS true_positives,
           CAST(fp AS BIGINT) AS false_positives,
           round(profit, 1) AS expected_profit,
           rk = 1 AS is_optimal
    FROM profit ORDER BY threshold
    """,
    tags=("ml", "eval", "decision"),
)
def q_profit_curve_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit-curve threshold selection: the centroid classifier's
    pseudo-probabilities swept over nine thresholds against an
    asymmetric business cost matrix (+10 per true positive, −2 per
    false positive) — the decision-theoretic layer that turns a
    calibrated score (brier_calibration) into an OPERATING POINT,
    which neither AUC (threshold-free) nor accuracy (assumes
    symmetric costs) can supply; the optimal threshold shifts with
    the cost ratio, not the model. All nine confusion counts come
    from ONE conditional aggregate via the threshold cross join —
    the sweep costs no re-scoring."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    cent = dims.filter(F.col("label") == 0).groupBy("pos").agg(
        F.avg("v").alias("cv")
    )
    dots = (
        dims.join(F.broadcast(cent), "pos")
        .groupBy("vec_id")
        .agg(
            F.first("label").alias("label"),
            F.sum(F.col("v") * F.col("cv")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("na"),
        )
    )
    nc = cent.agg(F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("ncn"))
    scored = dots.crossJoin(F.broadcast(nc)).select(
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
        ((1 + F.col("dot") / (F.col("na") * F.col("ncn"))) / 2).alias("p"),
    )
    ths = spark.range(1, 10).select((F.col("id") / 10.0).alias("th"))
    conf = (
        scored.crossJoin(F.broadcast(ths))
        .groupBy("th")
        .agg(
            F.sum(F.when((F.col("p") >= F.col("th")) & (F.col("y") == 1), 1).otherwise(0))
            .cast("double")
            .alias("tp"),
            F.sum(F.when((F.col("p") >= F.col("th")) & (F.col("y") == 0), 1).otherwise(0))
            .cast("double")
            .alias("fp"),
        )
    )
    from ...operators.rank import global_ranked

    profit = global_ranked(
        conf.select(
            "th",
            "tp",
            "fp",
            (10 * F.col("tp") - 2 * F.col("fp")).alias("profit"),
        ),
        [("profit", "desc"), "th"],
        row_number="rk",
    )
    return profit.select(
        F.round("th", 1).alias("threshold"),
        F.col("tp").cast("bigint").alias("true_positives"),
        F.col("fp").cast("bigint").alias("false_positives"),
        F.round("profit", 1).alias("expected_profit"),
        (F.col("rk") == 1).alias("is_optimal"),
    ).orderBy("threshold")


@register(
    "nation_homophily",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT o_custkey AS cust, c_nationkey AS nat, l_partkey AS part
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey),
    deg AS (
      SELECT part FROM inc GROUP BY part
      HAVING count(*) BETWEEN 2 AND 20),
    edges AS (
      SELECT DISTINCT a.cust AS c1, b.cust AS c2, a.nat AS n1, b.nat AS n2
      FROM inc a JOIN deg USING (part)
      JOIN inc b ON b.part = a.part AND a.cust < b.cust),
    obs AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_edges,
             avg(CASE WHEN n1 = n2 THEN 1.0 ELSE 0.0 END) AS same_share
      FROM edges),
    shares AS (
      SELECT sum(pow(c / (SELECT CAST(count(*) AS DOUBLE)
                          FROM (SELECT DISTINCT cust FROM inc)), 2)) AS exp_same
      FROM (SELECT nat, CAST(count(DISTINCT cust) AS DOUBLE) AS c
            FROM inc GROUP BY nat))
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           round(same_share, 4) AS observed_same_nation,
           round(exp_same, 4) AS expected_under_random,
           round(same_share - exp_same, 4) AS homophily_excess
    FROM obs, shares
    """,
    tags=("graph", "stats", "join"),
)
def q_nation_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation homophily in the co-purchase graph: the share of
    customer-customer edges (sharing a rare part, the
    adamic_adar_linkpred hub-cutoff candidate set) connecting
    SAME-nation customers, against the Σ(nᵢ/n)² expectation if
    edges ignored nationality — the modularity numerator for the
    nation partition, and the one-number answer to 'is taste
    local'. Positive excess justifies geo-partitioned candidate
    generation (most similarity edges never cross a region — the
    data-layout insight); the null expectation comes from group
    shares alone, no graph shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    inc = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("c_nationkey").alias("nat"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    deg = (
        inc.groupBy("part")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d").between(2, 20))
        .select("part")
    )
    a = inc.select(F.col("cust").alias("c1"), F.col("nat").alias("n1"), "part")
    b = inc.select(F.col("cust").alias("c2"), F.col("nat").alias("n2"), "part")
    edges = (
        a.join(deg, "part")
        .join(b, "part")
        .filter(F.col("c1") < F.col("c2"))
        .select("c1", "c2", "n1", "n2")
        .distinct()
    )
    obs = edges.agg(
        F.count("*").cast("double").alias("n_edges"),
        F.avg(F.when(F.col("n1") == F.col("n2"), 1.0).otherwise(0.0)).alias(
            "same_share"
        ),
    )
    custn = inc.select("cust", "nat").distinct()
    ntot = custn.agg(F.count("*").cast("double").alias("n"))
    shares = (
        custn.groupBy("nat")
        .agg(F.count("*").cast("double").alias("c"))
        .crossJoin(F.broadcast(ntot))
        .agg(F.sum(F.pow(F.col("c") / F.col("n"), 2)).alias("exp_same"))
    )
    return obs.crossJoin(F.broadcast(shares)).select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.round("same_share", 4).alias("observed_same_nation"),
        F.round("exp_same", 4).alias("expected_under_random"),
        F.round(F.col("same_share") - F.col("exp_same"), 4).alias(
            "homophily_excess"
        ),
    )


@register(
    "reach_frequency_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS f
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_users FROM per_user),
    fs AS (SELECT unnest(generate_series(1, 10)) AS fmin)
    SELECT CAST(fmin AS BIGINT) AS min_frequency,
           CAST(sum(CASE WHEN f >= fmin THEN 1 ELSE 0 END) AS BIGINT)
             AS users_reached,
           round(sum(CASE WHEN f >= fmin THEN 1 ELSE 0 END) / n_users, 4)
             AS reach_share
    FROM per_user CROSS JOIN fs, tot
    GROUP BY fmin, n_users
    """,
    tags=("marketing", "coverage", "histogram"),
)
def q_reach_frequency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reach-at-frequency curve for view exposures: users reached
    at least f times, f = 1..10 — the media-planning primitive
    (reach@1 is raw reach; the f where the curve knees is the
    natural frequency cap, what frequency_cap_window then
    ENFORCES). The decay shape is the exposure distribution's
    survival function: heavy-tailed exposure means reach@5 is a
    tiny core being hammered while reach@1 looks healthy — the
    wasted-impressions diagnosis. One per-user count and a 10-row
    cross join sweep; no re-scan per frequency level."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("f"))
    tot = per_user.agg(F.count("*").cast("double").alias("n_users"))
    fs = spark.range(1, 11).select(F.col("id").cast("int").alias("fmin"))
    return (
        per_user.crossJoin(F.broadcast(fs))
        .crossJoin(F.broadcast(tot))
        .groupBy("fmin", "n_users")
        .agg(
            F.sum(F.when(F.col("f") >= F.col("fmin"), 1).otherwise(0))
            .cast("bigint")
            .alias("users_reached")
        )
        .select(
            F.col("fmin").cast("bigint").alias("min_frequency"),
            "users_reached",
            F.round(F.col("users_reached") / F.col("n_users"), 4).alias(
                "reach_share"
            ),
        )
    )


@register(
    "gaussian_mixture_em2",
    oracle="""
    WITH x AS (SELECT ln(o_totalprice) AS v FROM orders
               WHERE o_totalprice > 0),
    init AS (
      SELECT CAST(quantile_cont(v, 0.25) AS DOUBLE) AS m1,
             CAST(quantile_cont(v, 0.75) AS DOUBLE) AS m2,
             stddev_samp(v) / 2 AS s
      FROM x),
    e1 AS (
      SELECT v,
             exp(-pow(v - m1, 2) / (2 * s * s))
             / (exp(-pow(v - m1, 2) / (2 * s * s))
                + exp(-pow(v - m2, 2) / (2 * s * s))) AS r
      FROM x, init),
    m1step AS (
      SELECT sum(r * v) / sum(r) AS m1,
             sum((1 - r) * v) / sum(1 - r) AS m2,
             avg(r) AS w1
      FROM e1),
    params1 AS (
      SELECT m1step.m1, m1step.m2, m1step.w1,
             sqrt((SELECT sum(r * pow(v - m1step.m1, 2)) FROM e1)
                  / (SELECT sum(r) FROM e1)) AS s1,
             sqrt((SELECT sum((1 - r) * pow(v - m1step.m2, 2)) FROM e1)
                  / (SELECT sum(1 - r) FROM e1)) AS s2
      FROM m1step),
    e2 AS (
      SELECT v,
             (w1 / s1) * exp(-pow(v - m1, 2) / (2 * s1 * s1))
             / ((w1 / s1) * exp(-pow(v - m1, 2) / (2 * s1 * s1))
                + ((1 - w1) / s2) * exp(-pow(v - m2, 2) / (2 * s2 * s2)))
               AS r
      FROM x, params1),
    final AS (
      SELECT sum(r * v) / sum(r) AS m1,
             sum((1 - r) * v) / sum(1 - r) AS m2,
             avg(r) AS w1
      FROM e2)
    SELECT round(m1, 4) AS mu1_log,
           round(m2, 4) AS mu2_log,
           round(w1, 4) AS weight1,
           round(exp(m1), 0) AS mode1_price,
           round(exp(m2), 0) AS mode2_price
    FROM final
    """,
    tags=("ml", "mixture", "iterative"),
)
def q_gaussian_mixture_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian mixture on log order value, fit by
    TWO unrolled EM iterations from quantile-based initialization —
    soft responsibilities are a per-row codegen expression, every
    M-step is a weighted aggregate, so each EM round is exactly one
    scan (the iterative-ML-as-relational-algebra pattern of
    kmeans_clusters with SOFT assignments; two rounds from a decent
    init is how production EM actually converges). The fitted
    component modes, exponentiated back to price space, are the
    data-driven answer to 'is order value bimodal' that
    histogram_bins makes you eyeball."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    x = o.select(F.log("o_totalprice").alias("v"))
    init = x.agg(
        F.expr("percentile(v, 0.25)").alias("m1"),
        F.expr("percentile(v, 0.75)").alias("m2"),
        (F.stddev_samp("v") / 2).alias("s"),
    )
    g1 = F.exp(-F.pow(F.col("v") - F.col("m1"), 2) / (2 * F.col("s") * F.col("s")))
    g2 = F.exp(-F.pow(F.col("v") - F.col("m2"), 2) / (2 * F.col("s") * F.col("s")))
    e1 = x.crossJoin(F.broadcast(init)).select(
        "v", (g1 / (g1 + g2)).alias("r")
    )
    m1step = e1.agg(
        (F.sum(F.col("r") * F.col("v")) / F.sum("r")).alias("m1"),
        (F.sum((1 - F.col("r")) * F.col("v")) / F.sum(1 - F.col("r"))).alias("m2"),
        F.avg("r").alias("w1"),
    )
    sstep = e1.crossJoin(F.broadcast(m1step)).agg(
        F.sqrt(
            F.sum(F.col("r") * F.pow(F.col("v") - F.col("m1"), 2)) / F.sum("r")
        ).alias("s1"),
        F.sqrt(
            F.sum((1 - F.col("r")) * F.pow(F.col("v") - F.col("m2"), 2))
            / F.sum(1 - F.col("r"))
        ).alias("s2"),
        F.first("m1").alias("m1"),
        F.first("m2").alias("m2"),
        F.first("w1").alias("w1"),
    )
    d1 = (F.col("w1") / F.col("s1")) * F.exp(
        -F.pow(F.col("v") - F.col("m1"), 2) / (2 * F.col("s1") * F.col("s1"))
    )
    d2 = ((1 - F.col("w1")) / F.col("s2")) * F.exp(
        -F.pow(F.col("v") - F.col("m2"), 2) / (2 * F.col("s2") * F.col("s2"))
    )
    e2 = x.crossJoin(F.broadcast(sstep)).select(
        "v", (d1 / (d1 + d2)).alias("r")
    )
    final = e2.agg(
        (F.sum(F.col("r") * F.col("v")) / F.sum("r")).alias("m1"),
        (F.sum((1 - F.col("r")) * F.col("v")) / F.sum(1 - F.col("r"))).alias("m2"),
        F.avg("r").alias("w1"),
    )
    return final.select(
        F.round("m1", 4).alias("mu1_log"),
        F.round("m2", 4).alias("mu2_log"),
        F.round("w1", 4).alias("weight1"),
        F.round(F.exp("m1"), 0).alias("mode1_price"),
        F.round(F.exp("m2"), 0).alias("mode2_price"),
    )


@register(
    "regression_leverage",
    oracle="""
    WITH obs AS (
      SELECT o_orderkey, CAST(cnt AS DOUBLE) AS x, o_totalprice AS y
      FROM orders JOIN (SELECT l_orderkey, count(*) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey),
    mom2 AS (
      SELECT avg(x) AS mx, CAST(count(*) AS DOUBLE) AS n,
             var_samp(x) * (count(*) - 1) AS sxx
      FROM obs),
    lev AS (
      SELECT 1 / n + pow(x - mx, 2) / sxx AS h
      FROM obs, mom2)
    SELECT CAST((SELECT n FROM mom2) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN h > 4 / (SELECT n FROM mom2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_leverage,
           round(max(h), 6) AS max_leverage,
           round(avg(h), 6) AS mean_leverage
    FROM lev
    """,
    tags=("regression", "diagnostics", "robust"),
)
def q_regression_leverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leverage (hat-value) diagnostics for the order-value
    regression: hᵢ = 1/n + (xᵢ−x̄)²/Sxx, flagging points past the
    4/n rule of thumb — leverage is where a point COULD drag the
    fit (extreme x), orthogonal to where it DOES (residual), and
    regression summaries (regr_diagnostics) that skip it can be
    dominated by a handful of giant baskets nobody inspected. The
    mean leverage is exactly 2/n for simple regression — a built-in
    algebra check — and the whole diagnostic is one moments
    aggregate broadcast back over the scan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        F.col("cnt").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    mom2 = obs.agg(
        F.avg("x").alias("mx"),
        F.count("*").cast("double").alias("n"),
        (F.var_samp("x") * (F.count("*") - 1)).alias("sxx"),
    )
    h = 1 / F.col("n") + F.pow(F.col("x") - F.col("mx"), 2) / F.col("sxx")
    lev = obs.crossJoin(F.broadcast(mom2)).select(h.alias("h"), "n")
    return lev.groupBy("n").agg(
        F.sum(F.when(F.col("h") > 4 / F.col("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_leverage"),
        F.round(F.max("h"), 6).alias("max_leverage"),
        F.round(F.avg("h"), 6).alias("mean_leverage"),
    ).select(
        F.col("n").cast("bigint").alias("n_obs"),
        "n_high_leverage",
        "max_leverage",
        "mean_leverage",
    )


@register(
    "lee_bounds_attrition",
    oracle="""
    WITH users AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS y
      FROM events GROUP BY user_id),
    rates AS (
      SELECT avg(CASE WHEN arm = 1 AND y IS NOT NULL THEN 1.0
                      WHEN arm = 1 THEN 0.0 END) AS s1,
             avg(CASE WHEN arm = 0 AND y IS NOT NULL THEN 1.0
                      WHEN arm = 0 THEN 0.0 END) AS s0
      FROM users),
    trimq AS (
      SELECT s1, s0,
             (s1 - s0) / s1 AS p
      FROM rates),
    ranked1 AS (
      SELECT y, cume_dist() OVER (ORDER BY y) AS cd
      FROM users WHERE arm = 1 AND y IS NOT NULL),
    cuts AS (
      SELECT p,
             min(CASE WHEN cd >= p THEN y END) AS q_lo,
             min(CASE WHEN cd >= 1 - p THEN y END) AS q_hi
      FROM ranked1, trimq GROUP BY p),
    bounds AS (
      SELECT avg(CASE WHEN arm = 0 THEN y END) AS mu0,
             avg(CASE WHEN arm = 1 AND y >= q_lo THEN y END) AS mu1_up,
             avg(CASE WHEN arm = 1 AND y <= q_hi THEN y END) AS mu1_lo,
             any_value(p) AS p
      FROM users, cuts WHERE y IS NOT NULL GROUP BY p)
    SELECT round(p, 4) AS trim_fraction,
           round(mu1_lo - mu0, 4) AS effect_lower_bound,
           round(mu1_up - mu0, 4) AS effect_upper_bound,
           (mu1_lo - mu0) <= 0 AND (mu1_up - mu0) >= 0
             AS bounds_contain_zero
    FROM bounds
    """,
    tags=("causal", "experimentation", "robust"),
)
def q_lee_bounds_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee (2009) bounds under differential attrition: purchase
    value is only OBSERVED for converters, and if the arms convert
    at different rates the naive conditional-on-converted
    comparison is selection-biased beyond repair — Lee's fix trims
    the excess-conversion arm's outcome distribution from the top
    (lower bound) and bottom (upper bound) by the attrition-rate
    gap, bracketing the true effect without any selection model.
    The trim fraction and quantile cuts are data-derived scalars
    broadcast back over one scan; bounds containing zero is the
    honest 'we cannot sign the effect' verdict a point estimate
    would hide."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.avg(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("y")
    ).select(CUR.hash_bucket(F.col("user_id"), 2).alias("arm"), "y")
    rates = users.agg(
        F.avg(
            F.when((F.col("arm") == 1) & F.col("y").isNotNull(), 1.0).when(
                F.col("arm") == 1, 0.0
            )
        ).alias("s1"),
        F.avg(
            F.when((F.col("arm") == 0) & F.col("y").isNotNull(), 1.0).when(
                F.col("arm") == 0, 0.0
            )
        ).alias("s0"),
    )
    trimq = rates.select(((F.col("s1") - F.col("s0")) / F.col("s1")).alias("p"))
    from ...operators.rank import global_ranked

    observed = users.filter(F.col("y").isNotNull())
    ranked1 = global_ranked(
        observed.filter(F.col("arm") == 1).select("y"), ["y"], cume_dist="cd"
    )
    cuts = ranked1.crossJoin(F.broadcast(trimq)).groupBy("p").agg(
        F.min(F.when(F.col("cd") >= F.col("p"), F.col("y"))).alias("q_lo"),
        F.min(F.when(F.col("cd") >= 1 - F.col("p"), F.col("y"))).alias("q_hi"),
    )
    bounds = observed.crossJoin(F.broadcast(cuts)).groupBy("p").agg(
        F.avg(F.when(F.col("arm") == 0, F.col("y"))).alias("mu0"),
        F.avg(
            F.when((F.col("arm") == 1) & (F.col("y") >= F.col("q_lo")), F.col("y"))
        ).alias("mu1_up"),
        F.avg(
            F.when((F.col("arm") == 1) & (F.col("y") <= F.col("q_hi")), F.col("y"))
        ).alias("mu1_lo"),
    )
    lo = F.col("mu1_lo") - F.col("mu0")
    up = F.col("mu1_up") - F.col("mu0")
    return bounds.select(
        F.round("p", 4).alias("trim_fraction"),
        F.round(lo, 4).alias("effect_lower_bound"),
        F.round(up, 4).alias("effect_upper_bound"),
        ((lo <= 0) & (up >= 0)).alias("bounds_contain_zero"),
    )


@register(
    "egger_funnel_asymmetry",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS site,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    per_site AS (
      SELECT site,
             avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff,
             sqrt(var_samp(CASE WHEN g = 1 THEN y END)
                  / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                + var_samp(CASE WHEN g = 0 THEN y END)
                  / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)) AS se
      FROM obs GROUP BY site
      HAVING sum(g) >= 30 AND sum(1 - g) >= 30),
    egger AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sites,
             regr_intercept(eff / se, 1 / se) AS intercept,
             regr_slope(eff / se, 1 / se) AS slope,
             regr_r2(eff / se, 1 / se) AS r2
      FROM per_site)
    SELECT n_sites,
           round(intercept, 4) AS egger_intercept,
           round(slope, 4) AS precision_slope,
           abs(intercept) > 1 AS asymmetry_flag
    FROM egger
    """,
    tags=("stats", "experimentation", "audit"),
)
def q_egger_funnel_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Egger's funnel-plot asymmetry test over the per-nation
    weekend effects: regress the standardized effect z = eff/se on
    precision 1/se — under no small-site bias the intercept is
    zero (precision predicts z through the origin); a material
    intercept means small sites systematically report LARGER
    effects, meta-analysis's publication-bias detector, here
    repurposed as a multi-site experiment-health check (small-
    market teams cherry-picking launch windows produce exactly
    this signature). Reuses the per-site effect relation of
    meta_analysis_pooled; the test is one more regr_* aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("site"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    per_site = (
        obs.groupBy("site")
        .agg(
            (
                F.avg(F.when(F.col("g") == 1, F.col("y")))
                - F.avg(F.when(F.col("g") == 0, F.col("y")))
            ).alias("eff"),
            F.sqrt(
                F.var_samp(F.when(F.col("g") == 1, F.col("y")))
                / F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                + F.var_samp(F.when(F.col("g") == 0, F.col("y")))
                / F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            ).alias("se"),
            F.sum("g").alias("n1"),
            F.sum(1 - F.col("g")).alias("n0"),
        )
        .filter((F.col("n1") >= 30) & (F.col("n0") >= 30))
    )
    egger = per_site.agg(
        F.count("*").cast("bigint").alias("n_sites"),
        F.expr("regr_intercept(eff / se, 1 / se)").alias("intercept"),
        F.expr("regr_slope(eff / se, 1 / se)").alias("slope"),
    )
    return egger.select(
        "n_sites",
        F.round("intercept", 4).alias("egger_intercept"),
        F.round("slope", 4).alias("precision_slope"),
        (F.abs(F.col("intercept")) > 1).alias("asymmetry_flag"),
    )


@register(
    "fill_rate_vs_csl",
    oracle="""
    WITH demand AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1),
    stock AS (
      SELECT CAST(quantile_cont(q, 0.9) AS DOUBLE) AS s FROM demand),
    metrics AS (
      SELECT s,
             avg(CASE WHEN q <= s THEN 1.0 ELSE 0.0 END) AS csl,
             1 - sum(greatest(q - s, 0)) / sum(q) AS fill_rate,
             CAST(count(*) AS BIGINT) AS n_days
      FROM demand, stock GROUP BY s)
    SELECT n_days, round(s, 1) AS stock_level,
           round(csl, 4) AS cycle_service_level,
           round(fill_rate, 4) AS fill_rate,
           round(fill_rate - csl, 4) AS gap
    FROM metrics
    """,
    tags=("inventory", "percentile", "agg"),
)
def q_fill_rate_vs_csl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cycle service level vs fill rate at a P90 stock level — the
    two 'service levels' procurement contracts routinely confuse:
    CSL is the share of DAYS with no stockout (here 90% by
    construction — the sanity anchor), fill rate is the share of
    UNITS served, always higher because stockout days still fill
    most demand; quoting one while measuring the other misprices
    safety stock (newsvendor_quantile optimizes CSL; contracts
    usually bind fill rate). Expected shortfall Σ(D−S)⁺ is one
    conditional sum over the daily-demand relation."""
    li = _t(spark, sf_dir, "lineitem")
    demand = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum("l_quantity").cast("double").alias("q")
    )
    stock = demand.agg(F.expr("percentile(q, 0.9)").alias("s"))
    metrics = demand.crossJoin(F.broadcast(stock)).groupBy("s").agg(
        F.avg(F.when(F.col("q") <= F.col("s"), 1.0).otherwise(0.0)).alias("csl"),
        (
            1
            - F.sum(F.greatest(F.col("q") - F.col("s"), F.lit(0.0))) / F.sum("q")
        ).alias("fill_rate"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return metrics.select(
        "n_days",
        F.round("s", 1).alias("stock_level"),
        F.round("csl", 4).alias("cycle_service_level"),
        F.round("fill_rate", 4).alias("fill_rate"),
        F.round(F.col("fill_rate") - F.col("csl"), 4).alias("gap"),
    )


@register(
    "logistic_newton2",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(ln(1 + count(*)) AS DOUBLE) AS x,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    step1 AS (
      SELECT sum(y - 0.5) AS g0, sum((y - 0.5) * x) AS g1,
             sum(0.25) AS h00, sum(0.25 * x) AS h01,
             sum(0.25 * x * x) AS h11
      FROM users),
    beta1 AS (
      SELECT (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01) AS b0,
             (g1 * h00 - g0 * h01) / (h00 * h11 - h01 * h01) AS b1
      FROM step1),
    step2 AS (
      SELECT b0, b1,
             sum(y - 1 / (1 + exp(-(b0 + b1 * x)))) AS g0,
             sum((y - 1 / (1 + exp(-(b0 + b1 * x)))) * x) AS g1,
             sum(1 / (1 + exp(-(b0 + b1 * x)))
                 * (1 - 1 / (1 + exp(-(b0 + b1 * x))))) AS h00,
             sum(1 / (1 + exp(-(b0 + b1 * x)))
                 * (1 - 1 / (1 + exp(-(b0 + b1 * x)))) * x) AS h01,
             sum(1 / (1 + exp(-(b0 + b1 * x)))
                 * (1 - 1 / (1 + exp(-(b0 + b1 * x)))) * x * x) AS h11
      FROM users, beta1 GROUP BY b0, b1),
    beta2 AS (
      SELECT b0 + (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01) AS b0,
             b1 + (g1 * h00 - g0 * h01) / (h00 * h11 - h01 * h01) AS b1
      FROM step2)
    SELECT round(b0, 4) AS intercept,
           round(b1, 4) AS coef_log_events,
           round(exp(b1), 4) AS odds_ratio_per_log_event
    FROM beta2
    """,
    tags=("ml", "regression", "iterative"),
)
def q_logistic_newton2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of purchase propensity on log event
    count, fit by TWO unrolled Newton-Raphson steps from β=0: each
    step's gradient and 2×2 Hessian are plain aggregates (at β=0
    the Hessian is exactly n/4-scaled moments — the classic warm
    start), and the Newton solve is Cramer's rule on the one-row
    moment relation. This completes the in-engine ML-training
    family — OLS/ridge closed-form, k-means and EM unrolled, power
    iteration for PCA, now the GLM — every 'step' is one scan, and
    the odds ratio per log-event is the business-readable
    coefficient."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.log(1 + F.count("*")).cast("double").alias("x"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    )
    step1 = users.agg(
        F.sum(F.col("y") - 0.5).alias("g0"),
        F.sum((F.col("y") - 0.5) * F.col("x")).alias("g1"),
        F.sum(F.lit(0.25)).alias("h00"),
        F.sum(0.25 * F.col("x")).alias("h01"),
        F.sum(0.25 * F.col("x") * F.col("x")).alias("h11"),
    )
    det1 = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
    beta1 = step1.select(
        ((F.col("g0") * F.col("h11") - F.col("g1") * F.col("h01")) / det1).alias(
            "b0"
        ),
        ((F.col("g1") * F.col("h00") - F.col("g0") * F.col("h01")) / det1).alias(
            "b1"
        ),
    )
    p = 1 / (1 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
    step2 = users.crossJoin(F.broadcast(beta1)).groupBy("b0", "b1").agg(
        F.sum(F.col("y") - p).alias("g0"),
        F.sum((F.col("y") - p) * F.col("x")).alias("g1"),
        F.sum(p * (1 - p)).alias("h00"),
        F.sum(p * (1 - p) * F.col("x")).alias("h01"),
        F.sum(p * (1 - p) * F.col("x") * F.col("x")).alias("h11"),
    )
    det2 = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
    beta2 = step2.select(
        (
            F.col("b0")
            + (F.col("g0") * F.col("h11") - F.col("g1") * F.col("h01")) / det2
        ).alias("b0"),
        (
            F.col("b1")
            + (F.col("g1") * F.col("h00") - F.col("g0") * F.col("h01")) / det2
        ).alias("b1"),
    )
    return beta2.select(
        F.round("b0", 4).alias("intercept"),
        F.round("b1", 4).alias("coef_log_events"),
        F.round(F.exp("b1"), 4).alias("odds_ratio_per_log_event"),
    )


@register(
    "james_stein_shrinkage",
    oracle="""
    WITH site AS (
      SELECT c_nationkey, avg(o_totalprice) AS m,
             var_samp(o_totalprice) / count(*) AS v,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    grand AS (
      SELECT avg(m) AS gm, CAST(count(*) AS DOUBLE) AS k,
             avg(v) AS vbar
      FROM site),
    ssq AS (
      SELECT gm, k, vbar, sum(pow(m - gm, 2)) AS s
      FROM site, grand GROUP BY gm, k, vbar),
    shrink AS (
      SELECT gm, greatest(1 - (k - 3) * vbar / s, 0) AS c
      FROM ssq)
    SELECT CAST((SELECT k FROM ssq) AS BIGINT) AS n_sites,
           round(c, 4) AS shrink_factor,
           round(gm, 2) AS grand_mean,
           round(max(abs(m - gm)) * (1 - c), 2) AS max_adjustment
    FROM site, shrink GROUP BY c, gm
    """,
    tags=("stats", "smoothing", "estimation"),
)
def q_james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """James-Stein shrinkage of the 25 nation mean order values
    toward the grand mean: factor c = 1 − (k−3)σ̄²/Σ(x̄ᵢ−ḡ)² — the
    Stein-paradox estimator that provably beats the raw per-nation
    means in total squared error whenever k ≥ 4, NO MATTER the
    true means (the 1961 result that founded empirical Bayes;
    bayes_smoothed_rate is its binomial-rate descendant). The
    shrink factor reads how much of the apparent between-nation
    spread is sampling noise; max_adjustment is the largest
    correction any dashboard number takes. One grouped moment
    pass, two 1-row reductions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    site = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.avg("o_totalprice").alias("m"),
            (F.var_samp("o_totalprice") / F.count("*")).alias("v"),
        )
    )
    grand = site.agg(
        F.avg("m").alias("gm"),
        F.count("*").cast("double").alias("k"),
        F.avg("v").alias("vbar"),
    )
    ssq = site.crossJoin(F.broadcast(grand)).groupBy("gm", "k", "vbar").agg(
        F.sum(F.pow(F.col("m") - F.col("gm"), 2)).alias("s")
    )
    shrink = ssq.select(
        "gm",
        "k",
        F.greatest(
            1 - (F.col("k") - 3) * F.col("vbar") / F.col("s"), F.lit(0.0)
        ).alias("c"),
    )
    return site.crossJoin(F.broadcast(shrink)).groupBy("c", "gm", "k").agg(
        F.round(F.max(F.abs(F.col("m") - F.col("gm"))) * (1 - F.col("c")), 2).alias(
            "max_adjustment"
        )
    ).select(
        F.col("k").cast("bigint").alias("n_sites"),
        F.round("c", 4).alias("shrink_factor"),
        F.round("gm", 2).alias("grand_mean"),
        "max_adjustment",
    )


@register(
    "von_neumann_ratio",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    diffs AS (
      SELECT v, v - lag(v) OVER (ORDER BY d) AS dv
      FROM daily),
    stats AS (
      SELECT var_samp(v) AS s2,
             avg(dv * dv) AS mssd,
             CAST(count(dv) AS DOUBLE) AS n
      FROM diffs)
    SELECT CAST(n AS BIGINT) AS n_diffs,
           round(mssd / s2, 4) AS von_neumann_ratio,
           round((mssd / s2 - 2) / (2 * sqrt(1 / n)), 3) AS z_vs_iid,
           CASE WHEN mssd / s2 < 1.8 THEN 'positively_autocorrelated'
                WHEN mssd / s2 > 2.2 THEN 'negatively_autocorrelated'
                ELSE 'consistent_with_iid' END AS verdict
    FROM stats
    """,
    tags=("timeseries", "stats", "diagnostics"),
)
def q_von_neumann_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann's ratio on daily revenue: mean-squared-
    successive-difference over the variance — exactly 2 for an
    i.i.d. series, below 2 under positive autocorrelation (smooth
    drifting series), above 2 under negative (oscillation) — the
    Durbin-Watson statistic's time-series original, and the
    two-line screen run before trusting ANY i.i.d.-based formula
    downstream (newey_west_se quantifies the damage; this detects
    it). One lag window, one moment aggregate; the z-score against
    the asymptotic √(4/n) null spread calibrates the verdict."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    diffs = daily.select(
        "v", (F.col("v") - F.lag("v").over(w)).alias("dv")
    )
    stats = diffs.agg(
        F.var_samp("v").alias("s2"),
        F.avg(F.col("dv") * F.col("dv")).alias("mssd"),
        F.count("dv").cast("double").alias("n"),
    )
    ratio = F.col("mssd") / F.col("s2")
    return stats.select(
        F.col("n").cast("bigint").alias("n_diffs"),
        F.round(ratio, 4).alias("von_neumann_ratio"),
        F.round((ratio - 2) / (2 * F.sqrt(1 / F.col("n"))), 3).alias("z_vs_iid"),
        F.when(ratio < 1.8, "positively_autocorrelated")
        .when(ratio > 2.2, "negatively_autocorrelated")
        .otherwise("consistent_with_iid")
        .alias("verdict"),
    )


@register(
    "forecast_combination",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS i
      FROM orders GROUP BY 1),
    n AS (SELECT max(i) AS nn FROM daily),
    fc AS (
      SELECT d, y, i,
             lag(y, 1) OVER (ORDER BY d) AS f1,
             lag(y, 7) OVER (ORDER BY d) AS f2
      FROM daily),
    train AS (
      SELECT avg(pow(y - f1, 2)) AS mse1, avg(pow(y - f2, 2)) AS mse2
      FROM fc, n WHERE f2 IS NOT NULL AND i <= nn / 2),
    weights AS (
      SELECT (1 / mse1) / (1 / mse1 + 1 / mse2) AS w1 FROM train),
    test AS (
      SELECT avg(pow(y - f1, 2)) AS t1,
             avg(pow(y - f2, 2)) AS t2,
             avg(pow(y - (w1 * f1 + (1 - w1) * f2), 2)) AS tw,
             avg(pow(y - (0.5 * f1 + 0.5 * f2), 2)) AS teq
      FROM fc, n, weights WHERE f2 IS NOT NULL AND i > nn / 2)
    SELECT round((SELECT w1 FROM weights), 4) AS inverse_mse_weight,
           round(sqrt(t1), 1) AS rmse_naive,
           round(sqrt(t2), 1) AS rmse_seasonal,
           round(sqrt(tw), 1) AS rmse_weighted_combo,
           round(sqrt(teq), 1) AS rmse_equal_combo,
           teq <= least(t1, t2) AS equal_weights_beat_both
    FROM test
    """,
    tags=("forecast", "eval", "window"),
)
def q_forecast_combination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-combination puzzle, replicated: naive (lag-1)
    and seasonal (lag-7) forecasts combined with inverse-MSE
    weights learned on the FIRST half, all four variants scored on
    the second — equal weights beating the cleverly-weighted combo
    (and often both components) is one of forecasting's most
    robust empirical findings (Clemen), because weight estimation
    noise eats the optimization gain. Temporal split, never
    random; both forecasts and both combos come from the same
    two-lag window pass."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("y")
    )
    w = Window.orderBy("d")
    fc = daily.select(
        "y",
        F.row_number().over(w).alias("i"),
        F.lag("y", 1).over(w).alias("f1"),
        F.lag("y", 7).over(w).alias("f2"),
    ).filter(F.col("f2").isNotNull())
    n = daily.agg(F.count("*").alias("nn"))
    fcn = fc.crossJoin(F.broadcast(n))
    train = fcn.filter(F.col("i") <= F.col("nn") / 2).agg(
        F.avg(F.pow(F.col("y") - F.col("f1"), 2)).alias("mse1"),
        F.avg(F.pow(F.col("y") - F.col("f2"), 2)).alias("mse2"),
    )
    weights = train.select(
        ((1 / F.col("mse1")) / (1 / F.col("mse1") + 1 / F.col("mse2"))).alias("w1")
    )
    test = fcn.crossJoin(F.broadcast(weights)).filter(
        F.col("i") > F.col("nn") / 2
    ).agg(
        F.avg(F.pow(F.col("y") - F.col("f1"), 2)).alias("t1"),
        F.avg(F.pow(F.col("y") - F.col("f2"), 2)).alias("t2"),
        F.avg(
            F.pow(
                F.col("y")
                - (F.col("w1") * F.col("f1") + (1 - F.col("w1")) * F.col("f2")),
                2,
            )
        ).alias("tw"),
        F.avg(F.pow(F.col("y") - (0.5 * F.col("f1") + 0.5 * F.col("f2")), 2)).alias(
            "teq"
        ),
        F.first("w1").alias("w1"),
    )
    return test.select(
        F.round("w1", 4).alias("inverse_mse_weight"),
        F.round(F.sqrt("t1"), 1).alias("rmse_naive"),
        F.round(F.sqrt("t2"), 1).alias("rmse_seasonal"),
        F.round(F.sqrt("tw"), 1).alias("rmse_weighted_combo"),
        F.round(F.sqrt("teq"), 1).alias("rmse_equal_combo"),
        (F.col("teq") <= F.least("t1", "t2")).alias("equal_weights_beat_both"),
    )


@register(
    "extremal_index_runs",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    thr AS (SELECT CAST(quantile_cont(v, 0.95) AS DOUBLE) AS u FROM daily),
    exc AS (
      SELECT d, lag(d) OVER (ORDER BY d) AS prev_d
      FROM daily, thr WHERE v > u),
    clusters AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_exc,
             CAST(sum(CASE WHEN prev_d IS NULL
                           OR date_diff('day', prev_d, d) > 3
                      THEN 1 ELSE 0 END) AS DOUBLE) AS n_clusters
      FROM exc)
    SELECT CAST(n_exc AS BIGINT) AS n_exceedances,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           round(n_clusters / n_exc, 4) AS extremal_index,
           round(n_exc / n_clusters, 2) AS mean_cluster_size
    FROM clusters
    """,
    tags=("extremes", "timeseries", "islands"),
)
def q_extremal_index_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremal index by runs declustering: P95 exceedance days
    grouped into clusters separated by >3 quiet days, θ̂ =
    clusters/exceedances — θ=1 means extremes arrive independently
    (block_maxima_gumbel's implicit assumption holds as-is), θ<1
    means they CLUSTER, so effective extreme-event counts shrink by
    θ and return levels computed from raw exceedance counts are
    optimistic (the storm-spell correction every tail model needs
    before hill_tail_index's numbers are used for capacity). The
    declustering is the lag-gap islands device on the exceedance
    relation only."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    thr = daily.agg(F.expr("percentile(v, 0.95)").alias("u"))
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .filter(F.col("v") > F.col("u"))
        .select("d", F.lag("d").over(Window.orderBy("d")).alias("prev_d"))
    )
    clusters = exc.agg(
        F.count("*").cast("double").alias("n_exc"),
        F.sum(
            F.when(
                F.col("prev_d").isNull()
                | (F.datediff(F.col("d"), F.col("prev_d")) > 3),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("n_clusters"),
    )
    return clusters.select(
        F.col("n_exc").cast("bigint").alias("n_exceedances"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.round(F.col("n_clusters") / F.col("n_exc"), 4).alias("extremal_index"),
        F.round(F.col("n_exc") / F.col("n_clusters"), 2).alias(
            "mean_cluster_size"
        ),
    )


@register(
    "loess_local_fits",
    oracle="""
    WITH obs AS (
      SELECT CAST(cnt AS DOUBLE) AS x, o_totalprice AS y
      FROM orders JOIN (SELECT l_orderkey, count(*) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey),
    pts AS (SELECT unnest([2.0, 4.0, 6.0, 8.0, 10.0]) AS x0),
    wtd AS (
      SELECT x0, x, y,
             pow(1 - pow(least(abs(x - x0) / 3.0, 1.0), 3), 3) AS w
      FROM obs CROSS JOIN pts WHERE abs(x - x0) < 3.0),
    fits AS (
      SELECT x0,
             (sum(w * y) * sum(w * x * x) - sum(w * x) * sum(w * x * y))
             / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) AS a,
             (sum(w) * sum(w * x * y) - sum(w * x) * sum(w * y))
             / (sum(w) * sum(w * x * x) - sum(w * x) * sum(w * x)) AS b,
             CAST(count(*) AS BIGINT) AS n_local
      FROM wtd GROUP BY x0)
    SELECT CAST(x0 AS BIGINT) AS eval_at_items,
           n_local,
           round(a + b * x0, 2) AS loess_fit,
           round(b, 2) AS local_slope
    FROM fits ORDER BY x0
    """,
    tags=("regression", "smoothing", "stats"),
)
def q_loess_local_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOESS-style local linear fits of order value on basket size
    at five evaluation points: tricube-weighted least squares
    within a ±3-item bandwidth, each fit a closed-form weighted-
    moment aggregate — the nonparametric smoother that reveals the
    CURVATURE a single global slope (fixed_effects_within's β)
    averages away, with the local slopes showing directly where
    the marginal item stops adding value. All five local
    regressions share one scan via the evaluation-point cross
    join; bandwidth membership is a sargable filter."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        F.col("cnt").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    pts = local_df(spark, [(2.0,), (4.0,), (6.0,), (8.0,), (10.0,)], "x0 double")
    wexpr = F.pow(
        1 - F.pow(F.least(F.abs(F.col("x") - F.col("x0")) / 3.0, F.lit(1.0)), 3), 3
    )
    wtd = (
        obs.crossJoin(F.broadcast(pts))
        .filter(F.abs(F.col("x") - F.col("x0")) < 3.0)
        .select("x0", "x", "y", wexpr.alias("w"))
    )
    sw = F.sum("w")
    swx = F.sum(F.col("w") * F.col("x"))
    swy = F.sum(F.col("w") * F.col("y"))
    swxx = F.sum(F.col("w") * F.col("x") * F.col("x"))
    swxy = F.sum(F.col("w") * F.col("x") * F.col("y"))
    fits = wtd.groupBy("x0").agg(
        ((swy * swxx - swx * swxy) / (sw * swxx - swx * swx)).alias("a"),
        ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)).alias("b"),
        F.count("*").cast("bigint").alias("n_local"),
    )
    return fits.select(
        F.col("x0").cast("bigint").alias("eval_at_items"),
        "n_local",
        F.round(F.col("a") + F.col("b") * F.col("x0"), 2).alias("loess_fit"),
        F.round("b", 2).alias("local_slope"),
    ).orderBy("eval_at_items")


@register(
    "ratio_estimator_survey",
    oracle="""
    WITH units AS (
      SELECT l_partkey,
             CAST(sum(l_quantity) AS DOUBLE) AS x,
             sum(l_extendedprice) AS y
      FROM lineitem GROUP BY 1),
    tot AS (
      SELECT sum(x) AS tx, sum(y) AS ty,
             CAST(count(*) AS DOUBLE) AS n
      FROM units),
    sampled AS (
      SELECT x, y FROM units
      WHERE ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::UBIGINT
            % 100 < 10),
    est AS (
      SELECT CAST(count(*) AS DOUBLE) AS ns,
             avg(y) AS ybar, sum(y) / sum(x) AS rhat
      FROM sampled)
    SELECT CAST(ns AS BIGINT) AS n_sampled,
           round(ty, 0) AS true_total,
           round(n * ybar, 0) AS mean_per_unit_estimate,
           round(rhat * tx, 0) AS ratio_estimate,
           round(abs(n * ybar - ty) / ty, 4) AS mpu_rel_error,
           round(abs(rhat * tx - ty) / ty, 4) AS ratio_rel_error
    FROM est, tot
    """,
    tags=("survey", "sampling", "estimation"),
)
def q_ratio_estimator_survey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey ratio estimation: a 10% hash sample of parts
    estimates total revenue two ways — mean-per-unit N·ȳ (uses
    only the sample) vs the ratio estimator (ŷ/x̂)·X using the
    KNOWN total quantity as auxiliary information — the
    sampling-theory workhorse whose variance shrinks by the y-x
    correlation² (here revenue tracks quantity closely, so the
    ratio estimate lands far nearer the truth; the two relative-
    error columns are the measured proof). This is why census
    frames carry auxiliary totals; deterministic sample via the
    md5 device, one scan each side."""
    li = _t(spark, sf_dir, "lineitem")
    units = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("double").alias("x"),
        F.sum("l_extendedprice").alias("y"),
    )
    tot = units.agg(
        F.sum("x").alias("tx"),
        F.sum("y").alias("ty"),
        F.count("*").cast("double").alias("n"),
    )
    sampled = units.filter(CUR.hash_bucket(F.col("l_partkey"), 100) < 10)
    est = sampled.agg(
        F.count("*").cast("double").alias("ns"),
        F.avg("y").alias("ybar"),
        (F.sum("y") / F.sum("x")).alias("rhat"),
    )
    return est.crossJoin(F.broadcast(tot)).select(
        F.col("ns").cast("bigint").alias("n_sampled"),
        F.round("ty", 0).alias("true_total"),
        F.round(F.col("n") * F.col("ybar"), 0).alias("mean_per_unit_estimate"),
        F.round(F.col("rhat") * F.col("tx"), 0).alias("ratio_estimate"),
        F.round(
            F.abs(F.col("n") * F.col("ybar") - F.col("ty")) / F.col("ty"), 4
        ).alias("mpu_rel_error"),
        F.round(
            F.abs(F.col("rhat") * F.col("tx") - F.col("ty")) / F.col("ty"), 4
        ).alias("ratio_rel_error"),
    )


@register(
    "biweight_midvariance",
    oracle="""
    WITH x AS (SELECT o_totalprice AS v FROM orders),
    med AS (SELECT CAST(quantile_cont(v, 0.5) AS DOUBLE) AS m FROM x),
    absdev AS (
      SELECT CAST(quantile_cont(abs(v - m), 0.5) AS DOUBLE) AS mad
      FROM x, med),
    u AS (
      SELECT v, m, (v - m) / (9 * mad) AS uu
      FROM x, med, absdev),
    bw AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CASE WHEN abs(uu) < 1
                      THEN pow(v - m, 2) * pow(1 - uu * uu, 4) END) AS num,
             sum(CASE WHEN abs(uu) < 1
                      THEN (1 - uu * uu) * (1 - 5 * uu * uu) END) AS den
      FROM u),
    cls AS (SELECT stddev_samp(v) AS sd FROM x)
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(sqrt(n * num / (den * den)), 2) AS biweight_scale,
           round(sd, 2) AS classical_sd,
           round(sqrt(n * num / (den * den)) / sd, 4) AS scale_ratio
    FROM bw, cls
    """,
    tags=("robust", "stats", "agg"),
)
def q_biweight_midvariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's biweight midvariance — the robust scale estimator
    that smoothly downweights by (1−u²)⁴ inside the 9-MAD fence and
    ignores beyond it, reaching ~87% Gaussian efficiency where the
    plain MAD sits at 37% (mad_outliers trades efficiency for its
    simplicity; the biweight is what astronomy and robust-stats
    libraries actually ship as their scale default). Two exact
    medians then one weighted pass; the scale_ratio against the
    classical SD reads directly how much of the variance is
    outlier-carried."""
    o = _t(spark, sf_dir, "orders")
    x = o.select(F.col("o_totalprice").alias("v"))
    med = x.agg(F.expr("percentile(v, 0.5)").alias("m"))
    absdev = x.crossJoin(F.broadcast(med)).agg(
        F.expr("percentile(abs(v - m), 0.5)").alias("mad")
    )
    u = x.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(absdev)).select(
        "v", "m", ((F.col("v") - F.col("m")) / (9 * F.col("mad"))).alias("uu")
    )
    inside = F.abs(F.col("uu")) < 1
    bw = u.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(
            F.when(
                inside,
                F.pow(F.col("v") - F.col("m"), 2)
                * F.pow(1 - F.col("uu") * F.col("uu"), 4),
            )
        ).alias("num"),
        F.sum(
            F.when(
                inside,
                (1 - F.col("uu") * F.col("uu"))
                * (1 - 5 * F.col("uu") * F.col("uu")),
            )
        ).alias("den"),
    )
    cls = x.agg(F.stddev_samp("v").alias("sd"))
    scale = F.sqrt(F.col("n") * F.col("num") / (F.col("den") * F.col("den")))
    return bw.crossJoin(F.broadcast(cls)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(scale, 2).alias("biweight_scale"),
        F.round("sd", 2).alias("classical_sd"),
        F.round(scale / F.col("sd"), 4).alias("scale_ratio"),
    )


@register(
    "winners_curse_exaggeration",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS site,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    per_site AS (
      SELECT site,
             avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff,
             var_samp(CASE WHEN g = 1 THEN y END)
               / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             + var_samp(CASE WHEN g = 0 THEN y END)
               / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS v
      FROM obs GROUP BY site
      HAVING sum(g) >= 30 AND sum(1 - g) >= 30),
    shrink2 AS (
      SELECT avg(eff) AS gm, CAST(count(*) AS DOUBLE) AS k, avg(v) AS vbar
      FROM per_site),
    ssq AS (
      SELECT gm, k, vbar, sum(pow(eff - gm, 2)) AS s
      FROM per_site, shrink2 GROUP BY gm, k, vbar),
    cfac AS (
      SELECT gm, greatest(1 - (k - 3) * vbar / s, 0) AS c FROM ssq),
    sig AS (
      SELECT eff, gm, c,
             gm + c * (eff - gm) AS shrunk
      FROM per_site, cfac WHERE abs(eff) / sqrt(v) > 1.96)
    SELECT CAST(count(*) AS BIGINT) AS n_significant_sites,
           round(avg(abs(eff)), 2) AS mean_reported_effect,
           round(avg(abs(shrunk)), 2) AS mean_shrunk_effect,
           round(avg(abs(eff)) / nullif(avg(abs(shrunk)), 0), 3)
             AS exaggeration_ratio
    FROM sig
    """,
    tags=("experimentation", "stats", "audit"),
)
def q_winners_curse_exaggeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winner's curse, quantified: among nation-sites whose
    weekend effect clears |z| > 1.96, the reported effect size vs
    its James-Stein-shrunk value — selecting on significance
    selects on LUCKY NOISE, so the average significant result
    overstates its true effect by exactly the exaggeration ratio
    (Gelman's Type-M error; the reason replicated lifts
    disappoint). Combines the per-site relation of
    meta_analysis_pooled with james_stein_shrinkage's factor —
    the shrunken number is the honest launch forecast; everything
    reduces over the 25-site relation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("site"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    per_site = (
        obs.groupBy("site")
        .agg(
            (
                F.avg(F.when(F.col("g") == 1, F.col("y")))
                - F.avg(F.when(F.col("g") == 0, F.col("y")))
            ).alias("eff"),
            (
                F.var_samp(F.when(F.col("g") == 1, F.col("y")))
                / F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                + F.var_samp(F.when(F.col("g") == 0, F.col("y")))
                / F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            ).alias("v"),
            F.sum("g").alias("n1"),
            F.sum(1 - F.col("g")).alias("n0"),
        )
        .filter((F.col("n1") >= 30) & (F.col("n0") >= 30))
    )
    shrink2 = per_site.agg(
        F.avg("eff").alias("gm"),
        F.count("*").cast("double").alias("k"),
        F.avg("v").alias("vbar"),
    )
    ssq = per_site.crossJoin(F.broadcast(shrink2)).groupBy(
        "gm", "k", "vbar"
    ).agg(F.sum(F.pow(F.col("eff") - F.col("gm"), 2)).alias("s"))
    cfac = ssq.select(
        "gm",
        F.greatest(
            1 - (F.col("k") - 3) * F.col("vbar") / F.col("s"), F.lit(0.0)
        ).alias("c"),
    )
    sig = (
        per_site.crossJoin(F.broadcast(cfac))
        .filter(F.abs(F.col("eff")) / F.sqrt(F.col("v")) > 1.96)
        .select(
            "eff",
            (F.col("gm") + F.col("c") * (F.col("eff") - F.col("gm"))).alias(
                "shrunk"
            ),
        )
    )
    return sig.agg(
        F.count("*").cast("bigint").alias("n_significant_sites"),
        F.round(F.avg(F.abs(F.col("eff"))), 2).alias("mean_reported_effect"),
        F.round(F.avg(F.abs(F.col("shrunk"))), 2).alias("mean_shrunk_effect"),
        F.round(
            F.avg(F.abs(F.col("eff")))
            / F.nullif(F.avg(F.abs(F.col("shrunk"))), F.lit(0.0)),
            3,
        ).alias("exaggeration_ratio"),
    )


@register(
    "spectral_flatness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS i, v
      FROM daily),
    st AS (SELECT avg(v) AS mu, stddev_samp(v) AS sd,
                  CAST(count(*) AS DOUBLE) AS n FROM idx),
    z AS (SELECT i, (v - mu) / sd AS zv, n FROM idx, st),
    per AS (SELECT unnest([3, 5, 7, 14, 30, 60, 91, 182]) AS period),
    comp AS (
      SELECT period,
             (pow(sum(zv * cos(2 * pi() * i / period)), 2)
              + pow(sum(zv * sin(2 * pi() * i / period)), 2))
             / any_value(n) AS power
      FROM z, per GROUP BY period),
    sfm AS (
      SELECT exp(avg(ln(power))) / avg(power) AS flatness,
             max(power) AS peak_power,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM comp WHERE power > 0)
    SELECT n_bands,
           round(flatness, 4) AS spectral_flatness,
           round(peak_power, 2) AS peak_band_power,
           CASE WHEN flatness > 0.5 THEN 'noise_like'
                WHEN flatness > 0.1 THEN 'mixed' ELSE 'tonal' END
             AS spectrum_verdict
    FROM sfm
    """,
    tags=("timeseries", "spectral", "information"),
)
def q_spectral_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral flatness (Wiener entropy) of daily revenue over
    eight probe periods: geometric/arithmetic mean of band powers —
    1 for white noise (energy spread evenly), →0 for a tonal
    series dominated by one period — the single number that says
    whether dft_periodogram's peak is a real rhythm or just the
    tallest blade of grass (audio fingerprinting's noisiness
    measure pointed at business seasonality). The log-space
    geometric mean is the exp-avg-ln device (chained_growth_rate);
    all bands come from one |dates|×|periods| aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long").alias("i"),
        "v",
    )
    st = idx.agg(
        F.avg("v").alias("mu"),
        F.stddev_samp("v").alias("sd"),
        F.count("*").cast("double").alias("n"),
    )
    z = idx.join(F.broadcast(st)).select(
        "i", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("zv"), "n"
    )
    per = local_df(spark, [(p,) for p in (3, 5, 7, 14, 30, 60, 91, 182)], "period int")
    ang = 2 * math.pi * F.col("i") / F.col("period")
    comp = (
        z.crossJoin(F.broadcast(per))
        .groupBy("period")
        .agg(
            (
                (
                    F.pow(F.sum(F.col("zv") * F.cos(ang)), 2)
                    + F.pow(F.sum(F.col("zv") * F.sin(ang)), 2)
                )
                / F.first("n")
            ).alias("power")
        )
    )
    sfm = comp.filter(F.col("power") > 0).agg(
        (F.exp(F.avg(F.log("power"))) / F.avg("power")).alias("flatness"),
        F.max("power").alias("peak_power"),
        F.count("*").cast("bigint").alias("n_bands"),
    )
    return sfm.select(
        "n_bands",
        F.round("flatness", 4).alias("spectral_flatness"),
        F.round("peak_power", 2).alias("peak_band_power"),
        F.when(F.col("flatness") > 0.5, "noise_like")
        .when(F.col("flatness") > 0.1, "mixed")
        .otherwise("tonal")
        .alias("spectrum_verdict"),
    )


@register(
    "caliper_matching_att",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             max(c_nationkey) AS nat,
             CAST(count(*) AS DOUBLE) AS score,
             avg(o_totalprice) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY o_custkey),
    labeled AS (
      SELECT o_custkey, score, y,
             CASE WHEN nat % 2 = 0 THEN 1 ELSE 0 END AS treated
      FROM cust),
    sd AS (SELECT 0.1 * stddev_samp(score) AS caliper FROM labeled),
    controls AS (
      SELECT score, avg(y) AS yc FROM labeled WHERE treated = 0
      GROUP BY score),
    matched AS (
      SELECT t.o_custkey, t.y AS yt, c.yc,
             abs(t.score - c.score) AS dist,
             row_number() OVER (PARTITION BY t.o_custkey
                                ORDER BY abs(t.score - c.score),
                                         c.score) AS rk
      FROM labeled t JOIN controls c
        ON abs(t.score - c.score) <= (SELECT caliper FROM sd)
      WHERE t.treated = 1),
    att AS (
      SELECT CAST(count(*) AS BIGINT) AS n_matched,
             avg(yt - yc) AS att
      FROM matched WHERE rk = 1),
    naive AS (
      SELECT avg(CASE WHEN treated = 1 THEN y END)
             - avg(CASE WHEN treated = 0 THEN y END) AS raw_diff
      FROM labeled)
    SELECT n_matched,
           round(att, 4) AS att_matched,
           round(raw_diff, 4) AS naive_difference,
           round(att - raw_diff, 4) AS selection_bias_removed
    FROM att, naive
    """,
    tags=("causal", "join", "experimentation"),
)
def q_caliper_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor caliper matching: each treated customer
    matched to the closest control-group SCORE CELL within a
    0.1·SD caliper (scores here are order counts, so controls
    collapse to per-score cells first — the move that turns 1-NN
    matching from an O(n²) search into a banded join on a
    histogram-sized relation), ATT = mean matched difference
    against the naive raw gap. The separation between the two IS
    the selection bias matching removed — the workhorse
    observational estimator completing the causal tier's toolbox
    (regression adjusts, DiD differences, matching BALANCES).
    Caliper is a broadcast scalar; unmatched treated units drop
    out, as Rosenbaum prescribes."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey")
        .agg(
            F.max("c_nationkey").alias("nat"),
            F.count("*").cast("double").alias("score"),
            F.avg("o_totalprice").alias("y"),
        )
    )
    labeled = cust.select(
        "o_custkey",
        "score",
        "y",
        F.when(F.col("nat") % 2 == 0, 1).otherwise(0).alias("treated"),
    )
    sd = labeled.agg((0.1 * F.stddev_samp("score")).alias("caliper"))
    controls = (
        labeled.filter(F.col("treated") == 0)
        .groupBy("score")
        .agg(F.avg("y").alias("yc"))
        .select(F.col("score").alias("cscore"), "yc")
    )
    treated = labeled.filter(F.col("treated") == 1).select(
        "o_custkey", "score", F.col("y").alias("yt")
    )
    matched = (
        treated.crossJoin(F.broadcast(sd))
        .join(
            F.broadcast(controls),
            F.abs(F.col("score") - F.col("cscore")) <= F.col("caliper"),
        )
        .select(
            "o_custkey",
            "yt",
            "yc",
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.abs(F.col("score") - F.col("cscore")), F.col("cscore")
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    att = matched.agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.avg(F.col("yt") - F.col("yc")).alias("att"),
    )
    naive = labeled.agg(
        (
            F.avg(F.when(F.col("treated") == 1, F.col("y")))
            - F.avg(F.when(F.col("treated") == 0, F.col("y")))
        ).alias("raw_diff")
    )
    return att.crossJoin(F.broadcast(naive)).select(
        "n_matched",
        F.round("att", 4).alias("att_matched"),
        F.round("raw_diff", 4).alias("naive_difference"),
        F.round(F.col("att") - F.col("raw_diff"), 4).alias(
            "selection_bias_removed"
        ),
    )


@register(
    "itemknn_vs_popularity",
    oracle="""
    WITH j AS (
      SELECT o_custkey AS u, l_partkey AS i,
             CAST(o_orderdate AS DATE) AS d, o_orderkey AS ok
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    train AS (SELECT DISTINCT u, i FROM j WHERE d < DATE '1997-01-01'),
    test AS (SELECT DISTINCT u, i FROM j WHERE d >= DATE '1997-01-01'),
    basket_pairs AS (
      SELECT a.l_partkey AS i1, b.l_partkey AS i2,
             CAST(count(DISTINCT a.l_orderkey) AS DOUBLE) AS co
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN orders ON a.l_orderkey = o_orderkey
      WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
    icnt AS (
      SELECT i, CAST(count(*) AS DOUBLE) AS n FROM train GROUP BY i),
    sim AS (
      SELECT i1 AS j, i2 AS i, co / sqrt(a.n * b.n) AS s
      FROM basket_pairs JOIN icnt a ON i1 = a.i JOIN icnt b ON i2 = b.i
      UNION ALL
      SELECT i2, i1, co / sqrt(a.n * b.n)
      FROM basket_pairs JOIN icnt a ON i1 = a.i JOIN icnt b ON i2 = b.i),
    scores AS (
      SELECT t.u, sim.i, sum(sim.s) AS score
      FROM train t JOIN sim ON t.i = sim.j
      WHERE NOT EXISTS (SELECT 1 FROM train t2
                        WHERE t2.u = t.u AND t2.i = sim.i)
      GROUP BY t.u, sim.i),
    topk AS (
      SELECT u, i FROM (
        SELECT u, i, row_number() OVER (PARTITION BY u
                     ORDER BY score DESC, i) AS rk
        FROM scores) WHERE rk <= 10),
    knn_hits AS (
      SELECT t.u, max(CASE WHEN k.i IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM test t LEFT JOIN topk k ON t.u = k.u AND t.i = k.i
      WHERE t.u IN (SELECT u FROM topk)
      GROUP BY t.u),
    pop AS (
      SELECT i FROM (SELECT i, count(*) AS c FROM train GROUP BY i
                     ORDER BY c DESC, i LIMIT 10)),
    pop_hits AS (
      SELECT t.u, max(CASE WHEN t.i IN (SELECT i FROM pop)
                           THEN 1 ELSE 0 END) AS hit
      FROM test t WHERE t.u IN (SELECT u FROM topk)
      GROUP BY t.u)
    SELECT CAST((SELECT count(*) FROM knn_hits) AS BIGINT)
             AS n_users_evaluated,
           round((SELECT avg(CAST(hit AS DOUBLE)) FROM knn_hits), 4)
             AS hitrate_itemknn,
           round((SELECT avg(CAST(hit AS DOUBLE)) FROM pop_hits), 4)
             AS hitrate_popularity
    """,
    tags=("ml", "similarity", "eval"),
)
def q_itemknn_vs_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering vs the popularity baseline
    on the SAME temporal split and the SAME evaluated users: item
    similarity is basket-co-occurrence cosine (co/√(nᵢnⱼ), min
    support 2 — the support floor bounds the pair join exactly like
    the dedup tier's blocking), each user scored by summing
    similarities from their train items with their own items
    anti-joined out, top-10 per user by a partitioned window. A
    personalization lift over popularity_recsys_hitrate is the
    entire business case for the heavier model — measuring both on
    one split is the only honest comparison. Co-occurrence,
    similarity, scoring, and eval are each one join-aggregate; the
    user-item fan-out is bounded by items-per-user × neighbors-
    per-item. train/test/similarity relations are `materialize`d
    (operators/iterate.py) because each feeds 2-4 downstream
    branches — without the cut every branch re-embeds the
    orders⋈lineitem scan (130 exchanges in round 1 → ~15)."""
    from ...operators.iterate import materialize

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("ok"),
    )
    train = materialize(j.filter(F.col("d") < "1997-01-01").select("u", "i").distinct())
    test = materialize(j.filter(F.col("d") >= "1997-01-01").select("u", "i").distinct())
    tr_orders = j.filter(F.col("d") < "1997-01-01").select("ok", "i").distinct()
    a = tr_orders.select("ok", F.col("i").alias("i1"))
    b = tr_orders.select("ok", F.col("i").alias("i2"))
    basket_pairs = (
        a.join(b, "ok")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count_distinct("ok").cast("double").alias("co"))
        .filter(F.col("co") >= 2)
    )
    icnt = train.groupBy("i").agg(F.count("*").cast("double").alias("n"))
    bp = materialize(
        basket_pairs.join(icnt.select(F.col("i").alias("i1"), F.col("n").alias("n1")), "i1")
        .join(icnt.select(F.col("i").alias("i2"), F.col("n").alias("n2")), "i2")
        .select(
            "i1", "i2", (F.col("co") / F.sqrt(F.col("n1") * F.col("n2"))).alias("s")
        )
    )
    sim = bp.select(F.col("i1").alias("j"), F.col("i2").alias("i"), "s").unionAll(
        bp.select(F.col("i2").alias("j"), F.col("i1").alias("i"), "s")
    )
    scores = (
        train.select("u", F.col("i").alias("j"))
        .join(sim, "j")
        .join(train, ["u", "i"], "left_anti")
        .groupBy("u", "i")
        .agg(F.sum("s").alias("score"))
    )
    topk = materialize(
        scores.select(
            "u",
            "i",
            F.row_number()
            .over(Window.partitionBy("u").orderBy(F.desc("score"), "i"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 10)
        .select("u", "i")
    )
    eval_users = topk.select("u").distinct()
    knn_hits = (
        test.join(eval_users, "u", "left_semi")
        .join(topk.select("u", "i", F.lit(1).alias("m")), ["u", "i"], "left")
        .groupBy("u")
        .agg(F.max(F.coalesce("m", F.lit(0))).alias("hit"))
    )
    pop = (
        train.groupBy("i")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "i")
        .limit(10)
        .select("i", F.lit(1).alias("pm"))
    )
    pop_hits = (
        test.join(eval_users, "u", "left_semi")
        .join(F.broadcast(pop), "i", "left")
        .groupBy("u")
        .agg(F.max(F.coalesce("pm", F.lit(0))).alias("hit"))
    )
    kr = knn_hits.agg(
        F.count("*").cast("bigint").alias("n_users_evaluated"),
        F.round(F.avg(F.col("hit").cast("double")), 4).alias("hitrate_itemknn"),
    )
    pr = pop_hits.agg(
        F.round(F.avg(F.col("hit").cast("double")), 4).alias(
            "hitrate_popularity"
        )
    )
    return kr.crossJoin(F.broadcast(pr))


@register(
    "tost_equivalence",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders),
    mom AS (
      SELECT avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS d,
             sqrt(var_samp(CASE WHEN g = 1 THEN y END)
                  / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                + var_samp(CASE WHEN g = 0 THEN y END)
                  / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)) AS se,
             0.02 * avg(y) AS margin
      FROM obs),
    tost AS (
      SELECT d, se, margin,
             (d + margin) / se AS z_lower,
             (margin - d) / se AS z_upper
      FROM mom)
    SELECT round(d, 2) AS observed_diff,
           round(margin, 2) AS equivalence_margin,
           round(z_lower, 3) AS z_lower,
           round(z_upper, 3) AS z_upper,
           z_lower > 1.645 AND z_upper > 1.645 AS equivalent_at_5pct
    FROM tost
    """,
    tags=("experimentation", "stats", "eval"),
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test: is the weekend effect provably SMALL
    — within ±2% of the mean — rather than merely non-significant?
    Two one-sided tests, both of which must reject (z > 1.645)
    before equivalence is claimed — the inferential machinery
    behind every 'no-regression' launch gate and non-inferiority
    claim, and the correct replacement for the ubiquitous fallacy
    of reading p > 0.05 as 'no effect' (absence of evidence ≠
    evidence of absence; TOST supplies the latter). One
    conditional-moment aggregate; the margin is data-scaled."""
    o = _t(spark, sf_dir, "orders")
    obs = o.select(
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    mom = obs.agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("y")))
            - F.avg(F.when(F.col("g") == 0, F.col("y")))
        ).alias("d"),
        F.sqrt(
            F.var_samp(F.when(F.col("g") == 1, F.col("y")))
            / F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
            + F.var_samp(F.when(F.col("g") == 0, F.col("y")))
            / F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        ).alias("se"),
        (0.02 * F.avg("y")).alias("margin"),
    )
    zl = (F.col("d") + F.col("margin")) / F.col("se")
    zu = (F.col("margin") - F.col("d")) / F.col("se")
    return mom.select(
        F.round("d", 2).alias("observed_diff"),
        F.round("margin", 2).alias("equivalence_margin"),
        F.round(zl, 3).alias("z_lower"),
        F.round(zu, 3).alias("z_upper"),
        ((zl > 1.645) & (zu > 1.645)).alias("equivalent_at_5pct"),
    )

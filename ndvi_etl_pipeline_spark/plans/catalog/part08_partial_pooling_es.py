"""Query catalog part 8/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403
from .part04_k_anonymity_audit import *  # noqa: F401,F403
from .part05_bloom_filter_fpr import *  # noqa: F401,F403
from .part06_energy_distance_tw import *  # noqa: F401,F403
from .part07_split_conformal_in import *  # noqa: F401,F403



@register(
    "partial_pooling_estimates",
    oracle="""
    WITH site AS (
      SELECT n_name, avg(o_totalprice) AS m,
             var_samp(o_totalprice) / count(*) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1),
    grand AS (
      SELECT avg(m) AS gm, CAST(count(*) AS DOUBLE) AS k, avg(v) AS vbar
      FROM site),
    tau AS (
      SELECT gm,
             greatest(sum(pow(m - gm, 2)) / (k - 1) - vbar, 0) AS tau2
      FROM site, grand GROUP BY gm, k, vbar),
    posterior AS (
      SELECT n_name, m,
             tau2 / (tau2 + v) AS w,
             gm + (tau2 / (tau2 + v)) * (m - gm) AS blended
      FROM site, tau)
    SELECT n_name, round(m, 2) AS raw_mean,
           round(blended, 2) AS pooled_estimate,
           round(w, 4) AS own_data_weight,
           round(abs(m - blended), 2) AS shrinkage_applied
    FROM posterior ORDER BY abs(m - blended) DESC, n_name LIMIT 5
    """,
    tags=("stats", "smoothing", "hierarchy"),
)
def q_partial_pooling_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site partial pooling — the hierarchical-model posterior
    mean each nation SHOULD report: ŷᵢ = ḡ + wᵢ(x̄ᵢ−ḡ) with
    wᵢ = τ²/(τ²+vᵢ), so precise sites keep their own number
    (w→1) while noisy ones borrow the grand mean (w→0) — the
    per-site refinement of james_stein_shrinkage's single global
    factor, with τ² from the DerSimonian-Laird moment device. The
    top-5 most-shrunk rows are exactly the dashboard numbers that
    were most noise; own_data_weight is the honesty label every
    small-segment metric deserves. One grouped moment pass, two
    broadcast reductions."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    site = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
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
    tau = site.crossJoin(F.broadcast(grand)).groupBy("gm", "k", "vbar").agg(
        F.greatest(
            F.sum(F.pow(F.col("m") - F.col("gm"), 2)) / (F.col("k") - 1)
            - F.col("vbar"),
            F.lit(0.0),
        ).alias("tau2")
    ).select("gm", "tau2")
    w = F.col("tau2") / (F.col("tau2") + F.col("v"))
    posterior = site.crossJoin(F.broadcast(tau)).select(
        "n_name",
        "m",
        w.alias("w"),
        (F.col("gm") + w * (F.col("m") - F.col("gm"))).alias("blended"),
    )
    return (
        posterior.orderBy(
            F.abs(F.col("m") - F.col("blended")).desc(), "n_name"
        )
        .limit(5)
        .select(
            "n_name",
            F.round("m", 2).alias("raw_mean"),
            F.round("blended", 2).alias("pooled_estimate"),
            F.round("w", 4).alias("own_data_weight"),
            F.round(F.abs(F.col("m") - F.col("blended")), 2).alias(
                "shrinkage_applied"
            ),
        )
    )


@register(
    "scan_statistic_window",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS c
      FROM events WHERE event_type = 'error' GROUP BY 1),
    wins AS (
      SELECT d,
             sum(c) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING
                          AND CURRENT ROW) AS w7,
             count(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING
                            AND CURRENT ROW) AS nfull
      FROM daily),
    gl AS (SELECT avg(c) AS lam FROM daily),
    scored AS (
      SELECT d, w7, 7 * lam AS expected,
             (w7 - 7 * lam) / sqrt(7 * lam) AS z
      FROM wins, gl WHERE nfull = 7),
    top AS (
      SELECT d, w7, expected, z,
             row_number() OVER (ORDER BY z DESC, d) AS rk
      FROM scored)
    SELECT strftime(d, '%Y-%m-%d') AS window_end,
           CAST(w7 AS BIGINT) AS observed_7d,
           round(expected, 1) AS expected_7d,
           round(z, 3) AS poisson_z
    FROM top WHERE rk = 1
    """,
    tags=("events", "anomaly", "window"),
)
def q_scan_statistic_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal scan statistic (Kulldorff-lite) on error events: the
    7-day window with the largest Poisson excess over the uniform
    baseline — disease-outbreak surveillance's question ('is there
    a cluster, and WHERE') answered with one rolling-sum window and
    one z-ranking, versus the daily-threshold alert
    (error_burn_rate) that misses clusters spread thinly across a
    week. The max-over-windows selection effect is why the z needs
    a higher bar than 1.96 in production (Monte Carlo or
    Bonferroni by window count); the query surfaces the candidate
    and its excess for exactly that adjudication."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("double").alias("c")
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wins = daily.select(
        "d",
        F.sum("c").over(w7).alias("w7"),
        F.count("*").over(w7).alias("nfull"),
    ).filter(F.col("nfull") == 7)
    gl = daily.agg(F.avg("c").alias("lam"))
    scored = wins.crossJoin(F.broadcast(gl)).select(
        "d",
        "w7",
        (7 * F.col("lam")).alias("expected"),
        ((F.col("w7") - 7 * F.col("lam")) / F.sqrt(7 * F.col("lam"))).alias("z"),
    )
    top = scored.select(
        "*",
        F.row_number().over(Window.orderBy(F.desc("z"), "d")).alias("rk"),
    ).filter(F.col("rk") == 1)
    return top.select(
        F.date_format("d", "yyyy-MM-dd").alias("window_end"),
        F.col("w7").cast("bigint").alias("observed_7d"),
        F.round("expected", 1).alias("expected_7d"),
        F.round("z", 3).alias("poisson_z"),
    )


@register(
    "lmdi_decomposition",
    oracle="""
    WITH cell AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2),
    wide AS (
      SELECT n_name,
             sum(CASE WHEN yr = 1996 THEN r END) AS r0,
             sum(CASE WHEN yr = 1997 THEN r END) AS r1
      FROM cell GROUP BY n_name
      HAVING sum(CASE WHEN yr = 1996 THEN r END) > 0
         AND sum(CASE WHEN yr = 1997 THEN r END) > 0),
    contrib AS (
      SELECT n_name, r0, r1,
             CASE WHEN r1 = r0 THEN 0
                  ELSE (r1 - r0) END AS delta
      FROM wide),
    total AS (
      SELECT sum(r1) - sum(r0) AS total_change, sum(delta) AS sum_contrib
      FROM contrib)
    SELECT c.n_name,
           round(c.delta, 0) AS contribution,
           round(100 * c.delta / t.total_change, 2) AS share_of_change_pct
    FROM contrib c, total t
    ORDER BY abs(c.delta) DESC, c.n_name LIMIT 8
    """,
    tags=("economics", "decomposition", "agg"),
)
def q_lmdi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive change decomposition of the 1996→1997 revenue move
    by nation: each nation's contribution sums EXACTLY to the total
    change (the property percentage-growth tables never have — a
    +30% here and −20% there don't add to anything), ranked by
    absolute contribution with share-of-change — the bridge chart
    every revenue review opens with, as a query instead of a
    spreadsheet. Nation-level additivity is trivial (revenue is a
    sum); the LMDI logarithmic-mean machinery earns its keep when
    decomposing PRODUCTS (price×volume×mix), which
    price_volume_mix covers — this is its single-factor additive
    base case."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.filter(F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    wide = (
        cell.groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("yr") == 1996, F.col("r"))).alias("r0"),
            F.sum(F.when(F.col("yr") == 1997, F.col("r"))).alias("r1"),
        )
        .filter((F.col("r0") > 0) & (F.col("r1") > 0))
    )
    contrib = wide.select(
        "n_name", (F.col("r1") - F.col("r0")).alias("delta")
    )
    total = contrib.agg(F.sum("delta").alias("total_change"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .orderBy(F.abs(F.col("delta")).desc(), "n_name")
        .limit(8)
        .select(
            "n_name",
            F.round("delta", 0).alias("contribution"),
            F.round(100 * F.col("delta") / F.col("total_change"), 2).alias(
                "share_of_change_pct"
            ),
        )
    )


@register(
    "fairness_parity_gaps",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN r_name IN ('AMERICA', 'EUROPE') THEN 1 ELSE 0 END
               AS grp,
             CAST(cnt AS DOUBLE) AS basket,
             o_totalprice AS spend
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN (SELECT l_orderkey, count(*) AS cnt
            FROM lineitem GROUP BY 1) li ON l_orderkey = o_orderkey),
    meds AS (
      SELECT CAST(quantile_cont(basket, 0.5) AS DOUBLE) AS mb,
             CAST(quantile_cont(spend, 0.5) AS DOUBLE) AS ms
      FROM obs),
    scored AS (
      SELECT grp,
             CASE WHEN basket > mb THEN 1 ELSE 0 END AS pred,
             CASE WHEN spend > ms THEN 1 ELSE 0 END AS actual
      FROM obs, meds),
    rates AS (
      SELECT grp,
             avg(CAST(pred AS DOUBLE)) AS positive_rate,
             avg(CASE WHEN actual = 1 THEN CAST(pred AS DOUBLE) END) AS tpr,
             avg(CASE WHEN actual = 0 THEN CAST(pred AS DOUBLE) END) AS fpr
      FROM scored GROUP BY grp)
    SELECT round(abs(max(CASE WHEN grp = 1 THEN positive_rate END)
                     - max(CASE WHEN grp = 0 THEN positive_rate END)), 4)
             AS demographic_parity_gap,
           round(abs(max(CASE WHEN grp = 1 THEN tpr END)
                     - max(CASE WHEN grp = 0 THEN tpr END)), 4)
             AS tpr_gap,
           round(abs(max(CASE WHEN grp = 1 THEN fpr END)
                     - max(CASE WHEN grp = 0 THEN fpr END)), 4)
             AS fpr_gap
    FROM rates
    """,
    tags=("ml", "eval", "audit"),
)
def q_fairness_parity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness audit of a rule-based 'high-value order' classifier
    across region groups: demographic-parity gap (positive-rate
    difference) next to the equalized-odds pair (TPR and FPR gaps)
    — the three headline group-fairness metrics, which are
    mathematically IMPOSSIBLE to satisfy simultaneously when base
    rates differ (Chouldechova/Kleinberg), so reporting all three
    with the tension visible is the honest deliverable. Median
    thresholds are broadcast scalars; all six group rates come
    from one conditional aggregate — the audit costs one scan, so
    it can run on every model, every release."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(cnt, o["o_orderkey"] == cnt["l_orderkey"])
        .select(
            F.when(F.col("r_name").isin("AMERICA", "EUROPE"), 1)
            .otherwise(0)
            .alias("grp"),
            F.col("cnt").cast("double").alias("basket"),
            F.col("o_totalprice").alias("spend"),
        )
    )
    meds = obs.agg(
        F.expr("percentile(basket, 0.5)").alias("mb"),
        F.expr("percentile(spend, 0.5)").alias("ms"),
    )
    scored = obs.crossJoin(F.broadcast(meds)).select(
        "grp",
        F.when(F.col("basket") > F.col("mb"), 1).otherwise(0).alias("pred"),
        F.when(F.col("spend") > F.col("ms"), 1).otherwise(0).alias("actual"),
    )
    rates = scored.groupBy("grp").agg(
        F.avg(F.col("pred").cast("double")).alias("positive_rate"),
        F.avg(
            F.when(F.col("actual") == 1, F.col("pred").cast("double"))
        ).alias("tpr"),
        F.avg(
            F.when(F.col("actual") == 0, F.col("pred").cast("double"))
        ).alias("fpr"),
    )
    g = lambda colname, grp: F.max(
        F.when(F.col("grp") == grp, F.col(colname))
    )
    return rates.agg(
        F.round(
            F.abs(g("positive_rate", 1) - g("positive_rate", 0)), 4
        ).alias("demographic_parity_gap"),
        F.round(F.abs(g("tpr", 1) - g("tpr", 0)), 4).alias("tpr_gap"),
        F.round(F.abs(g("fpr", 1) - g("fpr", 0)), 4).alias("fpr_gap"),
    )


@register(
    "tpcds_q49_return_rank",
    oracle="""
    WITH items AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity
                      ELSE 0 END) AS DOUBLE) AS ret_qty,
             CAST(sum(l_quantity) AS DOUBLE) AS qty,
             sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
                 ELSE 0 END) AS ret_amt
      FROM lineitem GROUP BY l_partkey
      HAVING sum(l_quantity) >= 100
         AND sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
             > 0),
    ranked AS (
      SELECT l_partkey, ret_qty / qty AS return_ratio, ret_amt,
             rank() OVER (ORDER BY ret_qty / qty DESC, l_partkey)
               AS ratio_rank,
             rank() OVER (ORDER BY ret_amt DESC, l_partkey)
               AS amount_rank
      FROM items)
    SELECT l_partkey, round(return_ratio, 4) AS return_ratio,
           round(ret_amt, 2) AS return_amount,
           CAST(ratio_rank AS BIGINT) AS ratio_rank,
           CAST(amount_rank AS BIGINT) AS amount_rank
    FROM ranked
    WHERE ratio_rank <= 10 OR amount_rank <= 10
    ORDER BY ratio_rank, amount_rank, l_partkey
    """,
    tags=("tpcds", "ranking", "window"),
)
def q_tpcds_q49_return_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q49's shape: the worst-returning items by TWO
    rankings at once — return ratio (quality problems) and return
    amount (financial exposure) — keeping anything in either top
    10, because an item can be a rounding error by ratio and a
    disaster by dollars or vice versa (the dual-rank union is the
    query's point; a single blended score hides one axis). A
    min-volume floor keeps ratio ranks meaningful; both rank()
    windows ride the same |items| aggregate, one ORDER each."""
    li = _t(spark, sf_dir, "lineitem")
    items = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(
                    0
                )
            )
            .cast("double")
            .alias("ret_qty"),
            F.sum("l_quantity").cast("double").alias("qty"),
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R", F.col("l_extendedprice")
                ).otherwise(0.0)
            ).alias("ret_amt"),
        )
        .filter((F.col("qty") >= 100) & (F.col("ret_qty") > 0))
    )
    from ...operators.rank import global_ranked

    ratio = F.col("ret_qty") / F.col("qty")
    ranked = global_ranked(
        global_ranked(
            items.withColumn("return_ratio", ratio),
            [(F.col("return_ratio"), "desc"), "l_partkey"],
            rank="ratio_rank",
        ),
        [("ret_amt", "desc"), "l_partkey"],
        rank="amount_rank",
    ).select("l_partkey", "return_ratio", "ret_amt", "ratio_rank", "amount_rank")
    return (
        ranked.filter((F.col("ratio_rank") <= 10) | (F.col("amount_rank") <= 10))
        .select(
            "l_partkey",
            F.round("return_ratio", 4).alias("return_ratio"),
            F.round("ret_amt", 2).alias("return_amount"),
            F.col("ratio_rank").cast("bigint").alias("ratio_rank"),
            F.col("amount_rank").cast("bigint").alias("amount_rank"),
        )
        .orderBy("ratio_rank", "amount_rank", "l_partkey")
    )


@register(
    "tpcds_q59_weekly_ratio",
    oracle="""
    WITH weekly AS (
      SELECT n_name,
             year(CAST(o_orderdate AS DATE)) AS yr,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2, 3),
    y0 AS (SELECT n_name, dow, rev FROM weekly WHERE yr = 1996),
    y1 AS (SELECT n_name, dow, rev FROM weekly WHERE yr = 1997),
    ratios AS (
      SELECT y1.n_name,
             round(sum(CASE WHEN y1.dow = 1 THEN y1.rev / y0.rev END), 4)
               AS mon_ratio,
             round(sum(CASE WHEN y1.dow = 3 THEN y1.rev / y0.rev END), 4)
               AS wed_ratio,
             round(sum(CASE WHEN y1.dow = 5 THEN y1.rev / y0.rev END), 4)
               AS fri_ratio,
             round(sum(CASE WHEN y1.dow = 0 THEN y1.rev / y0.rev END), 4)
               AS sun_ratio
      FROM y1 JOIN y0 ON y1.n_name = y0.n_name AND y1.dow = y0.dow
      GROUP BY y1.n_name)
    SELECT * FROM ratios ORDER BY n_name LIMIT 10
    """,
    tags=("tpcds", "reshape", "join"),
)
def q_tpcds_q59_weekly_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q59's shape: each nation's per-weekday revenue, this
    year over last year, pivoted so one row shows the
    Monday/Wednesday/Friday/Sunday growth ratios side by side —
    the weekday-mix drift view (uniform ratios = pure growth;
    divergent ratios = the WEEK is being reshaped, e.g. weekend
    share shifting) that a total-revenue YoY number cannot
    distinguish. Self-join on (nation, weekday) across years, then
    a conditional-sum pivot — the Q59 join-then-pivot idiom
    exactly; dayofweek is normalized to DuckDB's 0=Sunday
    convention so both engines pivot identical cells."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # DuckDB dayofweek: 0=Sun..6=Sat; Spark dayofweek: 1=Sun..7=Sat.
    dow = F.dayofweek(F.col("o_orderdate").cast("date")) - 1
    weekly = (
        o.filter(F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            dow.alias("dow"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    y0 = weekly.filter(F.col("yr") == 1996).select(
        "n_name", "dow", F.col("rev").alias("rev0")
    )
    y1 = weekly.filter(F.col("yr") == 1997).select(
        "n_name", "dow", F.col("rev").alias("rev1")
    )
    joined = y1.join(y0, ["n_name", "dow"])
    ratio = F.col("rev1") / F.col("rev0")

    def day(dval):
        return F.round(
            F.sum(F.when(F.col("dow") == dval, ratio)), 4
        )

    return (
        joined.groupBy("n_name")
        .agg(
            day(1).alias("mon_ratio"),
            day(3).alias("wed_ratio"),
            day(5).alias("fri_ratio"),
            day(0).alias("sun_ratio"),
        )
        .orderBy("n_name")
        .limit(10)
    )


@register(
    "functional_dependency_audit",
    oracle="""
    WITH fd1 AS (
      SELECT 'brand_determines_type' AS fd,
             CAST(count(*) AS BIGINT) AS n_lhs_values,
             CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_lhs,
             round(avg(CAST(nrhs AS DOUBLE)), 3) AS mean_rhs_per_lhs
      FROM (SELECT p_brand, count(DISTINCT p_type) AS nrhs
            FROM part GROUP BY p_brand)
      UNION ALL
      SELECT 'custkey_determines_segment',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
             round(avg(CAST(nrhs AS DOUBLE)), 3)
      FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS nrhs
            FROM customer GROUP BY c_custkey)
      UNION ALL
      SELECT 'orderkey_determines_priority',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
             round(avg(CAST(nrhs AS DOUBLE)), 3)
      FROM (SELECT l_orderkey, count(DISTINCT o_orderpriority) AS nrhs
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_orderkey))
    SELECT fd, n_lhs_values, violating_lhs, mean_rhs_per_lhs,
           violating_lhs = 0 AS holds_exactly
    FROM fd1 ORDER BY fd
    """,
    tags=("profiling", "audit", "distinct"),
)
def q_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (Metanome-style data profiling):
    three candidate FDs checked by counting distinct right-hand
    values per left-hand key — nrhs > 1 anywhere falsifies the
    dependency, and the violating-key count says whether it's a
    modeling fact or a near-FD with dirty exceptions (the
    difference between 'add a unique constraint' and 'open a data-
    quality ticket'). FDs that hold license lossless normalization
    and join elimination — optimizer food; each check is one
    grouped distinct-count, all three stacked into one result."""
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")

    def check(name, df, lhs, rhs):
        per = df.groupBy(lhs).agg(F.count_distinct(rhs).alias("nrhs"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count("*").cast("bigint").alias("n_lhs_values"),
            F.sum(F.when(F.col("nrhs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_lhs"),
            F.round(F.avg(F.col("nrhs").cast("double")), 3).alias(
                "mean_rhs_per_lhs"
            ),
        )

    fd1 = check("brand_determines_type", p, "p_brand", "p_type")
    fd2 = check("custkey_determines_segment", c, "c_custkey", "c_mktsegment")
    fd3 = check(
        "orderkey_determines_priority",
        li.join(o, li["l_orderkey"] == o["o_orderkey"]),
        "l_orderkey",
        "o_orderpriority",
    )
    return (
        fd1.unionAll(fd2)
        .unionAll(fd3)
        .select(
            "fd",
            "n_lhs_values",
            "violating_lhs",
            "mean_rhs_per_lhs",
            (F.col("violating_lhs") == 0).alias("holds_exactly"),
        )
        .orderBy("fd")
    )


@register(
    "value_set_drift",
    oracle="""
    WITH sold AS (
      SELECT DISTINCT year(CAST(l_shipdate AS DATE)) AS yr, p_brand AS val,
             'brand' AS col
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
      UNION
      SELECT DISTINCT year(CAST(l_shipdate AS DATE)), p_type, 'type'
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)),
    flags AS (
      SELECT col, val,
             max(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS in_old,
             max(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS in_new
      FROM sold GROUP BY col, val)
    SELECT col AS column_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(CASE WHEN in_new = 1 AND in_old = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS appeared,
           CAST(sum(CASE WHEN in_old = 1 AND in_new = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS retired,
           round(sum(CASE WHEN in_new = 1 AND in_old = 1
                          THEN 1.0 ELSE 0 END)
                 / sum(CASE WHEN in_old = 1 THEN 1.0 ELSE 0 END), 4)
             AS survival_share
    FROM flags GROUP BY col ORDER BY col
    """,
    tags=("drift", "audit", "schema-evolution"),
)
def q_value_set_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical value-set drift, 1996→1997: which brand and type
    values APPEARED, RETIRED, or survived between years — the
    enum-drift check that catches what schema comparison cannot
    (the column type never changed; its DOMAIN did), and the silent
    killer of trained models and hard-coded CASE expressions alike
    (a new value routes to the ELSE branch unnoticed). One distinct
    (year, column, value) relation via stacked scans, one
    flag-aggregate — run it on every load and alert on
    appeared > 0."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(F.year(F.col("l_shipdate").cast("date")).isin(1996, 1997))
        .select(
            F.year(F.col("l_shipdate").cast("date")).alias("yr"),
            "p_brand",
            "p_type",
        )
    )
    sold = (
        j.select("yr", F.col("p_brand").alias("val"), F.lit("brand").alias("col"))
        .union(
            j.select("yr", F.col("p_type").alias("val"), F.lit("type").alias("col"))
        )
        .distinct()
    )
    flags = sold.groupBy("col", "val").agg(
        F.max(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("in_old"),
        F.max(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("in_new"),
    )
    return (
        flags.groupBy(F.col("col").alias("column_name"))
        .agg(
            F.count("*").cast("bigint").alias("n_values"),
            F.sum(
                F.when((F.col("in_new") == 1) & (F.col("in_old") == 0), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("appeared"),
            F.sum(
                F.when((F.col("in_old") == 1) & (F.col("in_new") == 0), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("retired"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("in_new") == 1) & (F.col("in_old") == 1), 1.0
                    ).otherwise(0.0)
                )
                / F.sum(F.when(F.col("in_old") == 1, 1.0).otherwise(0.0)),
                4,
            ).alias("survival_share"),
        )
        .orderBy("column_name")
    )


@register(
    "price_discrimination_gain",
    oracle="""
    WITH bids AS (
      SELECT s_nationkey % 5 AS segment,
             min(l_extendedprice / l_quantity) AS bid
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey, s_nationkey % 5),
    nglobal AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bids),
    pooled AS (
      SELECT r, n_ge,
             row_number() OVER (ORDER BY r * n_ge DESC, r) AS rk
      FROM (SELECT bid AS r,
                   (SELECT nb FROM nglobal)
                   - (sum(CAST(count(*) AS DOUBLE)) OVER (ORDER BY bid)
                      - CAST(count(*) AS DOUBLE)) AS n_ge
            FROM bids GROUP BY bid)),
    pooled_rev AS (
      SELECT r * n_ge AS rev FROM pooled WHERE rk = 1),
    seg_counts AS (
      SELECT segment, CAST(count(*) AS DOUBLE) AS ns FROM bids
      GROUP BY segment),
    seg_cand AS (
      SELECT b.segment, b.bid AS r,
             sc.ns - (sum(CAST(count(*) AS DOUBLE))
                      OVER (PARTITION BY b.segment ORDER BY b.bid)
                      - CAST(count(*) AS DOUBLE)) AS n_ge
      FROM bids b JOIN seg_counts sc ON b.segment = sc.segment
      GROUP BY b.segment, b.bid, sc.ns),
    seg_best AS (
      SELECT segment, max(r * n_ge) AS rev
      FROM seg_cand GROUP BY segment),
    seg_rev AS (SELECT sum(rev) AS rev FROM seg_best)
    SELECT round((SELECT rev FROM pooled_rev), 0) AS single_price_revenue,
           round((SELECT rev FROM seg_rev), 0) AS segmented_revenue,
           round(100 * ((SELECT rev FROM seg_rev)
                        / (SELECT rev FROM pooled_rev) - 1), 2)
             AS discrimination_gain_pct
    """,
    tags=("economics", "auction", "window"),
)
def q_price_discrimination_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-degree price discrimination, valued: the revenue-
    maximizing SINGLE posted price over all bids
    (myerson_reserve_price's sweep) versus one optimal price PER
    segment — the gain is what market segmentation is worth to the
    seller, and the textbook reason segmented pricing is
    ubiquitous (it is never negative: each segment can always keep
    the pooled price). Both optima are survivor-count window
    sweeps — pooled globally, segmented as ONE partitioned window
    — so the five per-segment optimizations cost the same single
    pass as the pooled one."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    bids = (
        li.filter(F.col("l_quantity") > 0)
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            "l_partkey", "l_suppkey", (F.col("s_nationkey") % 5).alias("segment")
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("bid"))
        .select("segment", "bid")
    )
    nglobal = bids.agg(F.count("*").cast("double").alias("nb"))
    gcand = bids.groupBy(F.col("bid").alias("r")).agg(
        F.count("*").cast("double").alias("c")
    )
    wv = Window.orderBy("r")
    pooled = (
        gcand.crossJoin(F.broadcast(nglobal))
        .select(
            "r",
            (F.col("nb") - (F.sum("c").over(wv) - F.col("c"))).alias("n_ge"),
        )
        .agg(F.max(F.col("r") * F.col("n_ge")).alias("rev"))
    )
    seg_counts = bids.groupBy("segment").agg(
        F.count("*").cast("double").alias("ns")
    )
    scand = bids.groupBy("segment", F.col("bid").alias("r")).agg(
        F.count("*").cast("double").alias("c")
    )
    wseg = Window.partitionBy("segment").orderBy("r")
    seg_best = (
        scand.join(F.broadcast(seg_counts), "segment")
        .select(
            "segment",
            "r",
            (F.col("ns") - (F.sum("c").over(wseg) - F.col("c"))).alias("n_ge"),
        )
        .groupBy("segment")
        .agg(F.max(F.col("r") * F.col("n_ge")).alias("rev"))
        .agg(F.sum("rev").alias("rev"))
    )
    return (
        pooled.select(F.col("rev").alias("prev"))
        .crossJoin(F.broadcast(seg_best.select(F.col("rev").alias("srev"))))
        .select(
            F.round("prev", 0).alias("single_price_revenue"),
            F.round("srev", 0).alias("segmented_revenue"),
            F.round(100 * (F.col("srev") / F.col("prev") - 1), 2).alias(
                "discrimination_gain_pct"
            ),
        )
    )


@register(
    "stochastic_dominance_check",
    oracle="""
    WITH da AS (
      SELECT (CAST(i AS DOUBLE)) / 10.0 AS q,
             CAST(qs[CAST(i AS INT)] AS DOUBLE) AS v
      FROM (SELECT quantile_cont(p_retailprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
            FROM part WHERE p_brand = 'Brand#11'),
           unnest(generate_series(1, 9)) AS t(i)),
    db AS (
      SELECT (CAST(i AS DOUBLE)) / 10.0 AS q,
             CAST(qs[CAST(i AS INT)] AS DOUBLE) AS v
      FROM (SELECT quantile_cont(p_retailprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
            FROM part WHERE p_brand = 'Brand#22'),
           unnest(generate_series(1, 9)) AS t(i))
    SELECT CAST(count(*) AS BIGINT) AS n_quantiles,
           CAST(sum(CASE WHEN da.v > db.v THEN 1 ELSE 0 END) AS BIGINT)
             AS a_above,
           CAST(sum(CASE WHEN da.v < db.v THEN 1 ELSE 0 END) AS BIGINT)
             AS b_above,
           CASE WHEN sum(CASE WHEN da.v < db.v THEN 1 ELSE 0 END) = 0
                  THEN 'a_dominates'
                WHEN sum(CASE WHEN da.v > db.v THEN 1 ELSE 0 END) = 0
                  THEN 'b_dominates'
                ELSE 'crossing' END AS dominance_verdict,
           round(max(abs(da.v - db.v)), 2) AS max_quantile_gap
    FROM da JOIN db USING (q)
    """,
    tags=("stats", "percentile", "decision"),
)
def q_stochastic_dominance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order stochastic dominance between two brands' price
    distributions, checked quantile-by-quantile at the nine
    deciles: A dominates iff its quantile function sits (weakly)
    above B's EVERYWHERE — the condition under which every
    expected-utility maximizer with increasing utility prefers A,
    making mean/median comparisons redundant; a CROSSING verdict
    means the ranking depends on risk attitude and no single
    summary statistic settles it (the decision-theoretic sibling
    of ks_price_drift, which measures distance but not direction).
    Nine grouped exact quantiles per side, one 9-row join."""
    p = _t(spark, sf_dir, "part")

    def decs(brand, alias):
        arr = p.filter(F.col("p_brand") == brand).agg(
            F.expr(
                "percentile(p_retailprice,"
                " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
            ).alias("qs")
        )
        return arr.select(F.posexplode("qs").alias("pos", alias)).select(
            ((F.col("pos") + 1) / 10.0).alias("q"), alias
        )

    da = decs("Brand#11", "va")
    db = decs("Brand#22", "vb")
    j = da.join(db, "q")
    return j.agg(
        F.count("*").cast("bigint").alias("n_quantiles"),
        F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0))
        .cast("bigint")
        .alias("a_above"),
        F.sum(F.when(F.col("va") < F.col("vb"), 1).otherwise(0))
        .cast("bigint")
        .alias("b_above"),
        F.when(
            F.sum(F.when(F.col("va") < F.col("vb"), 1).otherwise(0)) == 0,
            "a_dominates",
        )
        .when(
            F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0)) == 0,
            "b_dominates",
        )
        .otherwise("crossing")
        .alias("dominance_verdict"),
        F.round(F.max(F.abs(F.col("va") - F.col("vb"))), 2).alias(
            "max_quantile_gap"
        ),
    )


@register(
    "risk_pooling_benefit",
    oracle="""
    WITH daily AS (
      SELECT c_nationkey AS nat, CAST(o_orderdate AS DATE) AS d,
             sum(o_totalprice) AS q
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    per_nat AS (
      SELECT nat, stddev_samp(q) AS sd FROM daily GROUP BY nat),
    pooled AS (
      SELECT stddev_samp(tq) AS sd_pool
      FROM (SELECT d, sum(q) AS tq FROM daily GROUP BY d)),
    sums AS (
      SELECT sum(sd) AS sum_sd, CAST(count(*) AS DOUBLE) AS k
      FROM per_nat)
    SELECT CAST(k AS BIGINT) AS n_locations,
           round(sum_sd, 0) AS sum_of_local_sd,
           round(sd_pool, 0) AS pooled_sd,
           round(1 - sd_pool / sum_sd, 4) AS pooling_benefit,
           round(1 - 1 / sqrt(k), 4) AS independence_prediction
    FROM pooled, sums
    """,
    tags=("inventory", "stats", "agg"),
)
def q_risk_pooling_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk pooling, measured: the sum of per-nation daily demand
    standard deviations vs the SD of the pooled series — safety
    stock scales with σ, so the relative reduction IS the inventory
    saved by centralizing — against the 1−1/√k prediction that
    holds only under independent, identical demands. Measured
    benefit below the prediction quantifies positive demand
    correlation across nations (common shocks pool badly — the
    operations-management core insight, and the same mathematics as
    portfolio diversification). Two grouped moment passes over one
    daily aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum("o_totalprice").alias("q"))
    )
    per_nat = daily.groupBy("nat").agg(F.stddev_samp("q").alias("sd"))
    pooled = (
        daily.groupBy("d")
        .agg(F.sum("q").alias("tq"))
        .agg(F.stddev_samp("tq").alias("sd_pool"))
    )
    sums = per_nat.agg(
        F.sum("sd").alias("sum_sd"), F.count("*").cast("double").alias("k")
    )
    return pooled.crossJoin(F.broadcast(sums)).select(
        F.col("k").cast("bigint").alias("n_locations"),
        F.round("sum_sd", 0).alias("sum_of_local_sd"),
        F.round("sd_pool", 0).alias("pooled_sd"),
        F.round(1 - F.col("sd_pool") / F.col("sum_sd"), 4).alias(
            "pooling_benefit"
        ),
        F.round(1 - 1 / F.sqrt(F.col("k")), 4).alias(
            "independence_prediction"
        ),
    )


@register(
    "token_fertility_by_lang",
    oracle="""
    WITH docs AS (
      SELECT lang, n_chars,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
               AS n_words,
             CAST(len(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
                  AS DOUBLE) AS n_alnum_tokens
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(n_chars) / sum(n_words), 3) AS chars_per_word,
           round(sum(n_alnum_tokens) / sum(n_words), 3)
             AS subtokens_per_word
    FROM docs GROUP BY lang ORDER BY lang
    """,
    tags=("text", "training", "corpus"),
)
def q_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token fertility per language: characters per whitespace word
    and alphanumeric subtokens per word — the tokenizer-cost
    planning numbers, because a language whose words fragment into
    more subword tokens pays proportionally more context budget
    and training compute per sentence (the real-world multiple is
    2-4× for non-Latin scripts under English-centric vocabularies;
    packing_efficiency_curve's budgets silently assume fertility 1).
    One scan with three regexp counters; ratios of corpus-level
    sums, not means of ratios, so long documents weigh in
    proportion to their cost."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "lang",
        "n_chars",
        TXT.token_count(F.col("text")).cast("double").alias("n_words"),
        F.size(
            F.split(F.lower("text"), "[^a-z0-9]+")
        ).cast("double").alias("n_alnum_tokens"),
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.sum("n_chars") / F.sum("n_words"), 3).alias(
                "chars_per_word"
            ),
            F.round(F.sum("n_alnum_tokens") / F.sum("n_words"), 3).alias(
                "subtokens_per_word"
            ),
        )
        .orderBy("lang")
    )


@register(
    "month_end_effect",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    classified AS (
      SELECT v,
             CASE WHEN day(d) > day(last_day(d)) - 3 THEN 1 ELSE 0 END
               AS eom,
             CAST(day(last_day(d)) AS DOUBLE) AS dim
      FROM daily),
    agg AS (
      SELECT sum(CASE WHEN eom = 1 THEN v ELSE 0 END) / sum(v)
               AS eom_share,
             avg(3.0 / dim) AS expected_share,
             CAST(sum(eom) AS BIGINT) AS n_eom_days,
             CAST(count(*) AS BIGINT) AS n_days
      FROM classified)
    SELECT n_days, n_eom_days,
           round(eom_share, 4) AS last3days_revenue_share,
           round(expected_share, 4) AS uniform_expectation,
           round(eom_share / expected_share, 3) AS month_end_lift
    FROM agg
    """,
    tags=("timeseries", "seasonality", "agg"),
)
def q_month_end_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end effect: revenue share of each month's final three
    days against the uniform day-count expectation — the
    budget-flush / quota-push signature (procurement spending
    expiring budgets, sales teams closing against monthly quotas)
    that inflates naive month-over-month comparisons whenever
    months end on different weekdays. last_day() arithmetic
    classifies rows without a calendar table; a lift near 1 clears
    the metric for direct monthly comparison, materially above 1
    means daily averages need the day-of-month adjustment
    (seasonal_strength handles weekly shape; this is the monthly
    boundary artifact)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    classified = daily.select(
        "v",
        F.when(
            F.dayofmonth("d") > F.dayofmonth(F.last_day("d")) - 3, 1
        )
        .otherwise(0)
        .alias("eom"),
        F.dayofmonth(F.last_day("d")).cast("double").alias("dim"),
    )
    agg = classified.agg(
        (
            F.sum(F.when(F.col("eom") == 1, F.col("v")).otherwise(0.0)) / F.sum("v")
        ).alias("eom_share"),
        F.avg(3.0 / F.col("dim")).alias("expected_share"),
        F.sum("eom").cast("bigint").alias("n_eom_days"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return agg.select(
        "n_days",
        "n_eom_days",
        F.round("eom_share", 4).alias("last3days_revenue_share"),
        F.round("expected_share", 4).alias("uniform_expectation"),
        F.round(F.col("eom_share") / F.col("expected_share"), 3).alias(
            "month_end_lift"
        ),
    )


@register(
    "block_tariff_whatif",
    oracle="""
    WITH usage AS (
      SELECT l_quantity AS q, l_extendedprice AS flat_rev
      FROM lineitem),
    tiered AS (
      SELECT flat_rev,
             least(q, 10) * 120.0
             + greatest(least(q, 30) - 10, 0) * 100.0
             + greatest(q - 30, 0) * 80.0 AS block_rev
      FROM usage)
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(flat_rev), 0) AS flat_revenue,
           round(sum(block_rev), 0) AS block_tariff_revenue,
           round(100 * (sum(block_rev) / sum(flat_rev) - 1), 2)
             AS revenue_change_pct
    FROM tiered
    """,
    tags=("economics", "conditional", "agg"),
)
def q_block_tariff_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-tariff repricing what-if: every line's quantity split
    across declining-rate tiers (first 10 units @120, next 20 @100,
    remainder @80) with the tier decomposition as pure
    least/greatest arithmetic — the billing-engine kernel
    (utilities, cloud egress, API pricing) that needs NO tier
    table, no join, no lateral unnest: a three-term codegen
    expression per row, re-rateable over the full history in one
    scan. The revenue delta against the flat book is the rate-card
    decision number; marginal-rate structure is what
    arc_elasticity_bands' demand response then prices."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    block = (
        F.least(q, F.lit(10)) * 120.0
        + F.greatest(F.least(q, F.lit(30)) - 10, F.lit(0)) * 100.0
        + F.greatest(q - 30, F.lit(0)) * 80.0
    )
    tiered = li.select(
        F.col("l_extendedprice").alias("flat_rev"), block.alias("block_rev")
    )
    return tiered.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.round(F.sum("flat_rev"), 0).alias("flat_revenue"),
        F.round(F.sum("block_rev"), 0).alias("block_tariff_revenue"),
        F.round(
            100 * (F.sum("block_rev") / F.sum("flat_rev") - 1), 2
        ).alias("revenue_change_pct"),
    )


@register(
    "bullwhip_ratio",
    oracle="""
    WITH order_stage AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(cnt) AS DOUBLE) AS q
      FROM orders JOIN (SELECT l_orderkey, sum(l_quantity) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey
      GROUP BY 1),
    ship_stage AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1),
    om AS (SELECT avg(q) AS m, var_samp(q) AS v FROM order_stage),
    sm AS (SELECT avg(q) AS m, var_samp(q) AS v FROM ship_stage)
    SELECT round(om.v / pow(om.m, 2), 6) AS order_stage_cv2,
           round(sm.v / pow(sm.m, 2), 6) AS ship_stage_cv2,
           round((sm.v / pow(sm.m, 2)) / (om.v / pow(om.m, 2)), 4)
             AS bullwhip_ratio,
           (sm.v / pow(sm.m, 2)) / (om.v / pow(om.m, 2)) > 1
             AS variance_amplified
    FROM om, sm
    """,
    tags=("inventory", "timeseries", "stats"),
)
def q_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip measurement between two stages of the same flow:
    the squared coefficient of variation of daily quantity at the
    ORDER stage vs the SHIP stage — a ratio above 1 means the
    fulfillment process amplifies demand variability (batching,
    shipment consolidation), the supply-chain instability that
    compounds multiplicatively per tier upstream (Lee's bullwhip;
    CV² rather than raw variance so different stage volumes
    compare). Two daily aggregates, two moment reductions — the
    classic diagnostic usually requiring a simulation, read off
    the warehouse directly."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("cnt"))
    order_stage = (
        o.join(per_order, o["o_orderkey"] == per_order["l_orderkey"])
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("cnt").cast("double").alias("q"))
    )
    ship_stage = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum("l_quantity").cast("double").alias("q")
    )
    om = order_stage.agg(F.avg("q").alias("m"), F.var_samp("q").alias("v"))
    sm = ship_stage.agg(F.avg("q").alias("m2"), F.var_samp("q").alias("v2"))
    ocv = F.col("v") / F.pow(F.col("m"), 2)
    scv = F.col("v2") / F.pow(F.col("m2"), 2)
    return om.crossJoin(F.broadcast(sm)).select(
        F.round(ocv, 6).alias("order_stage_cv2"),
        F.round(scv, 6).alias("ship_stage_cv2"),
        F.round(scv / ocv, 4).alias("bullwhip_ratio"),
        (scv / ocv > 1).alias("variance_amplified"),
    )


@register(
    "adstock_halflife_grid",
    oracle="""
    WITH spend AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      FROM events WHERE event_type = 'view' GROUP BY 1),
    outcome AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    lams AS (SELECT unnest([0.3, 0.5, 0.7, 0.8, 0.9]) AS lam),
    stocked AS (
      SELECT lam, a.d,
             sum(b.x * pow(lam, date_diff('day', b.d, a.d))) AS adstock
      FROM spend a JOIN spend b ON b.d BETWEEN a.d - 14 AND a.d
      CROSS JOIN lams
      GROUP BY lam, a.d),
    scored AS (
      SELECT lam, corr(o.y, s.adstock) AS r,
             CAST(count(*) AS BIGINT) AS n_days
      FROM stocked s JOIN outcome o ON o.d = s.d
      GROUP BY lam),
    best AS (
      SELECT lam, r, n_days,
             row_number() OVER (ORDER BY r DESC, lam) AS rk
      FROM scored)
    SELECT round(lam, 1) AS best_lambda,
           round(r, 4) AS correlation,
           round(ln(0.5) / ln(lam), 2) AS half_life_days,
           n_days
    FROM best WHERE rk = 1
    """,
    tags=("marketing", "estimation", "timeseries"),
)
def q_adstock_halflife_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock decay estimation by grid: five candidate retention
    rates λ, each building its carryover series in the SAME bounded
    14-day self-join (λ rides the weight expression via a crossed-in
    column, so five adstock series cost one join), scored by
    correlation with same-day purchases — the best λ's half-life
    ln½/lnλ is the answer media planners actually buy ('how long
    does an impression keep working'), where adstock_carryover
    ASSUMED λ=0.7 this estimates it. Grid-over-closed-form beats
    nonlinear fitting at scale because every candidate is exactly
    parallel."""
    e = _t(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "view")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    outcome = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("y"))
    )
    lams = local_df(spark, [(0.3,), (0.5,), (0.7,), (0.8,), (0.9,)], "lam double")
    a = spend.select(F.col("d").alias("ad"))
    b = spend.select(F.col("d").alias("bd"), "x")
    stocked = (
        a.join(
            b,
            (F.col("bd") >= F.date_sub(F.col("ad"), 14))
            & (F.col("bd") <= F.col("ad")),
        )
        .crossJoin(F.broadcast(lams))
        .groupBy("lam", "ad")
        .agg(
            F.sum(
                F.col("x")
                * F.pow(F.col("lam"), F.datediff(F.col("ad"), F.col("bd")))
            ).alias("adstock")
        )
    )
    scored = (
        stocked.join(outcome, stocked["ad"] == outcome["d"])
        .groupBy("lam")
        .agg(
            F.corr("y", "adstock").alias("r"),
            F.count("*").cast("bigint").alias("n_days"),
        )
    )
    best = scored.select(
        "*",
        F.row_number().over(Window.orderBy(F.desc("r"), "lam")).alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.round("lam", 1).alias("best_lambda"),
        F.round("r", 4).alias("correlation"),
        F.round(F.lit(math.log(0.5)) / F.log("lam"), 2).alias("half_life_days"),
        "n_days",
    )


@register(
    "newcombe_diff_ci",
    oracle="""
    WITH users AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    counts AS (
      SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE)
               AS k1,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE)
               AS k0
      FROM users),
    wilson AS (
      SELECT k1 / n1 - k0 / n0 AS d,
             (k1 + 1.92) / (n1 + 3.84)
               - 1.96 * sqrt((k1 / n1) * (1 - k1 / n1) / n1 + 0.96 / n1 / n1)
               AS l1,
             (k1 + 1.92) / (n1 + 3.84)
               + 1.96 * sqrt((k1 / n1) * (1 - k1 / n1) / n1 + 0.96 / n1 / n1)
               AS u1,
             (k0 + 1.92) / (n0 + 3.84)
               - 1.96 * sqrt((k0 / n0) * (1 - k0 / n0) / n0 + 0.96 / n0 / n0)
               AS l0,
             (k0 + 1.92) / (n0 + 3.84)
               + 1.96 * sqrt((k0 / n0) * (1 - k0 / n0) / n0 + 0.96 / n0 / n0)
               AS u0,
             k1 / n1 AS p1, k0 / n0 AS p0
      FROM counts)
    SELECT round(p1, 5) AS rate_treatment,
           round(p0, 5) AS rate_control,
           round(d, 5) AS rate_difference,
           round(d - sqrt(pow(p1 - l1, 2) + pow(u0 - p0, 2)), 5) AS ci_lower,
           round(d + sqrt(pow(u1 - p1, 2) + pow(p0 - l0, 2)), 5) AS ci_upper,
           (d - sqrt(pow(p1 - l1, 2) + pow(u0 - p0, 2))) > 0
             OR (d + sqrt(pow(u1 - p1, 2) + pow(p0 - l0, 2))) < 0
             AS significant
    FROM wilson
    """,
    tags=("experimentation", "estimation", "stats"),
)
def q_newcombe_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newcombe's hybrid-score CI for a conversion-rate DIFFERENCE:
    each arm gets a Wilson-style interval, and the difference CI
    combines the one-sided widths in quadrature — the method that
    stays honest at extreme rates and small arms where the naive
    Wald difference interval (p̂₁−p̂₀ ± 1.96·se) collapses to
    nonsense (zero-width at 0%, overshooting ±1); this is the
    number an A/B readout should print next to the lift
    (wilson_score_ranking covers single rates; experiments compare
    them). One user-grain aggregate, pure scalar algebra after."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    ).select(CUR.hash_bucket(F.col("user_id"), 2).alias("arm"), "conv")
    counts = users.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("double")
        .alias("k1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("double")
        .alias("k0"),
    )

    def wilson(k, n):
        p = k / n
        center = (k + 1.92) / (n + 3.84)
        half = 1.96 * F.sqrt(p * (1 - p) / n + 0.96 / n / n)
        return p, center - half, center + half

    p1, l1, u1 = wilson(F.col("k1"), F.col("n1"))
    p0, l0, u0 = wilson(F.col("k0"), F.col("n0"))
    d = p1 - p0
    lo = d - F.sqrt(F.pow(p1 - l1, 2) + F.pow(u0 - p0, 2))
    hi = d + F.sqrt(F.pow(u1 - p1, 2) + F.pow(p0 - l0, 2))
    return counts.select(
        F.round(p1, 5).alias("rate_treatment"),
        F.round(p0, 5).alias("rate_control"),
        F.round(d, 5).alias("rate_difference"),
        F.round(lo, 5).alias("ci_lower"),
        F.round(hi, 5).alias("ci_upper"),
        ((lo > 0) | (hi < 0)).alias("significant"),
    )


@register(
    "cohort_quality_trend",
    oracle="""
    WITH firstq AS (
      SELECT o_custkey,
             min(date_trunc('quarter', CAST(o_orderdate AS DATE))) AS q0
      FROM orders GROUP BY 1),
    early_value AS (
      SELECT f.o_custkey, f.q0, sum(o.o_totalprice) AS v90
      FROM firstq f JOIN orders o ON f.o_custkey = o.o_custkey
      WHERE CAST(o.o_orderdate AS DATE) < f.q0 + INTERVAL 90 DAY
      GROUP BY f.o_custkey, f.q0),
    cohorts AS (
      SELECT q0, CAST(count(*) AS DOUBLE) AS members,
             avg(v90) AS value_per_member,
             row_number() OVER (ORDER BY q0) AS qi
      FROM early_value GROUP BY q0),
    clipped AS (
      SELECT * FROM cohorts
      WHERE qi > 1 AND qi < (SELECT max(qi) FROM cohorts)),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cohorts,
             regr_slope(value_per_member, CAST(qi AS DOUBLE)) AS slope,
             avg(value_per_member) AS mean_value
      FROM clipped)
    SELECT n_cohorts,
           round(mean_value, 2) AS mean_90d_value,
           round(slope, 2) AS value_trend_per_quarter,
           round(100 * slope / mean_value, 3) AS trend_pct_per_quarter
    FROM fit
    """,
    tags=("cohort", "ltv", "regression"),
)
def q_cohort_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-quality trend — 'are newer customers worse': each
    acquisition quarter's average FIRST-90-DAY value per member
    (the fixed observation window makes cohorts comparable; naive
    lifetime totals mechanically favor old cohorts), regressed on
    cohort index with the censored first and last quarters dropped
    — a negative slope is the growth-quality deterioration that
    hides under healthy top-line acquisition (the saturating-
    channel signature; cohort_ltv_curve shows each curve, this
    tests the trend ACROSS them). One first-touch aggregate, one
    90-day-bounded join, one regr_slope."""
    o = _t(spark, sf_dir, "orders")
    firstq = o.groupBy("o_custkey").agg(
        F.min(
            F.date_trunc("quarter", F.col("o_orderdate").cast("date"))
        ).alias("q0")
    )
    early = (
        firstq.join(o, "o_custkey")
        .filter(
            F.col("o_orderdate").cast("date")
            < F.date_add(F.col("q0").cast("date"), 90)
        )
        .groupBy("o_custkey", "q0")
        .agg(F.sum("o_totalprice").alias("v90"))
    )
    cohorts = early.groupBy("q0").agg(
        F.count("*").cast("double").alias("members"),
        F.avg("v90").alias("value_per_member"),
    ).select(
        "*", F.row_number().over(Window.orderBy("q0")).alias("qi")
    )
    mx = cohorts.agg(F.max("qi").alias("mqi"))
    clipped = cohorts.crossJoin(F.broadcast(mx)).filter(
        (F.col("qi") > 1) & (F.col("qi") < F.col("mqi"))
    )
    fit = clipped.agg(
        F.count("*").cast("bigint").alias("n_cohorts"),
        F.expr("regr_slope(value_per_member, CAST(qi AS DOUBLE))").alias("slope"),
        F.avg("value_per_member").alias("mean_value"),
    )
    return fit.select(
        "n_cohorts",
        F.round("mean_value", 2).alias("mean_90d_value"),
        F.round("slope", 2).alias("value_trend_per_quarter"),
        F.round(100 * F.col("slope") / F.col("mean_value"), 3).alias(
            "trend_pct_per_quarter"
        ),
    )


@register(
    "persistent_heavy_hitters",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', CAST(l_shipdate AS DATE)) AS wk,
             l_partkey, sum(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2),
    ranked AS (
      SELECT wk, l_partkey,
             row_number() OVER (PARTITION BY wk ORDER BY q DESC, l_partkey)
               AS rk
      FROM weekly),
    recent AS (
      SELECT DISTINCT wk FROM weekly
      ORDER BY wk DESC LIMIT 12),
    tops AS (
      SELECT r.l_partkey, CAST(count(*) AS BIGINT) AS weeks_in_top20
      FROM ranked r JOIN recent USING (wk)
      WHERE rk <= 20 GROUP BY r.l_partkey),
    persistent AS (
      SELECT l_partkey, weeks_in_top20 FROM tops
      WHERE weeks_in_top20 >= 6)
    SELECT CAST((SELECT count(*) FROM tops) AS BIGINT)
             AS parts_ever_in_top20,
           CAST((SELECT count(*) FROM persistent) AS BIGINT)
             AS persistent_parts,
           round((SELECT count(*) FROM persistent)
                 / CAST((SELECT count(*) FROM tops) AS DOUBLE), 4)
             AS persistence_share,
           CAST((SELECT max(weeks_in_top20) FROM tops) AS BIGINT)
             AS max_weeks
    """,
    tags=("topk", "timeseries", "window"),
)
def q_persistent_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent heavy hitters: of everything that touched a
    weekly top-20 in the last 12 weeks, how many held that rank in
    ≥6 of them — the head-STABILITY measure a single top-k
    snapshot cannot give (a churning head means cache/prefetch
    policies keyed on last week's list are stale on arrival; a
    persistent one justifies pinning). Weekly ranks are partition-
    parallel windows; the persistence count is one aggregate over
    rank survivors — the query behind 'should the hot list be
    static config or a live feed'."""
    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.date_trunc("week", F.col("l_shipdate").cast("date")).alias("wk"),
        "l_partkey",
    ).agg(F.sum("l_quantity").alias("q"))
    ranked = weekly.select(
        "wk",
        "l_partkey",
        F.row_number()
        .over(Window.partitionBy("wk").orderBy(F.desc("q"), "l_partkey"))
        .alias("rk"),
    )
    recent = (
        weekly.select("wk").distinct().orderBy(F.desc("wk")).limit(12)
    )
    tops = (
        ranked.join(F.broadcast(recent), "wk")
        .filter(F.col("rk") <= 20)
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("weeks_in_top20"))
    )
    stats = tops.agg(
        F.count("*").cast("bigint").alias("parts_ever_in_top20"),
        F.sum(F.when(F.col("weeks_in_top20") >= 6, 1).otherwise(0))
        .cast("bigint")
        .alias("persistent_parts"),
        F.max("weeks_in_top20").alias("max_weeks"),
    )
    return stats.select(
        "parts_ever_in_top20",
        "persistent_parts",
        F.round(
            F.col("persistent_parts")
            / F.col("parts_ever_in_top20").cast("double"),
            4,
        ).alias("persistence_share"),
        F.col("max_weeks").cast("bigint").alias("max_weeks"),
    )


@register(
    "holm_stepdown",
    oracle=f"""
    WITH joined AS (
      SELECT n_name, o_totalprice AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    gl AS (SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM joined),
    per AS (
      SELECT n_name, CAST(count(*) AS DOUBLE) AS ni, avg(x) AS mi
      FROM joined GROUP BY n_name),
    scored AS (
      SELECT n_name,
             {normal_p_two_sided_sql('((mi - mu) / (sd / sqrt(ni)))')} AS p
      FROM per, gl),
    ranked AS (
      SELECT n_name, p,
             CAST(row_number() OVER (ORDER BY p, n_name) AS DOUBLE) AS k,
             CAST(count(*) OVER () AS DOUBLE) AS m
      FROM scored),
    flagged AS (
      SELECT n_name, p, k, m,
             CASE WHEN p <= 0.1 / (m - k + 1) THEN 0 ELSE 1 END AS fail
      FROM ranked),
    cutoff AS (
      SELECT coalesce(min(CASE WHEN fail = 1 THEN k END), 1e18) AS kstop
      FROM flagged)
    SELECT n_name, CAST(k AS BIGINT) AS p_rank,
           round(p, 6) AS p_value,
           k < kstop AS rejected_by_holm
    FROM flagged, cutoff ORDER BY k LIMIT 10
    """,
    tags=("stats", "multiple-testing", "window"),
)
def q_holm_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm's step-down procedure on the same per-nation screen as
    benjamini_hochberg_fdr: test the smallest p against α/m, the
    next against α/(m−1), …, and STOP at the first failure — every
    rejection before the stop controls the family-wise error rate
    with uniformly more power than plain Bonferroni and no
    independence assumptions (BH controls the laxer FDR; Holm is
    what you use when a single false positive is unacceptable).
    p-values are calibrated two-sided normal tails —
    erfc(|z|/√2) via the shared Abramowitz–Stegun approximation
    (normal_p_two_sided_col), so the α=0.1 thresholds genuinely
    control FWER at 0.1 rather than gating a monotone score. The
    stop index is a min-over-flags broadcast; the sequential-
    looking procedure is fully set-based."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", F.col("o_totalprice").alias("x"))
    )
    gl = joined.agg(F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd"))
    per = joined.groupBy("n_name").agg(
        F.count("*").cast("double").alias("ni"), F.avg("x").alias("mi")
    )
    z = (F.col("mi") - F.col("mu")) / (F.col("sd") / F.sqrt(F.col("ni")))
    scored = per.join(F.broadcast(gl)).select(
        "n_name", normal_p_two_sided_col(z).alias("p")
    )
    ranked = scored.select(
        "n_name",
        "p",
        F.row_number().over(Window.orderBy("p", "n_name")).cast("double").alias("k"),
        F.count("*").over(Window.partitionBy()).cast("double").alias("m"),
    )
    flagged = ranked.select(
        "*",
        F.when(F.col("p") <= 0.1 / (F.col("m") - F.col("k") + 1), 0)
        .otherwise(1)
        .alias("fail"),
    )
    cutoff = flagged.agg(
        F.coalesce(
            F.min(F.when(F.col("fail") == 1, F.col("k"))), F.lit(1e18)
        ).alias("kstop")
    )
    return (
        flagged.crossJoin(F.broadcast(cutoff))
        .orderBy("k")
        .limit(10)
        .select(
            "n_name",
            F.col("k").cast("bigint").alias("p_rank"),
            F.round("p", 6).alias("p_value"),
            (F.col("k") < F.col("kstop")).alias("rejected_by_holm"),
        )
    )


@register(
    "time_decay_attribution",
    oracle="""
    WITH purch AS (
      SELECT user_id, min(ts) AS pt FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
    touches AS (
      SELECT e.user_id, e.event_type AS channel,
             exp(-date_diff('day', CAST(e.ts AS DATE), CAST(p.pt AS DATE))
                 / 7.0) AS w
      FROM events e JOIN purch p ON e.user_id = p.user_id
      WHERE e.ts < p.pt
        AND e.event_type IN ('view', 'click', 'signup')),
    per_user AS (
      SELECT user_id, channel, sum(w) AS cw FROM touches GROUP BY 1, 2),
    norm AS (
      SELECT user_id, channel,
             cw / sum(cw) OVER (PARTITION BY user_id) AS credit
      FROM per_user)
    SELECT channel,
           round(sum(credit), 2) AS attributed_conversions,
           round(sum(credit) / sum(sum(credit)) OVER (), 4) AS credit_share
    FROM norm GROUP BY channel ORDER BY channel
    """,
    tags=("attribution", "marketing", "window"),
)
def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution (7-day e-folding): every pre-purchase
    touch earns exp(−age/7d) weight, normalized within user so each
    conversion distributes exactly one credit — the recency-
    weighted middle ground between last-touch (all credit at the
    end) and linear (flat), completing the attribution spectrum
    this catalog now spans: positional (touch_attribution),
    U-shaped, time-decay, and data-driven
    (markov_removal_attribution, shapley_attribution). Per-user
    normalization is one partitioned window over the user×channel
    weights; total credit sums to the converter count by
    construction — a built-in audit."""
    e = _t(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("pt")
    )
    touches = (
        e.join(purch, "user_id")
        .filter(
            (F.col("ts") < F.col("pt"))
            & F.col("event_type").isin("view", "click", "signup")
        )
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.exp(
                -F.datediff(F.to_date("pt"), F.to_date("ts")) / 7.0
            ).alias("w"),
        )
    )
    per_user = touches.groupBy("user_id", "channel").agg(F.sum("w").alias("cw"))
    wn = Window.partitionBy("user_id")
    norm = per_user.select(
        "channel", (F.col("cw") / F.sum("cw").over(wn)).alias("credit")
    )
    wall = Window.partitionBy()
    return (
        norm.groupBy("channel")
        .agg(F.sum("credit").alias("ac"))
        .select(
            "channel",
            F.round("ac", 2).alias("attributed_conversions"),
            F.round(F.col("ac") / F.sum("ac").over(wall), 4).alias(
                "credit_share"
            ),
        )
        .orderBy("channel")
    )


@register(
    "manski_bounds",
    oracle="""
    WITH users AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS responded
      FROM events GROUP BY user_id),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(responded) AS DOUBLE) AS nr,
             CAST(sum(CASE WHEN responded = 1 THEN conv ELSE 0 END)
                  AS DOUBLE) AS kr
      FROM users)
    SELECT CAST(n AS BIGINT) AS n_users,
           round(nr / n, 4) AS response_rate,
           round(kr / nr, 4) AS observed_rate_among_responders,
           round(kr / n, 4) AS manski_lower,
           round((kr + (n - nr)) / n, 4) AS manski_upper,
           round((n - nr) / n, 4) AS bound_width
    FROM agg
    """,
    tags=("survey", "estimation", "robust"),
)
def q_manski_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manski worst-case bounds under nonresponse: the conversion
    rate among signup 'responders' is point-identified, but the
    population rate is only known to lie between assume-all-
    nonresponders-converted-nothing and assume-they-all-converted —
    a bound whose width EQUALS the nonresponse rate, no assumptions
    at all (the partial-identification floor under every survey
    number; Lee bounds, lee_bounds_attrition, tighten this with a
    monotonicity assumption). Reporting the bounds next to the
    responder rate is the honesty every response-rate-40% survey
    claim owes its reader. One user-grain aggregate."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
            "responded"
        ),
    )
    agg = users.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("responded").cast("double").alias("nr"),
        F.sum(F.when(F.col("responded") == 1, F.col("conv")).otherwise(0))
        .cast("double")
        .alias("kr"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("nr") / F.col("n"), 4).alias("response_rate"),
        F.round(F.col("kr") / F.col("nr"), 4).alias(
            "observed_rate_among_responders"
        ),
        F.round(F.col("kr") / F.col("n"), 4).alias("manski_lower"),
        F.round((F.col("kr") + (F.col("n") - F.col("nr"))) / F.col("n"), 4).alias(
            "manski_upper"
        ),
        F.round((F.col("n") - F.col("nr")) / F.col("n"), 4).alias("bound_width"),
    )


@register(
    "turning_point_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT v,
             lag(v) OVER (ORDER BY d) AS pv,
             lead(v) OVER (ORDER BY d) AS nv
      FROM daily),
    tp AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_interior,
             CAST(sum(CASE WHEN (v > pv AND v > nv)
                           OR (v < pv AND v < nv)
                      THEN 1 ELSE 0 END) AS DOUBLE) AS turns
      FROM lagged WHERE pv IS NOT NULL AND nv IS NOT NULL)
    SELECT CAST(n_interior AS BIGINT) AS n_interior_points,
           CAST(turns AS BIGINT) AS turning_points,
           round(2.0 * n_interior / 3, 1) AS expected_if_iid,
           round((turns - 2 * n_interior / 3)
                 / sqrt((16 * n_interior - 29) / 90.0), 3) AS z_score
    FROM tp
    """,
    tags=("timeseries", "randomness", "stats"),
)
def q_turning_point_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test: count local maxima and minima in the
    daily series against the i.i.d. expectation 2(n−2)/3 with
    variance (16n−29)/90 — too FEW turns means smooth trending
    (positive autocorrelation), too MANY means oscillation — the
    third member of the randomness screen with runs
    (runs_test_randomness, above/below median) and von Neumann
    (successive differences): each is blind to patterns the others
    catch, which is why classical randomness batteries run all
    three. One lag+lead window, one conditional count."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
    ).filter(F.col("pv").isNotNull() & F.col("nv").isNotNull())
    is_turn = (
        ((F.col("v") > F.col("pv")) & (F.col("v") > F.col("nv")))
        | ((F.col("v") < F.col("pv")) & (F.col("v") < F.col("nv")))
    )
    tp = lagged.agg(
        F.count("*").cast("double").alias("n_interior"),
        F.sum(F.when(is_turn, 1).otherwise(0)).cast("double").alias("turns"),
    )
    return tp.select(
        F.col("n_interior").cast("bigint").alias("n_interior_points"),
        F.col("turns").cast("bigint").alias("turning_points"),
        F.round(2.0 * F.col("n_interior") / 3, 1).alias("expected_if_iid"),
        F.round(
            (F.col("turns") - 2 * F.col("n_interior") / 3)
            / F.sqrt((16 * F.col("n_interior") - 29) / 90.0),
            3,
        ).alias("z_score"),
    )


@register(
    "clark_evans_test",
    oracle="""
    WITH pts AS (
      SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      FROM embeddings),
    nnd AS (
      SELECT a.vec_id,
             min(sqrt(pow(a.x - b.x, 2) + pow(a.y - b.y, 2))) AS nn
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
      GROUP BY a.vec_id),
    bbox AS (
      SELECT (max(x) - min(x)) * (max(y) - min(y)) AS area,
             CAST(count(*) AS DOUBLE) AS n
      FROM pts),
    ce AS (
      SELECT avg(nn) AS robs, n, area,
             0.5 / sqrt(n / area) AS rexp
      FROM nnd, bbox GROUP BY n, area)
    SELECT CAST(n AS BIGINT) AS n_points,
           round(robs, 4) AS observed_mean_nn_dist,
           round(rexp, 4) AS csr_expected_dist,
           round(robs / rexp, 4) AS clark_evans_r,
           round((robs - rexp) / (0.26136 / sqrt(n * n / area)), 3)
             AS z_score
    FROM ce
    """,
    tags=("spatial", "point-pattern", "stats"),
)
def q_clark_evans_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clark-Evans nearest-neighbor test on the embedding cloud's
    first two dimensions: observed mean nearest-neighbor distance
    over the 0.5/√density expectation under complete spatial
    randomness — R<1 is clustering (here guaranteed by the labeled
    cluster structure dbscan_core_cells mapped; R quantifies HOW
    MUCH), R>1 is inhibition/dispersion, with the Donnelly z
    calibrating significance. The aggregate-level companion to
    ripleys_k_statistic (which resolves the SCALE of clustering;
    Clark-Evans is its one-number summary); the NN search is a
    min-over-pairs aggregate, at scale the grid-bucketed candidate
    join."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    a = pts.select(F.col("vec_id").alias("i"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("vec_id").alias("j"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    nnd = (
        a.join(b, F.col("i") != F.col("j"))
        .groupBy("i")
        .agg(
            F.min(
                F.sqrt(
                    F.pow(F.col("xa") - F.col("xb"), 2)
                    + F.pow(F.col("ya") - F.col("yb"), 2)
                )
            ).alias("nn")
        )
    )
    bbox = pts.agg(
        ((F.max("x") - F.min("x")) * (F.max("y") - F.min("y"))).alias("area"),
        F.count("*").cast("double").alias("n"),
    )
    ce = nnd.crossJoin(F.broadcast(bbox)).groupBy("n", "area").agg(
        F.avg("nn").alias("robs")
    )
    rexp = 0.5 / F.sqrt(F.col("n") / F.col("area"))
    return ce.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round("robs", 4).alias("observed_mean_nn_dist"),
        F.round(rexp, 4).alias("csr_expected_dist"),
        F.round(F.col("robs") / rexp, 4).alias("clark_evans_r"),
        F.round(
            (F.col("robs") - rexp)
            / (0.26136 / F.sqrt(F.col("n") * F.col("n") / F.col("area"))),
            3,
        ).alias("z_score"),
    )


@register(
    "benford_second_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 2, 1) AS INT) AS d
      FROM orders WHERE o_totalprice >= 10),
    obs AS (
      SELECT d, CAST(count(*) AS DOUBLE) AS c FROM digits GROUP BY d),
    tot AS (SELECT sum(c) AS n FROM obs),
    expected AS (
      SELECT d2 AS d,
             sum(ln(1 + 1.0 / (10 * d1 + d2)) / ln(10)) AS p
      FROM (SELECT unnest(generate_series(1, 9)) AS d1),
           (SELECT unnest(generate_series(0, 9)) AS d2)
      GROUP BY d2),
    chi AS (
      SELECT sum(pow(o.c - t.n * e.p, 2) / (t.n * e.p)) AS chi2
      FROM obs o JOIN expected e ON o.d = e.d, tot t)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_values,
           round(chi2, 4) AS second_digit_chi2,
           chi2 > 16.92 AS deviates_5pct
    FROM chi
    """,
    tags=("quality", "audit", "histogram"),
)
def q_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's SECOND-digit test on order totals: the expected
    distribution Σ_{d₁} log₁₀(1+1/(10d₁+d₂)) is nearly flat
    (10.0% down to 8.5%) — which is exactly why forensic
    accountants run it AFTER the first-digit screen
    (benford_first_digit): fabricators who learned to fake first
    digits still pick second digits uniformly or favor 0/5, and
    round-number pricing policies light it up too (the heaping
    signal of digit_preference_heaping at a different position).
    The expected law is computed in-query from the tiny d₁×d₂
    grid; χ² against 9 df."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 10)
    digits = o.select(
        F.substring(
            F.col("o_totalprice").cast("bigint").cast("string"), 2, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").cast("double").alias("c"))
    tot = obs.agg(F.sum("c").alias("n"))
    d1 = spark.range(1, 10).select(F.col("id").cast("int").alias("d1"))
    d2 = spark.range(0, 10).select(F.col("id").cast("int").alias("d2"))
    expected = (
        d1.crossJoin(d2)
        .groupBy(F.col("d2").alias("d"))
        .agg(
            F.sum(
                F.log(1 + 1.0 / (10 * F.col("d1") + F.col("d2")))
                / F.lit(math.log(10.0))
            ).alias("p")
        )
    )
    chi = (
        obs.join(F.broadcast(expected), "d")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.pow(F.col("c") - F.col("n") * F.col("p"), 2)
                / (F.col("n") * F.col("p"))
            ).alias("chi2"),
            F.first("n").alias("n"),
        )
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n_values"),
        F.round("chi2", 4).alias("second_digit_chi2"),
        (F.col("chi2") > 16.92).alias("deviates_5pct"),
    )


@register(
    "eigenvector_centrality",
    oracle="""
    WITH flows AS (
      SELECT cn.n_name AS a, sn.n_name AS b,
             sum(l_extendedprice * (1 - l_discount)) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1, 2),
    sym AS (
      SELECT a, b, sum(w) AS w FROM (
        SELECT a, b, w FROM flows
        UNION ALL SELECT b, a, w FROM flows)
      GROUP BY a, b),
    v1 AS (SELECT a, sum(w) AS v FROM sym GROUP BY a),
    n1 AS (SELECT sqrt(sum(v * v)) AS nn FROM v1),
    u1 AS (SELECT a, v / nn AS v FROM v1, n1),
    v2 AS (SELECT sym.a AS a, sum(w * u1.v) AS v
           FROM sym JOIN u1 ON sym.b = u1.a GROUP BY sym.a),
    n2 AS (SELECT sqrt(sum(v * v)) AS nn FROM v2),
    u2 AS (SELECT a, v / nn AS v FROM v2, n2),
    v3 AS (SELECT sym.a AS a, sum(w * u2.v) AS v
           FROM sym JOIN u2 ON sym.b = u2.a GROUP BY sym.a),
    n3 AS (SELECT sqrt(sum(v * v)) AS nn FROM v3),
    u3 AS (SELECT a, v / nn AS v FROM v3, n3)
    SELECT a AS n_name, round(v, 5) AS centrality
    FROM u3 ORDER BY v DESC, a LIMIT 10
    """,
    tags=("graph", "iterative", "ranking"),
)
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the nation trade graph (symmetrized
    revenue flows) by three unrolled power iterations with
    normalization between steps — a nation is central in proportion
    to how central its TRADING PARTNERS are, the recursive
    importance notion degree centrality misses (a hub wired to
    peripheries scores below a modest node wired to hubs; PageRank,
    pagerank_graph, is this plus damping and out-degree
    normalization). Each iteration is one join-aggregate against
    the |nations|² flow matrix built from a single star-join
    pass. The flow matrix is `materialize`d (operators/iterate.py)
    before the loop: without that, every power step's plan re-embeds
    — and re-executes — the full star join (216 exchanges in round
    1's PLANS_AUDIT; <10 now)."""
    from ...operators.iterate import iterate, materialize

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("a"))
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("b"))
    flows = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("w"))
    )
    sym = materialize(
        flows.select("a", "b", "w")
        .unionAll(flows.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )

    def step(v, _i=0):
        vr = v.select(F.col("a").alias("b"), F.col("v").alias("vb"))
        raw = (
            sym.join(F.broadcast(vr), "b")
            .groupBy("a")
            .agg(F.sum(F.col("w") * F.col("vb")).alias("v"))
        )
        nn = raw.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nn"))
        return raw.crossJoin(F.broadcast(nn)).select(
            "a", (F.col("v") / F.col("nn")).alias("v")
        )

    v1 = sym.groupBy("a").agg(F.sum("w").alias("v"))
    n1 = v1.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nn"))
    u = v1.crossJoin(F.broadcast(n1)).select(
        "a", (F.col("v") / F.col("nn")).alias("v")
    )
    u = iterate(u, step, 2)
    return (
        u.orderBy(F.desc("v"), "a")
        .limit(10)
        .select(F.col("a").alias("n_name"), F.round("v", 5).alias("centrality"))
    )


@register(
    "waterfilling_allocation",
    oracle="""
    WITH demands AS (
      SELECT p_brand, CAST(sum(l_quantity) AS DOUBLE) AS d
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand),
    budget AS (SELECT 0.6 * sum(d) AS b,
                      CAST(count(*) AS DOUBLE) AS k FROM demands),
    sorted_d AS (
      SELECT d, row_number() OVER (ORDER BY d, p_brand) AS rk,
             sum(d) OVER (ORDER BY d, p_brand) AS cum
      FROM demands),
    levels AS (
      SELECT d, rk, cum,
             (b - (cum - d * 1)) / (k - rk + 1) AS _x,
             ((SELECT b FROM budget) - (cum - d))
               / ((SELECT k FROM budget) - rk + 1) AS level_if_here
      FROM sorted_d, budget),
    feasible AS (
      SELECT min(CASE WHEN level_if_here < d THEN level_if_here END)
               AS lam
      FROM levels),
    final_lam AS (
      SELECT coalesce(lam, 1e18) AS lam FROM feasible),
    alloc AS (
      SELECT sum(least(d, lam)) AS allocated,
             CAST(sum(CASE WHEN d > lam THEN 1 ELSE 0 END) AS BIGINT)
               AS capped_brands,
             any_value(lam) AS lam
      FROM demands, final_lam)
    SELECT round((SELECT b FROM budget), 1) AS budget,
           round(allocated, 1) AS allocated,
           round(lam, 2) AS fair_share_level,
           capped_brands
    FROM alloc
    """,
    tags=("allocation", "window", "decision"),
)
def q_waterfilling_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of 60% of total
    demand across brands: everyone gets min(demand, λ) where the
    water level λ makes the allocations exactly exhaust the budget
    — small demands are fully satisfied, large ones capped at the
    common level, the fairness criterion behind TCP bandwidth
    sharing and multi-tenant quota systems (contrast
    fractional_knapsack_budget, which maximizes VALUE and starves
    low-density users by design). λ has a closed form at each
    sorted position — (remaining budget)/(remaining claimants) —
    found with one prefix-sum window and a min-over-feasible
    reduction, no iteration."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    demands = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").cast("double").alias("d"))
    )
    budget = demands.agg(
        (0.6 * F.sum("d")).alias("b"), F.count("*").cast("double").alias("k")
    )
    wv = Window.orderBy("d", "p_brand")
    sorted_d = demands.select(
        "d",
        F.row_number().over(wv).alias("rk"),
        F.sum("d").over(wv.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    levels = sorted_d.crossJoin(F.broadcast(budget)).select(
        "d",
        (
            (F.col("b") - (F.col("cum") - F.col("d")))
            / (F.col("k") - F.col("rk") + 1)
        ).alias("level_if_here"),
    )
    feasible = levels.agg(
        F.min(
            F.when(F.col("level_if_here") < F.col("d"), F.col("level_if_here"))
        ).alias("lam")
    )
    final_lam = feasible.select(
        F.coalesce("lam", F.lit(1e18)).alias("lam")
    )
    alloc = demands.crossJoin(F.broadcast(final_lam)).agg(
        F.sum(F.least(F.col("d"), F.col("lam"))).alias("allocated"),
        F.sum(F.when(F.col("d") > F.col("lam"), 1).otherwise(0))
        .cast("bigint")
        .alias("capped_brands"),
        F.first("lam").alias("lam"),
    )
    return alloc.crossJoin(F.broadcast(budget)).select(
        F.round("b", 1).alias("budget"),
        F.round("allocated", 1).alias("allocated"),
        F.round("lam", 2).alias("fair_share_level"),
        "capped_brands",
    )


@register(
    "clr_composition_drift",
    oracle="""
    WITH shares AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2),
    geo AS (
      SELECT yr, exp(avg(ln(r))) AS gm FROM shares GROUP BY yr),
    clr AS (
      SELECT n_name, shares.yr, ln(r / gm) AS c
      FROM shares JOIN geo ON shares.yr = geo.yr),
    drift AS (
      SELECT a.n_name, b.c - a.c AS dclr
      FROM clr a JOIN clr b
        ON a.n_name = b.n_name AND a.yr = 1996 AND b.yr = 1997)
    SELECT n_name, round(dclr, 5) AS clr_drift,
           round(100 * (exp(dclr) - 1), 2) AS relative_share_change_pct
    FROM drift ORDER BY abs(dclr) DESC, n_name LIMIT 8
    """,
    tags=("economics", "decomposition", "stats"),
)
def q_clr_composition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compositional drift in centered-log-ratio space (Aitchison):
    each nation's revenue share is expressed as ln(share/geometric-
    mean-share) per year, and the YoY difference measures movement
    RELATIVE to the whole composition — the correct geometry for
    share data, where raw share differences double-count (every
    gain is someone's loss by construction, so naive Δshare
    correlations are spuriously negative) and CLR drift sums to
    zero across nations by identity. The geometric mean is the
    exp-avg-ln device per year; drift is a year-pair self-join on
    the |nations| relation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    shares = (
        o.filter(F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    geo = shares.groupBy("yr").agg(F.exp(F.avg(F.log("r"))).alias("gm"))
    clr = shares.join(F.broadcast(geo), "yr").select(
        "n_name", "yr", F.log(F.col("r") / F.col("gm")).alias("c")
    )
    a = clr.filter(F.col("yr") == 1996).select("n_name", F.col("c").alias("c0"))
    b = clr.filter(F.col("yr") == 1997).select("n_name", F.col("c").alias("c1"))
    drift = a.join(b, "n_name").select(
        "n_name", (F.col("c1") - F.col("c0")).alias("dclr")
    )
    return (
        drift.orderBy(F.abs(F.col("dclr")).desc(), "n_name")
        .limit(8)
        .select(
            "n_name",
            F.round("dclr", 5).alias("clr_drift"),
            F.round(100 * (F.exp("dclr") - 1), 2).alias(
                "relative_share_change_pct"
            ),
        )
    )


@register(
    "post_stratified_effect",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS stratum,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey),
    pop AS (
      SELECT stratum, CAST(count(*) AS DOUBLE) AS n FROM obs GROUP BY 1),
    tot AS (SELECT sum(n) AS nn FROM pop),
    strata AS (
      SELECT stratum,
             avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff,
             var_samp(CASE WHEN g = 1 THEN y END)
               / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             + var_samp(CASE WHEN g = 0 THEN y END)
               / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS v
      FROM obs GROUP BY stratum),
    raw AS (
      SELECT avg(CASE WHEN g = 1 THEN y END)
               - avg(CASE WHEN g = 0 THEN y END) AS eff
      FROM obs),
    ps AS (
      SELECT sum((n / nn) * eff) AS eff_ps,
             sum(pow(n / nn, 2) * v) AS var_ps
      FROM strata JOIN pop USING (stratum), tot)
    SELECT round((SELECT eff FROM raw), 4) AS raw_effect,
           round(eff_ps, 4) AS post_stratified_effect,
           round(sqrt(var_ps), 4) AS post_stratified_se
    FROM ps
    """,
    tags=("experimentation", "stats", "weighting"),
)
def q_post_stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment effect: the weekend contrast
    estimated inside each nation stratum and recombined with
    POPULATION weights nₛ/N — the estimator that removes any
    imbalance in how treatment exposure falls across strata (the
    raw effect silently reweights by exposure share, so a stratum
    with more weekends counts more; post-stratification restores
    the population estimand). Differs from meta_analysis_pooled's
    inverse-VARIANCE weights, which answer a different question —
    precision-optimal common effect vs population-average effect;
    choosing between them IS the estimand decision. One grouped
    pass; the SE composes stratum variances quadratically."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    obs = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("stratum"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    pop = obs.groupBy("stratum").agg(F.count("*").cast("double").alias("n"))
    tot = pop.agg(F.sum("n").alias("nn"))
    strata = obs.groupBy("stratum").agg(
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
    )
    raw = obs.agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("y")))
            - F.avg(F.when(F.col("g") == 0, F.col("y")))
        ).alias("raw_eff")
    )
    ps = (
        strata.join(pop, "stratum")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("n") / F.col("nn")) * F.col("eff")).alias("eff_ps"),
            F.sum(F.pow(F.col("n") / F.col("nn"), 2) * F.col("v")).alias(
                "var_ps"
            ),
        )
    )
    return ps.crossJoin(F.broadcast(raw)).select(
        F.round("raw_eff", 4).alias("raw_effect"),
        F.round("eff_ps", 4).alias("post_stratified_effect"),
        F.round(F.sqrt("var_ps"), 4).alias("post_stratified_se"),
    )


@register(
    "generalization_ladder",
    oracle="""
    WITH base AS (
      SELECT n_name, CAST(o_orderdate AS DATE) AS d, o_orderpriority AS pri
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    levels AS (
      SELECT 'L0_month' AS level, n_name AS qi1,
             CAST(date_trunc('month', d) AS VARCHAR) AS qi2, pri AS qi3
      FROM base
      UNION ALL
      SELECT 'L1_quarter', n_name,
             CAST(date_trunc('quarter', d) AS VARCHAR), pri
      FROM base
      UNION ALL
      SELECT 'L2_year', n_name, CAST(year(d) AS VARCHAR), '*'
      FROM base),
    classes AS (
      SELECT level, qi1, qi2, qi3, CAST(count(*) AS DOUBLE) AS k
      FROM levels GROUP BY 1, 2, 3, 4)
    SELECT level,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(k) AS BIGINT) AS min_k,
           round(sum(CASE WHEN k < 5 THEN k ELSE 0 END) / sum(k), 4)
             AS at_risk_share
    FROM classes GROUP BY level ORDER BY level
    """,
    tags=("privacy", "audit", "rollup"),
)
def q_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-anonymity generalization ladder: the same
    quasi-identifier tuple at three coarseness levels (month →
    quarter → year-with-priority-suppressed), reporting class
    count, worst-case k, and at-risk share at each rung — the
    privacy-utility TRADE-OFF as one result set (each
    generalization step buys k and costs analytic resolution;
    k_anonymity_audit showed one rung, the release decision needs
    the ladder). All three levels stack into one grouped count —
    the lattice walk costs one scan, so the anonymization search
    can afford to be exhaustive."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.col("o_orderdate").cast("date").alias("d"),
            F.col("o_orderpriority").alias("pri"),
        )
    )
    l0 = base.select(
        F.lit("L0_month").alias("level"),
        F.col("n_name").alias("qi1"),
        F.date_trunc("month", F.col("d")).cast("string").alias("qi2"),
        F.col("pri").alias("qi3"),
    )
    l1 = base.select(
        F.lit("L1_quarter").alias("level"),
        F.col("n_name").alias("qi1"),
        F.date_trunc("quarter", F.col("d")).cast("string").alias("qi2"),
        F.col("pri").alias("qi3"),
    )
    l2 = base.select(
        F.lit("L2_year").alias("level"),
        F.col("n_name").alias("qi1"),
        F.year("d").cast("string").alias("qi2"),
        F.lit("*").alias("qi3"),
    )
    classes = (
        l0.unionAll(l1)
        .unionAll(l2)
        .groupBy("level", "qi1", "qi2", "qi3")
        .agg(F.count("*").cast("double").alias("k"))
    )
    return (
        classes.groupBy("level")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.min("k").cast("bigint").alias("min_k"),
            F.round(
                F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0.0))
                / F.sum("k"),
                4,
            ).alias("at_risk_share"),
        )
        .orderBy("level")
    )


@register(
    "huber_m_estimate",
    oracle="""
    WITH x AS (SELECT o_totalprice AS v FROM orders),
    m0 AS (SELECT CAST(quantile_cont(v, 0.5) AS DOUBLE) AS mu FROM x),
    s0 AS (SELECT CAST(quantile_cont(abs(v - mu), 0.5) AS DOUBLE) * 1.4826
             AS s FROM x, m0),
    it1 AS (
      SELECT sum(v * least(1, 1.345 * s / abs(v - mu)))
             / sum(least(1, 1.345 * s / abs(v - mu))) AS mu
      FROM x, m0, s0 WHERE abs(v - mu) > 1e-9),
    it2 AS (
      SELECT sum(v * least(1, 1.345 * s / abs(v - it1.mu)))
             / sum(least(1, 1.345 * s / abs(v - it1.mu))) AS mu
      FROM x, it1, s0 WHERE abs(v - it1.mu) > 1e-9),
    cls AS (SELECT avg(v) AS mean_v FROM x)
    SELECT round((SELECT mu FROM m0), 2) AS median_start,
           round((SELECT mu FROM it2), 2) AS huber_location,
           round(mean_v, 2) AS classical_mean,
           round(mean_v - (SELECT mu FROM it2), 2) AS mean_minus_huber
    FROM cls
    """,
    tags=("robust", "stats", "iterative"),
)
def q_huber_m_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber's M-estimator of location, two IRLS steps from the
    median with MAD·1.4826 scale: observations inside 1.345σ keep
    full weight, outside get down-weighted by c·σ/|residual| — the
    estimator that is 95% efficient at the Gaussian AND bounded-
    influence under contamination, the principled middle ground
    between the mean (0% breakdown) and the median (37% Gaussian
    efficiency) that biweight_midvariance occupies for SCALE. Each
    IRLS step is one weighted aggregate; the mean−Huber gap reads
    how much the classical mean is outlier-driven."""
    o = _t(spark, sf_dir, "orders")
    x = o.select(F.col("o_totalprice").alias("v"))
    m0 = x.agg(F.expr("percentile(v, 0.5)").alias("mu"))
    s0 = x.crossJoin(F.broadcast(m0)).agg(
        (F.expr("percentile(abs(v - mu), 0.5)") * 1.4826).alias("s")
    )

    def irls(mu_df):
        w = F.least(
            F.lit(1.0), 1.345 * F.col("s") / F.abs(F.col("v") - F.col("mu"))
        )
        return (
            x.crossJoin(F.broadcast(mu_df))
            .crossJoin(F.broadcast(s0))
            .filter(F.abs(F.col("v") - F.col("mu")) > 1e-9)
            .agg((F.sum(F.col("v") * w) / F.sum(w)).alias("mu"))
        )

    it1 = irls(m0)
    it2 = irls(it1)
    cls = x.agg(F.avg("v").alias("mean_v"))
    return (
        cls.crossJoin(F.broadcast(m0.select(F.col("mu").alias("mu0"))))
        .crossJoin(F.broadcast(it2.select(F.col("mu").alias("muh"))))
        .select(
            F.round("mu0", 2).alias("median_start"),
            F.round("muh", 2).alias("huber_location"),
            F.round("mean_v", 2).alias("classical_mean"),
            F.round(F.col("mean_v") - F.col("muh"), 2).alias(
                "mean_minus_huber"
            ),
        )
    )


@register(
    "bradley_terry_strengths",
    oracle="""
    WITH rev AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    duels AS (
      SELECT a.n_name AS i, b.n_name AS j,
             CAST(sum(CASE WHEN a.r > b.r THEN 1 ELSE 0 END) AS DOUBLE)
               AS wij,
             CAST(count(*) AS DOUBLE) AS nij
      FROM rev a JOIN rev b ON a.yr = b.yr AND a.n_name <> b.n_name
      GROUP BY 1, 2),
    wins AS (SELECT i, sum(wij) AS w FROM duels GROUP BY i),
    s1 AS (
      SELECT wins.i, w / sum(nij / (1 + 1)) AS s
      FROM wins JOIN duels ON wins.i = duels.i GROUP BY wins.i, w),
    s2 AS (
      SELECT d.i, any_value(wi.w) / sum(d.nij / (si.s + sj.s)) AS s
      FROM duels d
      JOIN wins wi ON d.i = wi.i
      JOIN s1 si ON d.i = si.i
      JOIN s1 sj ON d.j = sj.i
      GROUP BY d.i),
    nrm AS (SELECT sum(s) AS z FROM s2)
    SELECT i AS n_name, round(s / z, 5) AS bt_strength
    FROM s2, nrm ORDER BY s DESC, i LIMIT 10
    """,
    tags=("ranking", "iterative", "stats"),
)
def q_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths from the yearly nation-revenue duel
    matrix, two unrolled minorization-maximization steps: sᵢ ←
    wᵢ/Σⱼnᵢⱼ/(sᵢ+sⱼ) from a uniform start — the probabilistic
    pairwise-comparison model behind chess Elo, LLM-arena
    leaderboards, and A/B-test ranking, which borda_condorcet_
    ranking's counting methods approximate without a likelihood
    (BT additionally yields win PROBABILITIES sᵢ/(sᵢ+sⱼ) for
    unplayed pairs). Each MM step is one join-aggregate over the
    |nations|² duel relation; strengths normalize to sum 1. The duel
    matrix is `materialize`d once (operators/iterate.py) so the MM
    steps iterate over 600 materialized rows instead of re-embedding
    the fact-table join per step (212 exchanges → <10)."""
    from ...operators.iterate import iterate, materialize

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    a = rev.select(F.col("n_name").alias("i"), "yr", F.col("r").alias("ra"))
    b = rev.select(F.col("n_name").alias("j"), "yr", F.col("r").alias("rb"))
    duels = materialize(
        a.join(b, "yr")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.when(F.col("ra") > F.col("rb"), 1).otherwise(0))
            .cast("double")
            .alias("wij"),
            F.count("*").cast("double").alias("nij"),
        )
    )
    wins = duels.groupBy("i").agg(F.sum("wij").alias("w"))

    def mm(s_df, _i=0):
        si = s_df.select(F.col("i"), F.col("s").alias("si"))
        sj = s_df.select(F.col("i").alias("j"), F.col("s").alias("sj"))
        return (
            duels.join(F.broadcast(si), "i")
            .join(F.broadcast(sj), "j")
            .groupBy("i")
            .agg(F.sum(F.col("nij") / (F.col("si") + F.col("sj"))).alias("den"))
            .join(F.broadcast(wins), "i")
            .select("i", (F.col("w") / F.col("den")).alias("s"))
        )

    s0 = wins.select("i", F.lit(1.0).alias("s"))
    s2 = iterate(s0, mm, 2)
    nrm = s2.agg(F.sum("s").alias("z"))
    return (
        s2.crossJoin(F.broadcast(nrm))
        .orderBy(F.desc("s"), "i")
        .limit(10)
        .select(
            F.col("i").alias("n_name"),
            F.round(F.col("s") / F.col("z"), 5).alias("bt_strength"),
        )
    )


@register(
    "woe_monotonicity_check",
    oracle="""
    WITH cells AS (
      SELECT l_discount AS disc,
             CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS DOUBLE) AS g,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS b
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(g) AS tg, sum(b) AS tb FROM cells),
    woe AS (
      SELECT disc, ln((g / tg) / (b / tb)) AS w
      FROM cells, tot),
    seq AS (
      SELECT disc, w, lag(w) OVER (ORDER BY disc) AS pw
      FROM woe),
    checks AS (
      SELECT CAST(count(pw) AS BIGINT) AS n_transitions,
             CAST(sum(CASE WHEN w > pw THEN 1 ELSE 0 END) AS BIGINT) AS ups,
             CAST(sum(CASE WHEN w < pw THEN 1 ELSE 0 END) AS BIGINT) AS downs
      FROM seq)
    SELECT n_transitions, ups, downs,
           least(ups, downs) AS monotonicity_violations,
           least(ups, downs) = 0 AS is_monotone
    FROM checks
    """,
    tags=("ml", "binning", "audit"),
)
def q_woe_monotonicity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonicity audit of the WoE profile
    (weight_of_evidence_iv): count up- and down-transitions along
    the ordered discount bins — credit-scoring governance requires
    monotone WoE before a variable ships (a non-monotone profile
    means either noise bins that need merging or a genuinely
    U-shaped relationship that a linear scorecard will misprice),
    and min(ups, downs) counts exactly the violations a
    pool-adjacent-violators merge would have to fix. One lag
    window over the |bins| relation on top of the existing WoE
    aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(F.col("l_discount").alias("disc")).agg(
        F.count_if(F.col("l_returnflag") != "R").cast("double").alias("g"),
        F.count_if(F.col("l_returnflag") == "R").cast("double").alias("b"),
    )
    tot = cells.agg(F.sum("g").alias("tg"), F.sum("b").alias("tb"))
    woe = cells.crossJoin(F.broadcast(tot)).select(
        "disc",
        F.log((F.col("g") / F.col("tg")) / (F.col("b") / F.col("tb"))).alias("w"),
    )
    from ...operators.rank import global_ranked

    seq = global_ranked(woe, ["disc"], lag={"pw": F.col("w")}).select(
        "w", "pw"
    )
    checks = seq.agg(
        F.count("pw").cast("bigint").alias("n_transitions"),
        F.sum(F.when(F.col("w") > F.col("pw"), 1).otherwise(0))
        .cast("bigint")
        .alias("ups"),
        F.sum(F.when(F.col("w") < F.col("pw"), 1).otherwise(0))
        .cast("bigint")
        .alias("downs"),
    )
    return checks.select(
        "n_transitions",
        "ups",
        "downs",
        F.least("ups", "downs").alias("monotonicity_violations"),
        (F.least("ups", "downs") == 0).alias("is_monotone"),
    )


@register(
    "routine_entropy_index",
    oracle="""
    WITH slots AS (
      SELECT user_id,
             dayofweek(CAST(ts AS DATE)) * 24 + hour(ts) AS slot,
             CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2),
    per_user AS (
      SELECT user_id,
             ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h,
             CAST(count(*) AS DOUBLE) AS n_slots,
             sum(c) AS n_events
      FROM slots GROUP BY user_id
      HAVING sum(c) >= 20),
    idx AS (
      SELECT user_id, 1 - h / ln(168.0) AS routine
      FROM per_user)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(routine), 4) AS mean_routine_index,
           round(CAST(quantile_cont(routine, 0.1) AS DOUBLE), 4)
             AS p10_spontaneous,
           round(CAST(quantile_cont(routine, 0.9) AS DOUBLE), 4)
             AS p90_routinized
    FROM idx
    """,
    tags=("events", "information", "session"),
)
def q_routine_entropy_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routine index per user: 1 − H/ln(168) over the 168
    weekday-hour slots — 0 is a uniformly spread (unpredictable)
    user, 1 lives in one weekly slot — the temporal-regularity
    measure from human-mobility research (Song et al.'s
    predictability bound starts exactly here) that segments users
    for send-time optimization and capacity shaping far better
    than raw frequency. The per-user entropy uses the streaming-
    friendly ln(n)−Σc·ln(c)/n identity (l_diversity_audit's
    device) so the whole population's indices come from two
    stacked aggregates; a ≥20-event floor keeps the estimates
    meaningful."""
    e = _t(spark, sf_dir, "events")
    slots = e.groupBy(
        "user_id",
        (
            F.dayofweek(F.to_date("ts")) * 24 + F.hour("ts")
        ).alias("slot"),
    ).agg(F.count("*").cast("double").alias("c"))
    per_user = (
        slots.groupBy("user_id")
        .agg(
            (
                F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")
            ).alias("h"),
            F.sum("c").alias("n_events"),
        )
        .filter(F.col("n_events") >= 20)
    )
    idx = per_user.select(
        (1 - F.col("h") / F.lit(math.log(168.0))).alias("routine")
    )
    return idx.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("routine"), 4).alias("mean_routine_index"),
        F.round(F.expr("percentile(routine, 0.1)"), 4).alias(
            "p10_spontaneous"
        ),
        F.round(F.expr("percentile(routine, 0.9)"), 4).alias(
            "p90_routinized"
        ),
    )


@register(
    "wald_iv_with_first_stage",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN s_nationkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS z,
             l_discount AS x,
             CAST(l_quantity AS DOUBLE) AS y
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
    mom AS (
      SELECT covar_samp(z, y) AS szy, covar_samp(z, x) AS szx,
             corr(z, x) AS rzx,
             CAST(count(*) AS DOUBLE) AS n
      FROM obs),
    iv AS (
      SELECT szy / szx AS beta_iv,
             rzx * rzx / (1 - rzx * rzx) * (n - 2) AS f_first,
             n
      FROM mom)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(beta_iv, 4) AS iv_estimate,
           round(f_first, 2) AS first_stage_f,
           f_first < 10 AS weak_instrument
    FROM iv
    """,
    tags=("causal", "regression", "audit"),
)
def q_wald_iv_with_first_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald instrumental-variable estimate with its first-stage
    diagnostic: β_IV = cov(z,y)/cov(z,x) using supplier-nation
    parity as the instrument for discount's effect on quantity,
    REPORTED WITH the first-stage F — the Stock-Yogo discipline
    that an IV estimate without F > 10 is noise amplified by a
    near-zero denominator (weak instruments bias IV TOWARD the
    confounded OLS it was meant to fix, the worst of both worlds).
    Both the estimate and its own validity check come from one
    moments aggregate; the weak_instrument flag makes the estimate
    self-invalidating."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    obs = li.join(s, li["l_suppkey"] == s["s_suppkey"]).select(
        F.when(F.col("s_nationkey") % 2 == 0, 1.0).otherwise(0.0).alias("z"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    mom = obs.agg(
        F.covar_samp("z", "y").alias("szy"),
        F.covar_samp("z", "x").alias("szx"),
        F.corr("z", "x").alias("rzx"),
        F.count("*").cast("double").alias("n"),
    )
    f_first = (
        F.col("rzx") * F.col("rzx") / (1 - F.col("rzx") * F.col("rzx"))
    ) * (F.col("n") - 2)
    return mom.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("szy") / F.col("szx"), 4).alias("iv_estimate"),
        F.round(f_first, 2).alias("first_stage_f"),
        (f_first < 10).alias("weak_instrument"),
    )


@register(
    "mase_eval",
    oracle="""
    WITH daily AS (
      SELECT n_name, CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12')
      GROUP BY 1, 2),
    fc AS (
      SELECT n_name, y,
             lag(y, 7) OVER (PARTITION BY n_name ORDER BY d) AS f,
             lag(y, 1) OVER (PARTITION BY n_name ORDER BY d) AS naive
      FROM daily),
    scored AS (
      SELECT n_name,
             avg(abs(y - f)) AS mae_model,
             avg(abs(y - naive)) AS mae_naive_insample
      FROM fc WHERE f IS NOT NULL GROUP BY n_name)
    SELECT n_name,
           round(mae_model, 1) AS mae_seasonal,
           round(mae_naive_insample, 1) AS mae_naive,
           round(mae_model / mae_naive_insample, 4) AS mase,
           mae_model / mae_naive_insample < 1 AS beats_naive
    FROM scored ORDER BY n_name
    """,
    tags=("forecast", "eval", "window"),
)
def q_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) for the seasonal-naive
    forecast across three nations: each series' model MAE divided
    by its OWN one-step-naive MAE — the Hyndman-Koehler
    scale-free metric that makes error comparable ACROSS series of
    wildly different volumes (raw MAE would rank the forecasts by
    nation size, not skill; percentage errors explode near zero).
    MASE < 1 reads directly as 'beats the naive walk'. Both MAEs
    come from one two-lag partitioned window pass per series —
    the cross-series league table costs one scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_12"))),
            c["c_nationkey"] == n["n_nationkey"],
        )
        .groupBy("n_name", F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    w = Window.partitionBy("n_name").orderBy("d")
    fc = daily.select(
        "n_name",
        "y",
        F.lag("y", 7).over(w).alias("f"),
        F.lag("y", 1).over(w).alias("naive"),
    ).filter(F.col("f").isNotNull())
    scored = fc.groupBy("n_name").agg(
        F.avg(F.abs(F.col("y") - F.col("f"))).alias("mae_model"),
        F.avg(F.abs(F.col("y") - F.col("naive"))).alias("mae_naive"),
    )
    return scored.select(
        "n_name",
        F.round("mae_model", 1).alias("mae_seasonal"),
        F.round("mae_naive", 1).alias("mae_naive"),
        F.round(F.col("mae_model") / F.col("mae_naive"), 4).alias("mase"),
        (F.col("mae_model") / F.col("mae_naive") < 1).alias("beats_naive"),
    ).orderBy("n_name")


@register(
    "mean_cumulative_function",
    oracle="""
    WITH users AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS t0
      FROM events GROUP BY user_id),
    nu AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM users),
    recurrent AS (
      SELECT date_diff('day', u.t0, CAST(e.ts AS DATE)) AS age
      FROM events e JOIN users u ON e.user_id = u.user_id
      WHERE e.event_type = 'purchase'),
    horizons AS (SELECT unnest([30, 60, 90, 180]) AS h)
    SELECT CAST(h AS BIGINT) AS horizon_days,
           round(sum(CASE WHEN age <= h THEN 1 ELSE 0 END) / n, 4)
             AS mcf,
           CAST(sum(CASE WHEN age <= h THEN 1 ELSE 0 END) AS BIGINT)
             AS cumulative_events
    FROM recurrent CROSS JOIN horizons, nu
    GROUP BY h, n
    """,
    tags=("survival", "events", "cohort"),
)
def q_mean_cumulative_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cumulative function for RECURRENT purchases: expected
    cumulative events per user by age 30/60/90/180 days since first
    contact — the recurrent-event analysis Kaplan-Meier
    (kaplan_meier_conversion) cannot do, because KM dies at the
    FIRST event while repeat purchases, repairs, and readmissions
    keep counting (the reliability-engineering MCF, Nelson's
    estimator in its uncensored form). One age relation, all four
    horizons from the cross-join sweep; the MCF's slope between
    horizons is the recurrence RATE at that age — the quantity
    repeat-revenue forecasts integrate."""
    e = _t(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("t0"))
    nu = users.agg(F.count("*").cast("double").alias("n"))
    recurrent = (
        e.filter(F.col("event_type") == "purchase")
        .join(users, "user_id")
        .select(F.datediff(F.to_date("ts"), F.col("t0")).alias("age"))
    )
    horizons = local_df(spark, [(30,), (60,), (90,), (180,)], "h int")
    return (
        recurrent.crossJoin(F.broadcast(horizons))
        .crossJoin(F.broadcast(nu))
        .groupBy("h", "n")
        .agg(
            F.sum(F.when(F.col("age") <= F.col("h"), 1).otherwise(0)).alias("ce")
        )
        .select(
            F.col("h").cast("bigint").alias("horizon_days"),
            F.round(F.col("ce") / F.col("n"), 4).alias("mcf"),
            F.col("ce").cast("bigint").alias("cumulative_events"),
        )
    )


@register(
    "getis_ord_hotspots",
    oracle="""
    WITH pts AS (
      SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      FROM embeddings),
    cells AS (
      SELECT CAST(floor(x / 0.1) AS BIGINT) AS cx,
             CAST(floor(y / 0.1) AS BIGINT) AS cy,
             CAST(count(*) AS DOUBLE) AS v
      FROM pts GROUP BY 1, 2),
    gl AS (
      SELECT avg(v) AS xbar, stddev_samp(v) AS s,
             CAST(count(*) AS DOUBLE) AS n
      FROM cells),
    offsets AS (
      SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                        (SELECT unnest([-1, 0, 1]) AS dy)),
    local AS (
      SELECT c.cx, c.cy, sum(o.v) AS lsum,
             CAST(count(*) AS DOUBLE) AS w
      FROM cells c CROSS JOIN offsets
      JOIN cells o ON o.cx = c.cx + dx AND o.cy = c.cy + dy
      GROUP BY c.cx, c.cy),
    gi AS (
      SELECT cx, cy, lsum, w,
             (lsum - xbar * w)
             / nullif(s * sqrt(greatest(n * w - w * w, 0) / (n - 1)), 0)
               AS gi_star
      FROM local, gl),
    top AS (
      SELECT cx, cy, lsum, gi_star,
             row_number() OVER (ORDER BY gi_star DESC, cx, cy) AS rk
      FROM gi WHERE gi_star IS NOT NULL)
    SELECT cx, cy, CAST(lsum AS BIGINT) AS neighborhood_points,
           round(gi_star, 3) AS gi_star_z
    FROM top WHERE rk <= 5 ORDER BY rk
    """,
    tags=("spatial", "anomaly", "grid"),
)
def q_getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot detection on the embedding cloud's
    grid: each cell's 3×3 neighborhood sum standardized against the
    global mean — the LOCAL clustering statistic that names WHERE
    the hotspots are (Moran's I, moran_i_spatial, only says THAT
    clustering exists; dbscan_core_cells thresholds density, Gi*
    calibrates it as a z-score so hotspots are comparable across
    maps). The neighborhood sum is the same 9-offset cell-key join
    as the focal/DBSCAN operators — the spatial-statistics family
    shares one join shape; top-5 hottest cells surface."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    cells = pts.groupBy(
        F.floor(F.col("x") / 0.1).cast("long").alias("cx"),
        F.floor(F.col("y") / 0.1).cast("long").alias("cy"),
    ).agg(F.count("*").cast("double").alias("v"))
    gl = cells.agg(
        F.avg("v").alias("xbar"),
        F.stddev_samp("v").alias("s"),
        F.count("*").cast("double").alias("n"),
    )
    offsets = local_df(
        spark, [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    c = cells.select(
        F.col("cx").alias("ccx"), F.col("cy").alias("ccy")
    )
    local = (
        c.crossJoin(F.broadcast(offsets))
        .join(
            cells,
            (F.col("cx") == F.col("ccx") + F.col("dx"))
            & (F.col("cy") == F.col("ccy") + F.col("dy")),
        )
        .groupBy("ccx", "ccy")
        .agg(F.sum("v").alias("lsum"), F.count("*").cast("double").alias("w"))
    )
    gi = local.crossJoin(F.broadcast(gl)).select(
        F.col("ccx").alias("cx"),
        F.col("ccy").alias("cy"),
        "lsum",
        (
            (F.col("lsum") - F.col("xbar") * F.col("w"))
            / F.nullif(
                F.col("s")
                * F.sqrt(
                    F.greatest(
                        F.col("n") * F.col("w") - F.col("w") * F.col("w"),
                        F.lit(0.0),
                    )
                    / (F.col("n") - 1)
                ),
                F.lit(0.0),
            )
        ).alias("gi_star"),
    )
    return (
        gi.filter(F.col("gi_star").isNotNull())
        .select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.desc("gi_star"), "cx", "cy"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .orderBy("rk")
        .select(
            "cx",
            "cy",
            F.col("lsum").cast("bigint").alias("neighborhood_points"),
            F.round("gi_star", 3).alias("gi_star_z"),
        )
    )


@register(
    "cross_source_dup_matrix",
    oracle="""
    WITH ws AS (
      SELECT source,
             regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT source,
             w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' '
             || w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3] || ' '
             || w[CAST(i AS INT) + 4] AS h
      FROM ws, unnest(generate_series(1, 4000)) AS t(i)
      WHERE i <= len(w) - 4),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_shingles
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2),
    src_n AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n FROM sh GROUP BY source)
    SELECT src_a, src_b, shared_shingles,
           round(shared_shingles
                 / least((SELECT n FROM src_n WHERE source = src_a),
                         (SELECT n FROM src_n WHERE source = src_b)), 4)
             AS overlap_vs_smaller
    FROM pairs
    ORDER BY shared_shingles DESC, src_a, src_b LIMIT 10
    """,
    tags=("dedup", "corpus", "join"),
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap flow matrix: distinct 5-token
    shingles shared between every source pair, scaled by the
    smaller side — the provenance map that says WHICH crawls share
    WHICH upstream content (whole-document fingerprints find only
    verbatim mirrors; shingle flow catches partial reuse and
    templating, the winnowing insight at source granularity — and
    the matrix is what mix designers act on: drop a source, not a
    million rows). Shingles dedupe per source before the pair join
    so document multiplicity cannot inflate the counts."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        "source",
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+").alias("w"),
    )
    sh = ws.select(
        "source",
        F.explode(
            F.transform(
                seq1(F.size("w") - 4),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                    F.element_at("w", i + 3),
                    F.element_at("w", i + 4),
                ),
            )
        ).alias("h"),
    ).distinct()
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("shared_shingles"))
    )
    src_n = sh.groupBy("source").agg(F.count("*").cast("double").alias("n"))
    na = src_n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = src_n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles") / F.least("na", "nb"), 4
            ).alias("overlap_vs_smaller"),
        )
        .orderBy(F.desc("shared_shingles"), "src_a", "src_b")
        .limit(10)
    )


@register(
    "quintile_share_table",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    tiled AS (
      SELECT v, ntile(5) OVER (ORDER BY v, o_custkey) AS q,
             cume_dist() OVER (ORDER BY v, o_custkey) AS cd
      FROM cust),
    tot AS (SELECT sum(v) AS tv FROM cust),
    shares AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n_customers,
             round(sum(v) / tv, 4) AS revenue_share
      FROM tiled, tot GROUP BY q, tv),
    top5 AS (
      SELECT round(sum(CASE WHEN cd > 0.95 THEN v ELSE 0 END)
                   / any_value(tv), 4) AS top5_share
      FROM tiled, tot)
    SELECT CAST(q AS BIGINT) AS quintile, n_customers, revenue_share,
           (SELECT top5_share FROM top5) AS top5pct_share
    FROM shares ORDER BY q
    """,
    tags=("inequality", "window", "percentile"),
)
def q_quintile_share_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quintile-share table — the distributional summary
    economists print before any single inequality index: revenue
    share of each customer quintile plus the top-5% share (repeated
    per row for one-result-set reporting) — Q5/Q1 is the quintile
    ratio, and the whole table is what gini_concentration and
    theil_inequality_decomposition compress into one number each
    (the table survives audiences that distrust indices). One
    ntile + cume_dist window over the per-customer aggregate; the
    |customers|-sized sort is the only ordering."""
    o = _t(spark, sf_dir, "orders")
    from ...operators.rank import global_ranked

    cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("v"))
    tiled = global_ranked(
        cust, ["v", "o_custkey"], ntile={"q": 5}, cume_dist="cd"
    ).select("v", "q", "cd")
    tot = cust.agg(F.sum("v").alias("tv"))
    shares = tiled.crossJoin(F.broadcast(tot)).groupBy("q", "tv").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("v") / F.first("tv"), 4).alias("revenue_share"),
    )
    top5 = tiled.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.sum(F.when(F.col("cd") > 0.95, F.col("v")).otherwise(0.0))
            / F.first("tv"),
            4,
        ).alias("top5pct_share")
    )
    return (
        shares.crossJoin(F.broadcast(top5))
        .select(
            F.col("q").cast("bigint").alias("quintile"),
            "n_customers",
            "revenue_share",
            "top5pct_share",
        )
        .orderBy("quintile")
    )


@register(
    "trend_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    ma AS (
      SELECT d, v,
             avg(v) OVER (ORDER BY d ROWS BETWEEN 14 PRECEDING
                          AND 14 FOLLOWING) AS trend,
             count(*) OVER (ORDER BY d ROWS BETWEEN 14 PRECEDING
                            AND 14 FOLLOWING) AS nw
      FROM daily),
    parts AS (
      SELECT v, trend, v - trend AS remainder
      FROM ma WHERE nw = 29),
    strength AS (
      SELECT var_samp(v) AS var_total,
             var_samp(remainder) AS var_rem,
             CAST(count(*) AS BIGINT) AS n_days
      FROM parts)
    SELECT n_days,
           round(greatest(1 - var_rem / var_total, 0), 4)
             AS trend_strength,
           round(var_total, 0) AS total_variance,
           round(var_rem, 0) AS detrended_variance
    FROM strength
    """,
    tags=("timeseries", "decomposition", "window"),
)
def q_trend_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend strength in the Hyndman F_T = max(0, 1 −
    Var(remainder)/Var(series)) form, with the trend component a
    centered 29-day moving average — the scalar that says how much
    of the series IS its slow component (near 0: model levels as
    noise around a constant; near 1: almost pure trend, and
    differencing/detrending is mandatory before any correlation
    claim) — the trend twin of seasonal_strength, together the
    2-axis features that time-series classification packages
    (tsfeatures) lead with. Full-window rows only, so the edge
    bias of the centered MA never enters the variance ratio."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    wma = Window.orderBy("d").rowsBetween(-14, 14)
    ma = daily.select(
        "v",
        F.avg("v").over(wma).alias("trend"),
        F.count("*").over(wma).alias("nw"),
    ).filter(F.col("nw") == 29)
    parts = ma.select("v", (F.col("v") - F.col("trend")).alias("remainder"))
    strength = parts.agg(
        F.var_samp("v").alias("var_total"),
        F.var_samp("remainder").alias("var_rem"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return strength.select(
        "n_days",
        F.round(
            F.greatest(1 - F.col("var_rem") / F.col("var_total"), F.lit(0.0)), 4
        ).alias("trend_strength"),
        F.round("var_total", 0).alias("total_variance"),
        F.round("var_rem", 0).alias("detrended_variance"),
    )


@register(
    "forecast_interval_empirical",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS i
      FROM orders GROUP BY 1),
    n AS (SELECT max(i) AS nn FROM daily),
    fc AS (
      SELECT d, y, i, lag(y, 7) OVER (ORDER BY d) AS f
      FROM daily),
    train_resid AS (
      SELECT y - f AS r FROM fc, n
      WHERE f IS NOT NULL AND i <= nn / 2),
    band AS (
      SELECT CAST(quantile_cont(r, 0.05) AS DOUBLE) AS q05,
             CAST(quantile_cont(r, 0.95) AS DOUBLE) AS q95
      FROM train_resid),
    test AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             round(avg(CASE WHEN y BETWEEN f + q05 AND f + q95
                            THEN 1.0 ELSE 0.0 END), 4) AS coverage,
             round(any_value(q95 - q05), 1) AS band_width
      FROM fc, n, band WHERE f IS NOT NULL AND i > nn / 2)
    SELECT n_test, coverage, band_width
    FROM test
    """,
    tags=("forecast", "estimation", "percentile"),
)
def q_forecast_interval_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical prediction intervals for the seasonal-naive
    forecast: the 5th/95th residual quantiles from the FIRST half
    become the band, and the held-out second half verifies ~90%
    coverage — forecasting's split-conformal twin
    (split_conformal_interval did it for regression; same
    distribution-free logic, temporal split because exchange-
    ability fails for series). A band that under-covers out of
    sample means the residual distribution drifted — itself a
    finding. One two-lag window, two quantiles, one coverage
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("y")
    )
    w = Window.orderBy("d")
    fc = daily.select(
        "y",
        F.row_number().over(w).alias("i"),
        F.lag("y", 7).over(w).alias("f"),
    ).filter(F.col("f").isNotNull())
    n = daily.agg(F.count("*").alias("nn"))
    fcn = fc.crossJoin(F.broadcast(n))
    band = fcn.filter(F.col("i") <= F.col("nn") / 2).agg(
        F.expr("percentile(y - f, 0.05)").alias("q05"),
        F.expr("percentile(y - f, 0.95)").alias("q95"),
    )
    test = (
        fcn.filter(F.col("i") > F.col("nn") / 2)
        .crossJoin(F.broadcast(band))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.round(
                F.avg(
                    F.when(
                        F.col("y").between(
                            F.col("f") + F.col("q05"), F.col("f") + F.col("q95")
                        ),
                        1.0,
                    ).otherwise(0.0)
                ),
                4,
            ).alias("coverage"),
            F.round(F.first(F.col("q95") - F.col("q05")), 1).alias("band_width"),
        )
    )
    return test.select("n_test", "coverage", "band_width")


@register(
    "exponential_mechanism_select",
    oracle="""
    WITH scores AS (
      SELECT p_brand, sum(l_quantity) AS u
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand),
    mx AS (SELECT max(u) AS umax FROM scores),
    noised AS (
      SELECT p_brand, u,
             u / umax
             - ln(-ln(((('0x' || substr(md5(p_brand), 1, 8))::UBIGINT
                        % 1000000) + 0.5) / 1000000.0)) / 5.0
               AS noisy_score
      FROM scores, mx),
    pick AS (
      SELECT p_brand, u, noisy_score,
             row_number() OVER (ORDER BY noisy_score DESC, p_brand) AS rk,
             row_number() OVER (ORDER BY u DESC, p_brand) AS true_rk
      FROM noised)
    SELECT (SELECT p_brand FROM pick WHERE rk = 1) AS selected_brand,
           (SELECT CAST(true_rk AS BIGINT) FROM pick WHERE rk = 1)
             AS selected_true_rank,
           (SELECT p_brand FROM pick WHERE true_rk = 1) AS actual_best
    """,
    tags=("privacy", "decision", "hash"),
)
def q_exponential_mechanism_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exponential mechanism for differentially-private
    SELECTION: pick the 'best-selling brand' by argmax of
    normalized utility plus Gumbel noise (the Gumbel-max trick IS
    the exponential mechanism — adding Gumbel(1/ε) noise to scores
    and taking the max samples exactly ∝ e^{εu/2Δ}), with the
    Gumbel draws deterministic via md5 uniforms so both engines
    select identically. Releasing a private ARGMAX leaks far less
    than releasing noised counts (dp_noisy_counts) when only the
    winner matters; selected_true_rank reads the utility cost of
    the privacy."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    scores = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").alias("u"))
    )
    mx = scores.agg(F.max("u").alias("umax"))
    u01 = (
        (
            F.conv(F.substring(F.md5("p_brand"), 1, 8), 16, 10).cast("long")
            % 1000000
        )
        + 0.5
    ) / 1000000.0
    gumbel = -F.log(-F.log(u01))
    noised = scores.crossJoin(F.broadcast(mx)).select(
        "p_brand",
        "u",
        (F.col("u") / F.col("umax") + gumbel / 5.0).alias("noisy_score"),
    )
    pick = noised.select(
        "p_brand",
        F.row_number()
        .over(Window.orderBy(F.desc("noisy_score"), "p_brand"))
        .alias("rk"),
        F.row_number().over(Window.orderBy(F.desc("u"), "p_brand")).alias("true_rk"),
    )
    sel = pick.filter(F.col("rk") == 1).select(
        F.col("p_brand").alias("selected_brand"),
        F.col("true_rk").cast("bigint").alias("selected_true_rank"),
    )
    best = pick.filter(F.col("true_rk") == 1).select(
        F.col("p_brand").alias("actual_best")
    )
    return sel.crossJoin(F.broadcast(best))


@register(
    "k_core_peel2",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg_filter AS (
      SELECT part FROM inc GROUP BY part
      HAVING count(*) BETWEEN 2 AND 20),
    edges AS (
      SELECT DISTINCT a.cust AS u, b.cust AS v
      FROM inc a JOIN deg_filter USING (part)
      JOIN inc b ON b.part = a.part AND a.cust < b.cust),
    sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg0 AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    keep1 AS (SELECT u FROM deg0 WHERE d >= 3),
    sym1 AS (
      SELECT s.u, s.v FROM sym s
      JOIN keep1 a ON s.u = a.u JOIN keep1 b ON s.v = b.u),
    deg1 AS (SELECT u, count(*) AS d FROM sym1 GROUP BY u),
    keep2 AS (SELECT u FROM deg1 WHERE d >= 3)
    SELECT CAST((SELECT count(*) FROM deg0) AS BIGINT) AS nodes_initial,
           CAST((SELECT count(*) FROM keep1) AS BIGINT) AS nodes_after_peel1,
           CAST((SELECT count(*) FROM keep2) AS BIGINT) AS nodes_after_peel2,
           round((SELECT count(*) FROM keep2)
                 / CAST((SELECT count(*) FROM deg0) AS DOUBLE), 4)
             AS core_share
    """,
    tags=("graph", "iterative", "filter"),
)
def q_k_core_peel2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled peels toward the 3-core of the co-purchase
    graph: drop degree-<3 nodes, recompute degrees on the induced
    subgraph, drop again — each peel is a degree aggregate plus two
    semi-join-shaped filters, and the node-count trajectory
    (initial → peel1 → peel2) shows how fast the periphery sheds
    (a near-converged second peel means the 3-core is already
    stable; production k-core iterates this exact step to fixpoint,
    cf. dedup_components' label propagation). The edge set is the
    hub-capped candidate relation shared with adamic_adar_linkpred
    and nation_homophily — one graph build, three analyses. The
    symmetrized edge list is `materialize`d (operators/iterate.py):
    it feeds deg0, both peels, and the induced-subgraph semi-joins,
    and without the cut each reuse re-embeds the co-purchase
    pair join (156 exchanges in round 1 → ~10)."""
    from ...operators.iterate import materialize

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inc = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    deg_filter = (
        inc.groupBy("part")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d").between(2, 20))
        .select("part")
    )
    a = inc.select(F.col("cust").alias("u"), "part")
    b = inc.select(F.col("cust").alias("v"), "part")
    edges = (
        a.join(deg_filter, "part")
        .join(b, "part")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    sym = materialize(
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    deg0 = sym.groupBy("u").agg(F.count("*").alias("d"))
    keep1 = materialize(deg0.filter(F.col("d") >= 3).select("u"))
    sym1 = sym.join(keep1, "u", "left_semi").join(
        keep1.select(F.col("u").alias("v")), "v", "left_semi"
    )
    deg1 = sym1.groupBy("u").agg(F.count("*").alias("d"))
    keep2 = deg1.filter(F.col("d") >= 3).select("u")
    n0 = deg0.agg(F.count("*").alias("c0"))
    n1 = keep1.agg(F.count("*").alias("c1"))
    n2 = keep2.agg(F.count("*").alias("c2"))
    return (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.col("c0").cast("bigint").alias("nodes_initial"),
            F.col("c1").cast("bigint").alias("nodes_after_peel1"),
            F.col("c2").cast("bigint").alias("nodes_after_peel2"),
            F.round(F.col("c2") / F.col("c0").cast("double"), 4).alias(
                "core_share"
            ),
        )
    )


@register(
    "syntetos_boylan_matrix",
    oracle="""
    WITH demand AS (
      SELECT l_partkey, date_trunc('week', CAST(l_shipdate AS DATE)) AS wk,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2),
    span AS (
      SELECT CAST(count(DISTINCT wk) AS DOUBLE) AS total_weeks FROM demand),
    per_part AS (
      SELECT l_partkey,
             total_weeks / count(*) AS adi,
             var_samp(q) / pow(avg(q), 2) AS cv2,
             CAST(count(*) AS BIGINT) AS active_weeks
      FROM demand, span
      GROUP BY l_partkey, total_weeks
      HAVING count(*) >= 4),
    classed AS (
      SELECT CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                  WHEN adi < 1.32 THEN 'erratic'
                  WHEN cv2 < 0.49 THEN 'intermittent'
                  ELSE 'lumpy' END AS demand_class
      FROM per_part)
    SELECT demand_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(count(*) / sum(count(*)) OVER (), 4) AS share
    FROM classed GROUP BY demand_class ORDER BY demand_class
    """,
    tags=("inventory", "classification", "stats"),
)
def q_syntetos_boylan_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand classification: every part placed in
    the ADI×CV² quadrant (average inter-demand interval 1.32 ×
    squared variation 0.49 — the theoretically derived cutoffs) —
    smooth/erratic demand gets exponential smoothing, intermittent/
    lumpy needs Croston-class methods, and running ONE forecasting
    method across all four classes is the classic supply-chain
    forecasting mistake this segmentation exists to prevent.
    Weekly demand is one aggregate; ADI comes from the active-week
    count against the calendar span — the zero weeks are counted
    by arithmetic, never materialized (zero_inflation_check's
    device)."""
    li = _t(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        "l_partkey",
        F.date_trunc("week", F.col("l_shipdate").cast("date")).alias("wk"),
    ).agg(F.sum("l_quantity").cast("double").alias("q"))
    span = demand.agg(
        F.count_distinct("wk").cast("double").alias("total_weeks")
    )
    per_part = (
        demand.crossJoin(F.broadcast(span))
        .groupBy("l_partkey", "total_weeks")
        .agg(
            (F.first("total_weeks") / F.count("*")).alias("adi"),
            (F.var_samp("q") / F.pow(F.avg("q"), 2)).alias("cv2"),
            F.count("*").alias("active_weeks"),
        )
        .filter(F.col("active_weeks") >= 4)
    )
    classed = per_part.select(
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when(F.col("adi") < 1.32, "erratic")
        .when(F.col("cv2") < 0.49, "intermittent")
        .otherwise("lumpy")
        .alias("demand_class")
    )
    wall = Window.partitionBy()
    return (
        classed.groupBy("demand_class")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .select(
            "demand_class",
            "n_parts",
            F.round(F.col("n_parts") / F.sum("n_parts").over(wall), 4).alias(
                "share"
            ),
        )
        .orderBy("demand_class")
    )


@register(
    "repeat_latency_by_first_value",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE),
                                         o_orderkey) AS rn
      FROM orders),
    firsts AS (
      SELECT o_custkey, d AS d1, o_totalprice AS v1
      FROM ranked WHERE rn = 1),
    seconds AS (
      SELECT o_custkey, d AS d2 FROM ranked WHERE rn = 2),
    quarts AS (
      SELECT f.o_custkey,
             ntile(4) OVER (ORDER BY v1, f.o_custkey) AS vq,
             date_diff('day', d1, d2) AS latency
      FROM firsts f JOIN seconds s ON f.o_custkey = s.o_custkey)
    SELECT CAST(vq AS BIGINT) AS first_value_quartile,
           CAST(count(*) AS BIGINT) AS n_repeaters,
           round(CAST(quantile_cont(latency, 0.5) AS DOUBLE), 1)
             AS median_days_to_second,
           round(avg(CAST(latency AS DOUBLE)), 1) AS mean_days_to_second
    FROM quarts GROUP BY vq ORDER BY vq
    """,
    tags=("cohort", "window", "retention"),
)
def q_repeat_latency_by_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase latency by first-order value quartile: does
    a big first basket predict a faster second order? Median and
    mean days between orders #1 and #2, by quartile of the first
    order's value — the onboarding-quality question behind
    'activate hard or activate fast' (a monotone latency gradient
    justifies first-order incentives; a flat one kills them).
    Note the survivorship frame: only two-time customers enter, so
    this reads SPEED among repeaters, not repeat PROPENSITY —
    kaplan_meier_conversion handles the censored propensity
    question. Per-customer ranking is a partitioned window; the
    quartile cut is one ntile over the repeater relation."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    ranked = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
    )
    firsts = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("d").alias("d1"), F.col("o_totalprice").alias("v1")
    )
    seconds = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    quarts = firsts.join(seconds, "o_custkey").select(
        F.ntile(4).over(Window.orderBy("v1", "o_custkey")).alias("vq"),
        F.datediff("d2", "d1").alias("latency"),
    )
    return (
        quarts.groupBy(F.col("vq").cast("bigint").alias("first_value_quartile"))
        .agg(
            F.count("*").cast("bigint").alias("n_repeaters"),
            F.round(F.expr("percentile(latency, 0.5)"), 1).alias(
                "median_days_to_second"
            ),
            F.round(F.avg(F.col("latency").cast("double")), 1).alias(
                "mean_days_to_second"
            ),
        )
        .orderBy("first_value_quartile")
    )


@register(
    "basket_size_poisson_fit",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
      FROM lineitem GROUP BY 1),
    hist AS (
      SELECT k, CAST(count(*) AS DOUBLE) AS obs FROM sizes GROUP BY k),
    fit AS (
      SELECT sum(k * obs) / sum(obs) AS lam, sum(obs) AS n FROM hist),
    lnfact AS (
      SELECT k, obs,
             coalesce(list_sum(list_transform(
               generate_series(1, CAST(k AS INT)),
               i -> ln(CAST(i AS DOUBLE)))), 0) AS lf
      FROM hist),
    expected AS (
      SELECT lnfact.k, obs,
             n * exp(k * ln(lam) - lam - lf) AS exp_n
      FROM lnfact, fit),
    chi AS (
      SELECT sum(pow(obs - exp_n, 2) / exp_n) AS chi2,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM expected WHERE exp_n >= 5)
    SELECT round((SELECT lam FROM fit), 4) AS lambda_hat,
           n_cells, round(chi2, 2) AS poisson_gof_chi2,
           round((SELECT sum(pow(k - lam, 2) * obs) / sum(obs)
                  / any_value(lam) FROM hist, fit), 4) AS dispersion_ratio
    FROM chi
    """,
    tags=("stats", "distribution-fit", "histogram"),
)
def q_basket_size_poisson_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit for basket size: λ̂ by method of
    moments, expected cell counts n·e^{−λ}λᵏ/k! with the factorial
    as the ln-space fold (erlang_c_staffing's device), χ² over
    cells with expectation ≥5 (Cochran's rule), and the dispersion
    ratio that usually explains any rejection — baskets are rarely
    Poisson because items arrive in correlated bundles
    (dispersion > 1), which changes every downstream simulation
    that naively draws basket sizes ~Poisson(λ̂). Two stacked
    aggregates over the size histogram; the fit, test, and
    diagnosis share one scan."""
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    hist = sizes.groupBy("k").agg(F.count("*").cast("double").alias("obs"))
    fit = hist.agg(
        (F.sum(F.col("k") * F.col("obs")) / F.sum("obs")).alias("lam"),
        F.sum("obs").alias("n"),
    )
    lf = F.coalesce(
        F.aggregate(
            F.sequence(F.lit(1), F.col("k").cast("int")),
            F.lit(0.0),
            lambda acc, i: acc + F.log(i.cast("double")),
        ),
        F.lit(0.0),
    )
    expected = hist.crossJoin(F.broadcast(fit)).select(
        "k",
        "obs",
        "lam",
        (
            F.col("n")
            * F.exp(F.col("k") * F.log(F.col("lam")) - F.col("lam") - lf)
        ).alias("exp_n"),
    )
    chi = expected.filter(F.col("exp_n") >= 5).agg(
        F.sum(F.pow(F.col("obs") - F.col("exp_n"), 2) / F.col("exp_n")).alias(
            "chi2"
        ),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    disp = hist.crossJoin(F.broadcast(fit)).agg(
        (
            F.sum(F.pow(F.col("k") - F.col("lam"), 2) * F.col("obs"))
            / F.sum("obs")
            / F.first("lam")
        ).alias("dr"),
        F.first("lam").alias("lam"),
    )
    return chi.crossJoin(F.broadcast(disp)).select(
        F.round("lam", 4).alias("lambda_hat"),
        "n_cells",
        F.round("chi2", 2).alias("poisson_gof_chi2"),
        F.round("dr", 4).alias("dispersion_ratio"),
    )


@register(
    "favorite_event_type",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    fav AS (
      SELECT user_id, event_type AS favorite, c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY c DESC, event_type) AS rk,
             sum(c) OVER (PARTITION BY user_id) AS total
      FROM counts)
    SELECT favorite,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(CAST(c AS DOUBLE) / total), 4) AS mean_share_of_activity
    FROM fav WHERE rk = 1 GROUP BY favorite ORDER BY favorite
    """,
    tags=("events", "window", "segmentation"),
)
def q_favorite_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type ('favorite') with deterministic
    tie-break, rolled up to how many users favor each type and how
    DOMINANT the favorite is within their activity — the windowed-
    mode pattern (argmax per group via partitioned row_number over
    the count relation, never a mode() aggregate that most engines
    lack) that powers favorite-item, home-store, and primary-
    device segmentations. A mean dominance share near 1/k means
    'favorite' is nearly meaningless for routing decisions — the
    share column keeps the segmentation honest."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    wu = Window.partitionBy("user_id")
    fav = counts.select(
        "user_id",
        F.col("event_type").alias("favorite"),
        "c",
        F.row_number()
        .over(wu.orderBy(F.desc("c"), "event_type"))
        .alias("rk"),
        F.sum("c").over(wu).alias("total"),
    ).filter(F.col("rk") == 1)
    return (
        fav.groupBy("favorite")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(
                F.avg(F.col("c").cast("double") / F.col("total")), 4
            ).alias("mean_share_of_activity"),
        )
        .orderBy("favorite")
    )


@register(
    "energy_distance_2d_drift",
    oracle="""
    WITH obs AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr,
             least(CAST(floor(o_totalprice / 50000) AS INT), 7) AS px,
             least(CAST(cnt AS INT), 8) AS py
      FROM orders JOIN (SELECT l_orderkey, count(*) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)),
    ha AS (SELECT px, py, CAST(count(*) AS DOUBLE) AS c
           FROM obs WHERE yr = 1996 GROUP BY 1, 2),
    hb AS (SELECT px, py, CAST(count(*) AS DOUBLE) AS c
           FROM obs WHERE yr = 1997 GROUP BY 1, 2),
    na AS (SELECT sum(c) AS n1 FROM ha),
    nb AS (SELECT sum(c) AS n2 FROM hb),
    exy AS (
      SELECT sum(a.c * b.c * sqrt(pow(a.px - b.px, 2)
                                  + pow(a.py - b.py, 2))) / (n1 * n2) AS e
      FROM ha a CROSS JOIN hb b, na, nb GROUP BY n1, n2),
    exx AS (
      SELECT sum(a.c * b.c * sqrt(pow(a.px - b.px, 2)
                                  + pow(a.py - b.py, 2))) / (n1 * n1) AS e
      FROM ha a CROSS JOIN ha b, na GROUP BY n1),
    eyy AS (
      SELECT sum(a.c * b.c * sqrt(pow(a.px - b.px, 2)
                                  + pow(a.py - b.py, 2))) / (n2 * n2) AS e
      FROM hb a CROSS JOIN hb b, nb GROUP BY n2)
    SELECT CAST((SELECT n1 FROM na) AS BIGINT) AS n_1996,
           CAST((SELECT n2 FROM nb) AS BIGINT) AS n_1997,
           round(2 * exy.e - exx.e - eyy.e, 6) AS energy_distance_2d,
           round((2 * exy.e - exx.e - eyy.e) / (2 * exy.e), 6)
             AS energy_coefficient
    FROM exy, exx, eyy
    """,
    tags=("drift", "stats", "distribution-fit"),
)
def q_energy_distance_2d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-dimensional energy distance between years over the
    (price band, basket size) joint distribution — the multivariate
    drift test the per-feature PSI panel (psi_feature_panel)
    structurally cannot do: each marginal can be stable while the
    CORRELATION drifts, and only a joint-distribution distance sees
    it. The pairwise expectations collapse onto the ~72-cell 2-D
    histogram with Euclidean distance between cell centers — the
    same histogram-collapse device as the 1-D energy distance,
    which survives in any dimension because the metric only enters
    through cell-pair distances. The two ≤72-cell histograms are
    `materialize`d (operators/iterate.py): each feeds three pairwise
    expectations plus its count, and without the cut every consumer
    re-runs the orders⋈lineitem histogram build (64 exchanges round
    1 → ~12)."""
    from ...operators.iterate import materialize

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = (
        o.filter(F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997))
        .join(cnt, o["o_orderkey"] == cnt["l_orderkey"])
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            F.least(
                F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(7)
            ).alias("px"),
            F.least(F.col("cnt").cast("int"), F.lit(8)).alias("py"),
        )
    )
    ha = materialize(
        obs.filter(F.col("yr") == 1996)
        .groupBy("px", "py")
        .agg(F.count("*").cast("double").alias("c"))
    )
    hb = materialize(
        obs.filter(F.col("yr") == 1997)
        .groupBy("px", "py")
        .agg(F.count("*").cast("double").alias("c"))
    )
    na = ha.agg(F.sum("c").alias("n1"))
    nb = hb.agg(F.sum("c").alias("n2"))

    def mean_dist(x, y, nx, ny, nxc, nyc):
        xx = x.select(
            F.col("px").alias("ax"), F.col("py").alias("ay"), F.col("c").alias("ca")
        )
        yy = y.select(
            F.col("px").alias("bx"), F.col("py").alias("by"), F.col("c").alias("cb")
        )
        d = F.sqrt(
            F.pow(F.col("ax") - F.col("bx"), 2)
            + F.pow(F.col("ay") - F.col("by"), 2)
        )
        return (
            xx.crossJoin(yy)
            .crossJoin(F.broadcast(nx))
            .crossJoin(F.broadcast(ny))
            .groupBy(nxc, nyc)
            .agg(
                (
                    F.sum(F.col("ca") * F.col("cb") * d)
                    / (F.col(nxc) * F.col(nyc))
                ).alias("e")
            )
            .select("e")
        )

    exy = mean_dist(ha, hb, na, nb, "n1", "n2").withColumnRenamed("e", "exy")
    exx = mean_dist(
        ha, ha, na, na.select(F.col("n1").alias("n1b")), "n1", "n1b"
    ).withColumnRenamed("e", "exx")
    eyy = mean_dist(
        hb, hb, nb, nb.select(F.col("n2").alias("n2b")), "n2", "n2b"
    ).withColumnRenamed("e", "eyy")
    ed = 2 * F.col("exy") - F.col("exx") - F.col("eyy")
    return (
        exy.crossJoin(exx)
        .crossJoin(eyy)
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n1").cast("bigint").alias("n_1996"),
            F.col("n2").cast("bigint").alias("n_1997"),
            F.round(ed, 6).alias("energy_distance_2d"),
            F.round(ed / (2 * F.col("exy")), 6).alias("energy_coefficient"),
        )
    )


@register(
    "cross_price_elasticity_screen",
    oracle="""
    WITH monthly AS (
      SELECT p_brand, date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             sum(l_extendedprice) / sum(l_quantity) AS p,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_quantity > 0 GROUP BY 1, 2),
    pairs AS (
      SELECT a.p_brand AS brand_q, b.p_brand AS brand_p,
             regr_slope(ln(a.q), ln(b.p)) AS elast,
             regr_r2(ln(a.q), ln(b.p)) AS r2,
             CAST(count(*) AS BIGINT) AS n_months
      FROM monthly a JOIN monthly b
        ON a.m = b.m AND a.p_brand <> b.p_brand
      GROUP BY 1, 2 HAVING count(*) >= 24)
    SELECT brand_q, brand_p,
           round(elast, 4) AS cross_elasticity,
           round(r2, 4) AS r2,
           CASE WHEN elast > 0 THEN 'substitutes'
                ELSE 'complements' END AS relationship
    FROM pairs
    ORDER BY abs(elast) * r2 DESC, brand_q, brand_p LIMIT 10
    """,
    tags=("economics", "regression", "join"),
)
def q_cross_price_elasticity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price elasticity screen: for every brand pair, the
    log-log regression of A's monthly quantity on B's monthly
    price — positive elasticity flags SUBSTITUTES (B gets
    expensive, A sells more), negative flags complements — the
    assortment-interaction map behind category management, which
    own-price analysis (arc_elasticity_bands) cannot see. All
    25×24 regressions run as ONE grouped regr_slope over the
    month-joined pair relation, ranked by |elasticity|·r² so noisy
    fits can't top the list; a 24-month floor keeps the slopes
    estimable."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    p = _t(spark, sf_dir, "part")
    monthly = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "p_brand",
            F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m"),
        )
        .agg(
            (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
            F.sum("l_quantity").cast("double").alias("q"),
        )
    )
    a = monthly.select(
        F.col("p_brand").alias("brand_q"), "m", F.col("q").alias("qa")
    )
    b = monthly.select(
        F.col("p_brand").alias("brand_p"), "m", F.col("p").alias("pb")
    )
    pairs = (
        a.join(b, "m")
        .filter(F.col("brand_q") != F.col("brand_p"))
        .groupBy("brand_q", "brand_p")
        .agg(
            F.expr("regr_slope(ln(qa), ln(pb))").alias("elast"),
            F.expr("regr_r2(ln(qa), ln(pb))").alias("r2"),
            F.count("*").cast("bigint").alias("n_months"),
        )
        .filter(F.col("n_months") >= 24)
    )
    return (
        pairs.orderBy(
            (F.abs(F.col("elast")) * F.col("r2")).desc(), "brand_q", "brand_p"
        )
        .limit(10)
        .select(
            "brand_q",
            "brand_p",
            F.round("elast", 4).alias("cross_elasticity"),
            F.round("r2", 4).alias("r2"),
            F.when(F.col("elast") > 0, "substitutes")
            .otherwise("complements")
            .alias("relationship"),
        )
    )

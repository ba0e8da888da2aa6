"""Query catalog part 6/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403
from .part04_k_anonymity_audit import *  # noqa: F401,F403
from .part05_bloom_filter_fpr import *  # noqa: F401,F403



@register(
    "energy_distance_two_sample",
    oracle="""
    WITH a AS (SELECT p_retailprice AS v FROM part WHERE p_brand = 'Brand#11'),
    b AS (SELECT p_retailprice AS v FROM part WHERE p_brand = 'Brand#22'),
    ha AS (SELECT v, CAST(count(*) AS DOUBLE) AS c FROM a GROUP BY v),
    hb AS (SELECT v, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY v),
    na AS (SELECT sum(c) AS n1 FROM ha),
    nb AS (SELECT sum(c) AS n2 FROM hb),
    exy AS (
      SELECT sum(ha.c * hb.c * abs(ha.v - hb.v)) / (n1 * n2) AS e
      FROM ha CROSS JOIN hb, na, nb GROUP BY n1, n2),
    exx AS (
      SELECT sum(x.c * y.c * abs(x.v - y.v)) / (n1 * n1) AS e
      FROM ha x CROSS JOIN ha y, na GROUP BY n1),
    eyy AS (
      SELECT sum(x.c * y.c * abs(x.v - y.v)) / (n2 * n2) AS e
      FROM hb x CROSS JOIN hb y, nb GROUP BY n2)
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           round(2 * exy.e - exx.e - eyy.e, 4) AS energy_distance,
           round((2 * exy.e - exx.e - eyy.e) / (2 * exy.e), 5)
             AS energy_coefficient
    FROM exy, exx, eyy, na, nb
    """,
    tags=("stats", "nonparametric", "distribution-fit"),
)
def q_energy_distance_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's energy distance between two brands' price
    distributions: 2E|X−Y| − E|X−X'| − E|Y−Y'| — the modern
    two-sample statistic that is zero IFF the distributions are
    identical and, unlike KS (ks_price_drift), responds to
    differences anywhere in the distribution with full power in any
    dimension. All three expectations are Σc·c'·|v−v'| over
    HISTOGRAM pairs (the same collapse as kendall_tau_b), so the
    quadratic pair count lives on distinct values, not rows; the
    normalized energy coefficient ∈ [0,1] reads like a correlation."""
    p = _t(spark, sf_dir, "part")
    ha = (
        p.filter(F.col("p_brand") == "Brand#11")
        .groupBy(F.col("p_retailprice").alias("v"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    hb = (
        p.filter(F.col("p_brand") == "Brand#22")
        .groupBy(F.col("p_retailprice").alias("v"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    na = ha.agg(F.sum("c").alias("n1"))
    nb = hb.agg(F.sum("c").alias("n2"))

    def mean_absdiff(x, y, nx, ny, nxc, nyc):
        xx = x.select(F.col("v").alias("vx"), F.col("c").alias("cx"))
        yy = y.select(F.col("v").alias("vy"), F.col("c").alias("cy"))
        return (
            xx.crossJoin(yy)
            .crossJoin(F.broadcast(nx))
            .crossJoin(F.broadcast(ny))
            .groupBy(nxc, nyc)
            .agg(
                (
                    F.sum(
                        F.col("cx") * F.col("cy") * F.abs(F.col("vx") - F.col("vy"))
                    )
                    / (F.col(nxc) * F.col(nyc))
                ).alias("e")
            )
            .select("e")
        )

    exy = mean_absdiff(ha, hb, na, nb, "n1", "n2").withColumnRenamed("e", "exy")
    exx = (
        mean_absdiff(ha, ha.select("v", "c"), na, na.select(F.col("n1").alias("n1b")), "n1", "n1b")
        .withColumnRenamed("e", "exx")
    )
    eyy = (
        mean_absdiff(hb, hb.select("v", "c"), nb, nb.select(F.col("n2").alias("n2b")), "n2", "n2b")
        .withColumnRenamed("e", "eyy")
    )
    ed = 2 * F.col("exy") - F.col("exx") - F.col("eyy")
    return (
        exy.crossJoin(exx)
        .crossJoin(eyy)
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n1").cast("bigint").alias("n_a"),
            F.col("n2").cast("bigint").alias("n_b"),
            F.round(ed, 4).alias("energy_distance"),
            F.round(ed / (2 * F.col("exy")), 5).alias("energy_coefficient"),
        )
    )


@register(
    "f1_micro_macro",
    oracle="""
    WITH dims AS (
      SELECT label, CAST(i AS INT) AS pos, embedding[CAST(i AS INT)]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    cent AS (
      SELECT label AS c_label, list(cv ORDER BY pos) AS c
      FROM (SELECT label, pos, avg(v) AS cv FROM dims GROUP BY 1, 2)
      GROUP BY label),
    scored AS (
      SELECT a.vec_id, a.label, b.c_label,
             list_sum(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * b.c[i]))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> b.c[i] * b.c[i])))) AS cos
      FROM embeddings a CROSS JOIN cent b),
    pred AS (
      SELECT vec_id, label AS truth, c_label AS pred
      FROM (SELECT vec_id, label, c_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, c_label) AS rn
            FROM scored)
      WHERE rn = 1),
    per_label AS (
      SELECT l.label,
             CAST(coalesce(tp, 0) AS DOUBLE) AS tp,
             CAST(coalesce(fp, 0) AS DOUBLE) AS fp,
             CAST(coalesce(fn, 0) AS DOUBLE) AS fn
      FROM (SELECT DISTINCT label FROM embeddings) l
      LEFT JOIN (SELECT truth AS label, count(*) AS tp FROM pred
                 WHERE truth = pred.pred GROUP BY 1) t USING (label)
      LEFT JOIN (SELECT pred AS label, count(*) AS fp FROM pred
                 WHERE truth <> pred.pred GROUP BY 1) f USING (label)
      LEFT JOIN (SELECT truth AS label, count(*) AS fn FROM pred
                 WHERE truth <> pred.pred GROUP BY 1) n USING (label)),
    f1s AS (
      SELECT label,
             CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                  ELSE 2 * tp / (2 * tp + fp + fn) END AS f1,
             tp, fp, fn
      FROM per_label)
    SELECT round(avg(f1), 4) AS macro_f1,
           round(2 * sum(tp) / (2 * sum(tp) + sum(fp) + sum(fn)), 4)
             AS micro_f1,
           CAST(count(*) AS BIGINT) AS n_labels
    FROM f1s
    """,
    tags=("ml", "eval", "classification"),
)
def q_f1_micro_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro- and micro-averaged F1 of the nearest-centroid
    classifier — the two averages answer different questions (macro
    weights every label equally and exposes minority-class failure;
    micro is dominated by frequent labels and equals accuracy in
    single-label problems), which is why reporting only one is a
    classic eval smell (cf. centroid_classify, which stops at
    accuracy, and brier_calibration for the probability view). TP
    is a truth=pred count, FP/FN are mispredict counts grouped by
    predicted vs true label — three tiny aggregates off one
    prediction relation."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    cent = dims.groupBy("label", "pos").agg(F.avg("v").alias("cv"))
    cn = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cnorm")
    )
    vn = dims.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vnorm")
    )
    centr = cent.select(
        F.col("label").alias("c_label"), "pos", F.col("cv").alias("cv")
    )
    scored = (
        dims.join(F.broadcast(centr), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("v") * F.col("cv")).alias("dot"))
        .join(vn, "vec_id")
        .join(
            F.broadcast(cn.select(F.col("label").alias("c_label"), "cnorm")),
            "c_label",
        )
        .select(
            "vec_id",
            "label",
            "c_label",
            (F.col("dot") / (F.col("vnorm") * F.col("cnorm"))).alias("cos"),
        )
    )
    pred = (
        scored.select(
            "vec_id",
            F.col("label").alias("truth"),
            F.col("c_label").alias("pred"),
            F.row_number()
            .over(Window.partitionBy("vec_id").orderBy(F.desc("cos"), "c_label"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    labels = e.select("label").distinct()
    tp = (
        pred.filter(F.col("truth") == F.col("pred"))
        .groupBy(F.col("truth").alias("label"))
        .agg(F.count("*").alias("tp"))
    )
    fp = (
        pred.filter(F.col("truth") != F.col("pred"))
        .groupBy(F.col("pred").alias("label"))
        .agg(F.count("*").alias("fp"))
    )
    fn = (
        pred.filter(F.col("truth") != F.col("pred"))
        .groupBy(F.col("truth").alias("label"))
        .agg(F.count("*").alias("fn"))
    )
    per_label = (
        labels.join(tp, "label", "left")
        .join(fp, "label", "left")
        .join(fn, "label", "left")
        .select(
            "label",
            F.coalesce("tp", F.lit(0)).cast("double").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("double").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("double").alias("fn"),
        )
    )
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, 0.0).otherwise(
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    return per_label.agg(
        F.round(F.avg(f1), 4).alias("macro_f1"),
        F.round(
            2 * F.sum("tp") / (2 * F.sum("tp") + F.sum("fp") + F.sum("fn")), 4
        ).alias("micro_f1"),
        F.count("*").cast("bigint").alias("n_labels"),
    )


@register(
    "forecast_reconciliation",
    oracle="""
    WITH monthly AS (
      SELECT r_name, n_name,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2, 3),
    horizon AS (SELECT max(m) AS mh FROM monthly),
    nat_fc AS (
      SELECT r_name, n_name, rev AS fc
      FROM monthly, horizon
      WHERE m = mh - INTERVAL 12 MONTH),
    reg_fc AS (
      SELECT r_name, sum(rev) AS fc_direct
      FROM monthly, horizon
      WHERE m = mh - INTERVAL 12 MONTH
      GROUP BY r_name),
    actual AS (
      SELECT r_name, sum(rev) AS act
      FROM monthly, horizon WHERE m = mh GROUP BY r_name),
    bu AS (SELECT r_name, sum(fc) AS fc_bottom_up FROM nat_fc GROUP BY 1)
    SELECT r.r_name,
           round(act, 2) AS actual,
           round(fc_direct, 2) AS direct_forecast,
           round(fc_bottom_up, 2) AS bottom_up_forecast,
           round(abs(fc_direct - act) - abs(fc_bottom_up - act), 2)
             AS direct_minus_bu_abs_error
    FROM reg_fc r JOIN bu USING (r_name) JOIN actual USING (r_name)
    """,
    tags=("forecast", "hierarchy", "rollup"),
)
def q_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast coherence: seasonal-naive forecasts
    (same month last year) made at the NATION level and summed
    bottom-up vs forecast DIRECTLY at the region level, both scored
    against the realized month — the aggregation-consistency
    question every planning hierarchy faces (here the two
    necessarily agree in value since sum commutes with the naive
    model, so the error comparison isolates pure aggregation-level
    effects; with a nonlinear model they diverge and this query
    becomes the reconciliation audit). One (region, nation, month)
    aggregate feeds every level — the hierarchy never re-scans the
    fact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            "r_name",
            "n_name",
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    horizon = monthly.agg(F.max("m").alias("mh"))
    base = monthly.crossJoin(F.broadcast(horizon))
    nat_fc = base.filter(
        F.col("m") == F.add_months(F.col("mh"), -12).cast("timestamp")
    ).select("r_name", "n_name", F.col("rev").alias("fc"))
    reg_fc = (
        base.filter(F.col("m") == F.add_months(F.col("mh"), -12).cast("timestamp"))
        .groupBy("r_name")
        .agg(F.sum("rev").alias("fc_direct"))
    )
    actual = (
        base.filter(F.col("m") == F.col("mh"))
        .groupBy("r_name")
        .agg(F.sum("rev").alias("act"))
    )
    bu = nat_fc.groupBy("r_name").agg(F.sum("fc").alias("fc_bottom_up"))
    return (
        reg_fc.join(bu, "r_name")
        .join(actual, "r_name")
        .select(
            "r_name",
            F.round("act", 2).alias("actual"),
            F.round("fc_direct", 2).alias("direct_forecast"),
            F.round("fc_bottom_up", 2).alias("bottom_up_forecast"),
            F.round(
                F.abs(F.col("fc_direct") - F.col("act"))
                - F.abs(F.col("fc_bottom_up") - F.col("act")),
                2,
            ).alias("direct_minus_bu_abs_error"),
        )
    )


@register(
    "hdi_composite_index",
    oracle="""
    WITH met AS (
      SELECT n_name,
             sum(o_totalprice) AS revenue,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS customers,
             avg(o_totalprice) AS avg_order
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1),
    rng AS (
      SELECT min(revenue) AS r0, max(revenue) AS r1,
             min(customers) AS c0, max(customers) AS c1,
             min(avg_order) AS a0, max(avg_order) AS a1
      FROM met),
    norm AS (
      SELECT n_name,
             (revenue - r0) / (r1 - r0) AS d1,
             (customers - c0) / (c1 - c0) AS d2,
             (avg_order - a0) / (a1 - a0) AS d3
      FROM met, rng)
    SELECT n_name,
           round(pow(greatest(d1, 1e-9) * greatest(d2, 1e-9)
                     * greatest(d3, 1e-9), 1.0 / 3), 5) AS composite_index,
           round(d1, 4) AS dim_revenue,
           round(d2, 4) AS dim_customers,
           round(d3, 4) AS dim_avg_order
    FROM norm
    ORDER BY composite_index DESC, n_name LIMIT 10
    """,
    tags=("index", "ranking", "economics"),
)
def q_hdi_composite_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDI-style composite index per nation: three dimensions
    (revenue, customer base, order intensity) min-max normalized
    and combined by GEOMETRIC mean — the UN-HDI 2010 design choice:
    unlike the arithmetic mean, the geometric mean makes dimensions
    non-substitutable (a zero anywhere zeroes the index, so a
    nation can't buy rank with one huge dimension), which is the
    whole point of a development-style index. Min-max bounds are a
    1-row broadcast; the epsilon floors keep the boundary nation
    (exact 0 after normalization) well-defined in both engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    met = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.count_distinct("o_custkey").cast("double").alias("customers"),
            F.avg("o_totalprice").alias("avg_order"),
        )
    )
    rng = met.agg(
        F.min("revenue").alias("r0"), F.max("revenue").alias("r1"),
        F.min("customers").alias("c0"), F.max("customers").alias("c1"),
        F.min("avg_order").alias("a0"), F.max("avg_order").alias("a1"),
    )
    d1 = (F.col("revenue") - F.col("r0")) / (F.col("r1") - F.col("r0"))
    d2 = (F.col("customers") - F.col("c0")) / (F.col("c1") - F.col("c0"))
    d3 = (F.col("avg_order") - F.col("a0")) / (F.col("a1") - F.col("a0"))
    eps = F.lit(1e-9)
    comp = F.pow(
        F.greatest(d1, eps) * F.greatest(d2, eps) * F.greatest(d3, eps),
        1.0 / 3,
    )
    return (
        met.crossJoin(F.broadcast(rng))
        .select(
            "n_name",
            F.round(comp, 5).alias("composite_index"),
            F.round(d1, 4).alias("dim_revenue"),
            F.round(d2, 4).alias("dim_customers"),
            F.round(d3, 4).alias("dim_avg_order"),
        )
        .orderBy(F.desc("composite_index"), "n_name")
        .limit(10)
    )


@register(
    "wasserstein_1d",
    oracle="""
    WITH a AS (SELECT p_retailprice AS v FROM part WHERE p_brand = 'Brand#11'),
    b AS (SELECT p_retailprice AS v FROM part WHERE p_brand = 'Brand#22'),
    na AS (SELECT CAST(count(*) AS DOUBLE) AS n1 FROM a),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n2 FROM b),
    merged AS (
      SELECT v, sum(ca) AS ca, sum(cb) AS cb
      FROM (SELECT v, 1.0 AS ca, 0.0 AS cb FROM a
            UNION ALL SELECT v, 0.0, 1.0 FROM b)
      GROUP BY v),
    cum AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v) AS cca,
             sum(cb) OVER (ORDER BY v) AS ccb,
             lead(v) OVER (ORDER BY v) AS vnext
      FROM merged)
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           round(sum(abs(cca / n1 - ccb / n2) * (vnext - v)), 4)
             AS wasserstein_1
    FROM cum, na, nb WHERE vnext IS NOT NULL GROUP BY n1, n2
    """,
    tags=("stats", "distribution-fit", "window"),
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between two brands'
    price distributions: W₁ = ∫|F₁−F₂| dv, the exact optimal-
    transport cost in one dimension — unlike KS's sup
    (ks_price_drift) it measures HOW MUCH mass must move HOW FAR,
    in price units, which is why distribution-shift monitoring
    prefers it for numeric drift. The integral is a single window
    pass over the merged distinct-value ECDFs (gap-weighted |ΔF|
    via lead) — histogram-sized work, closed-form exact, no
    binning approximation."""
    p = _t(spark, sf_dir, "part")
    a = p.filter(F.col("p_brand") == "Brand#11").select(
        F.col("p_retailprice").alias("v"),
        F.lit(1.0).alias("ca"),
        F.lit(0.0).alias("cb"),
    )
    b = p.filter(F.col("p_brand") == "Brand#22").select(
        F.col("p_retailprice").alias("v"),
        F.lit(0.0).alias("ca"),
        F.lit(1.0).alias("cb"),
    )
    merged = (
        a.unionAll(b)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    from ...operators.rank import global_ranked

    na = a.agg(F.sum("ca").alias("n1"))
    nb = b.agg(F.sum("cb").alias("n2"))
    cum = global_ranked(
        merged,
        ["v"],
        running_sums={"cca": F.col("ca"), "ccb": F.col("cb")},
        lead={"vnext": F.col("v")},
    ).select("v", "cca", "ccb", "vnext").filter(F.col("vnext").isNotNull())
    return (
        cum.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("cca") / F.col("n1") - F.col("ccb") / F.col("n2"))
                    * (F.col("vnext") - F.col("v"))
                ),
                4,
            ).alias("wasserstein_1")
        )
        .select(
            F.col("n1").cast("bigint").alias("n_a"),
            F.col("n2").cast("bigint").alias("n_b"),
            "wasserstein_1",
        )
    )


@register(
    "gower_similarity_topk",
    oracle="""
    WITH feat AS (
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier),
    rng AS (SELECT max(s_acctbal) - min(s_acctbal) AS r FROM feat),
    pairs AS (
      SELECT a.s_name AS s1, b.s_name AS s2,
             ((1 - abs(a.s_acctbal - b.s_acctbal) / r)
              + CASE WHEN a.s_nationkey = b.s_nationkey THEN 1 ELSE 0 END
              + CASE WHEN sign(a.s_acctbal) = sign(b.s_acctbal)
                     THEN 1 ELSE 0 END) / 3.0 AS gower
      FROM feat a JOIN feat b ON a.s_name < b.s_name, rng)
    SELECT s1, s2, round(gower, 4) AS gower_similarity
    FROM pairs ORDER BY round(gower, 6) DESC, s1, s2 LIMIT 10
    """,
    tags=("similarity", "fuzzy", "join"),
)
def q_gower_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gower similarity over MIXED feature types — the distance
    that lets numeric (range-normalized account balance),
    categorical (nation, exact match), and boolean (balance sign)
    features average into one [0,1] score without arbitrary
    numeric encodings of categories; it is the standard metric for
    clustering mixed records where cosine/L2 are undefined
    (cf. the pure-numeric silhouette_by_label tier). Range is a
    1-row broadcast; the pair join is supplier-sized, and at scale
    becomes an LSH/blocking candidate set like every pairwise
    family here."""
    s = _t(spark, sf_dir, "supplier")
    feat = s.select("s_name", "s_nationkey", "s_acctbal")
    rng = feat.agg((F.max("s_acctbal") - F.min("s_acctbal")).alias("r"))
    a = feat.select(
        F.col("s_name").alias("s1"),
        F.col("s_nationkey").alias("nk1"),
        F.col("s_acctbal").alias("ab1"),
    )
    b = feat.select(
        F.col("s_name").alias("s2"),
        F.col("s_nationkey").alias("nk2"),
        F.col("s_acctbal").alias("ab2"),
    )
    gower = (
        (1 - F.abs(F.col("ab1") - F.col("ab2")) / F.col("r"))
        + F.when(F.col("nk1") == F.col("nk2"), 1).otherwise(0)
        + F.when(F.signum("ab1") == F.signum("ab2"), 1).otherwise(0)
    ) / 3.0
    pairs = (
        a.join(b, F.col("s1") < F.col("s2"))
        .crossJoin(F.broadcast(rng))
        .select("s1", "s2", gower.alias("gower"))
    )
    return (
        pairs.orderBy(F.round(F.col("gower"), 6).desc(), "s1", "s2")
        .limit(10)
        .select("s1", "s2", F.round("gower", 4).alias("gower_similarity"))
    )


@register(
    "zero_inflation_check",
    oracle="""
    WITH days AS (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
                  AS nd FROM events),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n_events,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS DOUBLE) AS active_days
      FROM events GROUP BY user_id),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS nu,
             sum(active_days) AS tot_active,
             sum(n_events) AS tot_events,
             avg(exp(-n_events / nd)) AS mixed_pred
      FROM per_user, days GROUP BY nd)
    SELECT CAST(nu AS BIGINT) AS n_users,
           CAST((SELECT nd FROM days) AS BIGINT) AS n_days,
           round(1 - tot_active / (nu * (SELECT nd FROM days)), 4)
             AS observed_zero_share,
           round(exp(-tot_events / (nu * (SELECT nd FROM days))), 4)
             AS pooled_poisson_pred,
           round(mixed_pred, 4) AS per_user_poisson_pred
    FROM agg
    """,
    tags=("stats", "pointprocess", "events"),
)
def q_zero_inflation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-inflation diagnostic on per-user daily activity: the
    observed share of silent user-days against two Poisson
    predictions — pooled (one λ for everyone, which overdispersion
    always beats) and per-user mixed (E[e^{−λᵤ}], the right null
    when rates vary). Observed ≫ both predictions = genuine excess
    zeros, the signal to reach for hurdle/ZIP models instead of
    Poisson regression (burstiness_fano diagnoses the variance
    side; this diagnoses the zero mass). The user-day grid is never
    materialized — zeros are counted by ARITHMETIC (n_users×n_days
    − Σactive), the only scalable way when the dense grid is
    trillions of cells."""
    e = _t(spark, sf_dir, "events")
    days = e.agg(
        F.count_distinct(F.to_date("ts")).cast("double").alias("nd")
    )
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n_events"),
        F.count_distinct(F.to_date("ts")).cast("double").alias("active_days"),
    )
    agg = per_user.crossJoin(F.broadcast(days)).groupBy("nd").agg(
        F.count("*").cast("double").alias("nu"),
        F.sum("active_days").alias("tot_active"),
        F.sum("n_events").alias("tot_events"),
        F.avg(F.exp(-F.col("n_events") / F.col("nd"))).alias("mixed_pred"),
    )
    return agg.select(
        F.col("nu").cast("bigint").alias("n_users"),
        F.col("nd").cast("bigint").alias("n_days"),
        F.round(
            1 - F.col("tot_active") / (F.col("nu") * F.col("nd")), 4
        ).alias("observed_zero_share"),
        F.round(
            F.exp(-F.col("tot_events") / (F.col("nu") * F.col("nd"))), 4
        ).alias("pooled_poisson_pred"),
        F.round("mixed_pred", 4).alias("per_user_poisson_pred"),
    )


@register(
    "cohens_kappa_filters",
    oracle="""
    WITH scored AS (
      SELECT n_chars,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               AS words
      FROM documents),
    med AS (
      SELECT CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS mc,
             CAST(quantile_cont(words, 0.5) AS DOUBLE) AS mw
      FROM scored),
    rated AS (
      SELECT CASE WHEN n_chars > mc THEN 1 ELSE 0 END AS ra,
             CASE WHEN words > mw THEN 1 ELSE 0 END AS rb
      FROM scored, med),
    cnt AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(CASE WHEN ra = rb THEN 1.0 ELSE 0.0 END) AS po,
             avg(CAST(ra AS DOUBLE)) AS pa,
             avg(CAST(rb AS DOUBLE)) AS pb
      FROM rated)
    SELECT CAST(n AS BIGINT) AS n_docs,
           round(po, 4) AS observed_agreement,
           round(pa * pb + (1 - pa) * (1 - pb), 4) AS chance_agreement,
           round((po - (pa * pb + (1 - pa) * (1 - pb)))
                 / (1 - (pa * pb + (1 - pa) * (1 - pb))), 4) AS cohens_kappa
    FROM cnt
    """,
    tags=("agreement", "quality", "curation"),
)
def q_cohens_kappa_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two document-quality filters (above-median
    characters vs above-median words): raw agreement corrected for
    the agreement two filters would show BY CHANCE given their
    marginal pass rates — two length-ish filters agree often simply
    because both pass ~half the corpus, and κ subtracts exactly
    that illusion (the inter-rater statistic, pointed at the
    question 'is the second filter redundant'). Two exact medians,
    one conditional aggregate; κ near 1 here means the filters are
    interchangeable and one pipeline stage can be deleted."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "n_chars", TXT.token_count(F.col("text")).cast("double").alias("words")
    )
    med = scored.agg(
        F.expr("percentile(n_chars, 0.5)").alias("mc"),
        F.expr("percentile(words, 0.5)").alias("mw"),
    )
    rated = scored.crossJoin(F.broadcast(med)).select(
        F.when(F.col("n_chars") > F.col("mc"), 1).otherwise(0).alias("ra"),
        F.when(F.col("words") > F.col("mw"), 1).otherwise(0).alias("rb"),
    )
    cnt = rated.agg(
        F.count("*").cast("double").alias("n"),
        F.avg(F.when(F.col("ra") == F.col("rb"), 1.0).otherwise(0.0)).alias("po"),
        F.avg(F.col("ra").cast("double")).alias("pa"),
        F.avg(F.col("rb").cast("double")).alias("pb"),
    )
    pe = F.col("pa") * F.col("pb") + (1 - F.col("pa")) * (1 - F.col("pb"))
    return cnt.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round("po", 4).alias("observed_agreement"),
        F.round(pe, 4).alias("chance_agreement"),
        F.round((F.col("po") - pe) / (1 - pe), 4).alias("cohens_kappa"),
    )


@register(
    "bitemporal_restatement",
    oracle="""
    WITH facts AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS vm,
             CAST(o_orderdate AS DATE)
               + CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                      ::UBIGINT % 11 AS INT) AS known_on,
             o_totalprice AS v
      FROM orders),
    reported AS (
      SELECT vm,
             sum(CASE WHEN known_on < vm + INTERVAL 1 MONTH THEN v
                      ELSE 0 END) AS first_reported,
             sum(v) AS final_value
      FROM facts GROUP BY vm)
    SELECT strftime(vm, '%Y-%m') AS valid_month,
           round(first_reported, 2) AS first_reported,
           round(final_value, 2) AS final_value,
           round(100 * (final_value / first_reported - 1), 3)
             AS restatement_pct
    FROM reported ORDER BY vm LIMIT 12
    """,
    tags=("scd", "audit", "warehouse"),
)
def q_bitemporal_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal restatement audit — the late-arriving-fact
    problem: every order has a VALID month (when it happened) and a
    KNOWN-ON date (when it reached the warehouse, here a
    deterministic 0–10-day md5 lag), and month-end reports are
    systematically short by whatever hadn't landed yet. The query
    reconstructs each month's first-reported value (transaction-time
    as-of: known before month end) against the final restated value
    — the gap is the restatement every finance close and every
    'why did last month's number change' ticket is about. One scan,
    one conditional aggregate; a real bitemporal store would make
    known_on a partition column and this query prunes to it."""
    o = _t(spark, sf_dir, "orders")
    vm = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    known = F.date_add(
        F.col("o_orderdate").cast("date"),
        CUR.hash_bucket(F.col("o_orderkey"), 11),
    )
    facts = o.select(
        vm.alias("vm"), known.alias("known_on"), F.col("o_totalprice").alias("v")
    )
    month_end = F.add_months(F.col("vm"), 1).cast("timestamp")
    asof = facts.groupBy("vm").agg(
        F.sum(
            F.when(F.col("known_on").cast("timestamp") < month_end, F.col("v")).otherwise(
                0.0
            )
        ).alias("first_reported"),
        F.sum("v").alias("final_value"),
    )
    return (
        asof.orderBy("vm")
        .limit(12)
        .select(
            F.date_format("vm", "yyyy-MM").alias("valid_month"),
            F.round("first_reported", 2).alias("first_reported"),
            F.round("final_value", 2).alias("final_value"),
            F.round(
                100 * (F.col("final_value") / F.col("first_reported") - 1), 3
            ).alias("restatement_pct"),
        )
    )


@register(
    "skyline_3d_suppliers",
    oracle="""
    WITH crit AS (
      SELECT s_name,
             sum(l_extendedprice * (1 - l_discount)) AS revenue,
             CAST(count(DISTINCT l_partkey) AS DOUBLE) AS breadth,
             avg(l_discount) AS giveaway
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name)
    SELECT s_name, round(revenue, 2) AS revenue,
           CAST(breadth AS BIGINT) AS breadth,
           round(giveaway, 5) AS giveaway
    FROM crit a
    WHERE NOT EXISTS (
      SELECT 1 FROM crit b
      WHERE b.revenue >= a.revenue AND b.breadth >= a.breadth
        AND b.giveaway <= a.giveaway
        AND (b.revenue > a.revenue OR b.breadth > a.breadth
             OR b.giveaway < a.giveaway))
    ORDER BY s_name
    """,
    tags=("skyline", "subquery", "ranking"),
)
def q_skyline_3d_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-criteria Pareto skyline of suppliers (revenue↑,
    breadth↑, discount-giveaway↓): the undominated set no weighted
    score can pre-select — every skyline member is optimal under
    SOME preference weighting, which is why procurement shortlists
    are skylines, not top-k (TOPSIS, topsis_supplier_ranking, then
    picks WITHIN this set once weights are chosen). In 2-D the
    sort+running-max sweep wins (pareto_skyline); in 3-D no total
    order exists, so domination is the anti-join itself — a
    |suppliers|² check that at scale runs after a grid/local-skyline
    prefilter, exactly the pattern the 2-D operator's partition
    prefilter establishes."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    crit = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count_distinct("l_partkey").cast("double").alias("breadth"),
            F.avg("l_discount").alias("giveaway"),
        )
    )
    a = crit.select(
        F.col("s_name").alias("an"),
        F.col("revenue").alias("ar"),
        F.col("breadth").alias("ab"),
        F.col("giveaway").alias("ag"),
    )
    b = crit.select(
        F.col("revenue").alias("br"),
        F.col("breadth").alias("bb"),
        F.col("giveaway").alias("bg"),
    )
    dominated = (
        (F.col("br") >= F.col("ar"))
        & (F.col("bb") >= F.col("ab"))
        & (F.col("bg") <= F.col("ag"))
        & (
            (F.col("br") > F.col("ar"))
            | (F.col("bb") > F.col("ab"))
            | (F.col("bg") < F.col("ag"))
        )
    )
    skyline = a.join(b, dominated, "left_anti")
    return skyline.select(
        F.col("an").alias("s_name"),
        F.round("ar", 2).alias("revenue"),
        F.col("ab").cast("bigint").alias("breadth"),
        F.round("ag", 5).alias("giveaway"),
    ).orderBy("s_name")


@register(
    "dynamic_pivot_years",
    oracle="""
    WITH rev AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             o_totalprice AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey)
    SELECT n_name,
           round(sum(CASE WHEN yr = 1995 THEN v END), 2) AS y1995,
           round(sum(CASE WHEN yr = 1996 THEN v END), 2) AS y1996,
           round(sum(CASE WHEN yr = 1997 THEN v END), 2) AS y1997,
           round(sum(CASE WHEN yr = 1998 THEN v END), 2) AS y1998,
           round(sum(CASE WHEN yr = 1999 THEN v END), 2) AS y1999,
           round(sum(CASE WHEN yr = 2000 THEN v END), 2) AS y2000,
           round(sum(CASE WHEN yr = 2001 THEN v END), 2) AS y2001
    FROM rev GROUP BY n_name
    """,
    tags=("pivot", "reshape", "agg"),
)
def q_dynamic_pivot_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot: nation × year revenue matrix where the year
    columns are DISCOVERED from the data (pivot with no value list
    — Spark runs a distinct-values job, then compiles the same
    single-pass conditional aggregate a static pivot gets). The
    oracle necessarily enumerates the columns statically — that gap
    IS the feature: the Spark plan adapts when 1999 data lands, the
    SQL must be rewritten. Missing (nation, year) cells stay NULL
    (no ELSE 0) so absence is distinguishable from zero revenue."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            F.col("o_totalprice").alias("v"),
        )
    )
    piv = rev.groupBy("n_name").pivot("yr").sum("v")
    year_cols = sorted(col for col in piv.columns if col != "n_name")
    return piv.select(
        "n_name",
        *[F.round(F.col(f"`{y}`"), 2).alias(f"y{y}") for y in year_cols],
    )


@register(
    "ignore_nulls_family",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN NULL ELSE sum(o_totalprice) END AS v
      FROM orders GROUP BY 1, 2),
    w AS (
      SELECT m,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY m ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_wd,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY m ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_wd,
             CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_null
      FROM daily)
    SELECT strftime(m, '%Y-%m') AS month,
           round(any_value(first_wd), 2) AS first_weekday_rev,
           round(any_value(last_wd), 2) AS last_weekday_rev,
           CAST(sum(is_null) AS BIGINT) AS n_masked_days
    FROM w GROUP BY m ORDER BY month LIMIT 12
    """,
    tags=("window", "null", "sql"),
)
def q_ignore_nulls_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics: weekend revenue is masked to
    NULL, and first_value/last_value with IGNORE NULLS reach
    through the gaps to the month's first and last WEEKDAY values —
    the SQL:2008 null-treatment clause that makes
    last-known-good-reading queries one window call instead of the
    islands dance (gap_fill_forward uses the same device for
    forward fill; this pins the whole-frame variants). Identical
    semantics both engines; the full-frame window runs inside
    month partitions, so it parallelizes by month."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
    ).agg(F.sum("o_totalprice").alias("raw"))
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek: 1=Sunday..7.
    wd = F.dayofweek("d")
    daily = daily.select(
        "d",
        "m",
        F.when(wd.isin(1, 7), F.lit(None).cast("double"))
        .otherwise(F.col("raw"))
        .alias("v"),
    )
    wfull = Window.partitionBy("m").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = daily.select(
        "m",
        F.first("v", ignorenulls=True).over(wfull).alias("first_wd"),
        F.last("v", ignorenulls=True).over(wfull).alias("last_wd"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("is_null"),
    )
    return (
        w.groupBy("m")
        .agg(
            F.round(F.first("first_wd"), 2).alias("first_weekday_rev"),
            F.round(F.first("last_wd"), 2).alias("last_weekday_rev"),
            F.sum("is_null").cast("bigint").alias("n_masked_days"),
        )
        .orderBy("m")
        .limit(12)
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "first_weekday_rev",
            "last_weekday_rev",
            "n_masked_days",
        )
    )


@register(
    "collation_compare",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN p_type
                  ELSE lower(p_type) END AS t
      FROM part)
    SELECT CAST(count(DISTINCT t) AS BIGINT) AS distinct_binary,
           CAST(count(DISTINCT lower(t)) AS BIGINT) AS distinct_ci,
           CAST(sum(CASE WHEN lower(t) LIKE 'promo%' THEN 1 ELSE 0 END)
                AS BIGINT) AS promo_ci_matches,
           CAST(sum(CASE WHEN t LIKE 'PROMO%' THEN 1 ELSE 0 END)
                AS BIGINT) AS promo_binary_matches
    FROM mixed
    """,
    tags=("string", "sql", "distinct"),
)
def q_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4 collations): the same
    mixed-case column counted distinct under binary vs
    case-insensitive UTF8_LCASE collation, and a prefix predicate
    evaluated both ways — under the collated comparison the engine
    treats 'PROMO…' and 'promo…' as ONE value with no lower()
    rewrite in the query (the collation travels with the TYPE, so
    every comparison, join, and distinct downstream inherits it —
    the principled fix for case-divergent dimension values that
    lower()-sprinkling never fully covers). The oracle models the
    semantics with explicit lower(); the counts must agree
    exactly."""
    p = _t(spark, sf_dir, "part")
    mixed = p.select(
        F.when(F.col("p_partkey") % 2 == 0, F.col("p_type"))
        .otherwise(F.lower("p_type"))
        .alias("t")
    )
    ci = F.collate(F.col("t"), "UTF8_LCASE")
    return mixed.agg(
        F.count_distinct("t").cast("bigint").alias("distinct_binary"),
        F.count_distinct(ci).cast("bigint").alias("distinct_ci"),
        F.sum(F.when(ci.like("promo%"), 1).otherwise(0))
        .cast("bigint")
        .alias("promo_ci_matches"),
        F.sum(F.when(F.col("t").like("PROMO%"), 1).otherwise(0))
        .cast("bigint")
        .alias("promo_binary_matches"),
    )


@register(
    "array_exists_forall",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN len(list_filter(embedding,
                         v -> abs(v::DOUBLE) > 3)) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_extreme,
           CAST(sum(CASE WHEN len(list_filter(embedding,
                         v -> abs(v::DOUBLE) >= 5)) = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_all_bounded,
           round(avg(len(list_filter(embedding, v -> v::DOUBLE > 0))), 3)
             AS avg_positive_dims
    FROM embeddings
    """,
    tags=("array", "hof", "embeddings"),
)
def q_array_exists_forall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifier higher-order functions over array columns:
    exists (any |v|>3), forall (all |v|<5), and filter+size
    (positive-dim count) evaluated per embedding WITHOUT explode —
    the per-row array work stays inside whole-stage codegen as a
    tight loop over the array buffer, versus the explode
    formulation that multiplies the row count 64× and re-aggregates
    (embedding_norms pins the same point for fold/aggregate). At
    100 TB of vectors the difference is a shuffle-free scan vs a
    64×-wide one."""
    e = _t(spark, sf_dir, "embeddings")
    vd = lambda v: v.cast("double")
    return e.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(
            F.when(F.exists("embedding", lambda v: F.abs(vd(v)) > 3), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_with_extreme"),
        F.sum(
            F.when(F.forall("embedding", lambda v: F.abs(vd(v)) < 5), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_all_bounded"),
        F.round(
            F.avg(F.size(F.filter("embedding", lambda v: vd(v) > 0))), 3
        ).alias("avg_positive_dims"),
    )


@register(
    "explode_outer_nulls",
    oracle="""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         w -> length(w) >= 12) AS longs
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS docs_outer,
           CAST(sum(CASE WHEN len(longs) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_inner,
           CAST(sum(CASE WHEN len(longs) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_dropped_by_inner,
           CAST(sum(len(longs)) AS BIGINT) AS total_long_words
    FROM arrs
    """,
    tags=("explode", "null", "sql"),
)
def q_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer semantics, pinned by counting: a
    per-doc array of 12+-letter words is EMPTY for most documents,
    and a plain explode silently DROPS those rows — the lateral-
    view bug that quietly deletes every document without a match
    from downstream counts. The query materializes both paths
    (outer keeps empty-array docs as a NULL word row) and reports
    exactly how many documents the inner variant loses; the oracle
    states the same semantics arithmetically from array lengths."""
    d = _t(spark, sf_dir, "documents")
    arrs = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"),
            lambda w: F.length(w) >= 12,
        ).alias("longs"),
    )
    outer = arrs.select("doc_id", F.explode_outer("longs").alias("w"))
    docs_outer = outer.agg(F.count_distinct("doc_id").alias("c"))
    inner = arrs.select("doc_id", F.explode("longs").alias("w"))
    docs_inner = inner.agg(
        F.count_distinct("doc_id").alias("ci"), F.count("w").alias("tw")
    )
    return (
        docs_outer.crossJoin(F.broadcast(docs_inner))
        .select(
            F.col("c").cast("bigint").alias("docs_outer"),
            F.col("ci").cast("bigint").alias("docs_inner"),
            (F.col("c") - F.col("ci")).cast("bigint").alias(
                "docs_dropped_by_inner"
            ),
            F.col("tw").cast("bigint").alias("total_long_words"),
        )
    )


@register(
    "median_polish",
    oracle="""
    WITH cells AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    g0 AS (SELECT CAST(quantile_cont(x, 0.5) AS DOUBLE) AS m0 FROM cells),
    r0 AS (SELECT n_name, yr, x - m0 AS r FROM cells, g0),
    re1 AS (SELECT n_name, CAST(quantile_cont(r, 0.5) AS DOUBLE) AS e
            FROM r0 GROUP BY n_name),
    r1 AS (SELECT r0.n_name, yr, r - e AS r
           FROM r0 JOIN re1 USING (n_name)),
    ce1 AS (SELECT yr, CAST(quantile_cont(r, 0.5) AS DOUBLE) AS e
            FROM r1 GROUP BY yr),
    r2 AS (SELECT n_name, r1.yr, r - e AS r FROM r1 JOIN ce1 USING (yr)),
    re2 AS (SELECT n_name, CAST(quantile_cont(r, 0.5) AS DOUBLE) AS e
            FROM r2 GROUP BY n_name),
    r3 AS (SELECT r2.n_name, yr, r - e AS r FROM r2 JOIN re2 USING (n_name)),
    ce2 AS (SELECT yr, CAST(quantile_cont(r, 0.5) AS DOUBLE) AS e
            FROM r3 GROUP BY yr),
    r4 AS (SELECT n_name, r3.yr, r - e AS r FROM r3 JOIN ce2 USING (yr))
    SELECT n_name, CAST(yr AS BIGINT) AS yr, round(r, 2) AS residual
    FROM r4 ORDER BY abs(r) DESC, n_name, yr LIMIT 5
    """,
    tags=("robust", "decomposition", "stats"),
)
def q_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's median polish on the nation×year revenue matrix (two
    full row/column sweeps, unrolled): iteratively subtract row and
    column MEDIANS so the residuals isolate genuine interactions —
    the robust two-way decomposition whose mean-based cousin
    (variance_decomposition) lets one outlier cell contaminate an
    entire row effect; top-5 |residual| cells are the
    nation-year combinations that genuinely deviate from 'row
    effect + column effect'. Every sweep is a grouped exact median
    over the 25×7 matrix relation plus a broadcast join back —
    the fact table is touched once: `materialize` on the cell matrix
    (operators/iterate.py) keeps the four sweeps iterating over 175
    materialized rows instead of re-embedding the orders⋈customer
    join per sweep (158 exchanges → <10)."""
    from ...operators.iterate import iterate, materialize

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cells = materialize(
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("x"))
    )
    g0 = cells.agg(F.expr("percentile(x, 0.5)").alias("m0"))
    r0 = cells.crossJoin(F.broadcast(g0)).select(
        "n_name", "yr", (F.col("x") - F.col("m0")).alias("r")
    )
    _keys = ("n_name", "yr", "n_name", "yr")

    def sweep(r, i):
        key = _keys[i]
        eff = r.groupBy(key).agg(F.expr("percentile(r, 0.5)").alias("e"))
        return r.join(F.broadcast(eff), key).select(
            "n_name", "yr", (F.col("r") - F.col("e")).alias("r")
        )

    r = iterate(r0, sweep, 4, checkpoint_every=2)
    return (
        r.orderBy(F.abs(F.col("r")).desc(), "n_name", "yr")
        .limit(5)
        .select(
            "n_name",
            F.col("yr").cast("bigint").alias("yr"),
            F.round("r", 2).alias("residual"),
        )
    )


@register(
    "record_breaking_counts",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    seq AS (
      SELECT d, v,
             CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS i,
             max(v) OVER (ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM daily)
    SELECT CAST(year(d) AS BIGINT) AS yr,
           CAST(sum(CASE WHEN prev_max IS NULL OR v > prev_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
           round(sum(1.0 / i), 2) AS expected_if_iid
    FROM seq GROUP BY 1
    """,
    tags=("timeseries", "window", "stats"),
)
def q_record_breaking_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking days per year — all-time daily-revenue highs
    counted against the i.i.d. theory expectation Σ1/i (record
    counts in an exchangeable sequence follow the harmonic series,
    ≈ ln n, REGARDLESS of the distribution — one of probability's
    cleaner free lunches): observed record counts persistently above
    the harmonic curve are direct evidence of trend, with no model
    fit (cf. mann_kendall_trend for the hypothesis-test version).
    One running-max window with a 1-preceding frame so the first
    day counts as a record by NULL convention, not by accident."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = daily.select(
        "d",
        "v",
        F.row_number().over(w).cast("double").alias("i"),
        F.max("v").over(wprev).alias("prev_max"),
    )
    is_rec = F.when(
        F.col("prev_max").isNull() | (F.col("v") > F.col("prev_max")), 1
    ).otherwise(0)
    return seq.groupBy(F.year("d").cast("bigint").alias("yr")).agg(
        F.sum(is_rec).cast("bigint").alias("n_records"),
        F.round(F.sum(1.0 / F.col("i")), 2).alias("expected_if_iid"),
    )


@register(
    "tpcds_q97_channel_overlap",
    oracle="""
    WITH early AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE month(CAST(o_orderdate AS DATE)) <= 6),
    late AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE month(CAST(o_orderdate AS DATE)) > 6),
    merged AS (
      SELECT coalesce(e.ck, l.ck) AS ck,
             CASE WHEN e.ck IS NOT NULL THEN 1 ELSE 0 END AS in_early,
             CASE WHEN l.ck IS NOT NULL THEN 1 ELSE 0 END AS in_late
      FROM early e FULL OUTER JOIN late l
        ON e.ck = l.ck AND e.pk = l.pk)
    SELECT CAST(sum(CASE WHEN in_early = 1 AND in_late = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS both_halves,
           CAST(sum(CASE WHEN in_early = 1 AND in_late = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS early_only,
           CAST(sum(CASE WHEN in_early = 0 AND in_late = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_only
    FROM merged
    """,
    tags=("tpcds", "outer-join", "distinct"),
)
def q_tpcds_q97_channel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q97's exact shape: two deduplicated (customer, item)
    incidence sets — here first-half vs second-half of the year
    standing in for the store/catalog channels — FULL OUTER joined
    on the composite key with conditional counts of both/only-left/
    only-right. The dedup-BEFORE-join is the load-bearing choice:
    joining raw purchase rows would multiply counts by purchase
    frequency² (the classic Q97 trap); each side collapses to its
    distinct incidence first, so the outer join is
    |customers×items|-bounded and the three counts partition it
    exactly."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("ck"),
        F.col("l_partkey").alias("pk"),
        F.month(F.col("o_orderdate").cast("date")).alias("mo"),
    )
    early = j.filter(F.col("mo") <= 6).select("ck", "pk").distinct()
    late = j.filter(F.col("mo") > 6).select("ck", "pk").distinct()
    merged = early.select(
        "ck", "pk", F.lit(1).alias("in_early")
    ).join(
        late.select("ck", "pk", F.lit(1).alias("in_late")),
        ["ck", "pk"],
        "full_outer",
    )
    ie = F.coalesce("in_early", F.lit(0))
    il = F.coalesce("in_late", F.lit(0))
    return merged.agg(
        F.sum(F.when((ie == 1) & (il == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("both_halves"),
        F.sum(F.when((ie == 1) & (il == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("early_only"),
        F.sum(F.when((ie == 0) & (il == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("late_only"),
    )


@register(
    "simhash_hamming_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
               AS token
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
             sum(CASE WHEN (hbits // CAST(pow(2, pos) AS BIGINT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT unnest(generate_series(0, 15)) AS pos)
      GROUP BY doc_id, pos
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bitsums GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, b,
             (simhash // CAST(pow(16, b) AS BIGINT)) % 16 AS band_val
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, a.simhash AS s1,
                      c.doc_id AS d2, c.simhash AS s2
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.band_val = c.band_val AND a.doc_id < c.doc_id),
    ham AS (SELECT bit_count(CAST(xor(s1, s2) AS BIGINT)) AS hd FROM cand)
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN hd <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_near_pairs,
           CAST(sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_identical
    FROM ham
    """,
    tags=("dedup", "hash", "similarity"),
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS at Hamming distance ≤ 3, found
    without any all-pairs comparison: split the 16-bit fingerprint
    into 4 bands of 4 bits — by pigeonhole, ≤3 differing bits leave
    at least one band IDENTICAL, so the band-value equi-join
    (Charikar/Manku-Jain-Sarma, the Google near-dup crawler design)
    finds every qualifying pair with an exact guarantee, and
    bit_count(xor) verifies candidates exactly. This upgrades
    dedup_simhash's identical-fingerprint buckets to tolerance-
    based matching — the candidate volume is bounded by band-bucket
    sizes, never n²."""
    d = _t(spark, sf_dir, "documents")
    fp = DD.simhash(d)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).select(
        "doc_id",
        "simhash",
        "b",
        F.expr("shiftright(simhash, b * 4) & 15").alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"), "b", "band_val"
    )
    c = bands.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"), "b", "band_val"
    )
    cand = (
        a.join(c, ["b", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "s1", "d2", "s2")
        .distinct()
    )
    ham = cand.select(
        F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hd")
    )
    return ham.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("hd") <= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_pairs"),
        F.sum(F.when(F.col("hd") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_identical"),
    )


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    cnt AS (
      SELECT token, CAST(count(*) AS DOUBLE) AS c
      FROM tok WHERE token <> '' GROUP BY token),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rk
      FROM cnt),
    tot AS (SELECT sum(c) AS t, CAST(count(*) AS BIGINT) AS vocab FROM ranked),
    ks AS (SELECT unnest([10, 50, 100, 500, 1000]) AS k)
    SELECT CAST(k AS BIGINT) AS vocab_size,
           round(sum(CASE WHEN rk <= k THEN c ELSE 0 END) / t, 5)
             AS corpus_coverage,
           round(1 - sum(CASE WHEN rk <= k THEN c ELSE 0 END) / t, 5)
             AS oov_share
    FROM ranked CROSS JOIN ks, tot GROUP BY k, t
    """,
    tags=("text", "training", "coverage"),
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size vs corpus coverage curve: what share of all
    token occurrences the top-k most frequent types cover, at k =
    10…1000 — THE tokenizer-budget curve (vocab_oov_rate gives one
    point; this gives the frontier that decides where the marginal
    vocabulary slot stops paying for itself, the empirical face of
    Zipf's law that zipf_fit parameterizes). One frequency
    aggregate, one ranking over the |vocab| relation, and all five
    curve points from a single cross-joined conditional sum — no
    per-k re-scan."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("token").agg(F.count("*").cast("double").alias("c"))
    ranked = cnt.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), "token")).alias("rk"),
    )
    tot = ranked.agg(F.sum("c").alias("t"))
    ks = local_df(spark, [(10,), (50,), (100,), (500,), (1000,)], "k int")
    covered = F.sum(
        F.when(F.col("rk") <= F.col("k"), F.col("c")).otherwise(0.0)
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "t")
        .agg(covered.alias("cov"))
        .select(
            F.col("k").cast("bigint").alias("vocab_size"),
            F.round(F.col("cov") / F.col("t"), 5).alias("corpus_coverage"),
            F.round(1 - F.col("cov") / F.col("t"), 5).alias("oov_share"),
        )
    )


@register(
    "packing_efficiency_curve",
    oracle="""
    WITH docs AS (
      SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
               AS n_tok
      FROM documents),
    ls AS (SELECT unnest([128, 512, 2048]) AS max_len)
    SELECT CAST(max_len AS BIGINT) AS max_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           round(sum(greatest(n_tok - max_len, 0)) / sum(n_tok), 5)
             AS truncated_token_share,
           CAST(ceil(sum(least(n_tok, max_len)) / max_len) AS BIGINT)
             AS min_bins
    FROM docs CROSS JOIN ls GROUP BY max_len
    """,
    tags=("training", "packing", "agg"),
)
def q_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length budget sweep for training packing: at max_len
    ∈ {128, 512, 2048}, how many documents truncate, what share of
    tokens the truncation burns, and the bin-count LOWER BOUND
    ⌈Σmin(len, L)/L⌉ that any packing (including
    sequence_packing's first-fit) must meet — the capacity-planning
    numbers behind the context-length decision, where the token loss
    at small L trades against the padding/bin cost at large L. One
    scan; all three budget points come from a tiny cross join, the
    same no-re-scan device as vocab_coverage_curve."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(TXT.token_count(F.col("text")).cast("double").alias("n_tok"))
    ls = local_df(spark, [(128,), (512,), (2048,)], "max_len int")
    return (
        docs.crossJoin(F.broadcast(ls))
        .groupBy("max_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > F.col("max_len"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_truncated"),
            F.round(
                F.sum(F.greatest(F.col("n_tok") - F.col("max_len"), F.lit(0.0)))
                / F.sum("n_tok"),
                5,
            ).alias("truncated_token_share"),
            F.ceil(
                F.sum(F.least(F.col("n_tok"), F.col("max_len").cast("double")))
                / F.first("max_len")
            )
            .cast("bigint")
            .alias("min_bins"),
        )
        .select(
            F.col("max_len").cast("bigint").alias("max_len"),
            "n_docs",
            "docs_truncated",
            "truncated_token_share",
            "min_bins",
        )
    )


@register(
    "oaxaca_blinder",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN r_name IN ('AMERICA', 'EUROPE') THEN 'west'
                  ELSE 'rest' END AS grp,
             o_totalprice AS y, CAST(cnt AS DOUBLE) AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN (SELECT l_orderkey, count(*) AS cnt
            FROM lineitem GROUP BY 1) li ON l_orderkey = o_orderkey),
    fits AS (
      SELECT grp, avg(y) AS my, avg(x) AS mx,
             regr_slope(y, x) AS b, regr_intercept(y, x) AS a
      FROM obs GROUP BY grp),
    wide AS (
      SELECT max(CASE WHEN grp = 'west' THEN my END) AS my_a,
             max(CASE WHEN grp = 'rest' THEN my END) AS my_b,
             max(CASE WHEN grp = 'west' THEN mx END) AS mx_a,
             max(CASE WHEN grp = 'rest' THEN mx END) AS mx_b,
             max(CASE WHEN grp = 'west' THEN b END) AS b_a,
             max(CASE WHEN grp = 'rest' THEN b END) AS b_b,
             max(CASE WHEN grp = 'west' THEN a END) AS a_a,
             max(CASE WHEN grp = 'rest' THEN a END) AS a_b
      FROM fits)
    SELECT round(my_a - my_b, 4) AS total_gap,
           round((mx_a - mx_b) * b_b, 4) AS endowment_effect,
           round((b_a - b_b) * mx_a + (a_a - a_b), 4) AS coefficient_effect,
           round(my_a - my_b
                 - ((mx_a - mx_b) * b_b + (b_a - b_b) * mx_a + (a_a - a_b)),
                 4) + 0.0 AS identity_gap
    FROM wide
    """,
    tags=("economics", "causal", "decomposition"),
)
def q_oaxaca_blinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the order-value gap between
    two region groups: total gap = endowment effect (groups differ
    in basket SIZE, priced at the reference group's slope) +
    coefficient effect (the same basket size is VALUED differently)
    — the labor-economics standard for splitting 'different inputs'
    from 'different returns', with the identity_gap column pinned
    to 0.0000 in both engines since ȳ = a + b·x̄ holds exactly for
    OLS. Two regr_* fits on one grouped pass; the pivot is a 2-row
    conditional max."""
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
            F.when(F.col("r_name").isin("AMERICA", "EUROPE"), "west")
            .otherwise("rest")
            .alias("grp"),
            F.col("o_totalprice").alias("y"),
            F.col("cnt").cast("double").alias("x"),
        )
    )
    fits = obs.groupBy("grp").agg(
        F.avg("y").alias("my"),
        F.avg("x").alias("mx"),
        F.expr("regr_slope(y, x)").alias("b"),
        F.expr("regr_intercept(y, x)").alias("a"),
    )

    def pick(colname, grp):
        return F.max(F.when(F.col("grp") == grp, F.col(colname)))

    wide = fits.agg(
        pick("my", "west").alias("my_a"), pick("my", "rest").alias("my_b"),
        pick("mx", "west").alias("mx_a"), pick("mx", "rest").alias("mx_b"),
        pick("b", "west").alias("b_a"), pick("b", "rest").alias("b_b"),
        pick("a", "west").alias("a_a"), pick("a", "rest").alias("a_b"),
    )
    endow = (F.col("mx_a") - F.col("mx_b")) * F.col("b_b")
    coefe = (F.col("b_a") - F.col("b_b")) * F.col("mx_a") + (
        F.col("a_a") - F.col("a_b")
    )
    gap = F.col("my_a") - F.col("my_b")
    return wide.select(
        F.round(gap, 4).alias("total_gap"),
        F.round(endow, 4).alias("endowment_effect"),
        F.round(coefe, 4).alias("coefficient_effect"),
        canon_round(gap - (endow + coefe), 4).alias("identity_gap"),
    )


@register(
    "duplicate_payment_screen",
    oracle="""
    WITH pairs AS (
      SELECT a.o_orderkey AS k1, b.o_orderkey AS k2,
             a.o_custkey AS cust, a.o_totalprice AS amount,
             date_diff('day', CAST(a.o_orderdate AS DATE),
                       CAST(b.o_orderdate AS DATE)) AS gap_days
      FROM orders a JOIN orders b
        ON a.o_custkey = b.o_custkey
       AND a.o_totalprice = b.o_totalprice
       AND a.o_orderkey < b.o_orderkey
       AND CAST(b.o_orderdate AS DATE)
           BETWEEN CAST(a.o_orderdate AS DATE) - 2
               AND CAST(a.o_orderdate AS DATE) + 2)
    SELECT CAST(count(*) AS BIGINT) AS n_suspect_pairs,
           CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
           round(coalesce(sum(amount), 0), 2) AS exposure,
           CAST(coalesce(max(abs(gap_days)), -1) AS BIGINT) AS max_gap_days
    FROM pairs
    """,
    tags=("audit", "self-join", "quality"),
)
def q_duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen — the accounts-payable audit
    classic: same customer, IDENTICAL amount, within ±2 days, on
    different order keys (double-submits, retry storms, double
    billing). The self-join is keyed on (customer, amount) — both
    high-cardinality, so the equi-join does the heavy pruning and
    the date band only filters survivors; exposure sums the
    at-risk amount once per pair. At 100 TB this join shape is why
    AP systems hash on (vendor, amount) — the candidate set per key
    is tiny even when the table is not."""
    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").cast("date").alias("d1"),
    )
    b = o.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").cast("date").alias("d2"),
    )
    pairs = (
        a.join(b, ["cust", "amount"])
        .filter(
            (F.col("k1") < F.col("k2"))
            & (F.col("d2") >= F.date_sub(F.col("d1"), 2))
            & (F.col("d2") <= F.date_add(F.col("d1"), 2))
        )
        .select("cust", "amount", F.datediff("d2", "d1").alias("gap_days"))
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_suspect_pairs"),
        F.count_distinct("cust").cast("bigint").alias("n_customers"),
        F.round(F.coalesce(F.sum("amount"), F.lit(0.0)), 2).alias("exposure"),
        F.coalesce(F.max(F.abs(F.col("gap_days"))), F.lit(-1))
        .cast("bigint")
        .alias("max_gap_days"),
    )


@register(
    "adamic_adar_linkpred",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (
      SELECT part, CAST(count(*) AS DOUBLE) AS d
      FROM inc GROUP BY part HAVING count(*) BETWEEN 2 AND 20),
    pairs AS (
      SELECT a.cust AS c1, b.cust AS c2, sum(1 / ln(deg.d)) AS aa
      FROM inc a JOIN deg ON a.part = deg.part
      JOIN inc b ON b.part = deg.part AND a.cust < b.cust
      GROUP BY 1, 2)
    SELECT c1, c2, round(aa, 4) AS adamic_adar
    FROM pairs ORDER BY round(aa, 6) DESC, c1, c2 LIMIT 10
    """,
    tags=("graph", "similarity", "join"),
)
def q_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the customer-part bipartite
    graph: candidate customer pairs scored by Σ 1/ln(degree) over
    shared parts — rare shared parts count for much more than
    popular ones, the weighting that makes AA beat raw
    common-neighbor counts. The degree filter (2..20 buyers) is the
    scalability move AND the statistics: hub parts contribute
    ≈1/ln(huge)≈0 anyway, so dropping them bounds the
    wedge-enumeration join by Σd² over SMALL degrees without
    changing the ranking materially — the same hub-cutoff every
    production link-prediction pipeline applies before the
    pair-generating self-join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inc = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    deg = (
        inc.groupBy("part")
        .agg(F.count("*").cast("double").alias("d"))
        .filter(F.col("d").between(2, 20))
    )
    a = inc.select(F.col("cust").alias("c1"), "part")
    b = inc.select(F.col("cust").alias("c2"), "part")
    pairs = (
        a.join(deg, "part")
        .join(b, "part")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.sum(1 / F.log(F.col("d"))).alias("aa"))
    )
    return (
        pairs.orderBy(F.round(F.col("aa"), 6).desc(), "c1", "c2")
        .limit(10)
        .select("c1", "c2", F.round("aa", 4).alias("adamic_adar"))
    )


@register(
    "factorial_interaction_effect",
    oracle="""
    WITH obs AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                  ::UBIGINT % 2 AS INT) AS fa,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS fb,
             o_totalprice AS y
      FROM orders),
    cells AS (
      SELECT fa, fb, avg(y) AS m, CAST(count(*) AS BIGINT) AS n
      FROM obs GROUP BY 1, 2),
    wide AS (
      SELECT max(CASE WHEN fa = 0 AND fb = 0 THEN m END) AS m00,
             max(CASE WHEN fa = 0 AND fb = 1 THEN m END) AS m01,
             max(CASE WHEN fa = 1 AND fb = 0 THEN m END) AS m10,
             max(CASE WHEN fa = 1 AND fb = 1 THEN m END) AS m11,
             min(n) AS min_cell_n
      FROM cells)
    SELECT round((m10 + m11) / 2 - (m00 + m01) / 2, 4) AS main_effect_a,
           round((m01 + m11) / 2 - (m00 + m10) / 2, 4) AS main_effect_b,
           round((m11 - m10) - (m01 - m00), 4) AS interaction,
           min_cell_n
    FROM wide
    """,
    tags=("experimentation", "causal", "agg"),
)
def q_factorial_interaction_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 factorial analysis: a hash-assigned factor crossed with
    the weekend factor, reporting both main effects and the
    INTERACTION contrast (m₁₁−m₁₀)−(m₀₁−m₀₀) — the quantity
    one-factor-at-a-time experimentation structurally cannot see
    (if the interaction is nonzero, the 'effect of A' is not a
    number but a function of B, and shipping decisions made from
    marginal A/B tests are wrong). Four cell means from ONE
    aggregate; min_cell_n guards against reading effects off a
    starved cell."""
    o = _t(spark, sf_dir, "orders")
    obs = o.select(
        CUR.hash_bucket(F.col("o_custkey"), 2).alias("fa"),
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("fb"),
        F.col("o_totalprice").alias("y"),
    )
    cells = obs.groupBy("fa", "fb").agg(
        F.avg("y").alias("m"), F.count("*").cast("bigint").alias("n")
    )

    def cell(fa, fb):
        return F.max(
            F.when((F.col("fa") == fa) & (F.col("fb") == fb), F.col("m"))
        )

    wide = cells.agg(
        cell(0, 0).alias("m00"),
        cell(0, 1).alias("m01"),
        cell(1, 0).alias("m10"),
        cell(1, 1).alias("m11"),
        F.min("n").alias("min_cell_n"),
    )
    return wide.select(
        F.round(
            (F.col("m10") + F.col("m11")) / 2 - (F.col("m00") + F.col("m01")) / 2, 4
        ).alias("main_effect_a"),
        F.round(
            (F.col("m01") + F.col("m11")) / 2 - (F.col("m00") + F.col("m10")) / 2, 4
        ).alias("main_effect_b"),
        F.round(
            (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")), 4
        ).alias("interaction"),
        "min_cell_n",
    )


@register(
    "metcalfe_exponent",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS users,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_months,
             regr_slope(ln(rev), ln(users)) AS beta,
             regr_intercept(ln(rev), ln(users)) AS lna,
             regr_r2(ln(rev), ln(users)) AS r2
      FROM monthly WHERE users > 0 AND rev > 0)
    SELECT n_months, round(beta, 4) AS network_exponent,
           round(exp(lna), 2) AS scale_constant,
           round(r2, 4) AS r_squared
    FROM fit
    """,
    tags=("economics", "regression", "timeseries"),
)
def q_metcalfe_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-value exponent: monthly revenue regressed on monthly
    active customers in log-log space — β̂=1 is linear (Sarnoff),
    β̂=2 is Metcalfe's law, and real platforms land between
    (Odlyzko's n·log n critique); the r² says whether a power law
    describes the relationship at all. The whole 'law of network
    value' debate reduces to ONE regr_slope aggregate over the
    |months| relation — with the fact table contributing a single
    distinct-count-per-month pass."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(
        F.count_distinct("o_custkey").cast("double").alias("users"),
        F.sum("o_totalprice").alias("rev"),
    )
    fit = monthly.filter((F.col("users") > 0) & (F.col("rev") > 0)).agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.expr("regr_slope(ln(rev), ln(users))").alias("beta"),
        F.expr("regr_intercept(ln(rev), ln(users))").alias("lna"),
        F.expr("regr_r2(ln(rev), ln(users))").alias("r2"),
    )
    return fit.select(
        "n_months",
        F.round("beta", 4).alias("network_exponent"),
        F.round(F.exp("lna"), 2).alias("scale_constant"),
        F.round("r2", 4).alias("r_squared"),
    )


@register(
    "mediation_baron_kenny",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1.0 ELSE 0.0 END AS x,
             CAST(cnt AS DOUBLE) AS med, o_totalprice AS y
      FROM orders JOIN (SELECT l_orderkey, count(*) AS cnt
                        FROM lineitem GROUP BY 1) li
        ON l_orderkey = o_orderkey),
    mom AS (
      SELECT avg(x) AS mx, avg(med) AS mm, avg(y) AS my,
             covar_samp(x, med) AS sxm, covar_samp(x, y) AS sxy,
             covar_samp(med, y) AS smy,
             var_samp(x) AS sxx, var_samp(med) AS smm,
             CAST(count(*) AS BIGINT) AS n
      FROM obs),
    paths AS (
      SELECT n,
             sxm / sxx AS a,
             (smy * sxx - sxy * sxm) / (smm * sxx - sxm * sxm) AS b,
             (sxy * smm - smy * sxm) / (smm * sxx - sxm * sxm) AS c_prime,
             sxy / sxx AS c_total
      FROM mom)
    SELECT n AS n_orders,
           round(c_total, 4) AS total_effect,
           round(a * b, 4) AS indirect_effect,
           round(c_prime, 4) AS direct_effect,
           (round(c_total - (a * b + c_prime), 6) + 0.0) AS identity_gap
    FROM paths
    """,
    tags=("causal", "regression", "decomposition"),
)
def q_mediation_baron_kenny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation analysis: does the weekend effect on
    order value flow THROUGH basket size? Path a (X→M), path b
    (M→Y holding X — the two-covariate OLS coefficient in closed
    form from the moment matrix), direct path c′, and the exact
    linear-model identity total = indirect(a·b) + direct, pinned by
    the identity_gap column at 0.000000 in both engines. All four
    regressions come from ONE moments aggregate (means, variances,
    covariances) — the mediation table costs a single scan however
    large the fact table."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = o.join(cnt, o["o_orderkey"] == cnt["l_orderkey"]).select(
        F.when(F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1.0)
        .otherwise(0.0)
        .alias("x"),
        F.col("cnt").cast("double").alias("med"),
        F.col("o_totalprice").alias("y"),
    )
    mom = obs.agg(
        F.covar_samp("x", "med").alias("sxm"),
        F.covar_samp("x", "y").alias("sxy"),
        F.covar_samp("med", "y").alias("smy"),
        F.var_samp("x").alias("sxx"),
        F.var_samp("med").alias("smm"),
        F.count("*").cast("bigint").alias("n"),
    )
    det = F.col("smm") * F.col("sxx") - F.col("sxm") * F.col("sxm")
    a = F.col("sxm") / F.col("sxx")
    b = (F.col("smy") * F.col("sxx") - F.col("sxy") * F.col("sxm")) / det
    c_prime = (F.col("sxy") * F.col("smm") - F.col("smy") * F.col("sxm")) / det
    c_total = F.col("sxy") / F.col("sxx")
    return mom.select(
        F.col("n").alias("n_orders"),
        F.round(c_total, 4).alias("total_effect"),
        F.round(a * b, 4).alias("indirect_effect"),
        F.round(c_prime, 4).alias("direct_effect"),
        canon_round(c_total - (a * b + c_prime), 6).alias("identity_gap"),
    )


@register(
    "permutation_test",
    oracle="""
    WITH obs AS (
      SELECT o_orderkey,
             CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y
      FROM orders),
    share AS (SELECT avg(CAST(g AS DOUBLE)) AS p FROM obs),
    observed AS (
      SELECT avg(CASE WHEN g = 1 THEN y END)
             - avg(CASE WHEN g = 0 THEN y END) AS d_obs
      FROM obs),
    reps AS (SELECT unnest(generate_series(1, 50)) AS b),
    perm AS (
      SELECT b,
             CASE WHEN (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                  || '#' || CAST(b AS VARCHAR)), 1, 8))::UBIGINT
                  % 1000000) / 1000000.0 < p
                  THEN 1 ELSE 0 END AS gp, y
      FROM obs CROSS JOIN reps, share),
    pd AS (
      SELECT b, avg(CASE WHEN gp = 1 THEN y END)
                - avg(CASE WHEN gp = 0 THEN y END) AS d
      FROM perm GROUP BY b)
    SELECT round(d_obs, 4) AS observed_diff,
           CAST(count(*) AS BIGINT) AS n_permutations,
           round((1.0 + sum(CASE WHEN abs(d) >= abs(d_obs)
                                 THEN 1 ELSE 0 END)) / (count(*) + 1), 4)
             AS p_value
    FROM pd, observed GROUP BY d_obs
    """,
    tags=("stats", "resampling", "experimentation"),
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the weekend effect on order value: 50
    label reassignments drawn from bit-exact md5 uniforms at the
    observed group share, two-sided p = (1+#{|d_b|≥|d_obs|})/(B+1)
    — the distribution-free significance machinery that needs NO
    variance formula (welch_ttest's normality assumption, dropped),
    and the deterministic-resampling twin of poisson_bootstrap_ci:
    every engine and every run draws the identical null sample.
    Each replicate is one conditional aggregate; all 50 share one
    scan via the replicate cross join — map-side combined on the
    50-value key."""
    o = _t(spark, sf_dir, "orders")
    obs = o.select(
        "o_orderkey",
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
    )
    share = obs.agg(F.avg(F.col("g").cast("double")).alias("p"))
    observed = obs.agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("y")))
            - F.avg(F.when(F.col("g") == 0, F.col("y")))
        ).alias("d_obs")
    )
    reps = spark.range(1, 51).select(F.col("id").cast("int").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    ) / 1000000.0
    perm = (
        obs.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(share))
        .select(
            "b", F.when(u < F.col("p"), 1).otherwise(0).alias("gp"), "y"
        )
    )
    pd = perm.groupBy("b").agg(
        (
            F.avg(F.when(F.col("gp") == 1, F.col("y")))
            - F.avg(F.when(F.col("gp") == 0, F.col("y")))
        ).alias("d")
    )
    return pd.crossJoin(F.broadcast(observed)).groupBy("d_obs").agg(
        F.count("*").cast("bigint").alias("n_permutations"),
        F.round(
            (
                1.0
                + F.sum(
                    F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1).otherwise(0)
                )
            )
            / (F.count("*") + 1),
            4,
        ).alias("p_value"),
    ).select(
        F.round("d_obs", 4).alias("observed_diff"),
        "n_permutations",
        "p_value",
    )


@register(
    "process_capability_cpk",
    oracle="""
    WITH st AS (
      SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN o_totalprice < 1000
                           OR o_totalprice > 400000
                      THEN 1 ELSE 0 END) AS DOUBLE) AS n_out
      FROM orders)
    SELECT CAST(n AS BIGINT) AS n_orders,
           round((400000 - 1000) / (6 * sd), 4) AS cp,
           round(least(400000 - mu, mu - 1000) / (3 * sd), 4) AS cpk,
           round(1e6 * n_out / n, 1) AS observed_ppm_out
    FROM st
    """,
    tags=("spc", "quality", "agg"),
)
def q_process_capability_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices against spec limits [1k, 400k]:
    Cp = spec width / 6σ (what the process COULD hold if centered)
    vs Cpk = nearest-limit margin / 3σ (what it actually holds
    given its centering) — the manufacturing acceptance numbers
    (1.33 is the classic minimum) next to the empirically observed
    ppm outside spec, which needs no normality assumption at all.
    Completes the SPC tier: ewma_control_chart watches the mean,
    bollinger_breakouts the volatility, Cp/Cpk judges the process
    against external REQUIREMENTS. One scan, one row."""
    o = _t(spark, sf_dir, "orders")
    st = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sd"),
        F.count("*").cast("double").alias("n"),
        F.sum(
            F.when(
                (F.col("o_totalprice") < 1000) | (F.col("o_totalprice") > 400000), 1
            ).otherwise(0)
        )
        .cast("double")
        .alias("n_out"),
    )
    return st.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round((400000 - 1000) / (6 * F.col("sd")), 4).alias("cp"),
        F.round(
            F.least(F.lit(400000) - F.col("mu"), F.col("mu") - 1000)
            / (3 * F.col("sd")),
            4,
        ).alias("cpk"),
        F.round(1e6 * F.col("n_out") / F.col("n"), 1).alias("observed_ppm_out"),
    )


@register(
    "bayes_ab_beta",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    counts AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS DOUBLE) AS ka,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
             CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS DOUBLE) AS kb
      FROM assigned),
    grid AS (
      SELECT (CAST(j AS DOUBLE) + 0.5) / 400 AS p
      FROM (SELECT unnest(generate_series(0, 399)) AS j)),
    logw AS (
      SELECT p,
             ka * ln(p) + (na - ka) * ln(1 - p) AS la,
             kb * ln(p) + (nb - kb) * ln(1 - p) AS lb
      FROM grid, counts),
    mx AS (SELECT max(la) AS ma, max(lb) AS mb FROM logw),
    w AS (
      SELECT p, exp(la - ma) AS wa, exp(lb - mb) AS wb
      FROM logw, mx),
    nrm AS (SELECT sum(wa) AS za, sum(wb) AS zb FROM w),
    cum AS (
      SELECT p, wa / za AS fa,
             (sum(wb) OVER (ORDER BY p) - wb) / zb AS fb_below
      FROM w, nrm),
    prob AS (SELECT sum(fa * fb_below) AS p_a_gt_b FROM cum)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ka AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(kb AS BIGINT) AS conv_b,
           round((ka + 1) / (na + 2) - (kb + 1) / (nb + 2), 5)
             AS expected_lift,
           round(p_a_gt_b, 4) AS prob_a_beats_b
    FROM prob, counts
    """,
    tags=("experimentation", "stats", "estimation"),
)
def q_bayes_ab_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B on user conversion with Beta-Bernoulli
    posteriors, P(p_A > p_B) computed by DETERMINISTIC 400-point
    grid quadrature — log-space densities max-stabilized before
    exponentiation (the only way k·ln p survives thousands of
    conversions), CDF of one arm as a prefix window, and the
    probability as Σ f_A·F_B — no Monte Carlo, no special
    functions, bit-identical across engines. This is the decision
    quantity stakeholders actually ask for ('how sure are we A
    wins'), which the SPRT/p-value tier (sprt_boundary_crossing,
    permutation_test) deliberately does not emit; expected lift
    comes from the closed-form posterior means."""
    e = _t(spark, sf_dir, "events")
    assigned = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    ).select(
        CUR.hash_bucket(F.col("user_id"), 2).alias("arm"), "conv"
    )
    counts = assigned.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("double")
        .alias("ka"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("double")
        .alias("kb"),
    )
    grid = spark.range(0, 400).select(
        ((F.col("id").cast("double") + 0.5) / 400).alias("p")
    )
    logw = grid.crossJoin(F.broadcast(counts)).select(
        "p",
        (F.col("ka") * F.log("p") + (F.col("na") - F.col("ka")) * F.log(1 - F.col("p"))).alias(
            "la"
        ),
        (F.col("kb") * F.log("p") + (F.col("nb") - F.col("kb")) * F.log(1 - F.col("p"))).alias(
            "lb"
        ),
    )
    mx = logw.agg(F.max("la").alias("ma"), F.max("lb").alias("mb"))
    w = logw.crossJoin(F.broadcast(mx)).select(
        "p",
        F.exp(F.col("la") - F.col("ma")).alias("wa"),
        F.exp(F.col("lb") - F.col("mb")).alias("wb"),
    )
    nrm = w.agg(F.sum("wa").alias("za"), F.sum("wb").alias("zb"))
    wp = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    cum = w.crossJoin(F.broadcast(nrm)).select(
        "p",
        (F.col("wa") / F.col("za")).alias("fa"),
        ((F.sum("wb").over(wp) - F.col("wb")) / F.col("zb")).alias("fb_below"),
    )
    prob = cum.agg(F.sum(F.col("fa") * F.col("fb_below")).alias("p_a_gt_b"))
    return prob.crossJoin(F.broadcast(counts)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ka").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("kb").cast("bigint").alias("conv_b"),
        F.round(
            (F.col("ka") + 1) / (F.col("na") + 2)
            - (F.col("kb") + 1) / (F.col("nb") + 2),
            5,
        ).alias("expected_lift"),
        F.round("p_a_gt_b", 4).alias("prob_a_beats_b"),
    )


@register(
    "johnson_lindenstrauss_audit",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS d,
             embedding[CAST(i AS INT)]::DOUBLE AS x
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    rmat AS (
      SELECT d, k,
             CASE WHEN ('0x' || substr(md5(CAST(d AS VARCHAR) || '#'
                        || CAST(k AS VARCHAR)), 1, 8))::UBIGINT % 2 = 0
                  THEN 0.25 ELSE -0.25 END AS r
      FROM (SELECT unnest(generate_series(0, 63)) AS d),
           (SELECT unnest(generate_series(0, 15)) AS k)),
    proj AS (
      SELECT vec_id, k, sum(x * r) AS y
      FROM dims JOIN rmat USING (d) GROUP BY 1, 2),
    n2_orig AS (
      SELECT vec_id, sum(x * x) AS n2 FROM dims GROUP BY vec_id),
    n2_proj AS (
      SELECT vec_id, sum(y * y) AS p2 FROM proj GROUP BY vec_id),
    pairs AS (
      SELECT a.vec_id AS i,
             ao.n2 + bo.n2 - 2 * (
               SELECT sum(da.x * db.x) FROM dims da JOIN dims db
               ON da.d = db.d AND da.vec_id = a.vec_id
              AND db.vec_id = b.vec_id) AS d2,
             ap.p2 + bp.p2 - 2 * (
               SELECT sum(pa.y * pb.y) FROM proj pa JOIN proj pb
               ON pa.k = pb.k AND pa.vec_id = a.vec_id
              AND pb.vec_id = b.vec_id) AS dp2
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 250
      JOIN n2_orig ao ON ao.vec_id = a.vec_id
      JOIN n2_orig bo ON bo.vec_id = b.vec_id
      JOIN n2_proj ap ON ap.vec_id = a.vec_id
      JOIN n2_proj bp ON bp.vec_id = b.vec_id)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(dp2 / d2 - 1)), 4) AS mean_distortion,
           round(max(abs(dp2 / d2 - 1)), 4) AS max_distortion
    FROM pairs WHERE d2 > 0
    """,
    tags=("embeddings", "projection", "hash"),
)
def q_johnson_lindenstrauss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss in practice: project the 64-dim
    embeddings to 16 dims through a DETERMINISTIC ±1/√16 sign
    matrix (md5 bits — Achlioptas' database-friendly construction,
    reproducible across engines and cluster generations), then audit
    squared-distance distortion |‖Ax−Ay‖²/‖x−y‖² − 1| over 250
    disjoint pairs. This is the empirical check behind every
    'project first, then LSH' pipeline (ann_lsh_bucketed's
    hyperplanes assume distances survive); JL theory says ε ~
    √(ln n / k) — the measured max against that budget decides
    whether k=16 is spendable. The projection is one join-aggregate
    against a 1024-row broadcast matrix; distances come from norms
    + dots, never materialized coordinates."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select("vec_id", "d", F.col("x").cast("double").alias("x"))
    ds = spark.range(0, 64).select(F.col("id").cast("int").alias("d"))
    ks = spark.range(0, 16).select(F.col("id").cast("int").alias("k"))
    sgn = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("d").cast("string"), F.lit("#"), F.col("k").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        0.25,
    ).otherwise(-0.25)
    rmat = ds.crossJoin(ks).select("d", "k", sgn.alias("r"))
    proj = (
        dims.join(F.broadcast(rmat), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("x") * F.col("r")).alias("y"))
    )
    n2_orig = dims.groupBy("vec_id").agg(F.sum(F.col("x") * F.col("x")).alias("n2"))
    n2_proj = proj.groupBy("vec_id").agg(F.sum(F.col("y") * F.col("y")).alias("p2"))
    pair_ids = e.select(F.col("vec_id").alias("i")).join(
        e.select((F.col("vec_id") - 250).alias("i"), F.col("vec_id").alias("j")),
        "i",
    )
    da = dims.select(F.col("vec_id").alias("i"), "d", F.col("x").alias("xa"))
    db = dims.select(F.col("vec_id").alias("j"), "d", F.col("x").alias("xb"))
    dots_o = (
        pair_ids.join(da, "i")
        .join(db, ["j", "d"])
        .groupBy("i", "j")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot_o"))
    )
    pa = proj.select(F.col("vec_id").alias("i"), "k", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("j"), "k", F.col("y").alias("yb"))
    dots_p = (
        pair_ids.join(pa, "i")
        .join(pb, ["j", "k"])
        .groupBy("i", "j")
        .agg(F.sum(F.col("ya") * F.col("yb")).alias("dot_p"))
    )
    pairs = (
        dots_o.join(dots_p, ["i", "j"])
        .join(n2_orig.select(F.col("vec_id").alias("i"), F.col("n2").alias("n2a")), "i")
        .join(n2_orig.select(F.col("vec_id").alias("j"), F.col("n2").alias("n2b")), "j")
        .join(n2_proj.select(F.col("vec_id").alias("i"), F.col("p2").alias("p2a")), "i")
        .join(n2_proj.select(F.col("vec_id").alias("j"), F.col("p2").alias("p2b")), "j")
        .select(
            (F.col("n2a") + F.col("n2b") - 2 * F.col("dot_o")).alias("d2"),
            (F.col("p2a") + F.col("p2b") - 2 * F.col("dot_p")).alias("dp2"),
        )
        .filter(F.col("d2") > 0)
    )
    dist = F.abs(F.col("dp2") / F.col("d2") - 1)
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg(dist), 4).alias("mean_distortion"),
        F.round(F.max(dist), 4).alias("max_distortion"),
    )


@register(
    "median_of_medians_gap",
    oracle="""
    WITH parts AS (
      SELECT c_nationkey AS p, o_totalprice AS v
      FROM orders JOIN customer ON o_custkey = c_custkey),
    local_med AS (
      SELECT p, CAST(quantile_cont(v, 0.5) AS DOUBLE) AS med,
             CAST(count(*) AS DOUBLE) AS n
      FROM parts GROUP BY p),
    mom AS (
      SELECT CAST(quantile_cont(med, 0.5) AS DOUBLE) AS mom,
             sum(med * n) / sum(n) AS weighted_mean_med
      FROM local_med),
    truth AS (
      SELECT CAST(quantile_cont(v, 0.5) AS DOUBLE) AS true_med FROM parts)
    SELECT round(true_med, 2) AS exact_median,
           round(mom, 2) AS median_of_medians,
           round(weighted_mean_med, 2) AS weighted_mean_of_medians,
           round(100 * abs(mom - true_med) / true_med, 4) AS mom_error_pct
    FROM mom, truth
    """,
    tags=("percentile", "scale", "audit"),
)
def q_median_of_medians_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why quantiles don't merge: the median-of-per-partition-
    medians (nations standing in for partitions) against the exact
    global median — the error this naive distributed 'median' makes
    is exactly the reason mergeable quantile SKETCHES (t-digest /
    approx_percentile, the approx_distinct_bands tier) exist, while
    means merge exactly (the weighted mean-of-medians column shows
    even weighting doesn't fix it, because a median is not a linear
    statistic). One grouped exact median + a 25-row reduction vs
    one global exact median; the gap is the lesson."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    parts = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("p"), F.col("o_totalprice").alias("v")
    )
    local_med = parts.groupBy("p").agg(
        F.expr("percentile(v, 0.5)").alias("med"),
        F.count("*").cast("double").alias("n"),
    )
    mom = local_med.agg(
        F.expr("percentile(med, 0.5)").alias("mom"),
        (F.sum(F.col("med") * F.col("n")) / F.sum("n")).alias("weighted_mean_med"),
    )
    truth = parts.agg(F.expr("percentile(v, 0.5)").alias("true_med"))
    return mom.crossJoin(F.broadcast(truth)).select(
        F.round("true_med", 2).alias("exact_median"),
        F.round("mom", 2).alias("median_of_medians"),
        F.round("weighted_mean_med", 2).alias("weighted_mean_of_medians"),
        F.round(
            100 * F.abs(F.col("mom") - F.col("true_med")) / F.col("true_med"), 4
        ).alias("mom_error_pct"),
    )


@register(
    "dickey_fuller_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT v - lag(v) OVER (ORDER BY d) AS dy,
             lag(v) OVER (ORDER BY d) AS ylag
      FROM daily),
    obs AS (SELECT dy, ylag FROM lagged WHERE ylag IS NOT NULL),
    fit AS (
      SELECT regr_slope(dy, ylag) AS beta,
             regr_intercept(dy, ylag) AS alpha,
             CAST(count(*) AS DOUBLE) AS n,
             var_samp(ylag) AS sxx
      FROM obs),
    resid AS (
      SELECT sum(pow(dy - alpha - beta * ylag, 2)) / (n - 2) AS s2,
             any_value(beta) AS beta, any_value(n) AS n,
             any_value(sxx) AS sxx
      FROM obs, fit GROUP BY n)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(beta, 6) AS df_beta,
           round(beta / sqrt(s2 / ((n - 1) * sxx)), 4) AS df_statistic,
           beta / sqrt(s2 / ((n - 1) * sxx)) < -2.86 AS rejects_unit_root_5pct
    FROM resid
    """,
    tags=("timeseries", "stats", "regression"),
)
def q_dickey_fuller_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on daily revenue: regress Δy on
    y_{t−1} — β near 0 means shocks PERSIST (a random walk, where
    every 'trend' is spurious and differencing is mandatory), β
    significantly negative means mean reversion and levels models
    are safe. The DF statistic β/se(β) uses its own critical values
    (−2.86 at 5%, not the normal −1.96 — the distribution is
    nonstandard under the null, which is the whole Dickey-Fuller
    contribution); se comes from the closed-form OLS residual
    variance, so the test is two windows and two aggregates over
    the |dates| relation — the stationarity gate run before
    yule_walker_ar2 fits anything."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    obs = daily.select(
        (F.col("v") - F.lag("v").over(w)).alias("dy"),
        F.lag("v").over(w).alias("ylag"),
    ).filter(F.col("ylag").isNotNull())
    fit = obs.agg(
        F.expr("regr_slope(dy, ylag)").alias("beta"),
        F.expr("regr_intercept(dy, ylag)").alias("alpha"),
        F.count("*").cast("double").alias("n"),
        F.var_samp("ylag").alias("sxx"),
    )
    resid = obs.crossJoin(F.broadcast(fit)).groupBy("n").agg(
        (
            F.sum(
                F.pow(
                    F.col("dy") - F.col("alpha") - F.col("beta") * F.col("ylag"), 2
                )
            )
            / (F.col("n") - 2)
        ).alias("s2"),
        F.first("beta").alias("beta"),
        F.first("sxx").alias("sxx"),
    )
    se = F.sqrt(F.col("s2") / ((F.col("n") - 1) * F.col("sxx")))
    return resid.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("beta", 6).alias("df_beta"),
        F.round(F.col("beta") / se, 4).alias("df_statistic"),
        (F.col("beta") / se < -2.86).alias("rejects_unit_root_5pct"),
    )


@register(
    "engle_granger_cointegration",
    oracle="""
    WITH g AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    nat AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_7' GROUP BY 1),
    series AS (
      SELECT g.d, g.x, coalesce(nat.y, 0) AS y
      FROM g LEFT JOIN nat ON g.d = nat.d),
    coint AS (
      SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a
      FROM series),
    resid AS (
      SELECT d, y - a - b * x AS u FROM series, coint),
    lagged AS (
      SELECT u - lag(u) OVER (ORDER BY d) AS du,
             lag(u) OVER (ORDER BY d) AS ulag
      FROM resid),
    obs AS (SELECT du, ulag FROM lagged WHERE ulag IS NOT NULL),
    fit AS (
      SELECT regr_slope(du, ulag) AS beta,
             regr_intercept(du, ulag) AS alpha,
             CAST(count(*) AS DOUBLE) AS n, var_samp(ulag) AS sxx
      FROM obs),
    dfr AS (
      SELECT sum(pow(du - alpha - beta * ulag, 2)) / (n - 2) AS s2,
             any_value(beta) AS beta, any_value(n) AS n,
             any_value(sxx) AS sxx
      FROM obs, fit GROUP BY n)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round((SELECT b FROM coint), 5) AS hedge_ratio,
           round(beta / sqrt(s2 / ((n - 1) * sxx)), 4) AS eg_statistic,
           beta / sqrt(s2 / ((n - 1) * sxx)) < -3.34
             AS cointegrated_5pct
    FROM dfr
    """,
    tags=("timeseries", "regression", "stats"),
)
def q_engle_granger_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration between one nation's
    revenue and the global series: OLS gives the hedge ratio, then
    the Dickey-Fuller machinery (dickey_fuller_test) runs on the
    RESIDUAL — if the residual is stationary the two trending
    series share a common stochastic trend and the spread is
    tradeable/monitorable, the distinction that separates genuine
    long-run relationships from the spurious regressions two random
    walks always produce (Granger & Newbold). EG's own critical
    value (−3.34, stricter than DF's because the hedge ratio was
    estimated) gates the verdict; the whole two-step is three
    aggregates and two lag windows over the |dates| relation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    g = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
            c["c_nationkey"] == n["n_nationkey"],
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    series = g.join(nat, "d", "left").select(
        "d", "x", F.coalesce("y", F.lit(0.0)).alias("y")
    )
    coint = series.agg(
        F.expr("regr_slope(y, x)").alias("b"),
        F.expr("regr_intercept(y, x)").alias("a"),
    )
    resid = series.crossJoin(F.broadcast(coint)).select(
        "d", (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("u"), "b"
    )
    w = Window.orderBy("d")
    obs = resid.select(
        (F.col("u") - F.lag("u").over(w)).alias("du"),
        F.lag("u").over(w).alias("ulag"),
        "b",
    ).filter(F.col("ulag").isNotNull())
    fit = obs.agg(
        F.expr("regr_slope(du, ulag)").alias("beta"),
        F.expr("regr_intercept(du, ulag)").alias("alpha"),
        F.count("*").cast("double").alias("n"),
        F.var_samp("ulag").alias("sxx"),
        F.first("b").alias("hedge"),
    )
    dfr = obs.crossJoin(F.broadcast(fit)).groupBy("n").agg(
        (
            F.sum(
                F.pow(F.col("du") - F.col("alpha") - F.col("beta") * F.col("ulag"), 2)
            )
            / (F.col("n") - 2)
        ).alias("s2"),
        F.first("beta").alias("beta"),
        F.first("sxx").alias("sxx"),
        F.first("hedge").alias("hedge"),
    )
    se = F.sqrt(F.col("s2") / ((F.col("n") - 1) * F.col("sxx")))
    return dfr.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("hedge", 5).alias("hedge_ratio"),
        F.round(F.col("beta") / se, 4).alias("eg_statistic"),
        (F.col("beta") / se < -3.34).alias("cointegrated_5pct"),
    )


@register(
    "granger_causality_f",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1),
    p AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    series AS (
      SELECT p.d, p.y, coalesce(c.x, 0) AS x
      FROM p LEFT JOIN c ON p.d = c.d),
    lagged AS (
      SELECT y,
             lag(y) OVER (ORDER BY d) AS yl,
             lag(x) OVER (ORDER BY d) AS xl
      FROM series),
    obs AS (SELECT y, yl, xl FROM lagged WHERE yl IS NOT NULL),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             var_samp(y) AS syy, var_samp(yl) AS s11, var_samp(xl) AS s22,
             covar_samp(y, yl) AS s1y, covar_samp(y, xl) AS s2y,
             covar_samp(yl, xl) AS s12
      FROM obs),
    ssr AS (
      SELECT n,
             (n - 1) * (syy - s1y * s1y / s11) AS ssr_r,
             (n - 1) * (syy
               - (s1y * (s1y * s22 - s2y * s12)
                  + s2y * (s2y * s11 - s1y * s12))
                 / (s11 * s22 - s12 * s12)) AS ssr_u
      FROM mom)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(ssr_r, 2) AS ssr_restricted,
           round(ssr_u, 2) AS ssr_unrestricted,
           round((ssr_r - ssr_u) / (ssr_u / (n - 3)), 4) AS granger_f,
           (ssr_r - ssr_u) / (ssr_u / (n - 3)) > 3.85
             AS clicks_granger_cause_purchases
    FROM ssr
    """,
    tags=("timeseries", "causal", "regression"),
)
def q_granger_causality_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (1 lag): do yesterday's clicks improve the
    purchase forecast BEYOND yesterday's purchases alone? F-test of
    the restricted AR(1) against the unrestricted bivariate model —
    the predictive-causality formalization of what
    lagged_cross_correlation only hints at (correlation at lag k
    can be pure autocorrelation echo; Granger conditions on the
    outcome's own history). Both SSRs come in CLOSED FORM from one
    moment-matrix aggregate (the 2×2 normal equations solved by
    Cramer's rule inside the query) — no optimizer, one scan, two
    lag windows."""
    e = _t(spark, sf_dir, "events")
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("y"))
    )
    series = p.join(c, "d", "left").select(
        "d", "y", F.coalesce("x", F.lit(0.0)).alias("x")
    )
    w = Window.orderBy("d")
    obs = series.select(
        "y",
        F.lag("y").over(w).alias("yl"),
        F.lag("x").over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    mom = obs.agg(
        F.count("*").cast("double").alias("n"),
        F.var_samp("y").alias("syy"),
        F.var_samp("yl").alias("s11"),
        F.var_samp("xl").alias("s22"),
        F.covar_samp("y", "yl").alias("s1y"),
        F.covar_samp("y", "xl").alias("s2y"),
        F.covar_samp("yl", "xl").alias("s12"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    ssr_r = (F.col("n") - 1) * (
        F.col("syy") - F.col("s1y") * F.col("s1y") / F.col("s11")
    )
    ssr_u = (F.col("n") - 1) * (
        F.col("syy")
        - (
            F.col("s1y") * (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12"))
            + F.col("s2y") * (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12"))
        )
        / det
    )
    fstat = (ssr_r - ssr_u) / (ssr_u / (F.col("n") - 3))
    return mom.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(ssr_r, 2).alias("ssr_restricted"),
        F.round(ssr_u, 2).alias("ssr_unrestricted"),
        F.round(fstat, 4).alias("granger_f"),
        (fstat > 3.85).alias("clicks_granger_cause_purchases"),
    )


@register(
    "beta_binomial_overdispersion",
    oracle="""
    WITH outcome AS (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1),
    grp AS (
      SELECT c_nationkey,
             CAST(count(*) AS DOUBLE) AS n, CAST(sum(ret) AS DOUBLE) AS k
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN outcome ON o_orderkey = l_orderkey
      GROUP BY 1),
    pooled AS (SELECT sum(k) / sum(n) AS p, sum(n) AS nn,
                      CAST(count(*) AS DOUBLE) AS g FROM grp),
    chi AS (
      SELECT sum(pow(k - n * p, 2) / (n * p * (1 - p))) AS x2,
             any_value(p) AS p, any_value(g) AS g,
             avg(n) AS nbar
      FROM grp, pooled GROUP BY p, g)
    SELECT CAST(g AS BIGINT) AS n_groups,
           round(p, 5) AS pooled_rate,
           round(x2 / (g - 1), 4) AS dispersion_ratio,
           round(greatest((x2 / (g - 1) - 1) / (nbar - 1), 0), 6)
             AS icc_rho_estimate
    FROM chi
    """,
    tags=("stats", "estimation", "agg"),
)
def q_beta_binomial_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial overdispersion of per-nation return rates:
    the χ²/(g−1) dispersion ratio against the binomial null (=1
    if one global rate explains every nation) and the implied
    intra-class correlation ρ̂ = (ratio−1)/(n̄−1) — the quantity
    that shrinks effective sample size in clustered experiments
    (kish_design_effect's deff = 1+(n̄−1)ρ is built from exactly
    this ρ) and the dial empirical-Bayes smoothing
    (bayes_smoothed_rate) implicitly sets. One group aggregate,
    one 25-row reduction."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    outcome = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret")
    )
    grp = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(outcome, o["o_orderkey"] == outcome["l_orderkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("ret").cast("double").alias("k"),
        )
    )
    pooled = grp.agg(
        (F.sum("k") / F.sum("n")).alias("p"),
        F.count("*").cast("double").alias("g"),
    )
    chi = grp.crossJoin(F.broadcast(pooled)).groupBy("p", "g").agg(
        F.sum(
            F.pow(F.col("k") - F.col("n") * F.col("p"), 2)
            / (F.col("n") * F.col("p") * (1 - F.col("p")))
        ).alias("x2"),
        F.avg("n").alias("nbar"),
    )
    ratio = F.col("x2") / (F.col("g") - 1)
    return chi.select(
        F.col("g").cast("bigint").alias("n_groups"),
        F.round("p", 5).alias("pooled_rate"),
        F.round(ratio, 4).alias("dispersion_ratio"),
        F.round(
            F.greatest((ratio - 1) / (F.col("nbar") - 1), F.lit(0.0)), 6
        ).alias("icc_rho_estimate"),
    )


@register(
    "simpsons_paradox_screen",
    oracle="""
    WITH obs AS (
      SELECT p_brand, l_discount AS x, CAST(l_quantity AS DOUBLE) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    pooled AS (SELECT regr_slope(y, x) AS b_pool FROM obs),
    per_grp AS (
      SELECT p_brand, regr_slope(y, x) AS b, CAST(count(*) AS BIGINT) AS n
      FROM obs GROUP BY p_brand HAVING count(*) >= 30),
    screen AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN sign(b) <> sign(b_pool)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sign_flips,
             avg(b) AS mean_within_slope,
             any_value(b_pool) AS b_pool
      FROM per_grp, pooled GROUP BY b_pool)
    SELECT n_groups, n_sign_flips,
           round(b_pool, 6) AS pooled_slope,
           round(mean_within_slope, 6) AS mean_within_slope,
           sign(b_pool) <> sign(mean_within_slope) AS aggregate_paradox
    FROM screen
    """,
    tags=("stats", "causal", "audit"),
)
def q_simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the pooled discount→quantity slope
    against every brand's within-slope — counting groups whose
    relationship has the OPPOSITE sign from the aggregate, plus the
    aggregate_paradox flag for the full reversal where pooled and
    mean-within disagree entirely (the confounding structure that
    makes dashboard-level correlations actively misleading;
    fixed_effects_within REMOVES the bias, this query DETECTS where
    it lurks). One grouped regr_slope pass with a min-n floor so
    sign estimates aren't noise; the screen is the cheap nightly
    job that decides which drill-downs need a causal follow-up."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    obs = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        F.col("l_discount").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    pooled = obs.agg(F.expr("regr_slope(y, x)").alias("b_pool"))
    per_grp = (
        obs.groupBy("p_brand")
        .agg(
            F.expr("regr_slope(y, x)").alias("b"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 30)
    )
    screen = per_grp.crossJoin(F.broadcast(pooled)).groupBy("b_pool").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(
            F.when(F.signum("b") != F.signum("b_pool"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_sign_flips"),
        F.avg("b").alias("mean_within_slope"),
    )
    return screen.select(
        "n_groups",
        "n_sign_flips",
        F.round("b_pool", 6).alias("pooled_slope"),
        F.round("mean_within_slope", 6).alias("mean_within_slope"),
        (F.signum("b_pool") != F.signum("mean_within_slope")).alias(
            "aggregate_paradox"
        ),
    )


@register(
    "psi_feature_panel",
    oracle="""
    WITH base AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr,
             o_totalprice,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri,
             dayofweek(CAST(o_orderdate AS DATE)) AS dow,
             month(CAST(o_orderdate AS DATE)) AS mo
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)),
    stacked AS (
      SELECT yr, 'totalprice_band' AS feature,
             least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bin FROM base
      UNION ALL SELECT yr, 'priority', pri FROM base
      UNION ALL SELECT yr, 'weekday', dow FROM base
      UNION ALL SELECT yr, 'month', mo FROM base),
    hist AS (
      SELECT feature, bin,
             CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS DOUBLE) AS cr,
             CAST(sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS DOUBLE) AS cc
      FROM stacked GROUP BY 1, 2),
    tot AS (
      SELECT feature, sum(cr) AS nr, sum(cc) AS nc,
             CAST(count(*) AS DOUBLE) AS b
      FROM hist GROUP BY feature),
    psi AS (
      SELECT h.feature, CAST(t.b AS BIGINT) AS n_bins,
             sum(((cc + 0.5) / (nc + 0.5 * b) - (cr + 0.5) / (nr + 0.5 * b))
                 * ln(((cc + 0.5) / (nc + 0.5 * b))
                      / ((cr + 0.5) / (nr + 0.5 * b)))) AS psi
      FROM hist h JOIN tot t ON h.feature = t.feature
      GROUP BY h.feature, t.b)
    SELECT feature, n_bins, round(psi, 5) AS psi,
           CASE WHEN psi < 0.1 THEN 'stable'
                WHEN psi < 0.25 THEN 'moderate' ELSE 'shifted' END AS verdict
    FROM psi
    """,
    tags=("drift", "ml", "audit"),
)
def q_psi_feature_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability panel for FOUR features in ONE scan:
    1996 vs 1997 PSI per feature (price band, priority, weekday,
    month) with Laplace-smoothed bins and the standard
    0.1/0.25 triage verdicts — the model-monitoring sweep that
    production scoring runs nightly over every input column
    (psi_drift does one feature; the panel shape is what actually
    ships). The features are stacked into (feature, bin, period)
    rows BEFORE the histogram aggregate, so N features cost one
    fact pass + one shuffle keyed on (feature, bin) — adding a
    feature adds zero scans."""
    o = _t(spark, sf_dir, "orders").filter(
        F.year(F.col("o_orderdate").cast("date")).isin(1996, 1997)
    )
    base = o.select(
        F.year(F.col("o_orderdate").cast("date")).alias("yr"),
        F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)).alias(
            "totalprice_band"
        ),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("weekday"),
        F.month(F.col("o_orderdate").cast("date")).alias("month"),
    )
    stacked = None
    for feat in ("totalprice_band", "priority", "weekday", "month"):
        piece = base.select(
            "yr", F.lit(feat).alias("feature"), F.col(feat).alias("bin")
        )
        stacked = piece if stacked is None else stacked.unionAll(piece)
    hist = stacked.groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("double")
        .alias("cr"),
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("double")
        .alias("cc"),
    )
    tot = hist.groupBy("feature").agg(
        F.sum("cr").alias("nr"),
        F.sum("cc").alias("nc"),
        F.count("*").cast("double").alias("b"),
    )
    pr = (F.col("cr") + 0.5) / (F.col("nr") + 0.5 * F.col("b"))
    pc = (F.col("cc") + 0.5) / (F.col("nc") + 0.5 * F.col("b"))
    psi = (
        hist.join(F.broadcast(tot), "feature")
        .groupBy("feature", "b")
        .agg(F.sum((pc - pr) * F.log(pc / pr)).alias("psi"))
    )
    return psi.select(
        "feature",
        F.col("b").cast("bigint").alias("n_bins"),
        F.round("psi", 5).alias("psi"),
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("shifted")
        .alias("verdict"),
    )


@register(
    "rbo_rank_similarity",
    oracle="""
    WITH met AS (
      SELECT n_name, sum(o_totalprice) AS rev,
             CAST(count(*) AS DOUBLE) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1),
    ranked AS (
      SELECT n_name,
             row_number() OVER (ORDER BY rev DESC, n_name) AS ra,
             row_number() OVER (ORDER BY n_orders DESC, n_name) AS rb
      FROM met),
    depths AS (SELECT unnest(generate_series(1, 10)) AS d),
    ovl AS (
      SELECT d, CAST(sum(CASE WHEN ra <= d AND rb <= d THEN 1 ELSE 0 END)
                     AS DOUBLE) AS a_d
      FROM ranked CROSS JOIN depths GROUP BY d)
    SELECT round((1 - 0.9) * sum(pow(0.9, d - 1) * a_d / d), 4)
             AS rbo_at_10,
           CAST(max(CASE WHEN d = 5 THEN a_d END) AS BIGINT) AS overlap_at_5,
           CAST(max(CASE WHEN d = 10 THEN a_d END) AS BIGINT)
             AS overlap_at_10
    FROM ovl
    """,
    tags=("ranking", "eval", "agreement"),
)
def q_rbo_rank_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between the
    revenue-ranking and order-count-ranking of nations: top-weighted
    agreement (1−p)Σp^{d−1}·|A_d∩B_d|/d with p=0.9, truncated at
    depth 10 — the rank-similarity measure built for INDEFINITE
    rankings where Kendall/Spearman (spearman_rank_corr) wrongly
    weight position 500 as much as position 1 (search, recsys, and
    top-k dashboards care almost only about the head). Prefix
    overlaps at every depth come from one cross join with the tiny
    depth relation — no per-depth re-rank."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    met = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count("*").cast("double").alias("n_orders"),
        )
    )
    ranked = met.select(
        "n_name",
        F.row_number().over(Window.orderBy(F.desc("rev"), "n_name")).alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_orders"), "n_name"))
        .alias("rb"),
    )
    depths = spark.range(1, 11).select(F.col("id").cast("int").alias("d"))
    overlaps = (
        ranked.crossJoin(F.broadcast(depths))
        .groupBy("d")
        .agg(
            F.sum(
                F.when((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), 1)
                .otherwise(0)
            )
            .cast("double")
            .alias("a_d")
        )
    )
    return overlaps.agg(
        F.round(
            (1 - 0.9)
            * F.sum(F.pow(F.lit(0.9), F.col("d") - 1) * F.col("a_d") / F.col("d")),
            4,
        ).alias("rbo_at_10"),
        F.max(F.when(F.col("d") == 5, F.col("a_d")))
        .cast("bigint")
        .alias("overlap_at_5"),
        F.max(F.when(F.col("d") == 10, F.col("a_d")))
        .cast("bigint")
        .alias("overlap_at_10"),
    )


@register(
    "logrank_test",
    oracle="""
    WITH horizon AS (SELECT max(CAST(ts AS DATE)) AS h,
                            min(CAST(ts AS DATE)) AS t0 FROM events),
    users AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS ev
      FROM events GROUP BY user_id),
    t AS (
      SELECT arm,
             CASE WHEN ev IS NULL
                  THEN date_diff('day', t0, h) + 1
                  ELSE date_diff('day', t0, ev) END AS tt,
             CASE WHEN ev IS NULL THEN 0 ELSE 1 END AS died
      FROM users, horizon),
    arms AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS na1
      FROM t),
    evt AS (
      SELECT tt,
             CAST(sum(CASE WHEN arm = 0 AND died = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS d0,
             CAST(sum(CASE WHEN arm = 1 AND died = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS d1
      FROM t WHERE died = 1 GROUP BY tt),
    risk AS (
      SELECT tt, d0, d1,
             na0 - coalesce(sum(d0) OVER (ORDER BY tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0,
             na1 - coalesce(sum(d1) OVER (ORDER BY tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM evt, arms),
    lr AS (
      SELECT sum(d1) AS o1,
             sum((d0 + d1) * n1 / (n0 + n1)) AS e1,
             sum((d0 + d1) * (n0 * n1) / pow(n0 + n1, 2)
                 * (n0 + n1 - d0 - d1) / nullif(n0 + n1 - 1, 0)) AS v
      FROM risk)
    SELECT CAST(o1 AS BIGINT) AS observed_arm1,
           round(e1, 2) AS expected_arm1,
           round((o1 - e1) / sqrt(v), 4) AS logrank_z
    FROM lr
    """,
    tags=("survival", "stats", "window"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two hash-assigned arms on
    time-to-first-purchase with right-censoring at the feed horizon:
    at every event time the at-risk sets shrink by prior events
    (suffix counts via a 1-preceding prefix window — censoring all
    lands at the horizon, AFTER every event, so the risk sets need
    no censor adjustment mid-stream), and Z = (O−E)/√V accumulates
    the hypergeometric moments per risk table — the survival-curve
    comparison kaplan_meier_conversion draws but cannot TEST. All
    risk-set algebra runs on the |distinct event times| relation;
    the fact table contributes one per-user min."""
    e = _t(spark, sf_dir, "events")
    horizon = e.agg(
        F.max(F.to_date("ts")).alias("h"), F.min(F.to_date("ts")).alias("t0")
    )
    users = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("ev")
    ).select(CUR.hash_bucket(F.col("user_id"), 2).alias("arm"), "ev")
    t = users.crossJoin(F.broadcast(horizon)).select(
        "arm",
        F.when(
            F.col("ev").isNull(), F.datediff(F.col("h"), F.col("t0")) + 1
        )
        .otherwise(F.datediff(F.col("ev"), F.col("t0")))
        .alias("tt"),
        F.when(F.col("ev").isNull(), 0).otherwise(1).alias("died"),
    )
    arms = t.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("na0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("na1"),
    )
    evt = (
        t.filter(F.col("died") == 1)
        .groupBy("tt")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("double")
            .alias("d0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("double")
            .alias("d1"),
        )
    )
    wprev = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, -1)
    risk = evt.crossJoin(F.broadcast(arms)).select(
        "tt",
        "d0",
        "d1",
        (
            F.col("na0") - F.coalesce(F.sum("d0").over(wprev), F.lit(0.0))
        ).alias("n0"),
        (
            F.col("na1") - F.coalesce(F.sum("d1").over(wprev), F.lit(0.0))
        ).alias("n1"),
    )
    nn = F.col("n0") + F.col("n1")
    dd = F.col("d0") + F.col("d1")
    lr = risk.agg(
        F.sum("d1").alias("o1"),
        F.sum(dd * F.col("n1") / nn).alias("e1"),
        F.sum(
            dd
            * (F.col("n0") * F.col("n1"))
            / F.pow(nn, 2)
            * (nn - dd)
            / F.nullif(nn - 1, F.lit(0.0))
        ).alias("v"),
    )
    return lr.select(
        F.col("o1").cast("bigint").alias("observed_arm1"),
        F.round("e1", 2).alias("expected_arm1"),
        F.round((F.col("o1") - F.col("e1")) / F.sqrt("v"), 4).alias("logrank_z"),
    )


@register(
    "hash_avalanche_audit",
    oracle="""
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
               ::UBIGINT % 65536 AS hv
      FROM orders),
    bits AS (
      SELECT i, j,
             corr(CAST((hv // CAST(pow(2, i) AS BIGINT)) % 2 AS DOUBLE),
                  CAST((hv // CAST(pow(2, j) AS BIGINT)) % 2 AS DOUBLE)) AS c,
             avg(CAST((hv // CAST(pow(2, i) AS BIGINT)) % 2 AS DOUBLE)) AS bi
      FROM h,
           (SELECT unnest(generate_series(0, 15)) AS i),
           (SELECT unnest(generate_series(0, 15)) AS j)
      WHERE i < j GROUP BY i, j)
    SELECT CAST(count(*) AS BIGINT) AS n_bit_pairs,
           round(max(abs(c)), 4) AS max_abs_corr,
           round(avg(abs(c)), 5) AS mean_abs_corr,
           round(max(abs(bi - 0.5)), 4) AS max_bit_bias
    FROM bits
    """,
    tags=("hash", "audit", "randomness"),
)
def q_hash_avalanche_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avalanche audit of the engine's md5-derived hash bits: all
    120 pairwise correlations between the 16 low bits across keys,
    plus per-bit bias from ½ — the independence property every
    md5 device in this catalog (splits, sampling, salting, Bloom/
    CMS, bootstrap draws) silently assumes, here MEASURED (max
    |corr| should sit at the ~1/√n sampling-noise floor; a real
    correlation would mean correlated Bloom bits, biased splits,
    and broken variance formulas everywhere). The 16×16 bit grid
    rides one cross join over the hashed relation — one scan, one
    shuffle on the 120-pair key."""
    o = _t(spark, sf_dir, "orders")
    # the grid step amplifies every row 120× — spread the hashed
    # relation over all cores BEFORE the blowup (the scan's byte-based
    # splits under-parallelize compute-amplifying stages; same
    # discipline as the winnowing/selection repartitions)
    h = o.select(
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 65536
        ).alias("hv")
    ).repartition(spark.sparkContext.defaultParallelism)
    iv = spark.range(0, 16).select(F.col("id").cast("int").alias("i"))
    jv = spark.range(0, 16).select(F.col("id").cast("int").alias("j"))
    grid = (
        h.crossJoin(F.broadcast(iv))
        .crossJoin(F.broadcast(jv))
        .filter(F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.expr("CAST(shiftright(hv, i) & 1 AS DOUBLE)").alias("bi"),
            F.expr("CAST(shiftright(hv, j) & 1 AS DOUBLE)").alias("bj"),
        )
    )
    bits = grid.groupBy("i", "j").agg(
        F.corr("bi", "bj").alias("c"), F.avg("bi").alias("bavg")
    )
    return bits.agg(
        F.count("*").cast("bigint").alias("n_bit_pairs"),
        F.round(F.max(F.abs(F.col("c"))), 4).alias("max_abs_corr"),
        F.round(F.avg(F.abs(F.col("c"))), 5).alias("mean_abs_corr"),
        F.round(F.max(F.abs(F.col("bavg") - 0.5)), 4).alias("max_bit_bias"),
    )


@register(
    "obrien_fleming_peeks",
    oracle="""
    WITH obs AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                  ::UBIGINT % 2 AS INT) AS arm,
             o_totalprice AS y
      FROM orders),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
    looks AS (
      SELECT k, d0 + CAST(floor(date_diff('day', d0, d1) * k / 5.0) AS INT)
               AS cutoff
      FROM bounds, (SELECT unnest(generate_series(1, 5)) AS k)),
    cum AS (
      SELECT k,
             avg(CASE WHEN arm = 1 THEN y END)
               - avg(CASE WHEN arm = 0 THEN y END) AS diff,
             var_samp(CASE WHEN arm = 1 THEN y END) AS v1,
             var_samp(CASE WHEN arm = 0 THEN y END) AS v0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0
      FROM obs JOIN looks ON d <= cutoff GROUP BY k),
    z AS (
      SELECT k, n0 + n1 AS n_seen,
             diff / sqrt(v1 / n1 + v0 / n0) AS zstat,
             1.96 * sqrt(5.0 / k) AS obf_boundary
      FROM cum)
    SELECT CAST(k AS BIGINT) AS look,
           CAST(n_seen AS BIGINT) AS n_orders_seen,
           round(zstat, 4) AS z_statistic,
           round(obf_boundary, 4) AS obf_boundary,
           abs(zstat) > obf_boundary AS stop_here
    FROM z
    """,
    tags=("experimentation", "stats", "sequence"),
)
def q_obrien_fleming_peeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring: five equally-
    spaced interim looks at a hash-split A/B on order value, each
    compared against the OBF boundary z·√(K/k) — brutally strict
    early (≈4.38σ at look 1) and ≈nominal at the end, which is how
    clinical trials and mature experiment platforms buy legal
    peeking without SPRT's indefinite horizon
    (sprt_boundary_crossing is the open-ended cousin; this one has
    a fixed end date). Every look is the SAME scan joined against
    the cutoff relation — five cumulative Welch z's from one
    conditional-aggregate pass, no per-look re-query."""
    o = _t(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_orderdate").cast("date").alias("d"),
        CUR.hash_bucket(F.col("o_custkey"), 2).alias("arm"),
        F.col("o_totalprice").alias("y"),
    )
    bounds = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    ks = spark.range(1, 6).select(F.col("id").cast("int").alias("k"))
    looks = bounds.crossJoin(F.broadcast(ks)).select(
        "k",
        F.date_add(
            F.col("d0"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) * F.col("k") / 5.0).cast(
                "int"
            ),
        ).alias("cutoff"),
    )
    cum = (
        obs.join(F.broadcast(looks), obs["d"] <= F.col("cutoff"))
        .groupBy("k")
        .agg(
            (
                F.avg(F.when(F.col("arm") == 1, F.col("y")))
                - F.avg(F.when(F.col("arm") == 0, F.col("y")))
            ).alias("diff"),
            F.var_samp(F.when(F.col("arm") == 1, F.col("y"))).alias("v1"),
            F.var_samp(F.when(F.col("arm") == 0, F.col("y"))).alias("v0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("double")
            .alias("n1"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("double")
            .alias("n0"),
        )
    )
    zstat = F.col("diff") / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
    bnd = 1.96 * F.sqrt(5.0 / F.col("k"))
    return cum.select(
        F.col("k").cast("bigint").alias("look"),
        (F.col("n0") + F.col("n1")).cast("bigint").alias("n_orders_seen"),
        F.round(zstat, 4).alias("z_statistic"),
        F.round(bnd, 4).alias("obf_boundary"),
        (F.abs(zstat) > bnd).alias("stop_here"),
    )


@register(
    "effect_size_family",
    oracle="""
    WITH obs AS (
      SELECT CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                  THEN 1 ELSE 0 END AS g,
             o_totalprice AS y, o_orderkey
      FROM orders),
    mom AS (
      SELECT avg(CASE WHEN g = 1 THEN y END) AS m1,
             avg(CASE WHEN g = 0 THEN y END) AS m0,
             var_samp(CASE WHEN g = 1 THEN y END) AS v1,
             var_samp(CASE WHEN g = 0 THEN y END) AS v0,
             CAST(sum(g) AS DOUBLE) AS n1,
             CAST(sum(1 - g) AS DOUBLE) AS n0
      FROM obs),
    ranked AS (
      SELECT g, CAST(row_number() OVER (ORDER BY y, o_orderkey) AS DOUBLE)
               AS rk
      FROM obs),
    u AS (
      SELECT sum(CASE WHEN g = 1 THEN rk ELSE 0 END) AS r1 FROM ranked),
    eff AS (
      SELECT (m1 - m0)
               / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2)) AS d,
             n1, n0, r1
      FROM mom, u)
    SELECT round(d, 5) AS cohens_d,
           round(d * (1 - 3 / (4 * (n1 + n0) - 9)), 5) AS hedges_g,
           round(2 * (r1 - n1 * (n1 + 1) / 2) / (n1 * n0) - 1, 5)
             AS cliffs_delta
    FROM eff
    """,
    tags=("stats", "experimentation", "eval"),
)
def q_effect_size_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The effect-size triple for the weekend contrast: Cohen's d
    (pooled-SD standardized difference), Hedges' g (the small-
    sample bias correction d·(1−3/(4N−9)) every meta-analysis
    requires), and Cliff's δ = 2·U/(n₁n₀)−1 (the ordinal,
    outlier-immune P(X>Y)−P(X<Y), derived from the same rank sum
    as auc_rank_sum: δ = 2·AUC−1) — the numbers that say HOW BIG,
    which the entire p-value tier deliberately does not
    (significance at scale is guaranteed; effect size is the
    decision input). Moments from one conditional aggregate, the
    rank sum from one ordering — and the docstring convention
    stands: at fact scale the global rank uses the two-pass
    range-partition prefix sum, not a single-task sort."""
    o = _t(spark, sf_dir, "orders")
    obs = o.select(
        F.when(
            F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("g"),
        F.col("o_totalprice").alias("y"),
        "o_orderkey",
    )
    mom = obs.agg(
        F.avg(F.when(F.col("g") == 1, F.col("y"))).alias("m1"),
        F.avg(F.when(F.col("g") == 0, F.col("y"))).alias("m0"),
        F.var_samp(F.when(F.col("g") == 1, F.col("y"))).alias("v1"),
        F.var_samp(F.when(F.col("g") == 0, F.col("y"))).alias("v0"),
        F.sum("g").cast("double").alias("n1"),
        F.sum(1 - F.col("g")).cast("double").alias("n0"),
    )
    ranked = obs.select(
        "g",
        F.row_number().over(Window.orderBy("y", "o_orderkey")).cast("double").alias("rk"),
    )
    u = ranked.agg(
        F.sum(F.when(F.col("g") == 1, F.col("rk")).otherwise(0.0)).alias("r1")
    )
    d = (F.col("m1") - F.col("m0")) / F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0"))
        / (F.col("n1") + F.col("n0") - 2)
    )
    return mom.crossJoin(F.broadcast(u)).select(
        F.round(d, 5).alias("cohens_d"),
        F.round(d * (1 - 3 / (4 * (F.col("n1") + F.col("n0")) - 9)), 5).alias(
            "hedges_g"
        ),
        F.round(
            2
            * (F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2)
            / (F.col("n1") * F.col("n0"))
            - 1,
            5,
        ).alias("cliffs_delta"),
    )


@register(
    "tukey_hsd_years",
    oracle="""
    WITH obs AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_totalprice AS y
      FROM orders
      WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1995 AND 1999),
    grp AS (
      SELECT yr, avg(y) AS m, var_samp(y) AS v,
             CAST(count(*) AS DOUBLE) AS n
      FROM obs GROUP BY yr),
    mse AS (
      SELECT sum((n - 1) * v) / sum(n - 1) AS mse FROM grp),
    pairs AS (
      SELECT a.yr AS yr1, b.yr AS yr2,
             abs(a.m - b.m) AS diff,
             3.858 * sqrt(mse / 2 * (1 / a.n + 1 / b.n)) AS hsd
      FROM grp a JOIN grp b ON a.yr < b.yr, mse)
    SELECT CAST(yr1 AS BIGINT) AS yr1, CAST(yr2 AS BIGINT) AS yr2,
           round(diff, 2) AS mean_diff,
           round(hsd, 2) AS hsd_threshold,
           diff > hsd AS significant
    FROM pairs ORDER BY yr1, yr2
    """,
    tags=("stats", "experimentation", "rank"),
)
def q_tukey_hsd_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc on the five-year mean order values: every
    pairwise difference against the honestly-significant-difference
    threshold q·√(MSE/2·(1/nᵢ+1/nⱼ)) with the studentized-range
    q(0.95, k=5, ∞)=3.858 — the multiple-comparison control that
    running ten Welch t-tests at α=0.05 silently lacks (family-wise
    error ≈40% uncorrected; cf. benjamini_hochberg_fdr for the FDR
    alternative when k is large). Pooled MSE from one grouped
    moment pass; the pair matrix is a 10-row self-join of the
    5-row group relation."""
    o = _t(spark, sf_dir, "orders").filter(
        F.year(F.col("o_orderdate").cast("date")).between(1995, 1999)
    )
    grp = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).alias("yr")
    ).agg(
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
        F.count("*").cast("double").alias("n"),
    )
    mse = grp.agg(
        (F.sum((F.col("n") - 1) * F.col("v")) / F.sum(F.col("n") - 1)).alias("mse")
    )
    a = grp.select(
        F.col("yr").alias("yr1"), F.col("m").alias("m1"), F.col("n").alias("n1")
    )
    b = grp.select(
        F.col("yr").alias("yr2"), F.col("m").alias("m2"), F.col("n").alias("n2")
    )
    hsd = 3.858 * F.sqrt(F.col("mse") / 2 * (1 / F.col("n1") + 1 / F.col("n2")))
    diff = F.abs(F.col("m1") - F.col("m2"))
    return (
        a.join(b, F.col("yr1") < F.col("yr2"))
        .crossJoin(F.broadcast(mse))
        .select(
            F.col("yr1").cast("bigint").alias("yr1"),
            F.col("yr2").cast("bigint").alias("yr2"),
            F.round(diff, 2).alias("mean_diff"),
            F.round(hsd, 2).alias("hsd_threshold"),
            (diff > hsd).alias("significant"),
        )
        .orderBy("yr1", "yr2")
    )


@register(
    "business_days_lag",
    oracle="""
    WITH lags AS (
      SELECT o_orderpriority,
             CAST(o_orderdate AS DATE) AS d0,
             CAST(l_shipdate AS DATE) AS d1
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)),
    biz AS (
      SELECT o_orderpriority,
             (5 * (date_diff('day', DATE '1990-01-01', d1) // 7)
              + least(date_diff('day', DATE '1990-01-01', d1) % 7 + 1, 5))
             - (5 * (date_diff('day', DATE '1990-01-01', d0) // 7)
              + least(date_diff('day', DATE '1990-01-01', d0) % 7 + 1, 5))
               AS bd
      FROM lags)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           round(avg(bd), 3) AS mean_business_days,
           round(CAST(quantile_cont(bd, 0.9) AS DOUBLE), 1)
             AS p90_business_days
    FROM biz GROUP BY o_orderpriority
    """,
    tags=("date", "sre", "agg"),
)
def q_business_days_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lag in BUSINESS days, computed in closed form as
    a difference of weekday PREFIX counts from a fixed Monday epoch
    (W(d) = 5⌊k/7⌋ + min(k mod 7 + 1, 5)) — no calendar dimension
    table, no generate_series explosion per row (the join-a-
    calendar formulation multiplies the fact table by the average
    lag; this is one codegen expression per row, validated against
    a brute-force day walk). The prefix-function trick generalizes:
    any periodic calendar predicate becomes a closed-form count.
    SLA reporting per priority with the p90 that ops actually
    alerts on."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lags = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("l_shipdate").cast("date").alias("d1"),
        )
        .filter(F.col("d1") >= F.col("d0"))
    )
    # Weekday prefix count from a Monday epoch (1990-01-01):
    # W(d) = 5*floor(k/7) + min(k%7 + 1, 5) with k = days since epoch;
    # business days in (d0, d1] = W(d1) - W(d0). Validated cell-by-cell
    # against a brute-force day walk over 294 date pairs.
    epoch = F.lit("1990-01-01").cast("date")

    def wdays(col):
        k = F.datediff(col, epoch)
        return 5 * F.floor(k / 7).cast("long") + F.least(
            k % 7 + 1, F.lit(5)
        )

    bd = wdays(F.col("d1")) - wdays(F.col("d0"))
    biz = lags.select("o_orderpriority", bd.alias("bd"))
    return biz.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lineitems"),
        F.round(F.avg("bd"), 3).alias("mean_business_days"),
        F.round(F.expr("percentile(bd, 0.9)"), 1).alias("p90_business_days"),
    )


@register(
    "embedding_isotropy",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    mu AS (SELECT pos, avg(v) AS m FROM dims GROUP BY pos),
    cent AS (
      SELECT vec_id, pos, v, v - m AS vc
      FROM dims JOIN mu USING (pos)),
    norms AS (
      SELECT vec_id, sqrt(sum(v * v)) AS nr, sqrt(sum(vc * vc)) AS nc
      FROM cent GROUP BY vec_id),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 250),
    dots AS (
      SELECT p.i, p.j,
             sum(ca.v * cb.v) AS dr, sum(ca.vc * cb.vc) AS dc
      FROM pairs p JOIN cent ca ON ca.vec_id = p.i
      JOIN cent cb ON cb.vec_id = p.j AND ca.pos = cb.pos
      GROUP BY p.i, p.j),
    cs AS (
      SELECT d.dr / (na.nr * nb.nr) AS cos_raw,
             d.dc / (na.nc * nb.nc) AS cos_cent
      FROM dots d JOIN norms na ON na.vec_id = d.i
      JOIN norms nb ON nb.vec_id = d.j)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(cos_raw), 4) AS mean_cosine_raw,
           round(avg(cos_cent), 4) AS mean_cosine_centered,
           round(avg(cos_raw) - avg(cos_cent), 4) AS anisotropy_gap
    FROM cs
    """,
    tags=("embeddings", "ml", "audit"),
)
def q_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding isotropy audit (Ethayarajh): mean cosine between
    disjoint vector pairs, RAW vs after mean-centering — a large
    raw mean cosine means every vector shares a dominant common
    direction, so cosine similarity degenerates (everything looks
    similar to everything, the failure mode that silently breaks
    ann_bruteforce_topk's rankings) and the drop after centering
    measures exactly how much of the geometry was that artifact.
    Centering is a 64-row broadcast subtract; the pair dots reuse
    the exploded-dims join shape on 250 disjoint pairs."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    mu = dims.groupBy("pos").agg(F.avg("v").alias("m"))
    cent = dims.join(F.broadcast(mu), "pos").select(
        "vec_id", "pos", "v", (F.col("v") - F.col("m")).alias("vc")
    )
    norms = cent.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nr"),
        F.sqrt(F.sum(F.col("vc") * F.col("vc"))).alias("nc"),
    )
    pairs = e.select(F.col("vec_id").alias("i")).join(
        e.select((F.col("vec_id") - 250).alias("i"), F.col("vec_id").alias("j")),
        "i",
    )
    ca = cent.select(F.col("vec_id").alias("i"), "pos", F.col("v").alias("va"), F.col("vc").alias("vca"))
    cb = cent.select(F.col("vec_id").alias("j"), "pos", F.col("v").alias("vb"), F.col("vc").alias("vcb"))
    dots = (
        pairs.join(ca, "i")
        .join(cb, ["j", "pos"])
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("dr"),
            F.sum(F.col("vca") * F.col("vcb")).alias("dc"),
        )
    )
    na = norms.select(F.col("vec_id").alias("i"), F.col("nr").alias("nra"), F.col("nc").alias("nca"))
    nb = norms.select(F.col("vec_id").alias("j"), F.col("nr").alias("nrb"), F.col("nc").alias("ncb"))
    cs = (
        dots.join(na, "i")
        .join(nb, "j")
        .select(
            (F.col("dr") / (F.col("nra") * F.col("nrb"))).alias("cos_raw"),
            (F.col("dc") / (F.col("nca") * F.col("ncb"))).alias("cos_cent"),
        )
    )
    return cs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("cos_raw"), 4).alias("mean_cosine_raw"),
        F.round(F.avg("cos_cent"), 4).alias("mean_cosine_centered"),
        F.round(F.avg("cos_raw") - F.avg("cos_cent"), 4).alias("anisotropy_gap"),
    )


@register(
    "mcnemar_filters",
    oracle="""
    WITH scored AS (
      SELECT n_chars,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               AS words
      FROM documents),
    med AS (
      SELECT CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS mc,
             CAST(quantile_cont(words, 0.5) AS DOUBLE) AS mw
      FROM scored),
    rated AS (
      SELECT CASE WHEN n_chars > mc THEN 1 ELSE 0 END AS ra,
             CASE WHEN words > mw THEN 1 ELSE 0 END AS rb
      FROM scored, med),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS b,
             CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c
      FROM rated)
    SELECT n AS n_docs, CAST(b AS BIGINT) AS only_filter_a,
           CAST(c AS BIGINT) AS only_filter_b,
           round(pow(abs(b - c) - 1, 2) / nullif(b + c, 0), 4)
             AS mcnemar_chi2,
           pow(abs(b - c) - 1, 2) / nullif(b + c, 0) > 3.841
             AS filters_differ_5pct
    FROM cells
    """,
    tags=("stats", "agreement", "quality"),
)
def q_mcnemar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the same two quality filters Cohen's κ
    compares (cohens_kappa_filters): κ asks whether they AGREE;
    McNemar asks whether they disagree ASYMMETRICALLY — only the
    discordant cells enter (|b−c|−1)²/(b+c), so a filter that
    passes strictly more documents than the other is caught even
    when agreement is high. This is the paired test for comparing
    two classifiers on the same examples (the unpaired chi-square
    would wrongly treat the corpora as independent); continuity-
    corrected, one conditional aggregate."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "n_chars", TXT.token_count(F.col("text")).cast("double").alias("words")
    )
    med = scored.agg(
        F.expr("percentile(n_chars, 0.5)").alias("mc"),
        F.expr("percentile(words, 0.5)").alias("mw"),
    )
    rated = scored.crossJoin(F.broadcast(med)).select(
        F.when(F.col("n_chars") > F.col("mc"), 1).otherwise(0).alias("ra"),
        F.when(F.col("words") > F.col("mw"), 1).otherwise(0).alias("rb"),
    )
    cells = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("double")
        .alias("c"),
    )
    chi2 = F.pow(F.abs(F.col("b") - F.col("c")) - 1, 2) / F.nullif(
        F.col("b") + F.col("c"), F.lit(0.0)
    )
    return cells.select(
        F.col("n").alias("n_docs"),
        F.col("b").cast("bigint").alias("only_filter_a"),
        F.col("c").cast("bigint").alias("only_filter_b"),
        F.round(chi2, 4).alias("mcnemar_chi2"),
        (chi2 > 3.841).alias("filters_differ_5pct"),
    )


@register(
    "dbscan_core_cells",
    oracle="""
    WITH pts AS (
      SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
      FROM embeddings),
    cells AS (
      SELECT CAST(floor(x / 0.1) AS BIGINT) AS cx,
             CAST(floor(y / 0.1) AS BIGINT) AS cy,
             CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2),
    offsets AS (
      SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                        (SELECT unnest([-1, 0, 1]) AS dy)),
    nbr AS (
      SELECT c.cx, c.cy, any_value(c.n) AS own,
             sum(o.n) AS hood
      FROM cells c CROSS JOIN offsets
      JOIN cells o ON o.cx = c.cx + dx AND o.cy = c.cy + dy
      GROUP BY c.cx, c.cy),
    core AS (SELECT cx, cy, own FROM nbr WHERE hood >= 100),
    border AS (
      SELECT DISTINCT n.cx, n.cy, n.own
      FROM nbr n CROSS JOIN offsets
      JOIN core k ON k.cx = n.cx + dx AND k.cy = n.cy + dy
      WHERE n.hood < 100)
    SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
           CAST((SELECT count(*) FROM core) AS BIGINT) AS n_core_cells,
           CAST((SELECT count(*) FROM border) AS BIGINT) AS n_border_cells,
           CAST((SELECT coalesce(sum(own), 0) FROM core) AS BIGINT)
             AS points_in_core,
           CAST((SELECT coalesce(sum(own), 0) FROM border) AS BIGINT)
             AS points_in_border
    """,
    tags=("spatial", "clustering", "grid"),
)
def q_dbscan_core_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based DBSCAN density classification on the embedding
    cloud's first two dimensions: cells whose 3×3 neighborhood
    holds ≥ minPts points are CORE, non-core cells adjacent to a
    core cell are BORDER, the rest is noise — the density-based
    clustering view that finds arbitrary-shaped clusters k-means
    (kmeans_clusters) cannot, expressed entirely as cell-key
    equi-joins (the 9-offset neighbor join is the same
    halo-exchange shape as the raster focal operators,
    operators/focal.py). Grid quantization is what makes DBSCAN
    distributable: density queries become hash lookups on cell
    ids instead of radius searches."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    cells = pts.groupBy(
        F.floor(F.col("x") / 0.1).cast("long").alias("cx"),
        F.floor(F.col("y") / 0.1).cast("long").alias("cy"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    offsets = local_df(
        spark, [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    c = cells.select(
        F.col("cx").alias("ccx"), F.col("cy").alias("ccy"), F.col("n").alias("own")
    )
    nbr = (
        c.crossJoin(F.broadcast(offsets))
        .join(
            cells,
            (F.col("cx") == F.col("ccx") + F.col("dx"))
            & (F.col("cy") == F.col("ccy") + F.col("dy")),
        )
        .groupBy("ccx", "ccy")
        .agg(F.first("own").alias("own"), F.sum("n").alias("hood"))
    )
    core = nbr.filter(F.col("hood") >= 100).select("ccx", "ccy", "own")
    noncore = nbr.filter(F.col("hood") < 100).select("ccx", "ccy", "own")
    border = (
        noncore.crossJoin(F.broadcast(offsets))
        .join(
            core.select(F.col("ccx").alias("kx"), F.col("ccy").alias("ky")),
            (F.col("kx") == F.col("ccx") + F.col("dx"))
            & (F.col("ky") == F.col("ccy") + F.col("dy")),
        )
        .select("ccx", "ccy", "own")
        .distinct()
    )
    n_cells = cells.agg(F.count("*").alias("v"))
    n_core = core.agg(F.count("*").alias("v"), F.coalesce(F.sum("own"), F.lit(0)).alias("p"))
    n_border = border.agg(
        F.count("*").alias("v"), F.coalesce(F.sum("own"), F.lit(0)).alias("p")
    )
    return (
        n_cells.select(F.col("v").cast("bigint").alias("n_cells"))
        .crossJoin(
            n_core.select(
                F.col("v").cast("bigint").alias("n_core_cells"),
                F.col("p").cast("bigint").alias("points_in_core"),
            )
        )
        .crossJoin(
            n_border.select(
                F.col("v").cast("bigint").alias("n_border_cells"),
                F.col("p").cast("bigint").alias("points_in_border"),
            )
        )
        .select(
            "n_cells",
            "n_core_cells",
            "n_border_cells",
            "points_in_core",
            "points_in_border",
        )
    )


@register(
    "hodges_lehmann_shift",
    oracle="""
    WITH hr AS (
      SELECT l_quantity AS v, CAST(count(*) AS DOUBLE) AS c
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
    hn AS (
      SELECT l_quantity AS v, CAST(count(*) AS DOUBLE) AS c
      FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1),
    diffs AS (
      SELECT hr.v - hn.v AS d, sum(hr.c * hn.c) AS w
      FROM hr CROSS JOIN hn GROUP BY hr.v - hn.v),
    tot AS (SELECT sum(w) AS tw FROM diffs),
    cum AS (
      SELECT d, sum(w) OVER (ORDER BY d) AS cw, tw
      FROM diffs, tot)
    SELECT CAST((SELECT tw FROM tot) AS BIGINT) AS n_pairs,
           round(min(CASE WHEN cw >= tw / 2 THEN d END), 1)
             AS hodges_lehmann_shift
    FROM cum
    """,
    tags=("stats", "robust", "median"),
)
def q_hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between returned and normal
    line quantities: the MEDIAN of all cross-group differences —
    the location estimator associated with the Wilcoxon/Mann-
    Whitney family (wilcoxon_signed_rank tests; HL says BY HOW
    MUCH), 50% breakdown-robust where the difference-of-means is
    not. The 10¹⁰ conceptual pairs collapse onto the value-
    histogram cross product (≤50×50 cells → ≤99 distinct
    differences), and the weighted median is a prefix window over
    that tiny relation — the same histogram collapse as
    kendall_tau_b and energy_distance_two_sample, the house style
    for quadratic statistics at scale."""
    li = _t(spark, sf_dir, "lineitem")
    hr = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    hn = (
        li.filter(F.col("l_returnflag") == "N")
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    a = hr.select(F.col("v").alias("vr"), F.col("c").alias("cr"))
    b = hn.select(F.col("v").alias("vn"), F.col("c").alias("cn"))
    diffs = (
        a.crossJoin(b)
        .groupBy((F.col("vr") - F.col("vn")).alias("d"))
        .agg(F.sum(F.col("cr") * F.col("cn")).alias("w"))
    )
    from ...operators.rank import global_ranked

    tot = diffs.agg(F.sum("w").alias("tw"))
    cum = global_ranked(
        diffs.crossJoin(F.broadcast(tot)),
        ["d"],
        running_sums={"cw": F.col("w")},
    ).select("d", "cw", "tw")
    return cum.agg(
        F.first("tw").cast("bigint").alias("n_pairs"),
        F.round(
            F.min(F.when(F.col("cw") >= F.col("tw") / 2, F.col("d"))), 1
        ).alias("hodges_lehmann_shift"),
    )


@register(
    "newey_west_se",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    st AS (SELECT avg(v) AS mu, CAST(count(*) AS DOUBLE) AS n FROM daily),
    dev AS (
      SELECT d, v - mu AS e,
             lag(v - mu, 1) OVER (ORDER BY d) AS e1,
             lag(v - mu, 2) OVER (ORDER BY d) AS e2,
             lag(v - mu, 3) OVER (ORDER BY d) AS e3,
             lag(v - mu, 4) OVER (ORDER BY d) AS e4,
             lag(v - mu, 5) OVER (ORDER BY d) AS e5,
             lag(v - mu, 6) OVER (ORDER BY d) AS e6,
             lag(v - mu, 7) OVER (ORDER BY d) AS e7
      FROM daily, st),
    gam AS (
      SELECT avg(e * e) AS g0,
             avg(e * e1) AS g1, avg(e * e2) AS g2, avg(e * e3) AS g3,
             avg(e * e4) AS g4, avg(e * e5) AS g5, avg(e * e6) AS g6,
             avg(e * e7) AS g7,
             any_value(n) AS n
      FROM dev, st GROUP BY n),
    lrv AS (
      SELECT n, g0,
             g0 + 2 * ((1 - 1 / 8.0) * g1 + (1 - 2 / 8.0) * g2
                     + (1 - 3 / 8.0) * g3 + (1 - 4 / 8.0) * g4
                     + (1 - 5 / 8.0) * g5 + (1 - 6 / 8.0) * g6
                     + (1 - 7 / 8.0) * g7) AS s2nw
      FROM gam)
    SELECT CAST(n AS BIGINT) AS n_days,
           round(sqrt(g0 / n), 2) AS naive_se,
           round(sqrt(s2nw / n), 2) AS newey_west_se,
           round(sqrt(s2nw / g0), 4) AS se_inflation
    FROM lrv
    """,
    tags=("timeseries", "stats", "robust"),
)
def q_newey_west_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC) standard error of the mean daily revenue:
    the long-run variance γ₀+2Σ(1−k/(L+1))γₖ with Bartlett weights
    at L=7 lags — the correction that makes confidence intervals
    honest when observations autocorrelate (the naive σ/√n is
    anti-conservative by exactly the se_inflation factor whenever
    acf_daily_revenue shows positive lag-1; every time-series KPI
    'significance' claim silently needs this). Lag products come
    from 7 lag columns in ONE window pass; the autocovariances are
    one aggregate — the same |dates|-relation discipline as the
    rest of the series tier."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    st = daily.agg(F.avg("v").alias("mu"), F.count("*").cast("double").alias("n"))
    w = Window.orderBy("d")
    e = F.col("v") - F.col("mu")
    dev = daily.crossJoin(F.broadcast(st)).select(
        "n",
        e.alias("e"),
        *[F.lag(e, k).over(w).alias(f"e{k}") for k in range(1, 8)],
    )
    gam = dev.groupBy("n").agg(
        F.avg(F.col("e") * F.col("e")).alias("g0"),
        *[
            F.avg(F.col("e") * F.col(f"e{k}")).alias(f"g{k}")
            for k in range(1, 8)
        ],
    )
    s2nw = F.col("g0") + 2 * sum(
        (1 - k / 8.0) * F.col(f"g{k}") for k in range(1, 8)
    )
    return gam.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.sqrt(F.col("g0") / F.col("n")), 2).alias("naive_se"),
        F.round(F.sqrt(s2nw / F.col("n")), 2).alias("newey_west_se"),
        F.round(F.sqrt(s2nw / F.col("g0")), 4).alias("se_inflation"),
    )


@register(
    "kingman_vut_estimate",
    oracle="""
    WITH arr AS (
      SELECT epoch_us(ts) / 1e6 AS t
      FROM events),
    gaps AS (
      SELECT t - lag(t) OVER (ORDER BY t) AS ia
      FROM arr QUALIFY ia IS NOT NULL AND ia > 0),
    scv AS (
      SELECT avg(ia) AS mia, var_samp(ia) / pow(avg(ia), 2) AS ca2,
             CAST(count(*) AS BIGINT) AS n
      FROM gaps),
    rhos AS (SELECT unnest([0.7, 0.8, 0.9]) AS rho)
    SELECT round(mia, 3) AS mean_interarrival_s,
           round(ca2, 4) AS arrival_scv,
           CAST(rho * 100 AS BIGINT) AS utilization_pct,
           round((rho / (1 - rho)) * (ca2 + 0) / 2 * (rho * mia), 3)
             AS kingman_wait_s
    FROM scv CROSS JOIN rhos
    """,
    tags=("sre", "queueing", "window"),
)
def q_kingman_vut_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kingman's VUT approximation from the measured event stream:
    wait ≈ (ρ/(1−ρ)) · (c_a²+c_s²)/2 · service-time, with the
    arrival SCV c_a² MEASURED from interarrival gaps (c_a²=1 is
    Poisson; the heavy factor is burstiness — burstiness_fano's
    counting-view twin) and deterministic service (c_s²=0) at
    three utilization scenarios — the factory-physics formula that
    says WHY 90% utilization queues explode (the ρ/(1−ρ)
    hockey-stick) and erlang_c_staffing's M/M/N the general-
    arrival sanity check. Interarrivals are one lag window over
    the event-time ordering; at fact scale the gap computation
    partitions by day/shard first."""
    e = _t(spark, sf_dir, "events")
    arr = e.select((F.unix_micros("ts") / 1e6).alias("t"))
    w = Window.orderBy("t")
    gaps = arr.select((F.col("t") - F.lag("t").over(w)).alias("ia")).filter(
        F.col("ia").isNotNull() & (F.col("ia") > 0)
    )
    scv = gaps.agg(
        F.avg("ia").alias("mia"),
        (F.var_samp("ia") / F.pow(F.avg("ia"), 2)).alias("ca2"),
        F.count("*").cast("bigint").alias("n"),
    )
    rhos = local_df(spark, [(0.7,), (0.8,), (0.9,)], "rho double")
    wait = (F.col("rho") / (1 - F.col("rho"))) * (F.col("ca2") + 0) / 2 * (
        F.col("rho") * F.col("mia")
    )
    return scv.crossJoin(F.broadcast(rhos)).select(
        F.round("mia", 3).alias("mean_interarrival_s"),
        F.round("ca2", 4).alias("arrival_scv"),
        (F.col("rho") * 100).cast("bigint").alias("utilization_pct"),
        F.round(wait, 3).alias("kingman_wait_s"),
    )


@register(
    "successive_halving_replay",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    phased AS (
      SELECT event_type AS arm, value,
             least(CAST(floor(3.0 * date_diff('day', d0, CAST(ts AS DATE))
                   / (date_diff('day', d0, d1) + 1)) AS INT), 2) AS phase
      FROM events, bounds
      WHERE event_type IN ('view', 'click', 'signup', 'error')),
    p0 AS (
      SELECT arm, avg(value) AS m FROM phased WHERE phase = 0 GROUP BY arm),
    keep0 AS (
      SELECT arm FROM (
        SELECT arm, row_number() OVER (ORDER BY m DESC, arm) AS rk FROM p0)
      WHERE rk <= 2),
    p1 AS (
      SELECT arm, avg(value) AS m FROM phased
      WHERE phase = 1 AND arm IN (SELECT arm FROM keep0) GROUP BY arm),
    keep1 AS (
      SELECT arm FROM (
        SELECT arm, row_number() OVER (ORDER BY m DESC, arm) AS rk FROM p1)
      WHERE rk <= 1),
    final AS (
      SELECT arm, avg(value) AS m FROM phased
      WHERE phase = 2 AND arm IN (SELECT arm FROM keep1) GROUP BY arm),
    truth AS (
      SELECT arm, row_number() OVER (ORDER BY avg(value) DESC, arm)
               AS true_rank
      FROM phased GROUP BY arm)
    SELECT f.arm AS winner,
           round(f.m, 4) AS final_phase_value,
           CAST(t.true_rank AS BIGINT) AS winner_true_rank
    FROM final f JOIN truth t ON f.arm = t.arm
    """,
    tags=("ml", "bandit", "sequence"),
)
def q_successive_halving_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive halving (the Hyperband inner loop) replayed on the
    event log: four arms, three equal time phases, half the arms
    eliminated after each phase by observed mean value — the
    budget-efficient tournament that spends ~log₂(k) phase-budgets
    where full evaluation spends k, at the risk the replay
    measures: winner_true_rank > 1 means an early phase eliminated
    the eventually-best arm on noise (the known failure mode that
    motivates Hyperband's multiple brackets). Each phase is a
    conditional aggregate gated by the previous phase's top-k —
    a semi-join chain, no per-phase re-scan of eliminated arms'
    history."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "signup", "error")
    )
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    phased = e.crossJoin(F.broadcast(bounds)).select(
        F.col("event_type").alias("arm"),
        "value",
        F.least(
            F.floor(
                3.0
                * F.datediff(F.to_date("ts"), F.col("d0"))
                / (F.datediff(F.col("d1"), F.col("d0")) + 1)
            ).cast("int"),
            F.lit(2),
        ).alias("phase"),
    )

    def topk(df, k):
        ranked = df.select(
            "arm",
            F.row_number().over(Window.orderBy(F.desc("m"), "arm")).alias("rk"),
        )
        return ranked.filter(F.col("rk") <= k).select("arm")

    p0 = phased.filter(F.col("phase") == 0).groupBy("arm").agg(
        F.avg("value").alias("m")
    )
    keep0 = topk(p0, 2)
    p1 = (
        phased.filter(F.col("phase") == 1)
        .join(F.broadcast(keep0), "arm", "left_semi")
        .groupBy("arm")
        .agg(F.avg("value").alias("m"))
    )
    keep1 = topk(p1, 1)
    final = (
        phased.filter(F.col("phase") == 2)
        .join(F.broadcast(keep1), "arm", "left_semi")
        .groupBy("arm")
        .agg(F.avg("value").alias("m"))
    )
    truth = (
        phased.groupBy("arm")
        .agg(F.avg("value").alias("tm"))
        .select(
            "arm",
            F.row_number()
            .over(Window.orderBy(F.desc("tm"), "arm"))
            .alias("true_rank"),
        )
    )
    return final.join(truth, "arm").select(
        F.col("arm").alias("winner"),
        F.round("m", 4).alias("final_phase_value"),
        F.col("true_rank").cast("bigint").alias("winner_true_rank"),
    )

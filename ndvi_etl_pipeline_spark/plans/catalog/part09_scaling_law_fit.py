"""Query catalog part 9/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403
from .part04_k_anonymity_audit import *  # noqa: F401,F403
from .part05_bloom_filter_fpr import *  # noqa: F401,F403
from .part06_energy_distance_tw import *  # noqa: F401,F403
from .part07_split_conformal_in import *  # noqa: F401,F403
from .part08_partial_pooling_es import *  # noqa: F401,F403



@register(
    "scaling_law_fit",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS v,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT
               % 100 AS bucket
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    fracs AS (SELECT unnest([20, 40, 60, 80, 100]) AS f),
    cent AS (
      SELECT f, label AS c_label, pos, avg(v) AS cv
      FROM dims CROSS JOIN fracs WHERE bucket < f
      GROUP BY 1, 2, 3),
    cnorm AS (
      SELECT f, c_label, sqrt(sum(cv * cv)) AS cn
      FROM cent GROUP BY 1, 2),
    ntrain AS (
      SELECT f, CAST(count(DISTINCT vec_id) AS DOUBLE) AS n_train
      FROM dims CROSS JOIN fracs WHERE bucket < f AND pos = 1
      GROUP BY f),
    dots AS (
      SELECT c.f, d.vec_id, any_value(d.label) AS label, c.c_label,
             sum(d.v * c.cv) AS dot
      FROM dims d JOIN cent c ON d.pos = c.pos
      GROUP BY c.f, d.vec_id, c.c_label),
    vnorm AS (
      SELECT vec_id, sqrt(sum(v * v)) AS vn
      FROM dims GROUP BY vec_id),
    pred AS (
      SELECT f, vec_id, label, c_label,
             row_number() OVER (
               PARTITION BY f, vec_id
               ORDER BY dot / (vn * cn) DESC, c_label) AS rn
      FROM dots JOIN vnorm USING (vec_id)
      JOIN cnorm USING (f, c_label)),
    acc AS (
      SELECT f, avg(CASE WHEN label = c_label THEN 1.0 ELSE 0.0 END)
               AS accuracy
      FROM pred WHERE rn = 1 GROUP BY f),
    curve AS (
      SELECT acc.f, n_train, accuracy, 1 - accuracy AS err
      FROM acc JOIN ntrain USING (f)),
    fit AS (
      SELECT regr_slope(ln(err), ln(n_train)) AS b,
             regr_intercept(ln(err), ln(n_train)) AS a,
             max(n_train) AS nmax
      FROM curve WHERE err > 0)
    SELECT CAST(curve.f AS BIGINT) AS train_pct,
           CAST(n_train AS BIGINT) AS n_train,
           round(accuracy, 4) AS accuracy,
           round((SELECT b FROM fit), 4) AS scaling_exponent,
           round((SELECT exp(a + b * ln(2 * nmax)) FROM fit), 4)
             AS extrapolated_err_at_2x
    FROM curve ORDER BY curve.f
    """,
    tags=("ml", "training", "regression"),
)
def q_scaling_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-curve scaling law, measured and extrapolated: the
    nearest-centroid classifier trained on NESTED 20/40/60/80/100%
    hash subsets (nesting means every curve point shares one
    bucket-level pass — no per-fraction re-scan, the
    mixture_sampling nesting property doing real work), error
    fitted as a·n^(−b) in log-log, and the fitted law extrapolated
    to 2× the data — the is-more-data-worth-it question every
    labeling budget hinges on, at LLM scale the neural-scaling-law
    methodology itself. All five trainings are ONE conditional
    aggregate; evaluation scores every vector against all 50
    centroids in one join."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.col("v").cast("double").alias("v"),
        CUR.hash_bucket(F.col("vec_id"), 100).alias("bucket"),
    )
    fracs = local_df(spark, [(20,), (40,), (60,), (80,), (100,)], "f int")
    sub = dims.crossJoin(F.broadcast(fracs)).filter(
        F.col("bucket") < F.col("f")
    )
    cent = sub.groupBy("f", F.col("label").alias("c_label"), "pos").agg(
        F.avg("v").alias("cv")
    )
    cnorm = cent.groupBy("f", "c_label").agg(
        F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cn")
    )
    ntrain = (
        sub.filter(F.col("pos") == 1)
        .groupBy("f")
        .agg(F.count_distinct("vec_id").cast("double").alias("n_train"))
    )
    dots = (
        dims.join(cent, "pos")
        .groupBy("f", "vec_id", "c_label")
        .agg(
            F.first("label").alias("label"),
            F.sum(F.col("v") * F.col("cv")).alias("dot"),
        )
    )
    vnorm = dims.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn")
    )
    pred = (
        dots.join(vnorm, "vec_id")
        .join(cnorm, ["f", "c_label"])
        .select(
            "f",
            "vec_id",
            "label",
            "c_label",
            F.row_number()
            .over(
                Window.partitionBy("f", "vec_id").orderBy(
                    (F.col("dot") / (F.col("vn") * F.col("cn"))).desc(),
                    "c_label",
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    acc = pred.groupBy("f").agg(
        F.avg(
            F.when(F.col("label") == F.col("c_label"), 1.0).otherwise(0.0)
        ).alias("accuracy")
    )
    curve = acc.join(ntrain, "f").select(
        "f", "n_train", "accuracy", (1 - F.col("accuracy")).alias("err")
    )
    fit = curve.filter(F.col("err") > 0).agg(
        F.expr("regr_slope(ln(err), ln(n_train))").alias("b"),
        F.expr("regr_intercept(ln(err), ln(n_train))").alias("a"),
        F.max("n_train").alias("nmax"),
    )
    return (
        curve.crossJoin(F.broadcast(fit))
        .select(
            F.col("f").cast("bigint").alias("train_pct"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.round("accuracy", 4).alias("accuracy"),
            F.round("b", 4).alias("scaling_exponent"),
            F.round(
                F.exp(F.col("a") + F.col("b") * F.log(2 * F.col("nmax"))), 4
            ).alias("extrapolated_err_at_2x"),
        )
        .orderBy("train_pct")
    )


@register(
    "dedup_storage_savings",
    oracle="""
    WITH docs AS (
      SELECT doc_id, n_chars,
             md5(text) AS h_exact,
             md5(regexp_replace(lower(trim(text)), '[^a-z0-9]+', ' ', 'g'))
               AS h_norm
      FROM documents),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(n_chars) AS DOUBLE) AS bytes FROM docs),
    exact_kept AS (
      SELECT sum(keep_bytes) AS kb, CAST(count(*) AS BIGINT) AS kd
      FROM (SELECT min(n_chars) AS keep_bytes FROM docs GROUP BY h_exact)),
    norm_kept AS (
      SELECT sum(keep_bytes) AS kb, CAST(count(*) AS BIGINT) AS kd
      FROM (SELECT min(n_chars) AS keep_bytes FROM docs GROUP BY h_norm))
    SELECT 'raw' AS tier,
           CAST((SELECT n FROM tot) AS BIGINT) AS docs_kept,
           CAST((SELECT bytes FROM tot) AS BIGINT) AS bytes_kept,
           0.0 AS savings_pct
    UNION ALL
    SELECT 'exact_dedup', kd, CAST(kb AS BIGINT),
           round(100 * (1 - kb / (SELECT bytes FROM tot)), 3)
    FROM exact_kept
    UNION ALL
    SELECT 'normalized_dedup', kd, CAST(kb AS BIGINT),
           round(100 * (1 - kb / (SELECT bytes FROM tot)), 3)
    FROM norm_kept
    ORDER BY tier
    """,
    tags=("dedup", "curation", "agg"),
)
def q_dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup savings ladder — what each tier is WORTH before
    running it: raw corpus vs exact-hash dedup vs normalized-
    fingerprint dedup, in documents and bytes (keeping the smallest
    representative per group, the conservative bound), with
    cumulative savings percent — the capacity-planning view that
    decides whether the heavier near-dup tiers (MinHash/SimHash)
    are worth their candidate joins, since each tier's marginal
    gain shrinks (dedup_exact_stats counts groups; this prices
    them). Two hash-group aggregates over one scan."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "n_chars",
        F.md5("text").alias("h_exact"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9]+", " ")
        ).alias("h_norm"),
    )
    tot = docs.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("n_chars").cast("double").alias("bytes"),
    )

    def tier(name, key):
        kept = docs.groupBy(key).agg(F.min("n_chars").alias("kb"))
        return kept.agg(
            F.lit(name).alias("tier"),
            F.count("*").cast("bigint").alias("docs_kept"),
            F.sum("kb").cast("bigint").alias("bytes_kept"),
        )

    raw = tot.select(
        F.lit("raw").alias("tier"),
        F.col("n").cast("bigint").alias("docs_kept"),
        F.col("bytes").cast("bigint").alias("bytes_kept"),
    )
    ladder = raw.unionAll(tier("exact_dedup", "h_exact")).unionAll(
        tier("normalized_dedup", "h_norm")
    )
    return (
        ladder.crossJoin(F.broadcast(tot))
        .select(
            "tier",
            "docs_kept",
            "bytes_kept",
            F.when(F.col("tier") == "raw", 0.0)
            .otherwise(
                F.round(100 * (1 - F.col("bytes_kept") / F.col("bytes")), 3)
            )
            .alias("savings_pct"),
        )
        .orderBy("tier")
    )


@register(
    "volatility_drag",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    rets AS (
      SELECT v / lag(v) OVER (ORDER BY m) AS gross
      FROM monthly),
    r AS (SELECT gross - 1 AS ret, ln(gross) AS logret
          FROM rets WHERE gross IS NOT NULL AND gross > 0),
    mom AS (
      SELECT avg(ret) AS am, exp(avg(logret)) - 1 AS gm,
             var_samp(ret) AS s2, CAST(count(*) AS BIGINT) AS n
      FROM r)
    SELECT n AS n_months,
           round(100 * am, 4) AS arithmetic_mean_pct,
           round(100 * gm, 4) AS geometric_mean_pct,
           round(100 * (am - gm), 4) AS volatility_drag_pct,
           round(100 * s2 / 2, 4) AS half_variance_approx_pct
    FROM mom
    """,
    tags=("economics", "timeseries", "agg"),
)
def q_volatility_drag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility drag on monthly growth: the arithmetic mean
    return vs the geometric (compounded) mean, with the σ²/2
    approximation shown alongside — the identity behind 'average
    +10% and −10% months NET you −1%', why volatile revenue
    streams compound worse than their average suggests, and the
    finance version of the AM-GM inequality (the twin columns
    verifying drag ≈ σ²/2 are the built-in check). The geometric
    mean is the exp-avg-ln device over one lag window of growth
    factors."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(F.sum("o_totalprice").alias("v"))
    w = Window.orderBy("m")
    rets = monthly.select(
        (F.col("v") / F.lag("v").over(w)).alias("gross")
    ).filter(F.col("gross").isNotNull() & (F.col("gross") > 0))
    r = rets.select(
        (F.col("gross") - 1).alias("ret"), F.log("gross").alias("logret")
    )
    mom = r.agg(
        F.avg("ret").alias("am"),
        (F.exp(F.avg("logret")) - 1).alias("gm"),
        F.var_samp("ret").alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )
    return mom.select(
        F.col("n").alias("n_months"),
        F.round(100 * F.col("am"), 4).alias("arithmetic_mean_pct"),
        F.round(100 * F.col("gm"), 4).alias("geometric_mean_pct"),
        F.round(100 * (F.col("am") - F.col("gm")), 4).alias(
            "volatility_drag_pct"
        ),
        F.round(100 * F.col("s2") / 2, 4).alias("half_variance_approx_pct"),
    )


@register(
    "embedding_split_half_stability",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS v,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS half
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    cent AS (
      SELECT label, half, pos, avg(v) AS cv
      FROM dims GROUP BY 1, 2, 3),
    paired AS (
      SELECT a.label, a.pos, a.cv AS c0, b.cv AS c1
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1),
    per_label AS (
      SELECT label, corr(c0, c1) AS r,
             sum(c0 * c1) / (sqrt(sum(c0 * c0)) * sqrt(sum(c1 * c1)))
               AS cos_sim
      FROM paired GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label,
           round(r, 4) AS centroid_dim_corr,
           round(cos_sim, 4) AS centroid_cosine,
           round(2 * r / (1 + r), 4) AS spearman_brown
    FROM per_label ORDER BY label
    """,
    tags=("embeddings", "agreement", "audit"),
)
def q_embedding_split_half_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half stability of each label's centroid: hash the
    vectors into two halves, compute both halves' centroids, and
    report their per-dimension correlation, cosine, and the
    Spearman-Brown step-up — a label whose two half-centroids
    barely agree has a centroid that is sampling noise, and every
    downstream consumer (centroid_classify, brier_calibration,
    f1_micro_macro, scaling_law_fit) inherits that noise for that
    class. The text-profile reliability device
    (split_half_reliability) pointed at representation space; one
    grouped mean per (label, half, dim), one 64-row join per
    label."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.col("v").cast("double").alias("v"),
        CUR.hash_bucket(F.col("vec_id"), 2).alias("half"),
    )
    cent = dims.groupBy("label", "half", "pos").agg(F.avg("v").alias("cv"))
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("cv").alias("c0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("cv").alias("c1")
    )
    paired = a.join(b, ["label", "pos"])
    per_label = paired.groupBy("label").agg(
        F.corr("c0", "c1").alias("r"),
        (
            F.sum(F.col("c0") * F.col("c1"))
            / (
                F.sqrt(F.sum(F.col("c0") * F.col("c0")))
                * F.sqrt(F.sum(F.col("c1") * F.col("c1")))
            )
        ).alias("cos_sim"),
    )
    return per_label.select(
        F.col("label").cast("bigint").alias("label"),
        F.round("r", 4).alias("centroid_dim_corr"),
        F.round("cos_sim", 4).alias("centroid_cosine"),
        F.round(2 * F.col("r") / (1 + F.col("r")), 4).alias("spearman_brown"),
    ).orderBy("label")


@register(
    "neyman_vs_proportional",
    oracle="""
    WITH strata AS (
      SELECT c_nationkey AS s, CAST(count(*) AS DOUBLE) AS nh,
             stddev_samp(o_totalprice) AS sh
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    tot AS (SELECT sum(nh) AS n FROM strata),
    vars AS (
      SELECT sum((nh / n) * sh * sh) AS v_prop,
             pow(sum((nh / n) * sh), 2) AS v_neyman,
             CAST(count(*) AS BIGINT) AS n_strata
      FROM strata, tot GROUP BY n)
    SELECT n_strata,
           round(sqrt(v_prop), 2) AS se_factor_proportional,
           round(sqrt(v_neyman), 2) AS se_factor_neyman,
           round(1 - v_neyman / v_prop, 4) AS neyman_variance_saving
    FROM vars
    """,
    tags=("survey", "sampling", "stats"),
)
def q_neyman_vs_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What Neyman allocation is WORTH: the stratified-mean
    variance under proportional allocation (ΣWₕSₕ²) versus under
    Neyman's optimum ((ΣWₕSₕ)² — Cauchy-Schwarz makes it never
    larger), as a realized variance-saving fraction — the number
    that justifies the operational cost of unequal sampling rates
    (neyman_allocation computes the rates; this prices them, and
    the saving is exactly the variance OF the stratum SDs: equal
    spreads mean Neyman buys nothing). One grouped moment pass
    over the stratum relation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    strata = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("s"))
        .agg(
            F.count("*").cast("double").alias("nh"),
            F.stddev_samp("o_totalprice").alias("sh"),
        )
    )
    tot = strata.agg(F.sum("nh").alias("n"))
    w = F.col("nh") / F.col("n")
    vars_ = strata.crossJoin(F.broadcast(tot)).groupBy("n").agg(
        F.sum(w * F.col("sh") * F.col("sh")).alias("v_prop"),
        F.pow(F.sum(w * F.col("sh")), 2).alias("v_neyman"),
        F.count("*").cast("bigint").alias("n_strata"),
    )
    return vars_.select(
        "n_strata",
        F.round(F.sqrt("v_prop"), 2).alias("se_factor_proportional"),
        F.round(F.sqrt("v_neyman"), 2).alias("se_factor_neyman"),
        F.round(1 - F.col("v_neyman") / F.col("v_prop"), 4).alias(
            "neyman_variance_saving"
        ),
    )


@register(
    "between_estimator",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS g, CAST(cnt AS DOUBLE) AS x,
             o_totalprice AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN (SELECT l_orderkey, count(*) AS cnt
            FROM lineitem GROUP BY 1) li ON l_orderkey = o_orderkey),
    pooled AS (
      SELECT covar_samp(x, y) / var_samp(x) AS b_pooled FROM obs),
    gm AS (
      SELECT g, avg(x) AS mx, avg(y) AS my,
             CAST(count(*) AS DOUBLE) AS ng
      FROM obs GROUP BY g),
    between_b AS (
      SELECT covar_samp(mx, my) / var_samp(mx) AS b_between FROM gm),
    within_b AS (
      SELECT sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))
               AS b_within
      FROM obs JOIN gm USING (g))
    SELECT round((SELECT b_pooled FROM pooled), 4) AS beta_pooled,
           round((SELECT b_within FROM within_b), 4) AS beta_within,
           round((SELECT b_between FROM between_b), 4) AS beta_between,
           (SELECT b_pooled FROM pooled)
             BETWEEN least((SELECT b_within FROM within_b),
                           (SELECT b_between FROM between_b))
                 AND greatest((SELECT b_within FROM within_b),
                              (SELECT b_between FROM between_b))
             AS pooled_is_blend
    FROM pooled
    """,
    tags=("regression", "economics", "decomposition"),
)
def q_between_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The panel-data triptych completed: pooled, within
    (fixed_effects_within), and BETWEEN (regression on group
    means, unweighted) slopes for order value on basket size —
    pooled is a variance-weighted blend of the other two, so when
    within and between DISAGREE the pooled number answers neither
    question ('do bigger baskets cost more' within a nation vs 'do
    big-basket NATIONS spend more' are different causal claims;
    simpsons_paradox_screen detects the sign version of this
    divergence). The between fit runs on the 25-row group-means
    relation; the blend check is emitted as a boolean."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("cnt"))
    obs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(cnt, o["o_orderkey"] == cnt["l_orderkey"])
        .select(
            F.col("c_nationkey").alias("g"),
            F.col("cnt").cast("double").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    pooled = obs.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("b_pooled")
    )
    gm = obs.groupBy("g").agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))
    between_b = gm.agg(
        (F.covar_samp("mx", "my") / F.var_samp("mx")).alias("b_between")
    )
    within_b = obs.join(F.broadcast(gm), "g").agg(
        (
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            / F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx")))
        ).alias("b_within")
    )
    return (
        pooled.crossJoin(F.broadcast(within_b))
        .crossJoin(F.broadcast(between_b))
        .select(
            F.round("b_pooled", 4).alias("beta_pooled"),
            F.round("b_within", 4).alias("beta_within"),
            F.round("b_between", 4).alias("beta_between"),
            F.col("b_pooled")
            .between(
                F.least("b_within", "b_between"),
                F.greatest("b_within", "b_between"),
            )
            .alias("pooled_is_blend"),
        )
    )


@register(
    "fay_herriot_lite",
    oracle="""
    WITH site AS (
      SELECT c_nationkey, avg(o_totalprice) AS m,
             var_samp(o_totalprice) / count(*) AS v,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS ncust
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    fit AS (
      SELECT regr_slope(m, ln(ncust)) AS b,
             regr_intercept(m, ln(ncust)) AS a
      FROM site),
    resid AS (
      SELECT c_nationkey, m, v, ncust,
             m - a - b * ln(ncust) AS r
      FROM site, fit),
    tau AS (
      SELECT greatest(var_samp(r) - avg(v), 0) AS tau2 FROM resid),
    blended AS (
      SELECT c_nationkey, m,
             a + b * ln(ncust) AS synthetic,
             tau2 / (tau2 + v) AS w,
             (a + b * ln(ncust))
               + (tau2 / (tau2 + v)) * (m - a - b * ln(ncust)) AS fh
      FROM resid, tau, fit)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           round(m, 2) AS direct_estimate,
           round(synthetic, 2) AS model_estimate,
           round(w, 4) AS direct_weight,
           round(fh, 2) AS fay_herriot_estimate
    FROM blended ORDER BY abs(m - fh) DESC, c_nationkey LIMIT 5
    """,
    tags=("stats", "smoothing", "regression"),
)
def q_fay_herriot_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fay-Herriot small-area estimation: each nation's mean order
    value shrunk toward a MODEL prediction (regression on log
    customer count) instead of the grand mean — the census-bureau
    method for small domains, strictly better than plain partial
    pooling (partial_pooling_estimates) whenever a covariate
    explains between-area variation, because shrinkage then pulls
    toward each area's OWN predicted level rather than one global
    number. τ² is the model-residual variance net of sampling
    noise; the top-5 most-adjusted nations surface. One site
    aggregate, one 25-row regression, pure algebra after."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    site = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.avg("o_totalprice").alias("m"),
            (F.var_samp("o_totalprice") / F.count("*")).alias("v"),
            F.count_distinct("o_custkey").cast("double").alias("ncust"),
        )
    )
    fit = site.agg(
        F.expr("regr_slope(m, ln(ncust))").alias("b"),
        F.expr("regr_intercept(m, ln(ncust))").alias("a"),
    )
    resid = site.crossJoin(F.broadcast(fit)).select(
        "*",
        (F.col("m") - F.col("a") - F.col("b") * F.log("ncust")).alias("r"),
    )
    tau = resid.agg(
        F.greatest(F.var_samp("r") - F.avg("v"), F.lit(0.0)).alias("tau2")
    )
    synth = F.col("a") + F.col("b") * F.log("ncust")
    w = F.col("tau2") / (F.col("tau2") + F.col("v"))
    blended = resid.crossJoin(F.broadcast(tau)).select(
        "c_nationkey",
        "m",
        synth.alias("synthetic"),
        w.alias("w"),
        (synth + w * (F.col("m") - synth)).alias("fh"),
    )
    return (
        blended.orderBy(F.abs(F.col("m") - F.col("fh")).desc(), "c_nationkey")
        .limit(5)
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.round("m", 2).alias("direct_estimate"),
            F.round("synthetic", 2).alias("model_estimate"),
            F.round("w", 4).alias("direct_weight"),
            F.round("fh", 2).alias("fay_herriot_estimate"),
        )
    )


@register(
    "order_total_consistency",
    oracle="""
    WITH derived AS (
      SELECT l_orderkey,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS calc
      FROM lineitem GROUP BY 1),
    compared AS (
      SELECT o_totalprice, calc,
             abs(o_totalprice - calc) / o_totalprice AS rel_gap
      FROM orders JOIN derived ON o_orderkey = l_orderkey)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(calc / o_totalprice), 5) AS mean_derived_over_header,
           round(CAST(quantile_cont(rel_gap, 0.5) AS DOUBLE), 5)
             AS median_rel_gap,
           CAST(sum(CASE WHEN rel_gap > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS orders_off_by_1pct,
           round(avg(CASE WHEN rel_gap > 0.01 THEN 1.0 ELSE 0.0 END), 4)
             AS inconsistency_rate
    FROM compared
    """,
    tags=("quality", "audit", "join"),
)
def q_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table arithmetic consistency: the order header's total
    against the amount DERIVED from its line items
    (Σ price·(1−disc)·(1+tax)) — the reconciliation every
    warehouse should run between a rollup column and its
    source-of-truth detail, because a drifting ratio means the
    header was computed under different business rules (tax
    regimes, rounding, partial shipments) than the analyst
    assumes. Reports the ratio's center, the median relative gap,
    and the >1% violation rate — classifying the mismatch as
    systematic (ratio≠1, rule difference) vs sporadic (violations,
    data damage). One aggregate per side, one PK join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    derived = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("calc")
    )
    compared = o.join(derived, o["o_orderkey"] == derived["l_orderkey"]).select(
        "o_totalprice",
        "calc",
        (
            F.abs(F.col("o_totalprice") - F.col("calc")) / F.col("o_totalprice")
        ).alias("rel_gap"),
    )
    return compared.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(F.avg(F.col("calc") / F.col("o_totalprice")), 5).alias(
            "mean_derived_over_header"
        ),
        F.round(F.expr("percentile(rel_gap, 0.5)"), 5).alias("median_rel_gap"),
        F.sum(F.when(F.col("rel_gap") > 0.01, 1).otherwise(0))
        .cast("bigint")
        .alias("orders_off_by_1pct"),
        F.round(
            F.avg(F.when(F.col("rel_gap") > 0.01, 1.0).otherwise(0.0)), 4
        ).alias("inconsistency_rate"),
    )


@register(
    "heteroscedasticity_screen",
    oracle="""
    WITH grp AS (
      SELECT c_nationkey,
             var_samp(o_totalprice) AS v,
             CAST(quantile_cont(o_totalprice, 0.75)
                  - quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS iqr,
             CAST(count(*) AS BIGINT) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 HAVING count(*) >= 30)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           round(max(v) / min(v), 4) AS hartley_fmax,
           round(max(iqr) / min(iqr), 4) AS iqr_ratio,
           max(v) / min(v) > 3 AS heteroscedastic_flag
    FROM grp
    """,
    tags=("stats", "diagnostics", "agg"),
)
def q_heteroscedasticity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heteroscedasticity screen across nations: Hartley's Fmax
    (largest over smallest group variance) with the robust IQR-
    ratio twin — the assumption check that gates every pooled-
    variance procedure in this catalog (tukey_hsd_years' common
    MSE, the classic ANOVA F) and decides between pooled and Welch
    machinery; the IQR version stays meaningful when outliers
    inflate a single group's variance (the exact failure Fmax is
    notorious for). One grouped moment-and-quantile pass with a
    min-n floor."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    grp = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.var_samp("o_totalprice").alias("v"),
            (
                F.expr("percentile(o_totalprice, 0.75)")
                - F.expr("percentile(o_totalprice, 0.25)")
            ).alias("iqr"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 30)
    )
    return grp.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.round(F.max("v") / F.min("v"), 4).alias("hartley_fmax"),
        F.round(F.max("iqr") / F.min("iqr"), 4).alias("iqr_ratio"),
        (F.max("v") / F.min("v") > 3).alias("heteroscedastic_flag"),
    )


@register(
    "zipf_abbreviation_law",
    oracle="""
    WITH ws AS (
      SELECT w FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
        FROM documents)
      WHERE length(w) >= 1),
    freq AS (
      SELECT w, length(w) AS len, CAST(count(*) AS DOUBLE) AS c
      FROM ws GROUP BY w),
    fit AS (
      SELECT corr(ln(c), CAST(len AS DOUBLE)) AS r,
             regr_slope(CAST(len AS DOUBLE), ln(c)) AS slope,
             CAST(count(*) AS BIGINT) AS vocab
      FROM freq)
    SELECT vocab,
           round(r, 4) AS freq_length_corr,
           round(slope, 4) AS chars_per_ln_freq,
           r < 0 AS abbreviation_law_holds
    FROM fit
    """,
    tags=("text", "corpus", "stats"),
)
def q_zipf_abbreviation_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's law of abbreviation: frequent words are SHORT —
    corr(ln frequency, length) over the vocabulary, one of the few
    replicated universals across every natural language (the
    compression-under-use pressure that also shapes BPE merges:
    bpe_pair_counts merges exactly the high-frequency sequences
    this law predicts are short already). A corpus that VIOLATES it
    is a strong synthetic/template tell — making this one-aggregate
    correlation a cheap naturalness check next to the quality
    scores. The slope prices it: characters saved per e-fold of
    frequency."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    freq = ws.groupBy("w").agg(F.count("*").cast("double").alias("c")).select(
        F.length("w").cast("double").alias("len"), "c"
    )
    fit = freq.agg(
        F.corr(F.log("c"), F.col("len")).alias("r"),
        F.expr("regr_slope(len, ln(c))").alias("slope"),
        F.count("*").cast("bigint").alias("vocab"),
    )
    return fit.select(
        "vocab",
        F.round("r", 4).alias("freq_length_corr"),
        F.round("slope", 4).alias("chars_per_ln_freq"),
        (F.col("r") < 0).alias("abbreviation_law_holds"),
    )


@register(
    "image_phash_neardup",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 16)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM ids a JOIN ids b
      ON a.doc_id < b.doc_id
     AND a.doc_id % 4 = b.doc_id % 4
    ORDER BY id_a, id_b
    """,
    tags=("multimodal", "dedup", "imagehash"),
)
def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup under the driver gate
    (operators/imagehash.py): 16 deterministic images — four
    structurally distinct bases keyed by doc_id % 4, each with three
    perturbed variants (seeded pixel noise, baseline-JPEG q70
    recompression through operators/jpeg.py, +15 brightness) — are
    pHashed in an Arrow kernel, then paired by the banded Hamming
    join (bands=16, threshold 15; recall exact for distance < 16 by
    pigeonhole). The oracle predicts the ENTIRE pair set from
    doc_id % 4 alone, so decoder, DCT, median threshold, banding, and
    popcount all have to be right for the hash to match — measured
    margins: in-group ≤ 14, cross-group ≥ 24."""
    import numpy as np

    from ...operators.arrow_kernels import map_rows
    from ...operators.imagehash import HASH_SCHEMA, compute_hashes, phash_neardup_pairs
    from ...operators.jpeg import decode_jpeg, encode_jpeg

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 16).select("doc_id")

    def kernel(row):
        doc_id = int(row.doc_id)
        g, v = doc_id % 4, doc_id // 4
        jj, ii = np.meshgrid(np.arange(80), np.arange(60))
        base = np.clip(
            np.sin(ii / (3.0 + 2.0 * g) + 0.7 * g) * 100
            + np.cos(jj / (4.0 + 3.0 * g)) * 80
            + 128,
            0,
            255,
        ).astype(np.uint8)
        img = base
        if v == 1:
            rng = np.random.default_rng(100 + g)
            noisy = base.astype(int)
            idx = rng.integers(0, base.size, 150)
            noisy.ravel()[idx] += rng.integers(-25, 25, 150)
            img = np.clip(noisy, 0, 255).astype(np.uint8)
        elif v == 2:
            img = decode_jpeg(encode_jpeg(base, quality=70))[:, :, 0]
        elif v == 3:
            img = np.clip(base.astype(int) + 15, 0, 255).astype(np.uint8)
        yield doc_id, *compute_hashes(img)

    hashes = map_rows(d, kernel, HASH_SCHEMA)
    return (
        phash_neardup_pairs(hashes, max_distance=15, bands=16)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "audio_spectral_tones",
    oracle="""
    SELECT doc_id,
           CAST(8 * (doc_id % 6 + 1) AS INT) AS dominant_bin,
           round(62.5 * (doc_id % 6 + 1), 4) + 0.0 AS dominant_hz,
           CAST(7 AS INT) AS n_frames,
           true AS is_tone
    FROM documents WHERE doc_id < 12 ORDER BY doc_id
    """,
    tags=("multimodal", "audio", "fft"),
)
def q_audio_spectral_tones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT spectral features under the driver gate
    (operators/multimodal.py::audio_spectral_features): per document a
    leakage-free pure tone at bin 8·(doc_id%6+1) of a 2048-sample
    frame at 16 kHz (integer periods per frame, so the rfft
    concentrates ALL energy in one bin). The oracle predicts the
    dominant bin, its exact Hz (bin · 16000/2048 = bin · 7.8125),
    frame count (1 s → 7 full frames), and the tonality verdict
    (spectral flatness < 0.01) from doc_id alone — windowing, rfft
    indexing, and the flatness statistic must all be right."""
    import numpy as np
    from pyspark.sql import types as T

    from ...operators.arrow_kernels import map_rows

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 12).select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id bigint, dominant_bin int, dominant_hz double, n_frames int, is_tone boolean"
    )

    def kernel(row):
        doc_id = int(row.doc_id)
        sr, frame = 16000, 2048
        k = 8 * (doc_id % 6 + 1)
        f = k * sr / frame
        t = np.arange(sr)
        x = (8000 * np.sin(2 * np.pi * f * t / sr)).astype(np.float64)
        nf = sr // frame
        fr = x[: nf * frame].reshape(nf, frame)
        spec = np.abs(np.fft.rfft(fr, axis=1)) ** 2
        p = spec.mean(axis=0)
        p[0] = 0.0
        freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
        dom = int(np.argmax(p))
        nz = p[1:][p[1:] > 0]
        flat = float(np.exp(np.log(nz).mean()) / nz.mean()) if len(nz) else 1.0
        yield doc_id, dom, round(float(freqs[dom]), 4) + 0.0, nf, flat < 0.01

    return map_rows(d, kernel, schema).orderBy("doc_id")


@register(
    "video_motion_cuts",
    oracle="""
    SELECT doc_id,
           CAST(9 AS INT) AS n_frames,
           CAST(doc_id % 3 AS INT) AS n_cuts,
           round(160.0 * (doc_id % 3) / 8, 4) + 0.0 AS mean_motion,
           round(CASE WHEN doc_id % 3 > 0 THEN 160.0 ELSE 0.0 END, 4) + 0.0
             AS max_motion
    FROM documents WHERE doc_id < 12 ORDER BY doc_id
    """,
    tags=("multimodal", "video", "motion"),
)
def q_video_motion_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection under the driver gate
    (operators/multimodal.py::video_motion_features): 9-frame videos
    with doc_id % 3 hard cuts (static segments alternating intensity
    40 ↔ 200, |Δ| = 160 at each boundary, 0 elsewhere). The oracle
    predicts cut count and the exact motion statistics from doc_id —
    frame differencing, the per-transition mean, and the threshold all
    value-checked."""
    import numpy as np
    from pyspark.sql import types as T

    from ...operators.arrow_kernels import map_rows

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 12).select("doc_id")
    schema = T.StructType.fromDDL(
        "doc_id bigint, n_frames int, n_cuts int, mean_motion double, max_motion double"
    )

    def kernel(row):
        doc_id = int(row.doc_id)
        cuts = doc_id % 3
        nf, h, w, c = 9, 12, 16, 3
        # segment boundaries after frames 3 and 6 (as many as `cuts`),
        # values alternate 40/200
        vals = []
        seg = 0
        for i in range(nf):
            if cuts >= 1 and i == 3:
                seg += 1
            if cuts >= 2 and i == 6:
                seg += 1
            vals.append(40 if seg % 2 == 0 else 200)
        vid = np.stack([np.full((h, w, c), v, np.float64) for v in vals])
        deltas = np.abs(np.diff(vid, axis=0)).mean(axis=(1, 2, 3))
        yield (
            doc_id, nf, int((deltas > 48.0).sum()),
            round(float(deltas.mean()), 4) + 0.0, round(float(deltas.max()), 4) + 0.0,
        )

    return map_rows(d, kernel, schema).orderBy("doc_id")


def _pq_chain(m: int = 4, k: int = 8, iterations: int = 2, sub: int = 16) -> str:
    """Product-quantization training replayed relationally: the
    _kmeans_chain trajectory (first-k init, (dist, cid) tie-break,
    per-iteration round-6 centroids) unrolled independently PER
    SUBSPACE over dim-sliced points. Ends with `cb` — the fitted
    codebook relation (s, cid, idx, val) — and `spts` (vec_id, s,
    idx, val)."""
    chains = []
    for s in range(m):
        prev = f"s{s}c0"
        steps = [
            f"""s{s}c0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             idx, val
      FROM spts
      WHERE s = {s} AND vec_id IN
            (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}))"""
        ]
        for i in range(1, iterations + 1):
            steps.append(
                f"""s{s}a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     sum((p.val - c.val) * (p.val - c.val)) AS dist
              FROM spts p JOIN {prev} c ON c.idx = p.idx
              WHERE p.s = {s}
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1),
    s{s}c{i} AS (
      SELECT a.cid, p.idx, round(avg(p.val), 6) AS val
      FROM spts p JOIN s{s}a{i} a ON a.vec_id = p.vec_id
      WHERE p.s = {s}
      GROUP BY a.cid, p.idx)"""
            )
            prev = f"s{s}c{i}"
        chains.append(",\n    ".join(steps))
    all_chains = ",\n    ".join(chains)
    cb_union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, idx, val FROM s{s}c{iterations}" for s in range(m)
    )
    return f"""spts AS (
      SELECT vec_id,
             CAST((t.i - 1) // {sub} AS INT) AS s,
             CAST((t.i - 1) % {sub} + 1 AS INT) AS idx,
             CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range(1, {m * sub + 1}) AS t(i)),
    {all_chains},
    cb AS (
      {cb_union})"""


def _pq_adc_oracle(m: int = 4, k: int = 8, iterations: int = 2, topk: int = 5) -> str:
    prefix = _pq_chain(m, k, iterations)
    return f"""
    WITH {prefix},
    cdist AS (
      SELECT p.vec_id, c.s, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM spts p JOIN cb c ON c.s = p.s AND c.idx = p.idx
      GROUP BY p.vec_id, c.s, c.cid),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM cdist WHERE vec_id >= 5) WHERE rk = 1),
    qtab AS (
      SELECT vec_id AS query_id, s, cid, d2 FROM cdist WHERE vec_id < 5),
    adc AS (
      SELECT q.query_id, x.vec_id, round(sum(q.d2), 6) AS adc_dist
      FROM codes x
      JOIN qtab q ON q.s = x.s AND q.cid = x.cid
      GROUP BY q.query_id, x.vec_id)
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc_dist FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
      FROM adc) WHERE rank <= {topk}
    """


@register(
    "pq_adc_topk",
    oracle=_pq_adc_oracle(4, 8, 2, 5),
    tags=("similarity", "quantization", "clustering", "iterative"),
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (Jégou et al., TPAMI 2011 —
    similarity.pq_train/pq_encode/pq_topk_adc): 64 dims split into 4
    subspaces, an 8-centroid Lloyd codebook trained per subspace (the
    catalog's deterministic trajectory), corpus vectors compressed to
    4 code bytes, queries served by asymmetric-distance table lookups
    — the memory/bandwidth lever a 100 TB vector store pulls before
    anything else (64× smaller scan at m=4, k=256). The oracle
    replays training (4 unrolled per-subspace Lloyd chains), encoding
    (argmin with the same tie-break), and ADC ranking relationally,
    so the whole train→compress→serve path is value-checked
    cross-engine."""
    from ...operators.similarity import pq_encode, pq_topk_adc
    from ._cache import pq_codebooks_shared

    e = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks_shared(spark, sf_dir, m=4, k=8, iterations=2)
    codes = pq_encode(e.filter(F.col("vec_id") >= 5), books)
    return pq_topk_adc(codes, e.filter(F.col("vec_id") < 5), books, k=5)


def _pq_recall_oracle(m: int = 4, k: int = 8, iterations: int = 2, topk: int = 5) -> str:
    prefix = _pq_chain(m, k, iterations)
    return f"""
    WITH {prefix},
    cdist AS (
      SELECT p.vec_id, c.s, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM spts p JOIN cb c ON c.s = p.s AND c.idx = p.idx
      GROUP BY p.vec_id, c.s, c.cid),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM cdist WHERE vec_id >= 5) WHERE rk = 1),
    qtab AS (
      SELECT vec_id AS query_id, s, cid, d2 FROM cdist WHERE vec_id < 5),
    adc AS (
      SELECT q.query_id, x.vec_id, round(sum(q.d2), 6) AS adc_dist
      FROM codes x
      JOIN qtab q ON q.s = x.s AND q.cid = x.cid
      GROUP BY q.query_id, x.vec_id),
    ptop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
        FROM adc) WHERE rank <= {topk}),
    ed AS (
      SELECT q.vec_id AS query_id, x.vec_id,
             sum((q.val - x.val) * (q.val - x.val)) AS d2
      FROM (SELECT vec_id, s * 16 + idx AS gi, val FROM spts WHERE vec_id < 5) q
      JOIN (SELECT vec_id, s * 16 + idx AS gi, val FROM spts WHERE vec_id >= 5) x
        ON x.gi = q.gi
      GROUP BY q.vec_id, x.vec_id),
    etop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY d2, vec_id) AS rank
        FROM ed) WHERE rank <= {topk})
    SELECT e.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS n_overlap,
           round(count(p.vec_id) / {topk}.0, 2) AS recall_at_{topk}
    FROM etop e
    LEFT JOIN ptop p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    """


@register(
    "pq_recall_l2",
    oracle=_pq_recall_oracle(4, 8, 2, 5),
    tags=("similarity", "quantization", "eval"),
)
def q_pq_recall_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index-quality audit: recall@5 of the ADC ranking against
    the exact L2 top-5 per query — the compression/accuracy dial
    (m, k) gets tuned on before a vector store commits to 64×-smaller
    scans. Both rankings replay relationally in the oracle (4
    per-subspace Lloyd chains feed ADC; the exact side is the plain
    dim-join distance), so the recall number itself is value-checked.
    The exact side runs native aggregate/zip_with (materialized once
    per session via _cache.exact_l2_topk_shared — the L2 recall family
    shares it); PQ reuses the trained codebooks from the shared
    trajectory."""
    from ...operators.similarity import pq_encode, pq_topk_adc
    from ._cache import exact_l2_topk_shared, pq_codebooks_shared

    e = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks_shared(spark, sf_dir, m=4, k=8, iterations=2)
    corpus = e.filter(F.col("vec_id") >= 5)
    queries = e.filter(F.col("vec_id") < 5)
    codes = pq_encode(corpus, books)
    ptop = pq_topk_adc(codes, queries, books, k=5).select(
        "query_id", F.col("vec_id").alias("p_vec")
    )
    etop = exact_l2_topk_shared(spark, sf_dir, k=5, split=5)
    j = etop.join(
        ptop,
        (ptop.query_id == etop.query_id) & (ptop.p_vec == etop.vec_id),
        "left",
    ).select(etop.query_id, "p_vec")
    return j.groupBy("query_id").agg(
        F.count("p_vec").cast("bigint").alias("n_overlap"),
        F.round(F.count("p_vec") / 5.0, 2).alias("recall_at_5"),
    )


def _ivfpq_oracle(
    kc: int = 4, ic: int = 3, m: int = 4, kp: int = 8, ip: int = 2,
    nprobe: int = 2, topk: int = 5,
) -> str:
    coarse = _kmeans_chain(kc, ic)  # defines pts, c{ic}
    pq = _pq_chain(m, kp, ip)  # defines spts, cb
    return f"""
    WITH {coarse},
    {pq},
    idist AS (
      SELECT p.vec_id, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pts p JOIN c{ic} c ON c.idx = p.idx
      GROUP BY p.vec_id, c.cid),
    asg AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM idist),
    lists AS (SELECT vec_id, cid FROM asg WHERE rn = 1 AND vec_id >= 5),
    probes AS (SELECT vec_id AS query_id, cid FROM asg
               WHERE rn <= {nprobe} AND vec_id < 5),
    cdist AS (
      SELECT p.vec_id, c.s, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM spts p JOIN cb c ON c.s = p.s AND c.idx = p.idx
      GROUP BY p.vec_id, c.s, c.cid),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM cdist WHERE vec_id >= 5) WHERE rk = 1),
    qtab AS (
      SELECT vec_id AS query_id, s, cid, d2 FROM cdist WHERE vec_id < 5),
    cand AS (
      SELECT pr.query_id, l.vec_id
      FROM probes pr JOIN lists l ON l.cid = pr.cid),
    adc AS (
      SELECT n.query_id, n.vec_id, round(sum(q.d2), 6) AS adc_dist
      FROM cand n
      JOIN codes x ON x.vec_id = n.vec_id
      JOIN qtab q ON q.query_id = n.query_id AND q.s = x.s AND q.cid = x.cid
      GROUP BY n.query_id, n.vec_id)
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc_dist FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
      FROM adc) WHERE rank <= {topk}
    """


@register(
    "ivfpq_adc_topk",
    oracle=_ivfpq_oracle(4, 3, 4, 8, 2, 2, 5),
    tags=("similarity", "quantization", "clustering", "iterative"),
)
def q_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-standard serving composition
    (similarity.ivfpq_topk): trained coarse cells (the shared k-means
    trajectory, k=4) bound the FRACTION of the corpus a query touches
    (nprobe=2), PQ codes (m=4, k=8) bound the BYTES per touched row —
    multiplicative levers at 100 TB. The oracle chains BOTH trainings
    (the coarse Lloyd unroll and four per-subspace unrolls), the
    inverted-list assignment, probe selection, and list-restricted
    ADC ranking — the deepest composed trajectory in the catalog,
    value-checked end to end."""
    from ...operators.similarity import ivfpq_topk
    from ._cache import kmeans_centroids_shared, pq_codebooks_shared

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_shared(spark, sf_dir, k=4, iterations=3)
    cdf = local_df(spark, [(cid, vec) for cid, vec in cents], "vec_id int, embedding array<double>")
    books = pq_codebooks_shared(spark, sf_dir, m=4, k=8, iterations=2)
    return ivfpq_topk(
        e.filter(F.col("vec_id") >= 5),
        e.filter(F.col("vec_id") < 5),
        cdf,
        books,
        k=5,
        nprobe=2,
    )


def _residual_pq_chain(m: int, kp: int, ip: int, sub: int = 16) -> str:
    """The _pq_chain trajectory re-rooted at RESIDUAL subspace points
    (`rpts` — corpus vectors minus their assigned coarse centroid,
    which the surrounding oracle must define). Init = first-kp CORPUS
    vec_ids, mirroring pq_train over the residual table. Ends with
    `rcb` (s, cid, idx, val)."""
    chains = []
    for s in range(m):
        prev = f"r{s}c0"
        steps = [
            f"""r{s}c0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             idx, val
      FROM rpts
      WHERE s = {s} AND vec_id IN
            (SELECT vec_id FROM embeddings WHERE vec_id >= 5
             ORDER BY vec_id LIMIT {kp}))"""
        ]
        for i in range(1, ip + 1):
            steps.append(
                f"""r{s}a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     sum((p.val - c.val) * (p.val - c.val)) AS dist
              FROM rpts p JOIN {prev} c ON c.idx = p.idx
              WHERE p.s = {s}
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1),
    r{s}c{i} AS (
      SELECT a.cid, p.idx, round(avg(p.val), 6) AS val
      FROM rpts p JOIN r{s}a{i} a ON a.vec_id = p.vec_id
      WHERE p.s = {s}
      GROUP BY a.cid, p.idx)"""
            )
            prev = f"r{s}c{i}"
        chains.append(",\n    ".join(steps))
    all_chains = ",\n    ".join(chains)
    cb_union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, cid, idx, val FROM r{s}c{ip}" for s in range(m)
    )
    return f"""{all_chains},
    rcb AS (
      {cb_union})"""


def _ivfpq_residual_oracle(
    kc: int = 4, ic: int = 3, m: int = 4, kp: int = 8, ip: int = 2,
    nprobe: int = 2, topk: int = 5, sub: int = 16,
) -> str:
    """Residual IVF-PQ recall replayed end to end: coarse Lloyd unroll
    → cell assignment → RESIDUAL points → m per-subspace Lloyd unrolls
    on residuals → residual codes → per-(query, probed-cell) residual
    ADC tables → list-restricted ranking → recall vs the exact L2
    top-k. The deepest composed trajectory in the catalog."""
    coarse = _kmeans_chain(kc, ic)  # defines pts, c{ic}
    pq = _residual_pq_chain(m, kp, ip, sub)  # defines rcb (needs rpts)
    return f"""
    WITH {coarse},
    idist AS (
      SELECT p.vec_id, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pts p JOIN c{ic} c ON c.idx = p.idx
      GROUP BY p.vec_id, c.cid),
    asg AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM idist),
    lists AS (SELECT vec_id, cid FROM asg WHERE rn = 1 AND vec_id >= 5),
    probes AS (SELECT vec_id AS query_id, cid FROM asg
               WHERE rn <= {nprobe} AND vec_id < 5),
    rpts AS (
      SELECT p.vec_id,
             CAST((p.idx - 1) // {sub} AS INT) AS s,
             CAST((p.idx - 1) % {sub} + 1 AS INT) AS idx,
             p.val - c.val AS val
      FROM pts p
      JOIN lists l ON l.vec_id = p.vec_id
      JOIN c{ic} c ON c.cid = l.cid AND c.idx = p.idx),
    {pq},
    rcdist AS (
      SELECT p.vec_id, b.s, b.cid,
             sum((p.val - b.val) * (p.val - b.val)) AS d2
      FROM rpts p JOIN rcb b ON b.s = p.s AND b.idx = p.idx
      GROUP BY p.vec_id, b.s, b.cid),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM rcdist) WHERE rk = 1),
    qres AS (
      SELECT pr.query_id, pr.cid AS ccell,
             CAST((p.idx - 1) // {sub} AS INT) AS s,
             CAST((p.idx - 1) % {sub} + 1 AS INT) AS idx,
             p.val - c.val AS val
      FROM pts p
      JOIN probes pr ON pr.query_id = p.vec_id
      JOIN c{ic} c ON c.cid = pr.cid AND c.idx = p.idx),
    qtab AS (
      SELECT q.query_id, q.ccell, b.s, b.cid,
             sum((q.val - b.val) * (q.val - b.val)) AS d2
      FROM qres q JOIN rcb b ON b.s = q.s AND b.idx = q.idx
      GROUP BY q.query_id, q.ccell, b.s, b.cid),
    adc AS (
      SELECT t.query_id, l.vec_id, round(sum(t.d2), 6) AS adc_dist
      FROM lists l
      JOIN codes x ON x.vec_id = l.vec_id
      JOIN qtab t ON t.ccell = l.cid AND t.s = x.s AND t.cid = x.cid
      GROUP BY t.query_id, l.vec_id),
    ptop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
        FROM adc) WHERE rank <= {topk}),
    ed AS (
      SELECT q.vec_id AS query_id, x.vec_id,
             sum((q.val - x.val) * (q.val - x.val)) AS d2
      FROM pts q JOIN pts x ON x.idx = q.idx
      WHERE q.vec_id < 5 AND x.vec_id >= 5
      GROUP BY q.vec_id, x.vec_id),
    etop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY d2, vec_id) AS rank
        FROM ed) WHERE rank <= {topk})
    SELECT e.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS n_overlap,
           round(count(p.vec_id) / {topk}.0, 2) AS recall_at_{topk}
    FROM etop e
    LEFT JOIN ptop p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    """


@register(
    "ivfpq_residual_recall",
    oracle=_ivfpq_residual_oracle(4, 3, 4, 8, 2, 2, 5),
    tags=("similarity", "quantization", "clustering", "iterative", "eval"),
)
def q_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (the actual FAISS IVFADC —
    similarity.ivfpq_residual_topk): PQ codebooks are trained on and
    codes store RESIDUALS (vector − coarse centroid), and a query's
    ADC tables are rebuilt per probed cell from its residual w.r.t.
    that cell — so ADC(q,x) ≈ ||q − (centroid + r̂ₓ)||², the distance
    to the RECONSTRUCTED vector. Residual encoding is what makes PQ
    accurate at scale when data is clustered (residuals concentrate
    near 0, so k codewords cover a tighter ball); on this isotropic
    synthetic corpus the quantization-MSE gain is real but small
    (~3%, asserted in tests/test_operators.py), so the audited
    recall@5 is reported vs the exact L2 top-5 rather than vs the raw
    variant. The oracle unrolls the full composition — coarse Lloyd,
    cell assignment, residualization, 4 residual Lloyd chains, codes,
    per-(query,cell) tables, list-restricted ADC ranking, recall —
    the deepest value-checked trajectory in the catalog."""
    from ...operators.similarity import ivfpq_residual_topk
    from ._cache import exact_l2_topk_shared, kmeans_centroids_shared

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_shared(spark, sf_dir, k=4, iterations=3)
    cdf = local_df(spark, [(cid, vec) for cid, vec in cents], "vec_id int, embedding array<double>")
    ptop = ivfpq_residual_topk(
        e.filter(F.col("vec_id") >= 5),
        e.filter(F.col("vec_id") < 5),
        cdf,
        m=4, k_codes=8, iterations=2, k=5, nprobe=2,
    ).select("query_id", F.col("vec_id").alias("p_vec"))
    etop = exact_l2_topk_shared(spark, sf_dir, k=5, split=5)
    j = etop.join(
        ptop,
        (ptop.query_id == etop.query_id) & (ptop.p_vec == etop.vec_id),
        "left",
    ).select(etop.query_id, "p_vec")
    return j.groupBy("query_id").agg(
        F.count("p_vec").cast("bigint").alias("n_overlap"),
        F.round(F.count("p_vec") / 5.0, 2).alias("recall_at_5"),
    )


def _bpe_oracle(n_merges: int = 4) -> str:
    """BPE training unrolled: word-frequency table once, then per
    merge a lateral pair count → greedy argmax (count desc, pair asc)
    → simultaneous left-to-right replacement on marker-delimited
    symbol strings ('<h><e><l><l><o>' — markers make multi-char
    symbol boundaries unambiguous and make plain replace() implement
    the BPE merge exactly)."""
    steps = []
    for i in range(1, n_merges + 1):
        steps.append(
            f"""p{i} AS (
      SELECT s[CAST(t.j AS INT)] || ' ' || s[CAST(t.j + 1 AS INT)] AS pair,
             CAST(sum(c) AS BIGINT) AS n
      FROM (SELECT regexp_split_to_array(trim(w, '<>'), '><') AS s, c
            FROM w{i - 1}),
           unnest(generate_series(1, greatest(len(s) - 1, 0))) AS t(j)
      GROUP BY 1),
    m{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1),
    w{i} AS (
      SELECT replace(w,
               '<' || split_part(pair, ' ', 1) || '><'
                   || split_part(pair, ' ', 2) || '>',
               '<' || replace(pair, ' ', '') || '>') AS w, c
      FROM w{i - 1} CROSS JOIN m{i}),
    k{i} AS (
      SELECT {i} AS it, pair AS merged_pair, n AS pair_count,
             (SELECT CAST(sum(c * len(regexp_split_to_array(
                     trim(w, '<>'), '><'))) AS BIGINT)
              FROM w{i}) AS tokens_after
      FROM m{i})"""
        )
    chain = ",\n    ".join(steps)
    ks = "\n    UNION ALL ".join(f"SELECT * FROM k{i}" for i in range(1, n_merges + 1))
    return f"""
    WITH words AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
        FROM documents)
      WHERE length(token) >= 2 GROUP BY token),
    w0 AS (
      SELECT regexp_replace(token, '(.)', '<\\1>', 'g') AS w, c FROM words),
    {chain}
    SELECT it, merged_pair, pair_count, tokens_after FROM ({ks})
    ORDER BY it
    """


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(4),
    tags=("text", "training", "iterative"),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the actual greedy merge loop, not just
    one pair count (bpe_pair_counts is the inner statistic): word
    frequencies once, then 4 rounds of count-pairs → merge the
    (count desc, pair asc) argmax across the whole corpus
    simultaneously. Symbols live as marker-delimited strings
    ('<h><e><l><l><o>') so plain string replacement IS the BPE merge
    even for multi-char symbols, identically in both engines. Output
    is the training trajectory: each round's merged pair, its corpus
    frequency, and the corpus token count after the merge (strictly
    decreasing by pair_count — the compression BPE buys). Scale
    shape: the loop state is the word-frequency table (vocab-sized,
    not corpus-sized — the classic trick), each round one explode +
    one agg + a 1-row argmax collect."""
    from ...operators.iterate import materialize

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"))
        .filter(F.length("token") >= 2)
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    w = materialize(
        words.select(
            F.regexp_replace("token", "(.)", "<$1>").alias("w"), "c"
        )
    )
    out_rows = []
    for it in range(1, 5):
        s = F.split(F.expr("trim(BOTH '<>' FROM w)"), "><")
        pairs = (
            w.select(s.alias("s"), "c")
            .select(
                F.explode(
                    F.transform(
                        seq1(F.size("s") - 1),
                        lambda j: F.concat(
                            F.element_at("s", j), F.lit(" "), F.element_at("s", j + 1)
                        ),
                    )
                ).alias("pair"),
                "c",
            )
            .groupBy("pair")
            .agg(F.sum("c").cast("bigint").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), F.asc("pair")).first()
        a, b = best.pair.split(" ")
        w = materialize(
            w.select(
                F.regexp_replace(
                    "w", f"<{a}><{b}>", f"<{a}{b}>"
                ).alias("w"),
                "c",
            )
        )
        tokens_after = w.select(
            F.sum(
                F.col("c")
                * F.size(F.split(F.expr("trim(BOTH '<>' FROM w)"), "><"))
            ).cast("bigint").alias("t")
        ).first().t
        out_rows.append((it, best.pair, int(best.n), int(tokens_after)))
    return local_df(
        spark, out_rows, "it int, merged_pair string, pair_count bigint, tokens_after bigint"
    )


def _uni_dp_cte(dp: str, lp: str, max_piece: int = 4) -> str:
    """One recursive Viterbi-DP pass over `words` under log-probs CTE
    `lp` — the SQL twin of operators/selection._viterbi_pieces_expr:
    same candidate set (≤ max_piece unrolled lengths), same
    (score, k) lexicographic argmax via list_sort()[-1], same rounded
    log-prob addends in the same order, so every double — and every
    tie-break — replays bit-identically."""
    cands = ",\n             ".join(
        f"""CASE WHEN i + 1 >= {k} THEN struct_pack(
               s := bests[i - {k} + 2].s + coalesce(j{k}.lpv, -1e18),
               k := {k},
               p := list_append(bests[i - {k} + 2].p,
                                substr(word, i - {k} + 2, {k}))) END"""
        for k in range(1, max_piece + 1)
    )
    joins = "\n      ".join(
        f"LEFT JOIN {lp} j{k} ON j{k}.piece = substr(word, i - {k} + 2, {k})"
        for k in range(1, max_piece + 1)
    )
    return f"""{dp} AS (
      SELECT word, cnt, 0 AS i,
             [struct_pack(s := 0.0::DOUBLE, k := 0, p := []::VARCHAR[])] AS bests
      FROM words
      UNION ALL
      SELECT word, cnt, i + 1,
             list_append(bests, (list_sort(list_filter([
             {cands}
             ], x -> x IS NOT NULL)))[-1])
      FROM {dp}
      {joins}
      WHERE i < length(word)
    )"""


def _unigram_oracle(
    vocab_size: int = 40, n_iters: int = 2, max_piece: int = 4, max_word_len: int = 12
) -> str:
    """Full unigram-EM trajectory replay: seed vocab → n_iters ×
    (Viterbi DP → weighted piece counts → smoothed log-probs)."""
    parts = [
        f"""words AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
        FROM documents)
      WHERE length(w) BETWEEN 2 AND {max_word_len} GROUP BY w)""",
        f"""subs AS MATERIALIZED (
      SELECT substr(word, CAST(i AS INT), CAST(L AS INT)) AS piece,
             CAST(sum(cnt) AS BIGINT) AS seed_cnt
      FROM words,
           unnest(generate_series(1, length(word))) t(i),
           unnest(generate_series(1, least({max_piece},
                  length(word) - CAST(i AS INT) + 1))) u(L)
      GROUP BY 1)""",
        """chars AS (SELECT piece, seed_cnt FROM subs WHERE length(piece) = 1)""",
        f"""multi AS (
      SELECT piece, seed_cnt FROM subs WHERE length(piece) > 1
      ORDER BY seed_cnt DESC, piece
      LIMIT greatest(0, {vocab_size} - (SELECT count(*) FROM chars)))""",
        """vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi)""",
        """nv AS (SELECT count(*) AS v FROM vocab)""",
        """lp0 AS MATERIALIZED (
      SELECT piece, round(ln(seed_cnt + 1)
             - ln((SELECT sum(seed_cnt) FROM vocab) + (SELECT v FROM nv)), 9)
             AS lpv
      FROM vocab)""",
    ]
    for it in range(1, n_iters + 1):
        parts.append(_uni_dp_cte(f"dp{it}", f"lp{it - 1}", max_piece))
        parts.append(
            f"""seg{it} AS (
      SELECT cnt, unnest(bests[length(word) + 1].p) AS piece
      FROM dp{it} WHERE i = length(word))"""
        )
        parts.append(
            f"""c{it} AS MATERIALIZED (
      SELECT v.piece, CAST(coalesce(sum(s.cnt), 0) AS BIGINT) AS c
      FROM vocab v LEFT JOIN seg{it} s ON s.piece = v.piece GROUP BY 1)"""
        )
        parts.append(
            f"""lp{it} AS MATERIALIZED (
      SELECT piece, round(ln(c + 1)
             - ln((SELECT sum(c) FROM c{it}) + (SELECT v FROM nv)), 9) AS lpv
      FROM c{it})"""
        )
    chain = ",\n    ".join(parts)
    n = n_iters
    return f"""
    WITH RECURSIVE
    {chain}
    SELECT c{n}.piece, c{n}.c AS em_cnt,
           (round(lp{n}.lpv, 6) + 0.0) AS logp
    FROM c{n} JOIN lp{n} ON c{n}.piece = lp{n}.piece
    ORDER BY c{n}.piece
    """


@register(
    "unigram_tokenizer_em",
    oracle=_unigram_oracle(),
    tags=("text", "training", "iterative"),
)
def q_unigram_tokenizer_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018 — the SentencePiece
    default), completing the tokenizer-training pair with
    `bpe_train_merges`: seed a substring vocabulary (all chars + top
    multi-char substrings), then 2 rounds of Viterbi-EM over the
    distinct-word table. Output = the trained tokenizer: every vocab
    piece with its EM-expected corpus count and smoothed log-prob.
    Scale shape: loop state is the word-frequency table (Zipf-
    bounded); each round is one native-SQL DP projection + explode +
    agg, vocab rides as a map literal (k-means-centroid idiom). The
    oracle replays the entire trajectory — seeding, both DP passes,
    both M-steps — via recursive CTEs with the identical rounded
    log-prob arithmetic and (score, piece-length) tie-breaks."""
    from ...operators.selection import unigram_em_pieces, unigram_words

    d = _t(spark, sf_dir, "documents")
    out = unigram_em_pieces(
        unigram_words(d, max_word_len=12), vocab_size=40, n_iters=2, max_piece=4
    )
    return out.select(
        "piece", "em_cnt", canon_round(F.col("logp"), 6).alias("logp")
    ).orderBy("piece")


def _unigram_serve_oracle(
    vocab_size: int = 40, n_iters: int = 2, max_piece: int = 4, max_word_len: int = 12
) -> str:
    """Training replay (see _unigram_oracle) + one more DP pass under
    the FINAL log-probs + per-document fertility aggregation."""
    base = _unigram_oracle(vocab_size, n_iters, max_piece, max_word_len)
    # strip the trailing SELECT of the training oracle, keep the CTE chain
    chain = base[: base.rindex("SELECT")].rstrip().rstrip(",")
    n = n_iters
    return f"""{chain},
    {_uni_dp_cte(f"dp{n + 1}", f"lp{n}", max_piece)},
    wlen AS MATERIALIZED (
      SELECT word, len(bests[length(word) + 1].p) AS n_pieces
      FROM dp{n + 1} WHERE i = length(word)),
    dw AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
        FROM documents)
      WHERE length(w) >= 1)
    SELECT dw.doc_id,
           CAST(count(*) AS INT) AS n_words,
           CAST(sum(coalesce(wlen.n_pieces, length(dw.word))) AS INT)
             AS n_unigram_pieces,
           round(CAST(sum(coalesce(wlen.n_pieces, length(dw.word))) AS DOUBLE)
                 / count(*), 6) AS fertility
    FROM dw LEFT JOIN wlen ON wlen.word = dw.word
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """


@register(
    "unigram_fertility",
    oracle=_unigram_serve_oracle(),
    tags=("text", "training", "iterative"),
)
def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the trained unigram-LM tokenizer (the bpe_fertility
    sibling): per-document word count, Viterbi piece count under the
    final EM log-probs, and fertility. The (word → n_pieces) table is
    vocab-sized and broadcast onto the exploded corpus — the corpus
    is never re-segmented. Untrained words (length 1 or > the
    training cap) fall back to one piece per character, identically
    in both engines."""
    from ...operators.selection import unigram_token_stats

    d = _t(spark, sf_dir, "documents")
    return unigram_token_stats(
        d, vocab_size=40, n_iters=2, max_piece=4, max_word_len=12
    ).orderBy("doc_id")

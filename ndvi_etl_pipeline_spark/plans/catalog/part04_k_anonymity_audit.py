"""Query catalog part 4/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403



@register(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT n_name,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             o_orderpriority,
             count(*) AS grp_n
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2, 3)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           round(CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                      AS DOUBLE) / sum(grp_n), 4) AS at_risk_share,
           CAST(min(grp_n) AS BIGINT) AS smallest_group
    FROM qi
    """,
    tags=("privacy", "audit", "agg"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    order month, priority): how many equivalence classes fall below
    k=5, and what share of rows they expose — the re-identification
    risk check run before any 'anonymized' data release (small
    groups are the linkage attack surface; the fix is coarsening a
    QI column or suppressing the rows, then re-running this audit).
    One grouped count + one |groups|-sized rollup, at any scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    qi = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
            "o_orderpriority",
        )
        .agg(F.count("*").alias("grp_n"))
    )
    below = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)
    return qi.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_k"),
        F.sum(below).cast("bigint").alias("rows_at_risk"),
        F.round(
            F.sum(below).cast("double") / F.sum("grp_n"), 4
        ).alias("at_risk_share"),
        F.min("grp_n").cast("bigint").alias("smallest_group"),
    )


@register(
    "class_balance_weights",
    oracle="""
    WITH counts AS (
      SELECT label, CAST(count(*) AS DOUBLE) AS n_k
      FROM embeddings GROUP BY label),
    tot AS (SELECT sum(n_k) AS n, CAST(count(*) AS DOUBLE) AS k FROM counts)
    SELECT label,
           CAST(n_k AS BIGINT) AS n_examples,
           round(n / (k * n_k), 6) AS inverse_freq_weight,
           round((1 - pow(0.999, n_k)) / (1 - 0.999), 4)
             AS effective_number,
           round((1 - 0.999) / (1 - pow(0.999, n_k)), 6)
             AS class_balanced_weight
    FROM counts CROSS JOIN tot
    """,
    tags=("training", "ml", "weights"),
)
def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance weight table: inverse-frequency N/(K·n_k)
    next to the effective-number weighting (1−β)/(1−β^n), β=0.999
    (Cui et al. 2019) — the per-label loss weights a trainer loads
    before fitting on skewed labels; effective-number tempering
    matters exactly when classes are large enough that marginal
    examples overlap. A |labels|-row aggregate and a 1-row broadcast
    total; the table is the artifact."""
    emb = _t(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").cast("double").alias("n_k"))
    tot = counts.agg(
        F.sum("n_k").alias("n"), F.count("*").cast("double").alias("k")
    )
    beta = 0.999
    eff = (1 - F.pow(F.lit(beta), F.col("n_k"))) / (1 - beta)
    return counts.join(F.broadcast(tot)).select(
        "label",
        F.col("n_k").cast("bigint").alias("n_examples"),
        F.round(F.col("n") / (F.col("k") * F.col("n_k")), 6).alias(
            "inverse_freq_weight"
        ),
        F.round(eff, 4).alias("effective_number"),
        F.round(1.0 / eff, 6).alias("class_balanced_weight"),
    )


@register(
    "curriculum_difficulty_phases",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS DOUBLE)
               / greatest(n_chars, 1) AS word_density,
             ntile(4) OVER (
               ORDER BY CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / greatest(n_chars, 1) DESC, doc_id) AS phase
      FROM documents WHERE n_chars > 0)
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS char_budget,
           round(avg(word_density), 5) AS mean_density
    FROM scored GROUP BY phase
    """,
    tags=("training", "curriculum"),
)
def q_curriculum_difficulty_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phase assignment: documents quartiled by a
    difficulty proxy (word density — high density = simple short
    words first, the easy→hard schedule), with per-phase doc counts
    and character budgets — the phase manifest a curriculum trainer
    consumes (each phase becomes a filter on the stored phase
    column; sequence_packing then packs within phase). Deterministic
    ntile order makes phase assignment reproducible; at 100 TB the
    ntile becomes approx-percentile cutpoints exactly as in
    rfm_segmentation."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    density = F.size(F.split("text", " ")).cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    )
    scored = d.select(
        "doc_id",
        "n_chars",
        density.alias("word_density"),
        F.ntile(4)
        .over(Window.orderBy(density.desc(), F.col("doc_id")))
        .alias("phase"),
    )
    return scored.groupBy("phase").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("char_budget"),
        F.round(F.avg("word_density"), 5).alias("mean_density"),
    )


@register(
    "ipf_raking_weights",
    oracle="""
    WITH cells AS (
      SELECT n_regionkey AS rk, o_orderpriority AS pr,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS total, CAST(count(DISTINCT rk) AS DOUBLE) AS n_r,
                   CAST(count(DISTINCT pr) AS DOUBLE) AS n_p
            FROM cells),
    -- round 1: match uniform region margins
    r1 AS (
      SELECT c.rk, c.pr,
             c.n * (t.total / t.n_r)
                 / sum(c.n) OVER (PARTITION BY c.rk) AS w
      FROM cells c CROSS JOIN tot t),
    -- round 2: match uniform priority margins
    r2 AS (
      SELECT rk, pr,
             w * (t.total / t.n_p) / sum(w) OVER (PARTITION BY pr) AS w
      FROM r1 CROSS JOIN tot t)
    SELECT pr,
           round(sum(w), 3) AS priority_margin_after,
           round(min(w / n0.n), 5) AS min_weight_ratio,
           round(max(w / n0.n), 5) AS max_weight_ratio
    FROM r2 JOIN cells n0 USING (rk, pr)
    GROUP BY pr
    """,
    tags=("stats", "weighting", "iterative"),
)
def q_ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking): reweight the
    region×priority contingency table to uniform target margins —
    round 1 scales rows to the region margin, round 2 re-scales to
    the priority margin (each round one window-sum per dimension,
    unrolled so the oracle replays it exactly; production runs until
    convergence). After round 2 the priority margins ARE the target
    (pinned in the output) while region margins drift slightly — the
    classic IPF behavior. This is how survey weights and
    demographic-balanced sampling weights are produced at scale: the
    cell table is tiny, the weights join back to facts."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_regionkey").alias("rk"), F.col("o_orderpriority").alias("pr"))
        .agg(F.count("*").cast("double").alias("n0"))
    )
    tot = cells.agg(
        F.sum("n0").alias("total"),
        F.count_distinct("rk").cast("double").alias("n_r"),
        F.count_distinct("pr").cast("double").alias("n_p"),
    )
    wr = Window.partitionBy("rk")
    wp = Window.partitionBy("pr")
    r1 = cells.join(F.broadcast(tot)).select(
        "rk",
        "pr",
        "n0",
        "total",
        "n_p",
        (
            F.col("n0") * (F.col("total") / F.col("n_r")) / F.sum("n0").over(wr)
        ).alias("w"),
    )
    r2 = r1.select(
        "rk",
        "pr",
        "n0",
        (
            F.col("w") * (F.col("total") / F.col("n_p")) / F.sum("w").over(wp)
        ).alias("w"),
    )
    return r2.groupBy("pr").agg(
        F.round(F.sum("w"), 3).alias("priority_margin_after"),
        F.round(F.min(F.col("w") / F.col("n0")), 5).alias("min_weight_ratio"),
        F.round(F.max(F.col("w") / F.col("n0")), 5).alias("max_weight_ratio"),
    )


@register(
    "gains_chart_deciles",
    oracle="""
    WITH scored AS (
      SELECT c_acctbal AS score,
             CASE WHEN spend > 300000 THEN 1 ELSE 0 END AS converted
      FROM (
        SELECT c.c_custkey, c.c_acctbal, coalesce(sum(o.o_totalprice), 0)
                 AS spend
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal) t),
    ranked AS (
      SELECT converted,
             ntile(10) OVER (ORDER BY score DESC,
                             converted, random_tiebreak) AS decile
      FROM (SELECT *, row_number() OVER (ORDER BY score, converted)
                        AS random_tiebreak FROM scored)),
    tot AS (SELECT CAST(sum(converted) AS DOUBLE) AS all_conv FROM ranked)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(converted) AS BIGINT) AS conversions,
           round(sum(sum(converted)) OVER (ORDER BY decile
                   ROWS UNBOUNDED PRECEDING) / max(t.all_conv), 4)
             AS cum_gain
    FROM ranked CROSS JOIN tot t
    GROUP BY decile
    """,
    tags=("ml", "eval", "gains"),
)
def q_gains_chart_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains chart: customers deciled by a score
    (account balance as the stand-in model score), per-decile
    conversion capture and the cumulative gain curve — the
    campaign-targeting view of ranking quality next to
    auc_rank_sum's scalar (a useless score shows cum_gain ≈
    decile/10; lift above the diagonal is the model's value). The
    windowed sum-of-sums computes the curve ON the 10-row grouped
    result — no second pass over customers. All three global-order
    steps (tiebreak row_number, customer decile ntile, decile cumsum)
    route through operators/rank.global_ranked — exact single-partition
    windows by default, exact two-pass range-partitioned form under
    spark.ndvi_etl.rankMode=distributed."""
    from ...operators.rank import global_ranked

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("spend"))
    )
    scored = spend.select(
        F.col("c_acctbal").alias("score"),
        F.when(F.col("spend") > 300000, 1).otherwise(0).alias("converted"),
    )
    tied = global_ranked(
        scored, ["score", "converted"], row_number="random_tiebreak"
    )
    ranked = global_ranked(
        tied,
        [("score", "desc"), "converted", "random_tiebreak"],
        ntile={"decile": 10},
    ).select("converted", "decile")
    tot = ranked.agg(F.sum("converted").cast("double").alias("all_conv"))
    per = (
        ranked.join(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("converted").cast("bigint").alias("conversions"),
            F.max("all_conv").alias("all_conv"),
        )
    )
    cum = global_ranked(
        per, ["decile"], running_sums={"cum_conv": F.col("conversions")}
    )
    return cum.select(
        "decile",
        "n",
        "conversions",
        F.round(F.col("cum_conv") / F.col("all_conv"), 4).alias("cum_gain"),
    )


@register(
    "degree_assortativity",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    cdeg AS (SELECT c, CAST(count(*) AS DOUBLE) AS dc FROM edges GROUP BY c),
    pdeg AS (SELECT p, CAST(count(*) AS DOUBLE) AS dp FROM edges GROUP BY p)
    SELECT round(corr(dc, dp), 6) AS assortativity,
           CAST(count(*) AS BIGINT) AS n_edges,
           round(avg(dc), 3) AS mean_cust_degree,
           round(avg(dp), 3) AS mean_part_degree
    FROM edges JOIN cdeg USING (c) JOIN pdeg USING (p)
    """,
    tags=("graph", "stats"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the purchase graph: Pearson
    correlation of endpoint degrees ACROSS EDGES (not across nodes —
    each edge contributes its two endpoint degrees, so hubs weight
    in proportion to their edges). Negative = hubs attach to leaves
    (the usual bipartite commerce signature), positive = rich club.
    Completes the graph-profile pair with bipartite_degree_profile;
    mechanically it's the edge relation joined to both degree
    aggregates — joins keyed on the edge endpoints, the same
    shuffles the degree counts already created."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cdeg = edges.groupBy("c").agg(F.count("*").cast("double").alias("dc"))
    pdeg = edges.groupBy("p").agg(F.count("*").cast("double").alias("dp"))
    j = edges.join(cdeg, "c").join(pdeg, "p")
    return j.agg(
        F.round(F.corr("dc", "dp"), 6).alias("assortativity"),
        F.count("*").cast("bigint").alias("n_edges"),
        F.round(F.avg("dc"), 3).alias("mean_cust_degree"),
        F.round(F.avg("dp"), 3).alias("mean_part_degree"),
    )


@register(
    "burstiness_fano",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    spine AS (
      SELECT u.user_id, CAST(g.d AS DATE) AS d
      FROM (SELECT DISTINCT user_id FROM daily) u
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT min(d) FROM daily),
          (SELECT max(d) FROM daily),
          INTERVAL 1 DAY)) AS d) g),
    dense AS (
      SELECT s.user_id, coalesce(daily.n, 0) AS n
      FROM spine s LEFT JOIN daily
        ON daily.user_id = s.user_id AND daily.d = s.d),
    fano AS (
      SELECT user_id, var_pop(n) / avg(n) AS f
      FROM dense GROUP BY user_id HAVING avg(n) > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(f), 4) AS mean_fano,
           round(quantile_cont(f, 0.5), 4) AS median_fano,
           CAST(sum(CASE WHEN f > 1.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bursty
    FROM fano
    """,
    tags=("events", "stats", "pointprocess"),
)
def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness via the Fano factor (index of dispersion):
    per-user daily event counts DENSIFIED over the full calendar
    (zero days count — without the spine, quiet users look Poisson),
    then var/mean per user; F≈1 = Poisson, F≫1 = bursty sessions —
    the point-process diagnostic that decides whether rate-based
    capacity models apply. The spine is |users|×|days| narrow rows
    from two broadcastable relations; everything else is hash
    aggregation."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("double").alias("n"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    users = daily.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    dense = spine.join(daily, ["user_id", "d"], "left").select(
        "user_id", F.coalesce("n", F.lit(0.0)).alias("n")
    )
    fano = (
        dense.groupBy("user_id")
        .agg((F.var_pop("n") / F.avg("n")).alias("f"), F.avg("n").alias("mu"))
        .filter(F.col("mu") > 0)
    )
    return fano.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("f"), 4).alias("mean_fano"),
        F.round(F.expr("percentile(f, 0.5)"), 4).alias("median_fano"),
        F.sum(F.when(F.col("f") > 1.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursty"),
    )


@register(
    "holt_linear_recursive",
    oracle=_HOLT_SQL,
    tags=("recursive", "forecast", "timeseries"),
)
def q_holt_linear_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing — TWO coupled
    state variables (level, trend) threaded through the recurrence
    l_t = αy + (1−α)(l+b), b_t = β(l_t−l_{t−1}) + (1−β)b — run as
    the identical recursive CTE text on both engines (the companion
    to saturating_balance_recursive's single-state clamp; together
    they pin the semantics any streaming stateful operator must
    reproduce). α=0.3, β=0.1, one month of days bounds the depth;
    at scale this recurrence lives in applyInPandasWithState per
    series, not a 90-step join chain."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_HOLT_SQL)


@register(
    "embedding_anisotropy_audit",
    oracle="""
    WITH dims AS (
      SELECT dim, embedding[dim] AS v
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS t(dim)),
    per_dim AS (
      SELECT dim, avg(v) AS mu, var_pop(v) AS s2
      FROM dims GROUP BY dim)
    SELECT CAST(count(*) AS BIGINT) AS n_dims,
           round(max(s2) / min(s2), 3) AS variance_ratio,
           round(max(abs(mu)), 5) AS worst_mean_offset,
           round(sum(s2), 5) AS total_variance,
           round(max(s2) / sum(s2), 5) AS top_dim_share
    FROM per_dim
    """,
    tags=("embeddings", "audit", "ml"),
)
def q_embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit: per-dimension mean offsets
    and the variance concentration ratio — anisotropic spaces (few
    dominant directions, a common mean offset) degrade cosine
    retrieval, and whitening/centering decisions start from exactly
    these numbers (Ethayarajh 2019). One explode + |dims|-group
    moments pass; the summary is scalar. At 100 TB the same
    per-dimension moments come from partial aggregates — mergeable
    like any sum."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).alias("dim"), "v"
    )
    per_dim = dims.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.var_pop("v").alias("s2")
    )
    return per_dim.agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.round(F.max("s2") / F.min("s2"), 3).alias("variance_ratio"),
        F.round(F.max(F.abs(F.col("mu"))), 5).alias("worst_mean_offset"),
        F.round(F.sum("s2"), 5).alias("total_variance"),
        F.round(F.max("s2") / F.sum("s2"), 5).alias("top_dim_share"),
    )


@register(
    "adstock_carryover",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT a.d,
             sum(b.x * pow(0.7, date_diff('day', b.d, a.d))) AS adstock
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - 14 AND a.d
      GROUP BY a.d)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(avg(adstock), 2) AS mean_adstock,
           round(max(adstock), 2) AS peak_adstock
    FROM pairs
    """,
    tags=("timeseries", "marketing", "window"),
)
def q_adstock_carryover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock (advertising carryover): today's effective
    pressure = Σ_k λ^k·spend(t−k), λ=0.7, truncated at 14 days where
    the weight is < 1% — the media-mix-model transform, computed by
    the closed form (a bounded range self-join with power weights)
    instead of the recurrence, so it parallelizes trivially: every
    output day depends on a CONSTANT 15-day slice, unlike the
    recursive formulations (holt_linear_recursive) whose state
    chains. ≤15 join partners per day on the daily aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    a = daily.select(F.col("d").alias("ad"))
    b = daily.select(F.col("d").alias("bd"), "x")
    pairs = (
        a.join(
            b,
            (F.col("bd") >= F.date_sub(F.col("ad"), 14))
            & (F.col("bd") <= F.col("ad")),
        )
        .groupBy("ad")
        .agg(
            F.sum(
                F.col("x") * F.pow(F.lit(0.7), F.datediff(F.col("ad"), F.col("bd")))
            ).alias("adstock")
        )
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg("adstock"), 2).alias("mean_adstock"),
        F.round(F.max("adstock"), 2).alias("peak_adstock"),
    )


@register(
    "abc_xyz_matrix",
    oracle="""
    WITH part_stats AS (
      SELECT l_partkey,
             sum(l_extendedprice) AS value_total,
             stddev_samp(l_quantity) / avg(l_quantity) AS cv
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3),
    ranked AS (
      SELECT *,
             sum(value_total) OVER (ORDER BY value_total DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING)
               / sum(value_total) OVER () AS cum_share
      FROM part_stats),
    classed AS (
      SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz,
             value_total
      FROM ranked)
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(value_total), 2) AS segment_value
    FROM classed GROUP BY abc, xyz
    """,
    tags=("inventory", "window", "classification"),
)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory matrix: parts classed by cumulative value
    share (A = the 80% head, the pareto_8020 device) crossed with
    demand variability (coefficient of variation: X stable → Z
    erratic) — the 9-cell grid that decides stocking policy (AX =
    automate, CZ = kill). One stats pass per part, one ranked
    window for the value classes, pure CASE for the rest; the grid
    is the deliverable."""
    li = _t(spark, sf_dir, "lineitem")
    part_stats = (
        li.groupBy("l_partkey")
        .agg(
            F.sum("l_extendedprice").alias("value_total"),
            (F.stddev_samp("l_quantity") / F.avg("l_quantity")).alias("cv"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 3)
    )
    wc = Window.orderBy(F.col("value_total").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    ranked = part_stats.select(
        "value_total",
        "cv",
        (F.sum("value_total").over(wc) / F.sum("value_total").over(wall)).alias(
            "cum_share"
        ),
    )
    abc = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
    )
    return ranked.groupBy(abc.alias("abc"), xyz.alias("xyz")).agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("value_total"), 2).alias("segment_value"),
    )


@register(
    "arc_elasticity_bands",
    oracle="""
    WITH bands AS (
      SELECT round(l_discount, 2) AS disc,
             avg(l_quantity) AS q,
             avg(l_extendedprice * (1 - l_discount) / l_quantity) AS p,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem WHERE l_quantity > 0
      GROUP BY 1 HAVING count(*) >= 100),
    arcs AS (
      SELECT disc, q, p, n,
             lag(q) OVER (ORDER BY disc) AS q0,
             lag(p) OVER (ORDER BY disc) AS p0
      FROM bands)
    SELECT disc,
           round(((q - q0) / ((q + q0) / 2))
                 / (((p - p0) / ((p + p0) / 2))), 4) AS arc_elasticity,
           round(q, 3) AS mean_qty, round(p, 2) AS mean_unit_price, n
    FROM arcs WHERE q0 IS NOT NULL AND p <> p0
    """,
    tags=("economics", "window"),
)
def q_arc_elasticity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc price elasticity between adjacent discount bands: midpoint
    %Δquantity / %Δprice (the midpoint formula is symmetric, so band
    order doesn't bias the sign) — the pricing team's first look at
    demand response, next to regr_diagnostics' parametric slope.
    Bands are a rounded group key; the elasticity chain is a LAG over
    the |bands| aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    bands = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy(F.round("l_discount", 2).alias("disc"))
        .agg(
            F.avg("l_quantity").alias("q"),
            F.avg(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.col("l_quantity")
            ).alias("p"),
            F.count("*").cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 100)
    )
    w = Window.orderBy("disc")
    arcs = bands.select(
        "disc", "q", "p", "n",
        F.lag("q").over(w).alias("q0"),
        F.lag("p").over(w).alias("p0"),
    ).filter(F.col("q0").isNotNull() & (F.col("p") != F.col("p0")))
    el = ((F.col("q") - F.col("q0")) / ((F.col("q") + F.col("q0")) / 2)) / (
        (F.col("p") - F.col("p0")) / ((F.col("p") + F.col("p0")) / 2)
    )
    return arcs.select(
        "disc",
        F.round(el, 4).alias("arc_elasticity"),
        F.round("q", 3).alias("mean_qty"),
        F.round("p", 2).alias("mean_unit_price"),
        "n",
    )


@register(
    "poisson_fit_basket_sizes",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
      FROM lineitem GROUP BY l_orderkey),
    hist AS (SELECT k, CAST(count(*) AS DOUBLE) AS obs FROM sizes GROUP BY k),
    fit AS (SELECT avg(CAST(k AS DOUBLE)) AS lam,
                   CAST(count(*) AS DOUBLE) AS n FROM sizes)
    SELECT k, CAST(obs AS BIGINT) AS observed,
           round(n * exp(-lam) * pow(lam, k) / factorial(CAST(k AS INT)), 2)
             AS expected,
           round((obs - n * exp(-lam) * pow(lam, k)
                       / factorial(CAST(k AS INT)))
                 / sqrt(n * exp(-lam) * pow(lam, k)
                        / factorial(CAST(k AS INT))), 3) AS pearson_resid
    FROM hist CROSS JOIN fit
    WHERE k <= 12
    """,
    tags=("stats", "distribution-fit"),
)
def q_poisson_fit_basket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit for basket sizes: MLE λ = mean lines
    per order, expected counts n·e^{−λ}λ^k/k!, and per-cell Pearson
    residuals — the distribution-fit companion to
    chi_square_independence (which tests association) and
    benford_first_digit (which fixes the reference distribution
    a priori). Large residuals at specific k expose order-size
    mechanics no mean-based check sees. Histogram + 1-row fit
    broadcast; factorial stays exact (k ≤ 12 < 21)."""
    li = _t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    hist = sizes.groupBy("k").agg(F.count("*").cast("double").alias("obs"))
    fit = sizes.agg(
        F.avg(F.col("k").cast("double")).alias("lam"),
        F.count("*").cast("double").alias("n"),
    )
    exp_k = (
        F.col("n")
        * F.exp(-F.col("lam"))
        * F.pow(F.col("lam"), F.col("k"))
        / F.factorial(F.col("k").cast("int"))
    )
    return (
        hist.join(F.broadcast(fit))
        .filter(F.col("k") <= 12)
        .select(
            "k",
            F.col("obs").cast("bigint").alias("observed"),
            F.round(exp_k, 2).alias("expected"),
            F.round((F.col("obs") - exp_k) / F.sqrt(exp_k), 3).alias(
                "pearson_resid"
            ),
        )
    )


@register(
    "inspection_paradox_gaps",
    oracle="""
    WITH gaps AS (
      SELECT (epoch_us(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              - epoch_us(ts)) / 1000000.0 AS g
      FROM events),
    clean AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           round(avg(g), 3) AS mean_gap_s,
           round(sum(g * g) / sum(g), 3) AS size_biased_mean_s,
           round((sum(g * g) / sum(g)) / avg(g), 4) AS paradox_ratio
    FROM clean
    """,
    tags=("events", "stats", "pointprocess"),
)
def q_inspection_paradox_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inspection paradox, measured: mean inter-event gap vs the
    size-biased mean E[g²]/E[g] — what a random OBSERVER landing in
    the timeline experiences (a Poisson process gives ratio 2; the
    further above, the burstier — the scalar twin of
    burstiness_fano). Explains why 'average time between deploys'
    never matches what an on-call engineer feels. One user-keyed
    window pass, two moments, no second scan."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")) / 1_000_000.0
        ).alias("g")
    ).filter(F.col("g").isNotNull() & (F.col("g") > 0))
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.avg("g"), 3).alias("mean_gap_s"),
        F.round(F.sum(F.col("g") * F.col("g")) / F.sum("g"), 3).alias(
            "size_biased_mean_s"
        ),
        F.round(
            (F.sum(F.col("g") * F.col("g")) / F.sum("g")) / F.avg("g"), 4
        ).alias("paradox_ratio"),
    )


@register(
    "fifo_lot_matching",
    oracle="""
    WITH supply AS (
      SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d, l_quantity AS q,
             sum(l_quantity) OVER (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
      FROM lineitem WHERE l_returnflag = 'N' AND l_partkey % 20 = 0),
    demand AS (
      SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d, l_quantity AS q,
             sum(l_quantity) OVER (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS hi
      FROM lineitem WHERE l_returnflag = 'R' AND l_partkey % 20 = 0),
    matched AS (
      SELECT s.pk,
             least(s.hi, dm.hi)
               - greatest(s.hi - s.q, dm.hi - dm.q) AS mq,
             date_diff('day', s.d, dm.d) AS lag_days
      FROM supply s JOIN demand dm
        ON s.pk = dm.pk
       AND s.hi - s.q < dm.hi
       AND dm.hi - dm.q < s.hi)
    SELECT CAST(count(*) AS BIGINT) AS n_matches,
           round(sum(mq), 2) AS matched_qty,
           round(avg(lag_days), 2) AS mean_lag_days,
           CAST(count(DISTINCT pk) AS BIGINT) AS n_parts
    FROM matched WHERE mq > 0
    """,
    tags=("interval", "allocation", "window"),
)
def q_fifo_lot_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — the inventory-costing / lot-genealogy
    allocation: supply and demand lots per part each get cumulative
    quantity intervals [hi−q, hi), and a supply lot serves a demand
    lot exactly where the intervals OVERLAP (the classic cumulative-
    interval join; matched qty = interval intersection length). No
    loops, no state: two windows + one banded self-join reproduce
    sequential FIFO exactly, because cumulative position IS the
    queue discipline. Join keys on (part, interval overlap) — the
    per-part intervals are sorted and short, and a part-key sample
    keeps the oracle relation small."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 20 == 0)
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def lots(flag: str) -> DataFrame:
        return li.filter(F.col("l_returnflag") == flag).select(
            F.col("l_partkey").alias("pk"),
            F.col("l_shipdate").cast("date").alias("d"),
            F.col("l_quantity").alias("q"),
            F.sum("l_quantity").over(w).alias("hi"),
        )

    s = lots("N").alias("s")
    dm = lots("R").alias("dm")
    matched = s.join(
        dm,
        (F.col("s.pk") == F.col("dm.pk"))
        & (F.col("s.hi") - F.col("s.q") < F.col("dm.hi"))
        & (F.col("dm.hi") - F.col("dm.q") < F.col("s.hi")),
    ).select(
        F.col("s.pk").alias("pk"),
        (
            F.least(F.col("s.hi"), F.col("dm.hi"))
            - F.greatest(
                F.col("s.hi") - F.col("s.q"), F.col("dm.hi") - F.col("dm.q")
            )
        ).alias("mq"),
        F.datediff(F.col("dm.d"), F.col("s.d")).alias("lag_days"),
    ).filter(F.col("mq") > 0)
    return matched.agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.round(F.sum("mq"), 2).alias("matched_qty"),
        F.round(F.avg("lag_days"), 2).alias("mean_lag_days"),
        F.count_distinct("pk").cast("bigint").alias("n_parts"),
    )


@register(
    "bom_cost_explosion",
    oracle=_BOM_SQL,
    tags=("recursive", "hierarchy", "bom"),
)
def q_bom_cost_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion with quantity roll-up — the third
    recursive-CTE flavor after BFS depth (recursive_org_depth) and
    sequential state (saturating/holt): here the recursion MULTIPLIES
    down the tree (a level-3 component used 2× in a level-2 assembly
    used 3× in the root contributes 6× its unit cost), the
    computation MRP systems run nightly. The implicit tree is
    parent = ⌊pk/4⌋ over a bounded part range; identical SQL text on
    both engines, each recursion level one equi-join against the
    frontier."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_BOM_SQL)


@register(
    "quantile_mapping_harmonization",
    oracle="""
    WITH src AS (
      SELECT value AS v FROM events
      WHERE event_type = 'click' AND value IS NOT NULL),
    tgt AS (
      SELECT value AS v FROM events
      WHERE event_type = 'view' AND value IS NOT NULL),
    src_ranked AS (
      SELECT v, ntile(20) OVER (ORDER BY v) AS qb FROM src),
    tgt_cuts AS (
      SELECT qb, avg(v) AS tgt_v
      FROM (SELECT v, ntile(20) OVER (ORDER BY v) AS qb FROM tgt)
      GROUP BY qb),
    mapped AS (
      SELECT s.v AS orig, t.tgt_v AS mapped
      FROM src_ranked s JOIN tgt_cuts t USING (qb))
    SELECT CAST(count(*) AS BIGINT) AS n_mapped,
           round(avg(orig), 4) AS mean_before,
           round(avg(mapped), 4) AS mean_after,
           round(stddev_samp(orig), 4) AS sd_before,
           round(stddev_samp(mapped), 4) AS sd_after
    FROM mapped
    """,
    tags=("timeseries", "harmonization", "quantile"),
)
def q_quantile_mapping_harmonization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile mapping (CDF matching): re-express one
    distribution's values on another's scale by matching vigintile
    bins — the bias-correction transform behind cross-sensor NDVI
    harmonization (Landsat-7 ETM+ vs 8 OLI radiometry) and climate
    downscaling, run here between two event streams. After mapping,
    the moments take the TARGET's shape (pinned in the output). Two
    global ntiles over the value columns, a 20-row cut table joined
    back — at 100 TB the cuts come from approx_percentile and the
    map is a broadcast lookup."""
    e = _t(spark, sf_dir, "events")
    src = e.filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    ).select(F.col("value").alias("v"))
    tgt = e.filter(
        (F.col("event_type") == "view") & F.col("value").isNotNull()
    ).select(F.col("value").alias("v"))
    src_ranked = src.select(
        "v", F.ntile(20).over(Window.orderBy("v")).alias("qb")
    )
    tgt_cuts = (
        tgt.select("v", F.ntile(20).over(Window.orderBy("v")).alias("qb"))
        .groupBy("qb")
        .agg(F.avg("v").alias("tgt_v"))
    )
    mapped = src_ranked.join(F.broadcast(tgt_cuts), "qb").select(
        F.col("v").alias("orig"), F.col("tgt_v").alias("mapped")
    )
    return mapped.agg(
        F.count("*").cast("bigint").alias("n_mapped"),
        F.round(F.avg("orig"), 4).alias("mean_before"),
        F.round(F.avg("mapped"), 4).alias("mean_after"),
        F.round(F.stddev_samp("orig"), 4).alias("sd_before"),
        F.round(F.stddev_samp("mapped"), 4).alias("sd_after"),
    )


@register(
    "lsh_blocking_eval",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 80),
    sh AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
      FROM docs, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS (
      SELECT i.da, i.db
      FROM inter i
      JOIN sizes x ON x.doc_id = i.da
      JOIN sizes y ON y.doc_id = i.db
      WHERE CAST(i.shared AS DOUBLE) / (x.n + y.n - i.shared) >= 0.3),
    mh AS (
      SELECT doc_id, i, min(substr(md5(g), 1 + 4 * i, 4)) AS mn
      FROM sh, (SELECT unnest(generate_series(0, 3)) AS i)
      GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // 2 AS b, string_agg(mn, '' ORDER BY i) AS key
      FROM mh GROUP BY doc_id, i // 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    hits AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
           round((SELECT CAST(count(*) AS DOUBLE) FROM hits)
                 / greatest((SELECT count(*) FROM truth), 1), 4) AS recall,
           round((SELECT CAST(count(*) AS DOUBLE) FROM hits)
                 / greatest((SELECT count(*) FROM cand), 1), 4) AS precision
    """,
    tags=("dedup", "eval"),
)
def q_lsh_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation: the LSH candidate set (4
    min-hashes, 2 bands × 2 — deliberately small so misses exist)
    scored against exact-Jaccard ≥ 0.3 ground truth on a doc sample
    — recall tells you what the blocker loses, precision what the
    verify stage pays; the measurement that justifies (or rejects) a
    band/row configuration BEFORE burning a cluster pass at 100 TB.
    Both pipelines share one shingle relation; candidates and truth
    are both shared-key joins, and the md5-slice hash family keeps
    the two engines bit-identical."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    sh = (
        d.select(
            "doc_id",
            F.split("text", " ").alias("ws"),
        )
        .select(
            "doc_id",
            F.explode(seq1(F.size("ws") - 2)).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("ws", F.col("i")),
                F.element_at("ws", F.col("i") + 1),
                F.element_at("ws", F.col("i") + 2),
            ).alias("g"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
    )
    na = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    truth = (
        inter.join(F.broadcast(na), "da")
        .join(F.broadcast(nb), "db")
        .filter(
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared"))
            >= 0.3
        )
        .select("da", "db")
    )
    mh = (
        sh.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
            "g",
        )
        .groupBy("doc_id", "i")
        .agg(F.min(F.expr("substr(md5(g), 1 + 4 * i, 4)")).alias("mn"))
    )
    bands = mh.groupBy(
        "doc_id", (F.col("i") / 2).cast("int").alias("b")
    ).agg(F.concat_ws("", F.array_sort(F.collect_list(F.struct("i", "mn")))["mn"]).alias("key"))
    # array_sort on struct(i, mn) orders by i; extract mn field post-sort
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.b") == F.col("bb.b"))
            & (F.col("ba.key") == F.col("bb.key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db")
        )
        .distinct()
    )
    hits = truth.intersect(cand)
    nt = truth.count()
    nc = cand.count()
    nh = hits.count()
    return local_df(
        spark,
        [
            (
                nt,
                nc,
                nh,
                round(nh / max(nt, 1), 4),
                round(nh / max(nc, 1), 4),
            )
        ],
        "n_true_pairs LONG, n_candidates LONG, n_hits LONG, recall DOUBLE, precision DOUBLE",
    )


@register(
    "session_gap_sensitivity",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))) / 60000000.0
               AS gap_min
      FROM events),
    per_user AS (
      SELECT user_id,
             1 + sum(CASE WHEN gap_min > 10 THEN 1 ELSE 0 END) AS s10,
             1 + sum(CASE WHEN gap_min > 30 THEN 1 ELSE 0 END) AS s30,
             1 + sum(CASE WHEN gap_min > 60 THEN 1 ELSE 0 END) AS s60
      FROM gaps GROUP BY user_id)
    SELECT CAST(sum(s10) AS BIGINT) AS sessions_10min,
           CAST(sum(s30) AS BIGINT) AS sessions_30min,
           CAST(sum(s60) AS BIGINT) AS sessions_60min,
           round(avg(s30), 3) AS mean_sessions_per_user_30min
    FROM per_user
    """,
    tags=("session", "window", "sensitivity"),
)
def q_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity curve: total session counts under
    10/30/60-minute inactivity thresholds from ONE lag pass —
    sessions(g) per user = 1 + |gaps > g|, so the whole parameter
    sweep is three conditional sums, no re-sessionizing per
    candidate (how the 30-minute convention should be validated
    against your own data before events_sessionize hard-codes it).
    A plateau between thresholds = natural session boundary; steep
    slope = the threshold is inventing structure."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / 60_000_000.0
        ).alias("gap_min"),
    )

    def s(th: int):
        return 1 + F.sum(F.when(F.col("gap_min") > th, 1).otherwise(0))

    per_user = gaps.groupBy("user_id").agg(
        s(10).alias("s10"), s(30).alias("s30"), s(60).alias("s60")
    )
    return per_user.agg(
        F.sum("s10").cast("bigint").alias("sessions_10min"),
        F.sum("s30").cast("bigint").alias("sessions_30min"),
        F.sum("s60").cast("bigint").alias("sessions_60min"),
        F.round(F.avg("s30"), 3).alias("mean_sessions_per_user_30min"),
    )


@register(
    "two_hop_reach",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_partkey % 10 = 0),
    hop2 AS (
      SELECT DISTINCT a.c AS src, b.c AS dst
      FROM edges a JOIN edges b ON a.p = b.p AND a.c <> b.c),
    reach AS (
      SELECT src, CAST(count(*) AS DOUBLE) AS n_reach
      FROM hop2 GROUP BY src)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(n_reach), 2) AS mean_two_hop_reach,
           CAST(max(n_reach) AS BIGINT) AS max_reach,
           round(quantile_cont(n_reach, 0.5), 1) AS median_reach
    FROM reach
    """,
    tags=("graph", "join"),
)
def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach on the co-purchase graph — customers reachable
    through a shared part (friends-of-friends without recursion: one
    self-join on the pivot entity + dedup). The part-key sample
    bounds the pivot fan-out, which is THE scaling hazard of 2-hop
    queries — a hub part of degree d contributes d² pairs, exactly
    the skew the degree profile (bipartite_degree_profile) warns
    about and a real deployment caps per-pivot (limit each part's
    neighbor list) before the join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_partkey") % 10 == 0)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = edges.alias("a")
    b = edges.alias("b")
    hop2 = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") != F.col("b.c")))
        .select(F.col("a.c").alias("src"), F.col("b.c").alias("dst"))
        .distinct()
    )
    reach = hop2.groupBy("src").agg(F.count("*").cast("double").alias("n_reach"))
    return reach.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.avg("n_reach"), 2).alias("mean_two_hop_reach"),
        F.max("n_reach").cast("bigint").alias("max_reach"),
        F.round(F.expr("percentile(n_reach, 0.5)"), 1).alias("median_reach"),
    )


@register(
    "coupon_collector_coverage",
    oracle="""
    WITH seq AS (
      SELECT l_partkey,
             row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS pos
      FROM lineitem),
    firsts AS (SELECT min(pos) AS fp FROM seq GROUP BY l_partkey),
    universe AS (SELECT CAST(count(*) AS DOUBLE) AS n_parts FROM firsts),
    curve AS (
      SELECT CAST(pow(4, k) AS BIGINT) AS n_draws,
             (SELECT CAST(count(*) AS BIGINT) FROM firsts
              WHERE fp <= CAST(pow(4, k) AS BIGINT)) AS observed
      FROM unnest(generate_series(3, 8)) AS t(k))
    SELECT n_draws, observed,
           round(u.n_parts * (1 - pow(1 - 1 / u.n_parts, n_draws)), 2)
             AS expected_uniform,
           round(observed / u.n_parts, 4) AS coverage
    FROM curve CROSS JOIN universe u
    """,
    tags=("stats", "coverage"),
)
def q_coupon_collector_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coupon-collector coverage: distinct parts seen after the
    first N draws of the ship-date-ordered stream vs the uniform
    expectation n·(1−(1−1/n)^N) — observed persistently BELOW the
    curve quantifies demand concentration (popular parts recur
    before the tail appears), the catalog-coverage audit for
    sampling-based profiling. First-occurrence positions come from
    one global window pass (the heaps_law_fit device on purchase
    streams); the curve is 6 scalar threshold lookups."""
    li = _t(spark, sf_dir, "lineitem")
    seq = li.select(
        "l_partkey",
        F.row_number()
        .over(Window.orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
        .alias("pos"),
    )
    firsts = seq.groupBy("l_partkey").agg(F.min("pos").alias("fp"))
    universe = firsts.agg(F.count("*").cast("double").alias("n_parts"))
    ks = spark.range(3, 9).select(
        F.pow(F.lit(4.0), F.col("id")).cast("bigint").alias("n_draws")
    )
    curve = (
        ks.join(F.broadcast(firsts), F.col("fp") <= F.col("n_draws"))
        .groupBy("n_draws")
        .agg(F.count("*").cast("bigint").alias("observed"))
    )
    expected = F.col("n_parts") * (
        1 - F.pow(1 - 1 / F.col("n_parts"), F.col("n_draws"))
    )
    return (
        curve.join(F.broadcast(universe))
        .select(
            "n_draws",
            "observed",
            F.round(expected, 2).alias("expected_uniform"),
            F.round(F.col("observed") / F.col("n_parts"), 4).alias("coverage"),
        )
    )


@register(
    "morans_i_spatial",
    oracle="""
    WITH cells AS (
      SELECT CAST(floor(((c_custkey * 37 % 3600) / 10.0) / 30.0) AS BIGINT)
               AS gx,
             CAST(floor(((c_custkey * 53 % 1600) / 10.0) / 20.0) AS BIGINT)
               AS gy,
             avg(c_acctbal) AS z
      FROM customer GROUP BY 1, 2),
    mean_z AS (SELECT avg(z) AS zbar, CAST(count(*) AS DOUBLE) AS n
               FROM cells),
    pairs AS (
      SELECT (a.z - m.zbar) * (b.z - m.zbar) AS cross_dev
      FROM cells a JOIN cells b
        ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
      CROSS JOIN mean_z m),
    ss AS (
      SELECT sum((z - m.zbar) * (z - m.zbar)) AS denom
      FROM cells CROSS JOIN mean_z m),
    w AS (SELECT CAST(count(*) AS DOUBLE) AS big_w FROM pairs)
    SELECT round((m.n / w.big_w) * (SELECT sum(cross_dev) FROM pairs)
                 / ss.denom, 6) AS morans_i,
           CAST(m.n AS BIGINT) AS n_cells,
           CAST(w.big_w AS BIGINT) AS n_neighbor_pairs
    FROM mean_z m CROSS JOIN ss CROSS JOIN w
    """,
    tags=("geo", "stats", "spatial-autocorrelation"),
)
def q_morans_i_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation over a grid of cell means
    with rook (edge-sharing) adjacency — THE first geostatistic run
    on any raster product (clustered NDVI → I > 0; the hash-derived
    field here is spatially random, so I ≈ 0 is the pinned read).
    Neighbor pairs come from an adjacency equi-ish join on grid
    coordinates (|Δgx|+|Δgy| = 1 — on a tile lake this is the same
    8/4-neighbor join the focal operators use), cross-deviations
    against a broadcast mean, one scalar assembly at the end."""
    c = _t(spark, sf_dir, "customer")
    gx = F.floor(((F.col("c_custkey") * 37 % 3600) / 10.0) / 30.0).cast("bigint")
    gy = F.floor(((F.col("c_custkey") * 53 % 1600) / 10.0) / 20.0).cast("bigint")
    cells = c.groupBy(gx.alias("gx"), gy.alias("gy")).agg(
        F.avg("c_acctbal").alias("z")
    )
    mean_z = cells.agg(
        F.avg("z").alias("zbar"), F.count("*").cast("double").alias("n")
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = (
        a.join(
            b,
            F.abs(F.col("a.gx") - F.col("b.gx"))
            + F.abs(F.col("a.gy") - F.col("b.gy"))
            == 1,
        )
        .join(F.broadcast(mean_z))
        .select(
            ((F.col("a.z") - F.col("zbar")) * (F.col("b.z") - F.col("zbar"))).alias(
                "cross_dev"
            )
        )
    )
    num = pairs.agg(
        F.sum("cross_dev").alias("s_cross"),
        F.count("*").cast("double").alias("big_w"),
    )
    ss = (
        cells.join(F.broadcast(mean_z))
        .agg(
            F.sum((F.col("z") - F.col("zbar")) * (F.col("z") - F.col("zbar"))).alias(
                "denom"
            )
        )
    )
    return (
        mean_z.join(F.broadcast(num))
        .join(F.broadcast(ss))
        .select(
            F.round(
                (F.col("n") / F.col("big_w")) * F.col("s_cross") / F.col("denom"), 6
            ).alias("morans_i"),
            F.col("n").cast("bigint").alias("n_cells"),
            F.col("big_w").cast("bigint").alias("n_neighbor_pairs"),
        )
    )


@register(
    "variogram_lags",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey AS id,
             (s_suppkey * 37 % 3600) / 10.0 AS x,
             (s_suppkey * 53 % 1600) / 10.0 AS y,
             s_acctbal AS z
      FROM supplier WHERE s_suppkey <= 400),
    pairs AS (
      SELECT CAST(floor(sqrt((a.x - b.x) * (a.x - b.x)
                             + (a.y - b.y) * (a.y - b.y)) / 20.0) AS BIGINT)
               AS lag_band,
             (a.z - b.z) * (a.z - b.z) AS sq_diff
      FROM pts a JOIN pts b ON a.id < b.id)
    SELECT lag_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(sq_diff) / 2.0, 2) AS semivariance
    FROM pairs WHERE lag_band <= 8
    GROUP BY lag_band
    """,
    tags=("geo", "stats", "variogram"),
)
def q_variogram_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram: γ(h) = mean squared value difference
    / 2 for point pairs binned by separation distance — the
    geostatistical structure function behind kriging and the range/
    sill/nugget diagnostics on any NDVI field (a flat variogram here
    = the hash field has no spatial structure; real vegetation shows
    γ rising to a sill at the correlation range). The all-pairs join
    is bounded by the point sample; the production path buckets
    pairs through the grid join (grid_bucketed_spatial_join) so only
    near pairs — the informative ones — are ever formed."""
    s = _t(spark, sf_dir, "supplier")
    pts = s.filter(F.col("s_suppkey") <= 400).select(
        F.col("s_suppkey").alias("id"),
        ((F.col("s_suppkey") * 37 % 3600) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 53 % 1600) / 10.0).alias("y"),
        F.col("s_acctbal").alias("z"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    dist = F.sqrt(
        (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
        + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
    )
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.floor(dist / 20.0).cast("bigint").alias("lag_band"),
        ((F.col("a.z") - F.col("b.z")) * (F.col("a.z") - F.col("b.z"))).alias(
            "sq_diff"
        ),
    )
    return (
        pairs.filter(F.col("lag_band") <= 8)
        .groupBy("lag_band")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("sq_diff") / 2.0, 2).alias("semivariance"),
        )
    )


@register(
    "ripley_k_clustering",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey AS id,
             (s_suppkey * 37 % 3600) / 10.0 AS x,
             (s_suppkey * 53 % 1600) / 10.0 AS y
      FROM supplier WHERE s_suppkey <= 400),
    meta AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                    360.0 * 160.0 AS area FROM pts),
    pairs AS (
      SELECT sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
               AS d
      FROM pts a JOIN pts b ON a.id <> b.id),
    radii AS (SELECT unnest(generate_series(1, 5)) * 10.0 AS r)
    SELECT r,
           round((SELECT m.area / (m.n * (m.n - 1)) FROM meta m)
                 * (SELECT count(*) FROM pairs WHERE d <= radii.r), 2)
             AS k_observed,
           round(pi() * r * r, 2) AS k_csr,
           round(sqrt(((SELECT m.area / (m.n * (m.n - 1)) FROM meta m)
                       * (SELECT count(*) FROM pairs WHERE d <= radii.r))
                      / pi()) - r, 3) AS l_minus_r
    FROM radii
    """,
    tags=("geo", "stats", "point-pattern"),
)
def q_ripley_k_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K point-pattern statistic: observed pair density
    within radius r against the complete-spatial-randomness
    expectation πr², with the variance-stabilized L(r)−r transform
    (≈0 random, >0 clustered, <0 dispersed — how plot/station
    layouts and crime/disease point sets are screened). The pair
    relation is reused across all radii via threshold aggregation —
    one all-pairs join on the bounded sample, not one per radius;
    production uses the grid-bucket join for near pairs and edge
    corrections."""
    s = _t(spark, sf_dir, "supplier")
    pts = s.filter(F.col("s_suppkey") <= 400).select(
        F.col("s_suppkey").alias("id"),
        ((F.col("s_suppkey") * 37 % 3600) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 53 % 1600) / 10.0).alias("y"),
    )
    meta = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.lit(360.0 * 160.0).alias("area"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.sqrt(
            (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
            + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
        ).alias("d")
    )
    radii = spark.range(1, 6).select((F.col("id") * 10.0).alias("r"))
    counts = (
        radii.join(pairs, F.col("d") <= F.col("r"))
        .groupBy("r")
        .agg(F.count("*").cast("double").alias("n_within"))
    )
    k_obs = (F.col("area") / (F.col("n") * (F.col("n") - 1))) * F.col("n_within")
    return (
        counts.join(F.broadcast(meta))
        .select(
            "r",
            F.round(k_obs, 2).alias("k_observed"),
            F.round(F.lit(math.pi) * F.col("r") * F.col("r"), 2).alias("k_csr"),
            F.round(F.sqrt(k_obs / math.pi) - F.col("r"), 3).alias("l_minus_r"),
        )
    )


@register(
    "price_index_fisher",
    oracle="""
    WITH base AS (
      SELECT l_partkey,
             avg(l_extendedprice / l_quantity) AS p0,
             sum(l_quantity) AS q0
      FROM lineitem
      WHERE CAST(strftime(CAST(l_shipdate AS DATE), '%Y') AS INT) = 1996
        AND l_quantity > 0
      GROUP BY l_partkey),
    curr AS (
      SELECT l_partkey,
             avg(l_extendedprice / l_quantity) AS p1,
             sum(l_quantity) AS q1
      FROM lineitem
      WHERE CAST(strftime(CAST(l_shipdate AS DATE), '%Y') AS INT) = 1997
        AND l_quantity > 0
      GROUP BY l_partkey),
    joined AS (
      SELECT p0, q0, p1, q1 FROM base JOIN curr USING (l_partkey))
    SELECT round(sum(p1 * q0) / sum(p0 * q0), 6) AS laspeyres,
           round(sum(p1 * q1) / sum(p0 * q1), 6) AS paasche,
           round(sqrt((sum(p1 * q0) / sum(p0 * q0))
                      * (sum(p1 * q1) / sum(p0 * q1))), 6) AS fisher,
           CAST(count(*) AS BIGINT) AS n_matched_parts
    FROM joined
    """,
    tags=("economics", "index", "join"),
)
def q_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price index numbers between two years on the matched part
    basket: Laspeyres (base-period quantities), Paasche (current),
    and their geometric mean — the Fisher ideal index, which is how
    CPI-style aggregate price change is actually computed (L
    overstates, P understates substitution; F splits the bias). Two
    filtered per-part aggregates, an inner join on the matched
    basket, four weighted sums in one pass."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    yr = F.year(F.col("l_shipdate").cast("date"))

    def year_px(y: int, p: str, q: str) -> DataFrame:
        return (
            li.filter(yr == y)
            .groupBy("l_partkey")
            .agg(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias(p),
                F.sum("l_quantity").alias(q),
            )
        )

    joined = year_px(1996, "p0", "q0").join(year_px(1997, "p1", "q1"), "l_partkey")
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))
    return joined.agg(
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.count("*").cast("bigint").alias("n_matched_parts"),
    )


@register(
    "temperature_mixture_weights",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n
      FROM documents GROUP BY source),
    powered AS (
      SELECT source, n,
             pow(n, 1.0 / 1.0) AS p1,
             pow(n, 1.0 / 2.0) AS p2,
             pow(n, 1.0 / 5.0) AS p5
      FROM counts)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           round(p1 / sum(p1) OVER (), 6) AS w_tau1,
           round(p2 / sum(p2) OVER (), 6) AS w_tau2,
           round(p5 / sum(p5) OVER (), 6) AS w_tau5
    FROM powered
    """,
    tags=("training", "mixture", "sampling"),
)
def q_temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights w_s ∝ n_s^{1/τ} — the
    corpus-sampling rule from multilingual LM training (mC4/mT5:
    τ=1 reproduces natural proportions, τ→∞ uniform; τ≈2-5 is where
    low-resource sources get boosted without drowning the head).
    The three columns show the re-balancing explicitly. A
    |sources|-row aggregate and window normalizations — the weight
    table then drives mixture_sampling's keep decisions."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").cast("double").alias("n"))
    wall = Window.partitionBy()
    powered = counts.select(
        "source",
        "n",
        F.pow("n", 1.0).alias("p1"),
        F.pow("n", 0.5).alias("p2"),
        F.pow("n", 0.2).alias("p5"),
    )
    return powered.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(F.col("p1") / F.sum("p1").over(wall), 6).alias("w_tau1"),
        F.round(F.col("p2") / F.sum("p2").over(wall), 6).alias("w_tau2"),
        F.round(F.col("p5") / F.sum("p5").over(wall), 6).alias("w_tau5"),
    )


@register(
    "nth_value_milestones",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey,
             nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_order_value,
             nth_value(o_totalprice, 5) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS fifth_order_value,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(second_order_value) AS BIGINT) AS has_second,
           CAST(count(fifth_order_value) AS BIGINT) AS has_fifth,
           round(avg(second_order_value), 2) AS mean_second_value,
           round(avg(fifth_order_value), 2) AS mean_fifth_value
    FROM ranked WHERE rn = 1
    """,
    tags=("window", "milestones"),
)
def q_nth_value_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milestone-order values via NTH_VALUE over the full-partition
    frame (the default running frame would return NULL until row n —
    the classic nth_value trap, avoided by the explicit UNBOUNDED
    FOLLOWING): each customer's 2nd and 5th order value, read off
    the first row per customer — the 'what does their second
    purchase look like' merchandising question, without a self-join
    on row_number. One window pass; the rn=1 filter keeps one row
    per customer."""
    o = _t(spark, sf_dir, "orders")
    wfull = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wrn = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_order_value"),
        F.nth_value("o_totalprice", 5).over(wfull).alias("fifth_order_value"),
        F.row_number().over(wrn).alias("rn"),
    ).filter(F.col("rn") == 1)
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.count("second_order_value").cast("bigint").alias("has_second"),
        F.count("fifth_order_value").cast("bigint").alias("has_fifth"),
        F.round(F.avg("second_order_value"), 2).alias("mean_second_value"),
        F.round(F.avg("fifth_order_value"), 2).alias("mean_fifth_value"),
    )


@register(
    "weighted_correlation",
    oracle="""
    WITH base AS (
      SELECT l_quantity AS w, l_extendedprice AS x, l_discount AS y
      FROM lineitem),
    m AS (
      SELECT sum(w) AS sw,
             sum(w * x) / sum(w) AS mx,
             sum(w * y) / sum(w) AS my
      FROM base)
    SELECT round(
             (sum(w * (x - mx) * (y - my)) / m.sw)
             / (sqrt(sum(w * (x - mx) * (x - mx)) / m.sw)
                * sqrt(sum(w * (y - my) * (y - my)) / m.sw)), 6)
             AS weighted_corr,
           round(corr(x, y), 6) AS unweighted_corr,
           CAST(count(*) AS BIGINT) AS n
    FROM base CROSS JOIN m
    GROUP BY m.sw
    """,
    tags=("stats", "weighted"),
)
def q_weighted_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted Pearson correlation — each lineitem votes
    with its volume, so the association reflects units moved rather
    than rows logged (the difference matters whenever row counts and
    economic weight diverge: one 50-unit line ≠ fifty 1-unit lines).
    Weighted means in one pass, weighted central moments in a second
    against the broadcast means; the unweighted corr sits alongside
    to expose the gap."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").alias("w"),
        F.col("l_extendedprice").alias("x"),
        F.col("l_discount").alias("y"),
    )
    m = base.agg(
        F.sum("w").alias("sw"),
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("mx"),
        (F.sum(F.col("w") * F.col("y")) / F.sum("w")).alias("my"),
    )
    j = base.join(F.broadcast(m))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    wcov = F.sum(F.col("w") * dx * dy) / F.first("sw")
    wvx = F.sum(F.col("w") * dx * dx) / F.first("sw")
    wvy = F.sum(F.col("w") * dy * dy) / F.first("sw")
    return j.groupBy("sw").agg(
        F.round(wcov / (F.sqrt(wvx) * F.sqrt(wvy)), 6).alias("weighted_corr"),
        F.round(F.corr("x", "y"), 6).alias("unweighted_corr"),
        F.count("*").cast("bigint").alias("n"),
    ).drop("sw")


@register(
    "power_mde_table",
    oracle="""
    WITH arms AS (
      SELECT event_type,
             stddev_samp(value) AS sigma,
             CAST(count(*) AS DOUBLE) AS n,
             avg(value) AS mu
      FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_per_arm,
           round((1.959964 + 0.841621) * sigma * sqrt(2.0 / n), 5)
             AS mde_absolute,
           round((1.959964 + 0.841621) * sigma * sqrt(2.0 / n) / mu, 4)
             AS mde_relative
    FROM arms
    """,
    tags=("stats", "experimentation", "power"),
)
def q_power_mde_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at α=0.05 / 80% power:
    MDE = (z_{α/2}+z_β)·σ·√(2/n) per metric — the pre-experiment
    sizing table (an experiment whose expected lift is below its MDE
    is decided before it runs; the design-time complement to
    welch_ttest's read-out and cuped's variance reduction, whose
    effect here is a smaller σ). One grouped-moments pass; the z
    constants are literals, folded at plan time."""
    e = _t(spark, sf_dir, "events")
    arms = (
        e.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.stddev_samp("value").alias("sigma"),
            F.count("*").cast("double").alias("n"),
            F.avg("value").alias("mu"),
        )
    )
    mde = (1.959964 + 0.841621) * F.col("sigma") * F.sqrt(2.0 / F.col("n"))
    return arms.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_per_arm"),
        F.round(mde, 5).alias("mde_absolute"),
        F.round(mde / F.col("mu"), 4).alias("mde_relative"),
    )


@register(
    "ratio_metric_delta_method",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    m AS (
      SELECT avg(x) AS mx, avg(y) AS my,
             var_samp(x) AS vx, var_samp(y) AS vy,
             covar_samp(x, y) AS cxy,
             CAST(count(*) AS DOUBLE) AS n
      FROM per_user)
    SELECT round(mx / my, 6) AS ratio_purchases_per_event,
           round(sqrt((vx / (my * my)
                       - 2 * mx * cxy / (my * my * my)
                       + mx * mx * vy / (my * my * my * my)) / n), 6)
             AS se_delta_method,
           round(sqrt(vx / n) / my, 6) AS se_naive,
           CAST(n AS BIGINT) AS n_users
    FROM m
    """,
    tags=("stats", "experimentation", "ratio"),
)
def q_ratio_metric_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a ratio-of-means metric
    (purchases per event, user-clustered): Var(x̄/ȳ) ≈ (Vx/ȳ² −
    2x̄·Cxy/ȳ³ + x̄²·Vy/ȳ⁴)/n — the correction every experiment
    platform applies because users, not events, are the independent
    unit; the naive SE (which ignores denominator variance and the
    covariance) sits alongside to show the bias. One per-user
    aggregate, one moments row, scalar algebra."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("x"),
        F.count("*").cast("double").alias("y"),
    )
    m = per_user.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
        F.count("*").cast("double").alias("n"),
    )
    my2 = F.col("my") * F.col("my")
    var_delta = (
        F.col("vx") / my2
        - 2 * F.col("mx") * F.col("cxy") / (my2 * F.col("my"))
        + F.col("mx") * F.col("mx") * F.col("vy") / (my2 * my2)
    ) / F.col("n")
    return m.select(
        F.round(F.col("mx") / F.col("my"), 6).alias("ratio_purchases_per_event"),
        F.round(F.sqrt(var_delta), 6).alias("se_delta_method"),
        F.round(F.sqrt(F.col("vx") / F.col("n")) / F.col("my"), 6).alias("se_naive"),
        F.col("n").cast("bigint").alias("n_users"),
    )


@register(
    "jackknife_nation_se",
    oracle="""
    WITH groups AS (
      SELECT c_nationkey AS g,
             sum(o_totalprice) AS s_g,
             CAST(count(*) AS DOUBLE) AS n_g
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey),
    tot AS (
      SELECT sum(s_g) AS s, sum(n_g) AS n,
             CAST(count(*) AS DOUBLE) AS k
      FROM groups),
    loo AS (
      SELECT (t.s - g.s_g) / (t.n - g.n_g) AS theta_i, t.k,
             t.s / t.n AS theta
      FROM groups g CROSS JOIN tot t),
    jk AS (
      SELECT k, theta, var_pop(theta_i) AS vp
      FROM loo GROUP BY k, theta)
    SELECT round(theta, 4) AS mean_order_value,
           round(sqrt((k - 1) / k * k * vp), 4) AS jackknife_se,
           CAST(k AS BIGINT) AS n_groups
    FROM jk
    """,
    tags=("stats", "resampling"),
)
def q_jackknife_nation_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife SE of the mean order value with
    nations as the resampling unit: each leave-one-out estimate is
    pure ALGEBRA on the group sums ((S−s_g)/(N−n_g)) — resampling
    inference with no random numbers and no data replication, which
    is why the jackknife (not the bootstrap) is what cluster-robust
    pipelines deploy at scale. Group sums in one pass, k tiny
    replicate rows, the (k−1)/k-scaled spread at the end."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    groups = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("g"))
        .agg(
            F.sum("o_totalprice").alias("s_g"),
            F.count("*").cast("double").alias("n_g"),
        )
    )
    tot = groups.agg(
        F.sum("s_g").alias("s"),
        F.sum("n_g").alias("n"),
        F.count("*").cast("double").alias("k"),
    )
    loo = groups.join(F.broadcast(tot)).select(
        ((F.col("s") - F.col("s_g")) / (F.col("n") - F.col("n_g"))).alias(
            "theta_i"
        ),
        "k",
        (F.col("s") / F.col("n")).alias("theta"),
    )
    jk = loo.groupBy("k", "theta").agg(
        F.avg("theta_i").alias("theta_bar"),
        F.var_pop("theta_i").alias("vp"),
        F.count("*").alias("kk"),
    )
    # Σ(θi − θ̄)² = k·var_pop
    return jk.select(
        F.round("theta", 4).alias("mean_order_value"),
        F.round(
            F.sqrt((F.col("k") - 1) / F.col("k") * F.col("k") * F.col("vp")), 4
        ).alias("jackknife_se"),
        F.col("k").cast("bigint").alias("n_groups"),
    )


@register(
    "hash_uniformity_ks",
    oracle="""
    WITH u AS (
      SELECT (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
              + 1) / 4294967296.0 AS v
      FROM orders),
    ranked AS (
      SELECT v,
             CAST(row_number() OVER (ORDER BY v) AS DOUBLE) AS r,
             CAST(count(*) OVER () AS DOUBLE) AS n
      FROM u)
    SELECT round(max(greatest(r / n - v, v - (r - 1) / n)), 6) AS ks_d,
           round(max(greatest(r / n - v, v - (r - 1) / n))
                 * sqrt(max(n)), 4) AS ks_scaled,
           CAST(max(n) AS BIGINT) AS n
    FROM ranked
    """,
    tags=("stats", "audit", "hash"),
)
def q_hash_uniformity_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov–Smirnov test of the md5-derived
    uniforms against U(0,1) — the audit underneath EVERY
    deterministic-sampling device in this engine (hash splits,
    Efraimidis–Spirakis keys, DP noise, pseudo-treatments): if these
    aren't uniform, all of them are biased. D = max(ECDF−u, u−ECDF⁻)
    from one sorted pass; √n·D ≈ 0.5–1.1 is the in-spec band (the
    Kolmogorov distribution's bulk), and a bad hash (e.g. taking
    DECIMAL digits of the key) fails it by orders of magnitude."""
    o = _t(spark, sf_dir, "orders")
    u = o.select(
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("double")
                + 1
            )
            / 4294967296.0
        ).alias("v")
    )
    from ...operators.rank import global_ranked

    ranked = global_ranked(
        u, ["v"], row_number="rn", total_count="nn"
    ).select(
        "v",
        F.col("rn").cast("double").alias("r"),
        F.col("nn").cast("double").alias("n"),
    )
    d = F.greatest(
        F.col("r") / F.col("n") - F.col("v"),
        F.col("v") - (F.col("r") - 1) / F.col("n"),
    )
    return ranked.agg(
        F.round(F.max(d), 6).alias("ks_d"),
        F.round(F.max(d) * F.sqrt(F.max("n")), 4).alias("ks_scaled"),
        F.max("n").cast("bigint").alias("n"),
    )


@register(
    "mantel_haenszel_pooled",
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
      GROUP BY p_brand),
    agg AS (
      SELECT sum(a) AS sa, sum(b) AS sb, sum(c) AS sc, sum(d) AS sd,
             sum(a * d / (a + b + c + d)) AS mh_num,
             sum(b * c / (a + b + c + d)) AS mh_den,
             CAST(count(*) AS BIGINT) AS n_strata
      FROM cells)
    SELECT round((sa * sd) / (sb * sc), 4) AS crude_or,
           round(mh_num / mh_den, 4) AS mantel_haenszel_or,
           n_strata
    FROM agg
    """,
    tags=("stats", "epidemiology", "stratified"),
)
def q_mantel_haenszel_pooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across brand strata next to
    the crude (collapsed-table) OR — the stratified estimator that
    survives Simpson's paradox: when strata differ in both exposure
    mix and baseline risk, the crude OR can even flip sign while MH
    stays faithful (per-stratum ORs live in odds_ratio_returns). The
    per-stratum 2×2 cells come from one conditional-agg pass; the MH
    weights (b·c/n, a·d/n) reduce to two more sums."""
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
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    agg = cells.agg(
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("c").alias("sc"),
        F.sum("d").alias("sd"),
        F.sum(F.col("a") * F.col("d") / n).alias("mh_num"),
        F.sum(F.col("b") * F.col("c") / n).alias("mh_den"),
        F.count("*").cast("bigint").alias("n_strata"),
    )
    return agg.select(
        F.round((F.col("sa") * F.col("sd")) / (F.col("sb") * F.col("sc")), 4).alias(
            "crude_or"
        ),
        F.round(F.col("mh_num") / F.col("mh_den"), 4).alias("mantel_haenszel_or"),
        "n_strata",
    )


@register(
    "geometric_median_weiszfeld",
    oracle="""
    WITH pts AS (
      SELECT (s_suppkey * 37 % 3600) / 10.0 AS x,
             (s_suppkey * 53 % 1600) / 10.0 AS y
      FROM supplier WHERE s_suppkey <= 200),
    c0 AS (SELECT avg(x) AS cx, avg(y) AS cy FROM pts),
    it1 AS (
      SELECT sum(x / d) / sum(1 / d) AS cx, sum(y / d) / sum(1 / d) AS cy
      FROM (SELECT x, y,
                   sqrt((x - c0.cx) * (x - c0.cx)
                        + (y - c0.cy) * (y - c0.cy)) + 1e-9 AS d
            FROM pts CROSS JOIN c0)),
    it2 AS (
      SELECT sum(x / d) / sum(1 / d) AS cx, sum(y / d) / sum(1 / d) AS cy
      FROM (SELECT x, y,
                   sqrt((x - it1.cx) * (x - it1.cx)
                        + (y - it1.cy) * (y - it1.cy)) + 1e-9 AS d
            FROM pts CROSS JOIN it1))
    SELECT round(it2.cx, 4) AS median_x, round(it2.cy, 4) AS median_y,
           round(c0.cx, 4) AS centroid_x, round(c0.cy, 4) AS centroid_y,
           (SELECT round(sum(sqrt((x - it2.cx) * (x - it2.cx)
                                  + (y - it2.cy) * (y - it2.cy))), 2)
            FROM pts) AS total_dist_at_median
    FROM it2 CROSS JOIN c0
    """,
    tags=("geo", "iterative", "robust"),
)
def q_geometric_median_weiszfeld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median by Weiszfeld iteration (two unrolled steps
    from the centroid): the L1-optimal facility location — where the
    mean point chases outliers, the geometric median doesn't, which
    is why robust-aggregation schemes (including federated-learning
    aggregators) use exactly this iteration. Each step is ONE
    aggregate over the points against a broadcast 1-row center —
    the unrolled-iteration oracle device from kmeans/pagerank at its
    smallest."""
    s = _t(spark, sf_dir, "supplier")
    pts = s.filter(F.col("s_suppkey") <= 200).select(
        ((F.col("s_suppkey") * 37 % 3600) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 53 % 1600) / 10.0).alias("y"),
    )
    c0 = pts.agg(F.avg("x").alias("cx"), F.avg("y").alias("cy"))

    def step(center: DataFrame) -> DataFrame:
        d = (
            F.sqrt(
                (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
            )
            + 1e-9
        )
        return (
            pts.join(F.broadcast(center))
            .select("x", "y", d.alias("d"))
            .agg(
                (F.sum(F.col("x") / F.col("d")) / F.sum(1 / F.col("d"))).alias("cx"),
                (F.sum(F.col("y") / F.col("d")) / F.sum(1 / F.col("d"))).alias("cy"),
            )
        )

    it2 = step(step(c0))
    dist_at = (
        pts.join(F.broadcast(it2.select(F.col("cx").alias("mx"), F.col("cy").alias("my"))))
        .agg(
            F.round(
                F.sum(
                    F.sqrt(
                        (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
                        + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
                    )
                ),
                2,
            ).alias("total_dist_at_median")
        )
    )
    return (
        it2.join(F.broadcast(c0.select(F.col("cx").alias("centroid_x"), F.col("cy").alias("centroid_y"))))
        .join(F.broadcast(dist_at))
        .select(
            F.round("cx", 4).alias("median_x"),
            F.round("cy", 4).alias("median_y"),
            F.round("centroid_x", 4).alias("centroid_x"),
            F.round("centroid_y", 4).alias("centroid_y"),
            "total_dist_at_median",
        )
    )


@register(
    "theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS t,
             sum(o_totalprice) AS v
      FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1995-07-01'
      GROUP BY 1, 2),
    slopes AS (
      SELECT (b.v - a.v) / (b.t - a.t) AS slope
      FROM daily a JOIN daily b ON a.t < b.t)
    SELECT round(quantile_cont(slope, 0.5), 4) AS theil_sen_slope,
           (SELECT round(regr_slope(v, CAST(t AS DOUBLE)), 4) FROM daily)
             AS ols_slope,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM slopes
    """,
    tags=("stats", "robust", "regression"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend estimator: the MEDIAN of all pairwise slopes
    — up to 29% contamination cannot move it, where a single wild
    day drags OLS (shown alongside); the robust-trend standard in
    environmental series, including NDVI greening analyses (ndvi_
    trend's regr_slope is the parametric twin). All-pairs is O(n²)
    in |days| — bounded by the half-year window; the large-series
    variant samples pairs, same median."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.filter(F.col("o_orderdate").cast("date") < F.lit("1995-07-01").cast("date"))
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            ).alias("t")
        )
        .agg(F.sum("o_totalprice").alias("v"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(b, F.col("a.t") < F.col("b.t")).select(
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.t") - F.col("a.t"))).alias(
            "slope"
        )
    )
    ols = daily.agg(
        F.round(F.regr_slope("v", F.col("t").cast("double")), 4).alias("ols_slope")
    )
    return (
        slopes.agg(
            F.round(F.expr("percentile(slope, 0.5)"), 4).alias("theil_sen_slope"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
        .join(F.broadcast(ols))
        .select("theil_sen_slope", "ols_slope", "n_pairs")
    )


@register(
    "median_of_means",
    oracle="""
    WITH bucketed AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2))::UBIGINT
               % 16 AS bkt,
             o_totalprice AS v
      FROM orders),
    means AS (
      SELECT bkt, avg(v) AS m, CAST(count(*) AS BIGINT) AS n_b
      FROM bucketed GROUP BY bkt)
    SELECT round(quantile_cont(m, 0.5), 4) AS median_of_means,
           (SELECT round(avg(o_totalprice), 4) FROM orders) AS plain_mean,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(min(n_b) AS BIGINT) AS smallest_bucket
    FROM means
    """,
    tags=("stats", "robust", "scale"),
)
def q_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means: hash the rows into 16 deterministic buckets,
    average each, take the median — the heavy-tail-robust mean
    estimator with exponential concentration where the plain mean
    has only Chebyshev (the theory workhorse behind robust sketching;
    a single corrupted shard moves one bucket mean, not the
    estimate). The bucketing is the map side of any aggregation —
    zero extra passes over the data versus the plain mean it's
    shown against."""
    o = _t(spark, sf_dir, "orders")
    bkt = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10
        ).cast("long"),
        F.lit(16),
    )
    means = (
        o.select(bkt.alias("bkt"), F.col("o_totalprice").alias("v"))
        .groupBy("bkt")
        .agg(F.avg("v").alias("m"), F.count("*").cast("bigint").alias("n_b"))
    )
    plain = o.agg(F.round(F.avg("o_totalprice"), 4).alias("plain_mean"))
    return (
        means.agg(
            F.round(F.expr("percentile(m, 0.5)"), 4).alias("median_of_means"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.min("n_b").cast("bigint").alias("smallest_bucket"),
        )
        .join(F.broadcast(plain))
        .select("median_of_means", "plain_mean", "n_buckets", "smallest_bucket")
    )


@register(
    "seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(strftime(CAST(o_orderdate AS DATE), '%w') AS INT) AS wd,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1, 2),
    seasonal AS (
      SELECT wd, avg(v) AS s FROM daily GROUP BY wd),
    decomp AS (
      SELECT v, s, v - s AS r
      FROM daily JOIN seasonal USING (wd))
    SELECT round(greatest(0.0, 1.0 - var_pop(r) / var_pop(v)), 4)
             AS seasonal_strength,
           round(var_pop(v), 2) AS var_total,
           round(var_pop(r), 2) AS var_remainder,
           CAST(count(*) AS BIGINT) AS n_days
    FROM decomp
    """,
    tags=("timeseries", "seasonal", "decomposition"),
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength F_s = max(0, 1 − Var(remainder)/Var(series))
    after removing weekday means — the STL-style scalar (Hyndman's
    feature) that decides whether seasonal modeling is worth its
    complexity at all: F_s ≈ 0 on this flat generator means the
    weekday index (seasonal_index_monthly) carries no signal, and a
    forecaster should say so. One weekday-means pass broadcast back,
    two variances."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("wd"),
    ).agg(F.sum("o_totalprice").alias("v"))
    seasonal = daily.groupBy("wd").agg(F.avg("v").alias("s"))
    decomp = daily.join(F.broadcast(seasonal), "wd").select(
        "v", (F.col("v") - F.col("s")).alias("r")
    )
    return decomp.agg(
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.var_pop("r") / F.var_pop("v")), 4
        ).alias("seasonal_strength"),
        F.round(F.var_pop("v"), 2).alias("var_total"),
        F.round(F.var_pop("r"), 2).alias("var_remainder"),
        F.count("*").cast("bigint").alias("n_days"),
    )


@register(
    "capture_recapture_estimate",
    oracle=None,  # finalized below (QuerySpec replacement)
    tags=("stats", "estimation", "coverage"),
)
def q_capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture-recapture: two independent
    hash-defined 'survey passes' over orders each capture a set of
    parts; universe estimate N̂ = n1·n2/overlap, compared against
    the true distinct-part count — the mark-recapture method used to
    size unseen populations (how many pages a crawl is missing, how
    many dup clusters dedup hasn't found). Chapman's +1 correction
    keeps the estimator finite on small overlaps."""
    li = _t(spark, sf_dir, "lineitem")
    h = F.md5(F.col("l_orderkey").cast("string"))
    s1 = li.filter(F.substring(h, 1, 1) < "4").select("l_partkey").distinct()
    s2 = li.filter(F.substring(h, 2, 1) < "4").select("l_partkey").distinct()
    both = s1.intersect(s2)
    truth = li.select("l_partkey").distinct()
    n1, n2, m, t = s1.count(), s2.count(), both.count(), truth.count()
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    return local_df(
        spark,
        [
            (
                n1,
                n2,
                m,
                round(chapman, 1),
                t,
                round(chapman / t, 4),
            )
        ],
        "n_sample1 LONG, n_sample2 LONG, n_overlap LONG, "
        "estimated_universe DOUBLE, true_universe LONG, estimate_ratio DOUBLE",
    )


_spec_cr = REGISTRY["capture_recapture_estimate"]
REGISTRY["capture_recapture_estimate"] = QuerySpec(
    _spec_cr.builder,
    """
    WITH sample1 AS (
      SELECT DISTINCT l_partkey FROM lineitem
      WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '4'),
    sample2 AS (
      SELECT DISTINCT l_partkey FROM lineitem
      WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 2, 1) < '4'),
    ov AS (SELECT l_partkey FROM sample1 INTERSECT
           SELECT l_partkey FROM sample2),
    m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM sample1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM sample2) AS n2,
             (SELECT CAST(count(*) AS BIGINT) FROM ov) AS ovl,
             (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
              FROM lineitem) AS t)
    SELECT n1 AS n_sample1, n2 AS n_sample2, ovl AS n_overlap,
           round((n1 + 1.0) * (n2 + 1.0) / (ovl + 1.0) - 1, 1)
             AS estimated_universe,
           t AS true_universe,
           round(((n1 + 1.0) * (n2 + 1.0) / (ovl + 1.0) - 1) / t, 4)
             AS estimate_ratio
    FROM m
    """,
    _spec_cr.headline,
    _spec_cr.tags,
)


@register(
    "unseen_mass_estimates",
    oracle="""
    WITH freq AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS f
      FROM lineitem GROUP BY l_partkey),
    fof AS (SELECT f, CAST(count(*) AS DOUBLE) AS ff FROM freq GROUP BY f),
    m AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM freq) AS s_obs,
             (SELECT CAST(sum(f) AS DOUBLE) FROM freq) AS n_tokens,
             coalesce((SELECT ff FROM fof WHERE f = 1), 0) AS f1,
             coalesce((SELECT ff FROM fof WHERE f = 2), 0) AS f2)
    SELECT CAST(s_obs AS BIGINT) AS species_observed,
           round(s_obs + f1 * f1 / (2 * greatest(f2, 1)), 1) AS chao1_estimate,
           round(f1 / n_tokens, 6) AS good_turing_unseen_mass,
           CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons
    FROM m
    """,
    tags=("stats", "coverage", "estimation"),
)
def q_unseen_mass_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-population estimates from the frequency-of-frequencies
    (the Good–Turing substrate): Chao1 richness S + f1²/2f2 (how
    many part types exist that the sample never showed) and the
    Good–Turing unseen probability mass f1/N (how much of the NEXT
    draw is novel) — the pair that tells a corpus builder whether
    more crawling still buys vocabulary (complementing
    capture_recapture's two-sample view with a single-sample one).
    Two nested aggregates; f-of-f is tiny."""
    li = _t(spark, sf_dir, "lineitem")
    freq = li.groupBy("l_partkey").agg(F.count("*").alias("f"))
    fof = freq.groupBy("f").agg(F.count("*").cast("double").alias("ff"))
    s_obs = freq.agg(
        F.count("*").cast("double").alias("s_obs"),
        F.sum("f").cast("double").alias("n_tokens"),
    )
    fs = fof.agg(
        F.coalesce(F.sum(F.when(F.col("f") == 1, F.col("ff"))), F.lit(0.0)).alias(
            "f1"
        ),
        F.coalesce(F.sum(F.when(F.col("f") == 2, F.col("ff"))), F.lit(0.0)).alias(
            "f2"
        ),
    )
    m = s_obs.join(F.broadcast(fs))
    return m.select(
        F.col("s_obs").cast("bigint").alias("species_observed"),
        F.round(
            F.col("s_obs")
            + F.col("f1") * F.col("f1") / (2 * F.greatest(F.col("f2"), F.lit(1.0))),
            1,
        ).alias("chao1_estimate"),
        F.round(F.col("f1") / F.col("n_tokens"), 6).alias(
            "good_turing_unseen_mass"
        ),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
    )


@register(
    "birthday_hash_collisions",
    oracle="""
    WITH hashed AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::UBIGINT
               AS bkt
      FROM orders),
    per_bucket AS (
      SELECT bkt, CAST(count(*) AS DOUBLE) AS c
      FROM hashed GROUP BY bkt),
    m AS (
      SELECT sum(c * (c - 1) / 2) AS observed_pairs,
             sum(c) AS n
      FROM per_bucket)
    SELECT CAST(observed_pairs AS BIGINT) AS observed_colliding_pairs,
           round(n * (n - 1) / 2 / 65536.0, 1) AS expected_pairs,
           round(observed_pairs / (n * (n - 1) / 2 / 65536.0), 3)
             AS obs_over_exp,
           CAST(n AS BIGINT) AS n_keys
    FROM m
    """,
    tags=("stats", "hash", "audit"),
)
def q_birthday_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday-bound collision audit on a 16-bit hash: colliding
    pairs Σc(c−1)/2 against the n(n−1)/2·2⁻ᵏ expectation — the check
    that sizes LSH band keys and shard counts before deployment
    (obs/exp ≈ 1 = the hash behaves; ≫1 = key-space too small or
    hash broken, and every bucket join downstream degrades toward
    quadratic). One group-count pass on the derived bucket."""
    o = _t(spark, sf_dir, "orders")
    bkt = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10
    ).cast("long")
    per_bucket = o.select(bkt.alias("bkt")).groupBy("bkt").agg(
        F.count("*").cast("double").alias("c")
    )
    m = per_bucket.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("observed_pairs"),
        F.sum("c").alias("n"),
    )
    exp_pairs = F.col("n") * (F.col("n") - 1) / 2 / 65536.0
    return m.select(
        F.col("observed_pairs").cast("bigint").alias("observed_colliding_pairs"),
        F.round(exp_pairs, 1).alias("expected_pairs"),
        F.round(F.col("observed_pairs") / exp_pairs, 3).alias("obs_over_exp"),
        F.col("n").cast("bigint").alias("n_keys"),
    )


@register(
    "ljung_box_residual_whiteness",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(strftime(CAST(o_orderdate AS DATE), '%w') AS INT) AS wd,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1, 2),
    seasonal AS (SELECT wd, avg(v) AS s FROM daily GROUP BY wd),
    resid AS (
      SELECT d, v - s AS r FROM daily JOIN seasonal USING (wd)),
    lagged AS (
      SELECT r,
             lag(r, 1) OVER (ORDER BY d) AS r1,
             lag(r, 2) OVER (ORDER BY d) AS r2,
             lag(r, 3) OVER (ORDER BY d) AS r3
      FROM resid),
    acfs AS (
      SELECT corr(r, r1) AS a1, corr(r, r2) AS a2, corr(r, r3) AS a3,
             CAST(count(*) AS DOUBLE) AS n
      FROM lagged)
    SELECT round(n * (n + 2) * (a1 * a1 / (n - 1) + a2 * a2 / (n - 2)
                                + a3 * a3 / (n - 3)), 4) AS ljung_box_q3,
           round(a1, 4) AS acf1, round(a2, 4) AS acf2, round(a3, 4) AS acf3,
           CAST(n AS BIGINT) AS n
    FROM acfs
    """,
    tags=("timeseries", "stats", "diagnostics"),
)
def q_ljung_box_residual_whiteness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau statistic (3 lags) on the
    seasonally-adjusted residuals: Q = n(n+2)Σρ²ₖ/(n−k) — the
    residual-whiteness check a forecaster runs AFTER removing
    structure (here the weekday means from seasonal_strength);
    Q under ~χ²₃'s bulk (≲ 7.8) = nothing left to model, the proper
    companion to runs_test's sign-based view. One lag window over
    the residual series, three correlations, scalar assembly."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("wd"),
    ).agg(F.sum("o_totalprice").alias("v"))
    seasonal = daily.groupBy("wd").agg(F.avg("v").alias("s"))
    resid = daily.join(F.broadcast(seasonal), "wd").select(
        "d", (F.col("v") - F.col("s")).alias("r")
    )
    w = Window.orderBy("d")
    lagged = resid.select(
        "r",
        F.lag("r", 1).over(w).alias("r1"),
        F.lag("r", 2).over(w).alias("r2"),
        F.lag("r", 3).over(w).alias("r3"),
    )
    acfs = lagged.agg(
        F.corr("r", "r1").alias("a1"),
        F.corr("r", "r2").alias("a2"),
        F.corr("r", "r3").alias("a3"),
        F.count("*").cast("double").alias("n"),
    )
    q = (
        F.col("n")
        * (F.col("n") + 2)
        * (
            F.col("a1") * F.col("a1") / (F.col("n") - 1)
            + F.col("a2") * F.col("a2") / (F.col("n") - 2)
            + F.col("a3") * F.col("a3") / (F.col("n") - 3)
        )
    )
    return acfs.select(
        F.round(q, 4).alias("ljung_box_q3"),
        F.round("a1", 4).alias("acf1"),
        F.round("a2", 4).alias("acf2"),
        F.round("a3", 4).alias("acf3"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "kmv_distinct_estimate",
    oracle="""
    WITH u AS (
      SELECT DISTINCT
        (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::UBIGINT
         + 1) / 4294967296.0 AS v
      FROM lineitem),
    kmv AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn FROM u)
    SELECT round((256 - 1) / max(CASE WHEN rn = 256 THEN v END), 1)
             AS kmv_estimate,
           (SELECT CAST(count(*) AS BIGINT) FROM u) AS true_distinct,
           round(((256 - 1) / max(CASE WHEN rn = 256 THEN v END))
                 / (SELECT count(*) FROM u), 4) AS estimate_ratio
    FROM kmv WHERE rn <= 256
    """,
    tags=("approx", "sketch", "distinct"),
)
def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=256: keep the
    k smallest hash-uniforms of the key; N̂ = (k−1)/v_(k) — the
    sketch family HLL superseded but whose estimator is EXACTLY
    reproducible in plain SQL on both engines (unlike HLL's
    engine-specific registers, cf. approx_distinct_stats staying
    rows-only). Checked against the true distinct in the same
    output; the k smallest values are a top-k, not a sort."""
    li = _t(spark, sf_dir, "lineitem")
    u = li.select(
        (
            (
                F.conv(
                    F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("double")
                + 1
            )
            / 4294967296.0
        ).alias("v")
    ).distinct()
    kth = (
        u.orderBy("v")
        .limit(256)
        .agg(F.max("v").alias("vk"), F.count("*").alias("k"))
    )
    truth = u.agg(F.count("*").cast("double").alias("t"))
    return (
        kth.join(F.broadcast(truth))
        .select(
            F.round((F.col("k") - 1) / F.col("vk"), 1).alias("kmv_estimate"),
            F.col("t").cast("bigint").alias("true_distinct"),
            F.round(((F.col("k") - 1) / F.col("vk")) / F.col("t"), 4).alias(
                "estimate_ratio"
            ),
        )
    )


@register(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    trans AS (
      SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    row_tot AS (SELECT cur, sum(c) AS rc FROM trans GROUP BY cur),
    tot AS (SELECT sum(c) AS n FROM trans)
    SELECT round(-sum((t.c / o.n) * ln(t.c / r.rc)), 6) AS entropy_rate_nats,
           round(-sum((t.c / o.n) * ln(t.c / r.rc)) / ln(5.0), 6)
             AS normalized_0_1,
           CAST(count(*) AS BIGINT) AS n_transition_types
    FROM trans t JOIN row_tot r USING (cur) CROSS JOIN tot o
    GROUP BY o.n
    """,
    tags=("events", "information", "markov"),
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of the event-type chain:
    H = −Σ π(i,j)·ln P(j|i) over the first-order transition matrix
    (event_transitions' counts turned into an information rate) —
    how PREDICTABLE the next action is given the current one;
    normalized by ln|alphabet| so 1.0 = memoryless uniform (the
    expected read on this generator) and low values justify
    sequence-model features. One lag pass, a |types|² matrix, scalar
    reduction."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count("*").cast("double").alias("c"))
    row_tot = trans.groupBy("cur").agg(F.sum("c").alias("rc"))
    tot = trans.agg(F.sum("c").alias("n"))
    j = trans.join(F.broadcast(row_tot), "cur").join(F.broadcast(tot))
    h = -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("rc")))
    return j.groupBy("n").agg(
        F.round(h, 6).alias("entropy_rate_nats"),
        F.round(h / math.log(5.0), 6).alias("normalized_0_1"),
        F.count("*").cast("bigint").alias("n_transition_types"),
    ).drop("n")


@register(
    "neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT n_name,
             CAST(count(*) AS DOUBLE) AS big_n,
             stddev_samp(o_totalprice) AS sigma
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    tot AS (SELECT sum(big_n * sigma) AS w FROM strata)
    SELECT n_name,
           CAST(big_n AS BIGINT) AS stratum_size,
           round(1000.0 * big_n * sigma / w, 2) AS neyman_n,
           round(1000.0 * big_n / sum(big_n) OVER (), 2) AS proportional_n
    FROM strata CROSS JOIN tot
    """,
    tags=("stats", "sampling", "survey"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-unit sample across nation
    strata: n_h ∝ N_h·σ_h — variance-optimal stratified sampling,
    shown against proportional allocation (they differ exactly where
    stratum variances do; equal-σ strata make them coincide). The
    design tool upstream of stratified_sample's execution; one
    grouped-moments pass and a broadcast normalizer."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    strata = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("double").alias("big_n"),
            F.stddev_samp("o_totalprice").alias("sigma"),
        )
    )
    tot = strata.agg(F.sum(F.col("big_n") * F.col("sigma")).alias("w"))
    wall = Window.partitionBy()
    return (
        strata.join(F.broadcast(tot))
        .select(
            "n_name",
            F.col("big_n").cast("bigint").alias("stratum_size"),
            F.round(1000.0 * F.col("big_n") * F.col("sigma") / F.col("w"), 2).alias(
                "neyman_n"
            ),
            F.round(
                1000.0 * F.col("big_n") / F.sum("big_n").over(wall), 2
            ).alias("proportional_n"),
        )
    )


@register(
    "chain_ladder_development",
    oracle="""
    WITH cells AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS cohort,
             date_diff('month',
                       date_trunc('month', CAST(o_orderdate AS DATE)),
                       date_trunc('month', CAST(l_shipdate AS DATE))) AS age,
             sum(l_extendedprice) AS paid
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) <= 1997
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort, age,
             sum(paid) OVER (PARTITION BY cohort ORDER BY age
                             ROWS UNBOUNDED PRECEDING) AS c
      FROM cells WHERE age BETWEEN 0 AND 5),
    linked AS (
      SELECT a.age,
             sum(b.c) AS next_sum, sum(a.c) AS cur_sum,
             CAST(count(*) AS BIGINT) AS n_cohorts
      FROM cum a JOIN cum b
        ON a.cohort = b.cohort AND b.age = a.age + 1
      GROUP BY a.age)
    SELECT age,
           round(next_sum / cur_sum, 6) AS age_to_age_factor,
           n_cohorts
    FROM linked
    """,
    tags=("actuarial", "window", "triangle"),
)
def q_chain_ladder_development(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development factors — the actuarial run-off
    triangle: cohorts (order month) accumulate shipped value by
    development age, and each age-to-age factor is the volume-
    weighted ratio Σ C_{a+1}/Σ C_a over cohorts observed at both
    ages — the multiplier chain that projects immature cohorts to
    ultimate (claims reserving, but equally revenue run-off). The
    triangle is a cohort×age aggregate; the factor join links each
    cohort to its own next-age cell, so everything after the fact
    scan is |cohorts|·|ages| rows."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cohort = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    age = F.months_between(
        F.date_trunc("month", F.col("l_shipdate").cast("date")), cohort
    ).cast("long")
    cells = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.year(F.col("o_orderdate").cast("date")) <= 1997)
        .groupBy(cohort.alias("cohort"), age.alias("age"))
        .agg(F.sum("l_extendedprice").alias("paid"))
        .filter(F.col("age").between(0, 5))
    )
    w = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select("cohort", "age", F.sum("paid").over(w).alias("c"))
    a = cum.alias("a")
    b = cum.alias("b")
    linked = (
        a.join(
            b,
            (F.col("a.cohort") == F.col("b.cohort"))
            & (F.col("b.age") == F.col("a.age") + 1),
        )
        .groupBy(F.col("a.age").alias("age"))
        .agg(
            F.sum("b.c").alias("next_sum"),
            F.sum("a.c").alias("cur_sum"),
            F.count("*").cast("bigint").alias("n_cohorts"),
        )
    )
    return linked.select(
        "age",
        F.round(F.col("next_sum") / F.col("cur_sum"), 6).alias(
            "age_to_age_factor"
        ),
        "n_cohorts",
    )


@register(
    "net_revenue_retention",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey,
             CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INT) AS yr,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT cur.yr AS year,
             sum(CASE WHEN prev.o_custkey IS NOT NULL
                      THEN cur.rev ELSE 0 END) AS retained_rev,
             sum(CASE WHEN prev.o_custkey IS NULL
                      THEN cur.rev ELSE 0 END) AS new_rev,
             sum(coalesce(prev.rev, 0)) AS base_rev_returningonly
      FROM yearly cur LEFT JOIN yearly prev
        ON cur.o_custkey = prev.o_custkey AND prev.yr = cur.yr - 1
      GROUP BY cur.yr),
    base AS (
      SELECT yr + 1 AS year, sum(rev) AS base_rev
      FROM yearly GROUP BY yr)
    SELECT p.year,
           round(p.retained_rev / b.base_rev, 4) AS nrr,
           round(p.new_rev, 2) AS new_revenue,
           round(b.base_rev, 2) AS prior_year_base
    FROM pairs p JOIN base b ON p.year = b.year
    WHERE p.year BETWEEN 1996 AND 2000
    """,
    tags=("saas", "cohort", "retention"),
)
def q_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention: this year's revenue from LAST year's
    customer base over last year's total — the dollar-weighted
    retention SaaS metrics stand on (NRR > 1 = expansion outruns
    churn; retention_cohorts counts heads, this weighs wallets).
    Per-customer yearly aggregate, one self-join on (customer,
    year−1) to classify retained vs new dollars, prior-year base
    joined by year."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    ).agg(F.sum("o_totalprice").alias("rev"))
    cur = yearly.alias("cur")
    prev = yearly.alias("prev")
    pairs = (
        cur.join(
            prev,
            (F.col("cur.o_custkey") == F.col("prev.o_custkey"))
            & (F.col("prev.yr") == F.col("cur.yr") - 1),
            "left",
        )
        .groupBy(F.col("cur.yr").alias("year"))
        .agg(
            F.sum(
                F.when(F.col("prev.o_custkey").isNotNull(), F.col("cur.rev")).otherwise(
                    0.0
                )
            ).alias("retained_rev"),
            F.sum(
                F.when(F.col("prev.o_custkey").isNull(), F.col("cur.rev")).otherwise(
                    0.0
                )
            ).alias("new_rev"),
        )
    )
    base = yearly.groupBy((F.col("yr") + 1).alias("year")).agg(
        F.sum("rev").alias("base_rev")
    )
    return (
        pairs.join(base, "year")
        .filter(F.col("year").between(1996, 2000))
        .select(
            "year",
            F.round(F.col("retained_rev") / F.col("base_rev"), 4).alias("nrr"),
            F.round("new_rev", 2).alias("new_revenue"),
            F.round("base_rev", 2).alias("prior_year_base"),
        )
    )


@register(
    "word_burstiness_adaptation",
    oracle="""
    WITH words AS (
      SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY doc_id, w),
    stats AS (
      SELECT w,
             sum(tf) AS cf,
             CAST(count(*) AS DOUBLE) AS df,
             sum(tf) / count(*) AS burstiness
      FROM words GROUP BY w
      HAVING count(*) >= 20)
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           round(avg(burstiness), 4) AS mean_burstiness,
           round(max(burstiness), 4) AS max_burstiness,
           round(corr(ln(cf), burstiness), 4) AS freq_burstiness_corr
    FROM stats
    """,
    tags=("text", "corpus", "burstiness"),
)
def q_word_burstiness_adaptation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church–Gale adaptation): mean occurrences
    per CONTAINING document, cf/df — content words burst (once a
    topic appears it repeats), function words don't (≈ their Poisson
    rate), and the correlation with log-frequency separates the two
    regimes; the per-word companion to repetition_quality's per-doc
    rules and a feature term-weighting schemes (BM25's tf
    saturation) exist to absorb. One (doc, word) aggregate then a
    word-level rollup."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    stats = (
        words.groupBy("w")
        .agg(
            F.sum("tf").alias("cf"),
            F.count("*").cast("double").alias("df"),
            (F.sum("tf") / F.count("*")).alias("burstiness"),
        )
        .filter(F.col("df") >= 20)
    )
    return stats.agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.round(F.avg("burstiness"), 4).alias("mean_burstiness"),
        F.round(F.max("burstiness"), 4).alias("max_burstiness"),
        F.round(F.corr(F.log("cf"), F.col("burstiness")), 4).alias(
            "freq_burstiness_corr"
        ),
    )


@register(
    "hurst_exponent_rs",
    oracle="""
    WITH daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS i, v
      FROM (SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
            FROM orders GROUP BY 1)),
    sized AS (
      SELECT n, i // n AS blk, i, v
      FROM daily, (SELECT unnest([8, 16, 32, 64]) AS n)),
    blockstats AS (
      SELECT n, blk, avg(v) AS mu, stddev_pop(v) AS sd,
             CAST(count(*) AS BIGINT) AS cnt
      FROM sized GROUP BY n, blk),
    cumdev AS (
      SELECT s.n, s.blk,
             sum(s.v - b.mu) OVER (
               PARTITION BY s.n, s.blk ORDER BY s.i
               ROWS UNBOUNDED PRECEDING) AS c,
             b.sd
      FROM sized s JOIN blockstats b
        ON s.n = b.n AND s.blk = b.blk AND b.cnt = s.n AND b.sd > 0),
    rs AS (
      SELECT n, blk, (max(c) - min(c)) / max(sd) AS rs_val
      FROM cumdev GROUP BY n, blk),
    curve AS (
      SELECT n, avg(rs_val) AS mean_rs FROM rs GROUP BY n)
    SELECT round(regr_slope(ln(mean_rs), ln(CAST(n AS DOUBLE))), 4)
             AS hurst_exponent,
           CAST(count(*) AS BIGINT) AS n_scales,
           round(min(mean_rs), 3) AS rs_smallest_scale,
           round(max(mean_rs), 3) AS rs_largest_scale
    FROM curve
    """,
    tags=("timeseries", "stats", "longmemory"),
)
def q_hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis: block the
    series at scales 8–64, compute each full block's range of
    mean-adjusted cumulative deviations over its σ, and regress
    ln⟨R/S⟩ on ln(n) — H≈0.5 random walk/white noise, H>0.5
    persistent long memory (Hurst's original Nile reservoir
    question; the long-range-dependence diagnostic ACF can't see).
    Blocks are (scale, i div n) group keys — every stage is hash
    aggregation plus one per-block cumulative window; incomplete
    tail blocks are excluded (cnt = n) as the method requires."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long").alias("i"),
        "v",
    )
    scales = local_df(spark, [(8,), (16,), (32,), (64,)], "n INT")
    sized = idx.crossJoin(F.broadcast(scales)).select(
        "n", (F.col("i") / F.col("n")).cast("long").alias("blk"), "i", "v"
    )
    blockstats = sized.groupBy("n", "blk").agg(
        F.avg("v").alias("mu"),
        F.stddev_pop("v").alias("sd"),
        F.count("*").alias("cnt"),
    )
    joined = sized.join(
        blockstats.filter(F.col("sd") > 0),
        ["n", "blk"],
    ).filter(F.col("cnt") == F.col("n"))
    wc = Window.partitionBy("n", "blk").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumdev = joined.select(
        "n", "blk", F.sum(F.col("v") - F.col("mu")).over(wc).alias("c"), "sd"
    )
    rs = cumdev.groupBy("n", "blk").agg(
        ((F.max("c") - F.min("c")) / F.max("sd")).alias("rs_val")
    )
    curve = rs.groupBy("n").agg(F.avg("rs_val").alias("mean_rs"))
    return curve.agg(
        F.round(
            F.regr_slope(F.log("mean_rs"), F.log(F.col("n").cast("double"))), 4
        ).alias("hurst_exponent"),
        F.count("*").cast("bigint").alias("n_scales"),
        F.round(F.min("mean_rs"), 3).alias("rs_smallest_scale"),
        F.round(F.max("mean_rs"), 3).alias("rs_largest_scale"),
    )


@register(
    "sax_motif_counts",
    oracle="""
    WITH daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS i, v
      FROM (SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
            FROM orders GROUP BY 1)),
    z AS (
      SELECT i, (v - (SELECT avg(v) FROM daily))
                / (SELECT stddev_samp(v) FROM daily) AS zv
      FROM daily),
    paa AS (
      SELECT i // 7 AS seg, avg(zv) AS m, CAST(count(*) AS BIGINT) AS cnt
      FROM z GROUP BY i // 7),
    sym AS (
      SELECT seg,
             CASE WHEN m < -0.6745 THEN 'a'
                  WHEN m < 0 THEN 'b'
                  WHEN m < 0.6745 THEN 'c' ELSE 'd' END AS s
      FROM paa WHERE cnt = 7),
    words AS (
      SELECT s.s || s1.s || s2.s AS motif
      FROM sym s JOIN sym s1 ON s1.seg = s.seg + 1
      JOIN sym s2 ON s2.seg = s.seg + 2)
    SELECT motif, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM words GROUP BY motif HAVING count(*) >= 3
    """,
    tags=("timeseries", "symbolization", "motif"),
)
def q_sax_motif_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin & Keogh): z-normalize the daily
    series, PAA-average into 7-day segments, map segment means
    through the equiprobable-Gaussian breakpoints (±0.6745, 0 for a
    4-letter alphabet), then count recurring 3-letter motifs — the
    discretization that turns similarity search over time series
    into string algorithms (suffix/hash indexes, the dedup machinery
    of this engine applied to signals). Segments are i div 7 group
    keys; the motif join links consecutive segments — all hash
    operations, no windows past the initial ordering."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long").alias("i"),
        "v",
    )
    m = idx.agg(F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd"))
    z = idx.join(F.broadcast(m)).select(
        "i", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("zv")
    )
    paa = z.groupBy((F.col("i") / 7).cast("long").alias("seg")).agg(
        F.avg("zv").alias("pm"), F.count("*").alias("cnt")
    )
    sym = paa.filter(F.col("cnt") == 7).select(
        "seg",
        F.when(F.col("pm") < -0.6745, "a")
        .when(F.col("pm") < 0, "b")
        .when(F.col("pm") < 0.6745, "c")
        .otherwise("d")
        .alias("s"),
    )
    s0 = sym.alias("s0")
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    words = (
        s0.join(s1, F.col("s1.seg") == F.col("s0.seg") + 1)
        .join(s2, F.col("s2.seg") == F.col("s0.seg") + 2)
        .select(
            F.concat(F.col("s0.s"), F.col("s1.s"), F.col("s2.s")).alias("motif")
        )
    )
    return (
        words.groupBy("motif")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 3)
    )


@register(
    "dhondt_apportionment",
    oracle="""
    WITH rev AS (
      SELECT n_name, sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    quotients AS (
      SELECT n_name, r / d AS q,
             row_number() OVER (ORDER BY r / d DESC, n_name, d) AS rk
      FROM rev, unnest(generate_series(1, 100)) AS t(d)),
    seats AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS seats
      FROM quotients WHERE rk <= 100 GROUP BY n_name)
    SELECT r.n_name, coalesce(s.seats, 0) AS seats,
           round(100.0 * r.r / (SELECT sum(r) FROM rev), 3) AS exact_share
    FROM rev r LEFT JOIN seats s ON r.n_name = s.n_name
    """,
    tags=("apportionment", "window"),
)
def q_dhondt_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Hondt divisor-method apportionment of 100 seats by revenue:
    every nation generates quotients r/1, r/2, …, the 100 LARGEST
    quotients are the seats — the divisor family (slightly favoring
    large parties) against Hamilton's largest-remainder
    (largest_remainder_apportionment, which can suffer the Alabama
    paradox divisor methods provably avoid). |nations|×100 quotient
    rows, one global top-k rank, exact integer outputs next to the
    exact proportional share."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    divisors = spark.range(1, 101).select(F.col("id").alias("d"))
    quotients = rev.crossJoin(F.broadcast(divisors)).select(
        "n_name",
        (F.col("r") / F.col("d")).alias("q"),
        "d",
    )
    ranked = quotients.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("q").desc(), F.col("n_name"), F.col("d"))
        ),
    )
    seats = (
        ranked.filter(F.col("rk") <= 100)
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("seats"))
    )
    total = rev.agg(F.sum("r").alias("tr"))
    return (
        rev.join(seats, "n_name", "left")
        .join(F.broadcast(total))
        .select(
            "n_name",
            F.coalesce("seats", F.lit(0)).alias("seats"),
            F.round(100.0 * F.col("r") / F.col("tr"), 3).alias("exact_share"),
        )
    )


@register(
    "dft_periodogram",
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
    per AS (SELECT unnest([7, 30, 91]) AS period),
    comp AS (
      SELECT period,
             sum(zv * cos(2 * pi() * i / period)) AS cs,
             sum(zv * sin(2 * pi() * i / period)) AS sn,
             any_value(n) AS n
      FROM z, per GROUP BY period)
    SELECT CAST(period AS BIGINT) AS period,
           round((cs * cs + sn * sn) / n, 3) AS power
    FROM comp
    """,
    tags=("timeseries", "spectral", "stats"),
)
def q_dft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram probed at candidate periods (7 /
    30 / 91 days): normalized power |Σ z·e^{-2πi·t/p}|²/n of the
    z-scored daily revenue series — the periodicity detector run
    before choosing seasonal models (cf. seasonal_strength, which
    assumes the period; this finds it). Each probe frequency is one
    pair of sums, so the whole scan is a single hash aggregate over
    |dates|×|periods| rows — no FFT, no recursion, embarrassingly
    parallel at any scale. The row_number window rides on the
    |dates|-sized daily aggregate, never the fact table."""
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
    periods = local_df(spark, [(7,), (30,), (91,)], "period int")
    ang = 2 * math.pi * F.col("i") / F.col("period")
    comp = (
        z.crossJoin(F.broadcast(periods))
        .groupBy("period")
        .agg(
            F.sum(F.col("zv") * F.cos(ang)).alias("cs"),
            F.sum(F.col("zv") * F.sin(ang)).alias("sn"),
            F.first("n").alias("n"),
        )
    )
    return comp.select(
        F.col("period").cast("long").alias("period"),
        F.round(
            (F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn")) / F.col("n"), 3
        ).alias("power"),
    )


@register(
    "ewma_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    st AS (SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM daily),
    sm AS (
      SELECT a.d,
             sum(b.x * 0.2 * pow(0.8, date_diff('day', b.d, a.d)))
               / sum(0.2 * pow(0.8, date_diff('day', b.d, a.d))) AS ewma
      FROM daily a JOIN daily b ON b.d BETWEEN a.d - 27 AND a.d
      GROUP BY a.d)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN abs(ewma - mu) > 3 * sd * sqrt(0.2 / 1.8)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breach,
           round(max(abs(ewma - mu)) / (sd * sqrt(0.2 / 1.8)), 3) AS peak_z
    FROM sm, st GROUP BY mu, sd
    """,
    tags=("timeseries", "spc", "window"),
)
def q_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (λ=0.2) on daily revenue: the smoothed
    statistic vs the ±3σ·√(λ/(2−λ)) control limits — the SPC drift
    detector more sensitive to small mean shifts than Shewhart
    charts. The recurrence is replaced by its closed form truncated
    at 28 lags (0.8²⁸ < 0.2% weight) and renormalized by the present
    weight mass, so every output day depends on a CONSTANT slice —
    a bounded range self-join on the |dates| aggregate, exactly the
    adstock_carryover device, no state chain to serialize."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    st = daily.agg(F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd"))
    a = daily.select(F.col("d").alias("ad"))
    b = daily.select(F.col("d").alias("bd"), "x")
    w = 0.2 * F.pow(F.lit(0.8), F.datediff(F.col("ad"), F.col("bd")))
    sm = (
        a.join(
            b,
            (F.col("bd") >= F.date_sub(F.col("ad"), 27))
            & (F.col("bd") <= F.col("ad")),
        )
        .groupBy("ad")
        .agg((F.sum(F.col("x") * w) / F.sum(w)).alias("ewma"))
    )
    sig = F.col("sd") * F.lit(math.sqrt(0.2 / 1.8))
    return sm.join(F.broadcast(st)).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(
            F.when(F.abs(F.col("ewma") - F.col("mu")) > 3 * sig, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_breach"),
        F.round(F.max(F.abs(F.col("ewma") - F.col("mu")) / sig), 3).alias("peak_z"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT sign(b.v - a.v) AS s
      FROM monthly a JOIN monthly b ON b.m > a.m),
    agg AS (
      SELECT CAST(sum(s) AS BIGINT) AS s_stat,
             (SELECT CAST(count(*) AS DOUBLE) FROM monthly) AS n
      FROM pairs)
    SELECT s_stat, CAST(n AS BIGINT) AS n_periods,
           round((s_stat - sign(s_stat))
                 / sqrt(n * (n - 1) * (2 * n + 5) / 18.0), 4) AS z_score
    FROM agg
    """,
    tags=("timeseries", "stats", "trend"),
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = Σ_{i<j}
    sign(x_j − x_i) over all ordered month pairs, normal-approximated
    with continuity correction — the nonparametric monotone-trend
    detector (no linearity or normality assumption, robust to
    outliers, the hydrology-standard companion to Theil-Sen's slope
    estimate in theil_sen_slope). The O(n²) pair join runs on the
    |months| aggregate (~84 rows → 3.5k pairs), never the fact
    table — the fact-side work is ONE map-side-combinable sum."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m")
    ).agg(F.sum("o_totalprice").alias("v"))
    a = monthly.select(F.col("m").alias("am"), F.col("v").alias("av"))
    b = monthly.select(F.col("m").alias("bm"), F.col("v").alias("bv"))
    pairs = a.join(b, F.col("bm") > F.col("am")).select(
        F.signum(F.col("bv") - F.col("av")).alias("s")
    )
    n_df = monthly.agg(F.count("*").cast("double").alias("n"))
    agg = pairs.agg(F.sum("s").cast("bigint").alias("s_stat")).join(
        F.broadcast(n_df)
    )
    var = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
    return agg.select(
        "s_stat",
        F.col("n").cast("bigint").alias("n_periods"),
        F.round(
            (F.col("s_stat") - F.signum(F.col("s_stat"))) / F.sqrt(var), 4
        ).alias("z_score"),
    )


@register(
    "kruskal_wallis_h",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS g, l_quantity AS q,
             CAST(count(*) AS DOUBLE) AS c
      FROM lineitem GROUP BY 1, 2),
    vals AS (SELECT q, sum(c) AS cv FROM cells GROUP BY q),
    ranks AS (
      SELECT q, cv,
             sum(cv) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
               - cv + (cv + 1) / 2.0 AS r
      FROM vals),
    tot AS (SELECT sum(cv) AS n FROM vals),
    grp AS (
      SELECT g, sum(c) AS ng, sum(c * r) AS rg
      FROM cells JOIN ranks USING (q) GROUP BY g),
    raw AS (
      SELECT 12.0 / (n * (n + 1)) * sum(rg * rg / ng) - 3 * (n + 1) AS h,
             any_value(n) AS n
      FROM grp, tot GROUP BY n),
    tiec AS (
      SELECT 1 - sum(cv * cv * cv - cv)
                 / (pow((SELECT n FROM tot), 3) - (SELECT n FROM tot)) AS cfac
      FROM vals)
    SELECT CAST(n AS BIGINT) AS n_obs,
           round(h, 4) AS h_stat,
           round(h / cfac, 4) AS h_tie_corrected
    FROM raw, tiec
    """,
    tags=("stats", "nonparametric", "agg"),
)
def q_kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (rank one-way ANOVA) of l_quantity across
    return flags, computed WITHOUT ranking any fact row: quantity is
    discrete, so the midrank of value v is a closed form of the value
    histogram (cum_before + (count+1)/2), the per-group rank sums are
    Σ c_{g,v}·r_v over the |groups|×|values| cell relation, and the
    tie-correction 1−Σ(t³−t)/(n³−n) falls out of the same histogram.
    One map-side-combinable fact-table aggregate; every window and
    join after it touches ≤150 rows — the distributed formulation of
    a test normally written as a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("q")
    ).agg(F.count("*").cast("double").alias("c"))
    from ...operators.rank import global_ranked

    vals = cells.groupBy("q").agg(F.sum("c").alias("cv"))
    ranks = global_ranked(
        vals, ["q"], running_sums={"ccv": F.col("cv")}
    ).select(
        "q",
        "cv",
        (F.col("ccv") - F.col("cv") + (F.col("cv") + 1) / 2.0).alias("r"),
    )
    tot = vals.agg(F.sum("cv").alias("n"))
    grp = (
        cells.join(F.broadcast(ranks), "q")
        .groupBy("g")
        .agg(F.sum("c").alias("ng"), F.sum(F.col("c") * F.col("r")).alias("rg"))
    )
    raw = (
        grp.join(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                12.0
                / (F.col("n") * (F.col("n") + 1))
                * F.sum(F.col("rg") * F.col("rg") / F.col("ng"))
                - 3 * (F.col("n") + 1)
            ).alias("h")
        )
    )
    tiec = (
        vals.join(F.broadcast(tot))
        .agg(
            (
                1
                - F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
                / (F.pow(F.first("n"), 3) - F.first("n"))
            ).alias("cfac")
        )
    )
    return raw.join(F.broadcast(tiec)).select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("h"), 4).alias("h_stat"),
        F.round(F.col("h") / F.col("cfac"), 4).alias("h_tie_corrected"),
    )


@register(
    "block_maxima_gumbel",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    blocks AS (
      SELECT date_trunc('month', d) AS m, max(x) AS bx
      FROM daily GROUP BY 1),
    fit AS (SELECT CAST(count(*) AS DOUBLE) AS nb, avg(bx) AS mu0,
                   stddev_samp(bx) AS s FROM blocks),
    par AS (
      SELECT nb, s * sqrt(6) / pi() AS beta,
             mu0 - 0.5772156649015329 * (s * sqrt(6) / pi()) AS mu
      FROM fit)
    SELECT CAST(nb AS BIGINT) AS n_blocks,
           round(mu, 2) AS gumbel_mu,
           round(beta, 2) AS gumbel_beta,
           round(mu - beta * ln(-ln(1 - 1.0 / 12)), 2) AS rl_12m,
           round(mu - beta * ln(-ln(1 - 1.0 / 60)), 2) AS rl_60m
    FROM par
    """,
    tags=("stats", "extremes", "agg"),
)
def q_block_maxima_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by block maxima: monthly maxima of
    daily revenue, Gumbel parameters by method of moments (β̂=s√6/π,
    μ̂=x̄−γβ̂ with Euler-Mascheroni γ), and the 12- and 60-month
    return levels μ−β·ln(−ln(1−1/T)) — the capacity-planning
    question 'what peak should we provision for' answered from the
    tail law, not the observed max. Two nested hash aggregates
    (day → month-max → moments); the fact table is touched once."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    blocks = daily.groupBy(F.date_trunc("month", F.col("d")).alias("m")).agg(
        F.max("x").alias("bx")
    )
    fit = blocks.agg(
        F.count("*").cast("double").alias("nb"),
        F.avg("bx").alias("mu0"),
        F.stddev_samp("bx").alias("s"),
    )
    beta = F.col("s") * F.lit(math.sqrt(6.0) / math.pi)
    mu = F.col("mu0") - F.lit(0.5772156649015329) * beta
    rl = lambda t: mu - beta * F.lit(math.log(-math.log(1 - 1.0 / t)))
    return fit.select(
        F.col("nb").cast("bigint").alias("n_blocks"),
        F.round(mu, 2).alias("gumbel_mu"),
        F.round(beta, 2).alias("gumbel_beta"),
        F.round(rl(12), 2).alias("rl_12m"),
        F.round(rl(60), 2).alias("rl_60m"),
    )


@register(
    "cramers_v_association",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS p, year(CAST(o_orderdate AS DATE)) AS y,
             CAST(count(*) AS DOUBLE) AS obs
      FROM orders GROUP BY 1, 2),
    rm AS (SELECT p, sum(obs) AS rp FROM cells GROUP BY p),
    cm AS (SELECT y, sum(obs) AS cy FROM cells GROUP BY y),
    tot AS (SELECT sum(obs) AS n FROM cells),
    dims AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM rm) AS r,
                    (SELECT CAST(count(*) AS DOUBLE) FROM cm) AS c),
    chi AS (
      SELECT sum(pow(obs - rp * cy / n, 2) / (rp * cy / n)) AS chi2,
             any_value(n) AS n
      FROM cells JOIN rm USING (p) JOIN cm USING (y), tot GROUP BY n)
    SELECT CAST(chi.n AS BIGINT) AS n_obs,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (chi.n * (least(r, c) - 1))), 6) AS cramers_v,
           round(sqrt(greatest(0, chi2 / chi.n - (r - 1) * (c - 1) / (chi.n - 1))
                      / (least(r - pow(r - 1, 2) / (chi.n - 1),
                               c - pow(c - 1, 2) / (chi.n - 1)) - 1)),
                 6) AS cramers_v_corrected
    FROM chi, dims
    """,
    tags=("stats", "association", "agg"),
)
def q_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order priority and order year — the
    normalized-to-[0,1] effect size the raw χ² statistic
    (chi_square_independence) lacks, plus the Bergsma-Bethel
    bias-corrected variant that de-inflates V on finite samples.
    Same distributed shape as every contingency statistic here: ONE
    shuffle builds the cell relation, marginals re-aggregate from
    the tiny cells and broadcast back; r and c are counted from the
    marginal relations so the query adapts to the observed table."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.year(F.col("o_orderdate").cast("date")).alias("y"),
    ).agg(F.count("*").cast("double").alias("obs"))
    rm = cells.groupBy("p").agg(F.sum("obs").alias("rp"))
    cm = cells.groupBy("y").agg(F.sum("obs").alias("cy"))
    tot = cells.agg(F.sum("obs").alias("n"))
    dims = rm.agg(F.count("*").cast("double").alias("r")).crossJoin(
        cm.agg(F.count("*").cast("double").alias("c"))
    )
    exp = F.col("rp") * F.col("cy") / F.col("n")
    chi = (
        cells.join(F.broadcast(rm), "p")
        .join(F.broadcast(cm), "y")
        .join(F.broadcast(tot))
        .groupBy("n")
        .agg(F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"))
    )
    phi2 = F.col("chi2") / F.col("n")
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (F.col("r") - 1) * (F.col("c") - 1) / (F.col("n") - 1)
    )
    rc = F.col("r") - F.pow(F.col("r") - 1, 2) / (F.col("n") - 1)
    cc = F.col("c") - F.pow(F.col("c") - 1, 2) / (F.col("n") - 1)
    return chi.join(F.broadcast(dims)).select(
        F.col("n").cast("bigint").alias("n_obs"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round(F.col("chi2"), 4).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 6
        ).alias("cramers_v"),
        F.round(F.sqrt(phi2c / (F.least(rc, cc) - 1)), 6).alias(
            "cramers_v_corrected"
        ),
    )


@register(
    "newsvendor_quantile",
    oracle="""
    WITH demand AS (
      SELECT p_brand, CAST(l_shipdate AS DATE) AS d,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2),
    stock AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_days,
             CAST(quantile_cont(q, 0.75) AS DOUBLE) AS stock_level,
             round(avg(q), 2) AS mean_demand
      FROM demand GROUP BY p_brand)
    SELECT p_brand, n_days, round(stock_level, 2) AS stock_level, mean_demand
    FROM stock
    """,
    tags=("inventory", "percentile", "economics"),
)
def q_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stocking: with underage cost 3×
    the overage cost, the optimal per-brand stock is the
    Cu/(Cu+Co) = 0.75 quantile of daily demand — the closed-form
    answer to 'how much to stock' that inventory teams compute per
    SKU class. Exact interpolated percentile (Spark `percentile` ≡
    DuckDB quantile_cont) per brand over the (brand, day) demand
    aggregate; the fact-side work is one map-side-combinable sum,
    and the percentile groups are |brands|-sized, never fact-sized."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    demand = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.sum("l_quantity").cast("double").alias("q"))
    )
    return demand.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.expr("percentile(q, 0.75)"), 2).alias("stock_level"),
        F.round(F.avg("q"), 2).alias("mean_demand"),
    )


@register(
    "benjamini_hochberg_fdr",
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
             CAST(row_number() OVER (ORDER BY p, n_name) AS BIGINT) AS k,
             CAST(count(*) OVER () AS DOUBLE) AS m
      FROM scored),
    cutoff AS (
      SELECT coalesce(max(CASE WHEN p <= 0.1 * k / m THEN k END), 0) AS kmax
      FROM ranked)
    SELECT n_name, k AS p_rank, round(p, 6) AS p_value,
           k <= kmax AS discovery
    FROM ranked, cutoff
    """,
    tags=("stats", "multiple-testing", "window"),
)
def q_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over the per-nation
    'is this nation's mean order value unusual' screen: score each
    nation with a z-statistic against the global mean, transform to
    a CALIBRATED two-sided p = erfc(|z|/√2) (Abramowitz–Stegun
    erfc approximation, identical expression tree in both engines —
    see normal_p_two_sided_col), rank ascending, and mark
    discoveries at every
    rank ≤ the largest k with p_k ≤ α·k/m (α=0.1). The step-up
    cutoff — the part naive per-test thresholding gets wrong — is a
    1-row aggregate broadcast back over the |nations| relation; the
    fact table contributes two map-side-combinable moments."""
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
        F.row_number().over(Window.orderBy("p", "n_name")).cast("long").alias("k"),
        F.count("*").over(Window.partitionBy()).cast("double").alias("m"),
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("p") <= 0.1 * F.col("k") / F.col("m"), F.col("k"))),
            F.lit(0).cast("long"),
        ).alias("kmax")
    )
    return ranked.join(F.broadcast(cutoff)).select(
        "n_name",
        F.col("k").alias("p_rank"),
        F.round("p", 6).alias("p_value"),
        (F.col("k") <= F.col("kmax")).alias("discovery"),
    )


@register(
    "flesch_reading_ease",
    oracle=r"""
    WITH scored AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS DOUBLE) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS DOUBLE) AS y
      FROM documents WHERE lang = 'en'),
    flesch AS (
      SELECT source,
             206.835 - 1.015 * (w / s) - 84.6 * (y / w) AS score,
             w / s AS wps
      FROM scored WHERE w > 0)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 2) AS mean_flesch,
           round(avg(wps), 2) AS mean_words_per_sentence
    FROM flesch GROUP BY source
    """,
    tags=("text", "quality", "readability"),
)
def q_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring of the English corpus slice:
    206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), with
    syllables approximated by vowel-group counts — the readability
    gate curation pipelines put next to the statistical quality
    scores (cf. quality_score_filter), since grade-level drift is a
    training-mix property worth monitoring per source. Three regexp
    counters per document, all JVM-side codegen; one hash aggregate
    per source — no tokenizer UDF, no Python."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    w = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    ).cast("double")
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("double")
    y = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("double")
    scored = d.select("source", w.alias("w"), s.alias("s"), y.alias("y")).filter(
        F.col("w") > 0
    )
    flesch = scored.select(
        "source",
        (
            F.lit(206.835)
            - 1.015 * (F.col("w") / F.col("s"))
            - 84.6 * (F.col("y") / F.col("w"))
        ).alias("score"),
        (F.col("w") / F.col("s")).alias("wps"),
    )
    return flesch.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("score"), 2).alias("mean_flesch"),
        F.round(F.avg("wps"), 2).alias("mean_words_per_sentence"),
    )


@register(
    "page_hinkley_drift",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    gl AS (SELECT avg(x) AS mu, stddev_samp(x) AS sd FROM daily),
    cum AS (
      SELECT d,
             sum(x - mu - 0.005 * mu)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS m
      FROM daily, gl),
    ph AS (
      SELECT d, m - min(m) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS stat
      FROM cum)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN stat > 3 * sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarm_days,
           strftime(min(CASE WHEN stat > 3 * sd THEN d END),
                    '%Y-%m-%d') AS first_alarm,
           round(max(stat) / sd, 3) AS peak_stat_sigmas
    FROM ph, gl GROUP BY sd
    """,
    tags=("timeseries", "drift", "window"),
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector on daily revenue: the
    cumulative deviation m_t = Σ(x−μ−δ) minus its running minimum,
    alarmed when the gap exceeds λ=3σ (δ = 0.5% of μ, the magnitude
    floor) — the sequential change detector streaming systems run on
    model metrics (cf. cusum_changepoint, which locates ONE shift;
    PH answers 'has drift started, and when first'). Two stacked
    prefix windows over the |dates| aggregate — the fact table
    contributes a single hash aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    gl = daily.agg(F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd"))
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.join(F.broadcast(gl)).select(
        "d",
        "sd",
        F.sum(F.col("x") - F.col("mu") - 0.005 * F.col("mu")).over(wcum).alias("m"),
    )
    ph = cum.select(
        "d", "sd", (F.col("m") - F.min("m").over(wcum)).alias("stat")
    )
    alarm = F.col("stat") > 3 * F.col("sd")
    return ph.groupBy("sd").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("bigint").alias("n_alarm_days"),
        F.date_format(F.min(F.when(alarm, F.col("d"))), "yyyy-MM-dd").alias(
            "first_alarm"
        ),
        F.round(F.max("stat") / F.first("sd"), 3).alias("peak_stat_sigmas"),
    ).drop("sd")


@register(
    "bollinger_breakouts",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS x
      FROM orders GROUP BY 1),
    bands AS (
      SELECT d, x,
             avg(x) OVER w AS m,
             stddev_samp(x) OVER w AS s,
             count(*) OVER w AS nw
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT CAST(year(d) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN x > m + 2 * s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above,
           CAST(sum(CASE WHEN x < m - 2 * s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below
    FROM bands WHERE nw = 20 GROUP BY 1
    """,
    tags=("timeseries", "window", "volatility"),
)
def q_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout counting per year: 20-day rolling
    mean ± 2 rolling σ, a day outside the band is a volatility
    breakout — the adaptive-threshold anomaly count (the band widens
    in volatile regimes where a fixed ±2σ_global would false-alarm,
    cf. ewma_control_chart's fixed limits). One bounded rows-frame
    window over the |dates| aggregate; warm-up rows (frame count
    < 20) are excluded so the band is always a full-window
    statistic."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    wb = Window.orderBy("d").rowsBetween(-19, 0)
    bands = daily.select(
        "d",
        "x",
        F.avg("x").over(wb).alias("m"),
        F.stddev_samp("x").over(wb).alias("s"),
        F.count("*").over(wb).alias("nw"),
    ).filter(F.col("nw") == 20)
    return bands.groupBy(F.year("d").cast("bigint").alias("yr")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("x") > F.col("m") + 2 * F.col("s"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.when(F.col("x") < F.col("m") - 2 * F.col("s"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
    )


@register(
    "haar_wavelet_energy",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS i, v
      FROM daily),
    st AS (SELECT avg(v) AS mu, stddev_samp(v) AS sd FROM idx),
    z AS (SELECT i, (v - mu) / sd AS zv FROM idx, st),
    lv AS (SELECT unnest([1, 2, 3, 4]) AS j),
    blocks AS (
      SELECT j, i // CAST(pow(2, j) AS BIGINT) AS blk,
             sum(zv * (1 - 2 * ((i // CAST(pow(2, j - 1) AS BIGINT)) % 2)))
               / pow(2, j) AS dcoef,
             CAST(count(*) AS BIGINT) AS cnt
      FROM z, lv GROUP BY 1, 2),
    energy AS (
      SELECT CAST(j AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_blocks,
             sum(dcoef * dcoef) AS e
      FROM blocks WHERE cnt = CAST(pow(2, j) AS BIGINT) GROUP BY j)
    SELECT level, n_blocks, round(e, 3) AS detail_energy,
           round(e / sum(e) OVER (), 4) AS energy_share
    FROM energy
    """,
    tags=("timeseries", "wavelet", "decomposition"),
)
def q_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar multi-resolution energy decomposition of the z-scored
    daily revenue: at level j the detail coefficient of each 2ʲ-day
    block is (first-half mean − second-half mean)/2, written as ONE
    signed sum Σ±z/2ʲ so all four levels come out of a single hash
    aggregate over |dates|×|levels| rows — wavelet analysis with no
    recursion and no sequential cascade. The per-level energy shares
    say which timescale (2/4/8/16 days) carries the variance, the
    multi-scale companion to dft_periodogram's fixed frequencies.
    Incomplete tail blocks are excluded exactly as in the classical
    dyadic transform."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long").alias("i"),
        "v",
    )
    st = idx.agg(F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd"))
    z = idx.join(F.broadcast(st)).select(
        "i", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("zv")
    )
    lv = local_df(spark, [(1,), (2,), (3,), (4,)], "j int")
    blksz = F.pow(F.lit(2.0), F.col("j")).cast("long")
    halfsz = F.pow(F.lit(2.0), F.col("j") - 1).cast("long")
    sign = 1 - 2 * ((F.col("i") / halfsz).cast("long") % 2)
    blocks = (
        z.crossJoin(F.broadcast(lv))
        .groupBy("j", (F.col("i") / blksz).cast("long").alias("blk"))
        .agg(
            F.sum(F.col("zv") * sign).alias("ssum"),
            F.count("*").cast("bigint").alias("cnt"),
        )
        .select(
            "j",
            "cnt",
            (F.col("ssum") / F.pow(F.lit(2.0), F.col("j"))).alias("dcoef"),
        )
    )
    energy = (
        blocks.filter(F.col("cnt") == F.pow(F.lit(2.0), F.col("j")).cast("long"))
        .groupBy(F.col("j").cast("bigint").alias("level"))
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(F.col("dcoef") * F.col("dcoef")).alias("e"),
        )
    )
    return energy.select(
        "level",
        "n_blocks",
        F.round("e", 3).alias("detail_energy"),
        F.round(F.col("e") / F.sum("e").over(Window.partitionBy()), 4).alias(
            "energy_share"
        ),
    )


@register(
    "word_pmi_bigrams",
    oracle="""
    WITH arrs AS (
      SELECT regexp_split_to_array(lower(text), '[^a-z0-9]+') AS ws
      FROM documents WHERE lang = 'en'),
    uni AS (
      SELECT unnest(ws) AS w FROM arrs),
    u AS (
      SELECT w, CAST(count(*) AS DOUBLE) AS cw
      FROM uni WHERE length(w) >= 2 GROUP BY w),
    nu AS (SELECT sum(cw) AS n_uni FROM u),
    bi AS (
      SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
      FROM arrs CROSS JOIN (SELECT unnest(generate_series(1, 4000)) AS i) g
      WHERE i <= len(ws) - 1),
    b AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cp
      FROM bi WHERE length(w1) >= 2 AND length(w2) >= 2
      GROUP BY w1, w2 HAVING count(*) >= 5),
    nb AS (SELECT sum(cp) AS n_bi FROM b),
    pmi AS (
      SELECT b.w1, b.w2, CAST(cp AS BIGINT) AS pair_count,
             ln((cp / n_bi) / ((u1.cw / n_uni) * (u2.cw / n_uni))) AS pmi
      FROM b JOIN u u1 ON b.w1 = u1.w
      JOIN u u2 ON b.w2 = u2.w, nu, nb)
    SELECT w1, w2, pair_count, round(pmi, 3) AS pmi
    FROM pmi ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    tags=("text", "collocation", "join"),
)
def q_word_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs in the
    English slice — the collocation detector (Church & Hanks) that
    finds phrases worth treating as single tokens before BPE
    training (cf. bpe_pair_counts at the character tier). Bigrams
    are enumerated JVM-side with transform(sequence) over the split
    array — one explode of n−1 pairs, no self-join on positions; a
    min-count floor of 5 kills the unstable low-frequency tail, and
    both marginals come from one unigram aggregate joined back
    twice (broadcast — the vocabulary is tiny next to the corpus)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    arrs = d.select(F.split(F.lower("text"), "[^a-z0-9]+").alias("ws"))
    uni = arrs.select(F.explode("ws").alias("w")).filter(F.length("w") >= 2)
    u = uni.groupBy("w").agg(F.count("*").cast("double").alias("cw"))
    nu = u.agg(F.sum("cw").alias("n_uni"))
    bi = arrs.select(
        F.explode(
            F.transform(
                seq1(F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at("ws", i).alias("w1"),
                    F.element_at("ws", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    b = (
        bi.filter((F.length("w1") >= 2) & (F.length("w2") >= 2))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("double").alias("cp"))
        .filter(F.col("cp") >= 5)
    )
    nb = b.agg(F.sum("cp").alias("n_bi"))
    pmi = (
        b.join(F.broadcast(u.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1")), "w1")
        .join(F.broadcast(u.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2")), "w2")
        .join(F.broadcast(nu))
        .join(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("cp").cast("bigint").alias("pair_count"),
            F.log(
                (F.col("cp") / F.col("n_bi"))
                / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
            ).alias("pmi"),
        )
    )
    return (
        pmi.orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
        .select("w1", "w2", "pair_count", F.round("pmi", 3).alias("pmi"))
    )


@register(
    "topsis_supplier_ranking",
    oracle="""
    WITH crit AS (
      SELECT l_suppkey,
             sum(l_extendedprice * (1 - l_discount)) AS revenue,
             avg(l_discount) AS avg_disc,
             CAST(count(DISTINCT l_partkey) AS DOUBLE) AS breadth
      FROM lineitem GROUP BY l_suppkey),
    norms AS (
      SELECT sqrt(sum(revenue * revenue)) AS nr,
             sqrt(sum(avg_disc * avg_disc)) AS nd,
             sqrt(sum(breadth * breadth)) AS nb
      FROM crit),
    v AS (
      SELECT l_suppkey, revenue / nr AS vr, avg_disc / nd AS vd,
             breadth / nb AS vb
      FROM crit, norms),
    ideal AS (
      SELECT max(vr) AS ir, min(vd) AS id_, max(vb) AS ib,
             min(vr) AS ar, max(vd) AS ad, min(vb) AS ab
      FROM v),
    scored AS (
      SELECT l_suppkey,
             sqrt(pow(vr - ir, 2) + pow(vd - id_, 2) + pow(vb - ib, 2)) AS dplus,
             sqrt(pow(vr - ar, 2) + pow(vd - ad, 2) + pow(vb - ab, 2)) AS dminus
      FROM v, ideal)
    SELECT s_name, round(dminus / (dplus + dminus), 6) AS topsis_score
    FROM scored JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY dminus / (dplus + dminus) DESC, s_name LIMIT 10
    """,
    tags=("ranking", "decision", "agg"),
)
def q_topsis_supplier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPSIS multi-criteria supplier ranking: three criteria
    (revenue↑, mean discount given↓, part breadth↑) vector-
    normalized, then each supplier scored by closeness
    d⁻/(d⁺+d⁻) to the ideal/anti-ideal corner — the MCDM method
    procurement teams use when 'best supplier' has no single metric.
    One fact-table aggregate builds the criteria matrix
    (|suppliers| rows); the normalizers and ideal points are 1-row
    broadcasts, so the whole decision analysis adds zero extra
    shuffles at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    crit = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.avg("l_discount").alias("avg_disc"),
        F.count_distinct("l_partkey").cast("double").alias("breadth"),
    )
    norms = crit.agg(
        F.sqrt(F.sum(F.col("revenue") * F.col("revenue"))).alias("nr"),
        F.sqrt(F.sum(F.col("avg_disc") * F.col("avg_disc"))).alias("nd"),
        F.sqrt(F.sum(F.col("breadth") * F.col("breadth"))).alias("nb"),
    )
    v = crit.join(F.broadcast(norms)).select(
        "l_suppkey",
        (F.col("revenue") / F.col("nr")).alias("vr"),
        (F.col("avg_disc") / F.col("nd")).alias("vd"),
        (F.col("breadth") / F.col("nb")).alias("vb"),
    )
    ideal = v.agg(
        F.max("vr").alias("ir"), F.min("vd").alias("id_"), F.max("vb").alias("ib"),
        F.min("vr").alias("ar"), F.max("vd").alias("ad"), F.min("vb").alias("ab"),
    )
    sq = lambda c: F.pow(c, 2)
    scored = v.join(F.broadcast(ideal)).select(
        "l_suppkey",
        F.sqrt(
            sq(F.col("vr") - F.col("ir"))
            + sq(F.col("vd") - F.col("id_"))
            + sq(F.col("vb") - F.col("ib"))
        ).alias("dplus"),
        F.sqrt(
            sq(F.col("vr") - F.col("ar"))
            + sq(F.col("vd") - F.col("ad"))
            + sq(F.col("vb") - F.col("ab"))
        ).alias("dminus"),
    )
    score = F.col("dminus") / (F.col("dplus") + F.col("dminus"))
    return (
        scored.join(s, scored["l_suppkey"] == s["s_suppkey"])
        .orderBy(score.desc(), "s_name")
        .limit(10)
        .select("s_name", F.round(score, 6).alias("topsis_score"))
    )


@register(
    "quantile_normalization",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ntile(100) OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS pct
      FROM documents),
    ref AS (
      SELECT pct, avg(n_chars) AS ref_val FROM ranked GROUP BY pct),
    norm AS (
      SELECT source, n_chars, ref_val
      FROM ranked JOIN ref USING (pct))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(ref_val - n_chars), 2) AS mean_shift,
           round(avg(abs(ref_val - n_chars)), 2) AS mean_abs_shift
    FROM norm GROUP BY source
    """,
    tags=("stats", "normalization", "window"),
)
def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths across sources —
    the bioinformatics-standard batch-effect remover applied to the
    training mix: each source's length distribution is mapped onto
    the pooled percentile profile, so no single crawl's length bias
    survives into the curriculum. ntile(100) within source (a
    per-source sort, partition-parallel), the reference profile is a
    100-row aggregate broadcast back, and the report shows how far
    each source sat from the pooled distribution (mean and mean-
    absolute shift)."""
    d = _t(spark, sf_dir, "documents")
    ranked = d.select(
        "source",
        "n_chars",
        F.ntile(100)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("pct"),
    )
    ref = ranked.groupBy("pct").agg(F.avg("n_chars").alias("ref_val"))
    norm = ranked.join(F.broadcast(ref), "pct")
    shift = F.col("ref_val") - F.col("n_chars")
    return norm.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg(shift), 2).alias("mean_shift"),
        F.round(F.avg(F.abs(shift)), 2).alias("mean_abs_shift"),
    )

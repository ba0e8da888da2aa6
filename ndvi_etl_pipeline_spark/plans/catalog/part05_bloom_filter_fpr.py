"""Query catalog part 5/9 (split from plans/queries.py; registration order preserved)."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .part01_pricing_summary import *  # noqa: F401,F403
from .part02_revenue_share import *  # noqa: F401,F403
from .part03_tpch_q4_priority_c import *  # noqa: F401,F403
from .part04_k_anonymity_audit import *  # noqa: F401,F403



@register(
    "bloom_filter_fpr",
    oracle="""
    WITH seeds AS (SELECT unnest([1, 2, 3]) AS s),
    members AS (SELECT p_partkey AS k FROM part WHERE p_brand = 'Brand#11'),
    probes AS (SELECT p_partkey AS k FROM part WHERE p_brand = 'Brand#22'),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
                       || CAST(s AS VARCHAR)), 1, 8))::UBIGINT % 1024 AS bit
      FROM members, seeds),
    probe_bits AS (
      SELECT k, s, ('0x' || substr(md5(CAST(k AS VARCHAR) || '#'
                    || CAST(s AS VARCHAR)), 1, 8))::UBIGINT % 1024 AS bit
      FROM probes, seeds),
    hits AS (
      SELECT pb.k, CAST(count(*) AS BIGINT) AS n_hit
      FROM probe_bits pb JOIN bits ON pb.bit = bits.bit
      GROUP BY pb.k),
    meas AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM members) AS n,
             (SELECT CAST(count(*) AS DOUBLE) FROM probes) AS np,
             (SELECT CAST(count(*) AS DOUBLE) FROM hits WHERE n_hit = 3) AS fp)
    SELECT CAST(n AS BIGINT) AS n_members,
           CAST(np AS BIGINT) AS n_probes,
           CAST(fp AS BIGINT) AS false_positives,
           round(fp / np, 4) AS measured_fpr,
           round(pow(1 - exp(-3 * n / 1024.0), 3), 4) AS theoretical_fpr
    FROM meas
    """,
    tags=("sketch", "hash", "audit"),
)
def q_bloom_filter_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built and audited relationally: one brand's part
    keys are the member set (k=3 md5-derived hash functions into
    m=1024 bits — the bit array is just DISTINCT bucket ids), a
    disjoint brand probes it, and a probe is a false positive iff
    all three of its bits land in the set — a 3-way hit count via
    one equi-join on bit id. Measured FPR sits next to the
    (1−e^{−kn/m})^k theory bound, the calibration check run before
    trusting a bloom-pruned join at scale (Spark's own
    spark.sql.optimizer.runtime.bloomFilter does exactly this
    pruning); deterministic md5 bits keep both engines bit-for-bit
    identical."""
    p = _t(spark, sf_dir, "part")
    seeds = local_df(spark, [(1,), (2,), (3,)], "s int")

    def hbit(key, s):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit("#"), s.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    members = p.filter(F.col("p_brand") == "Brand#11").select(
        F.col("p_partkey").alias("k")
    )
    probes = p.filter(F.col("p_brand") == "Brand#22").select(
        F.col("p_partkey").alias("k")
    )
    bits = (
        members.crossJoin(F.broadcast(seeds))
        .select(hbit(F.col("k"), F.col("s")).alias("bit"))
        .distinct()
    )
    probe_bits = probes.crossJoin(F.broadcast(seeds)).select(
        "k", hbit(F.col("k"), F.col("s")).alias("bit")
    )
    hits = (
        probe_bits.join(bits, "bit")
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    meas = (
        members.agg(F.count("*").cast("double").alias("n"))
        .crossJoin(probes.agg(F.count("*").cast("double").alias("np")))
        .crossJoin(
            hits.filter(F.col("n_hit") == 3).agg(
                F.count("*").cast("double").alias("fp")
            )
        )
    )
    return meas.select(
        F.col("n").cast("bigint").alias("n_members"),
        F.col("np").cast("bigint").alias("n_probes"),
        F.col("fp").cast("bigint").alias("false_positives"),
        F.round(F.col("fp") / F.col("np"), 4).alias("measured_fpr"),
        F.round(
            F.pow(1 - F.exp(-3 * F.col("n") / F.lit(1024.0)), 3), 4
        ).alias("theoretical_fpr"),
    )


@register(
    "second_price_auction",
    oracle="""
    WITH bids AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_price
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey),
    ranked AS (
      SELECT l_partkey, unit_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY unit_price, l_suppkey) AS rk
      FROM bids),
    auctions AS (
      SELECT a.l_partkey, a.unit_price AS best, b.unit_price AS second
      FROM ranked a JOIN ranked b
        ON a.l_partkey = b.l_partkey AND a.rk = 1 AND b.rk = 2)
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_auctions,
           round(avg(second / best), 4) AS mean_price_ratio,
           round(avg(second - best), 4) AS mean_clearing_premium
    FROM auctions JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("window", "auction", "join"),
)
def q_second_price_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-price (Vickrey) clearing analysis: per part, suppliers
    'bid' their best observed unit price, the winner pays the
    runner-up's bid — mean second/first ratio per brand measures how
    competitive each segment's supply is (ratio→1 = thick market,
    the procurement-side twin of min_cost_supplier which only finds
    the winner). Per-part ranking is partition-parallel (window
    keyed on partkey, never global); rank-1 and rank-2 meet in a
    self-equi-join on the already-tiny ranked relation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bids = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    ranked = bids.select(
        "l_partkey",
        "unit_price",
        F.row_number()
        .over(Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey"))
        .alias("rk"),
    )
    a = ranked.filter(F.col("rk") == 1).select(
        "l_partkey", F.col("unit_price").alias("best")
    )
    b = ranked.filter(F.col("rk") == 2).select(
        "l_partkey", F.col("unit_price").alias("second")
    )
    auctions = a.join(b, "l_partkey")
    return (
        auctions.join(p, auctions["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_auctions"),
            F.round(F.avg(F.col("second") / F.col("best")), 4).alias(
                "mean_price_ratio"
            ),
            F.round(F.avg(F.col("second") - F.col("best")), 4).alias(
                "mean_clearing_premium"
            ),
        )
    )


@register(
    "rolling_beta",
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
    win AS (
      SELECT d, count(*) OVER w AS n,
             sum(x * y) OVER w AS sxy, sum(x) OVER w AS sx,
             sum(y) OVER w AS sy, sum(x * x) OVER w AS sxx
      FROM series
      WINDOW w AS (ORDER BY d ROWS BETWEEN 89 PRECEDING AND CURRENT ROW)),
    beta AS (
      SELECT d, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b
      FROM win WHERE n = 90)
    SELECT CAST(year(d) AS BIGINT) AS yr,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(b), 4) AS mean_beta
    FROM beta GROUP BY 1, 2
    """,
    tags=("timeseries", "regression", "window"),
)
def q_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 90-day beta of one nation's revenue against the
    global daily series — cov/var from the five windowed sums
    (Σxy, Σx, Σy, Σx², n), the finance-style exposure measure
    applied to revenue concentration: β>1 quarters are when the
    nation amplifies global swings. The left join densifies the
    nation series with zero-fill so quiet days depress β instead of
    silently shrinking the window; all five sums share ONE window
    frame over the |dates| aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    g = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("x")
    )
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
              c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("o_totalprice").alias("y"))
    )
    series = g.join(nat, "d", "left").select(
        "d", "x", F.coalesce("y", F.lit(0.0)).alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-89, 0)
    win = series.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    ).filter(F.col("n") == 90)
    beta = win.select(
        "d",
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("b"),
    )
    return beta.groupBy(
        F.year("d").cast("bigint").alias("yr"),
        F.quarter("d").cast("bigint").alias("qtr"),
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg("b"), 4).alias("mean_beta"),
    )


@register(
    "lagged_cross_correlation",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1),
    p AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
    shifted AS (
      SELECT lag, c.d + CAST(lag AS INT) AS dj, x
      FROM c CROSS JOIN lags)
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_days,
           round(corr(y, x), 4) AS xcorr
    FROM shifted JOIN p ON p.d = shifted.dj
    GROUP BY lag
    """,
    tags=("events", "timeseries", "correlation"),
)
def q_lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the click and purchase daily
    series: corr(clicks_{t−k}, purchases_t) for k = 0..7 — the
    lead-lag screen behind 'do clicks predict purchases, and with
    what delay' (the Granger-causality precursor; the argmax lag is
    the conversion latency). Each lag is the SAME daily aggregate
    joined at a date offset — one |dates|×8 shifted relation, one
    corr aggregate per lag, zero fact-table re-scans."""
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
    lags = local_df(spark, [(i,) for i in range(8)], "lag int")
    shifted = c.crossJoin(F.broadcast(lags)).select(
        "lag", F.date_add(F.col("d"), F.col("lag")).alias("dj"), "x"
    )
    return (
        shifted.join(p, shifted["dj"] == p["d"])
        .groupBy(F.col("lag").cast("bigint").alias("lag"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.corr("y", "x"), 4).alias("xcorr"),
        )
    )


@register(
    "pca_power_iteration",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) - 1 AS d,
             embedding[CAST(i AS INT)]::DOUBLE AS x
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    mu AS (SELECT d, avg(x) AS m, CAST(count(*) AS DOUBLE) AS n
           FROM dims GROUP BY d),
    raw AS (
      SELECT a.d AS i, b.d AS j, sum(a.x * b.x) AS sxy
      FROM dims a JOIN dims b USING (vec_id) GROUP BY 1, 2),
    cov AS (
      SELECT i, j, (sxy - mi.n * mi.m * mj.m) / (mi.n - 1) AS c
      FROM raw JOIN mu mi ON raw.i = mi.d JOIN mu mj ON raw.j = mj.d),
    v1 AS (SELECT i, sum(c) AS v FROM cov GROUP BY i),
    v2 AS (SELECT cov.i AS i, sum(c * v1.v) AS v
           FROM cov JOIN v1 ON cov.j = v1.i GROUP BY cov.i),
    v3 AS (SELECT cov.i AS i, sum(c * v2.v) AS v
           FROM cov JOIN v2 ON cov.j = v2.i GROUP BY cov.i),
    v4 AS (SELECT cov.i AS i, sum(c * v3.v) AS v
           FROM cov JOIN v3 ON cov.j = v3.i GROUP BY cov.i),
    lam AS (
      SELECT sum(v3.v * v4.v) / sum(v3.v * v3.v) AS lambda1
      FROM v3 JOIN v4 ON v3.i = v4.i),
    tr AS (SELECT sum(c) AS trace FROM cov WHERE i = j)
    SELECT CAST(64 AS BIGINT) AS n_dims,
           round(lambda1, 4) AS lambda1,
           round(lambda1 / trace, 4) AS explained_share
    FROM lam, tr
    """,
    tags=("ml", "embeddings", "iterative"),
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by THREE
    unrolled power-iteration steps, entirely in the engine: the
    64×64 covariance matrix is one self-join-and-aggregate over the
    exploded (vec_id, dim, value) relation, each iteration is a
    4096-row matvec (join on the shared dim + re-aggregate), and
    λ₁ comes from the Rayleigh quotient v·Cv/v·v — no driver-side
    linear algebra, no collect. The only fact-sized work is the one
    covariance aggregate (n·d² products, map-side combined);
    explained-variance share λ₁/tr(C) is the embedding-collapse
    diagnostic (a share near 1 means the representation degenerated
    to one axis — cf. top_dim_share's per-dim variance view). The
    covariance relation is `materialize`d (operators/iterate.py):
    it feeds six consumers (v1, three matvecs, the Rayleigh
    quotient, the trace), and without the cut each one re-runs the
    n·d² self-join (63 exchanges round 1 → ~12)."""
    from ...operators.iterate import materialize

    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select("vec_id", "d", F.col("x").cast("double").alias("x"))
    mu = dims.groupBy("d").agg(
        F.avg("x").alias("m"), F.count("*").cast("double").alias("n")
    )
    a = dims.select("vec_id", F.col("d").alias("i"), F.col("x").alias("xa"))
    bb = dims.select("vec_id", F.col("d").alias("j"), F.col("x").alias("xb"))
    raw = (
        a.join(bb, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("sxy"))
    )
    mi = mu.select(F.col("d").alias("i"), F.col("m").alias("m_i"), "n")
    mj = mu.select(F.col("d").alias("j"), F.col("m").alias("m_j"))
    cov = materialize(
        raw.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                (F.col("sxy") - F.col("n") * F.col("m_i") * F.col("m_j"))
                / (F.col("n") - 1)
            ).alias("c"),
        )
    )

    def matvec(v):
        vr = v.select(F.col("i").alias("j"), F.col("v").alias("vj"))
        return (
            cov.join(F.broadcast(vr), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("v"))
        )

    v1 = cov.groupBy("i").agg(F.sum("c").alias("v"))
    v2 = matvec(v1)
    v3 = matvec(v2)
    v4 = matvec(v3)
    lam = (
        v3.select("i", F.col("v").alias("v3"))
        .join(v4.select("i", F.col("v").alias("v4")), "i")
        .agg(
            (F.sum(F.col("v3") * F.col("v4")) / F.sum(F.col("v3") * F.col("v3"))).alias(
                "lambda1"
            )
        )
    )
    tr = cov.filter(F.col("i") == F.col("j")).agg(F.sum("c").alias("trace"))
    return lam.crossJoin(F.broadcast(tr)).select(
        F.lit(64).cast("bigint").alias("n_dims"),
        F.round("lambda1", 4).alias("lambda1"),
        F.round(F.col("lambda1") / F.col("trace"), 4).alias("explained_share"),
    )


@register(
    "burrows_delta",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents WHERE lang = 'en')
      WHERE length(w) >= 1),
    top AS (
      SELECT w FROM ws GROUP BY w ORDER BY count(*) DESC, w LIMIT 20),
    src_tot AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS tot FROM ws GROUP BY source),
    counts AS (
      SELECT source, w, CAST(count(*) AS DOUBLE) AS cnt
      FROM ws WHERE w IN (SELECT w FROM top) GROUP BY 1, 2),
    grid AS (SELECT source, tot, w FROM src_tot CROSS JOIN top),
    f AS (
      SELECT grid.source, grid.w, coalesce(cnt, 0) / tot AS fr
      FROM grid LEFT JOIN counts
        ON grid.source = counts.source AND grid.w = counts.w),
    z AS (
      SELECT source, w,
             (fr - avg(fr) OVER (PARTITION BY w))
               / stddev_samp(fr) OVER (PARTITION BY w) AS z
      FROM f),
    delta AS (
      SELECT a.source AS s1, b.source AS s2,
             avg(abs(a.z - b.z)) AS delta
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2)
    SELECT s1, s2, round(delta, 4) AS delta
    FROM delta ORDER BY delta, s1, s2 LIMIT 15
    """,
    tags=("text", "stylometry", "window"),
)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry between sources: z-score each
    source's relative frequency of the 20 most common words against
    the cross-source distribution, Delta(s₁,s₂) = mean |z₁−z₂| —
    the authorship-attribution distance applied as a corpus
    diagnostic (two 'independent' crawls with near-zero Delta are
    probably the same upstream content farm, a dedup signal whole-
    document hashing misses). The function-word profile is a
    |sources|×20 grid densified by a tiny cross join with zero-fill
    — absent words carry stylistic signal too; the 15 most similar
    pairs surface."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    top = (
        ws.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(20)
        .select("w")
    )
    src_tot = ws.groupBy("source").agg(F.count("*").cast("double").alias("tot"))
    counts = (
        ws.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    grid = src_tot.crossJoin(F.broadcast(top))
    f = grid.join(counts, ["source", "w"], "left").select(
        "source", "w", (F.coalesce("cnt", F.lit(0.0)) / F.col("tot")).alias("fr")
    )
    wz = Window.partitionBy("w")
    z = f.select(
        "source",
        "w",
        (
            (F.col("fr") - F.avg("fr").over(wz)) / F.stddev_samp("fr").over(wz)
        ).alias("z"),
    )
    a = z.select(F.col("source").alias("s1"), "w", F.col("z").alias("z1"))
    b = z.select(F.col("source").alias("s2"), "w", F.col("z").alias("z2"))
    delta = (
        a.join(b, "w")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.avg(F.abs(F.col("z1") - F.col("z2"))).alias("delta"))
    )
    return (
        delta.orderBy("delta", "s1", "s2")
        .limit(15)
        .select("s1", "s2", F.round("delta", 4).alias("delta"))
    )


@register(
    "ks_price_drift",
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
             sum(cb) OVER (ORDER BY v) AS ccb
      FROM merged)
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           round(max(abs(cca / n1 - ccb / n2)), 6) AS d_stat,
           round(sqrt(n1 * n2 / (n1 + n2))
                 * max(abs(cca / n1 - ccb / n2)), 4) AS ks_stat
    FROM cum, na, nb GROUP BY n1, n2
    """,
    tags=("stats", "nonparametric", "distribution-fit"),
)
def q_ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between two brands'
    retail-price distributions: D = sup|F₁−F₂| over the merged value
    domain, with the √(n₁n₂/(n₁+n₂))·D normalization — the
    distribution-drift test run between data slices (the two-sample
    twin of ks_uniformity_audit's one-sample check). Both ECDFs come
    from ONE union + value-level aggregate; the sup runs as a window
    over the distinct-value relation, which is histogram-sized, not
    row-sized — the formulation that survives when each sample is
    billions of rows."""
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
    na = a.agg(F.sum("ca").alias("n1"))
    nb = b.agg(F.sum("cb").alias("n2"))
    wv = Window.orderBy("v")
    cum = merged.select(
        "v",
        F.sum("ca").over(wv).alias("cca"),
        F.sum("cb").over(wv).alias("ccb"),
    )
    gap = F.abs(F.col("cca") / F.col("n1") - F.col("ccb") / F.col("n2"))
    return (
        cum.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .groupBy("n1", "n2")
        .agg(
            F.round(F.max(gap), 6).alias("d_stat"),
            F.round(
                F.sqrt(F.first("n1") * F.first("n2") / (F.first("n1") + F.first("n2")))
                * F.max(gap),
                4,
            ).alias("ks_stat"),
        )
        .select(
            F.col("n1").cast("bigint").alias("n_a"),
            F.col("n2").cast("bigint").alias("n_b"),
            "d_stat",
            "ks_stat",
        )
    )


@register(
    "eoq_batch_sizing",
    oracle="""
    WITH yrs AS (
      SELECT CAST(count(DISTINCT year(CAST(l_shipdate AS DATE))) AS DOUBLE)
             AS ny
      FROM lineitem),
    dem AS (
      SELECT p_brand, CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1)
    SELECT p_brand,
           round(q / ny, 2) AS annual_demand,
           round(sqrt(2 * (q / ny) * 100 / 2.0), 2) AS eoq,
           round((q / ny) / sqrt(2 * (q / ny) * 100 / 2.0), 2)
             AS orders_per_year
    FROM dem, yrs
    """,
    tags=("inventory", "economics", "agg"),
)
def q_eoq_batch_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per brand: EOQ = √(2DS/H) with order
    cost S=100 and annual holding cost H=2 per unit — the classic
    lot-sizing square-root law, the deterministic companion to
    newsvendor_quantile's stochastic fractile (EOQ sets the batch
    SIZE, the fractile sets the safety STOCK). Annualized demand
    divides by the observed year span so the answer is scale-factor
    invariant; one fact aggregate, one 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    yrs = li.agg(
        F.count_distinct(F.year(F.col("l_shipdate").cast("date")))
        .cast("double")
        .alias("ny")
    )
    dem = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum("l_quantity").cast("double").alias("q"))
    )
    ad = F.col("q") / F.col("ny")
    eoq = F.sqrt(2 * ad * 100 / 2.0)
    return dem.join(F.broadcast(yrs)).select(
        "p_brand",
        F.round(ad, 2).alias("annual_demand"),
        F.round(eoq, 2).alias("eoq"),
        F.round(ad / eoq, 2).alias("orders_per_year"),
    )


@register(
    "brier_calibration",
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
      SELECT vec_id, label, (1 + dot / (na * ncn)) / 2 AS p
      FROM dots, nc),
    binned AS (
      SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p,
             CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
      FROM scored)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 4) AS mean_pred,
           round(avg(y), 4) AS frac_pos,
           round(avg((p - y) * (p - y)), 4) AS brier
    FROM binned GROUP BY bin
    """,
    tags=("ml", "eval", "calibration"),
)
def q_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score for a one-vs-rest
    embedding classifier: pseudo-probability p = (1+cos(x, c₀))/2
    against the label-0 centroid, binned into deciles — per bin the
    mean prediction vs the observed positive rate IS the calibration
    curve, and the binned Brier decomposes the classifier-eval
    picture auc_rank_sum's threshold-free view cannot show
    (discrimination ≠ calibration). Centroid is a 64-row broadcast;
    scores are one aggregate over the exploded dims; no Python."""
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
    scored = dots.join(F.broadcast(nc)).select(
        "label",
        ((1 + F.col("dot") / (F.col("na") * F.col("ncn"))) / 2).alias("p"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
            "bin"
        ),
        "p",
        F.when(F.col("label") == 0, 1.0).otherwise(0.0).alias("y"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("p"), 4).alias("mean_pred"),
        F.round(F.avg("y"), 4).alias("frac_pos"),
        F.round(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 4).alias(
            "brier"
        ),
    )


@register(
    "theil_inequality_decomposition",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_nationkey, sum(o_totalprice) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    gl AS (SELECT avg(x) AS mu, CAST(count(*) AS DOUBLE) AS n FROM cust),
    gs AS (
      SELECT c_nationkey, avg(x) AS mug, CAST(count(*) AS DOUBLE) AS ng
      FROM cust GROUP BY 1),
    tg AS (
      SELECT g.c_nationkey, any_value(g.mug) AS mug, any_value(g.ng) AS ng,
             sum((c.x / g.mug) * ln(c.x / g.mug)) / any_value(g.ng) AS t_g
      FROM cust c JOIN gs g USING (c_nationkey) GROUP BY g.c_nationkey),
    tot AS (
      SELECT sum((x / mu) * ln(x / mu)) / n AS t_total
      FROM cust, gl GROUP BY n),
    dec AS (
      SELECT sum((ng * mug / (n * mu)) * ln(mug / mu)) AS t_between,
             sum((ng * mug / (n * mu)) * t_g) AS t_within
      FROM tg, gl GROUP BY n, mu)
    SELECT round(t_total, 6) AS t_total,
           round(t_between, 6) AS t_between,
           round(t_within, 6) AS t_within,
           round(t_total - t_between - t_within, 6) + 0.0 AS identity_gap
    FROM tot, dec
    """,
    tags=("inequality", "stats", "decomposition"),
)
def q_theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer revenue, exactly decomposed
    into between-nation + within-nation components — the property
    that makes Theil the inequality measure for drill-downs (Gini,
    gini_concentration, does NOT decompose additively): T =
    Σ s_g·ln(μ_g/μ) + Σ s_g·T_g with revenue shares s_g. The
    identity_gap column re-derives T−(between+within) and must be
    exactly 0.000000 in BOTH engines — a built-in cross-engine
    algebra check. One fact aggregate to per-customer totals, one
    group-stats pass, all reductions map-side combinable."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    gl = cust.agg(
        F.avg("x").alias("mu"), F.count("*").cast("double").alias("n")
    )
    gs = cust.groupBy("c_nationkey").agg(
        F.avg("x").alias("mug"), F.count("*").cast("double").alias("ng")
    )
    tg = (
        cust.join(F.broadcast(gs), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.first("mug").alias("mug"),
            F.first("ng").alias("ng"),
            (
                F.sum((F.col("x") / F.col("mug")) * F.log(F.col("x") / F.col("mug")))
                / F.first("ng")
            ).alias("t_g"),
        )
    )
    tot = cust.join(F.broadcast(gl)).groupBy("n").agg(
        (F.sum((F.col("x") / F.col("mu")) * F.log(F.col("x") / F.col("mu"))) / F.col("n")).alias(
            "t_total"
        )
    )
    share = F.col("ng") * F.col("mug") / (F.col("n") * F.col("mu"))
    dec = tg.join(F.broadcast(gl)).groupBy("n", "mu").agg(
        F.sum(share * F.log(F.col("mug") / F.col("mu"))).alias("t_between"),
        F.sum(share * F.col("t_g")).alias("t_within"),
    )
    return tot.crossJoin(F.broadcast(dec.drop("n", "mu"))).select(
        F.round("t_total", 6).alias("t_total"),
        F.round("t_between", 6).alias("t_between"),
        F.round("t_within", 6).alias("t_within"),
        canon_round(
            F.col("t_total") - F.col("t_between") - F.col("t_within"), 6
        ).alias("identity_gap"),
    )


@register(
    "silhouette_by_label",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
             1 - list_sum(list_transform(generate_series(1, 64),
                          k -> a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                     k -> a.embedding[k]::DOUBLE * a.embedding[k]::DOUBLE)))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                     k -> b.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))))
               AS dist
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
    m AS (
      SELECT i, li, lj, avg(dist) AS md
      FROM pairs GROUP BY 1, 2, 3),
    ab AS (
      SELECT i, li,
             max(CASE WHEN lj = li THEN md END) AS a,
             min(CASE WHEN lj <> li THEN md END) AS b
      FROM m GROUP BY 1, 2),
    s AS (
      SELECT li, (b - a) / greatest(a, b) AS sil
      FROM ab WHERE a IS NOT NULL AND b IS NOT NULL)
    SELECT CAST(li AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(sil), 4) AS mean_silhouette
    FROM s GROUP BY li
    """,
    tags=("ml", "clustering", "embeddings"),
)
def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette coefficient per label over cosine distance — the
    cluster-quality score that says whether the labels are real
    geometric clusters (s→1) or arbitrary partitions (s≈0,
    complementing centroid_classify's accuracy view): a(i) = mean
    distance to own label (self excluded), b(i) = nearest other
    label's mean distance, s = (b−a)/max(a,b). Distances come from
    one dot-product aggregate over the exploded dims relation (the
    same join shape as pca_power_iteration's covariance, keyed on
    vec pairs); per-(vector, label) means are a second hash
    aggregate — no UDF, no driver loop. At 100 TB the pair join is
    the LSH-bucketed candidate set, not the full cross product."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    na = dims.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    a = (
        dims.join(na, "vec_id")
        .select(
            F.col("vec_id").alias("i"),
            F.col("label").alias("li"),
            "pos",
            (F.col("v") / F.col("nrm")).alias("va"),
        )
    )
    b = (
        dims.join(na, "vec_id")
        .select(
            F.col("vec_id").alias("j"),
            F.col("label").alias("lj"),
            "pos",
            (F.col("v") / F.col("nrm")).alias("vb"),
        )
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "li", "j", "lj")
        .agg((1 - F.sum(F.col("va") * F.col("vb"))).alias("dist"))
    )
    m = pairs.groupBy("i", "li", "lj").agg(F.avg("dist").alias("md"))
    ab = m.groupBy("i", "li").agg(
        F.max(F.when(F.col("lj") == F.col("li"), F.col("md"))).alias("a"),
        F.min(F.when(F.col("lj") != F.col("li"), F.col("md"))).alias("b"),
    )
    s = ab.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).select(
        "li",
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("sil"),
    )
    return s.groupBy(F.col("li").cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("sil"), 4).alias("mean_silhouette"),
    )


@register(
    "mrr_waterfall",
    oracle="""
    WITH rev AS (
      SELECT o_custkey AS cust, date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             sum(o_totalprice) AS r
      FROM orders GROUP BY 1, 2),
    maxm AS (SELECT max(m) AS mx FROM rev),
    shifted AS (
      SELECT cust, m + INTERVAL 1 MONTH AS m, r AS prev_r FROM rev),
    merged AS (
      SELECT coalesce(a.cust, b.cust) AS cust,
             coalesce(a.m, b.m) AS m,
             coalesce(a.r, 0) AS cur_r, coalesce(b.prev_r, 0) AS prev_r
      FROM rev a FULL OUTER JOIN shifted b
        ON a.cust = b.cust AND a.m = b.m)
    SELECT strftime(m, '%Y-%m') AS month,
           round(sum(CASE WHEN prev_r = 0 THEN cur_r ELSE 0 END), 2) AS new_mrr,
           round(sum(CASE WHEN prev_r > 0 AND cur_r > prev_r
                          THEN cur_r - prev_r ELSE 0 END), 2) AS expansion,
           round(sum(CASE WHEN cur_r > 0 AND cur_r < prev_r
                          THEN prev_r - cur_r ELSE 0 END), 2) AS contraction,
           round(sum(CASE WHEN cur_r = 0 THEN prev_r ELSE 0 END), 2) AS churned
    FROM merged, maxm
    WHERE m <= mx AND m > (SELECT min(m) FROM rev)
    GROUP BY 1
    """,
    tags=("saas", "cohort", "outer"),
)
def q_mrr_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR movement waterfall: month-over-month per-customer revenue
    classified into new / expansion / contraction / churned — the
    revenue-bridge decomposition under net_revenue_retention's
    single ratio (NRR tells you THAT revenue retained; the waterfall
    says WHO moved it). The month-over-month pairing is a full outer
    self-join of the (customer, month) aggregate against itself
    shifted one month — churn rows exist ONLY because of the outer
    side, the classic gotcha an inner-join formulation silently
    drops; the phantom month past the series end is clipped by the
    broadcast max-month bound."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
    ).agg(F.sum("o_totalprice").alias("r"))
    bounds = rev.agg(F.max("m").alias("mx"), F.min("m").alias("mn"))
    shifted = rev.select(
        "cust", F.add_months(F.col("m"), 1).cast("timestamp").alias("m"),
        F.col("r").alias("prev_r"),
    )
    cur = rev.select("cust", "m", F.col("r").alias("cur_r"))
    merged = (
        cur.join(shifted, ["cust", "m"], "full_outer")
        .select(
            "m",
            F.coalesce("cur_r", F.lit(0.0)).alias("cur_r"),
            F.coalesce("prev_r", F.lit(0.0)).alias("prev_r"),
        )
    )
    clipped = merged.join(F.broadcast(bounds)).filter(
        (F.col("m") <= F.col("mx")) & (F.col("m") > F.col("mn"))
    )
    return clipped.groupBy(F.date_format("m", "yyyy-MM").alias("month")).agg(
        F.round(
            F.sum(F.when(F.col("prev_r") == 0, F.col("cur_r")).otherwise(0.0)), 2
        ).alias("new_mrr"),
        F.round(
            F.sum(
                F.when(
                    (F.col("prev_r") > 0) & (F.col("cur_r") > F.col("prev_r")),
                    F.col("cur_r") - F.col("prev_r"),
                ).otherwise(0.0)
            ),
            2,
        ).alias("expansion"),
        F.round(
            F.sum(
                F.when(
                    (F.col("cur_r") > 0) & (F.col("cur_r") < F.col("prev_r")),
                    F.col("prev_r") - F.col("cur_r"),
                ).otherwise(0.0)
            ),
            2,
        ).alias("contraction"),
        F.round(
            F.sum(F.when(F.col("cur_r") == 0, F.col("prev_r")).otherwise(0.0)), 2
        ).alias("churned"),
    )


@register(
    "price_volume_mix",
    oracle="""
    WITH py AS (
      SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
             sum(l_extendedprice) / sum(l_quantity) AS p,
             CAST(sum(l_quantity) AS DOUBLE) AS q
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
        AND l_quantity > 0
      GROUP BY 1, 2),
    y0 AS (SELECT l_partkey, p AS p0, q AS q0 FROM py WHERE yr = 1996),
    y1 AS (SELECT l_partkey, p AS p1, q AS q1 FROM py WHERE yr = 1997),
    common AS (
      SELECT y0.l_partkey,
             (p1 - p0) * q0 AS price_eff,
             (q1 - q0) * p0 AS volume_eff,
             (p1 - p0) * (q1 - q0) AS mix_eff
      FROM y0 JOIN y1 USING (l_partkey)),
    solo AS (
      SELECT coalesce(sum(CASE WHEN y0.l_partkey IS NULL THEN p1 * q1 END), 0)
             - coalesce(sum(CASE WHEN y1.l_partkey IS NULL THEN p0 * q0 END), 0)
               AS net_new
      FROM y0 FULL OUTER JOIN y1 USING (l_partkey)
      WHERE y0.l_partkey IS NULL OR y1.l_partkey IS NULL),
    eff AS (
      SELECT sum(price_eff) AS pe, sum(volume_eff) AS ve, sum(mix_eff) AS me
      FROM common)
    SELECT round(pe, 2) AS price_effect,
           round(ve, 2) AS volume_effect,
           round(me, 2) AS mix_effect,
           round(net_new, 2) AS net_new_effect,
           round(pe + ve + me + net_new, 2) AS total_change
    FROM eff, solo
    """,
    tags=("economics", "decomposition", "outer-join"),
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge for the 1996→1997 revenue change:
    ΔRev = Σ(Δp·q₀) + Σ(Δq·p₀) + Σ(Δp·Δq) over parts sold both
    years, plus the net-new term for parts that entered or exited —
    the FP&A variance-analysis decomposition, with total_change
    re-assembled from the four effects so the identity is checked
    in both engines. Per-(part, year) price/quantity is one fact
    aggregate; the two years meet in a part-keyed join (inner for
    the common decomposition, full outer for entry/exit — the rows
    an inner-only formulation loses)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.year(F.col("l_shipdate").cast("date")).isin(1996, 1997))
        & (F.col("l_quantity") > 0)
    )
    py = li.groupBy(
        "l_partkey", F.year(F.col("l_shipdate").cast("date")).alias("yr")
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").cast("double").alias("q"),
    )
    y0 = py.filter(F.col("yr") == 1996).select(
        "l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    y1 = py.filter(F.col("yr") == 1997).select(
        "l_partkey", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    common = y0.join(y1, "l_partkey").select(
        ((F.col("p1") - F.col("p0")) * F.col("q0")).alias("price_eff"),
        ((F.col("q1") - F.col("q0")) * F.col("p0")).alias("volume_eff"),
        ((F.col("p1") - F.col("p0")) * (F.col("q1") - F.col("q0"))).alias("mix_eff"),
    )
    outer = y0.join(y1, "l_partkey", "full_outer")
    solo = outer.filter(
        F.col("p0").isNull() | F.col("p1").isNull()
    ).agg(
        (
            F.coalesce(
                F.sum(F.when(F.col("p0").isNull(), F.col("p1") * F.col("q1"))),
                F.lit(0.0),
            )
            - F.coalesce(
                F.sum(F.when(F.col("p1").isNull(), F.col("p0") * F.col("q0"))),
                F.lit(0.0),
            )
        ).alias("net_new")
    )
    eff = common.agg(
        F.sum("price_eff").alias("pe"),
        F.sum("volume_eff").alias("ve"),
        F.sum("mix_eff").alias("me"),
    )
    return eff.crossJoin(F.broadcast(solo)).select(
        F.round("pe", 2).alias("price_effect"),
        F.round("ve", 2).alias("volume_effect"),
        F.round("me", 2).alias("mix_effect"),
        F.round("net_new", 2).alias("net_new_effect"),
        F.round(
            F.col("pe") + F.col("ve") + F.col("me") + F.col("net_new"), 2
        ).alias("total_change"),
    )


@register(
    "tukey_fences_outliers",
    oracle="""
    WITH fences AS (
      SELECT p_brand,
             CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS q1,
             CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS q3
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand),
    flagged AS (
      SELECT f.p_brand,
             CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1) THEN 1 ELSE 0 END AS lo,
             CASE WHEN l_extendedprice > q3 + 1.5 * (q3 - q1) THEN 1 ELSE 0 END AS hi
      FROM lineitem JOIN part ON l_partkey = p_partkey
      JOIN fences f ON part.p_brand = f.p_brand)
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(lo) AS BIGINT) AS n_low,
           CAST(sum(hi) AS BIGINT) AS n_high,
           round((sum(lo) + sum(hi)) / CAST(count(*) AS DOUBLE), 5)
             AS outlier_rate
    FROM flagged GROUP BY p_brand
    """,
    tags=("stats", "quality", "percentile"),
)
def q_tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per brand: rows outside
    [Q1−1.5·IQR, Q3+1.5·IQR] of extended price — the boxplot rule,
    the robust alternative to z-score flags (fences come from
    quartiles, so the outliers themselves cannot inflate the
    threshold that detects them, unlike mean±kσ). Two passes over
    the fact: one grouped exact-percentile aggregate to the
    |brands|-row fence relation, broadcast back for the counting
    pass — the same shape the reference uses for its masked-mean
    statistic (load_to_postgis.py:74-79) generalized to robust
    bounds."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_brand", "l_extendedprice"
    )
    fences = j.groupBy("p_brand").agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("q1"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    flagged = j.join(F.broadcast(fences), "p_brand").select(
        "p_brand",
        F.when(F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr, 1)
        .otherwise(0)
        .alias("lo"),
        F.when(F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr, 1)
        .otherwise(0)
        .alias("hi"),
    )
    return flagged.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("lo").cast("bigint").alias("n_low"),
        F.sum("hi").cast("bigint").alias("n_high"),
        F.round(
            (F.sum("lo") + F.sum("hi")) / F.count("*").cast("double"), 5
        ).alias("outlier_rate"),
    )


@register(
    "hypergeometric_enrichment",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT c_nationkey, c_custkey, p_brand
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part ON l_partkey = p_partkey),
    uni AS (SELECT CAST(count(DISTINCT c_custkey) AS DOUBLE) AS nn FROM inc),
    brand_tot AS (
      SELECT p_brand, CAST(count(DISTINCT c_custkey) AS DOUBLE) AS kk
      FROM inc GROUP BY 1),
    nat_tot AS (
      SELECT c_nationkey, CAST(count(DISTINCT c_custkey) AS DOUBLE) AS sn
      FROM inc GROUP BY 1),
    cell AS (
      SELECT c_nationkey, p_brand,
             CAST(count(DISTINCT c_custkey) AS DOUBLE) AS k
      FROM inc GROUP BY 1, 2),
    z AS (
      SELECT n_name, p_brand, CAST(k AS BIGINT) AS observed,
             round(sn * kk / nn, 2) AS expected,
             (k - sn * kk / nn)
               / sqrt(sn * kk * (nn - kk) * (nn - sn) / (nn * nn * (nn - 1)))
               AS zscore
      FROM cell JOIN brand_tot USING (p_brand)
      JOIN nat_tot USING (c_nationkey)
      JOIN nation ON c_nationkey = n_nationkey, uni)
    SELECT n_name, p_brand, observed, expected, round(zscore, 4) AS zscore
    FROM z ORDER BY abs(zscore) DESC, n_name, p_brand LIMIT 15
    """,
    tags=("stats", "enrichment", "join"),
)
def q_hypergeometric_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypergeometric enrichment screen over the nation×brand
    incidence: which nations buy which brands MORE than drawing
    customers at random would predict — observed distinct-customer
    overlap against the exact hypergeometric mean nK/N and variance
    nK(N−K)(N−n)/(N²(N−1)), the gene-set-enrichment statistic
    pointed at market segmentation. The incidence relation is
    deduped ONCE (distinct customer-brand-nation triples) and all
    three marginals re-aggregate from it — the |cells| relation is
    |nations|×|brands|, so every join after the dedup is
    broadcast-sized; top-15 |z| surface."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    inc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select("c_nationkey", "c_custkey", "p_brand")
        .distinct()
    )
    uni = inc.agg(F.count_distinct("c_custkey").cast("double").alias("nn"))
    brand_tot = inc.groupBy("p_brand").agg(
        F.count_distinct("c_custkey").cast("double").alias("kk")
    )
    nat_tot = inc.groupBy("c_nationkey").agg(
        F.count_distinct("c_custkey").cast("double").alias("sn")
    )
    cell = inc.groupBy("c_nationkey", "p_brand").agg(
        F.count_distinct("c_custkey").cast("double").alias("k")
    )
    mu = F.col("sn") * F.col("kk") / F.col("nn")
    var = (
        F.col("sn")
        * F.col("kk")
        * (F.col("nn") - F.col("kk"))
        * (F.col("nn") - F.col("sn"))
        / (F.col("nn") * F.col("nn") * (F.col("nn") - 1))
    )
    z = (
        cell.join(F.broadcast(brand_tot), "p_brand")
        .join(F.broadcast(nat_tot), "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .crossJoin(F.broadcast(uni))
        .select(
            "n_name",
            "p_brand",
            F.col("k").cast("bigint").alias("observed"),
            F.round(mu, 2).alias("expected"),
            ((F.col("k") - mu) / F.sqrt(var)).alias("zscore"),
        )
    )
    return (
        z.orderBy(F.abs(F.col("zscore")).desc(), "n_name", "p_brand")
        .limit(15)
        .select(
            "n_name",
            "p_brand",
            "observed",
            "expected",
            F.round("zscore", 4).alias("zscore"),
        )
    )


@register(
    "jensen_shannon_sources",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents WHERE source IN ('src0', 'src1'))
      WHERE length(w) >= 1),
    cnt AS (
      SELECT w,
             CAST(count(*) FILTER (WHERE source = 'src0') AS DOUBLE) AS c0,
             CAST(count(*) FILTER (WHERE source = 'src1') AS DOUBLE) AS c1
      FROM ws GROUP BY w),
    tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM cnt),
    pq AS (SELECT c0 / n0 AS p, c1 / n1 AS q FROM cnt, tot),
    js AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab,
             sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2))
                      ELSE 0 END)
           + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
                      ELSE 0 END) AS js_nats
      FROM pq)
    SELECT vocab, round(js_nats, 6) AS js_nats,
           round(js_nats / ln(2), 6) AS js_bits
    FROM js
    """,
    tags=("text", "information", "distribution-fit"),
)
def q_jensen_shannon_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' word
    distributions — the symmetric, bounded (≤ ln 2) distribution
    distance used to monitor training-mix drift between corpus
    snapshots (KL alone is infinite the moment one source has a
    word the other lacks; JS's mixture midpoint makes missing words
    finite, handled here by the p>0 guards instead of smoothing).
    One grouped count builds the joint vocabulary relation with
    both sources as FILTER columns — no outer join needed — and the
    divergence is a single sum over |vocab| rows."""
    d = _t(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1"))
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    cnt = ws.groupBy("w").agg(
        F.count_if(F.col("source") == "src0").cast("double").alias("c0"),
        F.count_if(F.col("source") == "src1").cast("double").alias("c1"),
    )
    tot = cnt.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    pq = cnt.join(F.broadcast(tot)).select(
        (F.col("c0") / F.col("n0")).alias("p"),
        (F.col("c1") / F.col("n1")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    js = pq.agg(
        F.count("*").cast("bigint").alias("vocab"),
        (
            F.sum(F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / m)).otherwise(0.0))
            + F.sum(F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / m)).otherwise(0.0))
        ).alias("js_nats"),
    )
    return js.select(
        "vocab",
        F.round("js_nats", 6).alias("js_nats"),
        F.round(F.col("js_nats") / F.lit(math.log(2.0)), 6).alias("js_bits"),
    )


@register(
    "hill_tail_index",
    oracle="""
    WITH topk AS (
      SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders QUALIFY rk <= 501),
    thr AS (SELECT x AS xk FROM topk WHERE rk = 501),
    hill AS (
      SELECT CAST(count(*) AS DOUBLE) AS k, avg(ln(x / xk)) AS h
      FROM topk, thr WHERE rk <= 500)
    SELECT CAST(k AS BIGINT) AS k,
           round((SELECT xk FROM thr), 2) AS threshold,
           round(1 / h, 4) AS hill_alpha
    FROM hill
    """,
    tags=("stats", "extremes", "topk"),
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over the top-500
    order values: α̂ = 1/mean(ln(x_(i)/x_(k+1))) — the tail-heaviness
    measure that says whether extremes have finite variance (α>2) —
    the peaks-over-threshold companion to block_maxima_gumbel (which
    assumes a thin tail; Hill MEASURES the tail). The only global
    work is a top-501 selection — TakeOrderedAndProject, a per-
    partition heap + driver merge of 501 rows, never a full sort —
    and the estimator itself is one aggregate over those 500 rows."""
    o = _t(spark, sf_dir, "orders")
    from ...operators.rank import global_ranked

    topk = global_ranked(
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.desc("x"), "o_orderkey")
        .limit(501),
        [("x", "desc"), "o_orderkey"],
        row_number="rk",
    ).select("x", "rk")
    thr = topk.filter(F.col("rk") == 501).select(F.col("x").alias("xk"))
    hill = (
        topk.filter(F.col("rk") <= 500)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").cast("double").alias("k"),
            F.avg(F.log(F.col("x") / F.col("xk"))).alias("h"),
            F.first("xk").alias("xk"),
        )
    )
    return hill.select(
        F.col("k").cast("bigint").alias("k"),
        F.round("xk", 2).alias("threshold"),
        F.round(1 / F.col("h"), 4).alias("hill_alpha"),
    )


@register(
    "cochran_armitage_trend",
    oracle="""
    WITH ord AS (
      SELECT o_orderkey,
             CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) AS s
      FROM orders),
    outcome AS (
      SELECT l_orderkey,
             max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT s, CAST(ret AS DOUBLE) AS y
      FROM ord JOIN outcome ON o_orderkey = l_orderkey),
    cells AS (
      SELECT s, CAST(count(*) AS DOUBLE) AS n, sum(y) AS r
      FROM j GROUP BY s),
    tot AS (
      SELECT sum(n) AS nn, sum(r) / sum(n) AS pbar,
             sum(s * n) AS sn, sum(s * s * n) AS ssn
      FROM cells),
    stat AS (
      SELECT sum(s * (r - n * pbar)) AS num,
             any_value(sqrt(pbar * (1 - pbar) * (ssn - sn * sn / nn))) AS den,
             any_value(nn) AS nn, any_value(pbar) AS pbar
      FROM cells, tot GROUP BY nn)
    SELECT CAST(nn AS BIGINT) AS n_orders,
           round(pbar, 5) AS overall_return_rate,
           round(num / den, 4) AS trend_z
    FROM stat
    """,
    tags=("stats", "trend", "join"),
)
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the probability an order
    contains a returned item rise MONOTONICALLY with order priority
    (scores 1..5 parsed from the priority label)? The trend z
    weights each ordered group's excess return count by its score —
    strictly more powerful than chi-square independence when the
    alternative is ordered (chi_square_independence treats groups
    as exchangeable and burns power on non-monotone patterns). The
    order-level outcome is one max-aggregate over lineitem; the
    test statistic reduces over the 5-row cell relation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ord_ = o.select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("double").alias("s"),
    )
    outcome = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret")
    )
    j = ord_.join(outcome, ord_["o_orderkey"] == outcome["l_orderkey"]).select(
        "s", F.col("ret").cast("double").alias("y")
    )
    cells = j.groupBy("s").agg(
        F.count("*").cast("double").alias("n"), F.sum("y").alias("r")
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        (F.sum("r") / F.sum("n")).alias("pbar"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"),
    )
    stat = cells.join(F.broadcast(tot)).groupBy("nn").agg(
        F.sum(F.col("s") * (F.col("r") - F.col("n") * F.col("pbar"))).alias("num"),
        F.first(
            F.sqrt(
                F.col("pbar")
                * (1 - F.col("pbar"))
                * (F.col("ssn") - F.col("sn") * F.col("sn") / F.col("nn"))
            )
        ).alias("den"),
        F.first("pbar").alias("pbar"),
    )
    return stat.select(
        F.col("nn").cast("bigint").alias("n_orders"),
        F.round("pbar", 5).alias("overall_return_rate"),
        F.round(F.col("num") / F.col("den"), 4).alias("trend_z"),
    )


@register(
    "monroe_log_odds",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents WHERE source IN ('src0', 'src1'))
      WHERE length(w) >= 2),
    cnt AS (
      SELECT w,
             CAST(count(*) FILTER (WHERE source = 'src0') AS DOUBLE) AS y0,
             CAST(count(*) FILTER (WHERE source = 'src1') AS DOUBLE) AS y1
      FROM ws GROUP BY w),
    tot AS (
      SELECT sum(y0) AS n0, sum(y1) AS n1,
             CAST(count(*) AS DOUBLE) AS v
      FROM cnt),
    z AS (
      SELECT w, CAST(y0 AS BIGINT) AS c_src0, CAST(y1 AS BIGINT) AS c_src1,
             (ln((y0 + 0.1) / (n0 + 0.1 * v - y0 - 0.1))
              - ln((y1 + 0.1) / (n1 + 0.1 * v - y1 - 0.1)))
             / sqrt(1 / (y0 + 0.1) + 1 / (y1 + 0.1)) AS zeta
      FROM cnt, tot)
    SELECT w, c_src0, c_src1, round(zeta, 4) AS zeta
    FROM z ORDER BY abs(zeta) DESC, w LIMIT 15
    """,
    tags=("text", "stylometry", "stats"),
)
def q_monroe_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe/Colaresi/Quinn 'fightin' words': log-odds-ratio of
    word use between two sources with a Dirichlet prior (α=0.1 per
    word), z-scored by the delta-method variance 1/(y+α)+1/(y'+α) —
    the principled replacement for raw frequency-ratio keyword
    lists, which explode on rare words (the prior shrinks them; the
    variance downweights them). Same single-aggregate joint-vocab
    shape as jensen_shannon_sources; top-15 |z| are the words that
    most distinguish the two crawls."""
    d = _t(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1"))
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 2)
    cnt = ws.groupBy("w").agg(
        F.count_if(F.col("source") == "src0").cast("double").alias("y0"),
        F.count_if(F.col("source") == "src1").cast("double").alias("y1"),
    )
    tot = cnt.agg(
        F.sum("y0").alias("n0"),
        F.sum("y1").alias("n1"),
        F.count("*").cast("double").alias("v"),
    )
    a = 0.1
    num = F.log((F.col("y0") + a) / (F.col("n0") + a * F.col("v") - F.col("y0") - a)) - F.log(
        (F.col("y1") + a) / (F.col("n1") + a * F.col("v") - F.col("y1") - a)
    )
    den = F.sqrt(1 / (F.col("y0") + a) + 1 / (F.col("y1") + a))
    z = cnt.join(F.broadcast(tot)).select(
        "w",
        F.col("y0").cast("bigint").alias("c_src0"),
        F.col("y1").cast("bigint").alias("c_src1"),
        (num / den).alias("zeta"),
    )
    return (
        z.orderBy(F.abs(F.col("zeta")).desc(), "w")
        .limit(15)
        .select("w", "c_src0", "c_src1", F.round("zeta", 4).alias("zeta"))
    )


@register(
    "gini_split_gain",
    oracle="""
    WITH cells AS (
      SELECT l_discount AS t,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS r
      FROM lineitem GROUP BY 1),
    cum AS (
      SELECT t,
             sum(n) OVER (ORDER BY t) AS nl,
             sum(r) OVER (ORDER BY t) AS rl,
             sum(n) OVER () AS nn, sum(r) OVER () AS rr
      FROM cells),
    gain AS (
      SELECT t, nl,
             2 * (rr / nn) * (1 - rr / nn)
             - (nl / nn) * 2 * (rl / nl) * (1 - rl / nl)
             - ((nn - nl) / nn) * 2 * ((rr - rl) / (nn - nl))
               * (1 - (rr - rl) / (nn - nl)) AS g
      FROM cum WHERE nl < nn)
    SELECT round(t, 2) AS threshold,
           CAST(nl AS BIGINT) AS n_left,
           round(g, 6) AS gini_gain
    FROM gain
    """,
    tags=("ml", "binning", "window"),
)
def q_gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first node of a decision tree as a query: Gini-impurity
    gain of every candidate split 'discount ≤ t' for predicting
    line-item returns — root impurity 2p(1−p) minus the
    size-weighted child impurities, evaluated at ALL thresholds at
    once. This is exactly how distributed GBDT implementations
    (XGBoost/LightGBM on Spark) find splits: ONE histogram aggregate
    over the fact table (|distinct values| cells), then cumulative
    sums over the tiny cell relation give every left/right partition
    simultaneously — no per-threshold re-scan of the data."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(F.col("l_discount").alias("t")).agg(
        F.count("*").cast("double").alias("n"),
        F.count_if(F.col("l_returnflag") == "R").cast("double").alias("r"),
    )
    from ...operators.rank import global_ranked

    cum = global_ranked(
        cells,
        ["t"],
        running_sums={"nl": F.col("n"), "rl": F.col("r")},
        total_sums={"nn": F.col("n"), "rr": F.col("r")},
    ).select("t", "nl", "rl", "nn", "rr")
    gini = lambda r, n: 2 * (r / n) * (1 - r / n)
    g = (
        gini(F.col("rr"), F.col("nn"))
        - (F.col("nl") / F.col("nn")) * gini(F.col("rl"), F.col("nl"))
        - ((F.col("nn") - F.col("nl")) / F.col("nn"))
        * gini(F.col("rr") - F.col("rl"), F.col("nn") - F.col("nl"))
    )
    return cum.filter(F.col("nl") < F.col("nn")).select(
        F.round("t", 2).alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.round(g, 6).alias("gini_gain"),
    )


@register(
    "kish_design_effect",
    oracle="""
    WITH sampled AS (
      SELECT c_custkey, c_nationkey
      FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::UBIGINT
            % 100 < 20),
    nat_tot AS (
      SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS nt
      FROM customer GROUP BY 1),
    nat_smp AS (
      SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS ns
      FROM sampled GROUP BY 1),
    wts AS (
      SELECT s.c_custkey, nt / ns AS w
      FROM sampled s JOIN nat_tot USING (c_nationkey)
      JOIN nat_smp USING (c_nationkey)),
    agg AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(w) AS mw,
             avg(w * w) AS mw2
      FROM wts)
    SELECT CAST(n AS BIGINT) AS n_sample,
           round(n * mw2 / (n * mw * mw / n) / n, 4) AS deff,
           round(n / (n * mw2 / (mw * mw * n)), 1) AS n_effective
    FROM agg
    """,
    tags=("survey", "sampling", "weights"),
)
def q_kish_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish design effect of a nation-stratified 20% hash sample:
    deff = n·Σw²/(Σw)² — how much variance the unequal
    inverse-probability weights cost versus simple random sampling,
    and the effective sample size n/deff every survey-weighted
    estimate should quote instead of its raw n. The sample membership
    is the same deterministic md5-bucket device as
    hash_split_summary (reproducible across engines and runs);
    weights are nation-total/nation-sampled from two tiny broadcast
    marginals."""
    c = _t(spark, sf_dir, "customer")
    sampled = c.filter(CUR.hash_bucket(F.col("c_custkey"), 100) < 20).select(
        "c_custkey", "c_nationkey"
    )
    nat_tot = c.groupBy("c_nationkey").agg(
        F.count("*").cast("double").alias("nt")
    )
    nat_smp = sampled.groupBy("c_nationkey").agg(
        F.count("*").cast("double").alias("ns")
    )
    wts = (
        sampled.join(F.broadcast(nat_tot), "c_nationkey")
        .join(F.broadcast(nat_smp), "c_nationkey")
        .select((F.col("nt") / F.col("ns")).alias("w"))
    )
    agg = wts.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("w").alias("mw"),
        F.avg(F.col("w") * F.col("w")).alias("mw2"),
    )
    deff = F.col("mw2") / (F.col("mw") * F.col("mw"))
    return agg.select(
        F.col("n").cast("bigint").alias("n_sample"),
        F.round(deff, 4).alias("deff"),
        F.round(F.col("n") / deff, 1).alias("n_effective"),
    )


@register(
    "dirichlet_query_likelihood",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    coll AS (SELECT sum(tf) AS ctot FROM tf),
    cf AS (
      SELECT token, sum(tf) AS cf FROM tf
      WHERE token IN ('spark', 'join', 'window') GROUP BY token),
    grid AS (
      SELECT dl.doc_id, dl.dl, cf.token, cf.cf FROM dl CROSS JOIN cf),
    scored AS (
      SELECT g.doc_id,
             sum(ln((coalesce(t.tf, 0) + 2000 * g.cf / ctot)
                    / (g.dl + 2000))) AS score
      FROM grid g
      LEFT JOIN tf t ON t.doc_id = g.doc_id AND t.token = g.token,
      coll GROUP BY g.doc_id)
    SELECT doc_id, round(score, 6) AS score
    FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "lm"),
)
def q_dirichlet_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ=2000):
    score(d) = Σ_w ln((tf + μ·P_coll(w))/(|d| + μ)) — the language-
    modeling ranking function next to bm25_rank's probabilistic one
    (the two classical IR families on the same corpus; Dirichlet's
    length normalization is principled where BM25's b is tuned).
    Zero-tf terms still contribute the collection prior, so the doc
    grid is |docs|×|query| built from a tiny cross join with a LEFT
    join back to the tf relation — the absent-term rows an
    inner-join scorer silently drops."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("double").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    coll = tf.agg(F.sum("tf").alias("ctot"))
    cf = (
        tf.filter(F.col("token").isin("spark", "join", "window"))
        .groupBy("token")
        .agg(F.sum("tf").alias("cf"))
    )
    grid = dl.crossJoin(F.broadcast(cf))
    scored = (
        grid.join(tf, ["doc_id", "token"], "left")
        .crossJoin(F.broadcast(coll))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce("tf", F.lit(0.0)) + 2000 * F.col("cf") / F.col("ctot"))
                    / (F.col("dl") + 2000)
                )
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@register(
    "ndcg_eval",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token),
    n_docs AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
    df AS (
      SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf
      WHERE token IN ('spark', 'join', 'window') GROUP BY token),
    scored AS (
      SELECT t.doc_id, sum(ln(1 + t.tf) * ln(n / d.df)) AS score,
             CAST(count(*) AS DOUBLE) AS rel
      FROM tf t JOIN df d USING (token), n_docs GROUP BY t.doc_id),
    ranked AS (
      SELECT doc_id, rel,
             row_number() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rk
      FROM scored),
    dcg AS (
      SELECT sum((pow(2, rel) - 1) / (ln(rk + 1) / ln(2))) AS dcg
      FROM ranked WHERE rk <= 10),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rk
      FROM scored),
    idcg AS (
      SELECT sum((pow(2, rel) - 1) / (ln(rk + 1) / ln(2))) AS idcg
      FROM ideal WHERE rk <= 10)
    SELECT round(dcg, 4) AS dcg_at_10,
           round(idcg, 4) AS idcg_at_10,
           round(dcg / idcg, 4) AS ndcg_at_10
    FROM dcg, idcg
    """,
    tags=("ranking", "eval", "retrieval"),
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a tf-idf ranking against term-coverage relevance
    (rel = how many of the 3 query terms the doc contains): DCG with
    the exponential gain (2^rel−1)/log₂(rank+1) normalized by the
    ideal ordering's IDCG — the ranking-quality metric that closes
    the retrieval loop (bm25_rank and dirichlet_query_likelihood
    RANK; this measures how well). Both the system and ideal
    rankings are windows over the |scored docs| relation; the
    fact-side work is the one tf aggregate shared by the whole IR
    family."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("double").alias("tf")
    )
    n_docs = tf.agg(F.count_distinct("doc_id").cast("double").alias("n"))
    df = (
        tf.filter(F.col("token").isin("spark", "join", "window"))
        .groupBy("token")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.sum(F.log(1 + F.col("tf")) * F.log(F.col("n") / F.col("df"))).alias(
                "score"
            ),
            F.count("*").cast("double").alias("rel"),
        )
    )
    gain = (F.pow(2.0, F.col("rel")) - 1) / (F.log(F.col("rk") + 1) / F.lit(math.log(2.0)))
    ranked = scored.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.round(F.col("score"), 9).desc(), "doc_id"))
        .alias("rk"),
    )
    dcg = ranked.filter(F.col("rk") <= 10).agg(F.sum(gain).alias("dcg"))
    ideal = scored.select(
        "rel",
        F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")).alias("rk"),
    )
    idcg = ideal.filter(F.col("rk") <= 10).agg(F.sum(gain).alias("idcg"))
    return dcg.crossJoin(F.broadcast(idcg)).select(
        F.round("dcg", 4).alias("dcg_at_10"),
        F.round("idcg", 4).alias("idcg_at_10"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg_at_10"),
    )


@register(
    "gravity_trade_model",
    oracle="""
    WITH flows AS (
      SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             sum(l_extendedprice * (1 - l_discount)) AS f
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1, 2),
    mass_c AS (SELECT cust_nation, sum(f) AS mc FROM flows GROUP BY 1),
    mass_s AS (SELECT supp_nation, sum(f) AS ms FROM flows GROUP BY 1),
    tot AS (SELECT sum(f) AS t FROM flows),
    dev AS (
      SELECT cust_nation, supp_nation,
             round(f, 2) AS flow,
             round(mc * ms / t, 2) AS gravity_pred,
             ln(f / (mc * ms / t)) AS log_ratio
      FROM flows JOIN mass_c USING (cust_nation)
      JOIN mass_s USING (supp_nation), tot)
    SELECT cust_nation, supp_nation, flow, gravity_pred,
           round(log_ratio, 4) AS log_ratio
    FROM dev ORDER BY abs(log_ratio) DESC, cust_nation, supp_nation
    LIMIT 15
    """,
    tags=("economics", "join", "agg"),
)
def q_gravity_trade_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity model of trade flows: revenue between each customer-nation
    and supplier-nation pair versus the gravity prediction
    M_i·M_j/T (each side's total mass) — the workhorse empirical
    model of international trade, here surfacing the 15 nation pairs
    that over/under-trade most (log-ratio of observed to predicted,
    the 'home bias' diagnostic). The five-table star join collapses
    to a |nations|² flow matrix in ONE aggregate; both mass
    marginals re-aggregate from that tiny matrix, so the model fit
    adds no fact-table passes."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    flows = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("f"))
    )
    mass_c = flows.groupBy("cust_nation").agg(F.sum("f").alias("mc"))
    mass_s = flows.groupBy("supp_nation").agg(F.sum("f").alias("ms"))
    tot = flows.agg(F.sum("f").alias("t"))
    pred = F.col("mc") * F.col("ms") / F.col("t")
    dev = (
        flows.join(F.broadcast(mass_c), "cust_nation")
        .join(F.broadcast(mass_s), "supp_nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "cust_nation",
            "supp_nation",
            F.round("f", 2).alias("flow"),
            F.round(pred, 2).alias("gravity_pred"),
            F.log(F.col("f") / pred).alias("log_ratio"),
        )
    )
    return (
        dev.orderBy(F.abs(F.col("log_ratio")).desc(), "cust_nation", "supp_nation")
        .limit(15)
        .select(
            "cust_nation",
            "supp_nation",
            "flow",
            "gravity_pred",
            F.round("log_ratio", 4).alias("log_ratio"),
        )
    )


@register(
    "mahalanobis_outliers",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)]::DOUBLE AS v
      FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
    st AS (
      SELECT pos, avg(v) AS mu, var_samp(v) AS s2 FROM dims GROUP BY pos),
    d2 AS (
      SELECT vec_id, sum(pow(v - mu, 2) / s2) AS d2
      FROM dims JOIN st USING (pos) GROUP BY vec_id)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN d2 > 93.2169 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(avg(d2), 3) AS mean_d2,
           round(max(d2), 3) AS max_d2
    FROM d2
    """,
    tags=("ml", "anomaly", "embeddings"),
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis outlier screen over the embedding cloud:
    d² = Σ(x−μ)²/σ² per vector against the χ²₆₄ 99th percentile
    (93.22) — the covariance-aware distance that catches points a
    plain L2 radius misses when dimensions have unequal spread
    (mean d² ≈ 64 is the built-in sanity check: E[χ²_d] = d). Two
    aggregates over the exploded dims: one for the 64-row moment
    relation (broadcast back), one for the per-vector sum — the
    full-covariance version is pca_power_iteration's matrix plus a
    triangular solve, overkill for a screen."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    st = dims.groupBy("pos").agg(
        F.avg("v").alias("mu"), F.var_samp("v").alias("s2")
    )
    d2 = (
        dims.join(F.broadcast(st), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.pow(F.col("v") - F.col("mu"), 2) / F.col("s2")).alias("d2"))
    )
    return d2.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("d2") > 93.2169, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers"),
        F.round(F.avg("d2"), 3).alias("mean_d2"),
        F.round(F.max("d2"), 3).alias("max_d2"),
    )


@register(
    "lof_outliers",
    oracle="""
    WITH nrm AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  k -> embedding[k]::DOUBLE * embedding[k]::DOUBLE))) AS nn,
             embedding AS e
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             1 - list_sum(list_transform(generate_series(1, 64),
                  k -> a.e[k]::DOUBLE * b.e[k]::DOUBLE)) / (a.nn * b.nn)
               AS dist
      FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
    knn AS (
      SELECT i, j, dist,
             row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rk
      FROM pairs QUALIFY rk <= 5),
    kd AS (SELECT i, max(dist) AS kdist FROM knn GROUP BY i),
    reach AS (
      SELECT knn.i, knn.j, greatest(knn.dist, kd.kdist) AS rdist
      FROM knn JOIN kd ON knn.j = kd.i),
    lrd AS (SELECT i, 1 / avg(rdist) AS lrd FROM reach GROUP BY i),
    lof AS (
      SELECT knn.i, avg(lj.lrd) / any_value(li.lrd) AS lof
      FROM knn JOIN lrd lj ON knn.j = lj.i
      JOIN lrd li ON knn.i = li.i
      GROUP BY knn.i)
    SELECT CAST(i AS BIGINT) AS vec_id, round(lof, 4) AS lof
    FROM lof ORDER BY round(lof, 6) DESC, i LIMIT 10
    """,
    tags=("ml", "anomaly", "window"),
)
def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (k=5, cosine distance) — the DENSITY-
    relative anomaly detector: a point is outlying if its local
    reachability density is low compared to its neighbors', which
    catches outliers next to tight clusters that a global threshold
    (mahalanobis_outliers) never flags. Four relational stages —
    kNN via a per-point window over the pair distances, k-distance,
    reachability reach(i←j)=max(d(i,j), kdist(j)), then the lrd
    ratio — every one a partition-parallel window or a join on
    point ids; at 100 TB the pairs relation is the LSH candidate
    set, and everything downstream is unchanged. The kNN relation
    (k rows per point) is `materialize`d (operators/iterate.py):
    it feeds k-distance, reachability, and both sides of the lrd
    ratio, and each reuse would otherwise re-run the all-pairs
    distance join (41 exchanges round 1 → ~8)."""
    from ...operators.iterate import materialize

    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    na = dims.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    unit = dims.join(na, "vec_id").select(
        "vec_id", "pos", (F.col("v") / F.col("nrm")).alias("u")
    )
    a = unit.select(F.col("vec_id").alias("i"), "pos", F.col("u").alias("ua"))
    b = unit.select(F.col("vec_id").alias("j"), "pos", F.col("u").alias("ub"))
    pairs = (
        a.join(b, "pos")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg((1 - F.sum(F.col("ua") * F.col("ub"))).alias("dist"))
    )
    knn = materialize(
        pairs.select(
            "i",
            "j",
            "dist",
            F.row_number()
            .over(Window.partitionBy("i").orderBy("dist", "j"))
            .alias("rk"),
        ).filter(F.col("rk") <= 5)
    )
    kd = knn.groupBy("i").agg(F.max("dist").alias("kdist"))
    reach = knn.join(
        kd.select(F.col("i").alias("j"), "kdist"), "j"
    ).select("i", "j", F.greatest("dist", "kdist").alias("rdist"))
    lrd = reach.groupBy("i").agg((1 / F.avg("rdist")).alias("lrd"))
    lof = (
        knn.join(lrd.select(F.col("i").alias("j"), F.col("lrd").alias("lrd_j")), "j")
        .join(lrd, "i")
        .groupBy("i")
        .agg((F.avg("lrd_j") / F.first("lrd")).alias("lof"))
    )
    return (
        lof.orderBy(F.round(F.col("lof"), 6).desc(), "i")
        .limit(10)
        .select(F.col("i").cast("bigint").alias("vec_id"), F.round("lof", 4).alias("lof"))
    )


@register(
    "borda_condorcet_ranking",
    oracle="""
    WITH rev AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    nn AS (SELECT CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations FROM rev),
    ranked AS (
      SELECT n_name, yr,
             row_number() OVER (PARTITION BY yr ORDER BY r DESC, n_name) AS rk
      FROM rev),
    borda AS (
      SELECT n_name, sum(n_nations - rk) AS borda_points
      FROM ranked, nn GROUP BY n_name),
    duels AS (
      SELECT a.n_name AS na, b.n_name AS nb,
             sum(CASE WHEN a.r > b.r THEN 1 ELSE 0 END) AS wins,
             CAST(count(*) AS DOUBLE) AS yrs
      FROM rev a JOIN rev b ON a.yr = b.yr AND a.n_name <> b.n_name
      GROUP BY 1, 2),
    pw AS (
      SELECT na AS n_name,
             CAST(sum(CASE WHEN wins > yrs / 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS pairwise_wins
      FROM duels GROUP BY na)
    SELECT b.n_name, CAST(borda_points AS BIGINT) AS borda_points,
           pairwise_wins,
           pairwise_wins = n_nations - 1 AS is_condorcet_winner
    FROM borda b JOIN pw USING (n_name), nn
    ORDER BY borda_points DESC, n_name LIMIT 10
    """,
    tags=("ranking", "voting", "window"),
)
def q_borda_condorcet_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Social-choice aggregation of the yearly nation-revenue
    rankings: Borda points (n − rank summed over years) next to the
    Condorcet pairwise-majority count — the two classical rank-
    fusion methods (the voting-theory ancestors of rrf_rank_fusion),
    with the is_condorcet_winner flag marking a nation that beats
    every other in a head-to-head majority of years (Borda can
    disagree — that divergence is Arrow's theorem in a query). All
    ranking work happens on the |nations|×|years| aggregate; the
    duel matrix is a tiny year-keyed self-join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    nn = rev.agg(F.count_distinct("n_name").cast("bigint").alias("n_nations"))
    ranked = rev.select(
        "n_name",
        "yr",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy(F.desc("r"), "n_name"))
        .alias("rk"),
    )
    borda = (
        ranked.crossJoin(F.broadcast(nn))
        .groupBy("n_name")
        .agg(F.sum(F.col("n_nations") - F.col("rk")).alias("borda_points"))
    )
    a = rev.select(F.col("n_name").alias("na"), "yr", F.col("r").alias("ra"))
    b = rev.select(F.col("n_name").alias("nb"), "yr", F.col("r").alias("rb"))
    duels = (
        a.join(b, "yr")
        .filter(F.col("na") != F.col("nb"))
        .groupBy("na", "nb")
        .agg(
            F.sum(F.when(F.col("ra") > F.col("rb"), 1).otherwise(0)).alias("wins"),
            F.count("*").cast("double").alias("yrs"),
        )
    )
    pw = duels.groupBy(F.col("na").alias("n_name")).agg(
        F.sum(F.when(F.col("wins") > F.col("yrs") / 2, 1).otherwise(0))
        .cast("bigint")
        .alias("pairwise_wins")
    )
    return (
        borda.join(pw, "n_name")
        .crossJoin(F.broadcast(nn))
        .orderBy(F.desc("borda_points"), "n_name")
        .limit(10)
        .select(
            "n_name",
            F.col("borda_points").cast("bigint").alias("borda_points"),
            "pairwise_wins",
            (F.col("pairwise_wins") == F.col("n_nations") - 1).alias(
                "is_condorcet_winner"
            ),
        )
    )


@register(
    "shapley_attribution",
    oracle="""
    WITH touched AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    masks AS (
      SELECT mask, CAST(count(*) AS DOUBLE) AS n, sum(conv) AS k
      FROM touched GROUP BY mask),
    subsets AS (SELECT unnest(generate_series(0, 7)) AS s),
    v AS (
      SELECT s, coalesce(sum(k) / nullif(sum(n), 0), 0) AS v
      FROM subsets LEFT JOIN masks ON (mask & s) = mask
      GROUP BY s),
    channels AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4))
      AS t(ch, bit)),
    contrib AS (
      SELECT c.ch,
             sum(CASE bit_count(CAST(sv.s AS BIGINT))
                   WHEN 0 THEN 2.0 / 6 WHEN 1 THEN 1.0 / 6
                   ELSE 2.0 / 6 END
                 * (vi.v - sv.v)) AS phi
      FROM channels c
      JOIN v sv ON (sv.s & c.bit) = 0
      JOIN v vi ON vi.s = (sv.s | c.bit)
      GROUP BY c.ch)
    SELECT ch AS channel, round(phi, 6) AS shapley_value
    FROM contrib ORDER BY ch
    """,
    tags=("attribution", "marketing", "join"),
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution over the 3-channel
    (view/click/signup) touch lattice: coalition value v(S) =
    conversion rate of users whose touched set ⊆ S, and each
    channel's credit is the permutation-weighted marginal
    Σ |S|!(2−|S|)!/3! · [v(S∪i)−v(S)] — the game-theoretic
    attribution that last-touch (touch_attribution) approximates.
    The exponential blowup is tamed by the RELATION: users collapse
    to 8 mask rows in one aggregate, v(S) is a containment join
    ((mask & S) = mask) over 8×8 rows, and the Shapley sum is a
    12-row join — exact, no sampling, no 2^n enumeration beyond the
    (tiny) subset lattice itself."""
    e = _t(spark, sf_dir, "events")
    touched = e.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    masks = touched.groupBy("mask").agg(
        F.count("*").cast("double").alias("n"), F.sum("conv").alias("k")
    )
    subsets = spark.range(0, 8).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(masks),
            (F.col("mask").bitwiseAND(F.col("s"))) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum("k") / F.nullif(F.sum("n"), F.lit(0.0)), F.lit(0.0)
            ).alias("v")
        )
    )
    channels = local_df(spark, [("view", 1), ("click", 2), ("signup", 4)], "ch string, bit int")
    sv = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    weight = (
        F.when(F.bit_count(F.col("s0").cast("bigint")) == 0, 2.0 / 6)
        .when(F.bit_count(F.col("s0").cast("bigint")) == 1, 1.0 / 6)
        .otherwise(2.0 / 6)
    )
    contrib = (
        channels.join(F.broadcast(sv), (F.col("s0").bitwiseAND(F.col("bit"))) == 0)
        .join(
            F.broadcast(vi),
            F.col("s1") == (F.col("s0").bitwiseOR(F.col("bit"))),
        )
        .groupBy("ch")
        .agg(F.sum(weight * (F.col("v1") - F.col("v0"))).alias("phi"))
    )
    return contrib.select(
        F.col("ch").alias("channel"), F.round("phi", 6).alias("shapley_value")
    ).orderBy("channel")


@register(
    "erlang_c_staffing",
    oracle="""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, hour(ts) AS h,
             CAST(count(*) AS DOUBLE) AS calls
      FROM events GROUP BY 1, 2),
    peak AS (SELECT max(calls) AS lam FROM hourly),
    load AS (SELECT lam, lam * 180.0 / 3600.0 AS a FROM peak),
    agents AS (SELECT unnest(generate_series(1, 30)) AS nagents),
    lnfact AS (
      SELECT nagents,
             list_sum(list_transform(generate_series(1, nagents),
                      i -> ln(CAST(i AS DOUBLE)))) AS lnf
      FROM agents),
    terms AS (
      SELECT g.nagents,
             sum(exp(k.kk * ln(a) - coalesce(
                 list_sum(list_transform(generate_series(1, CAST(k.kk AS INT)),
                          i -> ln(CAST(i AS DOUBLE)))), 0))) AS s
      FROM agents g
      CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS kk) k, load
      WHERE k.kk < g.nagents GROUP BY g.nagents),
    pc AS (
      SELECT t.nagents,
             CASE WHEN t.nagents <= a THEN 1.0
                  ELSE (exp(t.nagents * ln(a) - f.lnf)
                        * t.nagents / (t.nagents - a))
                       / (t.s + exp(t.nagents * ln(a) - f.lnf)
                          * t.nagents / (t.nagents - a)) END AS p_wait
      FROM terms t JOIN lnfact f USING (nagents), load),
    sl AS (
      SELECT nagents, p_wait,
             CASE WHEN nagents <= a THEN 0.0
                  ELSE 1 - p_wait * exp(-(nagents - a) * 20.0 / 180.0) END
               AS service_level
      FROM pc, load),
    pick AS (
      SELECT min(nagents) AS n_req FROM sl WHERE service_level >= 0.8)
    SELECT CAST(lam AS BIGINT) AS peak_calls_per_hour,
           round(a, 3) AS offered_load_erlangs,
           CAST(n_req AS BIGINT) AS agents_required,
           round((SELECT p_wait FROM sl WHERE nagents = n_req), 4)
             AS p_wait_at_n,
           round((SELECT service_level FROM sl WHERE nagents = n_req), 4)
             AS service_level_at_n
    FROM load, pick
    """,
    tags=("sre", "queueing", "hof"),
)
def q_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing from the event stream: peak hourly arrivals
    × 180 s handle time → offered load in erlangs, then the classic
    M/M/N wait probability evaluated at every N from 1..30 and the
    smallest N meeting an 80%-in-20s service level — the
    capacity-planning formula behind every call-center and
    thread-pool sizing decision. The factorials that make Erlang-C
    'not SQL' are ln-space fold-sums via JVM higher-order functions
    (aggregate over sequence — no Python, no numeric overflow at
    any N), and the N×k term triangle is a 30×30 literal grid."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(F.to_date("ts").alias("d"), F.hour("ts").alias("h")).agg(
        F.count("*").cast("double").alias("calls")
    )
    load = hourly.agg(F.max("calls").alias("lam")).select(
        "lam", (F.col("lam") * 180.0 / 3600.0).alias("a")
    )

    def lnfact(col):
        return F.coalesce(
            F.aggregate(
                F.sequence(F.lit(1), col.cast("int")),
                F.lit(0.0),
                lambda acc, i: acc + F.log(i.cast("double")),
            ),
            F.lit(0.0),
        )

    agents = spark.range(1, 31).select(F.col("id").cast("int").alias("nagents"))
    ks = spark.range(0, 30).select(F.col("id").cast("int").alias("kk"))
    terms = (
        agents.crossJoin(F.broadcast(ks))
        .filter(F.col("kk") < F.col("nagents"))
        .crossJoin(F.broadcast(load))
        .groupBy("nagents")
        .agg(
            F.sum(
                F.exp(F.col("kk") * F.log(F.col("a")) - lnfact(F.col("kk")))
            ).alias("s"),
            F.first("a").alias("a"),
        )
    )
    top = F.exp(F.col("nagents") * F.log(F.col("a")) - lnfact(F.col("nagents"))) * F.col(
        "nagents"
    ) / (F.col("nagents") - F.col("a"))
    pc = terms.select(
        "nagents",
        "a",
        F.when(F.col("nagents") <= F.col("a"), 1.0)
        .otherwise(top / (F.col("s") + top))
        .alias("p_wait"),
    )
    sl = pc.select(
        "nagents",
        "p_wait",
        F.when(F.col("nagents") <= F.col("a"), 0.0)
        .otherwise(
            1 - F.col("p_wait") * F.exp(-(F.col("nagents") - F.col("a")) * 20.0 / 180.0)
        )
        .alias("service_level"),
    )
    pick = sl.filter(F.col("service_level") >= 0.8).agg(
        F.min("nagents").alias("n_req")
    )
    at_n = sl.join(F.broadcast(pick), sl["nagents"] == F.col("n_req"))
    return at_n.crossJoin(F.broadcast(load)).select(
        F.col("lam").cast("bigint").alias("peak_calls_per_hour"),
        F.round("a", 3).alias("offered_load_erlangs"),
        F.col("n_req").cast("bigint").alias("agents_required"),
        F.round("p_wait", 4).alias("p_wait_at_n"),
        F.round("service_level", 4).alias("service_level_at_n"),
    )


@register(
    "fixed_effects_within",
    oracle="""
    WITH obs AS (
      SELECT o_orderkey, c_nationkey AS g,
             CAST(cnt AS DOUBLE) AS x, o_totalprice AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN (SELECT l_orderkey, count(*) AS cnt
            FROM lineitem GROUP BY 1) li ON l_orderkey = o_orderkey),
    pooled AS (
      SELECT covar_samp(x, y) / var_samp(x) AS beta_pooled,
             CAST(count(*) AS BIGINT) AS n
      FROM obs),
    gm AS (SELECT g, avg(x) AS mx, avg(y) AS my FROM obs GROUP BY g),
    within AS (
      SELECT sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))
               AS beta_within
      FROM obs JOIN gm USING (g))
    SELECT n, round(beta_pooled, 4) AS beta_pooled,
           round(beta_within, 4) AS beta_within
    FROM pooled, within
    """,
    tags=("regression", "causal", "economics"),
)
def q_fixed_effects_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel fixed-effects (within) estimator: order value on line
    count, demeaned inside each customer nation — the econometric
    workhorse that absorbs every time-invariant group confounder
    without estimating 25 dummies, shown against the pooled OLS
    slope (the gap between them IS the omitted group-level bias).
    Group means are a |groups|-row broadcast; both slopes are
    single covariance-style aggregates — the 'regression with a
    million fixed effects' pattern that scales because demeaning is
    a join, not a design matrix."""
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
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("beta_pooled"),
        F.count("*").cast("bigint").alias("n"),
    )
    gm = obs.groupBy("g").agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))
    within = obs.join(F.broadcast(gm), "g").agg(
        (
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            / F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx")))
        ).alias("beta_within")
    )
    return pooled.crossJoin(F.broadcast(within)).select(
        "n",
        F.round("beta_pooled", 4).alias("beta_pooled"),
        F.round("beta_within", 4).alias("beta_within"),
    )


@register(
    "shuffle_skew_audit",
    oracle="""
    WITH keyed AS (
      SELECT 'orderkey' AS keyname,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::UBIGINT
               % 32 AS bucket
      FROM lineitem
      UNION ALL
      SELECT 'partkey',
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::UBIGINT % 32
      FROM lineitem
      UNION ALL
      SELECT 'returnflag',
             ('0x' || substr(md5(l_returnflag), 1, 8))::UBIGINT % 32
      FROM lineitem),
    loads AS (
      SELECT keyname, bucket, CAST(count(*) AS DOUBLE) AS n
      FROM keyed GROUP BY 1, 2),
    stats AS (
      SELECT keyname,
             CAST(count(*) AS BIGINT) AS buckets_hit,
             max(n) / avg(n) AS max_over_mean,
             stddev_samp(n) / avg(n) AS cv
      FROM loads GROUP BY keyname)
    SELECT keyname, buckets_hit,
           round(max_over_mean, 3) AS max_over_mean,
           round(cv, 4) AS cv
    FROM stats
    """,
    tags=("scale", "skew", "audit"),
)
def q_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for candidate partition keys: simulate a
    32-partition hash shuffle (portable md5 buckets) for three keys
    and report max/mean load and CV — the diagnostic run BEFORE
    picking a join/groupBy key at scale, made first-class as a
    query. orderkey and partkey hash near-uniform (max/mean → 1);
    returnflag has 3 values into 32 buckets, so 29 partitions sit
    EMPTY and the rest carry ~10× — exactly the straggler pattern
    AQE skew-join mitigation and the salting operators
    (salted_skew_agg, operators/scale.py) exist to break."""
    li = _t(spark, sf_dir, "lineitem")
    parts = [
        ("orderkey", F.col("l_orderkey")),
        ("partkey", F.col("l_partkey")),
        ("returnflag", F.col("l_returnflag")),
    ]
    keyed = None
    for name, col in parts:
        piece = li.select(
            F.lit(name).alias("keyname"),
            CUR.hash_bucket(col, 32).alias("bucket"),
        )
        keyed = piece if keyed is None else keyed.unionAll(piece)
    loads = keyed.groupBy("keyname", "bucket").agg(
        F.count("*").cast("double").alias("n")
    )
    return loads.groupBy("keyname").agg(
        F.count("*").cast("bigint").alias("buckets_hit"),
        F.round(F.max("n") / F.avg("n"), 3).alias("max_over_mean"),
        F.round(F.stddev_samp("n") / F.avg("n"), 4).alias("cv"),
    )


@register(
    "join_cardinality_check",
    oracle="""
    WITH co AS (SELECT o_orderkey AS k, CAST(count(*) AS DOUBLE) AS c
                FROM orders GROUP BY 1),
    cl AS (SELECT l_orderkey AS k, CAST(count(*) AS DOUBLE) AS c
           FROM lineitem GROUP BY 1),
    cb AS (SELECT p_brand AS k, CAST(count(*) AS DOUBLE) AS c
           FROM part GROUP BY 1),
    lb AS (SELECT p_brand AS k, CAST(count(*) AS DOUBLE) AS c
           FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
    j1 AS (
      SELECT 'orders_x_lineitem' AS join_name,
             sum(co.c * cl.c) AS actual,
             (SELECT sum(c) FROM co) * (SELECT sum(c) FROM cl)
               / greatest((SELECT count(*) FROM co),
                          (SELECT count(*) FROM cl)) AS uniform_est
      FROM co JOIN cl USING (k)),
    j2 AS (
      SELECT 'part_x_lineitem_by_brand' AS join_name,
             sum(cb.c * lb.c) AS actual,
             (SELECT sum(c) FROM cb) * (SELECT sum(c) FROM lb)
               / greatest((SELECT count(*) FROM cb),
                          (SELECT count(*) FROM lb)) AS uniform_est
      FROM cb JOIN lb USING (k))
    SELECT join_name, CAST(actual AS BIGINT) AS actual_rows,
           CAST(round(uniform_est, 0) AS BIGINT) AS uniform_estimate,
           round(actual / uniform_est, 3) AS actual_over_estimate
    FROM j1 UNION ALL SELECT join_name, CAST(actual AS BIGINT),
           CAST(round(uniform_est, 0) AS BIGINT),
           round(actual / uniform_est, 3) FROM j2
    """,
    tags=("scale", "audit", "join"),
)
def q_join_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the uniform-frequency
    estimator |R|·|S|/max(ndv_R, ndv_S) — what a cost-based
    optimizer assumes without histograms — against the EXACT output
    size Σ_k c_R(k)·c_S(k), computed from the two per-key count
    relations WITHOUT materializing either join. The PK-FK join
    (orders⋈lineitem) lands on the estimate; the 25-value brand
    join blows past it in proportion to frequency correlation —
    the query quantifies exactly when to trust stats-based plans
    and when to force a broadcast/salt by hand."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")

    def counts(df, key):
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").cast("double").alias("c")
        )

    co = counts(o, "o_orderkey")
    cl = counts(li, "l_orderkey")
    cb = counts(p, "p_brand")
    lb = counts(li.join(p, li["l_partkey"] == p["p_partkey"]), "p_brand")

    def audit(name, left, right):
        lt = left.agg(
            F.sum("c").alias("nl"), F.count("*").cast("double").alias("dl")
        )
        rt = right.agg(
            F.sum("c").alias("nr"), F.count("*").cast("double").alias("dr")
        )
        actual = (
            left.join(right.withColumnRenamed("c", "c2"), "k")
            .agg(F.sum(F.col("c") * F.col("c2")).alias("actual"))
        )
        return (
            actual.crossJoin(F.broadcast(lt))
            .crossJoin(F.broadcast(rt))
            .select(
                F.lit(name).alias("join_name"),
                F.col("actual").cast("bigint").alias("actual_rows"),
                F.round(
                    F.col("nl") * F.col("nr") / F.greatest("dl", "dr"), 0
                )
                .cast("bigint")
                .alias("uniform_estimate"),
                F.round(
                    F.col("actual")
                    / (F.col("nl") * F.col("nr") / F.greatest("dl", "dr")),
                    3,
                ).alias("actual_over_estimate"),
            )
        )

    return audit("orders_x_lineitem", co, cl).unionAll(
        audit("part_x_lineitem_by_brand", cb, lb)
    )


@register(
    "kendall_tau_b",
    oracle="""
    WITH cells AS (
      SELECT l_quantity AS x, l_discount AS y,
             CAST(count(*) AS DOUBLE) AS c
      FROM lineitem GROUP BY 1, 2),
    conc AS (
      SELECT sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS cc,
             sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS dd
      FROM cells a JOIN cells b ON b.x > a.x),
    xm AS (SELECT sum(cx * (cx - 1) / 2) AS n1
           FROM (SELECT sum(c) AS cx FROM cells GROUP BY x)),
    ym AS (SELECT sum(cy * (cy - 1) / 2) AS n2
           FROM (SELECT sum(c) AS cy FROM cells GROUP BY y)),
    nt AS (SELECT sum(c) AS n FROM cells)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(cc AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           round((cc - dd) / sqrt((n * (n - 1) / 2 - n1)
                                  * (n * (n - 1) / 2 - n2)), 5) AS tau_b
    FROM conc, xm, ym, nt
    """,
    tags=("stats", "correlation", "nonparametric"),
)
def q_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount, computed from
    the JOINT HISTOGRAM instead of row pairs: concordant/discordant
    counts are Σ c₁·c₂ over ordered cell pairs (both columns are
    low-cardinality, so the 550-cell self-join replaces the
    O(n²) = 10¹¹-row pair enumeration a naive formulation needs),
    and the tie corrections n₁/n₂ fall out of the marginals — the
    tie-aware rank correlation Spearman (spearman_rank_corr)
    mishandles when the data is this discrete. One fact-table
    aggregate; everything after runs on hundreds of rows."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
    ).agg(F.count("*").cast("double").alias("c"))
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    conc = a.join(b, F.col("bx") > F.col("ax")).agg(
        F.sum(
            F.when(F.col("by") > F.col("ay"), F.col("ac") * F.col("bc")).otherwise(0.0)
        ).alias("cc"),
        F.sum(
            F.when(F.col("by") < F.col("ay"), F.col("ac") * F.col("bc")).otherwise(0.0)
        ).alias("dd"),
    )
    xm = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg(F.sum(F.col("cx") * (F.col("cx") - 1) / 2).alias("n1"))
    )
    ym = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("cy"))
        .agg(F.sum(F.col("cy") * (F.col("cy") - 1) / 2).alias("n2"))
    )
    nt = cells.agg(F.sum("c").alias("n"))
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return (
        conc.crossJoin(F.broadcast(xm))
        .crossJoin(F.broadcast(ym))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("cc").cast("bigint").alias("concordant"),
            F.col("dd").cast("bigint").alias("discordant"),
            F.round(
                (F.col("cc") - F.col("dd"))
                / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))),
                5,
            ).alias("tau_b"),
        )
    )


@register(
    "bray_curtis_sources",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents)
      WHERE length(w) >= 1),
    cnt AS (
      SELECT source, w, CAST(count(*) AS DOUBLE) AS c
      FROM ws GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY source),
    shared AS (
      SELECT a.source AS s1, b.source AS s2, sum(least(a.c, b.c)) AS cmin
      FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2),
    bc AS (
      SELECT s1, s2, 1 - 2 * cmin / (ta.t + tb.t) AS bc
      FROM shared JOIN tot ta ON ta.source = s1
      JOIN tot tb ON tb.source = s2)
    SELECT s1, s2, round(bc, 4) AS bray_curtis
    FROM bc ORDER BY bc, s1, s2 LIMIT 10
    """,
    tags=("text", "similarity", "corpus"),
)
def q_bray_curtis_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bray-Curtis dissimilarity between sources' word-count
    profiles: 1 − 2Σmin(xᵥ,yᵥ)/(Σx+Σy) — the abundance-aware
    ecology distance applied to corpus composition (unlike
    jensen_shannon_sources' probability view, Bray-Curtis keeps
    SIZE: a source that is a strict subsample of another still
    registers as dissimilar). The min-overlap needs only words both
    sources SHARE, so the pair computation is a plain inner join on
    word over the |sources|×|vocab| count relation — absent words
    contribute zero to the numerator by construction, no
    densification required; 10 most-similar pairs surface."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    cnt = ws.groupBy("source", "w").agg(F.count("*").cast("double").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    a = cnt.select(F.col("source").alias("s1"), "w", F.col("c").alias("ca"))
    b = cnt.select(F.col("source").alias("s2"), "w", F.col("c").alias("cb"))
    shared = (
        a.join(b, "w")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.sum(F.least("ca", "cb")).alias("cmin"))
    )
    ta = tot.select(F.col("source").alias("s1"), F.col("t").alias("t1"))
    tb = tot.select(F.col("source").alias("s2"), F.col("t").alias("t2"))
    bc = (
        shared.join(F.broadcast(ta), "s1")
        .join(F.broadcast(tb), "s2")
        .select(
            "s1",
            "s2",
            (1 - 2 * F.col("cmin") / (F.col("t1") + F.col("t2"))).alias("bc"),
        )
    )
    return (
        bc.orderBy("bc", "s1", "s2")
        .limit(10)
        .select("s1", "s2", F.round("bc", 4).alias("bray_curtis"))
    )


@register(
    "gsea_enrichment_score",
    oracle="""
    WITH partrev AS (
      SELECT l_partkey, sum(l_extendedprice) AS rev
      FROM lineitem GROUP BY 1),
    flagged AS (
      SELECT pr.l_partkey, rev,
             CASE WHEN p_brand = 'Brand#11' THEN 1.0 ELSE 0.0 END AS hit
      FROM partrev pr JOIN part ON pr.l_partkey = p_partkey),
    counts AS (
      SELECT sum(hit) AS nh, CAST(count(*) AS DOUBLE) AS n FROM flagged),
    walk AS (
      SELECT sum(hit / nh - (1 - hit) / (n - nh))
               OVER (ORDER BY rev DESC, l_partkey) AS es
      FROM flagged, counts)
    SELECT CAST((SELECT n FROM counts) AS BIGINT) AS n_parts,
           CAST((SELECT nh FROM counts) AS BIGINT) AS n_members,
           round(max(es), 4) AS es_max,
           round(min(es), 4) AS es_min
    FROM walk
    """,
    tags=("enrichment", "window", "ranking"),
)
def q_gsea_enrichment_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSEA-style running enrichment score: rank every part by
    revenue, walk the list stepping +1/Nh on a Brand#11 member and
    −1/(N−Nh) otherwise — the max/min of the walk is the enrichment
    score, a KS statistic on ranked set membership (the
    genomics-standard answer to 'does this set concentrate at the
    top of the ranking', here: does the brand live among the
    best-sellers). One prefix-sum window over the |parts| aggregate;
    at fact scale the ranking would use the two-pass range-partition
    prefix-sum (contiguous_ids), never a single-task sort."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    partrev = li.groupBy("l_partkey").agg(F.sum("l_extendedprice").alias("rev"))
    flagged = partrev.join(p, partrev["l_partkey"] == p["p_partkey"]).select(
        "l_partkey",
        "rev",
        F.when(F.col("p_brand") == "Brand#11", 1.0).otherwise(0.0).alias("hit"),
    )
    counts = flagged.agg(
        F.sum("hit").alias("nh"), F.count("*").cast("double").alias("n")
    )
    wd = Window.orderBy(F.desc("rev"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = flagged.join(F.broadcast(counts)).select(
        F.sum(
            F.col("hit") / F.col("nh")
            - (1 - F.col("hit")) / (F.col("n") - F.col("nh"))
        )
        .over(wd)
        .alias("es"),
        "n",
        "nh",
    )
    return walk.groupBy("n", "nh").agg(
        F.round(F.max("es"), 4).alias("es_max"),
        F.round(F.min("es"), 4).alias("es_min"),
    ).select(
        F.col("n").cast("bigint").alias("n_parts"),
        F.col("nh").cast("bigint").alias("n_members"),
        "es_max",
        "es_min",
    )


@register(
    "poisson_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT unnest(generate_series(1, 50)) AS b),
    weighted AS (
      SELECT b, o_totalprice AS x,
             CASE
               WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1
               WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3
               WHEN u < 0.9963401532 THEN 4 WHEN u < 0.9994058152 THEN 5
               WHEN u < 0.9999167589 THEN 6 ELSE 7 END AS w
      FROM (
        SELECT b, o_totalprice,
               (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#'
                 || CAST(b AS VARCHAR)), 1, 8))::UBIGINT % 4294967296)
               / 4294967296.0 AS u
        FROM orders CROSS JOIN reps) t(b, o_totalprice, u)),
    means AS (
      SELECT b, sum(w * x) / nullif(sum(w), 0) AS m
      FROM weighted GROUP BY b),
    pt AS (SELECT avg(o_totalprice) AS point FROM orders)
    SELECT round(point, 2) AS point_mean,
           CAST(count(*) AS BIGINT) AS n_replicates,
           round(CAST(quantile_cont(m, 0.025) AS DOUBLE), 2) AS ci_lo,
           round(CAST(quantile_cont(m, 0.975) AS DOUBLE), 2) AS ci_hi
    FROM means, pt GROUP BY point
    """,
    tags=("stats", "resampling", "hash"),
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order value: each of 50
    replicates weights every row by an independent Poisson(1) draw —
    the distributed bootstrap, because Poisson weights need NO
    global n and no sampling-without-replacement coordination (each
    row decides its own weight locally; the classical multinomial
    bootstrap cannot shard). Draws come from bit-exact md5 uniforms
    through the Poisson inverse-CDF threshold ladder, so both
    engines produce the IDENTICAL resamples — a reproducibility
    property real rand() can never give; one shuffle on the 50-value
    replicate key, map-side combined."""
    o = _t(spark, sf_dir, "orders")
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
        ).cast("double")
        % 4294967296
    ) / 4294967296.0
    w = (
        F.when(F.col("u") < 0.3678794412, 0)
        .when(F.col("u") < 0.7357588823, 1)
        .when(F.col("u") < 0.9196986029, 2)
        .when(F.col("u") < 0.9810118431, 3)
        .when(F.col("u") < 0.9963401532, 4)
        .when(F.col("u") < 0.9994058152, 5)
        .when(F.col("u") < 0.9999167589, 6)
        .otherwise(7)
    )
    weighted = (
        o.crossJoin(F.broadcast(reps))
        .select("b", F.col("o_totalprice").alias("x"), u.alias("u"))
        .select("b", "x", w.alias("w"))
    )
    means = weighted.groupBy("b").agg(
        (F.sum(F.col("w") * F.col("x")) / F.nullif(F.sum("w"), F.lit(0))).alias("m")
    )
    pt = o.agg(F.avg("o_totalprice").alias("point"))
    return means.crossJoin(F.broadcast(pt)).groupBy("point").agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.round(F.expr("percentile(m, 0.025)"), 2).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 2).alias("ci_hi"),
    ).select(
        F.round("point", 2).alias("point_mean"),
        "n_replicates",
        "ci_lo",
        "ci_hi",
    )


@register(
    "bandit_replay_eval",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', CAST(ts AS DATE)) AS wk, event_type AS arm,
             avg(value) AS v, CAST(count(*) AS DOUBLE) AS n
      FROM events WHERE event_type IN ('view', 'click', 'signup')
      GROUP BY 1, 2),
    cum AS (
      SELECT wk, arm, v,
             sum(v * n) OVER (PARTITION BY arm ORDER BY wk
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             / nullif(sum(n) OVER (PARTITION BY arm ORDER BY wk
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior_mean
      FROM weekly),
    pick AS (
      SELECT wk, arm, v,
             row_number() OVER (PARTITION BY wk
                                ORDER BY prior_mean DESC, arm) AS rk,
             prior_mean
      FROM cum WHERE prior_mean IS NOT NULL),
    chosen AS (SELECT wk, v AS policy_v FROM pick WHERE rk = 1),
    uniform AS (
      SELECT wk, avg(v) AS uniform_v FROM pick GROUP BY wk)
    SELECT CAST(count(*) AS BIGINT) AS n_weeks,
           round(avg(policy_v), 4) AS greedy_policy_value,
           round(avg(uniform_v), 4) AS uniform_policy_value,
           round(100 * (avg(policy_v) / avg(uniform_v) - 1), 2) AS lift_pct
    FROM chosen JOIN uniform USING (wk)
    """,
    tags=("ml", "bandit", "window"),
)
def q_bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit evaluation by replay: a greedy policy (each
    week, play the arm with the best cumulative mean value over all
    PRIOR weeks — the 1-preceding frame is the no-peeking guard)
    scored against the uniform policy on the held-out week's actual
    arm means — the counterfactual 'what would greedy have earned'
    answered from logs alone, no live experiment. The policy state
    is a per-arm expanding window over the |weeks|×|arms| aggregate;
    argmax-per-week is a 3-row partition window."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "signup")
    )
    weekly = e.groupBy(
        F.date_trunc("week", F.to_date("ts")).alias("wk"),
        F.col("event_type").alias("arm"),
    ).agg(F.avg("value").alias("v"), F.count("*").cast("double").alias("n"))
    wprior = (
        Window.partitionBy("arm")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = weekly.select(
        "wk",
        "arm",
        "v",
        (
            F.sum(F.col("v") * F.col("n")).over(wprior)
            / F.nullif(F.sum("n").over(wprior), F.lit(0.0))
        ).alias("prior_mean"),
    )
    pick = cum.filter(F.col("prior_mean").isNotNull()).select(
        "wk",
        "arm",
        "v",
        F.row_number()
        .over(Window.partitionBy("wk").orderBy(F.desc("prior_mean"), "arm"))
        .alias("rk"),
    )
    chosen = pick.filter(F.col("rk") == 1).select("wk", F.col("v").alias("policy_v"))
    uniform = pick.groupBy("wk").agg(F.avg("v").alias("uniform_v"))
    return chosen.join(uniform, "wk").agg(
        F.count("*").cast("bigint").alias("n_weeks"),
        F.round(F.avg("policy_v"), 4).alias("greedy_policy_value"),
        F.round(F.avg("uniform_v"), 4).alias("uniform_policy_value"),
        F.round(
            100 * (F.avg("policy_v") / F.avg("uniform_v") - 1), 2
        ).alias("lift_pct"),
    )


@register(
    "l_diversity_audit",
    oracle="""
    WITH sv AS (
      SELECT n_name,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             o_orderpriority AS pri, o_orderstatus AS s,
             CAST(count(*) AS DOUBLE) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2, 3, 4),
    cls AS (
      SELECT n_name, m, pri,
             CAST(count(*) AS BIGINT) AS l_distinct,
             sum(c) AS grp_n,
             ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
      FROM sv GROUP BY 1, 2, 3)
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS homogeneous_classes,
           CAST(sum(CASE WHEN h < ln(2) - 1e-9 THEN 1 ELSE 0 END) AS BIGINT)
             AS below_entropy_l2,
           round(min(h), 4) AS min_entropy,
           CAST(min(l_distinct) AS BIGINT) AS min_l
    FROM cls
    """,
    tags=("privacy", "audit", "agg"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the k_anonymity_audit quasi-identifier
    classes with order status as the sensitive attribute: a class
    can be k-anonymous yet HOMOGENEOUS in the sensitive value —
    everyone in it shares the status, so membership alone discloses
    it (the attack k-anonymity provably misses). Reports classes
    with < 2 distinct statuses and classes failing ENTROPY
    l-diversity at l=2 (strictly below ln 2 with an epsilon guard —
    a perfectly balanced 2-value class sits EXACTLY at ln 2 and
    passes, which a bare float < would decide by last-ulp luck),
    using the streaming-friendly identity
    H = ln(n) − Σc·ln(c)/n so the per-class entropy needs only the
    (class, value) count relation — two stacked hash aggregates,
    no windows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sv = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name",
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count("*").cast("double").alias("c"))
    )
    cls = sv.groupBy("n_name", "m", "pri").agg(
        F.count("*").cast("bigint").alias("l_distinct"),
        F.sum("c").alias("grp_n"),
        (
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")
        ).alias("h"),
    )
    return cls.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("l_distinct") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("homogeneous_classes"),
        F.sum(F.when(F.col("h") < F.lit(math.log(2.0) - 1e-9), 1).otherwise(0))
        .cast("bigint")
        .alias("below_entropy_l2"),
        F.round(F.min("h"), 4).alias("min_entropy"),
        F.min("l_distinct").cast("bigint").alias("min_l"),
    )


@register(
    "feature_hashing_cosine",
    oracle="""
    WITH ws AS (
      SELECT source, w
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
            FROM documents)
      WHERE length(w) >= 1),
    hashed AS (
      SELECT source,
             ('0x' || substr(md5(w), 1, 8))::UBIGINT % 64 AS bucket,
             CASE WHEN ('0x' || substr(md5(w), 9, 8))::UBIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM ws),
    vec AS (
      SELECT source, bucket, sum(sgn) AS v
      FROM hashed GROUP BY 1, 2),
    nrm AS (SELECT source, sqrt(sum(v * v)) AS nn FROM vec GROUP BY source),
    cos AS (
      SELECT a.source AS s1, b.source AS s2,
             sum(a.v * b.v) / (na.nn * nb.nn) AS cos
      FROM vec a JOIN vec b ON a.bucket = b.bucket AND a.source < b.source
      JOIN nrm na ON na.source = a.source
      JOIN nrm nb ON nb.source = b.source
      GROUP BY 1, 2, na.nn, nb.nn)
    SELECT s1, s2, round(cos, 4) AS cosine
    FROM cos ORDER BY round(cos, 6) DESC, s1, s2 LIMIT 5
    """,
    tags=("text", "hash", "embedding"),
)
def q_feature_hashing_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick as a query: every source's unbounded
    vocabulary is folded into a FIXED 64-dim signed-hash vector
    (bucket from one md5 slice, ±1 sign from another — the signed
    variant keeps collisions unbiased, Weinberger et al.), then
    source similarity is cosine over the tiny |sources|×64 relation.
    This is how text featurization survives 100 TB: no vocabulary
    dictionary to build, broadcast, or grow — the feature space is
    constant-width by construction, and two engines (or two cluster
    generations) hash identically because the bits are md5."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w")
    ).filter(F.length("w") >= 1)
    bucket = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % 64
    sgn = F.when(
        F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long") % 2 == 0, 1.0
    ).otherwise(-1.0)
    vec = (
        ws.select("source", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("source", "bucket")
        .agg(F.sum("sgn").alias("v"))
    )
    nrm = vec.groupBy("source").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nn"))
    a = vec.select(F.col("source").alias("s1"), "bucket", F.col("v").alias("va"))
    b = vec.select(F.col("source").alias("s2"), "bucket", F.col("v").alias("vb"))
    na = nrm.select(F.col("source").alias("s1"), F.col("nn").alias("n1"))
    nb = nrm.select(F.col("source").alias("s2"), F.col("nn").alias("n2"))
    cos = (
        a.join(b, "bucket")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
        .join(F.broadcast(na), "s1")
        .join(F.broadcast(nb), "s2")
        .select("s1", "s2", (F.col("dot") / (F.col("n1") * F.col("n2"))).alias("cos"))
    )
    return (
        cos.orderBy(F.round(F.col("cos"), 6).desc(), "s1", "s2")
        .limit(5)
        .select("s1", "s2", F.round("cos", 4).alias("cosine"))
    )


@register(
    "count_min_sketch",
    oracle="""
    WITH rows_ AS (SELECT unnest(generate_series(1, 4)) AS j),
    hashed AS (
      SELECT j, l_suppkey AS k,
             ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || '#'
              || CAST(j AS VARCHAR)), 1, 8))::UBIGINT % 64 AS b
      FROM lineitem CROSS JOIN rows_),
    cells AS (
      SELECT j, b, CAST(count(*) AS DOUBLE) AS c
      FROM hashed GROUP BY 1, 2),
    truth AS (
      SELECT l_suppkey AS k, CAST(count(*) AS DOUBLE) AS exact
      FROM lineitem GROUP BY 1),
    keybits AS (
      SELECT DISTINCT t.k, r.j,
             ('0x' || substr(md5(CAST(t.k AS VARCHAR) || '#'
              || CAST(r.j AS VARCHAR)), 1, 8))::UBIGINT % 64 AS b
      FROM truth t CROSS JOIN rows_ r),
    est AS (
      SELECT kb.k, min(c.c) AS est
      FROM keybits kb JOIN cells c ON kb.j = c.j AND kb.b = c.b
      GROUP BY kb.k)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN est = exact THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           round(avg(est / exact), 4) AS mean_over_ratio,
           round(max(est / exact), 4) AS max_over_ratio
    FROM est JOIN truth USING (k)
    """,
    tags=("sketch", "approx", "hash"),
)
def q_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built relationally and audited against exact
    counts: d=4 hash rows × w=64 buckets (each row's cells are one
    hash aggregate over md5 buckets), a key's estimate is the MIN
    over its 4 cells, and the one-sided overestimate guarantee
    (est ≥ exact always, n_exact counts collision-free keys) is
    verified key by key. CMS cells merge by ADDITION, so the sketch
    distributes exactly like a sum — the frequency twin of the
    membership Bloom filter (bloom_filter_fpr) and cardinality KMV
    (kmv_distinct_estimate); all four hash rows come out of one
    scan because the row index is just a crossed-in column."""
    li = _t(spark, sf_dir, "lineitem")
    rows_ = spark.range(1, 5).select(F.col("id").cast("int").alias("j"))

    def hb(key, j):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(key.cast("string"), F.lit("#"), j.cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    hashed = li.crossJoin(F.broadcast(rows_)).select(
        "j", F.col("l_suppkey").alias("k"), hb(F.col("l_suppkey"), F.col("j")).alias("b")
    )
    cells = hashed.groupBy("j", "b").agg(
        F.count("*").cast("double").alias("c")
    )
    truth = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count("*").cast("double").alias("exact")
    )
    keybits = truth.select("k").crossJoin(F.broadcast(rows_)).select(
        "k", "j", hb(F.col("k"), F.col("j")).alias("b")
    )
    est = (
        keybits.join(cells, ["j", "b"])
        .groupBy("k")
        .agg(F.min("c").alias("est"))
    )
    return est.join(truth, "k").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("est") == F.col("exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.round(F.avg(F.col("est") / F.col("exact")), 4).alias("mean_over_ratio"),
        F.round(F.max(F.col("est") / F.col("exact")), 4).alias("max_over_ratio"),
    )


@register(
    "event_study_abnormal",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    ev AS (
      SELECT CAST(concat(CAST(y AS VARCHAR), '-01-01') AS DATE) AS e
      FROM (SELECT unnest(generate_series(1993, 1997)) AS y)),
    win AS (
      SELECT ev.e, daily.d, daily.v,
             date_diff('day', ev.e, daily.d) AS rel
      FROM daily JOIN ev
        ON daily.d BETWEEN ev.e - 30 AND ev.e + 10),
    base AS (
      SELECT e, avg(CASE WHEN rel BETWEEN -30 AND -11 THEN v END) AS b
      FROM win GROUP BY e),
    ab AS (
      SELECT rel, 100.0 * (v - b) / b AS pct
      FROM win JOIN base USING (e)
      WHERE rel BETWEEN -10 AND 10)
    SELECT CAST(rel AS BIGINT) AS rel_day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(pct), 2) AS mean_abnormal_pct
    FROM ab GROUP BY rel
    """,
    tags=("timeseries", "causal", "events"),
)
def q_event_study_abnormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study abnormal revenue around each New Year (5 event
    dates, ±10-day window): per event the counterfactual baseline
    is the −30..−11 pre-window mean, daily abnormal % is averaged
    ACROSS events per relative day — the finance event-study design
    (MacKinlay) that separates the event's effect from level
    differences between years, and the grown-up version of a naive
    before/after mean split. The event×day alignment is a bounded
    range join on the |dates| aggregate; baselines are a 5-row
    broadcast."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    ev = local_df(
        spark, [(f"{y}-01-01",) for y in range(1993, 1998)], "e string"
    ).select(F.col("e").cast("date").alias("e"))
    win = daily.join(
        F.broadcast(ev),
        (F.col("d") >= F.date_sub(F.col("e"), 30))
        & (F.col("d") <= F.date_add(F.col("e"), 10)),
    ).select("e", "d", "v", F.datediff(F.col("d"), F.col("e")).alias("rel"))
    base = win.groupBy("e").agg(
        F.avg(F.when(F.col("rel").between(-30, -11), F.col("v"))).alias("b")
    )
    ab = (
        win.join(F.broadcast(base), "e")
        .filter(F.col("rel").between(-10, 10))
        .select("rel", (100.0 * (F.col("v") - F.col("b")) / F.col("b")).alias("pct"))
    )
    return ab.groupBy(F.col("rel").cast("bigint").alias("rel_day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.avg("pct"), 2).alias("mean_abnormal_pct"),
    )


@register(
    "weight_of_evidence_iv",
    oracle="""
    WITH cells AS (
      SELECT l_discount AS disc,
             CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS DOUBLE) AS g,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS b
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(g) AS tg, sum(b) AS tb FROM cells),
    woe AS (
      SELECT disc, g + b AS n,
             ln((g / tg) / (b / tb)) AS woe,
             (g / tg - b / tb) * ln((g / tg) / (b / tb)) AS ivc
      FROM cells, tot)
    SELECT round(disc, 2) AS discount,
           CAST(n AS BIGINT) AS n_rows,
           round(woe, 4) AS woe,
           round(ivc, 6) AS iv_contribution
    FROM woe
    """,
    tags=("ml", "binning", "feature"),
)
def q_weight_of_evidence_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value per discount level for
    predicting returns — the credit-scoring featurization standard:
    WoE = ln(%good/%bad) turns a categorical bin into a monotone
    log-odds score (what logistic regression wants), and the IV
    contributions (Σ is the variable's screening power: <0.02
    useless, >0.3 strong) decide whether the column enters the
    model at all. One conditional-aggregate histogram over the
    fact; the WoE table itself is what gets broadcast back to
    encode the feature at scoring time — the encode step is a
    |bins|-row broadcast join, never a shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(F.col("l_discount").alias("disc")).agg(
        F.count_if(F.col("l_returnflag") != "R").cast("double").alias("g"),
        F.count_if(F.col("l_returnflag") == "R").cast("double").alias("b"),
    )
    tot = cells.agg(F.sum("g").alias("tg"), F.sum("b").alias("tb"))
    pg = F.col("g") / F.col("tg")
    pb = F.col("b") / F.col("tb")
    return cells.join(F.broadcast(tot)).select(
        F.round("disc", 2).alias("discount"),
        (F.col("g") + F.col("b")).cast("bigint").alias("n_rows"),
        F.round(F.log(pg / pb), 4).alias("woe"),
        F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_contribution"),
    )


@register(
    "stratified_kfold",
    oracle="""
    WITH folds AS (
      SELECT label,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::UBIGINT % 5
               AS fold
      FROM embeddings),
    cells AS (
      SELECT fold, label, CAST(count(*) AS DOUBLE) AS c
      FROM folds GROUP BY 1, 2),
    fl AS (SELECT fold, sum(c) AS nf FROM cells GROUP BY fold),
    lt AS (SELECT label, sum(c) AS nl FROM cells GROUP BY label),
    tot AS (SELECT sum(c) AS n FROM cells),
    chi AS (
      SELECT fold, any_value(nf) AS nf,
             sum(pow(c - nf * nl / n, 2) / (nf * nl / n)) AS chi2
      FROM cells JOIN fl USING (fold) JOIN lt USING (label), tot
      GROUP BY fold)
    SELECT CAST(fold AS BIGINT) AS fold, CAST(nf AS BIGINT) AS n_rows,
           round(chi2, 4) AS label_balance_chi2
    FROM chi
    """,
    tags=("ml", "sampling", "split"),
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment by content hash with a
    per-fold label-balance audit: fold membership is the md5-bucket
    device (deterministic — a vector keeps its fold across runs,
    clusters, and engines, so CV results are reproducible), and each
    fold's χ² against the global label distribution quantifies how
    far plain hashing lands from perfect stratification — the check
    that tells you whether you actually need the heavier per-label
    round-robin. Fold and label marginals re-aggregate from the
    5×10 cell relation."""
    e = _t(spark, sf_dir, "embeddings")
    folds = e.select("label", CUR.hash_bucket(F.col("vec_id"), 5).alias("fold"))
    cells = folds.groupBy("fold", "label").agg(
        F.count("*").cast("double").alias("c")
    )
    fl = cells.groupBy("fold").agg(F.sum("c").alias("nf"))
    lt = cells.groupBy("label").agg(F.sum("c").alias("nl"))
    tot = cells.agg(F.sum("c").alias("n"))
    exp = F.col("nf") * F.col("nl") / F.col("n")
    chi = (
        cells.join(F.broadcast(fl), "fold")
        .join(F.broadcast(lt), "label")
        .crossJoin(F.broadcast(tot))
        .groupBy("fold")
        .agg(
            F.first("nf").alias("nf"),
            F.sum(F.pow(F.col("c") - exp, 2) / exp).alias("chi2"),
        )
    )
    return chi.select(
        F.col("fold").cast("bigint").alias("fold"),
        F.col("nf").cast("bigint").alias("n_rows"),
        F.round("chi2", 4).alias("label_balance_chi2"),
    )


@register(
    "wilcoxon_signed_rank",
    oracle="""
    WITH py AS (
      SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
             sum(l_extendedprice) / sum(l_quantity) AS p
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
        AND l_quantity > 0
      GROUP BY 1, 2),
    d AS (
      SELECT a.l_partkey, b.p - a.p AS diff
      FROM py a JOIN py b
        ON a.l_partkey = b.l_partkey AND a.yr = 1996 AND b.yr = 1997
      WHERE b.p <> a.p),
    r AS (
      SELECT diff,
             CAST(row_number() OVER (ORDER BY abs(diff), l_partkey)
                  AS DOUBLE) AS rk
      FROM d),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(CASE WHEN diff > 0 THEN rk ELSE 0 END) AS wplus
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(wplus AS BIGINT) AS w_plus,
           round((wplus - n * (n + 1) / 4)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24), 4) AS z_score
    FROM s
    """,
    tags=("stats", "nonparametric", "window"),
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-part unit prices
    (1996 vs 1997): rank the |differences|, sum the ranks of
    positive ones, normal-approximate — the paired nonparametric
    test that respects magnitude ordering where the sign test
    throws it away and the paired t-test assumes normality
    (completing the nonparametric family: Mann-Whitney/AUC for two
    independent samples, Kruskal-Wallis for k, Friedman for blocked,
    THIS for paired). The pairing is a year-keyed self-join on the
    |parts| aggregate; the single ranking window runs on |parts|
    rows, never the fact table."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.year(F.col("l_shipdate").cast("date")).isin(1996, 1997))
        & (F.col("l_quantity") > 0)
    )
    py = li.groupBy(
        "l_partkey", F.year(F.col("l_shipdate").cast("date")).alias("yr")
    ).agg((F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"))
    a = py.filter(F.col("yr") == 1996).select("l_partkey", F.col("p").alias("p0"))
    b = py.filter(F.col("yr") == 1997).select("l_partkey", F.col("p").alias("p1"))
    d = (
        a.join(b, "l_partkey")
        .filter(F.col("p1") != F.col("p0"))
        .select("l_partkey", (F.col("p1") - F.col("p0")).alias("diff"))
    )
    from ...operators.rank import global_ranked

    r = global_ranked(
        d.withColumn("__absd", F.abs(F.col("diff"))),
        ["__absd", "l_partkey"],
        row_number="irk",
    ).select("diff", F.col("irk").cast("double").alias("rk"))
    s = r.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("rk")).otherwise(0.0)).alias("wplus"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("wplus").cast("bigint").alias("w_plus"),
        F.round(
            (F.col("wplus") - F.col("n") * (F.col("n") + 1) / 4)
            / F.sqrt(F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24),
            4,
        ).alias("z_score"),
    )


@register(
    "friedman_test",
    oracle="""
    WITH cell AS (
      SELECT n_name, year(CAST(o_orderdate AS DATE)) AS yr,
             sum(o_totalprice) AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1993 AND 1997
      GROUP BY 1, 2),
    ranked AS (
      SELECT n_name, yr,
             CAST(row_number() OVER (PARTITION BY n_name ORDER BY r, yr)
                  AS DOUBLE) AS rk
      FROM cell),
    rj AS (SELECT yr, sum(rk) AS rsum FROM ranked GROUP BY yr),
    dims AS (
      SELECT CAST(count(DISTINCT n_name) AS DOUBLE) AS n,
             CAST(count(DISTINCT yr) AS DOUBLE) AS k
      FROM cell)
    SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
           round(12 / (n * k * (k + 1)) * sum(rsum * rsum)
                 - 3 * n * (k + 1), 4) AS friedman_chi2
    FROM rj, dims GROUP BY n, k
    """,
    tags=("stats", "nonparametric", "rank"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the five years differ in revenue when each
    NATION serves as its own block? Within-block ranks (each nation
    ranks its five years 1..5 — a 5-row partition window, perfectly
    parallel) sum per year into the χ²_F statistic — the
    nonparametric repeated-measures ANOVA that cancels all
    between-nation level differences by construction, where
    kruskal_wallis_h would confound them with the year effect. The
    fact table contributes one (nation, year) aggregate; everything
    else is 125 rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cell = (
        o.filter(F.year(F.col("o_orderdate").cast("date")).between(1993, 1997))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.year(F.col("o_orderdate").cast("date")).alias("yr"))
        .agg(F.sum("o_totalprice").alias("r"))
    )
    ranked = cell.select(
        "n_name",
        "yr",
        F.row_number()
        .over(Window.partitionBy("n_name").orderBy("r", "yr"))
        .cast("double")
        .alias("rk"),
    )
    rj = ranked.groupBy("yr").agg(F.sum("rk").alias("rsum"))
    dims = cell.agg(
        F.count_distinct("n_name").cast("double").alias("n"),
        F.count_distinct("yr").cast("double").alias("k"),
    )
    return rj.crossJoin(F.broadcast(dims)).groupBy("n", "k").agg(
        F.round(
            12
            / (F.col("n") * F.col("k") * (F.col("k") + 1))
            * F.sum(F.col("rsum") * F.col("rsum"))
            - 3 * F.col("n") * (F.col("k") + 1),
            4,
        ).alias("friedman_chi2")
    ).select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k_treatments"),
        "friedman_chi2",
    )


@register(
    "popularity_recsys_hitrate",
    oracle="""
    WITH train AS (
      SELECT l_partkey, count(*) AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1),
    topk AS (
      SELECT l_partkey FROM train
      ORDER BY c DESC, l_partkey LIMIT 10),
    test AS (
      SELECT o_orderkey, l_partkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'),
    per_order AS (
      SELECT o_orderkey,
             max(CASE WHEN l_partkey IN (SELECT l_partkey FROM topk)
                      THEN 1 ELSE 0 END) AS hit,
             sum(CASE WHEN l_partkey IN (SELECT l_partkey FROM topk)
                      THEN 1 ELSE 0 END) AS n_hits
      FROM test GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_test_orders,
           CAST(sum(hit) AS BIGINT) AS orders_with_hit,
           round(avg(CAST(hit AS DOUBLE)), 4) AS hit_rate_at_10,
           round(sum(n_hits) / CAST(nullif(sum(hit), 0) AS DOUBLE), 3)
             AS hits_per_hit_order
    FROM per_order
    """,
    tags=("ml", "eval", "semijoin"),
)
def q_popularity_recsys_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation with a TEMPORAL split (train
    < 1997, test ≥ 1997 — random splits leak future popularity into
    the past, the classic recsys eval bug): the top-10-popularity
    recommender scored by hit-rate@10 over test orders — the
    baseline every learned recommender must beat before it earns
    its serving cost. The candidate list is a broadcast top-k; test
    membership is a semi-join shape (max-over-IN), one aggregate
    per test order."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderkey", "l_partkey", F.col("o_orderdate").cast("date").alias("d")
    )
    train = (
        j.filter(F.col("d") < "1997-01-01")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    topk = train.orderBy(F.desc("c"), "l_partkey").limit(10).select(
        "l_partkey", F.lit(1).alias("in_top")
    )
    test = j.filter(F.col("d") >= "1997-01-01")
    per_order = (
        test.join(F.broadcast(topk), "l_partkey", "left")
        .groupBy("o_orderkey")
        .agg(
            F.max(F.coalesce("in_top", F.lit(0))).alias("hit"),
            F.sum(F.coalesce("in_top", F.lit(0))).alias("n_hits"),
        )
    )
    return per_order.agg(
        F.count("*").cast("bigint").alias("n_test_orders"),
        F.sum("hit").cast("bigint").alias("orders_with_hit"),
        F.round(F.avg(F.col("hit").cast("double")), 4).alias("hit_rate_at_10"),
        F.round(
            F.sum("n_hits") / F.nullif(F.sum("hit"), F.lit(0)).cast("double"), 3
        ).alias("hits_per_hit_order"),
    )


@register(
    "loo_source_influence",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               AS x
      FROM documents),
    gl AS (SELECT sum(x) AS sx, CAST(count(*) AS DOUBLE) AS n,
                  avg(x) AS m FROM per_doc),
    per_src AS (
      SELECT source, sum(x) AS sxs, CAST(count(*) AS DOUBLE) AS ns
      FROM per_doc GROUP BY source)
    SELECT source, CAST(ns AS BIGINT) AS n_docs,
           round((sx - sxs) / (n - ns), 2) AS loo_mean_tokens,
           round((sx - sxs) / (n - ns) - m, 3) AS influence
    FROM per_src, gl
    """,
    tags=("curation", "eval", "agg"),
)
def q_loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence on the corpus mean token
    count: for EVERY source, the metric recomputed without it —
    via the algebraic identity (Σx − Σx_s)/(n − n_s), so all 20
    counterfactuals come from ONE fact aggregate plus a broadcast
    global row, not 20 re-scans (the trick that makes data-valuation
    sweeps tractable at corpus scale; the same algebra powers
    jackknife_cluster_se). A positive influence means dropping the
    source RAISES mean document length — the screening signal for
    which crawl is dragging the mix."""
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select("source", TXT.token_count(F.col("text")).cast("double").alias("x"))
    gl = per_doc.agg(
        F.sum("x").alias("sx"),
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("m"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.sum("x").alias("sxs"), F.count("*").cast("double").alias("ns")
    )
    loo = (F.col("sx") - F.col("sxs")) / (F.col("n") - F.col("ns"))
    return per_src.crossJoin(F.broadcast(gl)).select(
        "source",
        F.col("ns").cast("bigint").alias("n_docs"),
        F.round(loo, 2).alias("loo_mean_tokens"),
        F.round(loo - F.col("m"), 3).alias("influence"),
    )


@register(
    "sprt_boundary_crossing",
    oracle="""
    WITH base AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               AS y,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1),
    p0t AS (SELECT sum(y) / sum(n) AS p0 FROM base),
    llr AS (
      SELECT d,
             sum(y * ln(least(1.1 * p0, 0.999) / p0)
                 + (n - y) * ln((1 - least(1.1 * p0, 0.999)) / (1 - p0)))
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum
      FROM base, p0t),
    crossed AS (
      SELECT min(CASE WHEN cum >= ln((1 - 0.2) / 0.05) THEN d END) AS up,
             min(CASE WHEN cum <= ln(0.2 / (1 - 0.05)) THEN d END) AS dn,
             any_value(p0) AS p0
      FROM llr, p0t GROUP BY p0)
    SELECT round(p0, 5) AS p0,
           CASE WHEN up IS NOT NULL AND (dn IS NULL OR up <= dn)
                  THEN 'accept_h1'
                WHEN dn IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           strftime(least(coalesce(up, DATE '9999-01-01'),
                          coalesce(dn, DATE '9999-01-01')), '%Y-%m-%d')
             AS first_crossing
    FROM crossed
    """,
    tags=("stats", "experimentation", "window"),
)
def q_sprt_boundary_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test on the daily
    purchase share (H₁: rate is 10% higher than the pooled H₀): the
    cumulative log-likelihood ratio walks until it exits Wald's
    boundaries ln((1−β)/α) / ln(β/(1−α)) (α=5%, β=20%) — THE
    always-valid sequential test (its error bounds survive daily
    peeking, the property fixed-horizon t-tests lose the first time
    someone looks early). One prefix window over the |dates|
    aggregate; the decision CASE reproduces which boundary was hit
    first. Cf. cusum_changepoint/page_hinkley_drift, which detect
    shifts — SPRT DECIDES between hypotheses with guaranteed
    α/β."""
    e = _t(spark, sf_dir, "events")
    base = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count_if(F.col("event_type") == "purchase").cast("double").alias("y"),
        F.count("*").cast("double").alias("n"),
    )
    p0t = base.agg((F.sum("y") / F.sum("n")).alias("p0"))
    p1 = F.least(1.1 * F.col("p0"), F.lit(0.999))
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    llr = base.crossJoin(F.broadcast(p0t)).select(
        "d",
        "p0",
        F.sum(
            F.col("y") * F.log(p1 / F.col("p0"))
            + (F.col("n") - F.col("y")) * F.log((1 - p1) / (1 - F.col("p0")))
        )
        .over(wcum)
        .alias("cum"),
    )
    up_b = math.log((1 - 0.2) / 0.05)
    dn_b = math.log(0.2 / (1 - 0.05))
    crossed = llr.groupBy("p0").agg(
        F.min(F.when(F.col("cum") >= up_b, F.col("d"))).alias("up"),
        F.min(F.when(F.col("cum") <= dn_b, F.col("d"))).alias("dn"),
    )
    far = F.lit("9999-01-01").cast("date")
    return crossed.select(
        F.round("p0", 5).alias("p0"),
        F.when(
            F.col("up").isNotNull()
            & (F.col("dn").isNull() | (F.col("up") <= F.col("dn"))),
            "accept_h1",
        )
        .when(F.col("dn").isNotNull(), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
        F.date_format(
            F.least(F.coalesce("up", far), F.coalesce("dn", far)), "yyyy-MM-dd"
        ).alias("first_crossing"),
    )


@register(
    "secretary_rule_eval",
    oracle="""
    WITH seq AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             o_totalprice AS v,
             row_number() OVER (
               PARTITION BY date_trunc('month', CAST(o_orderdate AS DATE))
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn
      FROM orders),
    stats AS (
      SELECT m, CAST(count(*) AS DOUBLE) AS n, max(v) AS best
      FROM seq GROUP BY m),
    obs AS (
      SELECT seq.m, max(v) AS obs_max
      FROM seq JOIN stats USING (m)
      WHERE rn <= ceil(0.37 * n) GROUP BY seq.m),
    picks AS (
      SELECT seq.m,
             min(CASE WHEN rn > ceil(0.37 * n) AND v > obs_max
                      THEN rn END) AS pick_rn
      FROM seq JOIN stats USING (m) JOIN obs USING (m)
      GROUP BY seq.m),
    outcome AS (
      SELECT p.m,
             CASE WHEN pick_rn IS NULL THEN 0
                  WHEN (SELECT v FROM seq s
                        WHERE s.m = p.m AND s.rn = p.pick_rn) = st.best
                  THEN 1 ELSE 0 END AS success
      FROM picks p JOIN stats st USING (m))
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(success) AS BIGINT) AS n_best_picked,
           round(avg(CAST(success AS DOUBLE)), 4) AS success_rate
    FROM outcome
    """,
    tags=("decision", "window", "sequence"),
)
def q_secretary_rule_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 37% optimal-stopping rule replayed on real arrival order:
    each month, observe the first ⌈0.37n⌉ orders, then commit to
    the first one that beats the observation-phase maximum — did it
    capture the month's true best? Classical theory promises ≈1/e ≈
    37% success picking the single best; the replay measures it
    empirically — the sequential-hiring model behind accept/reject
    decisions made without seeing the future. Per-month windows
    partition-parallelize; the pick resolution is a conditional-min
    join back onto the sequence relation."""
    o = _t(spark, sf_dir, "orders")
    seq = o.select(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("m"),
        F.col("o_totalprice").alias("v"),
        F.row_number()
        .over(
            Window.partitionBy(
                F.date_trunc("month", F.col("o_orderdate").cast("date"))
            ).orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        )
        .alias("rn"),
    )
    stats = seq.groupBy("m").agg(
        F.count("*").cast("double").alias("n"), F.max("v").alias("best")
    )
    cut = F.ceil(0.37 * F.col("n"))
    obs = (
        seq.join(F.broadcast(stats), "m")
        .filter(F.col("rn") <= cut)
        .groupBy("m")
        .agg(F.max("v").alias("obs_max"))
    )
    picks = (
        seq.join(F.broadcast(stats), "m")
        .join(F.broadcast(obs), "m")
        .groupBy("m")
        .agg(
            F.min(
                F.when(
                    (F.col("rn") > cut) & (F.col("v") > F.col("obs_max")),
                    F.col("rn"),
                )
            ).alias("pick_rn")
        )
    )
    picked_v = seq.select(
        "m", F.col("rn").alias("pick_rn"), F.col("v").alias("picked")
    )
    outcome = (
        picks.join(F.broadcast(stats.select("m", "best")), "m")
        .join(picked_v, ["m", "pick_rn"], "left")
        .select(
            F.when(
                F.col("pick_rn").isNotNull() & (F.col("picked") == F.col("best")), 1
            )
            .otherwise(0)
            .alias("success")
        )
    )
    return outcome.agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.sum("success").cast("bigint").alias("n_best_picked"),
        F.round(F.avg(F.col("success").cast("double")), 4).alias("success_rate"),
    )


@register(
    "yule_walker_ar2",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
      FROM orders GROUP BY 1),
    lagged AS (
      SELECT v,
             lag(v, 1) OVER (ORDER BY d) AS v1,
             lag(v, 2) OVER (ORDER BY d) AS v2
      FROM daily),
    ac AS (
      SELECT corr(v, v1) AS r1,
             corr(v, v2) AS r2
      FROM lagged WHERE v2 IS NOT NULL),
    fit AS (
      SELECT r1, r2,
             r1 * (1 - r2) / (1 - r1 * r1) AS phi1,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi2
      FROM ac)
    SELECT round(r1, 5) AS acf_lag1, round(r2, 5) AS acf_lag2,
           round(phi1, 5) AS phi1, round(phi2, 5) AS phi2,
           (phi2 > -1 AND phi1 + phi2 < 1 AND phi2 - phi1 < 1)
             AS stationary
    FROM fit
    """,
    tags=("timeseries", "forecast", "stats"),
)
def q_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit by Yule-Walker: the two autocorrelations (lag
    windows + corr, as in acf_daily_revenue) solved through the
    closed-form 2×2 system φ₁=r₁(1−r₂)/(1−r₁²), φ₂=(r₂−r₁²)/(1−r₁²)
    — a real autoregressive model fit with NO optimizer, plus the
    stationarity-triangle check (φ₂±φ₁<1, |φ₂|<1) that says whether
    the fitted process is even valid. The window runs on the
    |dates| aggregate; the 'model training' is arithmetic on a
    1-row relation — forecasting's counterexample to 'you need an
    ML runtime for this'."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    ac = lagged.agg(F.corr("v", "v1").alias("r1"), F.corr("v", "v2").alias("r2"))
    phi1 = F.col("r1") * (1 - F.col("r2")) / (1 - F.col("r1") * F.col("r1"))
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    return ac.select(
        F.round("r1", 5).alias("acf_lag1"),
        F.round("r2", 5).alias("acf_lag2"),
        F.round(phi1, 5).alias("phi1"),
        F.round(phi2, 5).alias("phi2"),
        (
            (phi2 > -1) & (phi1 + phi2 < 1) & (phi2 - phi1 < 1)
        ).alias("stationary"),
    )


@register(
    "capacity_crossing_forecast",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d, sum(l_quantity) AS q
      FROM lineitem GROUP BY 1),
    cum AS (
      SELECT d,
             CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS i,
             sum(q) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS c
      FROM daily),
    bounds AS (SELECT max(i) AS imax, max(d) AS dmax, max(c) AS ctot
               FROM cum),
    fit AS (
      SELECT regr_slope(c, i) AS a, regr_intercept(c, i) AS b
      FROM cum, bounds WHERE i > imax - 365),
    fc AS (
      SELECT a, b, ctot, dmax, imax,
             (1.5 * ctot - b) / a AS icross
      FROM fit, bounds)
    SELECT round(a, 2) AS daily_growth_rate,
           CAST(ctot AS BIGINT) AS current_total,
           CAST(CAST(1.5 * ctot AS BIGINT) AS BIGINT) AS capacity,
           CAST(CAST(ceil(icross - imax) AS BIGINT) AS BIGINT)
             AS days_to_capacity,
           strftime(dmax + CAST(CAST(ceil(icross - imax) AS INT) AS INT),
                    '%Y-%m-%d') AS crossing_date
    FROM fc
    """,
    tags=("sre", "forecast", "regression"),
)
def q_capacity_crossing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-exhaustion forecast — the 'when do we run out of
    disk' query: fit a linear trend (regr_slope/intercept) to the
    cumulative volume over the trailing 365 days and solve for the
    day the line crosses 1.5× today's total, reported as an actual
    calendar date and a days-remaining countdown. The cumulative
    series is one prefix window over the |dates| aggregate, the fit
    is one regr_* aggregate over the trailing slice, and the
    crossing is closed-form — the whole capacity model is three
    tiny relations, refreshable every night at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum("l_quantity").alias("q")
    )
    w = Window.orderBy("d")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.row_number().over(w).cast("double").alias("i"),
        F.sum("q").over(wc).alias("c"),
    )
    bounds = cum.agg(
        F.max("i").alias("imax"), F.max("d").alias("dmax"), F.max("c").alias("ctot")
    )
    fit = (
        cum.crossJoin(F.broadcast(bounds))
        .filter(F.col("i") > F.col("imax") - 365)
        .agg(
            F.expr("regr_slope(c, i)").alias("a"),
            F.expr("regr_intercept(c, i)").alias("b"),
        )
    )
    fc = fit.crossJoin(F.broadcast(bounds)).select(
        "a",
        "ctot",
        "dmax",
        "imax",
        ((1.5 * F.col("ctot") - F.col("b")) / F.col("a")).alias("icross"),
    )
    days = F.ceil(F.col("icross") - F.col("imax"))
    return fc.select(
        F.round("a", 2).alias("daily_growth_rate"),
        F.col("ctot").cast("bigint").alias("current_total"),
        (1.5 * F.col("ctot")).cast("bigint").alias("capacity"),
        days.cast("bigint").alias("days_to_capacity"),
        F.date_format(
            F.date_add(F.col("dmax"), days.cast("int")), "yyyy-MM-dd"
        ).alias("crossing_date"),
    )


@register(
    "srm_check",
    oracle="""
    WITH assigned AS (
      SELECT DISTINCT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 2
               AS arm
      FROM events),
    counts AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS nb
      FROM assigned)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(na AS BIGINT) AS arm_a,
           CAST(nb AS BIGINT) AS arm_b,
           round(pow(na - n / 2, 2) / (n / 2)
                 + pow(nb - n / 2, 2) / (n / 2), 4) AS srm_chi2,
           (pow(na - n / 2, 2) / (n / 2)
            + pow(nb - n / 2, 2) / (n / 2)) > 3.841 AS srm_detected
    FROM counts
    """,
    tags=("experimentation", "audit", "hash"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-platform guard
    that runs BEFORE any metric is read: users assigned 50/50 by
    content hash, observed arm counts χ²-tested against the design
    ratio (1 df, 3.84 at 95%) — an SRM flag means the assignment or
    logging pipeline is dropping users non-randomly and every
    downstream p-value is garbage. Assignment is deduped to the
    user grain first (event-weighted counts would test the wrong
    thing); one distinct + one aggregate."""
    e = _t(spark, sf_dir, "events")
    assigned = e.select(
        "user_id", CUR.hash_bucket(F.col("user_id"), 2).alias("arm")
    ).distinct()
    counts = assigned.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    chi2 = F.pow(F.col("na") - F.col("n") / 2, 2) / (F.col("n") / 2) + F.pow(
        F.col("nb") - F.col("n") / 2, 2
    ) / (F.col("n") / 2)
    return counts.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("na").cast("bigint").alias("arm_a"),
        F.col("nb").cast("bigint").alias("arm_b"),
        F.round(chi2, 4).alias("srm_chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@register(
    "regression_discontinuity",
    oracle="""
    WITH outcome AS (
      SELECT l_orderkey,
             CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM lineitem GROUP BY 1),
    obs AS (
      SELECT o_totalprice - 150000 AS x, y,
             CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS side
      FROM orders JOIN outcome ON o_orderkey = l_orderkey
      WHERE o_totalprice BETWEEN 50000 AND 250000),
    fits AS (
      SELECT side, CAST(count(*) AS BIGINT) AS n,
             regr_intercept(y, x) AS a, regr_slope(y, x) AS b
      FROM obs GROUP BY side),
    wide AS (
      SELECT max(CASE WHEN side = 0 THEN a END) AS a_left,
             max(CASE WHEN side = 1 THEN a END) AS a_right,
             max(CASE WHEN side = 0 THEN n END) AS n_left,
             max(CASE WHEN side = 1 THEN n END) AS n_right
      FROM fits)
    SELECT n_left, n_right,
           round(a_left, 5) AS rate_at_cutoff_left,
           round(a_right, 5) AS rate_at_cutoff_right,
           round(a_right - a_left, 5) AS rdd_estimate
    FROM wide
    """,
    tags=("causal", "regression", "experimentation"),
)
def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity at the 150k order-value
    cutoff: local linear fits of the return rate on the centered
    running variable, separately per side within a ±100k bandwidth;
    the treatment-effect estimate is the jump between the two
    intercepts AT the cutoff — the quasi-experimental design that
    identifies causality from a threshold rule alone, completing
    the causal tier (difference_in_differences for parallel trends,
    event_study_abnormal for time, fixed_effects_within for group
    confounders, RDD for thresholds). Both fits are regr_*
    aggregates over one filtered scan; the side pivot is a 2-row
    conditional max."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    outcome = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("double")
        .alias("y")
    )
    obs = (
        o.join(outcome, o["o_orderkey"] == outcome["l_orderkey"])
        .filter(F.col("o_totalprice").between(50000, 250000))
        .select(
            (F.col("o_totalprice") - 150000).alias("x"),
            "y",
            F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0).alias("side"),
        )
    )
    fits = obs.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("regr_intercept(y, x)").alias("a"),
    )
    wide = fits.agg(
        F.max(F.when(F.col("side") == 0, F.col("a"))).alias("a_left"),
        F.max(F.when(F.col("side") == 1, F.col("a"))).alias("a_right"),
        F.max(F.when(F.col("side") == 0, F.col("n"))).alias("n_left"),
        F.max(F.when(F.col("side") == 1, F.col("n"))).alias("n_right"),
    )
    return wide.select(
        "n_left",
        "n_right",
        F.round("a_left", 5).alias("rate_at_cutoff_left"),
        F.round("a_right", 5).alias("rate_at_cutoff_right"),
        F.round(F.col("a_right") - F.col("a_left"), 5).alias("rdd_estimate"),
    )

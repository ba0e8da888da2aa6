"""Catalog part 12 — recommendation, tree-learning, frequency-sketch,
and graph-traversal operators.

Five families a production analytics engine grows once the corpus
tiers (selection, dedup, retrieval) are in place:

* **Item-CF recommendation** (Linden et al. 2003): co-occurrence
  cosine over order baskets + user-level scoring
  (operators/recsys.py).
* **Rank-1 ALS** (Zhou et al. 2008): the alternating-least-squares
  recommender's scalar special case, run as a rounded-state
  trajectory the DuckDB oracle replays exactly — the 6th member of
  the iterative family (pagerank, k-means, power iteration, label
  propagation, BPE).
* **Decision stumps** (CART / the XGBoost-LightGBM histogram
  strategy): best-split finding from additive per-bucket sufficient
  statistics (operators/trees.py) — gini for classification,
  variance reduction for regression.
* **Count-min sketch** (Cormode & Muthukrishnan 2005): the
  frequency-sketch sibling of the theta/KLL tier in part 11. Hashes
  are affine-mod (integer-exact in both engines), so unlike the
  cardinality sketches the ENTIRE estimate is hash-matched, and the
  ε-N overestimate guarantee is checked as a contract column.
* **BFS hop distances**: synchronous Bellman-Ford over the
  co-purchase graph via the iterate() harness; unrolled-CTE oracle.

Plus the Hilbert-curve layout census extending part 11's Z-order
census (operators/scale.py:with_hilbert_key) and ordered-set /
distribution window aggregates (ntile / percent_rank / cume_dist,
ordered string_agg) rounding out SURVEY §2.8 window coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...operators import recsys as RS
from ...operators.arrow_kernels import local_df
from ...operators import trees as TR
from ...operators.graph import bfs_distances
from ...operators.scale import with_hilbert_key
from ._shared import _t, register

# --- count-min sketch ----------------------------------------------------

_CM_W = 512
_CM_P = 2147483647
_CM_HASHES = ((0, 104729, 7), (1, 130363, 911), (2, 15485863, 8191), (3, 49979687, 104659))
# CM guarantee: P[est > true + (e/W)·N] <= e^-d. The bound column uses
# floor((e/W)·N) so both engines compare exact integers.
_CM_E = 2.718281828459045


@register(
    "countmin_frequency_contract",
    oracle=f"""
    WITH freq AS MATERIALIZED (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    hs AS (SELECT * FROM (VALUES {", ".join(f"({r}, {a}, {b})" for r, a, b in _CM_HASHES)}) AS t(r, a, b)),
    cells AS MATERIALIZED (
      SELECT k, c, r, ((a * k + b) % {_CM_P}) % {_CM_W} AS col
      FROM freq CROSS JOIN hs),
    counters AS MATERIALIZED (
      SELECT r, col, sum(c) AS cnt FROM cells GROUP BY r, col),
    est AS (
      SELECT k, CAST(min(cnt) AS BIGINT) AS est
      FROM cells JOIN counters USING (r, col) GROUP BY k),
    tot AS (SELECT sum(c) AS n FROM freq),
    top AS (
      SELECT k, c FROM (
        SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rk FROM freq)
      WHERE rk <= 15)
    SELECT t.k AS part_key, t.c AS true_cnt, e.est AS est_cnt,
           CAST(e.est - t.c AS BIGINT) AS overestimate,
           (e.est - t.c) <= CAST(floor({_CM_E} / {_CM_W} * (SELECT n FROM tot)) AS BIGINT)
             AS within_eps
    FROM top t JOIN est e ON e.k = t.k
    """,
    tags=("sketch", "lineitem"),
)
def q_countmin_frequency_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 512, affine-mod hash rows)
    over part-key frequencies: per-key estimate = min over rows of
    the hashed counter. The sketch is MERGEABLE (counters are sums →
    map-side partials combine; at 100 TB each executor sketches its
    split and d·W integers travel, not the key space). Affine hashes
    are integer-exact cross-engine, so estimates hash-match exactly;
    the ε-N overestimate bound is emitted as a contract column for
    the 15 heaviest keys."""
    li = _t(spark, sf_dir, "lineitem")
    freq = (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    hs = local_df(spark, list(_CM_HASHES), "r INT, a BIGINT, b BIGINT")
    cells = freq.crossJoin(F.broadcast(hs)).select(
        "k", "c", "r",
        (((F.col("a") * F.col("k") + F.col("b")) % _CM_P) % _CM_W).alias("col"),
    )
    counters = cells.groupBy("r", "col").agg(F.sum("c").alias("cnt"))
    est = (
        cells.join(counters, ["r", "col"])
        .groupBy("k")
        .agg(F.min("cnt").alias("est"))
    )
    tot = freq.agg(F.sum("c").alias("n"))
    top = (
        freq.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("k")))
        )
        .where(F.col("rk") <= 15)
        .drop("rk")
    )
    return (
        top.join(est, "k")
        .crossJoin(tot)
        .select(
            F.col("k").alias("part_key"),
            F.col("c").alias("true_cnt"),
            F.col("est").alias("est_cnt"),
            (F.col("est") - F.col("c")).alias("overestimate"),
            (
                (F.col("est") - F.col("c"))
                <= F.floor(F.lit(_CM_E / _CM_W) * F.col("n")).cast("bigint")
            ).alias("within_eps"),
        )
    )


# --- item-CF -------------------------------------------------------------

def _sims_sql() -> str:
    """Co-occurrence cosine over order baskets (co >= 2, basket cap
    64) as a reusable WITH-body prefix ending at `sims`."""
    return """b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
    sized AS (
      SELECT basket, item FROM (
        SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz FROM b)
      WHERE bsz <= 64),
    pairs AS MATERIALIZED (
      SELECT l.item AS i, r.item AS j, CAST(count(*) AS BIGINT) AS co
      FROM sized l JOIN sized r ON l.basket = r.basket AND l.item < r.item
      GROUP BY 1, 2 HAVING count(*) >= 2),
    freq AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY item),
    sims AS MATERIALIZED (
      SELECT p.i, p.j, p.co, fi.n AS n_i, fj.n AS n_j,
             p.co / sqrt(CAST(fi.n AS DOUBLE) * fj.n) AS cos
      FROM pairs p
      JOIN freq fi ON fi.item = p.i
      JOIN freq fj ON fj.item = p.j)"""


def _order_basket_sims(
    spark: SparkSession,
    sf_dir: str,
    focus_items: DataFrame | None = None,
    focus_strategy: str = "join",
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # freq_join='broadcast': the part catalog (|items| longs) is orders
    # of magnitude smaller than the pair relation, so both frequency
    # joins broadcast it instead of re-exchanging the pair table on i
    # and then on j (at sf10 the shuffle default planned two extra
    # SortMergeJoins, each a full sort+exchange of the pair relation)
    return RS.item_similarity(
        li.select(F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")),
        min_co=2,
        max_basket=64,
        focus_items=focus_items,
        focus_strategy=focus_strategy,
        freq_join="broadcast",
    )


@register(
    "itemcf_similar_parts",
    oracle=f"""
    WITH {_sims_sql()},
    hot AS (
      SELECT item FROM (
        SELECT item, n, row_number() OVER (ORDER BY n DESC, item) AS rk FROM freq)
      WHERE rk <= 10),
    sym AS (
      SELECT i AS a, j AS b, co, n_i AS n_a, n_j AS n_b, cos FROM sims
      UNION ALL
      SELECT j, i, co, n_j, n_i, cos FROM sims)
    SELECT a AS item, b AS neighbor, co, n_a, n_b,
           round(cos, 6) AS cosine
    FROM (
      SELECT s.*, row_number() OVER (
        PARTITION BY a ORDER BY round(cos, 6) DESC, b) AS rk
      FROM sym s JOIN hot h ON h.item = s.a)
    WHERE rk <= 5
    """,
    tags=("recsys", "lineitem"),
)
def q_itemcf_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering (operators/recsys.py:
    item_similarity): top-5 cosine neighbors for the 10 most-ordered
    parts. The basket self-join shuffles on the ORDER key so pair
    generation is local per basket (Σ|basket|² bounded by the
    basket-size cap); the pair agg shuffles once with map-side
    partials. Ranked by the rounded cosine so both engines break
    ties identically."""
    li = _t(spark, sf_dir, "lineitem")
    freq = (
        li.select(F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item"))
        .distinct()
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # top-10 via orderBy+limit -> TakeOrderedAndProject (distributed
    # partial top-k per partition), NOT a global row_number window,
    # which would funnel the items-sized freq relation through ONE
    # task's sort at corpus scale. Same rows: identical ordering key
    # and tie-break.
    hot = freq.orderBy(F.desc("n"), F.asc("item")).limit(10).select("item")
    # the hot restriction is pushed below the pair shuffle (see
    # operators/recsys.py focus_items) — output identical: only pairs
    # touching a hot item survive the downstream rank anyway
    # hot is 10 items: the array-level pushdown drops non-hot baskets
    # before pair explosion (sf10 warm 30.6 s -> 17.1 s)
    sims = _order_basket_sims(spark, sf_dir, focus_items=hot, focus_strategy="array")
    # symmetrize with one Generate over a 2-struct array, not a
    # self-union: the union's branches are the same plan up to the
    # final projection and re-execute everything above the last
    # reusable exchange twice — same row multiset, one pipeline
    sym = sims.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("i").alias("a"), F.col("j").alias("b"),
                    F.col("co").alias("co"),
                    F.col("n_i").alias("n_a"), F.col("n_j").alias("n_b"),
                    F.col("cos").alias("cos"),
                ),
                F.struct(
                    F.col("j").alias("a"), F.col("i").alias("b"),
                    F.col("co").alias("co"),
                    F.col("n_j").alias("n_a"), F.col("n_i").alias("n_b"),
                    F.col("cos").alias("cos"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.co", "p.n_a", "p.n_b", "p.cos")
    ranked = (
        sym.join(F.broadcast(hot), sym["a"] == hot["item"])
        .drop("item")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.desc(F.round(F.col("cos"), 6)), F.asc("b"))
            ),
        )
        .where(F.col("rk") <= 5)
    )
    return ranked.select(
        F.col("a").alias("item"),
        F.col("b").alias("neighbor"),
        "co", "n_a", "n_b",
        F.round("cos", 6).alias("cosine"),
    )


@register(
    "itemcf_user_recs",
    oracle=f"""
    WITH {_sims_sql()},
    hist AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS usr, l_partkey AS item
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey <= 20),
    sym AS (
      SELECT i AS item, j AS cand, cos FROM sims
      UNION ALL
      SELECT j, i, cos FROM sims),
    scored AS (
      SELECT h.usr, s.cand, sum(s.cos) AS score,
             CAST(count(*) AS BIGINT) AS n_common
      FROM hist h JOIN sym s ON s.item = h.item
      GROUP BY 1, 2),
    unowned AS (
      SELECT sc.* FROM scored sc
      LEFT JOIN hist h ON h.usr = sc.usr AND h.item = sc.cand
      WHERE h.item IS NULL)
    SELECT usr AS user_key, cand AS rec_item, n_common,
           round(score, 6) AS score
    FROM (
      SELECT u.*, row_number() OVER (
        PARTITION BY usr ORDER BY round(score, 6) DESC, cand) AS rk
      FROM unowned u)
    WHERE rk <= 3
    """,
    tags=("recsys", "lineitem", "orders"),
)
def q_itemcf_user_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level item-CF recommendations (operators/recsys.py:
    user_item_scores): for each of the first 20 customers, the top-3
    unowned parts by summed similarity to their purchase history.
    The history⋈similarity join shuffles on the item key only, and
    the users' history items are pushed down as focus_items into pair
    generation (the itemcf_similar_parts idiom): only pairs touching
    an item one of the 20 users bought survive the dominant pair
    shuffle — output identical, because the scorer joins sym on the
    history item, so any pair not touching the history set can never
    contribute to a score. At sf10 this cuts the pair shuffle from
    corpus-sized to history-sized."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 20)
    li = _t(spark, sf_dir, "lineitem")
    baskets = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
    )
    hist_items = baskets.select("item").distinct()
    sims = _order_basket_sims(spark, sf_dir, focus_items=hist_items)
    recs = RS.user_item_scores(baskets, sims)
    ranked = (
        recs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user").orderBy(
                    F.desc(F.round(F.col("score"), 6)), F.asc("cand")
                )
            ),
        )
        .where(F.col("rk") <= 3)
    )
    return ranked.select(
        F.col("user").alias("user_key"),
        F.col("cand").alias("rec_item"),
        "n_common",
        F.round("score", 6).alias("score"),
    )


# --- rank-1 ALS ----------------------------------------------------------

def _als_oracle(rounds: int = 3, lam: float = 0.1) -> str:
    """Unrolled trajectory replay: state rounded to 6 decimals per
    half-step exactly as operators/recsys.py:rank1_als. CTE rounds
    are AS MATERIALIZED — DuckDB inlines plain CTEs and the chain
    re-expands exponentially otherwise (the bpe_merge_training
    lesson)."""
    steps = []
    prev_v = "v0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""u{k} AS MATERIALIZED (
      SELECT usr, round(sum(r * v) / ({lam} + sum(v * v)), 6) AS u
      FROM rat JOIN {prev_v} USING (itm) GROUP BY usr),
    v{k} AS MATERIALIZED (
      SELECT itm, round(sum(r * u) / ({lam} + sum(u * u)), 6) AS v
      FROM rat JOIN u{k} USING (usr) GROUP BY itm),
    e{k} AS (
      SELECT {k} AS step,
             (SELECT round(sqrt(avg(pow(r - u * v, 2))), 4)
              FROM rat JOIN u{k} USING (usr) JOIN v{k} USING (itm)) AS rmse,
             (SELECT round(sum(u), 4) FROM u{k}) AS sum_u,
             (SELECT round(sum(v), 4) FROM v{k}) AS sum_v)"""
        )
        prev_v = f"v{k}"
    chain = ",\n    ".join(steps)
    unions = "\n    UNION ALL\n    ".join(f"SELECT * FROM e{k}" for k in range(1, rounds + 1))
    return f"""
    WITH rat AS MATERIALIZED (
      SELECT o_custkey AS usr, l_partkey AS itm,
             CAST(sum(l_quantity) AS DOUBLE) AS r
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    v0 AS (SELECT DISTINCT itm, 1.0 AS v FROM rat),
    {chain}
    {unions}
    """


@register(
    "als_rank1_trajectory",
    oracle=_als_oracle(),
    tags=("recsys", "iterative", "lineitem", "orders"),
)
def q_als_rank1_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALS (operators/recsys.py:rank1_als) on the
    customer×part quantity matrix: 3 alternating rounds, reporting
    per-round RMSE and factor-sum fingerprints. Ratings are
    integer-valued quantity sums (exact in FP regardless of
    aggregation order) and factor state is rounded per half-step, so
    the unrolled DuckDB oracle replays the trajectory exactly. Each
    half-step moves factor-sized relations only (the Pregel shape);
    lineage is cut per round by the iterate() harness."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ratings = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item")
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    return RS.rank1_als(ratings, rounds=3, lam=0.1)


# --- decision stumps -----------------------------------------------------

_GINI_SQL = """
    WITH buckets AS (
      SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM orders GROUP BY 1),
    cum AS (
      SELECT bucket,
             sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS n_l,
             sum(pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS pos_l,
             sum(n) OVER () AS n_t, sum(pos) OVER () AS pos_t
      FROM buckets),
    splits AS (
      SELECT (bucket + 1) * 20000.0 AS threshold,
             CAST(n_l AS BIGINT) AS n_left, CAST(n_t - n_l AS BIGINT) AS n_right,
             CAST(pos_l AS BIGINT) AS pos_left, CAST(pos_t - pos_l AS BIGINT) AS pos_right,
             (1.0 - (CAST(pos_t AS DOUBLE) / n_t) * (CAST(pos_t AS DOUBLE) / n_t)
                  - (1.0 - CAST(pos_t AS DOUBLE) / n_t) * (1.0 - CAST(pos_t AS DOUBLE) / n_t))
             - (n_l * (1.0 - (CAST(pos_l AS DOUBLE) / n_l) * (CAST(pos_l AS DOUBLE) / n_l)
                           - (1.0 - CAST(pos_l AS DOUBLE) / n_l) * (1.0 - CAST(pos_l AS DOUBLE) / n_l))
                + (n_t - n_l) * (1.0 - (CAST(pos_t - pos_l AS DOUBLE) / (n_t - n_l)) * (CAST(pos_t - pos_l AS DOUBLE) / (n_t - n_l))
                                     - (1.0 - CAST(pos_t - pos_l AS DOUBLE) / (n_t - n_l)) * (1.0 - CAST(pos_t - pos_l AS DOUBLE) / (n_t - n_l))))
               / n_t AS gain
      FROM cum WHERE n_t - n_l > 0)
    SELECT threshold, n_left, n_right, pos_left, pos_right,
           round(gain, 8) AS gain
    FROM (
      SELECT s.*, row_number() OVER (ORDER BY round(gain, 8) DESC, threshold) AS rk
      FROM splits s)
    WHERE rk <= 5
    """


@register(
    "decision_stump_orders",
    oracle=_GINI_SQL,
    tags=("trees", "orders"),
)
def q_decision_stump_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification-stump split finding (operators/trees.py:
    gini_splits): best `o_totalprice < t` thresholds for predicting
    fulfilled status, by Gini gain. The data-sized stage is one
    groupBy(bucket) with map-side partials (shuffle = |buckets|
    rows); the threshold scan is prefix sums over the bucket grid —
    the histogram strategy that makes distributed tree learners
    communication-optimal. All statistics are integer counts, so the
    gain expression is bit-deterministic cross-engine."""
    o = _t(spark, sf_dir, "orders")
    splits = TR.gini_splits(
        o,
        F.col("o_totalprice"),
        (F.col("o_orderstatus") == "F").cast("int"),
        bucket_width=20000.0,
    )
    from ...operators.rank import global_ranked

    return (
        global_ranked(
            splits,
            [(F.round(F.col("gain"), 8), "desc"), "threshold"],
            row_number="rk",
        )
        .where(F.col("rk") <= 5)
        .select(
            "threshold", "n_left", "n_right", "pos_left", "pos_right",
            F.round("gain", 8).alias("gain"),
        )
    )


_VAR_SQL = """
    WITH buckets AS (
      SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             sum(l_quantity) AS s,
             sum(l_quantity * l_quantity) AS ss
      FROM lineitem GROUP BY 1),
    cum AS (
      SELECT bucket,
             sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS n_l,
             sum(s) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS s_l,
             sum(ss) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ss_l,
             sum(n) OVER () AS n_t, sum(s) OVER () AS s_t, sum(ss) OVER () AS ss_t
      FROM buckets),
    splits AS (
      SELECT (bucket + 1) * 5000.0 AS threshold,
             CAST(n_l AS BIGINT) AS n_left, CAST(n_t - n_l AS BIGINT) AS n_right,
             ((ss_t - (s_t * s_t) / n_t)
              - (ss_l - (s_l * s_l) / n_l)
              - ((ss_t - ss_l) - ((s_t - s_l) * (s_t - s_l)) / (n_t - n_l))) / n_t AS gain
      FROM cum WHERE n_t - n_l > 0)
    SELECT threshold, n_left, n_right, round(gain, 6) AS gain
    FROM (
      SELECT s.*, row_number() OVER (ORDER BY round(gain, 6) DESC, threshold) AS rk
      FROM splits s)
    WHERE rk <= 5
    """


@register(
    "regression_stump_lineitem",
    oracle=_VAR_SQL,
    tags=("trees", "lineitem"),
)
def q_regression_stump_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-stump split finding (operators/trees.py:
    variance_splits): best `l_extendedprice < t` thresholds for
    predicting quantity, by variance reduction from additive
    (n, Σy, Σy²) statistics. Quantity is integer-valued, so the
    sufficient statistics are EXACT doubles independent of
    aggregation order — the reason this query targets quantity and
    not price (FP-order-dependent Σy² would not hash-match)."""
    li = _t(spark, sf_dir, "lineitem")
    splits = TR.variance_splits(
        li, F.col("l_extendedprice"), F.col("l_quantity"), bucket_width=5000.0
    )
    from ...operators.rank import global_ranked

    return (
        global_ranked(
            splits,
            [(F.round(F.col("gain"), 6), "desc"), "threshold"],
            row_number="rk",
        )
        .where(F.col("rk") <= 5)
        .select("threshold", "n_left", "n_right", F.round("gain", 6).alias("gain"))
    )


# --- BFS hop distances ---------------------------------------------------

def _bfs_oracle(hops: int = 4) -> str:
    steps = []
    prev = "d0"
    for k in range(1, hops + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT u.b, d.dist + 1 FROM {prev} d JOIN und u ON u.a = d.node)
      GROUP BY node)"""
        )
        prev = f"d{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
    sized AS (
      SELECT basket, item FROM (
        SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz FROM b)
      WHERE bsz <= 64),
    pairs AS MATERIALIZED (
      SELECT l.item AS i, r.item AS j
      FROM sized l JOIN sized r ON l.basket = r.basket AND l.item < r.item
      GROUP BY 1, 2 HAVING count(*) >= 2),
    und AS MATERIALIZED (
      SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
    d0 AS (SELECT (SELECT min(a) FROM und) AS node, 0 AS dist),
    {chain}
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node, max(node) AS max_node
    FROM d{hops} GROUP BY dist
    """


@register(
    "bfs_hops_copurchase",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "lineitem"),
)
def q_bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded BFS (operators/graph.py:bfs_distances) over the
    co-purchase graph (parts co-ordered >= 2 times), from the
    smallest part id: per-hop reachability census after 4 rounds of
    synchronous Bellman-Ford relaxation. Each round joins the
    materialized edge list against the frontier on one key (the
    Pregel messaging shape); the source is a lazy 1-row agg, so the
    builder stays collect-free."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = RS.basket_pairs(
        li.select(
            F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
        ),
        min_co=2,
        max_basket=64,
    )
    edges = pairs.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    src = edges.select(
        F.least(F.min("src"), F.min("dst")).alias("node")
    )
    dist = bfs_distances(edges, src, max_hops=4)
    return dist.groupBy("dist").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# --- Hilbert layout census ----------------------------------------------

def _hilbert_sql(bits: int = 10) -> str:
    """Hamilton xy→d walk as one MATERIALIZED CTE per bit (the
    rotation recurrence would re-expand exponentially inlined —
    same lesson as the BPE oracle)."""
    steps = []
    prev = "h_in"
    for idx, i in enumerate(range(bits - 1, -1, -1)):
        s = 1 << i
        rx = f"((x >> {i}) & 1)"
        ry = f"((y >> {i}) & 1)"
        steps.append(
            f"""h{idx} AS MATERIALIZED (
      SELECT grp_a, hit,
             d + CAST({s} AS BIGINT) * {s} * CAST(xor(3 * {rx}, {ry}) AS BIGINT) AS d,
             CASE WHEN {ry} = 0
                  THEN CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END
                  ELSE x END AS x,
             CASE WHEN {ry} = 0
                  THEN CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END
                  ELSE y END AS y
      FROM {prev})"""
        )
        prev = f"h{idx}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH base AS (
      SELECT l_orderkey, (l_partkey % 1024) AS x, ((l_suppkey * 10) % 1024) AS y
      FROM lineitem),
    h_in AS (
      SELECT CAST(floor(l_orderkey / 250.0) AS BIGINT) AS grp_a,
             (x BETWEEN 96 AND 159 AND y BETWEEN 192 AND 255) AS hit,
             CAST(0 AS BIGINT) AS d, x, y
      FROM base),
    {chain},
    m AS (SELECT (d >> 12) AS hgroup, grp_a AS agroup, hit FROM {prev})
    SELECT 'hilbert' AS layout,
           CAST(count(DISTINCT hgroup) AS BIGINT) AS total_groups,
           CAST(count(DISTINCT CASE WHEN hit THEN hgroup END) AS BIGINT) AS touched_groups,
           round(CAST(count(DISTINCT CASE WHEN hit THEN hgroup END) AS DOUBLE)
                 / count(DISTINCT hgroup), 6) AS touch_frac
    FROM m
    UNION ALL
    SELECT 'arrival',
           CAST(count(DISTINCT agroup) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN hit THEN agroup END) AS BIGINT),
           round(CAST(count(DISTINCT CASE WHEN hit THEN agroup END) AS DOUBLE)
                 / count(DISTINCT agroup), 6)
    FROM m
    """


@register(
    "hilbert_layout_census",
    oracle=_hilbert_sql(),
    tags=("layout", "lineitem"),
)
def q_hilbert_layout_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout pruning census (operators/scale.py:
    with_hilbert_key), the part-11 Z-order census's sibling: bucket
    rows into 4096-cell "row groups" by the top Hilbert-index bits
    vs arrival order and count groups a 64×64 bbox predicate
    touches. The Hilbert walk is pure integer shift/mask/xor emitted
    as one projection per bit (linear plan, whole-stage codegen);
    the oracle replays it with one MATERIALIZED CTE per bit."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        (F.col("l_partkey") % 1024).alias("x"),
        ((F.col("l_suppkey") * 10) % 1024).alias("y"),
    )
    keyed = with_hilbert_key(base, "x", "y", out="hd", bits=10)
    m = keyed.select(
        F.shiftright(F.col("hd"), 12).alias("hgroup"),
        F.floor(F.col("l_orderkey") / 250.0).cast("bigint").alias("agroup"),
        (F.col("x").between(96, 159) & F.col("y").between(192, 255)).alias("hit"),
    )

    def census(gcol: str, name: str) -> DataFrame:
        return m.agg(
            F.lit(name).alias("layout"),
            F.count_distinct(F.col(gcol)).cast("bigint").alias("total_groups"),
            F.count_distinct(F.when(F.col("hit"), F.col(gcol)))
            .cast("bigint")
            .alias("touched_groups"),
            F.round(
                F.count_distinct(F.when(F.col("hit"), F.col(gcol))).cast("double")
                / F.count_distinct(F.col(gcol)),
                6,
            ).alias("touch_frac"),
        )

    return census("hgroup", "hilbert").unionAll(census("agroup", "arrival"))


# --- window-function coverage -------------------------------------------

@register(
    "window_rank_census",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment AS segment, c_acctbal,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
    SELECT segment, quartile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(avg(pr), 6) AS avg_pct_rank,
           round(avg(cd), 6) AS avg_cume_dist
    FROM ranked GROUP BY segment, quartile
    """,
    tags=("window", "customer"),
)
def q_window_rank_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (SURVEY §2.8): ntile /
    percent_rank / cume_dist over per-segment balance order,
    aggregated to a per-quartile census. The (acctbal, custkey)
    ordering is a total order, so rank semantics are deterministic
    cross-engine; windows are partitioned (no global sort)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("segment", "quartile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.avg("pr"), 6).alias("avg_pct_rank"),
        F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
    )


@register(
    "listagg_top_customers",
    oracle="""
    WITH top3 AS (
      SELECT n_name, c_name, c_acctbal, rk FROM (
        SELECT n.n_name, c.c_name, c.c_acctbal,
               row_number() OVER (
                 PARTITION BY n.n_name
                 ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
      WHERE rk <= 3)
    SELECT n_name,
           string_agg(c_name, ',' ORDER BY rk) AS top_names,
           round(sum(c_acctbal), 2) AS top_bal
    FROM top3 GROUP BY n_name
    """,
    tags=("window", "customer", "nation"),
)
def q_listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per nation,
    the top-3 customers by balance concatenated in rank order. Spark
    has no ordered string_agg; the portable form is collect_list of
    (rank, name) structs → array_sort → transform → array_join —
    all JVM-side higher-order functions, no UDF."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ranked = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.desc("c_acctbal"), F.asc("c_custkey")
                )
            ),
        )
        .where(F.col("rk") <= 3)
    )
    return ranked.groupBy("n_name").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "c_name"))),
                lambda s: s["c_name"],
            ),
            ",",
        ).alias("top_names"),
        F.round(F.sum("c_acctbal"), 2).alias("top_bal"),
    )

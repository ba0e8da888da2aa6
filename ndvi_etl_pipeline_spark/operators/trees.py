"""Decision-stump split finding as a sort-free aggregation plan.

The inner loop of every distributed tree learner (CART, and the
histogram strategy XGBoost/LightGBM made standard): evaluate all
candidate thresholds of a feature in ONE pass by pre-aggregating the
data to per-bucket sufficient statistics and turning "left/right of
threshold t" into prefix sums over the bucket axis.

Scale shape — the part that matters at 100 TB: the data-sized stage
is a single groupBy(bucket) with map-side partial aggregation, so the
shuffle carries |buckets| rows (hundreds), not |rows|. The prefix
sums that scan thresholds then run over that bucket relation through
`rank.global_ranked(mode="single")` — one sorted partition of the
BUCKET grid, a driver-visible constant at any data size (so no size
estimate or rank-mode conf applies to it), which is exactly how
histogram-based learners make split finding communication-optimal
(sufficient statistics are additive, so partials merge
associatively).

Gini impurity for classification (binary label), variance reduction
for regression — both from additive statistics only:
  gini(n, pos)      = 1 - (pos/n)² - ((n-pos)/n)²
  var(n, Σy, Σy²)   = Σy²/n - (Σy/n)²    (population form)
  gain(t) = impurity(root) - [n_L·imp_L + n_R·imp_R] / n
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rank import global_ranked

__all__ = ["gini_splits", "variance_splits", "boosted_stumps"]


def _cum() -> Window:
    return Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)


def _tot() -> Window:
    return Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )


def gini_splits(
    df: DataFrame,
    feature,
    label,
    bucket_width: float,
) -> DataFrame:
    """All candidate splits `feature < t` at bucket-grid granularity
    (threshold t = (bucket+1)·width; a row with feature exactly t
    falls in the RIGHT child), with Gini gain. `label` must be a 0/1
    integer column expression.

    Returns (threshold, n_left, n_right, pos_left, pos_right, gain) —
    one row per occupied bucket except the last (a split with an
    empty side is not a split).
    """
    buckets = (
        df.select(
            (F.floor(feature / F.lit(bucket_width))).cast("bigint").alias("bucket"),
            label.cast("bigint").alias("y"),
        )
        .where(F.col("bucket").isNotNull())  # null features carry no
        # split information; left unfiltered they'd sort NULLS FIRST
        # into every left-side prefix sum
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("pos"))
    )
    cum = global_ranked(
        buckets,
        ["bucket"],
        mode="single",
        running_sums={"n_l": F.col("n"), "pos_l": F.col("pos")},
        total_sums={"n_t": F.col("n"), "pos_t": F.col("pos")},
    )

    def gini(n, pos):
        p = pos.cast("double") / n
        return 1.0 - p * p - (1.0 - p) * (1.0 - p)

    n_r = F.col("n_t") - F.col("n_l")
    pos_r = F.col("pos_t") - F.col("pos_l")
    root = gini(F.col("n_t"), F.col("pos_t"))
    weighted = (
        F.col("n_l") * gini(F.col("n_l"), F.col("pos_l"))
        + n_r * gini(n_r, pos_r)
    ) / F.col("n_t")
    return (
        cum.where(n_r > 0)
        .select(
            ((F.col("bucket") + 1) * F.lit(bucket_width)).alias("threshold"),
            F.col("n_l").alias("n_left"),
            n_r.alias("n_right"),
            F.col("pos_l").alias("pos_left"),
            pos_r.alias("pos_right"),
            (root - weighted).alias("gain"),
        )
    )


def variance_splits(
    df: DataFrame,
    feature,
    target,
    bucket_width: float,
) -> DataFrame:
    """All candidate splits `feature < t` (boundary rows fall right;
    see gini_splits) with variance-reduction gain for a continuous
    `target` (regression stump). Returns
    (threshold, n_left, n_right, gain)."""
    buckets = (
        df.select(
            (F.floor(feature / F.lit(bucket_width))).cast("bigint").alias("bucket"),
            target.cast("double").alias("y"),
        )
        .where(F.col("bucket").isNotNull())  # see gini_splits
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("ss"),
        )
    )
    cum = global_ranked(
        buckets,
        ["bucket"],
        mode="single",
        running_sums={c + "_l": F.col(c) for c in ("n", "s", "ss")},
        total_sums={c + "_t": F.col(c) for c in ("n", "s", "ss")},
    )

    def sse(n, s, ss):
        # n * var = Σy² - (Σy)²/n  — the additive "sum of squared error" form
        return ss - (s * s) / n

    n_r = F.col("n_t") - F.col("n_l")
    s_r = F.col("s_t") - F.col("s_l")
    ss_r = F.col("ss_t") - F.col("ss_l")
    gain = (
        sse(F.col("n_t"), F.col("s_t"), F.col("ss_t"))
        - sse(F.col("n_l"), F.col("s_l"), F.col("ss_l"))
        - sse(n_r, s_r, ss_r)
    ) / F.col("n_t")
    return (
        cum.where(n_r > 0)
        .select(
            ((F.col("bucket") + 1) * F.lit(bucket_width)).alias("threshold"),
            F.col("n_l").alias("n_left"),
            n_r.alias("n_right"),
            gain.alias("gain"),
        )
    )


def boosted_stumps(
    df: DataFrame,
    feature,
    target,
    bucket_width: float,
    rounds: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Gradient boosting with depth-1 trees on a single bucketed
    feature: `rounds` rounds of (fit variance-reduction stump to
    residuals → add lr-scaled leaf means to the prediction).

    The scale insight: because a stump on a bucketed feature assigns
    the same prediction to every row in a bucket, the ENTIRE boosting
    state lives on the per-bucket sufficient-statistics relation —
    residual statistics are derivable in closed form
    (Σ(y−p) = s − n·p, Σ(y−p)² = ss − 2ps + np²), so the corpus is
    scanned exactly ONCE and every round runs over |buckets| rows.
    This is precisely the histogram trick that makes distributed
    GBDT (XGBoost/LightGBM) communication-optimal, taken to its
    fixed-feature limit.

    Predictions and leaf means are rounded to 6 decimals per round so
    a DuckDB oracle can replay the trajectory exactly. Returns one
    row per round: (step, threshold, mean_left, mean_right, mse)
    where mse is the post-update training error.
    """
    from .iterate import materialize

    b0 = (
        df.select(
            (F.floor(feature / F.lit(bucket_width))).cast("bigint").alias("bucket"),
            target.cast("double").alias("y"),
        )
        .where(F.col("bucket").isNotNull())  # see gini_splits
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("ss"),
        )
    )
    mean0 = b0.agg(F.round(F.sum("s") / F.sum("n"), 6).alias("p"))
    state = materialize(b0.crossJoin(mean0))  # (bucket, n, s, ss, p)

    cum = _cum()
    tot = _tot()

    out_rows = []
    for k in range(1, rounds + 1):
        res = state.select(
            "bucket", "n", "s", "ss", "p",
            (F.col("s") - F.col("n") * F.col("p")).alias("rs"),
            (
                F.col("ss")
                - 2.0 * F.col("p") * F.col("s")
                + F.col("n") * F.col("p") * F.col("p")
            ).alias("rss"),
        )
        c = res.select(
            "bucket",
            F.sum("n").over(cum).alias("n_l"),
            F.sum("rs").over(cum).alias("rs_l"),
            F.sum("rss").over(cum).alias("rss_l"),
            F.sum("n").over(tot).alias("n_t"),
            F.sum("rs").over(tot).alias("rs_t"),
            F.sum("rss").over(tot).alias("rss_t"),
        )
        n_r = F.col("n_t") - F.col("n_l")
        rs_r = F.col("rs_t") - F.col("rs_l")
        gain = (
            (F.col("rss_t") - (F.col("rs_t") * F.col("rs_t")) / F.col("n_t"))
            - (F.col("rss_l") - (F.col("rs_l") * F.col("rs_l")) / F.col("n_l"))
            - ((F.col("rss_t") - F.col("rss_l")) - (rs_r * rs_r) / n_r)
        ) / F.col("n_t")
        best = (
            c.where(n_r > 0)
            .select(
                "bucket",
                F.round(gain, 6).alias("g"),
                F.round(F.col("rs_l") / F.col("n_l"), 6).alias("mean_left"),
                F.round(rs_r / n_r, 6).alias("mean_right"),
            )
            .withColumn(
                "rk",
                F.row_number().over(Window.orderBy(F.desc("g"), F.asc("bucket"))),
            )
            .where(F.col("rk") == 1)
            .select(
                F.col("bucket").alias("split_bucket"),
                "mean_left",
                "mean_right",
            )
        )
        # single-occupied-bucket guard: with no valid split `best` is
        # EMPTY and the crossJoin below would annihilate the state for
        # this and every later round. Fall back to a zero-mean no-op
        # split (prediction unchanged, mse still reported) ranked
        # below any real split.
        fallback = state.agg(
            F.max("bucket").alias("split_bucket"),
            F.lit(0.0).alias("mean_left"),
            F.lit(0.0).alias("mean_right"),
        )
        best = (
            best.withColumn("_pri", F.lit(0))
            .unionAll(fallback.withColumn("_pri", F.lit(1)))
            .withColumn("_rk", F.row_number().over(Window.orderBy("_pri")))
            .where(F.col("_rk") == 1)
            .drop("_pri", "_rk")
        )
        state = materialize(
            state.crossJoin(best).select(
                "bucket", "n", "s", "ss",
                "split_bucket", "mean_left", "mean_right",
                F.round(
                    F.col("p")
                    + F.lit(lr)
                    * F.when(
                        F.col("bucket") <= F.col("split_bucket"), F.col("mean_left")
                    ).otherwise(F.col("mean_right")),
                    6,
                ).alias("p"),
            )
        )
        metrics = state.agg(
            F.lit(k).cast("int").alias("step"),
            F.round(
                (F.max("split_bucket") + 1) * F.lit(bucket_width), 6
            ).alias("threshold"),
            F.round(F.max("mean_left"), 6).alias("mean_left"),
            F.round(F.max("mean_right"), 6).alias("mean_right"),
            F.round(
                F.sum(
                    F.col("ss")
                    - 2.0 * F.col("p") * F.col("s")
                    + F.col("n") * F.col("p") * F.col("p")
                )
                / F.sum("n"),
                4,
            ).alias("mse"),
        )
        out_rows.append(metrics)
        state = state.drop("split_bucket", "mean_left", "mean_right")
    out = out_rows[0]
    for e in out_rows[1:]:
        out = out.unionAll(e)
    return out

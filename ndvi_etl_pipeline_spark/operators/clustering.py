"""K-means (Lloyd's algorithm) over embedding columns.

Third member of the iterative-operator family (with
graph.pagerank and dedup.components_min_label). The Spark shape is
MLlib's own: centroids are a k×dim driver-side table re-broadcast
each iteration (metadata-sized at any corpus scale), while the data
side never moves — each iteration is one broadcast cross-join +
per-row argmin + one groupBy(cid, pos) shuffle of |k·dim| partial
rows. Distances run JVM-side via zip_with/aggregate folds (no UDF, no
explode of the assignment pass).

Centroid components are rounded at a fixed precision each iteration
so the trajectory is reproducible across engines/accumulation orders
— the property the unrolled-CTE oracle (plans/queries.py) checks
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .arrow_kernels import local_df
from .iterate import scoped_persist

__all__ = ["kmeans_lloyd", "kmeans_centroid_vectors"]


def _lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    round_digits: int,
    slot: str,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """The one Lloyd loop. Init = the k smallest `id_col` rows
    (deterministic); each iteration assigns every row to its nearest
    centroid (ties to the smaller cid) and replaces each centroid by
    its members' per-component mean, rounded at `round_digits`.

    Returns (the final centroids [(cid, [component, ...])] sorted by
    cid, the last assignment (vec_id, cid, v)). The vectors are cached
    under `slot` (`scoped_persist`: one live cache per slot, released
    by the slot's next call even when an iteration raised)."""
    spark = df.sparkSession
    vecs = scoped_persist(
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        slot,
    )
    centroids = [
        (cid, list(r.v)) for cid, r in enumerate(vecs.orderBy("vec_id").limit(k).collect())
    ]

    sq = lambda a, b: (a - b) * (a - b)  # noqa: E731
    add = lambda acc, x: acc + x  # noqa: E731

    assigned = None
    for _ in range(iterations):
        cdf = local_df(spark, centroids, "cid int, c array<double>")
        dist = F.aggregate(F.zip_with("v", "c", sq), F.lit(0.0), add)
        assigned = (
            vecs.crossJoin(F.broadcast(cdf))
            .select("vec_id", "v", dist.alias("dist"), "cid")
            .groupBy("vec_id")
            # lexicographic struct min = (smallest dist, then smallest
            # cid) — the deterministic tie-break the oracle mirrors
            .agg(
                F.min(F.struct("dist", "cid")).alias("m"),
                F.first("v").alias("v"),
            )
            .select("vec_id", F.col("m.cid").alias("cid"), "v")
        )
        comp = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), round_digits).alias("val"))
        )
        new_c = (
            comp.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("c")
            )
            .collect()
        )
        centroids = sorted((r.cid, list(r.c)) for r in new_c)
    return centroids, assigned


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Run `iterations` Lloyd steps (`_lloyd`). Returns one row per
    cluster: (cid, n_points, centroid_sum) — final assignment sizes
    plus the rounded component-sum of the post-update centroid."""
    centroids, assigned = _lloyd(
        df, id_col, vec_col, k, iterations, round_digits, "clustering.kmeans_lloyd.vecs"
    )
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_points"))
    sums = local_df(
        df.sparkSession, [(cid, float(sum(c))) for cid, c in centroids], "cid int, s double"
    ).select("cid", F.round("s", 4).alias("centroid_sum"))
    return sizes.join(sums, "cid").select("cid", "n_points", "centroid_sum")


def kmeans_centroid_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 3,
    round_digits: int = 6,
) -> list[tuple[int, list[float]]]:
    """Run the same Lloyd trajectory as `kmeans_lloyd` but return the
    final CENTROID VECTORS [(cid, [component, ...]), ...] — the
    training output other operators compose with (e.g. an IVF index
    built on fitted cells instead of sampled rows). The loop is
    `_lloyd`, so the trajectory — and therefore the centroids —
    replays exactly in the unrolled-CTE oracle."""
    centroids, _ = _lloyd(
        df, id_col, vec_col, k, iterations, round_digits,
        "clustering.kmeans_centroid_vectors.vecs",
    )
    return centroids


def centered_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, x array<double>): mean-centered vectors, with the per-dim
    mean rounded at `round_digits` — the engine-portable centering
    every PCA/whitening trajectory here starts from (the oracle's
    `mu` CTE computes the identical rounded means)."""
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    mu_rows = (
        vecs.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.round(F.avg("val"), round_digits).alias("m"))
        .collect()
    )
    dim = max(r.pos for r in mu_rows) + 1
    mu = [0.0] * dim
    for r in mu_rows:
        mu[r.pos] = float(r.m)
    mu_lit = F.array(*[F.lit(m) for m in mu])
    return vecs.select(
        F.col(id_col), F.zip_with("v", mu_lit, lambda a, b: a - b).alias("x")
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 3,
    round_digits: int = 6,
    id_col: str = "vec_id",
) -> tuple[list[float], float]:
    """([loading, ...], eigenvalue): the fitted direction other
    operators compose with (whitening, projection audits) — the
    kmeans_centroid_vectors idiom. Loadings are engine-side-rounded
    (F.round literals, HALF_UP) so they equal the unrolled-CTE
    oracle's v exactly; the Rayleigh eigenvalue is computed with the
    rounded direction. See pca_power_iteration for the plan shape."""
    import math

    spark = df.sparkSession
    add = lambda acc, x: acc + x  # noqa: E731
    cent = centered_embeddings(df, id_col, vec_col, round_digits).select("x").persist()
    # all consumers below are in-function collects — released on return
    dim = len(cent.first().x)

    v = [1.0] * dim  # raw (pre-round) components; rounding is JVM-side
    rounded = False
    for _ in range(iterations):
        v_lit = F.array(
            *[
                (F.round(F.lit(x), round_digits) if rounded else F.lit(x))
                for x in v
            ]
        )
        s = F.aggregate(F.zip_with("x", v_lit, lambda a, b: a * b), F.lit(0.0), add)
        row = (
            cent.select(s.alias("s"), "x")
            .agg(
                *[
                    F.sum(F.col("s") * F.element_at("x", d + 1)).alias(f"w{d}")
                    for d in range(dim)
                ]
            )
            .collect()[0]
        )
        w = [float(row[f"w{d}"]) for d in range(dim)]
        nrm = math.sqrt(sum(wi * wi for wi in w))
        v = [wi / nrm for wi in w]
        rounded = True

    # engine-side rounding of the final iterate (one metadata job) so
    # the returned floats are bit-identical to the oracle's round()
    vr_row = spark.range(1).select(
        *[F.round(F.lit(x), round_digits).alias(f"v{d}") for d, x in enumerate(v)]
    ).collect()[0]
    vr = [float(vr_row[f"v{d}"]) for d in range(dim)]

    v_lit = F.array(*[F.lit(x) for x in vr])
    s = F.aggregate(F.zip_with("x", v_lit, lambda a, b: a * b), F.lit(0.0), add)
    lam_n = cent.select(s.alias("s")).agg(
        F.sum(F.col("s") * F.col("s")).alias("ss"), F.count("*").alias("n")
    ).collect()[0]
    lam = float(lam_n.ss) / (int(lam_n.n) - 1)
    cent.unpersist(blocking=False)
    return vr, lam


def pca_power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """(idx, loading, eigenvalue): top principal component of the
    vector column by power iteration on the (implicit) covariance —
    fourth member of the iterative-operator family.

    The Spark shape: the candidate direction v is a driver-held
    dim-vector re-broadcast as a literal each step (metadata-scale,
    the kmeans centroid idiom); each iteration is ONE job — per-row
    score s = x_c·v via a zip_with fold, then dim sums
    w_d = Σ_rows s·x_c[d] as a single wide aggregate — the corpus
    never moves and the covariance matrix is never materialized
    (C·v computed as X'(Xv), the standard trick that keeps power
    iteration linear in rows at any dim).

    Engine portability, the family discipline: the per-dim mean and
    each normalized iterate are rounded at `round_digits` (JVM-side
    F.round — HALF_UP matches the oracle's round), so the whole
    trajectory replays exactly in the unrolled-CTE oracle and the
    final loadings are value-checked, not rows-only. v0 = all-ones
    (exact in binary)."""
    spark = df.sparkSession
    vr, lam = pca_top_component(df, vec_col, iterations, round_digits)
    out = local_df(
        spark,
        [(d + 1, vr[d], lam) for d in range(len(vr))],
        "idx int, loading double, eigenvalue double",
    )
    return out.select(
        "idx",
        F.col("loading"),
        F.round("eigenvalue", 4).alias("eigenvalue"),
    )

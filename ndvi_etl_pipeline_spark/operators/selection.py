"""Data-selection operators for LLM training corpora.

The tier a 100 TB training-data pipeline runs AFTER dedup: decide
which documents to keep, reweight, or resample. Paper-anchored,
all composed from built-in DataFrame ops (zero Python UDFs):

- :func:`dsir_logweights` — Data Selection via Importance
  Resampling (Xie et al. 2023): hashed-n-gram bucket LMs for a
  target slice vs the raw corpus; per-document log importance
  weight = Σ_tokens log(p_target(b)/p_raw(b)).
- :func:`semdedup_cluster_stats` — SemDeDup (Abbas et al. 2023):
  k-means-style cluster assignment, within-cluster pairwise
  cosine, keep-lowest-id pruning at a threshold.
- :func:`duplicated_window_stats` — the distributed analogue of
  exact-substring dedup (Lee et al. 2021, "Deduplicating Training
  Data Makes Language Models Better"): their suffix-array pass is
  single-node; the scalable form is a shuffle on fixed-length token
  windows, counting windows that occur more than once corpus-wide.
- :func:`naive_bayes_scores` — multinomial Naive Bayes over hashed
  token buckets: the closed-form stand-in for fastText-style linear
  quality classifiers (GPT-3/LLaMA pipeline quality filters); a
  deterministic train/test split by id.
- :func:`trigram_xent` — CCNet-shaped (Wenzek et al. 2020)
  per-language LM scoring: a character-trigram LM trained on a
  target slice, per-document cross-entropy, head/middle/tail
  bucketing downstream via ntile.
- :func:`soft_dedup_weights` — soft deduplication (SlimPajama /
  D4-style reweighting): instead of dropping exact duplicates,
  weight each copy 1/cluster_size so the effective epoch count of
  every distinct text is 1.

Scale notes (100 TB): every function here is one or two shuffles
on bounded keys. The bucket LMs (DSIR, Naive Bayes) aggregate to
B ≤ 64 rows and broadcast back — the per-token join is map-side.
The trigram LM is |langs|×|alphabet|³ rows at most — still a
broadcast. SemDeDup's pair stage is bounded per-cluster (its
design point); duplicated_window_stats shuffles on the window
text, the same key distribution as the MinHash shingle stage.

Token hashing uses md5 nibbles (operators/dedup.py:275) so every
bucket id is reproducible in any engine with md5 + strpos — the
same cross-engine discipline as the MinHash oracle family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from .dedup import _nibble_value
from .similarity import cosine
from .iterate import scoped_persist

N_BUCKETS = 64


def token_bucket(tok: Column | str, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic feature-hash bucket: first two md5 nibbles mod B.

    Cross-engine replayable (DuckDB: strpos over the hex alphabet),
    unlike xxhash64/murmur whose seeds differ between engines.
    """
    c = F.col(tok) if isinstance(tok, str) else tok
    h = F.md5(c.cast("binary"))
    return (
        _nibble_value(F.substring(h, 1, 1)) * 16 + _nibble_value(F.substring(h, 2, 1))
    ) % n_buckets


def dsir_logweights(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, n_tokens, dsir_logweight): DSIR importance weights.

    Two passes, one tiny broadcast: (1) a single groupBy(bucket)
    computes raw AND target counts (conditional sum — no second
    scan); (2) the B-row log-ratio table joins back map-side.
    Laplace-smoothed bucket LMs: p(b) = (c_b + 1)/(N + B).
    """
    # repartition before the explode (dedup.py:255 discipline): a
    # handful of source files must not serialize the md5 stage
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    tok = docs.select(
        F.col(id_col), target_pred.alias("is_t"), F.explode(tokens(text_col)).alias("w")
    ).select(F.col(id_col), "is_t", token_bucket("w", n_buckets).alias("b"))
    # cnt feeds both the totals and the log-ratio table; persisting
    # the 64-row aggregate stops the token scan from running twice
    cnt = scoped_persist(
        tok.groupBy("b").agg(
            F.count("*").cast("double").alias("c_r"),
            F.sum(F.col("is_t").cast("int")).cast("double").alias("c_t"),
        ),
        "selection.dsir_logweights.cnt",
    )
    tot = cnt.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    bb = float(n_buckets)
    lr = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + F.lit(bb)))
            - F.log((F.col("c_r") + F.lit(1.0)) / (F.col("n_r") + F.lit(bb)))
        ).alias("lr"),
    )
    return (
        tok.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("lr").alias("dsir_logweight"))
    )


def semdedup_cluster_stats(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(centroid_id, n, n_removed, n_kept): SemDeDup pruning census.

    Assign every vector to its nearest centroid (broadcast k rows,
    L2 argmin via row_number — no shuffle on the corpus side beyond
    the final per-cluster agg), then within each cluster mark a row
    a semantic duplicate when some LOWER-id row in the same cluster
    has cosine ≥ tau (keep-first policy, deterministic). Cosine is
    rounded before the threshold compare so the boundary is
    engine-stable. Pair volume is Σ|cluster|² — bounded by the
    cluster granularity, which is the SemDeDup design knob.
    """
    e = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "v",
            "cvec",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vid").orderBy(F.asc("d2"), F.asc("centroid_id"))
    # Both sides of the within-cluster self-join read `assign`; the
    # aliased branches defeat ReusedExchange, so persist it once —
    # the assignment (corpus × k argmin) is the expensive stage and
    # must not run twice (same discipline as dedup.py:256).
    assign = scoped_persist(
        e.crossJoin(F.broadcast(c))
        .select("vid", "v", "centroid_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "v", "centroid_id"),
        "selection.semdedup.assign",
    )
    a = assign.select(
        F.col("vid").alias("va"), F.col("v").alias("xa"), "centroid_id"
    )
    b = assign.select(
        F.col("vid").alias("vb"), F.col("v").alias("xb"), "centroid_id"
    )
    # broadcast the build side explicitly: the cluster id has only k
    # distinct values, so a shuffled join would put ALL Σ|c|² pair
    # work on ≤k tasks (and the persisted relation's cache stats can
    # push AQE off the broadcast it would otherwise pick). The probe
    # side keeps the cache's partitioning — full parallelism.
    dup_pairs = (
        a.join(F.broadcast(b), "centroid_id")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "centroid_id",
            "vb",
            F.round(cosine("xa", "xb"), round_digits).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(tau))
    )
    removed = dup_pairs.groupBy("centroid_id").agg(
        F.countDistinct("vb").alias("n_removed")
    )
    census = assign.groupBy("centroid_id").agg(F.count("*").alias("n"))
    return (
        census.join(removed, "centroid_id", "left")
        .select(
            "centroid_id",
            "n",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            (F.col("n") - F.coalesce("n_removed", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def semdedup_cluster_stats_np(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """:func:`semdedup_cluster_stats` with the within-cluster pairwise
    stage as an Arrow numpy kernel (arrow_kernels.map_groups, one call
    per cluster) — what SemDeDup itself runs (dense matmuls inside
    each cluster). Output is identical bit for bit: the Gram matrix accumulates
    dim-ordered (S += outer(M[:,d], M[:,d])), matching the
    left-to-right zip_with fold per pair (the brute_force_topk_np
    discipline), and the keep-first rule compares the same rounded
    cosine. ~10× the HOF-fold path at 2.5k-row clusters; memory is
    O(|cluster|²) per task — the cluster granularity (k ∝ n) is the
    SemDeDup design knob that bounds it."""
    import numpy as np
    from pyspark.sql import types as T

    from .arrow_kernels import map_groups
    from .similarity import _dim_ordered_dot

    e = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "v",
            "cvec",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vid").orderBy(F.asc("d2"), F.asc("centroid_id"))
    assign = (
        e.crossJoin(F.broadcast(c))
        .select("vid", "v", "centroid_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "v", "centroid_id")
    )

    out_schema = T.StructType(
        [
            T.StructField("centroid_id", emb.schema[id_col].dataType),
            T.StructField("n", T.LongType()),
            T.StructField("n_removed", T.LongType()),
            T.StructField("n_kept", T.LongType()),
        ]
    )

    def census(key, g):
        n = len(g.vid)
        M = np.array(g.v, dtype=np.float64)[np.argsort(g.vid, kind="stable")]
        nrm = np.sqrt(_dim_ordered_dot(M, M))
        S = np.zeros((n, n))
        for d in range(M.shape[1]):
            col = M[:, d]
            S += col[:, None] * col[None, :]
        cos = np.round(S / (nrm[:, None] * nrm[None, :]), round_digits)
        nr = int(np.triu(cos >= tau, k=1).any(axis=0).sum())  # a lower-id row ≥ tau
        yield key[0], n, nr, n - nr

    return map_groups(assign, ["centroid_id"], census, out_schema)


def duplicated_window_stats(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_frac): exact-substring
    duplication census (Lee et al. 2021, distributed form).

    Every length-`window` token window is a row; windows whose text
    occurs more than once corpus-wide are "duplicated"; a document's
    dup_frac is the fraction of its window positions covered by a
    duplicated window. One shuffle on the window text (the Lee et
    al. suffix-array pass re-expressed as a group-count — the only
    form that scales past one node), one on doc_id. Docs shorter
    than the window are excluded (they have no windows). Only docs
    with at least one duplicated window are returned — at corpus
    scale the clean majority would dominate the output otherwise.
    """
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    tok = docs.select(F.col(id_col), tokens(text_col).alias("w")).filter(
        F.size("w") >= window
    )
    # the window relation feeds three consumers (dup counts, per-doc
    # totals, per-doc dup counts) — persist it once instead of
    # re-deriving the explode pipeline thrice (dedup.py:256 pattern;
    # at corpus scale this is the Lee-et-al materialization cost, and
    # still far below their suffix array). Window construction via
    # word_shingles' unrolled element_at form — 1.9x the slice+concat
    # lambda on the sf10 explode stage (round-10 micro-bench).
    wins = scoped_persist(
        tok.select(
            F.col(id_col),
            F.explode(
                word_shingles(F.col("w"), n=window, distinct=False)
            ).alias("wt"),
        ),
        "selection.duplicated_window_stats.wins",
    )
    dup = (
        wins.groupBy("wt")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("wt")
    )
    nw = wins.groupBy(id_col).agg(F.count("*").alias("n_windows"))
    nd = wins.join(dup, "wt").groupBy(id_col).agg(
        F.count("*").alias("n_dup_windows")
    )
    return nw.join(nd, id_col).select(
        id_col,
        "n_windows",
        "n_dup_windows",
        F.round(
            F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
            4,
        ).alias("dup_frac"),
    )


def duplicated_token_coverage(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_covered, keep_frac): the REMOVAL half of
    exact-substring dedup (Lee et al. 2021) — interval union of the
    duplicated windows.

    Where :func:`duplicated_window_stats` counts duplicated window
    positions, this computes the distinct token positions covered by
    ANY duplicated window — exactly the span a Lee-style pass would
    cut, so keep_frac is the post-dedup retained fraction.

    Round-10 shape (measured on the sf10 decomposition,
    OPTIMIZATION_r10.md): the coverage count is an INTERVAL-UNION
    SWEEP over the dup-window start positions instead of exploding
    every window into its `window` token positions and
    count-distinct-ing them — for sorted distinct starts i₁<…<iₘ,
    |∪ₖ [iₖ, iₖ+w−1]| = w + Σₖ₌₂ min(w, iₖ−iₖ₋₁), exactly (starts are
    distinct per doc by construction). One lag window + a plain sum
    replaces an 8× row explode and a two-phase distinct aggregate
    (−30% on that stage at sf10, 0 mismatches over the full corpus).
    n_tokens is recovered from the persisted window relation
    (n_windows + w − 1) instead of re-tokenizing every document a
    second time (−1 full text scan + split).
    """
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    tok = docs.select(
        F.col(id_col), tokens(text_col).alias("w")
    ).filter(F.size("w") >= window)
    # three consumers (dup counts, coverage sweep, per-doc totals) —
    # persist the window relation once (dedup.py:256). Window
    # construction via word_shingles' unrolled element_at form — 1.9x
    # the slice+concat lambda on the sf10 explode stage.
    wins = tok.select(
        F.col(id_col),
        F.posexplode(
            word_shingles(F.col("w"), n=window, distinct=False)
        ).alias("pos", "wt"),
    ).select(F.col(id_col), (F.col("pos") + 1).alias("i"), "wt")
    wins = scoped_persist(wins, "selection.duplicated_token_coverage.wins")
    dup = (
        wins.groupBy("wt")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("wt")
    )
    hit = wins.join(dup, "wt").select(F.col(id_col), "i")
    wdoc = Window.partitionBy(id_col).orderBy("i")
    gap = F.col("i") - F.lag("i").over(wdoc)
    covered = F.when(gap.isNull(), F.lit(window)).otherwise(
        F.least(F.lit(window), gap)
    )
    agg = (
        hit.withColumn("__c", covered)
        .groupBy(id_col)
        .agg(F.sum("__c").alias("n_covered"))
    )
    nt = wins.groupBy(id_col).agg(
        (F.count(F.lit(1)) + F.lit(window - 1)).cast("bigint").alias("n_tokens")
    )
    return nt.join(agg, id_col).select(
        id_col,
        "n_tokens",
        "n_covered",
        F.round(
            F.lit(1.0)
            - F.col("n_covered").cast("double") / F.col("n_tokens").cast("double"),
            4,
        ).alias("keep_frac"),
    )


def naive_bayes_kfold(
    docs: DataFrame,
    label_pred: Column,
    n_folds: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(fold, doc_id, actual, score): every fold's holdout NB scores
    from ONE tokenization pass.

    Leave-fold-out via subtraction: per-(fold, bucket) class counts
    are aggregated once; fold f's TRAINING counts are the whole-corpus
    counts minus fold f's own — so k-fold costs two corpus scans
    total (count, score) instead of 2k, and the per-fold model is
    bit-identical to training on the complement directly (the counts
    are the same integers, hence the same Laplace llr doubles; a
    bucket unseen in fold f's training has zero counts and the
    Laplace form then EQUALS the unseen fallback, so no special
    case). Model state is k·B rows — broadcast. Folds are
    doc_id % n_folds, matching the part10 split convention.
    """
    base = docs.select(
        F.col(id_col),
        label_pred.alias("y"),
        (F.col(id_col) % n_folds).alias("fold"),
        F.col(text_col).alias("_txt"),
    )
    sc = docs.sparkSession.sparkContext
    base = base.repartition(sc.defaultParallelism, id_col)
    tok = base.select(
        F.col(id_col), "y", "fold", F.explode(tokens("_txt")).alias("w")
    ).select(F.col(id_col), "y", "fold", token_bucket("w", n_buckets).alias("b"))
    cnt_fb = scoped_persist(
        tok.groupBy("fold", "b").agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("double").alias("c1"),
            F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("double").alias("c0"),
        ),
        "selection.naive_bayes_kfold.cnt_fb",
    )
    cnt_all = cnt_fb.groupBy("b").agg(
        F.sum("c1").alias("a1"), F.sum("c0").alias("a0")
    )
    # training counts for fold f = corpus − fold f (dense over the
    # fold × seen-bucket grid so zero-count buckets still get their
    # Laplace row — which equals the unseen fallback by construction)
    folds = docs.sparkSession.range(n_folds).select(F.col("id").alias("fold"))
    dense = (
        cnt_all.crossJoin(F.broadcast(folds))
        .join(cnt_fb, ["fold", "b"], "left")
        .select(
            "fold", "b",
            (F.col("a1") - F.coalesce("c1", F.lit(0.0))).alias("t1"),
            (F.col("a0") - F.coalesce("c0", F.lit(0.0))).alias("t0"),
        )
    )
    tot = dense.groupBy("fold").agg(
        F.sum("t1").alias("n1"), F.sum("t0").alias("n0")
    )
    bb = float(n_buckets)
    llr = dense.join(tot, "fold").select(
        "fold", "b",
        (
            F.log((F.col("t1") + F.lit(1.0)) / (F.col("n1") + F.lit(bb)))
            - F.log((F.col("t0") + F.lit(1.0)) / (F.col("n0") + F.lit(bb)))
        ).alias("llr"),
    )
    unseen = tot.select(
        "fold",
        (
            F.log(F.lit(1.0) / (F.col("n1") + F.lit(bb)))
            - F.log(F.lit(1.0) / (F.col("n0") + F.lit(bb)))
        ).alias("unseen_llr"),
    )
    docs_fy = base.groupBy("fold").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("double").alias("d1"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("double").alias("d0"),
    )
    docs_tot = docs_fy.agg(F.sum("d1").alias("t1"), F.sum("d0").alias("t0"))
    prior = docs_fy.crossJoin(F.broadcast(docs_tot)).select(
        "fold",
        F.log(
            (F.col("t1") - F.col("d1")) / (F.col("t0") - F.col("d0"))
        ).alias("log_prior"),
    )
    scored = (
        tok.join(F.broadcast(llr), ["fold", "b"], "left")
        .join(F.broadcast(unseen), "fold")
        .select(
            "fold", F.col(id_col), "y",
            F.coalesce("llr", F.col("unseen_llr")).alias("t_llr"),
        )
        .groupBy("fold", id_col, "y")
        .agg(F.sum("t_llr").alias("s"))
        .join(F.broadcast(prior), "fold")
        .select(
            "fold",
            F.col(id_col),
            F.col("y").cast("int").alias("actual"),
            (F.col("s") + F.col("log_prior")).alias("score"),
        )
    )
    return scored


def naive_bayes_scores(
    docs: DataFrame,
    label_pred: Column,
    test_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, actual, n_tokens, score): multinomial NB log-odds on
    the test slice, trained on the complement.

    Per-class Laplace bucket LMs + document-count log-prior; a
    bucket unseen in training falls back to the pure-smoothing
    ratio (left join + coalesce). All model state is ≤ B rows +
    two scalars — broadcast; the corpus is scanned twice (train
    counts, test scoring), each a single shuffle.
    """
    base = docs.select(
        F.col(id_col),
        label_pred.alias("y"),
        test_pred.alias("is_test"),
        F.col(text_col).alias("_txt"),
    )
    sc = docs.sparkSession.sparkContext
    base = base.repartition(sc.defaultParallelism, id_col)
    tok = base.select(
        F.col(id_col), "y", "is_test", F.explode(tokens("_txt")).alias("w")
    ).select(F.col(id_col), "y", "is_test", token_bucket("w", n_buckets).alias("b"))
    train = tok.filter(~F.col("is_test"))
    # the ≤B-row count table feeds llr + totals + unseen fallback;
    # persist it so the train scan runs once
    cnt = scoped_persist(
        train.groupBy("b").agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("double").alias("c1"),
            F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("double").alias("c0"),
        ),
        "selection.naive_bayes_scores.cnt",
    )
    tot = cnt.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"))
    bb = float(n_buckets)
    llr = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("c1") + F.lit(1.0)) / (F.col("n1") + F.lit(bb)))
            - F.log((F.col("c0") + F.lit(1.0)) / (F.col("n0") + F.lit(bb)))
        ).alias("llr"),
        (F.log(F.lit(1.0) / (F.col("n1") + F.lit(bb))) - F.log(F.lit(1.0) / (F.col("n0") + F.lit(bb)))).alias("_unseen"),
    )
    prior = base.filter(~F.col("is_test")).agg(
        F.log(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("y"), 0).otherwise(1)).cast("double")
        ).alias("log_prior")
    )
    # the unseen-bucket fallback is a scalar; carry it via the totals
    unseen = tot.select(
        (
            F.log(F.lit(1.0) / (F.col("n1") + F.lit(bb)))
            - F.log(F.lit(1.0) / (F.col("n0") + F.lit(bb)))
        ).alias("unseen_llr")
    )
    test = (
        tok.filter(F.col("is_test"))
        .join(F.broadcast(llr.select("b", "llr")), "b", "left")
        .crossJoin(F.broadcast(unseen))
        .select(
            F.col(id_col),
            "y",
            F.coalesce("llr", F.col("unseen_llr")).alias("t_llr"),
        )
    )
    return (
        test.groupBy(id_col, "y")
        .agg(F.count("*").alias("n_tokens"), F.sum("t_llr").alias("s"))
        .crossJoin(F.broadcast(prior))
        .select(
            F.col(id_col),
            F.col("y").cast("int").alias("actual"),
            "n_tokens",
            (F.col("s") + F.col("log_prior")).alias("score"),
        )
    )


def trigram_xent(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, n_trigrams, xent_nats): CCNet-shaped LM scoring.

    A per-language character-trigram LM (Laplace-smoothed, vocab =
    observed target trigrams + 1 unseen slot) is trained on the
    target slice; every document is scored with its language's LM:
    cross-entropy = -mean log p over trigram occurrences. The LM is
    |langs| × observed-trigram rows — broadcast; scoring is one
    map-side join + one doc_id agg. Docs shorter than 3 chars are
    excluded (no trigrams). CCNet buckets these into head/middle/
    tail per language downstream — see the catalog query.
    """
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    t = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        target_pred.alias("is_t"),
        F.lower(F.trim(F.col(text_col))).alias("s"),
    ).filter(F.length("s") >= 3)
    tri = t.select(
        F.col(id_col),
        "lang",
        "is_t",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
        ).alias("tri"),
    )
    # the LM feeds logp + per-lang totals + the unseen fallback —
    # persist the (broadcast-scale) aggregate so the trigram explode
    # runs exactly twice: once to train, once to score
    lm = scoped_persist(
        tri.filter("is_t").groupBy("lang", "tri").agg(
            F.count("*").cast("double").alias("c")
        ),
        "selection.trigram_xent.lm",
    )
    nv = lm.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count("*").cast("double").alias("v")
    )
    logp = lm.join(nv, "lang").select(
        "lang",
        "tri",
        F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v") + F.lit(1.0))).alias(
            "lp"
        ),
    )
    unseen = nv.select(
        "lang",
        F.log(F.lit(1.0) / (F.col("n") + F.col("v") + F.lit(1.0))).alias("lp_unseen"),
    )
    scored = (
        tri.join(F.broadcast(logp), ["lang", "tri"], "left")
        .join(F.broadcast(unseen), "lang")
        .select(F.col(id_col), "lang", F.coalesce("lp", F.col("lp_unseen")).alias("lp"))
    )
    return scored.groupBy(id_col, "lang").agg(
        F.count("*").alias("n_trigrams"),
        (-F.sum("lp") / F.count("*").cast("double")).alias("xent_nats"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """(query_id, rank, vec_id, cosine_sim): hard-negative mining for
    contrastive training — per query, the k most-similar corpus
    vectors with a DIFFERENT label (similar-but-wrong examples, the
    ones that sharpen an embedding model).

    Same plan as brute-force top-k (broadcast query side, one corpus
    scan, windowed top-k on the rounded score) with the label
    anti-predicate applied BEFORE ranking — a post-filtered top-k
    would under-fill; this is why it's its own operator."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlabel"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("cv"), F.col(label_col)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("qlabel"))
        .select(
            "query_id",
            id_col,
            F.round(cosine("qv", "cv"), round_digits).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine_sim")
    )


def hard_negatives_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """:func:`hard_negatives` with the scoring kernel in Arrow-batched
    numpy — same output bit for bit: it is similarity.brute_force_topk_np's
    dim-ordered cosine scorer plus a per-query label mask, applied
    inside the kernel against the driver-held query label vector,
    before ranking."""
    from .similarity import _cosine_topk_np

    return _cosine_topk_np(corpus, queries, k, id_col, vec_col, round_digits, label_col)


def soft_dedup_weights(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_size, weight): soft dedup — every exact-dup
    cluster's copies get weight 1/size, so each distinct text
    contributes exactly one effective document. One shuffle on the
    md5 fingerprint, one broadcast-scale join back.
    """
    fp = docs.select(
        F.col(id_col), F.md5(F.lower(F.trim(F.col(text_col))).cast("binary")).alias("fp")
    )
    sz = fp.groupBy("fp").agg(F.count("*").alias("cluster_size"))
    return fp.join(sz, "fp").select(
        id_col,
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("weight"),
    )


def gopher_repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, appendix A1.1):
    per-document n-gram repetition mass over word n-grams.

    For each ``n`` in ``top_ns``: ``top{n}_frac`` = occurrence mass of
    the single heaviest n-gram (count x its character length) over the
    document's character count. For each ``n`` in ``dup_ns``:
    ``dup{n}_frac`` = total occurrence mass of every n-gram that
    occurs >= 2 times in the document. "Occurrence mass" counts each
    occurrence's characters independently (overlaps are not merged) —
    the standard distributed simplification of the paper's
    character-coverage rule; thresholds below are calibrated to it.

    Shape at corpus scale: one explode (after the
    repartition-before-explode discipline — byte-based scan splits
    under-parallelize compute-amplifying stages), then three
    aggregations all keyed by doc_id prefixes, so the partial aggs
    are map-side and no key ever exceeds one document's n-gram set.
    """
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    base = docs.select(
        F.col(id_col),
        F.length(F.trim(F.col(text_col))).alias("total_chars"),
        tokens(text_col).alias("w"),
    ).filter(F.col("total_chars") > 0)
    arrs = ", ".join(
        f"CASE WHEN size(w) >= {n} THEN transform(sequence(1, size(w) - {n - 1}),"
        f" i -> named_struct('n', {n}, 'g', concat_ws(' ', slice(w, i, {n}))))"
        f" ELSE array() END"
        for n in (*top_ns, *dup_ns)
    )
    grams = base.select(
        F.col(id_col), F.explode(F.expr(f"flatten(array({arrs}))")).alias("ng")
    ).select(id_col, F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    cnt = grams.groupBy(id_col, "n", "g").agg(F.count("*").alias("c"))
    cov = cnt.groupBy(id_col, "n").agg(
        F.max(F.col("c") * F.length("g")).alias("top_cov"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup_cov"),
    )
    aggs = [
        F.max(F.when(F.col("n") == n, F.col("top_cov"))).alias(f"top{n}_cov")
        for n in top_ns
    ] + [
        F.max(F.when(F.col("n") == n, F.col("dup_cov"))).alias(f"dup{n}_cov")
        for n in dup_ns
    ]
    piv = cov.groupBy(id_col).agg(*aggs)
    out = base.select(id_col, "total_chars").join(piv, id_col, "left")
    cols = [F.col(id_col), F.col("total_chars").cast("int").alias("total_chars")]
    cols += [
        F.round(
            F.coalesce(F.col(f"top{n}_cov"), F.lit(0)).cast("double")
            / F.col("total_chars"),
            6,
        ).alias(f"top{n}_frac")
        for n in top_ns
    ]
    cols += [
        F.round(
            F.coalesce(F.col(f"dup{n}_cov"), F.lit(0)).cast("double")
            / F.col("total_chars"),
            6,
        ).alias(f"dup{n}_frac")
        for n in dup_ns
    ]
    return out.select(*cols)


def dup_segment_stats(
    docs: DataFrame,
    seg_len: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate-"line" census — the Gopher
    duplicate-line / duplicate-paragraph fraction family (Rae et al.
    2021 A1.1), with the document segmented into NON-overlapping
    ``seg_len``-token chunks (this corpus carries no newlines, so the
    segmenter is positional; with real lines, substitute
    split(text, '\\n') for the chunker — the census is unchanged).

    Returns (doc_id, n_segments, dup_segments, dup_seg_frac,
    dup_char_frac): the fraction of segments that are copies of an
    earlier-or-later identical segment IN THE SAME DOCUMENT, by count
    and by character mass. All keys are doc_id-prefixed: the explode
    and both aggregations partial-combine map-side, nothing shuffles
    on raw segment text corpus-wide (contrast
    :func:`duplicated_window_stats`, the cross-corpus form).
    """
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    base = docs.select(F.col(id_col), tokens(text_col).alias("w")).filter(
        F.size("w") >= seg_len
    )
    segs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) div {seg_len}),"
                f" i -> concat_ws(' ', slice(w, (i - 1) * {seg_len} + 1, {seg_len})))"
            )
        ).alias("seg"),
    )
    cnt = segs.groupBy(id_col, "seg").agg(F.count("*").alias("c"))
    return (
        cnt.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_segments"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "dup_segments"
            ),
            F.sum(F.col("c") * F.length("seg")).alias("seg_chars"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("seg")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_chars"),
        )
        .select(
            F.col(id_col),
            F.col("n_segments").cast("int").alias("n_segments"),
            F.col("dup_segments").cast("int").alias("dup_segments"),
            F.round(
                F.col("dup_segments").cast("double") / F.col("n_segments"), 6
            ).alias("dup_seg_frac"),
            F.round(F.col("dup_chars").cast("double") / F.col("seg_chars"), 6).alias(
                "dup_char_frac"
            ),
        )
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): learn the top
    ``n_merges`` byte-pair merges over the corpus word-frequency
    table. Returns (merge_rank, lhs, rhs, pair_count) — the ordered
    merge table a tokenizer serializes.

    Distributed shape: the STATE is vocabulary-sized (one row per
    distinct word, symbols as an array column), never corpus-sized —
    the corpus is touched once for the word count. Each round is one
    pair-explode + grouped sum over the vocab, a 1-row collect of the
    argmax pair (the k-means-centroid idiom: driver holds only the
    scalar decision), and a map-side greedy fold that applies the
    merge left-to-right non-overlapping inside each word's symbol
    array (``aggregate`` replaces the array tail, so 'aaaa' under
    (a,a) becomes [aa,aa], not [aa,a,a]). `materialize` per round
    keeps the plan depth O(1) in the merge count
    (operators/iterate.py discipline).

    Ties are broken (count DESC, lhs ASC, rhs ASC) so the trajectory
    is deterministic and engine-replayable; the oracle replays every
    round with window functions (greedy = every other candidate
    within each run of overlapping match positions).
    """
    merges, _ = _bpe_train(docs, n_merges, text_col, id_col)
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_train(
    docs: DataFrame, n_merges: int, text_col: str, id_col: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared trainer: returns (merge list, final vocab state
    (word, cnt, syms)) — see :func:`bpe_merges` for the design."""
    from .iterate import materialize

    spark = docs.sparkSession
    sc = spark.sparkContext
    docs = docs.repartition(sc.defaultParallelism, id_col)
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    state = materialize(
        words.select(
            "word", "cnt", F.expr("concat(split(word, ''), array('</w>'))").alias("syms")
        )
    )

    def quote(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    merges: list[tuple[int, str, str, int]] = []
    for i in range(1, n_merges + 1):
        top = (
            state.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), j ->"
                        " named_struct('l', element_at(syms, j),"
                        " 'r', element_at(syms, j + 1)))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .first()
        )
        if top is None:
            break
        l, r, c = top["l"], top["r"], int(top["c"])
        merges.append((i, l, r, c))
        lq, rq, lrq = quote(l), quote(r), quote(l + r)
        state = materialize(
            state.select(
                "word",
                "cnt",
                F.expr(
                    f"aggregate(syms, cast(array() as array<string>), (acc, s) ->"
                    f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {lq}"
                    f" AND s = {rq}"
                    f" THEN concat(slice(acc, 1, size(acc) - 1), array({lrq}))"
                    f" ELSE concat(acc, array(s)) END)"
                ).alias("syms"),
            )
        )
    return merges, state


def bpe_token_stats(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a freshly trained BPE (serve what
    :func:`bpe_merges` learns): per-document whitespace-word count,
    BPE token count, and fertility (BPE tokens per word, including
    the </w> terminal — the figure tokenizer papers report).

    The trained vocab state already holds every word's final symbol
    count, so serving is a broadcast join of the vocabulary-sized
    (word → n_sym) table onto the exploded corpus — the corpus
    itself is never re-segmented. At 100 TB the vocab table is the
    only state that moves.
    """
    merges, state = _bpe_train(docs, n_merges, text_col, id_col)
    wlen = state.select("word", F.size("syms").alias("n_sym"))
    dw = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    return (
        dw.join(F.broadcast(wlen), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_sym").cast("int").alias("n_bpe_tokens"),
        )
        .select(
            F.col(id_col),
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
    )


# Published Gopher removal thresholds (Rae et al. 2021 table A1),
# ordered — filters report the FIRST violated rule. Shared by the
# batch catalog query (plans/catalog/part11) and the streaming gate
# (streaming/documents.py) so both tiers apply the identical policy.
GOPHER_THRESHOLDS: tuple[tuple[str, float], ...] = (
    ("top2_frac", 0.20),
    ("top3_frac", 0.18),
    ("top4_frac", 0.16),
    ("dup5_frac", 0.15),
    ("dup6_frac", 0.14),
    ("dup7_frac", 0.13),
    ("dup8_frac", 0.12),
    ("dup9_frac", 0.11),
    ("dup10_frac", 0.10),
)


def gopher_reject_reason(stats_cols=GOPHER_THRESHOLDS) -> Column:
    """First-violated-rule column over a gopher_repetition_stats
    relation ('kept' when every rule passes). Thresholds compare the
    ROUNDED stats so every engine/tier gates the same IEEE values."""
    chain = None
    for col, thr in stats_cols:
        cond = F.col(col) > F.lit(thr)
        chain = F.when(cond, F.lit(col)) if chain is None else chain.when(cond, F.lit(col))
    return chain.otherwise(F.lit("kept"))


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (SentencePiece-style Viterbi-EM)
# ---------------------------------------------------------------------------


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _viterbi_pieces_expr(word_col: str, logp: dict[str, float], max_piece: int) -> str:
    """SQL expression: Viterbi segmentation of `word_col` under the
    unigram LM `logp` (embedded as a map literal) → ARRAY<STRING> of
    pieces, NULL when the word is unsegmentable (a character outside
    the vocab).

    DP fold over positions 1..n carrying best[0..i] as an array of
    (score, path) structs; candidates are the ≤ `max_piece` unrolled
    piece lengths ending at i, each scored best[i-k] + logp(piece).
    argmax = array_max over (s, k, …) structs — lexicographic, so
    equal scores break toward the LONGER piece, the same (score, k)
    tuple order as the Python/oracle replays. Scores are sums of the
    same ROUNDED logp literals in the same DP order in every engine,
    so the floats — and therefore the argmax — are bit-identical."""
    entries = ", ".join(
        f"{_sql_quote(p)}, cast({lp!r} as double)" for p, lp in sorted(logp.items())
    )
    neg = "cast(-1e18 as double)"
    cands = ", ".join(
        f"""IF(i >= {k},
             named_struct(
               's', element_at(acc, i - {k} + 1).s
                    + coalesce(element_at(map({entries}),
                               substring({word_col}, i - {k} + 1, {k})), {neg}),
               'k', {k},
               'p', concat(element_at(acc, i - {k} + 1).p,
                           array(substring({word_col}, i - {k} + 1, {k})))),
             named_struct('s', {neg} * 4, 'k', 0,
                          'p', cast(array() as array<string>)))"""
        for k in range(1, max_piece + 1)
    )
    fold = f"""aggregate(
        sequence(1, length({word_col})),
        array(named_struct('s', cast(0.0 as double), 'k', 0,
                           'p', cast(array() as array<string>))),
        (acc, i) -> concat(acc, array(array_max(array({cands})))),
        acc -> IF(element_at(acc, -1).s < cast(-1e17 as double), NULL,
                  element_at(acc, -1).p))"""
    return fold


def unigram_seed_counts(
    words: DataFrame,
    vocab_size: int = 24,
    max_piece: int = 4,
) -> DataFrame:
    """Seed vocabulary for unigram-LM training: substring occurrence
    counts (weighted by word frequency) over a (word, cnt) table —
    EVERY single character (full segmentation coverage) plus the top
    (vocab_size − |charset|) multi-character substrings by
    (count DESC, piece ASC). Returns (piece, seed_cnt).

    Distributed shape: the substring explode runs over the DISTINCT-
    word relation (vocab-sized, like the BPE trainer's state), never
    the corpus."""
    subs = words.select(
        "cnt",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), i ->
                     transform(sequence(1, least({max_piece}, length(word) - i + 1)),
                               L -> substring(word, i, L))))"""
            )
        ).alias("piece"),
    ).groupBy("piece").agg(F.sum("cnt").alias("seed_cnt"))
    chars = subs.filter(F.length("piece") == 1)
    n_chars = chars.count()
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("seed_cnt"), F.asc("piece"))
        .limit(max(0, vocab_size - n_chars))
    )
    return chars.unionByName(multi)


def unigram_words(
    docs: DataFrame, text_col: str = "text", max_word_len: int = 12
) -> DataFrame:
    """(word, cnt) training table: lowercased alphanumeric words of
    length 2..max_word_len (the BPE trainer's normalization, and the
    standard SentencePiece word-length cap) — one corpus pass."""
    return (
        docs.select(
            F.explode(F.split(F.lower(text_col), "[^a-z0-9]+")).alias("word")
        )
        .filter((F.length("word") >= 2) & (F.length("word") <= max_word_len))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def unigram_em_pieces(
    words: DataFrame,
    vocab_size: int = 24,
    n_iters: int = 2,
    max_piece: int = 4,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018),
    the probabilistic sibling of :func:`bpe_merges`: seed a substring
    vocabulary, then run `n_iters` rounds of Viterbi-EM — E-step
    segments every distinct word under the current piece log-probs
    (native-SQL DP, see `_viterbi_pieces_expr`); M-step re-estimates
    add-one-smoothed probabilities from the weighted piece counts.
    Returns (piece, em_cnt, logp) — the trained tokenizer table.

    Distributed shape: the corpus is read once (word count); every EM
    round is one DP projection + explode + grouped sum over the
    DISTINCT-WORD relation, with the vocab shipped as a ~vocab_size
    map literal (the k-means-centroid idiom — only metadata-scale
    state ever reaches the driver). At 100 TB the word table is the
    only shuffled relation and it is Zipf-bounded, not corpus-bounded.

    Determinism contract (oracle-replayable): logps are ROUNDED to 9
    decimals before entering the DP, every candidate score is the same
    rounded-literal sum in the same order in both engines, and argmax
    ties break (score, piece-length) lexicographically — so the whole
    EM trajectory replays bit-identically in the recursive-CTE oracle.
    Smoothing keeps every vocab entry alive across rounds (log(c+1)),
    mirroring SentencePiece's no-zero-prob invariant."""
    import math

    from .iterate import scoped_persist

    spark = words.sparkSession
    words = scoped_persist(words, "selection.unigram_em.words")
    seed = unigram_seed_counts(words, vocab_size, max_piece).collect()
    if not seed:  # empty corpus: an empty tokenizer, not a log(0) crash
        return spark.createDataFrame(
            [], "piece string, em_cnt bigint, logp double"
        )
    vocab = sorted(r.piece for r in seed)
    cnts = {r.piece: int(r.seed_cnt) for r in seed}

    def round9(x: float) -> float:
        return float(f"{x:.9f}")

    def to_logp(c: dict[str, int]) -> dict[str, float]:
        tot = sum(c.values())
        return {
            p: round9(math.log(c[p] + 1) - math.log(tot + len(vocab)))
            for p in vocab
        }

    logp = to_logp(cnts)
    em_rows: list = []
    for _ in range(n_iters):
        em_rows = (
            words.select(
                "cnt",
                F.explode(
                    F.expr(_viterbi_pieces_expr("word", logp, max_piece))
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("em_cnt"))
            .collect()
        )
        got = {r.piece: int(r.em_cnt) for r in em_rows}
        cnts = {p: got.get(p, 0) for p in vocab}
        logp = to_logp(cnts)

    return spark.createDataFrame(
        [(p, cnts[p], logp[p]) for p in vocab],
        "piece string, em_cnt bigint, logp double",
    )


def unigram_token_stats(
    docs: DataFrame,
    vocab_size: int = 24,
    n_iters: int = 2,
    max_piece: int = 4,
    max_word_len: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serve a freshly trained unigram-LM tokenizer (the
    :func:`bpe_token_stats` sibling): per-document word count, piece
    count under Viterbi segmentation with the FINAL EM log-probs, and
    fertility (pieces per word). Words outside the 2..max_word_len
    training band count one piece per character (the untrained-word
    fallback, applied identically in the oracle).

    The trained (word → n_pieces) table is vocab-sized, so serving is
    a broadcast join onto the exploded corpus — the corpus is never
    re-segmented row by row."""
    import math

    words = unigram_words(docs, text_col, max_word_len)
    trained = unigram_em_pieces(words, vocab_size, n_iters, max_piece)
    logp = {r.piece: r.logp for r in trained.collect()}
    wlen = words.select(
        "word",
        F.size(
            F.expr(_viterbi_pieces_expr("word", logp, max_piece))
        ).alias("n_pieces"),
    )
    dw = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(text_col), "[^a-z0-9]+")).alias("word"),
    ).filter(F.length("word") >= 1)
    joined = dw.join(F.broadcast(wlen), "word", "left").select(
        id_col,
        F.coalesce("n_pieces", F.length("word")).alias("n_pieces"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum("n_pieces").cast("int").alias("n_unigram_pieces"),
        )
        .select(
            F.col(id_col),
            "n_words",
            "n_unigram_pieces",
            F.round(
                F.col("n_unigram_pieces").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
        )
    )

"""Catalog part 10 — training-data selection tier.

Paper-anchored operators a 100 TB LLM-corpus pipeline runs after
dedup: DSIR importance resampling (Xie et al. 2023), SemDeDup
(Abbas et al. 2023), exact-substring duplication stats (Lee et
al. 2021), a Naive-Bayes quality classifier (the closed-form
stand-in for fastText-style filters), CCNet-shaped per-language
perplexity bucketing (Wenzek et al. 2020), and soft-dedup
reweighting. All builders delegate to operators/selection.py;
every oracle replays the exact arithmetic in DuckDB (md5-nibble
feature hashing, Laplace-smoothed bucket LMs, rounded-before-
compare thresholds)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...operators import selection as SEL
from ._shared import _t, canon_round, register

# Deterministic "curated slice" proxy for target-distribution
# operators: four named sources. An explicit IN list — 'src10'
# sorts between 'src1' and 'src2', so range predicates on the
# source string would silently include it.
_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_TARGET_SQL = "source IN ('src0','src1','src2','src3')"

# md5-nibble feature hash (operators/dedup.py:275 discipline):
# bucket = (nib1*16 + nib2) % 64, reproducible in any engine.
_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)) % 64"
)

_TOK_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _target_pred():
    return F.col("source").isin(*_TARGET_SOURCES)


@register(
    "dsir_importance_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOK_SQL}) AS w FROM documents
    ),
    bk AS (
      SELECT doc_id, source, {_BUCKET_SQL} AS b FROM tok
    ),
    cnt AS (
      SELECT b, count(*)::DOUBLE AS c_r,
             sum(CASE WHEN {_TARGET_SQL} THEN 1 ELSE 0 END)::DOUBLE AS c_t
      FROM bk GROUP BY b
    ),
    tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM cnt),
    lr AS (
      SELECT b, ln((c_t + 1.0) / (n_t + 64.0)) - ln((c_r + 1.0) / (n_r + 64.0)) AS lr
      FROM cnt CROSS JOIN tot
    ),
    docw AS (
      SELECT bk.doc_id, count(*) AS n_tokens,
             (round(sum(lr.lr), 6) + 0.0) AS dsir_weight
      FROM bk JOIN lr USING (b)
      GROUP BY bk.doc_id
    )
    SELECT doc_id, n_tokens, dsir_weight, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY dsir_weight DESC, doc_id ASC) AS rank
      FROM docw
    ) WHERE rank <= 50
    """,
    tags=("selection", "documents"),
)
def q_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): hashed-unigram bucket LMs for the
    curated slice vs the raw corpus; per-doc log importance weight
    = Σ log(p_target/p_raw); top-50 resample candidates. The bucket
    LM is 64 rows broadcast back — the per-token join is map-side;
    the top-k is sort+limit (TakeOrderedAndProject), not a global
    window."""
    d = _t(spark, sf_dir, "documents")
    w = SEL.dsir_logweights(d, _target_pred())
    ww = w.select(
        "doc_id",
        "n_tokens",
        canon_round(F.col("dsir_logweight"), 6).alias("dsir_weight"),
    )
    from ...operators.rank import global_ranked

    top = ww.orderBy(F.desc("dsir_weight"), F.asc("doc_id")).limit(50)
    return global_ranked(
        top, [("dsir_weight", "desc"), "doc_id"], row_number="irank"
    ).select(
        "doc_id", "n_tokens", "dsir_weight", F.col("irank").cast("int").alias("rank")
    )


_COS_XY_SQL = """
      list_sum(list_transform(generate_series(1, 64),
               i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))))
"""


@register(
    "semdedup_prune_census",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id < 8
    ),
    assign AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, 64),
                   i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                      * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))) ASC,
                 c.centroid_id ASC
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cl AS (SELECT vec_id, centroid_id FROM assign WHERE rn = 1),
    pairs AS (
      SELECT a.centroid_id, b.vec_id AS vb,
             round({_COS_XY_SQL}, 6) AS cos
      FROM cl a JOIN cl b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      JOIN embeddings x ON x.vec_id = a.vec_id
      JOIN embeddings y ON y.vec_id = b.vec_id
    ),
    removed AS (
      SELECT centroid_id, count(DISTINCT vb) AS n_removed
      FROM pairs WHERE cos >= 0.30 GROUP BY centroid_id
    ),
    census AS (SELECT centroid_id, count(*) AS n FROM cl GROUP BY centroid_id)
    SELECT census.centroid_id, census.n,
           CAST(coalesce(removed.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(census.n - coalesce(removed.n_removed, 0) AS BIGINT) AS n_kept
    FROM census LEFT JOIN removed USING (centroid_id)
    """,
    tags=("selection", "similarity"),
)
def q_semdedup_prune_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every embedding to its
    nearest of 8 deterministic centroids (corpus rows 0-7, the
    ann_ivf_topk trick that keeps the oracle SQL-replayable), then
    within each cluster remove rows whose cosine to a lower-id row
    is ≥ 0.30 (rounded-before-compare, keep-first policy). The pair
    stage runs as SemDeDup itself does — a dense numpy kernel per
    cluster (arrow_kernels.map_groups, dim-ordered Gram accumulation,
    bit-identical to the HOF-fold path and equality test-pinned);
    pair volume is Σ|cluster|² — the cluster-granularity design
    knob that bounds per-task memory; centroids are broadcast."""
    e = _t(spark, sf_dir, "embeddings")
    return SEL.semdedup_cluster_stats_np(
        e, e.filter(F.col("vec_id") < 8), tau=0.30
    )


@register(
    "exact_substring_dup_stats",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS w FROM documents
    ),
    wins AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 7),
               i -> array_to_string(w[i:i+7], ' '))) AS wt
      FROM tok WHERE len(w) >= 8
    ),
    dup AS (SELECT wt FROM wins GROUP BY wt HAVING count(*) > 1),
    nw AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY doc_id),
    nd AS (
      SELECT doc_id, count(*) AS n_dup_windows
      FROM wins JOIN dup USING (wt) GROUP BY doc_id
    )
    SELECT nw.doc_id, nw.n_windows, nd.n_dup_windows,
           round(nd.n_dup_windows::DOUBLE / nw.n_windows::DOUBLE, 4) AS dup_frac
    FROM nw JOIN nd USING (doc_id)
    """,
    tags=("selection", "dedup"),
)
def q_exact_substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication census (Lee et al. 2021): every
    8-token window is a row; windows occurring >1× corpus-wide are
    duplicated; per-doc dup_frac = duplicated window positions /
    total. The suffix-array pass of the paper re-expressed as the
    only form that scales past one node: a group-count shuffle on
    the window text (same key distribution as the MinHash shingle
    stage)."""
    d = _t(spark, sf_dir, "documents")
    return SEL.duplicated_window_stats(d, window=8)


@register(
    "exact_substring_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK_SQL} AS w FROM documents
    ),
    tl AS (SELECT doc_id, w, len(w) AS n_tokens FROM tok WHERE len(w) >= 8),
    wins AS (
      SELECT doc_id, u.i AS i, u.wt AS wt
      FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 7),
                 i -> struct_pack(i := i, wt := array_to_string(w[i:i+7], ' ')))) AS u
        FROM tl
      )
    ),
    dup AS (SELECT wt FROM wins GROUP BY wt HAVING count(*) > 1),
    cov AS (
      SELECT w.doc_id, unnest(generate_series(w.i, w.i + 7)) AS p
      FROM wins w JOIN dup USING (wt)
    ),
    agg AS (SELECT doc_id, count(DISTINCT p) AS n_covered FROM cov GROUP BY doc_id)
    SELECT tl.doc_id, tl.n_tokens, agg.n_covered,
           round(1.0 - agg.n_covered::DOUBLE / tl.n_tokens::DOUBLE, 4) AS keep_frac
    FROM tl JOIN agg USING (doc_id)
    """,
    tags=("selection", "dedup"),
)
def q_exact_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2021):
    interval union of duplicated 8-token windows per document —
    n_covered is the distinct token positions a Lee-style pass would
    cut, keep_frac the retained fraction. One shuffle on window
    text, one bounded explode (window × span), one doc agg."""
    d = _t(spark, sf_dir, "documents")
    return SEL.duplicated_token_coverage(d, window=8)


@register(
    "naive_bayes_lang_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, (lang = 'en') AS y, (doc_id % 5 = 0) AS is_test, text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, y, is_test, unnest({_TOK_SQL}) AS w FROM base
    ),
    bk AS (
      SELECT doc_id, y, is_test, {_BUCKET_SQL} AS b FROM tok
    ),
    cnt AS (
      SELECT b, sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE AS c1,
             sum(CASE WHEN y THEN 0 ELSE 1 END)::DOUBLE AS c0
      FROM bk WHERE NOT is_test GROUP BY b
    ),
    tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0 FROM cnt),
    llr AS (
      SELECT b, ln((c1 + 1.0) / (n1 + 64.0)) - ln((c0 + 1.0) / (n0 + 64.0)) AS llr
      FROM cnt CROSS JOIN tot
    ),
    unseen AS (
      SELECT ln(1.0 / (n1 + 64.0)) - ln(1.0 / (n0 + 64.0)) AS unseen_llr FROM tot
    ),
    prior AS (
      SELECT ln(sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE
              / sum(CASE WHEN y THEN 0 ELSE 1 END)::DOUBLE) AS log_prior
      FROM base WHERE NOT is_test
    ),
    scored AS (
      SELECT bk.doc_id, bk.y, coalesce(llr.llr, u.unseen_llr) AS t_llr
      FROM bk LEFT JOIN llr USING (b) CROSS JOIN unseen u
      WHERE bk.is_test
    ),
    agg AS (
      SELECT doc_id, y, count(*) AS n_tokens, sum(t_llr) AS s
      FROM scored GROUP BY doc_id, y
    )
    SELECT a.doc_id, CAST(a.y AS INT) AS actual, a.n_tokens,
           (round(a.s + p.log_prior, 6) + 0.0) AS nb_log_odds,
           CAST((round(a.s + p.log_prior, 6) + 0.0) > 0 AS INT) AS pred
    FROM agg a CROSS JOIN prior p
    """,
    tags=("selection", "documents"),
)
def q_naive_bayes_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over md5-hashed token buckets — the
    closed-form stand-in for fastText-style quality classifiers
    (GPT-3/LLaMA pipeline filters). Deterministic train/test split
    (doc_id % 5), Laplace bucket LMs + document log-prior; unseen
    buckets fall back to the pure-smoothing ratio. Model state is
    64 rows + two scalars — broadcast; two corpus scans total."""
    d = _t(spark, sf_dir, "documents")
    s = SEL.naive_bayes_scores(
        d,
        label_pred=F.col("lang") == F.lit("en"),
        test_pred=F.col("doc_id") % 5 == 0,
    )
    odds = canon_round(F.col("score"), 6)
    return s.select(
        "doc_id",
        "actual",
        "n_tokens",
        odds.alias("nb_log_odds"),
        (odds > F.lit(0.0)).cast("int").alias("pred"),
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, ({_TARGET_SQL}) AS is_t, lower(trim(text)) AS s
      FROM documents WHERE length(lower(trim(text))) >= 3
    ),
    tri AS (
      SELECT doc_id, lang, is_t,
             unnest(list_transform(generate_series(1, length(s) - 2),
                    i -> substr(s, i, 3))) AS tg
      FROM t
    ),
    lm AS (
      SELECT lang, tg, count(*)::DOUBLE AS c FROM tri WHERE is_t GROUP BY lang, tg
    ),
    nv AS (SELECT lang, sum(c) AS n, count(*)::DOUBLE AS v FROM lm GROUP BY lang),
    logp AS (
      SELECT lm.lang, lm.tg, ln((c + 1.0) / (n + v + 1.0)) AS lp
      FROM lm JOIN nv USING (lang)
    ),
    unseen AS (SELECT lang, ln(1.0 / (n + v + 1.0)) AS lp_unseen FROM nv),
    scored AS (
      SELECT tri.doc_id, tri.lang, coalesce(logp.lp, u.lp_unseen) AS lp
      FROM tri LEFT JOIN logp ON logp.lang = tri.lang AND logp.tg = tri.tg
      JOIN unseen u ON u.lang = tri.lang
    ),
    doc AS (
      SELECT doc_id, lang, count(*) AS n_trigrams,
             (round(-sum(lp) / count(*)::DOUBLE, 6) + 0.0) AS xent_nats
      FROM scored GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_trigrams, xent_nats,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY xent_nats ASC, doc_id ASC)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM doc
    """,
    tags=("selection", "documents"),
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped filtering (Wenzek et al. 2020): a per-language
    character-trigram LM trained on the curated slice scores every
    document's cross-entropy; per-language head/middle/tail tertile
    buckets (ntile over rounded xent, doc_id tie-break). The LM is
    broadcast-scale; scoring is one map-side join + one doc agg —
    at 100 TB the ntile becomes a per-lang approx-quantile cut, the
    same plan shape."""
    d = _t(spark, sf_dir, "documents")
    x = SEL.trigram_xent(d, _target_pred())
    doc = x.select(
        "doc_id",
        "lang",
        "n_trigrams",
        canon_round(F.col("xent_nats"), 6).alias("xent_nats"),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("xent_nats"), F.asc("doc_id"))
    nt = F.ntile(3).over(w)
    bucket = (
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return doc.select("doc_id", "lang", "n_trigrams", "xent_nats", bucket.alias("bucket"))


@register(
    "selection_funnel",
    oracle=f"""
    WITH tok0 AS (
      SELECT doc_id, source, len({_TOK_SQL}) AS n_tok FROM documents
    ),
    qual AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN tok0 USING (doc_id)
      WHERE tok0.n_tok BETWEEN 20 AND 1000
    ),
    fp AS (
      SELECT doc_id, source, text, md5(lower(trim(text))) AS fp FROM qual
    ),
    keep AS (
      SELECT fp AS kfp, min(doc_id) AS keep_id FROM fp GROUP BY fp
    ),
    dedup AS (
      SELECT f.doc_id, f.source, f.text
      FROM fp f JOIN keep k ON f.fp = k.kfp AND f.doc_id = k.keep_id
    ),
    tok AS (
      SELECT doc_id, source, unnest({_TOK_SQL}) AS w FROM dedup
    ),
    bk AS (SELECT doc_id, source, {_BUCKET_SQL} AS b FROM tok),
    cnt AS (
      SELECT b, count(*)::DOUBLE AS c_r,
             sum(CASE WHEN {_TARGET_SQL} THEN 1 ELSE 0 END)::DOUBLE AS c_t
      FROM bk GROUP BY b
    ),
    tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM cnt),
    lr AS (
      SELECT b, ln((c_t + 1.0) / (n_t + 64.0)) - ln((c_r + 1.0) / (n_r + 64.0)) AS lr
      FROM cnt CROSS JOIN tot
    ),
    docw AS (
      SELECT bk.doc_id, bk.source, (round(sum(lr.lr), 6) + 0.0) AS w
      FROM bk JOIN lr USING (b) GROUP BY bk.doc_id, bk.source
    ),
    funnel AS (
      SELECT source,
             count(*) AS n_raw,
             sum(CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END)::BIGINT AS n_quality
      FROM tok0 GROUP BY source
    ),
    dd AS (SELECT source, count(*) AS n_dedup FROM dedup GROUP BY source),
    dw AS (
      SELECT source, count(*) AS n_selected, round(sum(w), 4) AS dsir_weight_sum
      FROM docw WHERE w > 0 GROUP BY source
    )
    SELECT f.source, f.n_raw, f.n_quality,
           coalesce(dd.n_dedup, 0) AS n_dedup,
           coalesce(dw.n_selected, 0) AS n_selected,
           coalesce(dw.dsir_weight_sum, 0.0) AS dsir_weight_sum
    FROM funnel f
    LEFT JOIN dd USING (source)
    LEFT JOIN dw USING (source)
    """,
    tags=("selection", "pipeline"),
)
def q_selection_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep funnel as ONE DAG: token-count quality
    gate (20-1000) → exact-dedup keep-lowest-id → DSIR bucket-LM
    weighting on the surviving corpus → per-source census of every
    stage plus the positive-weight selection mass. Each stage is a
    bounded shuffle; the LM join stays broadcast; nothing
    materializes between stages — Catalyst sees the whole funnel."""
    d = _t(spark, sf_dir, "documents")
    from ...functions.text import token_count

    base = d.select("doc_id", "source", "text", token_count("text").alias("n_tok"))
    qual = base.filter(F.col("n_tok").between(20, 1000))
    fp = qual.select(
        "doc_id",
        "source",
        "text",
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fp"),
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id")).select(
        F.col("fp").alias("kfp"), "keep_id"
    )
    dedup = fp.join(
        keep,
        (fp["fp"] == keep["kfp"]) & (fp["doc_id"] == keep["keep_id"]),
    ).select(fp["doc_id"], "source", "text")
    w = SEL.dsir_logweights(dedup, _target_pred()).join(
        dedup.select("doc_id", "source"), "doc_id"
    )
    docw = w.select(
        "doc_id", "source", canon_round(F.col("dsir_logweight"), 6).alias("w")
    )
    funnel = base.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(
            F.when(F.col("n_tok").between(20, 1000), 1).otherwise(0)
        ).alias("n_quality"),
    )
    dd = dedup.groupBy("source").agg(F.count("*").alias("n_dedup"))
    dw = (
        docw.filter(F.col("w") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_selected"),
            F.round(F.sum("w"), 4).alias("dsir_weight_sum"),
        )
    )
    return (
        funnel.join(dd, "source", "left")
        .join(dw, "source", "left")
        .select(
            "source",
            "n_raw",
            "n_quality",
            F.coalesce("n_dedup", F.lit(0)).cast("bigint").alias("n_dedup"),
            F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
            F.coalesce("dsir_weight_sum", F.lit(0.0)).alias("dsir_weight_sum"),
        )
    )


_COS_AB_SQL = """
      list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
"""


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             round({_COS_AB_SQL}, 6) AS cosine_sim
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < 10 AND b.vec_id >= 10 AND a.label <> b.label
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("selection", "similarity"),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the 5 most-similar corpus vectors with a DIFFERENT
    label — the anti-predicate applies before ranking (a
    post-filtered top-k would under-fill). Arrow/numpy scoring
    kernel (brute_force_topk_np discipline, bit-identical to the
    native fold, equality test-pinned), driver-held query matrix,
    one corpus scan, windowed top-k on the rounded score."""
    e = _t(spark, sf_dir, "embeddings")
    return SEL.hard_negatives_np(
        e.filter(F.col("vec_id") >= 10), e.filter(F.col("vec_id") < 10), k=5
    )


@register(
    "length_bucketed_batches",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len({_TOK_SQL}) AS n_tok FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tok,
             CAST(floor((row_number() OVER (ORDER BY n_tok, doc_id) - 1) / 16.0)
                  AS BIGINT) AS batch
      FROM tok
    ),
    arrival AS (
      SELECT doc_id, n_tok,
             CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 16.0)
                  AS BIGINT) AS batch
      FROM tok
    ),
    wb2 AS (
      SELECT b.batch, count(*) AS n, max(b.n_tok) AS max_tok,
             sum(b.n_tok) AS tok_sum
      FROM bucketed b GROUP BY b.batch
    ),
    wa2 AS (
      SELECT a.batch, count(*) AS n, max(a.n_tok) AS max_tok,
             sum(a.n_tok) AS tok_sum
      FROM arrival a GROUP BY a.batch
    )
    SELECT 'length_bucketed' AS strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n * max_tok - tok_sum) AS BIGINT) AS padding_waste,
           round(sum(tok_sum)::DOUBLE / sum(n * max_tok), 4) AS fill_ratio
    FROM wb2
    UNION ALL
    SELECT 'arrival_order' AS strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(n * max_tok - tok_sum) AS BIGINT) AS padding_waste,
           round(sum(tok_sum)::DOUBLE / sum(n * max_tok), 4) AS fill_ratio
    FROM wa2
    """,
    tags=("selection", "batching"),
)
def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (the padding-efficiency trick every
    transformer inference/training loader uses): sort by token count,
    cut into batches of 16, and report total padding waste + fill
    ratio against arrival-order batching on the same corpus. At
    scale the global sort becomes a range partition on the length
    key (repartitionByRange — the contiguous_ids idiom); the census
    itself is two tiny aggregates."""
    from ...functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", token_count("text").alias("n_tok"))

    def census(order_cols, name):
        w = Window.orderBy(*order_cols)
        b = tok.select(
            "n_tok",
            F.floor((F.row_number().over(w) - 1) / 16.0).cast("bigint").alias("batch"),
        )
        per = b.groupBy("batch").agg(
            F.count("*").alias("n"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("tok_sum"),
        )
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count("*").cast("bigint").alias("n_batches"),
            F.sum(F.col("n") * F.col("max_tok") - F.col("tok_sum"))
            .cast("bigint")
            .alias("padding_waste"),
            F.round(
                F.sum("tok_sum").cast("double")
                / F.sum(F.col("n") * F.col("max_tok")),
                4,
            ).alias("fill_ratio"),
        )

    return census([F.asc("n_tok"), F.asc("doc_id")], "length_bucketed").unionAll(
        census([F.asc("doc_id")], "arrival_order")
    )


def _pca_chain(iterations: int = 3) -> str:
    """Power iteration unrolled as chained CTEs (the _kmeans_chain
    discipline): per-dim mean and every normalized iterate rounded at
    6 so the trajectory is engine-portable; C·v computed as X'(Xv) in
    relational form (two grouped sums per step). Returns the
    WITH-body prefix ending at v{iterations} — the fitted direction —
    so composed oracles (whitening) can extend the same trajectory."""
    steps = []
    prev = "v0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""s{i} AS (
      SELECT c.vec_id, sum(c.x * v.v) AS s
      FROM cpts c JOIN {prev} v USING (idx) GROUP BY c.vec_id),
    w{i} AS (
      SELECT c.idx, sum(s.s * c.x) AS w
      FROM cpts c JOIN s{i} s USING (vec_id) GROUP BY c.idx),
    n{i} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{i}),
    v{i} AS (SELECT idx, round(w / nrm, 6) AS v FROM w{i} CROSS JOIN n{i})"""
        )
        prev = f"v{i}"
    chain = ",\n    ".join(steps)
    return f"""pts AS (
      SELECT vec_id, CAST(t.i AS INT) AS idx,
             CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range(1, 65) AS t(i)
      WHERE t.i <= len(embedding)),
    mu AS (SELECT idx, round(avg(val), 6) AS m FROM pts GROUP BY idx),
    cpts AS (SELECT p.vec_id, p.idx, p.val - mu.m AS x
             FROM pts p JOIN mu USING (idx)),
    v0 AS (SELECT idx, 1.0 AS v FROM mu),
    {chain}"""


def _pca_oracle(iterations: int = 3) -> str:
    return f"""
    WITH {_pca_chain(iterations)},
    sf AS (
      SELECT c.vec_id, sum(c.x * v.v) AS s
      FROM cpts c JOIN v{iterations} v USING (idx) GROUP BY c.vec_id),
    lam AS (SELECT round(sum(s * s) / (count(*) - 1), 4) AS eigenvalue FROM sf)
    SELECT v{iterations}.idx, v{iterations}.v AS loading, lam.eigenvalue
    FROM v{iterations} CROSS JOIN lam
    """


@register(
    "pca_loadings_matfree",
    oracle=_pca_oracle(3),
    tags=("selection", "iterative", "embedding"),
)
def q_pca_loadings_matfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component LOADINGS by matrix-free power
    iteration (3 steps) — the complement of pca_power_iteration
    (part05), which materializes the d×d covariance and reports only
    λ₁. Here C·v is computed as X'(Xv): one zip_with fold + one wide
    aggregate per step, corpus never moves, covariance never exists —
    the form that survives d ≫ 64 (d² covariance rows vs O(d) state),
    and the per-dim loading vector itself is the output (the
    whitening/anisotropy-removal primitive the embedding ops need).
    Direction is a driver-held dim-vector (kmeans centroid idiom);
    per-iteration rounding makes the trajectory engine-portable, so
    loadings AND the Rayleigh eigenvalue are value-checked against
    the unrolled CTE replay — exact, not rows-only."""
    from ...operators.clustering import pca_power_iteration

    e = _t(spark, sf_dir, "embeddings")
    return pca_power_iteration(e, iterations=3)


@register(
    "embedding_whitening_audit",
    oracle=f"""
    WITH {_pca_chain(3)},
    sc AS (
      SELECT c.vec_id, sum(c.x * v.v) AS s
      FROM cpts c JOIN v3 v USING (idx) GROUP BY c.vec_id),
    wh AS (
      SELECT c.vec_id, c.idx, c.x AS xc, c.x - sc.s * v.v AS xw
      FROM cpts c JOIN sc USING (vec_id) JOIN v3 v USING (idx)),
    pa AS (SELECT vec_id AS i, idx, xc, xw FROM wh WHERE vec_id < 250),
    pb AS (SELECT vec_id - 250 AS i, idx, xc AS yc, xw AS yw
           FROM wh WHERE vec_id >= 250),
    d AS (
      SELECT pa.i,
             sum(pa.xc * pb.yc) AS dc, sum(pa.xw * pb.yw) AS dw,
             sqrt(sum(pa.xc * pa.xc)) AS nca, sqrt(sum(pb.yc * pb.yc)) AS ncb,
             sqrt(sum(pa.xw * pa.xw)) AS nwa, sqrt(sum(pb.yw * pb.yw)) AS nwb
      FROM pa JOIN pb ON pa.i = pb.i AND pa.idx = pb.idx
      GROUP BY pa.i)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(dc / (nca * ncb)), 4) AS mean_cos_centered,
           round(avg(dw / (nwa * nwb)), 4) AS mean_cos_whitened,
           round(avg(dc / (nca * ncb)) - avg(dw / (nwa * nwb)), 4)
             AS isotropy_gain
    FROM d
    """,
    tags=("selection", "embedding", "iterative"),
)
def q_embedding_whitening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-Top whitening (Mu & Viswanath 2018): remove the
    fitted top principal direction (the pca_loadings_matfree
    trajectory — same unrolled oracle chain) from the centered
    embeddings and measure the isotropy gain on 250 disjoint pairs
    (the embedding_isotropy pairing). The direction is a driver-held
    broadcast literal; the projection is a zip_with fold — one
    corpus pass plus the pair join. Loadings, projection, and both
    mean cosines replay exactly cross-engine."""
    from ...operators.clustering import centered_embeddings, pca_top_component
    from ...operators.similarity import cosine

    e = _t(spark, sf_dir, "embeddings")
    v, _lam = pca_top_component(e, iterations=3)
    v_lit = F.array(*[F.lit(x) for x in v])
    cent = centered_embeddings(e)
    s = F.aggregate(
        F.zip_with("x", v_lit, lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t
    )
    proj = cent.select("vec_id", "x", s.alias("s"))
    wh = proj.select(
        "vec_id",
        "x",
        F.zip_with("x", v_lit, lambda xd, vd: xd - F.col("s") * vd).alias("xw"),
    )
    a = wh.filter(F.col("vec_id") < 250).select(
        F.col("vec_id").alias("i"), F.col("x").alias("xa"), F.col("xw").alias("wa")
    )
    b = wh.filter(F.col("vec_id") >= 250).select(
        (F.col("vec_id") - 250).alias("i"),
        F.col("x").alias("xb"),
        F.col("xw").alias("wb"),
    )
    cs = a.join(b, "i").select(
        cosine("xa", "xb").alias("cc"), cosine("wa", "wb").alias("cw")
    )
    return cs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("cc"), 4).alias("mean_cos_centered"),
        F.round(F.avg("cw"), 4).alias("mean_cos_whitened"),
        F.round(F.avg("cc") - F.avg("cw"), 4).alias("isotropy_gain"),
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ),
    v2 AS (
      -- the simulated next release: every 10th doc re-crawled with
      -- changed content, every 7th dropped, a shifted id block added
      SELECT doc_id, source,
             CASE WHEN doc_id % 10 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS fp
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, source, md5(text || ' new') AS fp
      FROM documents WHERE doc_id % 13 = 0
    ),
    j AS (
      SELECT coalesce(a.source, b.source) AS source,
             CASE WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.doc_id IS NULL THEN 'added'
                  WHEN a.fp <> b.fp THEN 'modified'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2 b USING (doc_id)
    )
    SELECT source, status, count(*) AS n
    FROM j GROUP BY source, status
    """,
    tags=("selection", "versioning"),
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diffing — the versioning op every periodically
    re-crawled training corpus needs: full outer join of two
    snapshots on doc_id, classify added/removed/modified/unchanged
    by content fingerprint, per-source census. One co-partitioned
    shuffle on doc_id; fingerprints compare without carrying text
    through the join."""
    d = _t(spark, sf_dir, "documents")
    v1 = d.select("doc_id", "source", F.md5(F.col("text").cast("binary")).alias("fp"))
    v2 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.md5(F.concat(F.col("text"), F.lit(" v2")).cast("binary")),
        )
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("fp"),
    ).unionAll(
        d.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            "source",
            F.md5(F.concat(F.col("text"), F.lit(" new")).cast("binary")).alias("fp"),
        )
    )
    a = v1.select(
        F.col("doc_id"), F.col("source").alias("src_a"), F.col("fp").alias("fp_a")
    )
    b = v2.select(
        F.col("doc_id"), F.col("source").alias("src_b"), F.col("fp").alias("fp_b")
    )
    j = a.join(b, "doc_id", "full_outer").select(
        F.coalesce("src_a", "src_b").alias("source"),
        F.when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return j.groupBy("source", "status").agg(F.count("*").alias("n"))


@register(
    "soft_dedup_effective_size",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, md5(lower(trim(text))) AS fp FROM documents
    ),
    sz AS (SELECT fp, count(*) AS cluster_size FROM fp GROUP BY fp)
    SELECT f.source, count(*) AS n_docs,
           count(DISTINCT f.fp) AS n_distinct,
           round(sum(1.0 / s.cluster_size), 4) AS effective_docs
    FROM fp f JOIN sz s USING (fp)
    GROUP BY f.source
    """,
    tags=("selection", "dedup"),
)
def q_soft_dedup_effective_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SlimPajama/D4-style reweighting): every copy in
    an exact-dup cluster weighs 1/cluster_size, so each distinct
    text contributes one effective document; per-source census of
    raw vs effective corpus size. One shuffle on the fingerprint,
    one on source."""
    d = _t(spark, sf_dir, "documents")
    w = SEL.soft_dedup_weights(d)
    fp = d.select(
        "doc_id",
        "source",
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fp"),
    )
    return (
        fp.join(w, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            F.round(F.sum("weight"), 4).alias("effective_docs"),
        )
    )

"""Catalog part 23 — quantization + retrieval-shaping extensions
(round 4).

* **int8 scalar quantization ANN** (`sq8_adc_topk`): the OTHER
  compression lever next to PQ — per-dimension affine int8 codes
  (min/step learned from the corpus), served by asymmetric distance
  against float queries. 4× smaller scans with near-exact ranking;
  the standard first step before a store commits to PQ's 64×.
* **Matryoshka prefix-dim recall** (`ann_matryoshka_recall`): recall@5
  of cosine ranking over the first 8/16/32/64 dims vs the full-dim
  exact top-5 — the curve behind truncating matryoshka-style
  embeddings for cheap first-stage retrieval.
* **MMR diversification** (`mmr_diversified_topk`): maximal marginal
  relevance — greedy top-k that trades query relevance against
  redundancy with already-picked results (Carbonell & Goldstein '98),
  the de-dup step between ANN and a training-batch/RAG context. An
  unrolled 3-step greedy trajectory, value-checked relationally like
  the k-means/BPE/ALS family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...operators.arrow_kernels import local_df
from ._shared import _t, register

_SPLIT = 5  # vec_id < 5 are queries, >= 5 the corpus (family convention)


def _pts(where: str = "") -> str:
    return f"""pts AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(t.i AS INT) AS idx,
             CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range(1, 65) AS t(i){where})"""


_SQ8_ORACLE = f"""
    WITH {_pts()},
    stats AS (
      SELECT idx, min(val) AS mn, max(val) AS mx
      FROM pts WHERE vec_id >= {_SPLIT} GROUP BY idx),
    st AS (
      SELECT idx, mn,
             CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END AS step
      FROM stats),
    codes AS (
      SELECT p.vec_id, p.idx,
             least(greatest(floor((p.val - s.mn) / s.step + 0.5), 0.0), 255.0)
               AS code
      FROM pts p JOIN st s ON s.idx = p.idx
      WHERE p.vec_id >= {_SPLIT}),
    dec AS (
      SELECT c.vec_id, c.idx, s.mn + c.code * s.step AS dval
      FROM codes c JOIN st s ON s.idx = c.idx),
    adc AS (
      SELECT q.vec_id AS query_id, d.vec_id,
             round(sum((q.val - d.dval) * (q.val - d.dval)), 6) AS adc_dist
      FROM pts q JOIN dec d ON d.idx = q.idx
      WHERE q.vec_id < {_SPLIT}
      GROUP BY q.vec_id, d.vec_id)
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adc_dist FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
      FROM adc) WHERE rank <= 5
    """


@register(
    "sq8_adc_topk",
    oracle=_SQ8_ORACLE,
    tags=("similarity", "quantization", "approx"),
)
def q_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 SCALAR quantization ANN: each dimension gets an affine
    (min, step) learned from the corpus (step = range/255), vectors
    compress to 64 code bytes (4× vs float32), and serving is
    asymmetric — the float query meets DEQUANTIZED codes, so the only
    error is the corpus rounding. floor(x + 0.5) quantization (not
    round()) keeps tie behavior identical cross-engine. The per-dim
    stats are a 64-row aggregate shipped as plan literals — at 100 TB
    the codes are written once at ingest and every scan reads 4×
    fewer bytes; the stats table is metadata."""
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    corpus = e.filter(F.col("vec_id") >= _SPLIT)
    stats = (
        corpus.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    )
    mn = [0.0] * 64
    step = [1.0] * 64
    for r in stats:
        mn[r.pos] = float(r.mn)
        step[r.pos] = (float(r.mx) - float(r.mn)) / 255.0 if r.mx > r.mn else 1.0
    mn_lit = F.array(*[F.lit(x) for x in mn])
    step_lit = F.array(*[F.lit(x) for x in step])

    # encode then immediately dequantize (asymmetric serving keeps the
    # query float): dec_d = mn_d + clamp(floor((v_d-mn_d)/step_d+.5))*step_d
    shifted = F.zip_with("v", mn_lit, lambda x, m: x - m)
    code = F.zip_with(
        shifted, step_lit,
        lambda d, s: F.least(F.greatest(F.floor(d / s + 0.5), F.lit(0.0)), F.lit(255.0)),
    )
    dec = F.zip_with(
        F.zip_with(code, step_lit, lambda c, s: c * s), mn_lit, lambda cs, m: m + cs
    )
    coded = corpus.select("vec_id", dec.alias("dec"))

    qdf = e.filter(F.col("vec_id") < _SPLIT).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dist = F.aggregate(
        F.zip_with("qv", "dec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = coded.crossJoin(F.broadcast(qdf)).select(
        "query_id", "vec_id", F.round(dist, 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )


def _prefix_cos(m: int) -> str:
    return f"""
      list_sum(list_transform(generate_series(1, {m}),
               i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(generate_series(1, {m}),
               i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(generate_series(1, {m}),
               i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))
"""


def _matryoshka_oracle(prefixes=(8, 16, 32, 64), k: int = 5) -> str:
    blocks = []
    for m in prefixes:
        blocks.append(
            f"""t{m} AS (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               round({_prefix_cos(m)}, 6) AS sim,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_prefix_cos(m)}, 6) DESC, c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < {_SPLIT} AND c.vec_id >= {_SPLIT})
      WHERE rk <= {k})"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT {m} AS prefix_dims, e.query_id, "
        f"CAST(count(p.vec_id) AS BIGINT) AS n_overlap, "
        f"round(count(p.vec_id) / {k}.0, 2) AS recall_at_{k} "
        f"FROM t64 e LEFT JOIN t{m} p "
        f"ON p.query_id = e.query_id AND p.vec_id = e.vec_id "
        f"GROUP BY e.query_id"
        for m in prefixes
    )
    return "WITH " + ",\n    ".join(blocks) + "\n    " + union


@register(
    "ann_matryoshka_recall",
    oracle=_matryoshka_oracle(),
    tags=("similarity", "eval", "embeddings"),
)
def q_ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/prefix-dimension retrieval curve: recall@5 of
    cosine ranking over the first 8/16/32/64 dims against the
    full-dim exact top-5 — the measurement behind serving truncated
    embeddings as a cheap first stage (MRL-trained models order
    information by dimension; even untrained embeddings keep useful
    recall at 2-4× truncation). One corpus scan per prefix with the
    query side broadcast; the 64-prefix branch doubles as the truth
    set, so its recall row is the 1.0 sanity anchor. (Full-dim truth
    replays relationally in the oracle; the Spark side shares the
    session-cached exact baseline.)"""
    from ._cache import exact_topk_shared

    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    corpus = e.filter(F.col("vec_id") >= _SPLIT)
    qdf = e.filter(F.col("vec_id") < _SPLIT).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    truth = exact_topk_shared(spark, sf_dir, k=5, split=_SPLIT).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("t_vec"),
    )

    def dot_prefix(a, b, m):
        pa, pb = F.slice(a, 1, m), F.slice(b, 1, m)
        prods = F.zip_with(pa, pb, lambda x, y: x * y)
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    out = None
    for m in (8, 16, 32, 64):
        sim = F.round(
            dot_prefix(F.col("qv"), F.col("v"), m)
            / (
                F.sqrt(dot_prefix(F.col("qv"), F.col("qv"), m))
                * F.sqrt(dot_prefix(F.col("v"), F.col("v"), m))
            ),
            6,
        ).alias("sim")
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
        top = (
            corpus.crossJoin(F.broadcast(qdf))
            .select("query_id", "vec_id", sim)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", F.col("vec_id").alias("p_vec"))
        )
        rec = (
            truth.join(
                top,
                (top.query_id == truth.query_id) & (top.p_vec == truth.t_vec),
                "left",
            )
            .select(truth.query_id, "p_vec")
            .groupBy("query_id")
            .agg(
                F.count("p_vec").cast("bigint").alias("n_overlap"),
                F.round(F.count("p_vec") / 5.0, 2).alias("recall_at_5"),
            )
            .select(F.lit(m).cast("int").alias("prefix_dims"), "*")
        )
        out = rec if out is None else out.unionAll(rec)
    return out


def _cos2(a: str, b: str) -> str:
    return f"""
      list_sum(list_transform(generate_series(1, 64),
               i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> {b}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE))))
"""


def _mmr_oracle(n_cand: int = 8, k: int = 3, lam: float = 0.7) -> str:
    one_minus = round(1.0 - lam, 10)
    steps = [
        f"""cand AS (
      SELECT c.vec_id, c.embedding, round({_cos2('q', 'c')}, 6) AS rel6
      FROM embeddings c CROSS JOIN (SELECT embedding FROM embeddings
                                    WHERE vec_id = 0) q
      WHERE c.vec_id >= {_SPLIT}
      ORDER BY rel6 DESC, c.vec_id LIMIT {n_cand}),
    p1 AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
             round({lam!r} * rel6, 6) AS score
      FROM cand ORDER BY round({lam!r} * rel6, 6) DESC, vec_id LIMIT 1)"""
    ]
    prev_sel = "p1"
    for i in range(2, k + 1):
        steps.append(
            f"""m{i} AS (
      SELECT CAST(r.vec_id AS BIGINT) AS vec_id, r.embedding,
             round({lam!r} * r.rel6
                   - {one_minus!r} * max(round({_cos2('r', 's')}, 6)), 6)
               AS score
      FROM cand r CROSS JOIN {prev_sel} s
      WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
      GROUP BY r.vec_id, r.embedding, r.rel6),
    p{i} AS (
      SELECT * FROM m{i} ORDER BY score DESC, vec_id LIMIT 1),
    sel{i} AS (
      SELECT vec_id, embedding FROM {prev_sel}
      UNION ALL SELECT vec_id, embedding FROM p{i})"""
        )
        prev_sel = f"sel{i}"
    picks = "\n    UNION ALL ".join(
        f"SELECT {i} AS pick_order, vec_id, score AS mmr_score FROM p{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(steps)
        + f"\n    SELECT CAST(pick_order AS INT) AS pick_order, vec_id, mmr_score"
        f" FROM ({picks}) ORDER BY pick_order"
    )


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(8, 3, 0.7),
    tags=("similarity", "retrieval", "ranking", "iterative"),
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance (Carbonell & Goldstein '98): greedy
    top-3 from the query's top-8 cosine candidates, each step scoring
    round(λ·rel − (1−λ)·max_sim_to_selected, 6) with λ=0.7 — the
    redundancy-vs-relevance dial every RAG context builder and
    batch-diversity sampler turns after ANN. The greedy is an
    unrolled 3-step trajectory (one window argmax + one broadcast
    max-sim join per step, selected vectors are k driver-held rows —
    the k-means/ALS iterative idiom), replayed exactly in chained
    CTEs. All similarities round(·,6) BEFORE combining so both
    engines walk identical argmax paths."""
    lam, one_minus = 0.7, 0.3
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    qv_row = e.filter(F.col("vec_id") == 0).select("v").collect()[0]
    qlit = F.array(*[F.lit(float(x)) for x in qv_row.v])

    def cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.sqrt(
            F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
        )
        nb = F.sqrt(
            F.aggregate(F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
        )
        return dot / (na * nb)

    # top-8 candidates via orderBy+limit → TakeOrderedAndProject (a
    # distributed partial top-k), NOT a global row_number window
    # (which would single-partition the whole corpus sort at scale)
    cand = (
        e.filter(F.col("vec_id") >= _SPLIT)
        .select("vec_id", "v", F.round(cos(F.col("v"), qlit), 6).alias("rel6"))
        .orderBy(F.desc("rel6"), F.asc("vec_id"))
        .limit(8)
        .persist()
    )
    try:
        spark_sess = cand.sparkSession
        picks: list[tuple[int, int, float, list[float]]] = []
        for i in range(1, 4):
            if not picks:
                scored = cand.select(
                    "vec_id", "v", F.round(F.lit(lam) * F.col("rel6"), 6).alias("score")
                )
            else:
                sel_df = local_df(
                    spark_sess,
                    [(vid, vec) for _o, vid, _s, vec in picks],
                    "s_id long, s_vec array<double>",
                )
                rem = cand.filter(
                    ~F.col("vec_id").isin([vid for _o, vid, _s, _v in picks])
                )
                maxsim = (
                    rem.crossJoin(F.broadcast(sel_df))
                    .select(
                        "vec_id",
                        F.round(cos(F.col("v"), F.col("s_vec")), 6).alias("s6"),
                    )
                    .groupBy("vec_id")
                    .agg(F.max("s6").alias("maxsim"))
                )
                scored = rem.join(maxsim, "vec_id").select(
                    "vec_id",
                    "v",
                    F.round(
                        F.lit(lam) * F.col("rel6") - F.lit(one_minus) * F.col("maxsim"),
                        6,
                    ).alias("score"),
                )
            top = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(1).collect()[0]
            picks.append((i, int(top.vec_id), float(top.score), list(top.v)))
    finally:
        cand.unpersist()
    return local_df(
        spark_sess,
        [(o, vid, s) for o, vid, s, _v in picks],
        "pick_order int, vec_id long, mmr_score double",
    )

"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two tiers, mirroring what a 100 TB pipeline actually runs:

- **brute force** — exact cosine top-k: broadcast the (small) query
  set, scan the corpus once, TakeOrderedAndProject per query. Cost is
  one corpus scan per batch of queries — optimal when queries are few.
- **sign-LSH bucketed** — random-hyperplane LSH (Charikar '02)
  approximated with fixed coordinate hyperplanes (deterministic, no
  RNG in the plan): bucket on the sign pattern of d selected dims,
  then search within buckets only. Bucket count 2^d bounds the join
  fan-out; the candidate shuffle replaces the O(n²) cross join.

All vector math is native `aggregate`/`zip_with` on DOUBLE — stays in
codegen, no Python — except `brute_force_topk_np`, whose dense scoring
runs as a numpy kernel over the engine's Arrow boundary
(operators/arrow_kernels.py) with the same accumulation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢbᵢ with left-to-right accumulation in double precision."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, vec_id, cosine_sim).

    The query side is broadcast (it is small by construction), so the
    corpus scans once with no shuffle; the per-query top-k is a window
    row_number — with AQE this stays one stage + one small shuffle on
    query_id. Similarity is rounded before ranking and ties break on
    candidate id, making the result total-ordered and reproducible.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col))
    sim = F.round(cosine("q_vec", vec_col), round_digits).alias("cosine_sim")
    scored = c.crossJoin(F.broadcast(q)).select("query_id", id_col, sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine_sim")
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """`brute_force_topk` with the scoring kernel in Arrow-batched
    numpy instead of codegen'd higher-order functions — same output,
    bit for bit.

    Why it exists: at sf1 (20k × 64-dim corpus, 5 queries) the
    zip_with/aggregate cosine costs ~1.5 s inside the window stage vs
    ~0.2 s for the vectorized kernel — dense linear algebra is the one
    place Arrow+numpy beats whole-stage codegen. Why it is still
    EXACT: see `_dim_ordered_dot`.

    The query side is collected to a driver-held matrix (metadata-
    scale by construction — the same broadcast-literal idiom as
    kmeans centroids) and ships to executors in the task closure.
    """
    return _cosine_topk_np(corpus, queries, k, id_col, vec_col, round_digits)


def _dim_ordered_dot(M, v):
    """Row-wise Σ_d M[:, d]·v[..., d] (`v` one vector or a matrix like
    `M`), accumulated dim by dim — vectorized ACROSS rows, sequential
    ACROSS dims — so every double matches the left-to-right
    `aggregate`/`list_sum` fold of the native path and the DuckDB
    oracle exactly; no BLAS pairwise-summation drift can leak through
    a round(6)."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        acc += M[:, d] * v[..., d]
    return acc


def _cosine_topk_np(corpus, queries, k, id_col, vec_col, round_digits, label_col=None):
    """The one dim-ordered numpy cosine top-k: `brute_force_topk_np`,
    and with `label_col` `selection.hard_negatives_np` — a query then
    scores only the corpus rows whose label differs from its own, so
    the mask applies before ranking. One `map_batches` kernel scores
    each corpus batch against the driver-held query matrix; a window
    ranks the rounded scores, ties on the id."""
    import numpy as np
    from pyspark.sql import types as T

    from .arrow_kernels import map_batches

    extra = [] if label_col is None else [F.col(label_col).alias("label")]
    qrows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), *extra
    ).collect()
    qids = [r.id for r in qrows]
    qlabels = [r.label for r in qrows] if extra else None
    Q = np.array([list(r.vec) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt(_dim_ordered_dot(Q, Q)) if qrows else Q

    def score(batch):
        if not len(batch.id):
            return
        ids = np.asarray(batch.id)
        M = np.array(batch.vec, dtype=np.float64)
        cnorm = np.sqrt(_dim_ordered_dot(M, M))
        for qi, qid in enumerate(qids):
            sim = np.round(_dim_ordered_dot(M, Q[qi]) / (cnorm * qnorm[qi]), round_digits)
            if qlabels is None:
                yield qid, ids, sim
                continue
            keep = np.asarray(batch.label) != qlabels[qi]
            if keep.any():
                yield qid, ids[keep], sim[keep]

    id_field = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_field),
            T.StructField(id_col, id_field),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    scored = map_batches(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), *extra),
        score,
        out_schema,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine_sim")
    )


def sign_lsh_bucket(vec: Column | str, n_bits: int = 8) -> Column:
    """Deterministic sign-LSH bucket id from the first n_bits dims.

    bucket = Σ (vecᵢ ≥ 0) · 2ⁱ. With zero-centered embeddings each bit
    is ~balanced, giving ~uniform 2^n buckets. (True random-hyperplane
    LSH projects onto seeded random vectors; fixed axes keep the plan
    deterministic and oracle-reproducible — swap in seeded planes for
    production by replacing `element_at` with `dot(vec, plane_i)`.)
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    acc = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.when(F.element_at(vec, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        acc = acc + bit.cast("long") * F.lit(2**i).cast("long")
    return acc


def l2_dist2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance, left-to-right accumulation."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double")))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its `n_assign` nearest centroids (L2,
    deterministic tie-break on centroid id) → (id, centroid_id, rank).

    The centroid table is tiny (k rows) and broadcast, so assignment
    is one scan of the corpus — the IVF build is embarrassingly
    parallel and re-runs incrementally on new partitions only.
    """
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    d = l2_dist2(vec_col, "c_vec").alias("d")
    w = Window.partitionBy(id_col).orderBy(F.col("d").asc(), F.col("centroid_id").asc())
    return (
        vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(c))
        .select(id_col, "centroid_id", d)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_assign)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in inverted
    lists keyed by their nearest centroid; each query probes its
    `nprobe` nearest cells and ranks only those lists.

    Scale shape: candidate volume is ~nprobe/k of the corpus per
    query (vs. all of it for brute force), the shuffle key is the
    centroid id (cardinality k — chosen, bounded), and recall is
    tunable via nprobe without touching stored data. Centroids here
    are caller-provided (deterministic, e.g. sampled rows); swap in a
    k-means fit without changing this query shape.
    """
    corpus_cells = ivf_assign(corpus, centroids, 1, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    lists = corpus.select(id_col, vec_col).join(corpus_cells, id_col)
    probes = ivf_assign(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).join(probes, "query_id")
    sim = F.round(cosine("q_vec", vec_col), round_digits).alias("cosine_sim")
    scored = lists.join(F.broadcast(q), "centroid_id").select("query_id", id_col, sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine_sim")
    )


def lsh_near_duplicate_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim ≥ threshold) among same-bucket pairs.

    One shuffle on bucket id; pairs form only within buckets
    (n²/2^n_bits expected pairs). Raising n_bits trades recall for
    candidate volume — at 100 TB use multiple independent bucket
    tables (like LSH bands) to recover recall.
    """
    b = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(vec_col, n_bits).alias("bucket"),
    )
    a1 = b.alias("a")
    b1 = b.alias("b")
    sim = F.round(
        cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), round_digits
    ).alias("cosine_sim")
    return (
        a1.join(
            b1,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            sim,
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou/Douze/Schmid, TPAMI 2011)
# ---------------------------------------------------------------------------


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> list[list[tuple[int, list[float]]]]:
    """Train PQ codebooks: split `dims` into `m` equal subspaces and
    run the catalog's deterministic Lloyd trajectory (first-k init,
    (dist, cid) tie-break, per-iteration round-6 centroids — the same
    math as clustering.kmeans_centroid_vectors, replayed per subspace
    by the unrolled-CTE oracle) on every subspace AT ONCE: subvectors
    carry their subspace id `s`, centroids key on (s, cid), and each
    Lloyd step is ONE assignment job + ONE update job for all m
    subspaces — iterations+1 Spark jobs total instead of
    m·(iterations+1) (the per-subspace loop this replaced spent ~6 s
    of pure job-scheduling floor at m=4). The m trajectories are
    mathematically independent (all keys carry `s`), so the joint run
    produces the identical codebooks. Returns
    [subspace][(cid, centroid_subvector)] — m·k·(dims/m) doubles,
    driver-tiny, meant to be shipped broadcast-by-value."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    sub = dims // m
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    spts = vecs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("v", s * sub + 1, sub).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.s", "e.sv").persist()
    try:
        init = vecs.orderBy("vec_id").limit(k).collect()
        books: dict[int, list[tuple[int, list[float]]]] = {
            s: [(cid, list(r.v)[s * sub : (s + 1) * sub]) for cid, r in enumerate(init)]
            for s in range(m)
        }
        sq = lambda a, b: (a - b) * (a - b)  # noqa: E731
        add = lambda acc, x: acc + x  # noqa: E731
        for _ in range(iterations):
            cdf = spark.createDataFrame(
                [(s, cid, c) for s in range(m) for cid, c in books[s]],
                "s int, cid int, c array<double>",
            )
            dist = F.aggregate(F.zip_with("sv", "c", sq), F.lit(0.0), add)
            assigned = (
                spts.join(F.broadcast(cdf), "s")
                .select("vec_id", "s", "sv", dist.alias("dist"), "cid")
                .groupBy("vec_id", "s")
                # lexicographic struct min = (smallest dist, then
                # smallest cid) — the oracle's tie-break
                .agg(F.min(F.struct("dist", "cid")).alias("mn"), F.first("sv").alias("sv"))
                .select("s", F.col("mn.cid").alias("cid"), "sv")
            )
            comp = (
                assigned.select("s", "cid", F.posexplode("sv").alias("pos", "val"))
                .groupBy("s", "cid", "pos")
                .agg(F.round(F.avg("val"), 6).alias("val"))
            )
            new_c = (
                comp.groupBy("s", "cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "val"))),
                        lambda st: st["val"],
                    ).alias("c")
                )
                .collect()
            )
            books = {s: [] for s in range(m)}
            for r in new_c:
                books[r.s].append((r.cid, list(r.c)))
            for s in books:
                books[s] = sorted(books[s])
    finally:
        spts.unpersist()
    return [books[s] for s in range(m)]


def _subspace_code(vec_col: Column, s: int, sub: int, book) -> Column:
    """argmin_c ||vec[s·sub : (s+1)·sub] − c||² as a native expression:
    an array of (dist, cid) structs over the k literal centroids,
    array_min'd — lexicographic struct ordering gives the same
    (dist, cid) tie-break as training. Stays in codegen; k literal
    fold expressions per subspace."""
    sv = F.slice(vec_col, s * sub + 1, sub)
    entries = []
    for cid, cvec in book:
        c = F.array(*[F.lit(float(x)) for x in cvec])
        d = F.aggregate(
            F.zip_with(sv, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(F.struct(d.alias("dist"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*entries)).getField("cid")


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes ARRAY<INT> length m): each vector compressed to its
    per-subspace nearest-centroid ids — m·log2(k) bits per vector
    (64 float32 dims → 4 bytes at m=4, k=256: the 64× memory/
    bandwidth lever). One narrow codegen pass, no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    codes = F.array(
        *[_subspace_code(v, s, sub, codebooks[s]) for s in range(m)]
    )
    return corpus.select(F.col(id_col).alias("vec_id"), codes.alias("codes"))


def _adc_table(qs: list[float], book) -> list[float]:
    """Query-to-centroid distance table for one subspace, DENSE over
    cid: entry i is ||q_sub − centroid(cid=i)||². Codebooks may have
    non-contiguous cids (kmeans_centroid_vectors drops clusters that
    lose all members), and codes store the actual cid — a positional
    table would silently fetch the wrong centroid's distance (or NULL
    past the end, which asc-sorts FIRST and would win the top-k). Gap
    entries are unreachable: codes only take cids present in the
    book."""
    dense = [0.0] * (max(cid for cid, _ in book) + 1)
    for cid, cvec in book:
        dense[cid] = sum((a - b) * (a - b) for a, b in zip(qs, cvec))
    return dense


def _adc_tables(qvec: list[float], codebooks) -> list[list[float]]:
    """All m per-subspace ADC tables for one (residualized) query
    vector — m·k doubles, driver-tiny."""
    sub = len(codebooks[0][0][1])
    return [
        _adc_table(qvec[s * sub : (s + 1) * sub], codebooks[s])
        for s in range(len(codebooks))
    ]


def _adc_dist(m: int, tables_col: str = "adc_tables", codes_col: str = "codes") -> Column:
    """Σ_s tables[s][codes[s]] with fixed left-to-right accumulation —
    m array lookups + (m−1) adds per corpus row, no vector math."""
    dist = None
    for s in range(m):
        t = F.element_at(F.col(tables_col), s + 1)
        term = F.element_at(t, F.element_at(codes_col, s + 1) + 1)
        dist = term if dist is None else dist + term
    return dist


def pq_topk_adc(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: distance tables
    d[s][c] = ||q_sub − codebook[s][c]||² are computed driver-side
    (m·k doubles per query — tiny) for the WHOLE query batch at once
    and shipped as one broadcast relation (query_id, adc_tables); the
    corpus scans ONCE, a broadcast nested-loop pairs every code row
    with every query row, and a row's ADC distance is m table LOOKUPS
    + a sum — no vector math at scan time. Returns (query_id, rank,
    vec_id, adc_dist) — rank by (dist asc, vec_id asc).

    Scale shape: ONE corpus scan regardless of batch size (plan size
    constant in #queries — the tables ride in the broadcast relation,
    not in per-query plan branches), the scan reads m code bytes
    instead of 4·dims vector bytes, and the only shuffle is the
    per-query top-k. This is the classic ADC serving plan minus the
    inverted lists (compose: ivfpq_topk)."""
    from pyspark.sql import types as T

    m = len(codebooks)
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    qschema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("adc_tables", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    qdf = corpus_codes.sparkSession.createDataFrame(
        [(q.query_id, _adc_tables(list(q.v), codebooks)) for q in qrows], qschema
    )
    scored = corpus_codes.crossJoin(F.broadcast(qdf)).select(
        "query_id", "vec_id", F.round(_adc_dist(m), 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ serving (the FAISS-standard composition, sans residual
    encoding): corpus vectors live in inverted lists keyed by their
    nearest coarse centroid AND are stored as PQ codes; a query probes
    its `nprobe` nearest cells and ADC-scores only those lists via
    literal distance tables. Returns (query_id, rank, vec_id,
    adc_dist), rank by (dist asc, id asc).

    The two levers compose multiplicatively at 100 TB: nprobe/k_coarse
    bounds the FRACTION of the corpus touched, PQ bounds the BYTES
    per touched row (m code bytes + m lookups, no vector math). The
    whole query batch serves from ONE scan of the coded corpus: probe
    selection is a broadcast hash join on centroid_id against a tiny
    (query_id, centroid_id, adc_tables) relation — one row per probed
    cell — so rows in unprobed cells never multiply and plan size is
    constant in #queries. The only shuffle is the per-query top-k."""
    from pyspark.sql import types as T

    m = len(codebooks)
    cells = ivf_assign(corpus, centroids, 1, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"), "centroid_id"
    )
    coded = (
        pq_encode(corpus, codebooks, id_col, vec_col)
        .join(cells, "vec_id")
        .select("vec_id", "codes", "centroid_id")
    )
    probes = ivf_assign(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    ).collect()
    qvecs = {
        r.query_id: list(r.v)
        for r in queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ).collect()
    }
    qschema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("centroid_id", centroids.schema[id_col].dataType),
            T.StructField("adc_tables", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    qdf = corpus.sparkSession.createDataFrame(
        [
            (p.query_id, p.centroid_id, _adc_tables(qvecs[p.query_id], codebooks))
            for p in probes
        ],
        qschema,
    )
    scored = coded.join(F.broadcast(qdf), "centroid_id").select(
        "query_id", "vec_id", F.round(_adc_dist(m), 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ (the actual FAISS IVFADC: PQ on residuals, not raw vectors)
# ---------------------------------------------------------------------------


def ivf_residuals(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, residual): each vector minus its nearest
    coarse centroid (L2, (dist, cid) tie-break — same assignment as
    ivf_assign). Residuals concentrate around 0 regardless of which
    cell a vector lives in, so one shared PQ codebook quantizes them
    far more accurately than raw vectors — the reason FAISS's IVFADC
    encodes residuals (Jégou et al., TPAMI 2011 §IV).

    Plan shape: one broadcast cross-join against the k-row centroid
    table, per-row argmin, then a broadcast hash join to subtract —
    one corpus scan, no shuffle."""
    cells = ivf_assign(vectors, centroids, 1, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    return (
        vectors.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .join(cells, id_col)
        .join(F.broadcast(c), "centroid_id")
        .select(
            id_col,
            "centroid_id",
            F.zip_with("v", "c_vec", lambda x, y: x - y).alias("residual"),
        )
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Residual IVF-PQ end-to-end (FAISS IVFADC): corpus vectors are
    assigned to coarse cells, PQ codebooks are trained on the
    RESIDUALS (vector − cell centroid), and codes store quantized
    residuals. At serve time a query's ADC tables are built from its
    residual w.r.t. EACH probed cell — so the broadcast probe relation
    carries one (query_id, centroid_id, adc_tables) row per probe, and
    ADC(q, x) ≈ ||(q − c) − r̂ₓ||² = ||q − (c + r̂ₓ)||², the true
    distance with the vector reconstructed as centroid + residual.

    Same single-scan serving shape as ivfpq_topk; training adds m
    driver-coordinated Lloyd runs over the residual table (centroid
    state is k·dims doubles — metadata-scale at any corpus size)."""
    res = ivf_residuals(corpus, centroids, id_col, vec_col).persist()
    try:
        books = pq_train(
            res, m=m, k=k_codes, iterations=iterations,
            id_col=id_col, vec_col="residual", dims=dims,
        )
        coded = (
            pq_encode(res, books, id_col=id_col, vec_col="residual")
            .join(res.select(F.col(id_col).alias("vec_id"), "centroid_id"), "vec_id")
            .select("vec_id", "codes", "centroid_id")
        )
        probes = ivf_assign(queries, centroids, nprobe, id_col, vec_col).select(
            F.col(id_col).alias("query_id"), "centroid_id"
        ).collect()
        qvecs = {
            r.query_id: list(r.v)
            for r in queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            ).collect()
        }
        cvecs = {
            r.centroid_id: list(r.c_vec)
            for r in centroids.select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).cast("array<double>").alias("c_vec"),
            ).collect()
        }
        from pyspark.sql import types as T

        qschema = T.StructType(
            [
                T.StructField("query_id", queries.schema[id_col].dataType),
                T.StructField("centroid_id", centroids.schema[id_col].dataType),
                T.StructField("adc_tables", T.ArrayType(T.ArrayType(T.DoubleType()))),
            ]
        )
        qdf = corpus.sparkSession.createDataFrame(
            [
                (
                    p.query_id,
                    p.centroid_id,
                    _adc_tables(
                        [a - b for a, b in zip(qvecs[p.query_id], cvecs[p.centroid_id])],
                        books,
                    ),
                )
                for p in probes
            ],
            qschema,
        )
        scored = coded.join(F.broadcast(qdf), "centroid_id").select(
            "query_id", "vec_id", F.round(_adc_dist(m), 6).alias("adc_dist")
        )
        w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        out = (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "adc_dist")
        )
        out = out.localCheckpoint()
    finally:
        res.unpersist()
    return out

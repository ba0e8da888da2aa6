"""Operator unit tests on tiny in-memory DataFrames (fast, exact)."""

import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.operators.asof import asof_join
from ndvi_etl_pipeline_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_near_duplicates,
    simhash,
)
from ndvi_etl_pipeline_spark.operators.overviews import overview_cascade
from ndvi_etl_pipeline_spark.operators.similarity import brute_force_topk, cosine
from ndvi_etl_pipeline_spark.operators.upsert import upsert_ignore, upsert_replace, write_upsert


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
        "event_id int, user_id int, ts int",
    )
    right = spark.createDataFrame(
        [(10, 100, 7), (10, 200, 8), (10, 100, 9), (30, 10, 1)],
        "user_id int, o_ts int, o_orderkey int",
    )
    out = {
        r.event_id: r.o_orderkey
        for r in asof_join(
            left, right, "user_id", "ts", "o_ts", ("o_orderkey",), tie_break="o_orderkey"
        ).collect()
    }
    assert out == {1: 9, 2: 8, 3: None, 4: None}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id int, text string"
    )
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0].keep_id == 1 and groups[0].n_dups == 2
    kept = {r.doc_id for r in dedup_exact(df).collect()}
    assert kept == {1, 3}


def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"  # 1 token changed
    far = " ".join(f"v{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    pairs = minhash_near_duplicates(df, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.9


def test_lsh_packed_band_key_matches_md5_path(spark, monkeypatch):
    """The packed single-long band key is a bijection of (band_idx,
    slice tuple), so the candidate-pair set must be IDENTICAL to the
    md5-string keying it replaced — on a corpus with planted near-dups,
    exact dups, and disjoint docs."""
    import ndvi_etl_pipeline_spark.operators.dedup as DD

    rows = []
    for d in range(12):
        base = " ".join(f"w{d}_{i}" for i in range(30))
        rows.append((2 * d, base))
        rows.append((2 * d + 1, base if d % 3 else base + " tail"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    shingled = DD.shingle_docs(df)
    sigs = DD.minhash_signatures(shingled)

    banded = DD.lsh_bands(sigs)
    assert dict(banded.dtypes)["band_key"] == "bigint"
    packed = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_pairs(banded).collect()
    )

    monkeypatch.setattr(DD, "_lsh_packable", lambda nh, b: False)
    banded_md5 = DD.lsh_bands(sigs)
    assert dict(banded_md5.dtypes)["band_key"] == "string"
    md5 = sorted(
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_pairs(banded_md5).collect()
    )
    assert packed == md5 and packed  # identical and non-empty


def test_simhash_identical_docs_same_hash(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "doc_id int, text string",
    )
    h = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert h[1] == h[2] != h[3]
    assert 0 <= h[1] < 2**16


def test_cosine_and_topk(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7071, 0.7071])],
        "vec_id int, embedding array<float>",
    )
    out = brute_force_topk(df.filter("vec_id > 0"), df.filter("vec_id = 0"), k=2).collect()
    assert [(r.rank, r.vec_id) for r in out] == [(1, 1), (2, 3)]
    assert out[0].cosine_sim == 1.0
    assert abs(out[1].cosine_sim - 0.7071) < 1e-3


def test_overview_cascade_constant(spark):
    px = spark.range(16 * 16).select(
        F.lit("s").alias("scene_id"),
        (F.col("id") / 16).cast("int").alias("y"),
        (F.col("id") % 16).cast("int").alias("x"),
        F.lit(0.5).alias("ndvi"),
    )
    levels = overview_cascade(px, factors=(2, 4, 8))
    assert levels[2].count() == 64
    assert levels[4].count() == 16
    assert levels[8].count() == 4
    vals = [r.v for r in levels[8].collect()]
    assert all(abs(v - 0.5) < 1e-12 for v in vals)


def test_upsert_ignore_and_replace(spark):
    existing = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, name string, v int")
    incoming = spark.createDataFrame([(2, "B", 99), (3, "c", 30)], "id int, name string, v int")
    ign = {r.id: r.v for r in upsert_ignore(existing, incoming, keys=("id",)).collect()}
    assert ign == {1: 10, 2: 20, 3: 30}
    rep = {r.id: r.v for r in upsert_replace(existing, incoming, keys=("id",)).collect()}
    assert rep == {1: 10, 2: 99, 3: 30}


def test_write_upsert_replaces_its_partitions_and_leaves_the_session_conf(spark, tmp_path):
    """Only the partitions the write carries are replaced, and the
    session's partitionOverwriteMode is what it was before: a later
    partitioned overwrite in the same session keeps its own meaning."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    out = str(tmp_path / "t")
    rows = "id int, part string"
    write_upsert(spark.createDataFrame([(1, "a"), (2, "b")], rows), out, ("part",))
    write_upsert(spark.createDataFrame([(3, "b")], rows), out, ("part",))
    got = {(r.id, r.part) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (3, "b")}
    assert spark.conf.get(conf) == before


def test_approx_distinct_within_tolerance(spark, sf_dir_oracle):
    """The approx tier computes its exact counterparts in the same
    aggregate and checks the ±5% band IN-PLAN (so the driver's oracle
    can assert it too); here we pin the contract end-to-end: every
    band boolean true, exact counts match an independent aggregate."""
    from ndvi_etl_pipeline_spark.plans.queries import q_approx_distinct_stats
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    rows = {
        r.event_type: r for r in q_approx_distinct_stats(spark, sf_dir_oracle).collect()
    }
    e = load_table(spark, "events", sf_dir_oracle)
    exact = {
        r.event_type: r
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    assert set(rows) == set(exact)
    for et, ex in exact.items():
        r = rows[et]
        assert r.exact_users == ex.users, et
        assert r.hll_within_5pct, et
        assert r.p50_within_5pct, et


def test_winnowing_detects_partial_overlap(spark):
    """Any shared substring of length >= k+w-1 (= 11) must share a
    fingerprint; a disjoint doc shares none with either."""
    from ndvi_etl_pipeline_spark.functions.text import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"PREFIX A {shared} SUFFIX ONE"),
        (2, f"totally different beginning {shared} and ending"),
        (3, "zebra xylophone quartz vortex jackdaw sphinx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", winnowing_fingerprints("text").alias("fps")
    )
    fps = {r.doc_id: set(r.fps) for r in df.collect()}
    assert fps[1] & fps[2], "overlapping docs share no fingerprint"
    assert not fps[3] & fps[1]
    assert not fps[3] & fps[2]



def test_winnowing_window_of_one_keeps_every_kgram(spark):
    """w = 1: every window is one k-gram, so the fingerprints are all
    distinct k-gram hashes (8-hex md5 prefixes of the normalized
    text)."""
    import hashlib

    from ndvi_etl_pipeline_spark.functions.text import winnowing_fingerprints

    text, k = "Abra cadabra, abra!", 4
    norm = "abra cadabra abra"
    want = {
        hashlib.md5(norm[i : i + k].encode()).hexdigest()[:8]
        for i in range(len(norm) - k + 1)
    }
    (row,) = spark.createDataFrame([(1, text)], ["doc_id", "text"]).select(
        winnowing_fingerprints("text", k=k, w=1).alias("fps")
    ).collect()
    assert len(row.fps) == len(want)
    assert set(row.fps) == want

def test_connected_components_chain_and_island(spark):
    from ndvi_etl_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 10)], ["src", "dst"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (20, 10),
    }


def test_observed_metrics_ride_the_write(spark, sf_dir, tmp_path):
    """K6: run metrics come from the SAME pass as the sink action —
    no second scan, and they describe exactly what was written."""
    from ndvi_etl_pipeline_spark.operators.stats import with_observed_metrics
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "events", sf_dir).filter("value > 90.0")
    observed, obs = with_observed_metrics(e.select("event_id", "value"))
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))

    m = obs.get
    back = spark.read.parquet(str(tmp_path / "out"))
    assert m["n_rows"] == back.count() > 0
    assert m["n_null_value"] == 0
    assert m["min_value"] > 90.0
    assert m["max_value"] == back.agg({"value": "max"}).first()[0]


def test_pareto_skyline_partition_invariance(spark):
    """The local-skyline prefilter must be exact under ANY input
    partitioning: compare against the O(n²) brute-force definition for
    1/3/16 partitions, plus degenerate shapes."""
    import random

    from ndvi_etl_pipeline_spark.operators.stats import pareto_skyline_2d

    rnd = random.Random(7)
    pts = list({(round(rnd.uniform(0, 100), 2), rnd.randint(1, 50))
                for _ in range(300)})

    def dominated(a, pts):
        return any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in pts
        )

    expected = {p for p in pts if not dominated(p, pts)}
    for nparts in (1, 3, 16):
        df = spark.createDataFrame(pts, "price double, size int").repartition(nparts)
        got = {
            (r.price, r.size)
            for r in pareto_skyline_2d(df, "price", "size").collect()
        }
        assert got == expected, f"nparts={nparts}"

    # single point and fully-correlated chain (nothing dominated)
    one = spark.createDataFrame([(1.0, 1)], "price double, size int")
    assert pareto_skyline_2d(one, "price", "size").count() == 1
    chain = [(float(i), i) for i in range(10)]
    df = spark.createDataFrame(chain, "price double, size int").repartition(4)
    got = {(r.price, r.size) for r in pareto_skyline_2d(df, "price", "size").collect()}
    assert got == set(chain)


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """direction='nearest' must agree with pandas merge_asof on
    randomized data. Right timestamps are even microseconds and left
    odd, so exact-midpoint ties cannot occur and the expected match is
    unambiguous; (key, ts) pairs are unique by construction."""
    import random

    import pandas as pd

    from ndvi_etl_pipeline_spark.operators.asof import asof_join

    rnd = random.Random(11)
    base = 1_700_000_000_000_000
    right_rows = []
    seen = set()
    for rid in range(40):
        k = rnd.randrange(5)
        ts = base + 2 * rnd.randrange(0, 500_000)
        if (k, ts) in seen:
            continue
        seen.add((k, ts))
        right_rows.append((k, pd.Timestamp(ts, unit="us").to_pydatetime(), rid))
    left_rows = [
        (rnd.randrange(6), pd.Timestamp(base + 2 * rnd.randrange(0, 500_000) + 1,
                                        unit="us").to_pydatetime(), i)
        for i in range(80)
    ]  # key 5 has no right rows → NULL matches

    lf = spark.createDataFrame(left_rows, "k int, ts timestamp, lid int")
    rf = spark.createDataFrame(right_rows, "k int, rts timestamp, rid int")
    got = {
        r.lid: r.rid
        for r in asof_join(
            lf, rf, key="k", left_ts="ts", right_ts="rts",
            right_cols=("rid",), tie_break="rid", direction="nearest",
        ).collect()
    }

    lpd = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts")
    rpd = pd.DataFrame(right_rows, columns=["k", "rts", "rid"]).sort_values("rts")
    exp = pd.merge_asof(
        lpd, rpd, left_on="ts", right_on="rts", by="k", direction="nearest"
    )
    for row in exp.itertuples(index=False):
        want = None if pd.isna(row.rid) else int(row.rid)
        assert got[row.lid] == want, f"lid={row.lid}: {got[row.lid]} != {want}"


def test_brute_force_topk_np_matches_native(spark, sf_dir_oracle):
    """The Arrow/numpy scoring kernel must equal the codegen
    higher-order-function path BIT FOR BIT (dim-ordered accumulation
    mirrors aggregate()/list_sum), ranks included."""
    from ndvi_etl_pipeline_spark.operators import similarity as SIM
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "embeddings", sf_dir_oracle)
    c, q = e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, SIM.brute_force_topk(c, q, k=5).collect()))
    b = sorted(map(tuple, SIM.brute_force_topk_np(c, q, k=5).collect()))
    assert a == b and len(a) == 25


def test_kmeans_centroid_vectors_consistent_with_lloyd(spark, sf_dir_oracle):
    """kmeans_centroid_vectors must replay kmeans_lloyd's exact
    trajectory: per-cluster component sums equal the lloyd query's
    centroid_sum output."""
    from ndvi_etl_pipeline_spark.operators.clustering import (
        kmeans_centroid_vectors,
        kmeans_lloyd,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "embeddings", sf_dir_oracle)
    cents = kmeans_centroid_vectors(e, k=4, iterations=3)
    want = {r.cid: r.centroid_sum for r in kmeans_lloyd(e, k=4, iterations=3).collect()}
    assert set(c for c, _ in cents) == set(want)
    for cid, vec in cents:
        assert abs(round(sum(vec), 4) - want[cid]) < 1e-9, cid
    assert all(len(vec) == 64 for _, vec in cents)


def test_pq_train_encode_adc(spark, sf_dir):
    """Product quantization: codebook shapes, code range, perfect
    self-retrieval for corpus vectors used as queries (their own code
    cell has ADC distance equal to their quantization error — rank 1
    by construction when queried with themselves), and a recall@5
    floor vs exact L2 on the test corpus."""
    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.similarity import (
        l2_dist2,
        pq_encode,
        pq_topk_adc,
        pq_train,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "embeddings", sf_dir)
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(e, m=5)
    books = pq_train(e, m=4, k=8, iterations=2)
    assert len(books) == 4
    for book in books:
        assert len(book) == 8
        assert all(len(c) == 16 for _cid, c in book)

    corpus = e.filter(F.col("vec_id") >= 5)
    codes = pq_encode(corpus, books)
    row = codes.first()
    assert len(row.codes) == 4 and all(0 <= c < 8 for c in row.codes)

    queries = e.filter(F.col("vec_id") < 5)
    ptop = pq_topk_adc(codes, queries, books, k=5)
    assert ptop.groupBy("query_id").count().collect()[0]["count"] == 5

    # recall@5 vs exact L2 should be clearly better than random
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv"))
    cv = corpus.select("vec_id", F.col("embedding").cast("array<double>").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    etop = (
        qv.crossJoin(cv)
        .select("query_id", "vec_id", l2_dist2("qv", "cv").alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .select("query_id", "vec_id")
    )
    hits = etop.join(
        ptop.select("query_id", "vec_id"), ["query_id", "vec_id"]
    ).count()
    n_corpus = corpus.count()
    # tiny 12-bit codes (m=4, k=8) on random vectors: measured
    # recall@5 is ~0.28 here vs ~0.01 for random guessing — demand a
    # floor that fails if train/encode/ADC breaks but tolerates the
    # deliberately small test codebooks
    assert hits >= 6, (hits, n_corpus)


def test_pca_top_component_is_unit_and_dominant(spark, sf_dir_oracle):
    """The fitted direction is unit-norm (to rounding), its Rayleigh
    eigenvalue is positive and no smaller than the variance along
    any single axis (the top PC dominates every coordinate
    direction), and pca_power_iteration reports the same loadings."""
    import math

    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.clustering import (
        centered_embeddings,
        pca_power_iteration,
        pca_top_component,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "embeddings", sf_dir_oracle)
    v, lam = pca_top_component(e, iterations=3)
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-4
    assert lam > 0
    # variance along each axis from the centered relation
    cent = centered_embeddings(e)
    n = cent.count()
    var_rows = (
        cent.select(F.posexplode("x").alias("pos", "xd"))
        .groupBy("pos")
        .agg((F.sum(F.col("xd") * F.col("xd")) / (n - 1)).alias("var"))
        .collect()
    )
    assert lam >= max(r.var for r in var_rows) * 0.999
    got = {r.idx: r.loading for r in pca_power_iteration(e, iterations=3).collect()}
    for d, x in enumerate(v):
        assert got[d + 1] == x


def test_pq_adc_with_noncontiguous_codebook_cids(spark):
    """kmeans_centroid_vectors drops clusters that lose all members,
    so codebook cids can be non-contiguous while codes store the
    ACTUAL cid — the ADC distance table must be cid-indexed, not
    positional (a positional table fetched the wrong centroid's
    distance, or NULL past the end, which asc-sorts first and won the
    top-k)."""
    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk_adc,
    )

    # one subspace of 2 dims, cids {0, 2, 3} (1 dropped in training)
    books = [[(0, [0.0, 0.0]), (2, [10.0, 0.0]), (3, [0.0, 10.0])]]
    corpus = spark.createDataFrame(
        [(1, [0.1, 0.0]), (2, [9.8, 0.1]), (3, [0.2, 9.9])],
        "vec_id int, embedding array<double>",
    )
    codes = pq_encode(corpus, books)
    got = {r.vec_id: r.codes for r in codes.collect()}
    assert got == {1: [0], 2: [2], 3: [3]}  # actual cids, with the gap

    queries = spark.createDataFrame(
        [(100, [10.0, 0.0])], "vec_id int, embedding array<double>"
    )
    top = pq_topk_adc(codes, queries, books, k=3).collect()
    assert [r.vec_id for r in top] == [2, 1, 3]  # by cell distance
    by_vec = {r.vec_id: r.adc_dist for r in top}
    assert by_vec[2] == 0.0  # ||q - centroid(cid=2)||² exactly
    assert by_vec[1] == 100.0 and by_vec[3] == 200.0


def test_ivfpq_residual_quantization_tighter_than_raw(spark, sf_dir):
    """Residual encoding (FAISS IVFADC) must quantize strictly more
    accurately than raw-vector PQ with the same (m, k) budget:
    reconstruction MSE of centroid + decoded-residual < MSE of
    decoded-raw. On this isotropic synthetic corpus the margin is
    small (~3%) — on clustered real embeddings it is the reason
    IVFADC exists — but the inequality is the mechanism and must
    hold. Also sanity-checks the serving output shape."""
    import numpy as np
    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.clustering import kmeans_centroid_vectors
    from ndvi_etl_pipeline_spark.operators.similarity import (
        ivf_residuals,
        ivfpq_residual_topk,
        pq_encode,
        pq_train,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "embeddings", sf_dir)
    cents = kmeans_centroid_vectors(e, k=4, iterations=3)
    cdf = spark.createDataFrame(
        [(c, v) for c, v in cents], "vec_id int, embedding array<double>"
    )
    corpus = e.filter(F.col("vec_id") >= 5)

    res = ivf_residuals(corpus, cdf).persist()
    books_res = pq_train(res, m=4, k=8, iterations=2, vec_col="residual")
    books_raw = pq_train(corpus, m=4, k=8, iterations=2)

    vecs = {
        r.vec_id: (np.array(r.v), r.centroid_id)
        for r in corpus.join(
            res.select("vec_id", "centroid_id"), "vec_id"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"), "centroid_id"
        ).collect()
    }
    cvec = {c: np.array(v) for c, v in cents}

    def recon_mse(codes_rows, books, residual):
        books_idx = [dict(b) for b in books]
        sub = len(books[0][0][1])
        err = []
        for r in codes_rows:
            dec = np.concatenate(
                [books_idx[s][r.codes[s]] for s in range(len(books))]
            )
            x, cell = vecs[r.vec_id]
            recon = cvec[cell] + dec if residual else dec
            err.append(float(((x - recon) ** 2).sum()))
        return float(np.mean(err))

    mse_res = recon_mse(
        pq_encode(res, books_res, vec_col="residual").collect(), books_res, True
    )
    mse_raw = recon_mse(pq_encode(corpus, books_raw).collect(), books_raw, False)
    res.unpersist()
    assert mse_res < mse_raw, (mse_res, mse_raw)

    top = ivfpq_residual_topk(
        corpus, e.filter(F.col("vec_id") < 5), cdf,
        m=4, k_codes=8, iterations=2, k=5, nprobe=2,
    ).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)


def test_asof_join_null_timestamps_never_match(spark):
    """A right row with NULL right_ts must not become anyone's match
    (it used to sort first and act as the fallback); a left row with
    NULL left_ts gets NULLs, including under direction='forward'."""
    left = spark.createDataFrame(
        [(1, 50), (1, None)], "key int, ts int"
    ).selectExpr("key", "cast(ts as timestamp) ts")
    right = spark.createDataFrame(
        [(1, None, 7), (1, 100, 9)], "key int, rts int, o int"
    ).selectExpr("key", "cast(rts as timestamp) rts", "o")
    back = {(r.key, r.ts): r.o for r in asof_join(
        left, right, "key", "ts", "rts", ("o",)
    ).collect()}
    import datetime
    t50 = datetime.datetime(1970, 1, 1, 0, 0, 50)
    assert back[(1, t50)] is None  # no real row precedes ts=50
    assert back[(1, None)] is None
    fwd = {(r.key, r.ts): r.o for r in asof_join(
        left, right, "key", "ts", "rts", ("o",), direction="forward"
    ).collect()}
    assert fwd[(1, t50)] == 9       # real forward match still works
    assert fwd[(1, None)] is None   # NULL left ts must not grab min rts


def test_iterate_and_fixpoint_reliable_checkpoint_dir(spark, tmp_path):
    """With a SparkContext checkpoint dir, iterate/fixpoint cut lineage
    with a reliable checkpoint (files under the dir) and return what
    the localCheckpoint default returns."""
    from ndvi_etl_pipeline_spark.operators.iterate import fixpoint, iterate

    def run():
        start = spark.range(40).select(F.col("id").alias("x"))
        it = iterate(
            start,
            lambda s, i: s.select(((F.col("x") * 3 + i) % 101).alias("x")),
            5,
        )
        fp = fixpoint(
            start,
            lambda s: s.select(F.floor(F.col("x") / 2).cast("long").alias("x")),
            lambda d: d.agg(F.sum("x")).first()[0],
        )
        return sorted(it.collect()), sorted(fp.collect())

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ref = run()
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        got = run()
    finally:
        # SparkContext has no public unset: restore the empty Option
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    assert got == ref
    assert any(p.is_file() for p in ckpt.rglob("*"))

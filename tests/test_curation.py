"""Invariant tests for operators/curation.py.

The oracle harness (tools/check_correctness.py) proves value parity
with DuckDB; these tests pin the *contracts* that matter at scale:
determinism under re-partitioning, split stability under corpus
growth, per-stratum caps, and packing-bin structure.
"""

from pyspark.sql import functions as F

from ndvi_etl_pipeline_spark.operators import curation as CUR
from ndvi_etl_pipeline_spark.sources.testdata import load_table


def _docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir)


def test_split_is_stable_under_corpus_growth(spark, sf_dir):
    """A doc's split must not change when more docs arrive (the hash
    contract rand() breaks): splitting a 50-doc prefix and the full
    table must agree on the shared rows."""
    d = _docs(spark, sf_dir)
    full = d.select("doc_id", CUR.assign_split(F.col("doc_id")).alias("s"))
    prefix = (
        d.filter(F.col("doc_id") < 50)
        .select("doc_id", CUR.assign_split(F.col("doc_id")).alias("s"))
    )
    joined = full.join(prefix, "doc_id").filter(full["s"] != prefix["s"])
    assert joined.count() == 0


def test_split_three_way_partitions_everything(spark, sf_dir):
    d = _docs(spark, sf_dir)
    splits = (
        d.select(CUR.assign_split(F.col("doc_id"), eval_pct=5, test_pct=5).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    by_name = {r["s"]: r["count"] for r in splits}
    assert set(by_name) <= {"train", "eval", "test"}
    assert sum(by_name.values()) == d.count()
    assert by_name["train"] > by_name.get("eval", 0)


def test_stratified_sample_caps_and_determinism(spark, sf_dir):
    d = _docs(spark, sf_dir)
    s1 = CUR.stratified_sample(d, ["source", "lang"], k=3, key="doc_id")
    per_stratum = s1.groupBy("source", "lang").count().collect()
    assert all(r["count"] <= 3 for r in per_stratum)
    # Same result from a different physical partitioning.
    s2 = CUR.stratified_sample(d.repartition(17), ["source", "lang"], k=3, key="doc_id")
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2


def test_scrub_removes_all_matches(spark, sf_dir):
    d = _docs(spark, sf_dir)
    scrubbed = d.select(CUR.scrub_count(CUR.scrub_text(F.col("text"))).alias("left"))
    assert scrubbed.agg(F.sum("left")).first()[0] == 0


def test_repetition_ratios_bounded(spark, sf_dir):
    d = _docs(spark, sf_dir)
    stats = CUR.repetition_stats(d)
    bad = stats.filter(
        (F.col("distinct_ratio") <= 0)
        | (F.col("distinct_ratio") > 1)
        | (F.col("top_ratio") <= 0)
        | (F.col("top_ratio") > 1)
        | (F.col("top_ratio") > F.col("distinct_ratio") * F.col("n_tok"))
    )
    assert bad.count() == 0
    assert stats.count() == d.count()


def test_packing_bins_contiguous_and_offset_consistent(spark, sf_dir):
    """bin == floor(exclusive-cumsum / budget): recompute the prefix
    sums per stream in the driver and check every assignment; bins per
    stream must start at 0 with no gaps."""
    d = _docs(spark, sf_dir)
    packed = CUR.pack_sequences(d, budget=512).select("source", "doc_id", "n_tok", "bin")
    rows = sorted(packed.collect(), key=lambda r: (r["source"], r["doc_id"]))
    cum = {}
    bins_seen = {}
    for r in rows:
        before = cum.get(r["source"], 0)
        assert r["bin"] == before // 512, (r, before)
        cum[r["source"]] = before + r["n_tok"]
        bins_seen.setdefault(r["source"], set()).add(r["bin"])
    for src, bins in bins_seen.items():
        assert bins == set(range(max(bins) + 1)), src


def test_contamination_subset_of_eval(spark, sf_dir):
    d = _docs(spark, sf_dir)
    hits = CUR.contamination_check(d, ngram=3, eval_pct=5)
    eval_ids = {
        r["doc_id"]
        for r in d.select(
            "doc_id", CUR.assign_split(F.col("doc_id"), eval_pct=5).alias("s")
        )
        .filter(F.col("s") == "eval")
        .collect()
    }
    hit_ids = {r["doc_id"] for r in hits.collect()}
    assert hit_ids <= eval_ids


def test_assign_contiguous_ids_dense_and_distributed(spark, sf_dir):
    """Ids must be exactly 0..N-1 in key order, and the plan must NOT
    funnel through a single-partition global sort (the whole point)."""
    from ndvi_etl_pipeline_spark.operators.curation import assign_contiguous_ids
    from tools.audit_plans import explain_str
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    d = load_table(spark, "documents", sf_dir).select("doc_id")
    out = assign_contiguous_ids(d, "doc_id", partitions=7)
    plan = explain_str(out)
    assert "SinglePartition" not in plan, plan

    rows = sorted((r.doc_id, r.example_id) for r in out.collect())
    n = len(rows)
    assert [i for _, i in rows] == list(range(n))
    # order by key == order by id
    assert rows == sorted(rows, key=lambda t: t[1])


def test_write_training_shards_deterministic_and_verifiable(spark, sf_dir, tmp_path):
    """Shard writes must (a) partition by (stream, bin), (b) produce a
    manifest recomputable from the shard files alone, (c) be
    byte-identical across re-runs under different partitioning."""
    import pyspark.sql.functions as F

    from ndvi_etl_pipeline_spark.operators.curation import write_training_shards
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir)
    out1 = str(tmp_path / "shards1")
    m1 = {tuple(r) for r in write_training_shards(docs, out1, budget=2000).collect()}

    # manifest recomputable from the shard files alone
    back = spark.read.parquet(out1)
    doc_hash = F.xxhash64(F.col("doc_id").cast("string"), F.col("text"))
    recomputed = {
        tuple(r)
        for r in back.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.collect_list(doc_hash),
                F.lit(0).cast("bigint"),
                lambda a, x: a.bitwiseXOR(x),
            ).alias("content_hash"),
        )
        .collect()
    }
    assert recomputed == m1

    # re-run on a differently-partitioned input → identical manifest
    out2 = str(tmp_path / "shards2")
    m2 = {
        tuple(r)
        for r in write_training_shards(docs.repartition(13), out2, budget=2000).collect()
    }
    assert m2 == m1


def test_mixture_samples_are_nested(spark, sf_dir):
    """The kept set at weight w must be a subset of the kept set at
    any w' > w — re-weighting a mixture only adds/removes marginal
    rows, never resamples."""
    d = _docs(spark, sf_dir)
    lo = CUR.mixture_keep(F.col("doc_id"), F.col("source"), {}, default_weight=0.2)
    hi = CUR.mixture_keep(F.col("doc_id"), F.col("source"), {}, default_weight=0.6)
    violations = d.select(lo.alias("lo"), hi.alias("hi")).filter(
        F.col("lo") & ~F.col("hi")
    )
    assert violations.count() == 0
    kept = d.select(lo.alias("lo"), hi.alias("hi")).agg(
        F.sum(F.col("lo").cast("int")), F.sum(F.col("hi").cast("int"))
    ).first()
    assert 0 < kept[0] < kept[1] < d.count()


def test_chunk_lengths_cover_tokens_once_per_stride(spark):
    """Chunk bookkeeping: first chunk = window, last chunk ends exactly
    at n_tokens, consecutive chunks advance by stride."""
    df = spark.createDataFrame([(64,), (65,), (100,), (160,), (10,)], "n int")
    rows = df.select(
        "n", CUR.chunk_lengths(F.col("n"), window=64, stride=48).alias("lens")
    ).collect()
    for r in rows:
        lens = r.lens
        if r.n <= 64:
            assert lens == [min(r.n, 64)]
            continue
        assert lens[0] == 64
        # chunk i spans [i*stride, i*stride + len): the last must end at n
        assert (len(lens) - 1) * 48 + lens[-1] == r.n
        assert all(l == 64 for l in lens[:-1])


def test_expect_counts_nulls_as_violations(spark):
    from ndvi_etl_pipeline_spark.operators import curation as CUR

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -1.0)], "id int, v double"
    )
    out = {
        r.expectation: r
        for r in CUR.expect(
            df, {"v_positive": F.col("v") > 0, "id_not_null": F.col("id").isNotNull()}
        ).collect()
    }
    # NULL v is a violation (strict three-valued reading), as is -1
    assert out["v_positive"].n_violations == 2
    assert not out["v_positive"].passed
    assert out["id_not_null"].n_violations == 0
    assert out["id_not_null"].passed
    assert out["v_positive"].n_rows == 3


def test_cluster_aware_split_heals_leaky_cluster(spark):
    """Force the contamination case the census exists for: doc 10
    hashes to 'eval', docs 1-2 to 'train', and all three are
    near-duplicates — naive per-doc split leaks the cluster across
    splits; keying the same hash by cluster id moves doc(s) so the
    cluster lands in ONE split."""
    from pyspark.sql import functions as F

    from ndvi_etl_pipeline_spark.operators.curation import assign_split
    from ndvi_etl_pipeline_spark.operators.dedup import (
        connected_components,
        shingle_docs,
    )

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, txt), (2, txt + " mu"), (10, txt + " nu"),
         (3, "totally different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    sh = shingle_docs(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    pairs = (
        a.crossJoin(b)
        .filter((F.col("doc_a") < F.col("doc_b")) & (jac >= 0.5))
        .select("doc_a", "doc_b")
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    out = (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .select(
            "doc_id",
            "component",
            assign_split(F.col("doc_id")).alias("naive"),
            assign_split(F.col("component")).alias("clustered"),
        )
    )
    rows = {r.doc_id: r for r in out.collect()}
    # the near-dup cluster {1, 2, 10}: naive split straddles
    assert {rows[1].naive, rows[2].naive} == {"train"} and rows[10].naive == "eval"
    # cluster-keyed split: one component id (min=1) -> one split for all three
    assert len({rows[i].clustered for i in (1, 2, 10)}) == 1
    assert rows[3].component == 3  # the unrelated doc stays a singleton

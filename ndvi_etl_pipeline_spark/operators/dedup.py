"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The shape of every variant is the same three-stage plan, and every
stage is shuffle-bounded by design:

1. **signature** — per-doc hash/sketch (narrow, scan-speed, codegen);
2. **candidate generation** — group/join on the sketch key, i.e. one
   shuffle whose key cardinality we control (bands, buckets). Never
   the O(n²) cross join;
3. **verify** — exact similarity on the (tiny) candidate set only.

MinHash math: P(two docs share a band) = 1 − (1 − j^r)^b for r rows
per band and b bands (Broder '97; Leskovec et al., "Mining of Massive
Datasets" ch.3). Defaults (8 hashes, 4 bands × 2) give a soft
threshold around j ≈ 0.3 with high recall at j ≥ 0.8.

Hash family: ONE md5 per shingle, sliced into k disjoint 4-hex-char
(16-bit) sub-hashes — each slice is an independent uniform hash of
the shingle, so the k mins are k valid MinHash functions at 1/k the
hashing cost of seed-prefixed digests. Engine-agnostic (any SQL
engine reproduces substr(md5(x), i, 4)), deterministic, and the
16-bit range keeps band keys well-spread (band = md5 of 2 slices →
2^32 effective buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import exact_fingerprint, tokens, word_shingles
from .iterate import scoped_persist

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per duplicated content hash with the
    canonical (min) id and the group size. Hash-groupBy — a single
    shuffle on the digest; at 100 TB this is the cheapest possible
    formulation (the digest is 16 bytes regardless of doc size).
    """
    return (
        df.select(exact_fingerprint(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one doc (min id) per exact content hash — the K3 'ON
    CONFLICT DO NOTHING' idiom applied to content addressing.
    """
    w_keep = (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_keep.select(id_col), id_col, "left_semi")


def shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles ARRAY<STRING>) — distinct n-word shingles per doc.

    The short-doc filter tests token COUNT, not the shingle array:
    a higher-order-function expression inside a Filter falls out of
    whole-stage codegen into interpreted eval (re-running the split
    per array element — measured 30× slower); `size(split(..)) >= n`
    is the same predicate and stays in codegen.

    Tokenization is staged into a real column before the shingle
    lambda: expressions referenced inside a higher-order-function
    lambda are cloned into it and re-evaluated PER ELEMENT, so
    inlining tokens() made the full-text split run once per shingle
    (O(chars·tokens) per doc — the same cloning trap measured at 7×
    on dedup_winnowing).
    """
    toked = df.filter(F.size(tokens(text_col)) >= n).select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    return toked.select(
        id_col, word_shingles(F.col("__toks"), n=n).alias("shingles")
    )


def minhash_signatures(
    shingled: DataFrame, id_col: str = "doc_id", num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """(id, h0..h{k-1}): k MinHash values per doc.

    One md5 per shingle (not per shingle×hash): slice the 32-hex
    digest into k disjoint 4-hex windows and take the min of each.
    One explode + one groupBy(id) = one shuffle; the k mins ride as
    parallel partial aggregates (map-side combine keeps shuffle rows
    at one per doc per task, independent of shingle count).
    """
    assert num_hashes * 4 <= 32, "md5 digest provides at most 8 4-hex slices"
    exploded = shingled.select(
        id_col, F.explode("shingles").alias("shingle")
    ).select(id_col, F.md5(F.col("shingle").cast("binary")).alias("d"))
    # min over the 16-bit INTEGER value of each 4-hex-char slice, not
    # over the substring: for fixed-length lowercase hex, lexicographic
    # order == numeric order (exhaustively true over all 65536 values),
    # but a string min's agg buffer is not mutable in UnsafeRow, so
    # Catalyst demotes the whole aggregate to SortAggregate — a full
    # sort of the exploded shingle relation (the largest intermediate
    # in the dedup family) on BOTH sides of the exchange. Int buffers
    # keep it a HashAggregate: no sorts, same map-side combine.
    # Reformat to the identical hex strings after the aggregate, at
    # one row per doc.
    aggs = [
        F.min(F.conv(F.substring("d", s * 4 + 1, 4), 16, 10).cast("int")).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col,
        *[
            F.lpad(F.lower(F.hex(F.col(f"h{s}"))), 4, "0").alias(f"h{s}")
            for s in range(num_hashes)
        ],
    )


def _lsh_packable(num_hashes: int, bands: int) -> bool:
    """True when (band_idx, slices) fits losslessly in one 63-bit
    non-negative long: rows_per_band 16-bit slices plus the band
    index's bits."""
    rows_per_band = num_hashes // bands
    return 16 * rows_per_band + max((bands - 1).bit_length(), 1) <= 63


def lsh_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_idx, band_key): one row per band.

    band_key is an EXACT single-long pack of (band_idx, the band's
    minhash slices) whenever it fits 63 bits (defaults: 2 slices x
    16 bits + 2 band bits = 34): each h{i} is a fixed-width 4-hex
    string, so `conv(concat(slices), 16, 10)` is a BIJECTION of the
    slice tuple — bucket equality is unchanged from the md5 form
    (md5(concat) collides exactly when concat is equal, modulo
    cryptographic-collision noise that neither engine has). One long
    key means the candidate self-join probes/sorts a primitive long
    (LongHashedRelation fast path for hashed joins; single 8-byte
    sort key for sort-merge) instead of an (int, string) pair —
    the same ~10x-per-probe win measured for the DV anti-join
    at 60 M rows. Wide configurations that cannot pack
    keep the md5-string key (band_idx then distinguishes bands).
    """
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    packable = _lsh_packable(num_hashes, bands)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if packable:
            key = F.conv(F.concat(*parts), 16, 10).cast("long") + F.lit(
                b << (16 * rows_per_band)
            )
        else:
            key = F.md5(F.concat(*parts).cast("binary"))
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), key.alias("band_key"))
        )
    return signatures.select(
        id_col, F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))


def lsh_candidate_pairs(
    banded: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket.

    Self-equi-join on the bucket id, so co-bucketed docs land on one
    partition — the only place pairs are formed. When band_key is the
    packed long (band_idx riding in its high bits), the join keys on
    that ONE primitive column; the md5-string form joins on the
    (band_idx, band_key) pair. Skew guard: a pathological bucket
    (e.g. thousands of identical docs) concentrates one partition;
    AQE's skew-join split handles it, and the distinct() immediately
    after caps the output.
    """
    a = banded.alias("a")
    b = banded.alias("b")
    same_bucket = F.col("a.band_key") == F.col("b.band_key")
    if dict(banded.dtypes)["band_key"] != "bigint":
        same_bucket = same_bucket & (
            F.col("a.band_idx") == F.col("b.band_idx")
        )
    return (
        a.join(
            b,
            same_bucket & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def estimated_jaccard_pairs(
    candidates: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Jaccard ESTIMATED from minhash agreement — the production
    fallback when exact verification is negotiable: E[#matching
    slots / k] = J(a, b), so the estimate needs only the k-slot
    signatures (tiny fixed-width rows), never the shingle arrays.
    At sf1 the exact verify stage (two array joins +
    array_intersect/union over 300k candidate pairs) is 2.2 s of the
    3.9 s headline; this path replaces it with two slim signature
    joins — the classic accuracy/cost dial (k controls the
    estimator's ±1/√k noise).

    Output: (doc_a, doc_b, est_jaccard). Join the exact verifier on
    the same pairs to calibrate (dedup_minhash_estimate does, and
    pins the mean absolute error cross-engine)."""
    sa = signatures.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"h{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    sb = signatures.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"h{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / num_hashes).alias("est_jaccard"),
        )
    )


def verified_jaccard_pairs(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on the candidate pairs only.

    Joins the (small) candidate set to the shingle arrays twice, then
    computes |∩|/|∪| with native array ops. Both joins broadcast the
    candidate side when it is small (the common case); the arrays
    never shuffle more than once each.
    """
    sa = shingled.select(
        F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection: (doc_a, doc_b, jaccard).

    Two physical-plan decisions that matter at scale:
    - the input is hash-repartitioned on the doc id before shingling,
      so the explode+md5 work spreads over all cores even when the
      source is a handful of parquet files (a single small file would
      otherwise serialize the whole signature stage);
    - the shingled relation feeds three consumers (signatures + both
      sides of the verify join), so it is persisted once instead of
      re-deriving the explode pipeline three times.
    """
    sc = df.sparkSession.sparkContext
    df = df.repartition(sc.defaultParallelism, id_col)
    shingled = scoped_persist(
        shingle_docs(df, text_col, id_col, n), "dedup.minhash.shingled"
    )
    sigs = minhash_signatures(shingled, id_col, num_hashes)
    # The banded relation (one ~50-byte row per doc per band) feeds
    # both sides of the candidate self-join; persisting it stops Spark
    # from deriving the whole signature pipeline twice.
    banded = scoped_persist(
        lsh_bands(sigs, id_col, num_hashes, bands), "dedup.minhash.banded"
    )
    cands = lsh_candidate_pairs(banded, id_col)
    return verified_jaccard_pairs(cands, shingled, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash (Charikar '02): per-doc b-bit fingerprint where bit i is the
# sign of the weighted sum of token-hash bits. Near-dups have small
# Hamming distance; identical fingerprints are the candidate buckets.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _nibble_value(hexchar: Column) -> Column:
    """hex char → 0..15 via position in the hex alphabet (no UDF, and
    reproducible in any engine with strpos)."""
    return F.instr(F.lit("0123456789abcdef"), hexchar) - 1


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash LONG): b-bit simhash over whitespace tokens.

    Token hash = first b bits of md5(token) (nibble-decoded from hex —
    portable across engines). One explode to (doc, token), one explode
    over bit positions, one groupBy(doc, bit) partial-sum, one
    groupBy(doc) reassembly: two shuffles total, both on small rows.
    """
    assert bits % 4 == 0
    nibbles = bits // 4
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tok = tok.withColumn("th", F.md5(F.col("token").cast("binary")))
    # nibble-decode the first `nibbles` hex chars into a b-bit int
    val = F.lit(0).cast("long")
    for i in range(nibbles):
        val = val * 16 + _nibble_value(F.substring("th", i + 1, 1)).cast("long")
    tok = tok.select(id_col, val.alias("hbits"))
    pos = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("pos")
    bitrows = tok.select(id_col, "hbits", pos).select(
        id_col,
        "pos",
        F.when(F.expr("(shiftright(hbits, pos) & 1) = 1"), 1).otherwise(-1).alias("w"),
    )
    bitsums = bitrows.groupBy(id_col, "pos").agg(F.sum("w").alias("s"))
    fp = bitsums.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )
    return fp


def simhash_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """Buckets of docs with identical simhash — candidate dup groups."""
    return (
        simhash(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Dup CLUSTERS from dup PAIRS: connected components by min-label
    propagation. Returns (node, component) where component is the
    minimum node id reachable — a canonical, deterministic cluster id.

    Iterative (genuinely non-SQL-single-pass): each round every node
    offers its current label to its neighbors and keeps the minimum;
    converges in O(graph diameter) rounds. Near-dup graphs are piles
    of small dense clusters, so diameter is tiny; for adversarial
    long-chain graphs swap in the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14) —
    same per-round plan shape.

    Scale discipline: one equi-join shuffle + one min-aggregate
    shuffle per round, both on node id; `localCheckpoint` after every
    round truncates the lineage so the plan doesn't grow with the
    iteration count; convergence is detected from sum(component),
    which is strictly decreasing until fixpoint (labels only ever
    decrease), costing one tiny agg instead of an old⋈new diff join.
    """
    from .iterate import fixpoint, materialize

    # Materialize the edge list ONCE: it joins against labels every
    # round, and without this the entire upstream pipeline that
    # produced the pairs (e.g. the LSH candidate self-join + cosine
    # verify) re-executes per iteration. Measured 2.3× on the
    # sf0.01 near-dup graph.
    sym = materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).union(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
    )
    labels = materialize(
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        msgs = sym.join(lbl, sym.s == lbl.node).select(
            F.col("d").alias("node"), "component"
        )
        return (
            lbl.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    # sum(component) is strictly decreasing until the fixpoint (labels
    # only ever decrease) — a one-row probe instead of an old⋈new diff.
    return fixpoint(
        labels,
        step,
        fingerprint=lambda lbl: lbl.agg(F.sum("component")).first()[0],
        max_iter=max_iter,
    )

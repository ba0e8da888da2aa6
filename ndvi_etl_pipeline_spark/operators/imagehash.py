"""Perceptual image hashing + near-duplicate detection — the image
twin of the text dedup family (operators/dedup.py), for the
multimodal training-data surface.

Three standard public fingerprints over the decoded grayscale image:
- aHash: 8×8 mean-threshold (average hash) — fast, coarse.
- dHash: 9×8 horizontal-gradient sign — robust to global brightness.
- pHash: 32×32 DCT-II, top-left 8×8 low-frequency block minus DC,
  median-threshold — the scheme JPEG's own energy compaction
  motivates, robust to recompression/resize/small noise (the
  dominant near-dup modes in crawled image corpora).

Scale design: hashing is a narrow Arrow kernel (arrow_kernels.map_rows:
one decode + one 32×32 DCT per image — payloads never shuffle). Pairing
is the SAME banded-blocking shape as MinHash-LSH: the 64-bit hash
splits into B bands; by pigeonhole any pair within Hamming distance
< B collides on ≥1 band, so candidates form on a plain (band, value)
equi-join — never an all-pairs cross — and the exact popcount
verification (`bit_count(a ^ b)`, JVM-side) runs on candidates only.
At 100 TB: one narrow kernel pass + one banded self-join on small
(id, band, long) rows, identical to the proven text-LSH plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrow_kernels import map_rows

# orthonormal DCT-II basis, N=32 (same construction as the 8x8 basis
# in operators/jpeg.py, which pHash's low-frequency block mirrors)
_N = 32
_DCT32 = np.zeros((_N, _N))
for _u in range(_N):
    _c = np.sqrt(1.0 / _N) if _u == 0 else np.sqrt(2.0 / _N)
    for _x in range(_N):
        _DCT32[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / (2 * _N))

HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _to_gray(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    if a.ndim == 3 and a.shape[2] >= 3:
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    if a.ndim == 3:
        return a[..., 0]
    return a


def _coverage_matrix(n_src: int, n_out: int) -> np.ndarray:
    """(n_out, n_src) row-normalized fractional-coverage weights:
    output cell i averages source interval [i·s, (i+1)·s), s =
    n_src/n_out, with partial cells weighted by overlap — exact area
    averaging in BOTH directions (down- and up-sampling), no
    interpolation-convention ambiguity."""
    s = n_src / n_out
    W = np.zeros((n_out, n_src))
    for i in range(n_out):
        lo, hi = i * s, (i + 1) * s
        r0, r1 = int(np.floor(lo)), min(int(np.ceil(hi)), n_src)
        for r in range(r0, r1):
            W[i, r] = min(hi, r + 1) - max(lo, r)
    return W / W.sum(axis=1, keepdims=True)


def _area_resample(gray: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Exact area-average resample to (oh, ow): Wy · gray · Wxᵀ with
    fractional-coverage weight matrices — the scale-invariance pHash
    relies on (a 2× downscale of the source hashes ~identically)."""
    h, w = gray.shape
    return _coverage_matrix(h, oh) @ gray @ _coverage_matrix(w, ow).T


def _bits_to_long(bits: np.ndarray) -> int:
    """64 boolean values (row-major) → signed int64 (MSB first)."""
    v = 0
    for b in bits.ravel():
        v = (v << 1) | int(b)
    # wrap to signed 64-bit so it fits Spark's LongType
    return v - (1 << 64) if v >= (1 << 63) else v


def compute_hashes(arr: np.ndarray) -> tuple[int, int, int]:
    """(ahash, dhash, phash) of one decoded uint8 image."""
    gray = _to_gray(arr)
    g8 = _area_resample(gray, 8, 8)
    ahash = _bits_to_long(g8 > g8.mean())
    g98 = _area_resample(gray, 8, 9)
    dhash = _bits_to_long(g98[:, 1:] > g98[:, :-1])
    g32 = _area_resample(gray, 32, 32)
    coef = _DCT32 @ g32 @ _DCT32.T
    low = coef[:8, :8].ravel()
    rest = low[1:]  # drop DC: it only encodes global brightness
    med = np.median(rest)
    phash = _bits_to_long(np.concatenate([[False], rest > med]))
    return ahash, dhash, phash


def image_hashes(media: DataFrame) -> DataFrame:
    """(media_id, ahash, dhash, phash) for every image row. Decodes
    via the full codec dispatch (raw/BMP/PPM/PNG/JPEG)."""
    from .multimodal import decode_image

    def kernel(row):
        yield (row.media_id, *compute_hashes(decode_image(bytes(row.payload), row.meta)))

    return map_rows(media.filter(F.col("media_type") == "image"), kernel, HASH_SCHEMA)


def phash_neardup_pairs(
    hashes: DataFrame,
    hash_col: str = "phash",
    id_col: str = "media_id",
    max_distance: int = 10,
    bands: int = 16,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(hash) ≤ max_distance.

    Banded blocking: the 64-bit hash splits into `bands` equal slices;
    a pair within distance < bands must agree on at least one slice
    (pigeonhole), so recall is exact for max_distance ≤ bands − 1.
    Candidates form on a (band_idx, band_val) self equi-join — the
    LSH plan shape — then `bit_count(xor)` verifies exactly, all
    JVM-side. Output is deduplicated (id_a < id_b)."""
    if max_distance >= bands:
        raise ValueError(
            f"banded blocking guarantees recall only for max_distance < bands "
            f"(got distance {max_distance}, bands {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"),
    ).withColumn(
        "bv", F.expr(f"shiftright(h, b * {width})").bitwiseAND(F.lit(mask))
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "b", "bv"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "b", "bv"
    )
    cand = (
        a.join(b, ["b", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(h_a ^ h_b)").cast("int"))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )

"""Property-based tests (hypothesis) for the engine's numeric kernels.

The reference has no randomized testing (SURVEY §5.5); these cover the
driver-side numpy kernels — the pieces where a silent numeric bug
would corrupt results without failing any fixed-fixture test. All
pure-Python/numpy: no SparkSession, so hundreds of examples run in
seconds.
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ndvi_etl_pipeline_spark.functions.geo import _ray_cast_numpy
from ndvi_etl_pipeline_spark.operators import tiff as TF
from ndvi_etl_pipeline_spark.operators.warp import bilinear_sample

finite_f = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)


def _scalar_ray_cast(px: float, py: float, ring: np.ndarray) -> bool:
    """Independent even-odd reference implementation (scalar loop)."""
    xs, ys = ring[0::2], ring[1::2]
    n = len(xs)
    inside = False
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if y1 == y2:
            continue
        if (y1 > py) != (y2 > py):
            x_at = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < x_at:
                inside = not inside
    return inside


# a near-horizontal edge must not divide for points it does not straddle
@pytest.mark.filterwarnings("error::RuntimeWarning")
@settings(max_examples=60, deadline=None)
@given(
    ring_pts=st.lists(
        st.tuples(
            st.floats(min_value=-50, max_value=50, allow_nan=False),
            st.floats(min_value=-50, max_value=50, allow_nan=False),
        ),
        min_size=3,
        max_size=9,
    ),
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-60, max_value=60, allow_nan=False),
            st.floats(min_value=-60, max_value=60, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_ray_cast_matches_scalar_reference(ring_pts, pts):
    ring = np.asarray([c for p in ring_pts for c in p], dtype=np.float64)
    px = np.asarray([p[0] for p in pts])
    py = np.asarray([p[1] for p in pts])
    got = _ray_cast_numpy(px, py, ring)
    for i in range(len(pts)):
        assert got[i] == _scalar_ray_cast(px[i], py[i], ring), (pts[i], ring_pts)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_fp_predictor_inverts(h, w, seed):
    rng = np.random.default_rng(seed)
    a = rng.normal(size=(h, w)).astype(np.float32)
    a[rng.random(size=(h, w)) < 0.1] = np.nan
    diff = np.frombuffer(TF._apply_predictor(a, 3), dtype=np.uint8).reshape(h, 4 * w)
    back = TF._undo_predictor(diff, 3, fp_itemsize=4)
    np.testing.assert_array_equal(back, a)


@settings(max_examples=40, deadline=None)
@given(
    gy=st.floats(min_value=-5, max_value=5, allow_nan=False),
    gx=st.floats(min_value=-5, max_value=5, allow_nan=False),
    c=st.floats(min_value=-100, max_value=100, allow_nan=False),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bilinear_exact_on_affine_fields(gy, gx, c, seed):
    """Bilinear interpolation reproduces any affine field exactly
    (up to FP rounding) at arbitrary in-range sample points."""
    h, w = 12, 15
    yy, xx = np.mgrid[0:h, 0:w]
    src = (gy * yy + gx * xx + c).astype(np.float64)
    rng = np.random.default_rng(seed)
    sy = rng.uniform(0, h - 1.001, size=20)
    sx = rng.uniform(0, w - 1.001, size=20)
    got = bilinear_sample(src, sy, sx)
    want = gy * sy + gx * sx + c
    scale = max(1.0, np.abs(want).max())
    assert np.all(np.abs(got - want) <= 1e-9 * scale)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=70),
    w=st.integers(min_value=1, max_value=70),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    tiled=st.booleans(),
    dtype=st.sampled_from(["float32", "uint16"]),
    differencing=st.booleans(),
    compression=st.sampled_from(["none", "lzw", "deflate"]),
)
def test_geotiff_roundtrip_any_shape(
    h, w, seed, tiled, dtype, differencing, compression, tmp_path_factory
):
    """Striped: `write_geotiff` → `read_geotiff`. Tiled: `write_tiff`'s
    tile layout over dtype × predictor × compression → the same
    decoder (`decode_geotiff_bytes`, integer samples cast to float32)."""
    from ndvi_etl_pipeline_spark.operators.raster import (
        NODATA,
        decode_geotiff_bytes,
        read_geotiff,
        write_geotiff,
    )

    rng = np.random.default_rng(seed)
    if dtype == "float32":
        a = rng.normal(size=(h, w)).astype(np.float32) * 1000
        a[rng.random(size=(h, w)) < 0.05] = np.nan
    else:
        a = rng.integers(0, 65536, size=(h, w), dtype=np.uint16)
    if tiled:
        predictor = (3 if dtype == "float32" else 2) if differencing else 1
        blob = TF.write_tiff(
            a, tile=32, compression=compression, predictor=predictor, nodata=NODATA
        )
        back, meta = decode_geotiff_bytes(blob)
    else:
        p = str(tmp_path_factory.mktemp("gt") / "x.tif")
        write_geotiff(a, p)
        back, meta = read_geotiff(p)
    np.testing.assert_array_equal(back, a.astype(np.float32))
    assert not math.isnan(meta["nodata"])


@settings(max_examples=60, deadline=None)
@given(
    a=st.floats(min_value=-5, max_value=5, allow_nan=False),
    b=st.floats(min_value=-5, max_value=5, allow_nan=False),
    c=st.floats(min_value=-10, max_value=10, allow_nan=False),
)
def test_sobel_exact_on_linear_fields(a, b, c):
    """Sobel of v = a·x + b·y + c is exactly 8·hypot(a, b) everywhere
    (the kernel's discrete derivative is exact for linear fields)."""
    from ndvi_etl_pipeline_spark.operators.focal import sobel_magnitude

    yy, xx = np.mgrid[0:12, 0:14]
    field = a * xx + b * yy + c
    got = sobel_magnitude(field.astype(np.float64))
    np.testing.assert_allclose(got, 8.0 * math.hypot(a, b), rtol=1e-9, atol=1e-9)


@settings(max_examples=60, deadline=None)
@given(
    a=st.floats(min_value=-5, max_value=5, allow_nan=False),
    b=st.floats(min_value=-5, max_value=5, allow_nan=False),
    c=st.floats(min_value=-10, max_value=10, allow_nan=False),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_focal_mean_identity_on_linear_fields_any_mask(a, b, c, seed):
    """3×3 nanmean reproduces a linear field exactly at every pixel
    whose window is FULLY valid (symmetric window ⇒ mean = center);
    random NaN holes only affect windows that touch them."""
    from ndvi_etl_pipeline_spark.operators.focal import focal_mean_3x3

    yy, xx = np.mgrid[0:12, 0:14]
    field = (a * xx + b * yy + c).astype(np.float64)
    rng = np.random.RandomState(seed)
    mask = rng.rand(*field.shape) < 0.15
    holed = field.copy()
    holed[mask] = np.nan
    got = focal_mean_3x3(holed)
    full = ~mask
    window_full = (
        full[:-2, :-2] & full[:-2, 1:-1] & full[:-2, 2:]
        & full[1:-1, :-2] & full[1:-1, 1:-1] & full[1:-1, 2:]
        & full[2:, :-2] & full[2:, 1:-1] & full[2:, 2:]
    )
    np.testing.assert_allclose(
        got[window_full], field[1:-1, 1:-1][window_full], rtol=1e-9, atol=1e-9
    )


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    gray=st.booleans(),
    subsample=st.sampled_from(["444", "420"]),
    ri=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_q100_roundtrip_bounded(h, w, gray, subsample, ri, seed):
    """Baseline JPEG at q=100 (all-ones quantization): any image of
    any size — including 1×1 and non-multiple-of-MCU dims — survives
    encode→decode within the DCT rounding envelope (±3 gray, ±5
    chroma-subsampled), with the declared dimensions, through every
    subsampling/restart-interval combination."""
    from ndvi_etl_pipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    if gray:
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=100, restart_interval=ri))
        assert out.shape == (h, w, 1)
        assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 3
    else:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(
            encode_jpeg(img, quality=100, subsample=subsample, restart_interval=ri)
        )
        assert out.shape == (h, w, 3)
        if subsample == "444":
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 5
        # 4:2:0 chroma is box-averaged, so only luma is pointwise-bounded —
        # and only at pixels where no RGB channel clipped at 0/255 (clipping
        # of chroma-error-driven excursions leaks into the recomputed luma;
        # a clipped channel decodes to exactly 0 or 255, so mask those out).
        luma = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        oluma = 0.299 * out[..., 0] + 0.587 * out[..., 1] + 0.114 * out[..., 2]
        unclipped = ((out > 0) & (out < 255)).all(axis=-1)
        if unclipped.any():
            assert np.abs(oluma - luma)[unclipped].max() <= 4.5



# ---------------------------------------------------------------------------
# unigram-LM tokenizer: Spark Viterbi-EM vs an independent Python replay
# ---------------------------------------------------------------------------


def _uni_ref_train(word_cnt, vocab_size, n_iters=2, max_piece=4):
    """Independent driver-side replay of operators/selection's
    unigram EM: same seeding, same rounded log-probs, same
    (score, piece-length) tie-breaks."""
    import math

    sub_cnt = {}
    for w, c in word_cnt.items():
        for i in range(len(w)):
            for L in range(1, min(max_piece, len(w) - i) + 1):
                sub_cnt[w[i : i + L]] = sub_cnt.get(w[i : i + L], 0) + c
    chars = {p for p in sub_cnt if len(p) == 1}
    multi = sorted(
        (p for p in sub_cnt if len(p) > 1), key=lambda p: (-sub_cnt[p], p)
    )[: max(0, vocab_size - len(chars))]
    vocab = sorted(chars | set(multi))
    cnts = {p: sub_cnt[p] for p in vocab}

    def to_logp(c):
        tot = sum(c.values())
        return {
            p: float(f"{math.log(c[p] + 1) - math.log(tot + len(vocab)):.9f}")
            for p in vocab
        }

    def viterbi(word, logp):
        NEG = -1e18
        best = [(0.0, 0)] + [(NEG * 4, 0)] * len(word)
        for i in range(1, len(word) + 1):
            cands = []
            for k in range(1, min(max_piece, i) + 1):
                lp = logp.get(word[i - k : i])
                cands.append(
                    (best[i - k][0] + (lp if lp is not None else NEG), k)
                )
            best[i] = max(cands)
        if best[len(word)][0] < -1e17:
            return None
        pieces, i = [], len(word)
        while i > 0:
            k = best[i][1]
            pieces.append(word[i - k : i])
            i -= k
        return pieces

    logp = to_logp(cnts)
    for _ in range(n_iters):
        em = dict.fromkeys(vocab, 0)
        for w, c in word_cnt.items():
            for p in viterbi(w, logp) or []:
                em[p] += c
        cnts = em
        logp = to_logp(cnts)
    return cnts, logp


@given(
    st.dictionaries(
        st.text(alphabet="abc", min_size=2, max_size=9),
        st.integers(min_value=1, max_value=5),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=4, max_value=10),
)
@settings(max_examples=12, deadline=None)
def test_unigram_em_matches_reference_on_any_corpus(spark, word_cnt, vocab_size):
    from ndvi_etl_pipeline_spark.operators.selection import unigram_em_pieces

    words = spark.createDataFrame(
        list(word_cnt.items()), "word string, cnt long"
    )
    got = {
        r.piece: (r.em_cnt, r.logp)
        for r in unigram_em_pieces(words, vocab_size=vocab_size).collect()
    }
    cnts, logp = _uni_ref_train(word_cnt, vocab_size)
    assert set(got) == set(cnts)
    for p in cnts:
        assert got[p][0] == cnts[p], (p, got[p], cnts[p], word_cnt)
        assert got[p][1] == logp[p], (p, got[p], logp[p], word_cnt)

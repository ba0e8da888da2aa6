"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (the training-data-pipeline surface; raster.py is the same
pattern specialized to georeferenced float32).

Design (mirrors how 100 TB multimodal lakes are actually laid out):
- payload rides a BinaryType column — opaque to Catalyst, so shuffles
  and scans move bytes without serialization cost; metadata is a
  typed STRUCT Catalyst can filter/prune on WITHOUT touching the
  payload (e.g. `meta.width >= 256` prunes at scan time).
- kernels cross through the engine's Arrow boundary
  (operators/arrow_kernels.py `map_rows`) over raw numpy views. The
  "raw" format (dtype-tagged packed arrays) is fully implemented —
  decode, resize, frame-sample, feature-extract all run for real —
  and so are the pure-spec codecs: BMP, PPM, PNG, WAV, and JPEG
  (operators/jpeg.py — baseline SOF0 and, since round 4, progressive
  SOF2 with successive approximation plus 12-bit SOF1). WebP routes
  through operators/webp.py since round 5: container/dimension/
  feature parsing is pure spec, pixel decode binds the system
  libwebp C ABI via ctypes (no pip). Only the exotic JPEG profiles
  (arithmetic coding / hierarchical) — and WebP pixels on a host
  without libwebp — still need a codec library: `decode` raises
  NotImplementedError for them unless PIL/libwebp is present,
  keeping the boundary honest and explicit.

Batch-shape discipline: the boundary writes an output batch each
time a kernel's rows reach the input batch's row count, so 1:1
kernels (features, resize, scan) write one batch per input batch and
row-MULTIPLYING kernels (patchify, frame-sample) hold at most one
input batch's worth of output rows plus one payload's expansion,
never O(batch × expansion). Arrow batch size itself is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .arrow_kernels import local_df, map_rows

try:  # optional codec path, absent in this container
    from PIL import Image  # type: ignore

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

META_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),      # raw | jpeg | png | pcm16 | rawvideo
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", META_TYPE),
    ]
)


# ---------------------------------------------------------------------------
# deterministic synthetic media (test corpus generator)
# ---------------------------------------------------------------------------


def synthesize_media(
    spark,
    n_images: int = 8,
    n_audio: int = 4,
    n_video: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Deterministic fake corpus in the REAL raw formats: images are
    uint8 H×W×C, audio is int16 PCM, video is n_frames stacked raw
    frames. Payload bytes derive from a seeded RNG so every test run
    sees identical data."""
    rng = np.random.default_rng(seed)
    rows = []
    mid = 0
    for _ in range(n_images):
        h, w, c = int(rng.integers(16, 48)), int(rng.integers(16, 48)), 3
        arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        rows.append((mid, "image", bytearray(arr.tobytes()), ("raw", w, h, c, None, None)))
        mid += 1
    for _ in range(n_audio):
        sr, n = 16000, int(rng.integers(800, 1600))
        pcm = (rng.normal(0, 3000, size=n)).astype(np.int16)
        rows.append((mid, "audio", bytearray(pcm.tobytes()), ("pcm16", None, None, 1, sr, None)))
        mid += 1
    for _ in range(n_video):
        h, w, c, nf = 24, 32, 3, int(rng.integers(8, 16))
        vid = rng.integers(0, 256, size=(nf, h, w, c), dtype=np.uint8)
        rows.append((mid, "video", bytearray(vid.tobytes()), ("rawvideo", w, h, c, None, nf)))
        mid += 1
    return local_df(spark, rows, MEDIA_SCHEMA)


def _raw_image(row) -> np.ndarray:
    m = row.meta
    return np.frombuffer(row.payload, dtype=np.uint8).reshape(
        m["height"], m["width"], m["channels"]
    )


def decode_image(payload: bytes, meta) -> np.ndarray:
    """Decode one image payload to uint8 HWC.

    Natively decoded (pure spec, no libraries): `raw` planes, BMP
    (uncompressed BI_RGB 24/32-bit, the Windows DIB layout —
    bottom-up rows, BGR order, 4-byte row padding), binary PPM (P6),
    PNG (8-bit gray/RGB/RGBA, non-interlaced — zlib inflate + the
    five scanline filters), and JPEG (operators/jpeg.py: huffman +
    IDCT, grayscale/4:4:4/4:2:2/4:2:0, restart markers, baseline
    SOF0, progressive SOF2, and 12-bit SOF1 — together the
    dominant real-world training-image formats). WebP decodes via
    operators/webp.py (pure-spec container parsing + the system
    libwebp ABI for pixels; animated files and hosts without libwebp
    raise). The stub boundary now covers only the exotic JPEG
    profiles (arithmetic coding / hierarchical), which require PIL
    (NotImplementedError otherwise)."""
    fmt = meta["format"]
    if fmt == "raw":
        return np.frombuffer(payload, dtype=np.uint8).reshape(
            meta["height"], meta["width"], meta["channels"]
        )
    if fmt == "bmp" or payload[:2] == b"BM":
        return decode_bmp(payload)
    if fmt == "ppm" or payload[:2] == b"P6":
        return decode_ppm(payload)
    if fmt == "png" or payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if fmt == "webp" or (payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"):
        from .webp import decode_webp

        return decode_webp(payload)
    if fmt == "jpeg" or payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        try:
            arr = decode_jpeg(payload)
            if arr.dtype == np.uint16:
                # 12-bit SOF1 frame: this function's contract (and every
                # downstream kernel — resize clips to 0..255) is uint8,
                # so downscale the 0..4095 range EXPLICITLY rather than
                # letting a later cast silently wrap. Callers that need
                # the full 12-bit precision use jpeg.decode_jpeg direct.
                arr = (arr >> 4).astype(np.uint8)
            return arr
        except NotImplementedError:
            if not HAVE_PIL:
                raise  # arithmetic-coded/hierarchical without PIL
    if HAVE_PIL:
        import io

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    raise NotImplementedError(
        f"decoding {fmt!r} requires an image codec library (PIL) — "
        "install pillow or pre-decode to format='raw'"
    )


# ---------------------------------------------------------------------------
# pure-spec codecs: BMP (BI_RGB), binary PPM (P6), WAV (RIFF PCM16)
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed BI_RGB 24/32-bit BMP → uint8 HWC RGB. Handles the
    DIB quirks: bottom-up row order (positive height), BGR channel
    order, rows padded to 4 bytes."""
    import struct as _s

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = _s.unpack_from("<I", payload, 10)
    (hdr_sz,) = _s.unpack_from("<I", payload, 14)
    if hdr_sz < 40:
        raise ValueError("BMP core headers unsupported (need BITMAPINFOHEADER)")
    w, h_signed = _s.unpack_from("<ii", payload, 18)
    planes, bpp = _s.unpack_from("<HH", payload, 26)
    (compression,) = _s.unpack_from("<I", payload, 30)
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP compression={compression} bpp={bpp}")
    h = abs(h_signed)
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if h_signed > 0:  # bottom-up storage
        rows = rows[::-1]
    rgb = rows[:, :, 2::-1]  # BGR(A) → RGB
    return np.ascontiguousarray(rgb)


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 HWC RGB → 24-bit BI_RGB BMP (bottom-up, BGR, padded)."""
    import struct as _s

    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_bmp expects HWC RGB")
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip rows, RGB→BGR
    data = body.tobytes()
    off = 14 + 40
    header = b"BM" + _s.pack("<IHHI", off + len(data), 0, 0, off)
    dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → uint8 HWC RGB. Whitespace/comment-tolerant
    header per the netpbm spec. maxval > 255 (two-byte big-endian
    samples, up to 16-bit) is down-scaled to uint8 with rounding —
    the same explicit range reduction decode_image applies to 12-bit
    JPEG, keeping the uint8 kernel pipeline's contract honest."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 65535 or maxval < 1:
        raise ValueError(f"PPM maxval {maxval} out of spec")
    if maxval > 255:
        wide = (
            np.frombuffer(payload, dtype=">u2", count=w * h * 3, offset=pos)
            .reshape(h, w, 3)
            .astype(np.uint32)
        )
        return ((wide * 255 + maxval // 2) // maxval).astype(np.uint8)
    return (
        np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_ppm expects HWC RGB")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → uint8 HWC (8-bit grayscale / RGB / RGBA, non-interlaced)
    in pure Python: chunk walk, zlib inflate of the IDAT stream, then
    the five scanline filters (None/Sub/Up/Average/Paeth) undone
    row-by-row — PNG's only compression is DEFLATE, so the stdlib
    covers it; no entropy coder of its own (unlike JPEG)."""
    import struct as _s
    import zlib as _z

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = _s.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = _s.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} interlace={interlace} (8-bit "
            "non-interlaced only)"
        )
    nch = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if nch is None:
        raise NotImplementedError(f"PNG color_type={color_type} (palette needs PLTE)")
    raw = _z.decompress(bytes(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line
            for x in range(nch, stride):
                cur[x] = (int(cur[x]) + int(cur[x - nch])) & 0xFF
        elif ftype == 2:  # Up
            cur = (line.astype(np.int64) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            cur = line
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                cur[x] = (int(cur[x]) + (a + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(cur[x]) + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    return out.reshape(h, w, nch)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 HW / HWC → 8-bit PNG. `filter_type` 0 (None) or 2 (Up)
    per scanline — enough to exercise both decode paths in tests."""
    import struct as _s
    import zlib as _z

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    rows = bytearray()
    prev = np.zeros(w * nch, dtype=np.uint8)
    for y in range(h):
        line = a[y].reshape(-1)
        if filter_type == 0:
            rows.append(0)
            rows += line.tobytes()
        elif filter_type == 2:
            rows.append(2)
            rows += ((line.astype(np.int64) - prev) & 0xFF).astype(np.uint8).tobytes()
            prev = line
        else:
            raise ValueError("encode_png supports filter 0 or 2")
    comp = _z.compress(bytes(rows), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + ctype
            + body
            + _s.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp)
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (int16 samples [n, channels] squeezed to 1-D for
    mono, sample_rate). Walks chunks per the RIFF spec (fmt may not
    be first; LIST/fact chunks are skipped). Accepts PCM 8/16/24/32
    bit, IEEE float 32/64 (format 3), and WAVE_FORMAT_EXTENSIBLE
    (0xFFFE — dispatched on the SubFormat GUID's leading format
    code); everything lands on the pipeline's int16 contract:
    unsigned 8-bit recenters, 24/32-bit keep their top 16 bits,
    floats clip to [-1, 1] and scale to ±32767."""
    import struct as _s

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    fmt_body = b""
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (sz,) = _s.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = _s.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_fmt == 0xFFFE:
        # EXTENSIBLE: fmt = base(16) + cbSize(2) + validBits(2) +
        # channelMask(4) + SubFormat GUID; the GUID's first two bytes
        # are the underlying format code
        if len(fmt_body) < 26:
            raise ValueError("EXTENSIBLE fmt chunk truncated")
        (audio_fmt,) = _s.unpack_from("<H", fmt_body, 24)
    if audio_fmt == 1:  # integer PCM
        if bits == 16:
            pcm = np.frombuffer(data, dtype="<i2")
        elif bits == 8:  # unsigned per spec
            pcm = ((np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) << 8)
        elif bits == 24:
            raw = np.frombuffer(data, dtype=np.uint8)
            raw = raw[: (len(raw) // 3) * 3].reshape(-1, 3)
            # little-endian: the top 16 bits are bytes 1..2
            pcm = (raw[:, 1].astype(np.uint16) | (raw[:, 2].astype(np.uint16) << 8)).astype(np.int16)
        elif bits == 32:
            pcm = (np.frombuffer(data, dtype="<i4") >> 16).astype(np.int16)
        else:
            raise NotImplementedError(f"WAV PCM bits={bits}")
    elif audio_fmt == 3:  # IEEE float
        if bits == 32:
            f = np.frombuffer(data, dtype="<f4")
        elif bits == 64:
            f = np.frombuffer(data, dtype="<f8")
        else:
            raise NotImplementedError(f"WAV float bits={bits}")
        pcm = np.clip(f, -1.0, 1.0)
        pcm = np.round(pcm * 32767.0).astype(np.int16)
    else:
        raise NotImplementedError(
            f"WAV format={audio_fmt} needs a codec library (PCM and "
            "IEEE-float are native)"
        )
    if n_ch > 1:
        pcm = pcm[: (len(pcm) // n_ch) * n_ch].reshape(-1, n_ch)
    return pcm, rate


def encode_wav(pcm: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono/stereo → RIFF/WAVE PCM16."""
    import struct as _s

    a = np.asarray(pcm, dtype="<i2")
    n_ch = 1 if a.ndim == 1 else a.shape[1]
    data = a.tobytes()
    fmt = _s.pack("<HHIIHH", 1, n_ch, sample_rate, sample_rate * 2 * n_ch, 2 * n_ch, 16)
    riff = (
        b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        + b"data" + _s.pack("<I", len(data)) + data
    )
    return b"RIFF" + _s.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("std_luma", T.DoubleType()),
        T.StructField("hist16", T.ArrayType(T.LongType())),  # 16-bin luma histogram
        T.StructField("entropy", T.DoubleType()),
    ]
)


def _raw_meta(w: int, h: int, c: int) -> dict:
    return {
        "format": "raw", "width": w, "height": h, "channels": c,
        "sample_rate": None, "n_frames": None,
    }


def image_features(media: DataFrame) -> DataFrame:
    """Per-image features over the decoded array: luma mean/std,
    16-bin histogram, Shannon entropy. Metadata-only predicates should
    be applied BEFORE this (payloads of filtered rows are never read —
    struct pruning keeps them out of the scan)."""

    def kernel(row):
        arr = decode_image(bytes(row.payload), row.meta)
        # luma: BT.601 for >=3 channels; channel 0 for gray(+alpha) —
        # PNG color type 4 decodes to (h, w, 2), which a bare
        # reshape-to-(h, w) would crash on.
        if arr.ndim == 3 and arr.shape[2] >= 3:
            luma = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
        elif arr.ndim == 3:
            luma = arr[..., 0].astype(np.float64)
        else:
            luma = arr.astype(np.float64)
        hist, _ = np.histogram(luma, bins=16, range=(0, 256))
        p = hist / max(hist.sum(), 1)
        ent = float(-(p[p > 0] * np.log2(p[p > 0])).sum())
        yield (
            row.media_id, int(row.meta["width"]), int(row.meta["height"]),
            float(luma.mean()), float(luma.std()), hist.astype(np.int64).tolist(), ent,
        )

    return map_rows(media.filter(F.col("media_type") == "image"), kernel, IMAGE_FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Bilinear resize of raw images to (out_h, out_w) — the standard
    pre-training normalization step. Same interpolation math as
    operators/warp.py, applied channel-wise on uint8."""
    from .warp import bilinear_sample

    def kernel(row):
        arr = decode_image(bytes(row.payload), row.meta).astype(np.float64)
        h, w, c = arr.shape
        jj, ii = np.meshgrid(np.arange(out_w), np.arange(out_h))
        sy = np.clip((ii.ravel() + 0.5) * (h / out_h) - 0.5, 0, h - 1.001)
        sx = np.clip((jj.ravel() + 0.5) * (w / out_w) - 0.5, 0, w - 1.001)
        out = np.stack(
            [bilinear_sample(arr[..., ch], sy, sx).reshape(out_h, out_w) for ch in range(c)],
            axis=-1,
        )
        out8 = np.clip(np.round(out), 0, 255).astype(np.uint8)
        yield row.media_id, "image", out8.tobytes(), _raw_meta(out_w, out_h, c)

    return map_rows(media.filter(F.col("media_type") == "image"), kernel, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Video → every k-th frame as an image row (media_id preserved,
    frame index appended). The output is a plain image corpus, so the
    whole image pipeline composes downstream."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def kernel(row):
        m = row.meta
        nf, h, w, c = m["n_frames"], m["height"], m["width"], m["channels"]
        vid = np.frombuffer(row.payload, dtype=np.uint8).reshape(nf, h, w, c)
        for fi in range(0, nf, every_k):
            yield row.media_id, fi, vid[fi].tobytes(), _raw_meta(w, h, c)

    return map_rows(media.filter(F.col("media_type") == "video"), kernel, schema)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """PCM16 audio features: duration, RMS, peak, zero-crossing count."""

    def kernel(row):
        pcm, rate = _audio_pcm(row)
        x = pcm.astype(np.float64)
        yield (
            row.media_id,
            len(pcm),
            len(pcm) / rate,
            float(np.sqrt((x**2).mean())) if len(pcm) else 0.0,
            int(np.abs(pcm).max()) if len(pcm) else 0,
            int(((pcm[:-1] >= 0) != (pcm[1:] >= 0)).sum()),
        )

    return map_rows(media.filter(F.col("media_type") == "audio"), kernel, AUDIO_FEATURE_SCHEMA)


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("dominant_bin", T.IntegerType()),
        T.StructField("dominant_hz", T.DoubleType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("rolloff_hz", T.DoubleType()),
        T.StructField("flatness", T.DoubleType()),
    ]
)


def _audio_pcm(row) -> tuple[np.ndarray, int]:
    fmt = row.meta["format"]
    if fmt == "pcm16":
        return np.frombuffer(row.payload, dtype=np.int16), row.meta["sample_rate"]
    if fmt == "wav" or bytes(row.payload[:4]) == b"RIFF":
        pcm, rate = decode_wav(bytes(row.payload))
        if pcm.ndim > 1:
            pcm = pcm.mean(axis=1).astype(np.int16)
        return pcm, rate
    raise NotImplementedError(f"audio format {fmt!r} needs a codec library")


def audio_spectral_features(media: DataFrame, frame: int = 2048) -> DataFrame:
    """FFT-domain audio features per clip: dominant frequency
    (bin + Hz), spectral centroid, 85% rolloff, and spectral flatness
    (geometric/arithmetic mean of the power spectrum — the
    noise-vs-tone discriminator used for audio corpus quality
    screening).

    Power spectrum = mean over non-overlapping `frame`-sample
    rectangular windows (numpy rfft — vectorized over all frames at
    once; DC excluded from the statistics). Trailing samples shorter
    than a frame are dropped; clips shorter than one frame use a
    single zero-padded frame. Arrow-batched kernel; payloads never
    shuffle."""

    def kernel(row):
        pcm, rate = _audio_pcm(row)
        x = pcm.astype(np.float64)
        if len(x) < frame:
            x = np.pad(x, (0, frame - len(x)))
        nf = len(x) // frame
        fr = x[: nf * frame].reshape(nf, frame)
        spec = np.abs(np.fft.rfft(fr, axis=1)) ** 2
        p = spec.mean(axis=0)
        p[0] = 0.0  # exclude DC from all statistics
        freqs = np.fft.rfftfreq(frame, d=1.0 / rate)
        tot = p.sum()
        if tot <= 0:
            dom, cen, roll, flat = 0, 0.0, 0.0, 1.0
        else:
            dom = int(np.argmax(p))
            cen = float((freqs * p).sum() / tot)
            cum = np.cumsum(p)
            roll = float(freqs[int(np.searchsorted(cum, 0.85 * tot))])
            nz = p[1:][p[1:] > 0]
            flat = float(np.exp(np.log(nz).mean()) / nz.mean()) if len(nz) else 1.0
        yield row.media_id, nf, dom, float(freqs[dom]), cen, roll, flat

    return map_rows(media.filter(F.col("media_type") == "audio"), kernel, SPECTRAL_SCHEMA)


MOTION_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_motion", T.DoubleType()),
        T.StructField("max_motion", T.DoubleType()),
        T.StructField("n_cuts", T.IntegerType()),
    ]
)


def video_motion_features(media: DataFrame, cut_threshold: float = 48.0) -> DataFrame:
    """Frame-difference motion statistics per video: mean/max of the
    per-transition mean absolute pixel delta, and the number of hard
    cuts (transitions whose mean delta exceeds `cut_threshold` — the
    classic shot-boundary heuristic). Single-frame videos report zero
    motion. The kernel materializes one video at a time (bounded by
    the largest clip in the batch, not the partition)."""

    def kernel(row):
        m = row.meta
        nf, h, w, c = m["n_frames"], m["height"], m["width"], m["channels"]
        vid = np.frombuffer(row.payload, dtype=np.uint8).reshape(nf, h, w, c).astype(np.float64)
        if nf < 2:
            yield row.media_id, nf, 0.0, 0.0, 0
            return
        deltas = np.abs(np.diff(vid, axis=0)).mean(axis=(1, 2, 3))
        yield (
            row.media_id, nf, float(deltas.mean()), float(deltas.max()),
            int((deltas > cut_threshold).sum()),
        )

    return map_rows(media.filter(F.col("media_type") == "video"), kernel, MOTION_SCHEMA)


PATCH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("patch_row", T.IntegerType()),
        T.StructField("patch_col", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def patchify_images(media: DataFrame, patch: int = 16) -> DataFrame:
    """ViT-style patch extraction: each raw image → a grid of
    patch×patch×C payload rows (row-major patch coordinates), plus the
    per-patch mean intensity so downstream filters (drop blank
    patches, sort by information content) stay JVM-side.

    Images are cropped to the patch grid (⌊h/p⌋×⌊w/p⌋ patches — the
    standard ViT behavior after resize). Same narrow `map_rows` shape
    as the raster tile codec: no shuffle, the patch stream pipelines
    straight into whatever consumes it (dedup, packing, training-shard
    writes)."""

    def kernel(row):
        arr = decode_image(bytes(row.payload), row.meta)
        h, w, c = arr.shape
        for py in range(h // patch):
            for px in range(w // patch):
                blk = arr[py * patch : (py + 1) * patch, px * patch : (px + 1) * patch, :]
                yield (
                    row.media_id, py, px, patch, patch, c,
                    np.ascontiguousarray(blk).tobytes(), float(blk.mean()),
                )

    return map_rows(media.filter(F.col("media_type") == "image"), kernel, PATCH_SCHEMA)


SCAN_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", META_TYPE),
        T.StructField("status", T.StringType()),
        T.StructField("err", T.StringType()),
    ]
)

_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "png", "image"),
    (b"BM", "bmp", "image"),
    (b"P6", "ppm", "image"),
    (b"\xff\xd8", "jpeg", "image"),
)


def sniff_format(payload: bytes) -> tuple[str, str] | None:
    """(format, media_type) from magic bytes, None if unrecognized."""
    for magic, fmt, mt in _MAGIC:
        if payload[: len(magic)] == magic:
            return fmt, mt
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav", "audio"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp", "image"
    return None


def scan_media(spark, path_glob: str, on_error: str = "quarantine") -> DataFrame:
    """`binaryFile` scan over a media directory → validated MEDIA rows
    (the image/audio twin of raster.scan_geotiffs): format sniffed
    from magic bytes, payload DECODED once to validate and to fill
    the typed metadata Catalyst prunes on (width/height/channels or
    sample_rate), original bytes kept as the payload (decode-on-use
    downstream — a 100 TB lake stores compressed).

    `media_id` = first 8 bytes of md5(path) as signed int64 —
    deterministic across runs, collision odds ~n²/2⁶⁴.

    `on_error`: 'quarantine' (default) keeps undecodable/unknown
    files as rows with status='quarantined' and the error text — E1's
    quarantine-not-raise rule, queryable like stac.py's fetch
    statuses; 'skip' drops them; 'raise' fails the task."""
    import hashlib
    import struct as _s

    if on_error not in ("quarantine", "skip", "raise"):
        raise ValueError(f"bad on_error {on_error!r}")
    binf = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def kernel(r):
        payload = bytes(r.content)
        mid = _s.unpack(">q", hashlib.md5(r.path.encode()).digest()[:8])[0]
        meta = {
            "format": None, "width": None, "height": None,
            "channels": None, "sample_rate": None, "n_frames": None,
        }
        sniffed = sniff_format(payload)
        try:
            if sniffed is None:
                raise ValueError("unrecognized format (magic bytes)")
            fmt, mt = sniffed
            if mt == "image":
                arr = decode_image(payload, {"format": fmt})
                meta.update(
                    format=fmt, height=arr.shape[0], width=arr.shape[1],
                    channels=arr.shape[2],
                )
            else:
                pcm, rate = decode_wav(payload)
                meta.update(
                    format=fmt, sample_rate=rate,
                    channels=1 if pcm.ndim == 1 else pcm.shape[1],
                )
            yield r.path, mid, mt, payload, meta, "ok", None
        except Exception as e:  # noqa: BLE001 — quarantine boundary
            if on_error == "raise":
                raise
            if on_error == "quarantine":
                err = f"{type(e).__name__}: {e}"[:200]
                yield r.path, mid, "unknown", payload, meta, "quarantined", err

    return map_rows(binf, kernel, SCAN_MEDIA_SCHEMA)

"""Native VP8L (lossless WebP) decoder — pure spec, zero libraries.

Implements the public WebP Lossless Bitstream Specification (RFC 9649
§3-5; the format libwebp's `WebPEncodeLosslessRGB` emits): LSB-first
bit reading, canonical prefix (Huffman) codes described entirely
in-stream (simple 1/2-symbol codes and code-length-coded normal
codes with 16/17/18 repeat semantics), the LZ77 green/length/distance
alphabet with the 120-entry two-dimensional distance neighborhood
map, the color cache (0x1e35a7bd multiplicative hash), meta-prefix
(huffman-image) group selection, and all four inverse transforms —
predictor (14 spatial predictors on block grids), cross-channel color
transform (signed 3.5 fixed-point green→red/blue, red→blue),
subtract-green, and color indexing (palette, incl. sub-byte pixel
bundling for palettes ≤ 16 entries).

Unlike VP8 lossy — whose entropy decode needs RFC 6386's thousands of
normative probability-table constants (operators/webp.py documents
that boundary) — VP8L carries its entropy model in the bitstream, so
a from-scratch decoder needs only ALGORITHMIC rules. The one table
the spec enumerates, the distance map, is generated here from its
defining rule (the 120 closest (dx, dy ≥ 0) neighbors ordered by
Euclidean distance) and pinned against libwebp-encoded fixtures in
tests/test_multimodal.py.

Sequential entropy decode runs row-major in Python (a parity/fallback
codec — operators/webp.py prefers the libwebp fast path when the
library is present); the inverse transforms are vectorized numpy.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_vp8l", "vp8l_dimensions"]


class _Bits:
    """LSB-first bit reader over bytes (VP8L convention)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        out = 0
        for i in range(n):
            byte = self.data[self.pos >> 3]
            out |= ((byte >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return out


class _Prefix:
    """Canonical prefix code: decode one symbol by walking bits.
    Built from per-symbol code lengths exactly as the spec's
    BuildHuffmanTable — shorter codes first, symbols of equal length
    in increasing order."""

    __slots__ = ("fast", "max_len", "single")

    def __init__(self, lengths: list[int]):
        self.single = None
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.fast = {}
            self.max_len = 0
            return
        self.max_len = max(l for l, _ in nz)
        # canonical code assignment
        code = 0
        table: dict[tuple[int, int], int] = {}
        for length in range(1, self.max_len + 1):
            for l, s in sorted(nz):
                if l == length:
                    table[(length, code)] = s
                    code += 1
            code <<= 1
        self.fast = table

    def next(self, bits: _Bits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | bits.read(1)
            sym = self.fast.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in stream")


_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_prefix_code(bits: _Bits, alphabet_size: int) -> _Prefix:
    """One prefix code: simple (1-2 symbols, explicit) or normal
    (code lengths themselves prefix-coded, with 16/17/18 repeats)."""
    if bits.read(1):  # simple
        num_symbols = bits.read(1) + 1
        first_len = 8 if bits.read(1) else 1
        s0 = bits.read(first_len)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[s0] = 1
        else:
            s1 = bits.read(8)
            lengths[s0] = 1
            lengths[s1] = 1
        return _Prefix(lengths)
    # normal: read the code-length code
    num_codes = bits.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = bits.read(3)
    cl_code = _Prefix(cl_lengths)
    # optional explicit symbol budget
    max_symbol = alphabet_size
    if bits.read(1):
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.next(bits)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            for _ in range(3 + bits.read(2)):
                if symbol >= alphabet_size:
                    break
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            symbol += 3 + bits.read(3)
        else:  # 18
            symbol += 11 + bits.read(7)
    return _Prefix(lengths)


def _distance_map() -> list[tuple[int, int]]:
    """The 120-entry 2D short-distance neighborhood: offsets (dx, dy)
    with dy in [0, 7], dx in [-8, 8], excluding the non-causal dy=0,
    dx<=0 half-row, ordered by increasing dx²+dy² (the spec's table,
    regenerated from its defining closest-first rule; the exact order
    incl. tie-breaks is pinned against libwebp fixtures)."""
    cand = []
    for dy in range(8):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            d2 = dx * dx + dy * dy
            # ties: larger dy first, then positive dx before negative
            cand.append((d2, -dy, 0 if dx >= 0 else 1, abs(dx), dx, dy))
    cand.sort()
    return [(c[4], c[5]) for c in cand[:120]]


_DIST_MAP = _distance_map()


def _lz77_value(code: int, bits: _Bits) -> int:
    """Length/distance prefix decoding: codes 0-3 are values 1-4;
    above that, (code>>1)-1 extra bits."""
    if code < 4:
        return code + 1
    extra = (code >> 1) - 1
    offset = (2 + (code & 1)) << extra
    return offset + 1 + bits.read(extra)


def _color_cache_index(argb: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _read_entropy_image(
    bits: _Bits, width: int, height: int, allow_meta: bool
) -> np.ndarray:
    """Decode one spatially-coded ARGB image (used for the main image,
    transform data, palettes, and the huffman image itself). Returns
    uint32 HxW of packed ARGB."""
    cache_bits = 0
    if bits.read(1):
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad color cache bits {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    huff_image = None
    huff_bits = 0
    num_groups = 1
    if allow_meta and bits.read(1):
        huff_bits = bits.read(3) + 2
        hw = (width + (1 << huff_bits) - 1) >> huff_bits
        hh = (height + (1 << huff_bits) - 1) >> huff_bits
        huff_image = _read_entropy_image(bits, hw, hh, allow_meta=False)
        # group id = (red << 8) | green of the huffman image pixel
        ids = ((huff_image >> 8) & 0xFFFF).astype(np.int64)
        num_groups = int(ids.max()) + 1
        huff_image = ids

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(bits, green_size),  # green+len+cache
                _read_prefix_code(bits, 256),  # red
                _read_prefix_code(bits, 256),  # blue
                _read_prefix_code(bits, 256),  # alpha
                _read_prefix_code(bits, 40),  # distance
            )
        )

    out = np.zeros(width * height, dtype=np.uint32)
    pos = 0
    total = width * height
    while pos < total:
        if huff_image is not None:
            x, y = pos % width, pos // width
            g = groups[int(huff_image[y >> huff_bits, x >> huff_bits])]
        else:
            g = groups[0]
        sym = g[0].next(bits)
        if sym < 256:  # literal: G then R, B, A from their codes
            red = g[1].next(bits)
            blue = g[2].next(bits)
            alpha = g[3].next(bits)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache is not None:
                cache[_color_cache_index(px, cache_bits)] = px
            pos += 1
        elif sym < 256 + 24:  # LZ77 backward reference
            length = _lz77_value(sym - 256, bits)
            dist_code = _lz77_value(g[4].next(bits), bits)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * width + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("LZ77 distance before image start")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache is not None:
                    cache[_color_cache_index(px, cache_bits)] = px
                pos += 1
                if pos >= total:
                    break
        else:  # color cache hit
            if cache is None:
                raise ValueError("cache symbol without color cache")
            out[pos] = cache[sym - 256 - 24]
            pos += 1
    return out.reshape(height, width)


# --------------------------------------------------------------------------
# inverse transforms
# --------------------------------------------------------------------------


def _channels(img: np.ndarray):
    a = (img >> 24) & 0xFF
    r = (img >> 16) & 0xFF
    g = (img >> 8) & 0xFF
    b = img & 0xFF
    return a, r, g, b


def _pack(a, r, g, b) -> np.ndarray:
    return (
        (a.astype(np.uint32) << 24)
        | ((r.astype(np.uint32) & 0xFF) << 16)
        | ((g.astype(np.uint32) & 0xFF) << 8)
        | (b.astype(np.uint32) & 0xFF)
    )


def _inverse_predictor(img: np.ndarray, pred_img: np.ndarray, size_bits: int):
    """Inverse predictor transform IN PLACE on packed ARGB (uint32).
    Scalar per-pixel (prediction is causally sequential); block modes
    come from the green channel of the subresolution image."""
    h, w = img.shape
    modes = (pred_img >> 8) & 0xFF
    px = img.astype(np.int64)

    def at(y, x):
        return int(px[y, x])

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = at(0, x - 1)  # mode 1 (L) forced on row 0
            elif x == 0:
                pred = at(y - 1, 0)  # mode 2 (T) forced on col 0
            else:
                mode = int(modes[y >> size_bits, x >> size_bits])
                left = at(y, x - 1)
                top = at(y - 1, x)
                tl = at(y - 1, x - 1)
                tr = at(y - 1, x + 1) if x + 1 < w else left
                pred = _predict_px(mode, left, top, tl, tr)
            val = int(px[y, x])
            out = 0
            for shift in (0, 8, 16, 24):
                s = ((val >> shift) + (pred >> shift)) & 0xFF
                out |= s << shift
            px[y, x] = out
    img[:, :] = px.astype(np.uint32)


def _predict_px(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    def ch(v, s):
        return (v >> s) & 0xFF

    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode in (5, 6, 7, 8, 9, 10):
        out = 0
        for s in (0, 8, 16, 24):
            if mode == 5:
                v = (((ch(left, s) + ch(tr, s)) // 2) + ch(top, s)) // 2
            elif mode == 6:
                v = (ch(left, s) + ch(tl, s)) // 2
            elif mode == 7:
                v = (ch(left, s) + ch(top, s)) // 2
            elif mode == 8:
                v = (ch(tl, s) + ch(top, s)) // 2
            elif mode == 9:
                v = (ch(top, s) + ch(tr, s)) // 2
            else:
                v = (
                    (ch(left, s) + ch(tl, s)) // 2
                    + (ch(top, s) + ch(tr, s)) // 2
                ) // 2
            out |= v << s
        return out
    if mode == 11:  # Select: smaller combined |pred - TL| wins
        p_l = p_t = 0
        for s in (0, 8, 16, 24):
            p = ch(left, s) + ch(top, s) - ch(tl, s)
            p_l += abs(p - ch(left, s))
            p_t += abs(p - ch(top, s))
        return left if p_l <= p_t else top
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for s in (0, 8, 16, 24):
            v = ch(left, s) + ch(top, s) - ch(tl, s)
            out |= max(0, min(255, v)) << s
        return out
    if mode == 13:  # ClampAddSubtractHalf
        out = 0
        for s in (0, 8, 16, 24):
            avg = (ch(left, s) + ch(top, s)) // 2
            v = avg + (avg - ch(tl, s)) // 2
            out |= max(0, min(255, v)) << s
        return out
    raise ValueError(f"bad predictor mode {mode}")


def _inverse_color_transform(img: np.ndarray, cx_img: np.ndarray, size_bits: int):
    """Inverse cross-channel transform: per block, signed 3.5
    fixed-point multipliers green→red, green→blue, red→blue."""
    h, w = img.shape
    ys = np.arange(h) >> size_bits
    xs = np.arange(w) >> size_bits
    cx = cx_img[np.ix_(ys, xs)]
    # ColorTransformElement packing: green_to_red rides bits 0-7,
    # green_to_blue 8-15, red_to_blue 16-23 (spec's code-to-multiplier
    # mapping — NOT the visual channel order)
    g2r = (cx & 0xFF).astype(np.int8).astype(np.int64)
    g2b = ((cx >> 8) & 0xFF).astype(np.int8).astype(np.int64)
    r2b = ((cx >> 16) & 0xFF).astype(np.int8).astype(np.int64)
    a, r, g, b = (c.astype(np.int64) for c in _channels(img))
    g_signed = g.astype(np.int8).astype(np.int64)
    r = (r + ((g2r * g_signed) >> 5)) & 0xFF
    r_signed = r.astype(np.uint8).astype(np.int8).astype(np.int64)
    b = (b + ((g2b * g_signed) >> 5) + ((r2b * r_signed) >> 5)) & 0xFF
    img[:, :] = _pack(a, r, g, b)


def _inverse_subtract_green(img: np.ndarray):
    a, r, g, b = _channels(img)
    img[:, :] = _pack(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _apply_color_index(img: np.ndarray, palette: np.ndarray, orig_width: int):
    """Palette lookup, incl. sub-byte bundling: palettes ≤16 entries
    pack 2/4/8 pixel indices into one coded green byte."""
    n = palette.shape[0]
    if n > 16:
        bits_pp = 8
    elif n > 4:
        bits_pp = 4
    elif n > 2:
        bits_pp = 2
    else:
        bits_pp = 1
    h = img.shape[0]
    idx = ((img >> 8) & 0xFF).astype(np.int64)
    if bits_pp == 8:
        flat = idx
    else:
        per_byte = 8 // bits_pp
        mask = (1 << bits_pp) - 1
        cols = []
        for k in range(per_byte):
            cols.append((idx >> (k * bits_pp)) & mask)
        flat = np.stack(cols, axis=2).reshape(h, -1)
    flat = flat[:, :orig_width]
    flat = np.clip(flat, 0, n - 1)
    return palette[flat]


# --------------------------------------------------------------------------
# top level
# --------------------------------------------------------------------------


def vp8l_dimensions(data: bytes) -> tuple[int, int]:
    if data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = int.from_bytes(data[1:5], "little")
    return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a VP8L chunk payload (after the fourcc/size header) to
    uint8 HWC RGBA."""
    width, height = vp8l_dimensions(data)
    bits = _Bits(data)
    bits.pos = 8 + 28  # signature byte + dims
    has_alpha = bits.read(1)  # hint only
    version = bits.read(3)
    if version != 0:
        raise ValueError(f"unknown VP8L version {version}")

    transforms = []  # applied in reverse order on decode
    xsize = width
    seen = set()
    while bits.read(1):
        ttype = bits.read(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            size_bits = bits.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (height + (1 << size_bits) - 1) >> size_bits
            data_img = _read_entropy_image(bits, bw, bh, allow_meta=False)
            transforms.append(("predictor", size_bits, data_img))
        elif ttype == 1:  # color transform
            size_bits = bits.read(3) + 2
            bw = (xsize + (1 << size_bits) - 1) >> size_bits
            bh = (height + (1 << size_bits) - 1) >> size_bits
            data_img = _read_entropy_image(bits, bw, bh, allow_meta=False)
            transforms.append(("color", size_bits, data_img))
        elif ttype == 2:  # subtract green
            transforms.append(("subtract_green", None, None))
        else:  # color indexing
            n_colors = bits.read(8) + 1
            pal_img = _read_entropy_image(bits, n_colors, 1, allow_meta=False)
            # palette entries are delta-coded component-wise
            pal = pal_img[0].astype(np.int64)
            out = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                cur = 0
                for shift in (0, 8, 16, 24):
                    c = (((pal[i] >> shift) + (prev >> shift)) & 0xFF) << shift
                    cur |= int(c)
                out[i] = cur
                prev = cur
            transforms.append(("palette", n_colors, out))
            if n_colors > 16:
                bits_pp = 8
            elif n_colors > 4:
                bits_pp = 4
            elif n_colors > 2:
                bits_pp = 2
            else:
                bits_pp = 1
            xsize = (xsize + (8 // bits_pp) - 1) // (8 // bits_pp)

    img = _read_entropy_image(bits, xsize, height, allow_meta=True)

    for kind, arg, data_img in reversed(transforms):
        if kind == "palette":
            argb = _apply_color_index(img, data_img, width)
            img = argb.astype(np.uint32)
        elif kind == "subtract_green":
            _inverse_subtract_green(img)
        elif kind == "color":
            _inverse_color_transform(img, data_img, arg)
        else:  # predictor
            _inverse_predictor(img, data_img, arg)

    a, r, g, b = _channels(img)
    out = np.stack([r, g, b, a], axis=2).astype(np.uint8)
    del has_alpha  # the header bit is a hint; alpha channel always present
    return out

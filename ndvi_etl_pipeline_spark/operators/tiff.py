"""The engine's TIFF/GeoTIFF codec: every raster byte the engine reads
or writes goes through this module (SURVEY §2.1 S4, K1).

The reference reads arbitrary rasterio/GDAL products
(`compute_ndvi.py:38-44`), and real Landsat Collection-2 Level-2 bands
are uint16 DN rasters with LZW or deflate compression, strip- or
tile-organized, frequently carrying overview IFDs. This module decodes
that envelope without GDAL:

- both byte orders ("II*\\0" and "MM\\0*"), classic TIFF and BigTIFF;
- the full IFD chain (primary + overview IFDs → `decode_tiff_ifds`);
- strip-organized files (RowsPerStrip < height, offset/count arrays)
  and tile-organized files;
- sample types: uint8/16/32, int8/16/32, float32/64
  (BitsPerSample × SampleFormat dispatch);
- compression: none (1), LZW (5, the TIFF variant with MSB-first
  codes and the spec's "early change" width switch), Deflate (8/32946);
- predictors: none (1), horizontal differencing (2, integer) and
  floating-point differencing (3).

Decoding is per-strip/per-tile and vectorized (numpy cumsum for the
predictors); uncompressed chunks are read as zero-copy views of the
input buffer. The LZW inner loop is pure Python over codes, which is
fine at the tile/strip granularity the scan kernels feed it (the
Arrow boundary batches files, not pixels).

`write_tiff` is the one encoder. operators/raster.py writes the
engine's products through it: striped uncompressed float32
(`write_geotiff`) and the reference's tiled 256 / deflate /
predictor-3 profile (compute_ndvi.py:79-84). Its other layouts
fabricate spec-conformant fixtures for every decoder branch.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "lzw_decode",
    "lzw_encode",
    "parse_tiff_ifds",
    "decode_tiff",
    "decode_tiff_ifds",
    "write_tiff",
]

# ---------------------------------------------------------------------------
# TIFF LZW (spec §13: MSB-first bit packing, Clear=256, EOI=257,
# 9→12-bit codes with the early-change width switch)
# ---------------------------------------------------------------------------

_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    """Decode one strip/tile's TIFF-LZW stream.

    Width switch (decoder side of "early change"): after processing a
    code, the NEXT code is wider as soon as the table length reaches
    2^w − 2 (510/1022/2046) — one entry earlier than vanilla LZW,
    mirroring the encoder's off-by-one the TIFF spec standardized.
    """
    out = bytearray()
    total_bits = len(data) * 8
    bitpos = 0
    nbits = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, nbits, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]  # 256/257 sentinels
        nbits = 9
        prev = None

    reset()
    while bitpos + nbits <= total_bits:
        byte_off = bitpos >> 3
        chunk = int.from_bytes(data[byte_off : byte_off + 3].ljust(3, b"\0"), "big")
        code = (chunk >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == _EOI:
            break
        if code == _CLEAR:
            reset()
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream: code beyond table")
        out += entry
        prev = entry
        if len(table) >= (1 << nbits) - 2 and nbits < 12:
            nbits += 1
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """TIFF-LZW encoder (fixture/round-trip use). Emits Clear up
    front, switches widths early (free code == 2^w − 1), and clears
    the table before it would overflow 12 bits."""
    out_bits: list[tuple[int, int]] = [(_CLEAR, 9)]
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    nbits = 9
    omega = b""
    for b in data:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        out_bits.append((table[omega], nbits))
        table[cand] = next_code
        next_code += 1
        if next_code >= (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        omega = bytes([b])
        if next_code >= 4093:  # clear before the 12-bit table fills
            out_bits.append((_CLEAR, nbits))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
    if omega:
        out_bits.append((table[omega], nbits))
        # tail width alignment: the decoder adds a table entry for
        # EVERY code it processes — including this final one, which
        # the encoder never followed with an add. Pretend-add before
        # choosing EOI's width (libtiff does the same in its
        # post-encode flush), or a width boundary landing exactly on
        # the last code makes the decoder read EOI one bit wide.
        next_code += 1
        if next_code >= (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    out_bits.append((_EOI, nbits))
    # MSB-first bit packing
    acc = 0
    acc_bits = 0
    out = bytearray()
    for code, width in out_bits:
        acc = (acc << width) | code
        acc_bits += width
        while acc_bits >= 8:
            out.append((acc >> (acc_bits - 8)) & 0xFF)
            acc_bits -= 8
    if acc_bits:
        out.append((acc << (8 - acc_bits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# IFD parsing (both endians, full chain)
# ---------------------------------------------------------------------------

_TYPE_SIZE = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4,
    12: 8, 16: 8, 17: 8, 18: 8,  # 16-18: BigTIFF LONG8/SLONG8/IFD8
}
_TYPE_FMT = {
    1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d",
    16: "Q", 17: "q", 18: "Q",
}

T_IMAGE_WIDTH = 256
T_IMAGE_LENGTH = 257
T_BITS_PER_SAMPLE = 258
T_COMPRESSION = 259
T_STRIP_OFFSETS = 273
T_ROWS_PER_STRIP = 278
T_STRIP_BYTE_COUNTS = 279
T_PREDICTOR = 317
T_TILE_WIDTH = 322
T_TILE_LENGTH = 323
T_TILE_OFFSETS = 324
T_TILE_BYTE_COUNTS = 325
T_SAMPLE_FORMAT = 339
T_NEW_SUBFILE_TYPE = 254
T_MODEL_PIXEL_SCALE = 33550
T_MODEL_TIEPOINT = 33922
T_GEO_KEY_DIRECTORY = 34735
T_GDAL_NODATA = 42113


def parse_tiff_ifds(buf) -> tuple[str, bool, list[dict[int, tuple[int, int, int]]]]:
    """Walk the IFD chain (classic TIFF and BigTIFF). Returns
    (endian, is_bigtiff, [ {tag: (type, count, value_or_offset)} per
    IFD ]). `endian` is '<' or '>'. BigTIFF (version 43 — the format
    GDAL's BIGTIFF=IF_SAFER emits for >4 GB rasters, which the
    reference sets at load_to_postgis.py:116) uses 8-byte offsets,
    64-bit entry counts, and 20-byte IFD entries."""
    if bytes(buf[:2]) == b"II":
        en = "<"
    elif bytes(buf[:2]) == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF (II/MM)")
    (version,) = struct.unpack_from(en + "H", buf, 2)
    if version == 42:
        big = False
        (ifd_off,) = struct.unpack_from(en + "I", buf, 4)
    elif version == 43:
        big = True
        osz, zero = struct.unpack_from(en + "HH", buf, 4)
        if osz != 8 or zero != 0:
            raise ValueError(f"malformed BigTIFF header ({osz}, {zero})")
        (ifd_off,) = struct.unpack_from(en + "Q", buf, 8)
    else:
        raise ValueError(f"unsupported TIFF version {version}")
    cnt_fmt, cnt_sz = (en + "Q", 8) if big else (en + "H", 2)
    ent_sz = 20 if big else 12
    val_fmt = en + "Q" if big else en + "I"
    ifds = []
    seen = set()
    while ifd_off and ifd_off not in seen:
        seen.add(ifd_off)
        (n_tags,) = struct.unpack_from(cnt_fmt, buf, ifd_off)
        tags: dict[int, tuple[int, int, int]] = {}
        for i in range(int(n_tags)):
            base = ifd_off + cnt_sz + i * ent_sz
            code, ttype = struct.unpack_from(en + "HH", buf, base)
            if big:
                (count,) = struct.unpack_from(en + "Q", buf, base + 4)
                (value,) = struct.unpack_from(en + "Q", buf, base + 12)
            else:
                (count,) = struct.unpack_from(en + "I", buf, base + 4)
                (value,) = struct.unpack_from(en + "I", buf, base + 8)
            tags[code] = (ttype, int(count), value)
        ifds.append(tags)
        (ifd_off,) = struct.unpack_from(
            val_fmt, buf, ifd_off + cnt_sz + int(n_tags) * ent_sz
        )
    return en, big, ifds


def _tag_values(buf, en: str, tags, code: int, big: bool = False):
    """All values of a tag, honoring type width, inline-vs-offset, and
    endianness. SHORT inline values need re-reading from the raw value
    bytes in big-endian files, which is why the parse keeps offsets.
    BigTIFF inlines up to 8 bytes in the 8-byte value field."""
    ttype, count, value = tags[code]
    size = _TYPE_SIZE.get(ttype, 1)
    fmt = _TYPE_FMT.get(ttype)
    inline_cap = 8 if big else 4
    inline_fmt = en + ("Q" if big else "I")
    if ttype == 2:  # ASCII
        off = value if count > inline_cap else None
        raw = (
            bytes(buf[off : off + count])
            if off is not None
            else struct.pack(inline_fmt, value)[:count]
        )
        return [raw.split(b"\x00")[0].decode("ascii", "replace")]
    if fmt is None:
        raise ValueError(f"unsupported TIFF tag type {ttype}")
    if size * count <= inline_cap:
        raw = struct.pack(inline_fmt, value)[: size * count]
        return list(struct.unpack(en + f"{count}{fmt}", raw))
    return list(struct.unpack_from(en + f"{count}{fmt}", buf, value))


def _tag1(buf, en, tags, code, default=None, big: bool = False):
    if code not in tags:
        return default
    return _tag_values(buf, en, tags, code, big=big)[0]


def _sample_dtype(bits: int, sample_format: int, en: str) -> np.dtype:
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_format)
    if kind is None:
        raise ValueError(f"unsupported SampleFormat {sample_format}")
    if bits not in (8, 16, 32, 64) or (kind == "f" and bits < 32):
        raise ValueError(f"unsupported BitsPerSample {bits} for format {sample_format}")
    return np.dtype(f"{en}{kind}{bits // 8}")


def _undo_predictor(
    block: np.ndarray, predictor: int, fp_itemsize: int | None = None
) -> np.ndarray:
    """predictor 1: identity. 2: horizontal differencing over integer
    samples. 3 (floating-point differencing): `block` must be the RAW
    BYTE rows, uint8 of shape (nrows, width·itemsize) — bytes cumsum
    back, then the MSB-first significance planes interleave into
    little-endian floats."""
    if predictor == 1:
        return block
    if predictor == 2:  # horizontal differencing over samples
        if block.dtype.kind not in "iu":
            raise ValueError("predictor 2 applies to integer samples")
        bits = block.dtype.itemsize * 8
        acc = np.cumsum(block.astype(np.int64), axis=1) % (1 << bits)
        return acc.astype(block.dtype)
    if predictor == 3:  # floating-point differencing (byte planes)
        size = fp_itemsize or 4
        th = block.shape[0]
        tw = block.shape[1] // size
        acc = np.cumsum(block, axis=1, dtype=np.uint64).astype(np.uint8)
        planes = acc.reshape(th, size, tw).transpose(0, 2, 1)  # MSB plane first
        le = np.ascontiguousarray(planes[:, :, ::-1]).reshape(th, tw * size)
        return np.frombuffer(le.tobytes(), dtype=np.dtype(f"<f{size}")).reshape(th, tw)
    raise ValueError(f"unsupported predictor {predictor}")


def _apply_predictor(block: np.ndarray, predictor: int) -> "bytes | memoryview":
    """The chunk's bytes, differenced; predictor 1 is a zero-copy view
    of the (C-contiguous) block."""
    if predictor == 1:
        return memoryview(np.ascontiguousarray(block)).cast("B")
    if predictor == 2:
        diff = block.copy()
        diff[:, 1:] = block[:, 1:] - block[:, :-1]  # modular wraparound
        return diff.tobytes()
    if predictor == 3:
        th, tw = block.shape
        size = block.dtype.itemsize
        raw = np.ascontiguousarray(block, dtype=f"<f{size}").view(np.uint8).reshape(
            th, tw, size
        )
        planes = raw[:, :, ::-1]
        rows = np.ascontiguousarray(planes.transpose(0, 2, 1)).reshape(th, size * tw)
        diff = rows.copy()
        diff[:, 1:] = rows[:, 1:] - rows[:, :-1]
        return diff.tobytes()
    raise ValueError(f"unsupported predictor {predictor}")


def _decompress(raw: memoryview, compression: int):
    """One chunk's payload. Uncompressed chunks stay views of the file
    buffer; a truncated one fails later in `np.frombuffer`'s size
    check."""
    if compression == 1:
        return raw
    if compression == 5:
        return lzw_decode(bytes(raw))
    if compression in (8, 32946):  # Deflate / legacy Deflate
        return zlib.decompress(raw)
    raise ValueError(f"unsupported compression {compression}")


def decode_ifd(buf, en: str, tags, big: bool = False) -> tuple[np.ndarray, dict]:
    """One IFD → (2-D array in native dtype, geo metadata dict)."""
    def _tag1b(b_, e_, t_, c_, default=None):
        return _tag1(b_, e_, t_, c_, default, big=big)

    def _tag_valuesb(b_, e_, t_, c_):
        return _tag_values(b_, e_, t_, c_, big=big)

    w = int(_tag1b(buf, en, tags, T_IMAGE_WIDTH))
    h = int(_tag1b(buf, en, tags, T_IMAGE_LENGTH))
    bits = int(_tag1b(buf, en, tags, T_BITS_PER_SAMPLE, 8))
    sfmt = int(_tag1b(buf, en, tags, T_SAMPLE_FORMAT, 1))
    compression = int(_tag1b(buf, en, tags, T_COMPRESSION, 1))
    predictor = int(_tag1b(buf, en, tags, T_PREDICTOR, 1))
    dt = _sample_dtype(bits, sfmt, en)
    # predictor-3 output is little-endian float regardless of file order
    out_dt = np.dtype(f"<f{dt.itemsize}") if predictor == 3 else dt

    arr = np.zeros((h, w), dtype=out_dt)
    view = memoryview(buf)
    if T_TILE_WIDTH in tags:
        tw = int(_tag1b(buf, en, tags, T_TILE_WIDTH))
        th = int(_tag1b(buf, en, tags, T_TILE_LENGTH))
        offs = _tag_valuesb(buf, en, tags, T_TILE_OFFSETS)
        cnts = _tag_valuesb(buf, en, tags, T_TILE_BYTE_COUNTS)
        tiles_across = -(-w // tw)
        for i, (o, c) in enumerate(zip(offs, cnts)):
            raw = _decompress(view[o : o + c], compression)
            if predictor == 3:
                block = _undo_predictor(
                    np.frombuffer(raw, dtype=np.uint8).reshape(th, tw * dt.itemsize),
                    3,
                    fp_itemsize=dt.itemsize,
                )
            else:
                block = _undo_predictor(
                    np.frombuffer(raw, dtype=dt, count=th * tw).reshape(th, tw),
                    predictor,
                )
            ty, tx = divmod(i, tiles_across)
            ys, xs = ty * th, tx * tw
            arr[ys : min(ys + th, h), xs : min(xs + tw, w)] = block[
                : min(th, h - ys), : min(tw, w - xs)
            ]
    else:
        rps = int(_tag1b(buf, en, tags, T_ROWS_PER_STRIP, h) or h)
        offs = _tag_valuesb(buf, en, tags, T_STRIP_OFFSETS)
        cnts = _tag_valuesb(buf, en, tags, T_STRIP_BYTE_COUNTS)
        for i, (o, c) in enumerate(zip(offs, cnts)):
            ys = i * rps
            nrows = min(rps, h - ys)
            raw = _decompress(view[o : o + c], compression)
            if predictor == 3:
                block = _undo_predictor(
                    np.frombuffer(raw, dtype=np.uint8).reshape(nrows, w * dt.itemsize),
                    3,
                    fp_itemsize=dt.itemsize,
                )
            else:
                block = _undo_predictor(
                    np.frombuffer(raw, dtype=dt, count=nrows * w).reshape(nrows, w),
                    predictor,
                )
            arr[ys : ys + nrows] = block

    meta: dict = {"epsg": None, "nodata": None, "origin": None, "pixel_size": None}
    if T_MODEL_PIXEL_SCALE in tags:
        vals = _tag_valuesb(buf, en, tags, T_MODEL_PIXEL_SCALE)
        meta["pixel_size"] = (vals[0], vals[1])
    if T_MODEL_TIEPOINT in tags:
        vals = _tag_valuesb(buf, en, tags, T_MODEL_TIEPOINT)
        meta["origin"] = (vals[3], vals[4])
    if T_GEO_KEY_DIRECTORY in tags:
        shorts = _tag_valuesb(buf, en, tags, T_GEO_KEY_DIRECTORY)
        for j in range(4, len(shorts), 4):
            if shorts[j] in (2048, 3072):  # geographic / projected CRS key
                meta["epsg"] = shorts[j + 3]
    if T_GDAL_NODATA in tags:
        (txt,) = _tag_valuesb(buf, en, tags, T_GDAL_NODATA)
        try:
            meta["nodata"] = float(txt)
        except ValueError:
            pass
    if T_NEW_SUBFILE_TYPE in tags:
        meta["subfile_type"] = int(_tag1b(buf, en, tags, T_NEW_SUBFILE_TYPE))
    return np.ascontiguousarray(arr), meta


def decode_tiff(buf) -> tuple[np.ndarray, dict]:
    """Primary-IFD decode: (array in the file's sample dtype, meta)."""
    en, big, ifds = parse_tiff_ifds(buf)
    return decode_ifd(buf, en, ifds[0], big=big)


def decode_tiff_ifds(buf) -> list[tuple[np.ndarray, dict]]:
    """Decode EVERY IFD — primary image first, then overview levels
    (reduced-resolution IFDs carry NewSubfileType=1, the COG/Landsat
    overview layout)."""
    en, big, ifds = parse_tiff_ifds(buf)
    return [decode_ifd(buf, en, tags, big=big) for tags in ifds]


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

_SFMT_FOR_KIND = {"u": 1, "i": 2, "f": 3}
_COMP_CODE = {"none": 1, "lzw": 5, "deflate": 8}


def write_tiff(
    arr: np.ndarray,
    *,
    compression: str = "none",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    tile: int | None = None,
    big_endian: bool = False,
    bigtiff: bool = False,
    origin: tuple[float, float] | None = (0.0, 0.0),
    pixel_size: tuple[float, float] | None = (1.0, 1.0),
    epsg: int | None = 4326,
    nodata: float | None = None,
    overviews: list[np.ndarray] | None = None,
) -> bytes:
    """Serialize a 2-D array (plus optional overview arrays as chained
    IFDs) as a spec-conformant TIFF in any supported
    dtype/compression/predictor/endian combination.

    Layout: strips of `rows_per_strip` rows (default: one strip), or,
    when `tile` is set, tile×tile blocks in row-major tile order with
    the edge tiles zero-padded (TIFF 6 §15; the spec wants `tile` to
    be a multiple of 16). Geo tags (ModelPixelScale, ModelTiepoint,
    GeoKey EPSG, GDAL nodata) go on the primary IFD only."""
    en = ">" if big_endian else "<"
    comp = _COMP_CODE[compression]
    images = [np.asarray(arr)] + [np.asarray(o) for o in (overviews or [])]

    order = b"MM" if big_endian else b"II"
    ptr_fmt = en + ("Q" if bigtiff else "I")
    if bigtiff:
        # version 43: offset size 8, constant 0, uint64 first-IFD ptr
        header = order + struct.pack(en + "HHHQ", 43, 8, 0, 0)
    else:
        header = order + struct.pack(en + "HI", 42, 0)
    chunks: list[bytes] = [header]
    pos = len(header)
    ifd_chunks: list[tuple[int, int]] = []  # (index in chunks, file offset)

    def emit(b: bytes) -> int:
        nonlocal pos
        off = pos
        chunks.append(b)
        pos += len(b)
        if len(b) % 2:
            chunks.append(b"\x00")
            pos += 1
        return off

    for level, a in enumerate(images):
        a = np.ascontiguousarray(a, dtype=a.dtype.newbyteorder(en))
        h, w = a.shape
        kind = a.dtype.kind
        if kind not in _SFMT_FOR_KIND:
            raise ValueError(f"unsupported dtype {a.dtype}")
        if tile:
            blocks = []
            for ys in range(0, h, tile):
                for xs in range(0, w, tile):
                    sub = a[ys : ys + tile, xs : xs + tile]
                    blocks.append(
                        np.pad(sub, ((0, tile - sub.shape[0]), (0, tile - sub.shape[1])))
                    )
        else:
            rps = min(rows_per_strip or h, h)
            blocks = [a[ys : ys + rps] for ys in range(0, h, rps)]
        payloads: list[bytes] = []
        for block in blocks:
            raw = _apply_predictor(block, predictor)
            if comp == 5:
                raw = lzw_encode(raw)
            elif comp == 8:
                raw = zlib.compress(raw, 6)
            payloads.append(raw)
        offs = [emit(p) for p in payloads]
        cnts = [len(p) for p in payloads]

        tags: list[tuple[int, int, int, bytes]] = []  # (code, type, count, raw)

        def add(code: int, ttype: int, vals) -> None:
            raw = struct.pack(en + f"{len(vals)}{_TYPE_FMT[ttype]}", *vals)
            tags.append((code, ttype, len(vals), raw))

        if level > 0:
            add(T_NEW_SUBFILE_TYPE, 4, [1])  # reduced-resolution image
        add(T_IMAGE_WIDTH, 3, [w])
        add(T_IMAGE_LENGTH, 3, [h])
        add(T_BITS_PER_SAMPLE, 3, [a.dtype.itemsize * 8])
        add(T_COMPRESSION, 3, [comp])
        add(262, 3, [1])  # Photometric: BlackIsZero
        add(277, 3, [1])  # SamplesPerPixel
        if tile:
            add(T_TILE_WIDTH, 3, [tile])
            add(T_TILE_LENGTH, 3, [tile])
            add(T_TILE_OFFSETS, 4, offs)
            add(T_TILE_BYTE_COUNTS, 4, cnts)
        else:
            add(T_STRIP_OFFSETS, 4, offs)
            add(T_ROWS_PER_STRIP, 3, [rps])
            add(T_STRIP_BYTE_COUNTS, 4, cnts)
        if predictor != 1:
            add(T_PREDICTOR, 3, [predictor])
        add(T_SAMPLE_FORMAT, 3, [_SFMT_FOR_KIND[kind]])
        if level == 0:
            if pixel_size is not None:
                add(T_MODEL_PIXEL_SCALE, 12, [pixel_size[0], pixel_size[1], 0.0])
            if origin is not None:
                add(T_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, origin[0], origin[1], 0.0])
            if epsg is not None:
                add(
                    T_GEO_KEY_DIRECTORY,
                    3,
                    [1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, epsg],
                )
            if nodata is not None:
                txt = f"{nodata:g}\x00".encode()
                tags.append((T_GDAL_NODATA, 2, len(txt), txt))

        tags.sort(key=lambda t: t[0])
        inline_cap = 8 if bigtiff else 4
        cnt_fmt = en + ("Q" if bigtiff else "I")
        # out-of-line payloads first, then the IFD itself
        entries: list[bytes] = []
        for code, ttype, count, raw in tags:
            if len(raw) <= inline_cap:
                value_bytes = raw.ljust(inline_cap, b"\x00")
            else:
                value_bytes = struct.pack(ptr_fmt, emit(raw))
            entries.append(
                struct.pack(en + "HH", code, ttype)
                + struct.pack(cnt_fmt, count)
                + value_bytes
            )
        n_fmt = en + ("Q" if bigtiff else "H")
        ifd = struct.pack(n_fmt, len(entries)) + b"".join(entries)
        ifd_chunks.append((len(chunks), pos))
        emit(ifd + struct.pack(ptr_fmt, 0))

    # every pointer is the last field of its (small) chunk: the header
    # points at the first IFD, each IFD at the next, the last at 0
    ptr_size = struct.calcsize(ptr_fmt)
    targets = [off for _, off in ifd_chunks] + [0]
    for idx, nxt in zip([0] + [i for i, _ in ifd_chunks], targets):
        chunks[idx] = chunks[idx][:-ptr_size] + struct.pack(ptr_fmt, nxt)
    return b"".join(chunks)

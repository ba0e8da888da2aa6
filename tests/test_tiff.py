"""General TIFF codec (operators/tiff.py): the real-world GeoTIFF
compatibility envelope — LZW, multi-strip, multi-IFD overviews,
uint16 DN, both endians — plus the committed golden fixtures that pin
decoder behavior independently of the in-repo encoder."""

from pathlib import Path

import numpy as np
import pytest

from ndvi_etl_pipeline_spark.operators import tiff as TF

FIXTURES = Path(__file__).parent / "fixtures"


def _pack_codes(codes, width=9):
    """Independent minimal MSB-first bit packer (deliberately NOT the
    module's encoder) so the spec-example test validates the decoder
    against hand-derived codes, not against our own writer."""
    acc, nb, out = 0, 0, bytearray()
    for c in codes:
        acc = (acc << width) | c
        nb += width
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def test_lzw_decodes_tiff_spec_example():
    """TIFF 6.0 §13's worked example: 7 7 7 8 8 7 7 6 6 encodes to the
    code sequence [Clear, 7, 258, 8, 8, 258, 6, 6, EOI] (derived by
    hand from the spec's algorithm), all 9-bit."""
    stream = _pack_codes([256, 7, 258, 8, 8, 258, 6, 6, 257])
    assert TF.lzw_decode(stream) == bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])


def test_lzw_roundtrip_incompressible_and_repetitive():
    rng = np.random.default_rng(0)
    for n in (0, 1, 255, 4096, 70_000):
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert TF.lzw_decode(TF.lzw_encode(data)) == data, n
    # long repetitive input: exercises width growth 9→12 and the
    # table-full Clear
    data = b"abcabcabd" * 20_000
    assert TF.lzw_decode(TF.lzw_encode(data)) == data


def test_lzw_kwkwk_case():
    """code == next free entry (the cScSc pattern) must resolve to
    prev + prev[0]."""
    data = b"aaaaaaaaaaaaaaaa"
    assert TF.lzw_decode(TF.lzw_encode(data)) == data


def test_golden_uint16_lzw_multistrip_with_overview():
    """Committed fixture (Landsat C2L2-shaped: uint16 DN, nodata 0,
    LZW + horizontal predictor, 32-row strips, UTM CRS, one overview
    IFD). Expected pixels re-derive from the generation seed, so this
    pins the DECODER against the committed bytes — an encoder change
    cannot silently re-golden it."""
    rng = np.random.default_rng(20220606)
    dn = rng.integers(1, 65535, size=(120, 97), dtype=np.uint16)
    dn[rng.random((120, 97)) < 0.05] = 0
    buf = (FIXTURES / "landsat_style_uint16_lzw.tif").read_bytes()

    levels = TF.decode_tiff_ifds(buf)
    assert len(levels) == 2
    arr, meta = levels[0]
    assert arr.dtype.kind == "u" and arr.dtype.itemsize == 2
    assert np.array_equal(np.ascontiguousarray(arr, dtype=np.uint16), dn)
    assert meta["epsg"] == 32635
    assert meta["nodata"] == 0.0
    assert meta["origin"] == (399960.0, 6700020.0)
    assert meta["pixel_size"] == (30.0, 30.0)
    ovr, ometa = levels[1]
    assert np.array_equal(np.ascontiguousarray(ovr, dtype=np.uint16), dn[::4, ::4])
    assert ometa.get("subfile_type") == 1


def test_golden_bigendian_float32_deflate():
    rng = np.random.default_rng(20220606)
    dn = rng.integers(1, 65535, size=(120, 97), dtype=np.uint16)
    dn[rng.random((120, 97)) < 0.05] = 0
    want = (dn.astype(np.float32) * 2.75e-5 - 0.2).astype(np.float32)
    buf = (FIXTURES / "bigendian_float32_deflate.tif").read_bytes()
    arr, meta = TF.decode_tiff(buf)
    assert np.array_equal(arr.astype("<f4"), want)
    assert meta["nodata"] == -9999.0


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize(
    "dtype,compression,predictor",
    [
        ("uint8", "none", 1),
        ("uint16", "lzw", 2),
        ("uint16", "deflate", 2),
        ("int16", "lzw", 2),
        ("uint32", "deflate", 1),
        ("float32", "deflate", 3),
        ("float32", "lzw", 1),
        ("float64", "none", 1),
    ],
)
def test_roundtrip_matrix(dtype, compression, predictor, big_endian):
    rng = np.random.default_rng(42)
    if dtype.startswith("float"):
        a = rng.uniform(-1000, 1000, (37, 23)).astype(dtype)
    else:
        info = np.iinfo(dtype)
        a = rng.integers(info.min, info.max, (37, 23), dtype=dtype)
    blob = TF.write_tiff(
        a,
        compression=compression,
        predictor=predictor,
        rows_per_strip=10,
        big_endian=big_endian,
    )
    out, _ = TF.decode_tiff(blob)
    assert np.array_equal(np.ascontiguousarray(out, dtype=a.dtype), a)


def test_raster_decode_falls_back_to_general_codec():
    """operators/raster.py::decode_geotiff_bytes decodes the
    uint16-LZW golden, casting DN → float32 (the reference's read-time
    cast, compute_ndvi.py:43-44)."""
    from ndvi_etl_pipeline_spark.operators.raster import decode_geotiff_bytes

    rng = np.random.default_rng(20220606)
    dn = rng.integers(1, 65535, size=(120, 97), dtype=np.uint16)
    dn[rng.random((120, 97)) < 0.05] = 0
    buf = (FIXTURES / "landsat_style_uint16_lzw.tif").read_bytes()
    arr, meta = decode_geotiff_bytes(buf)
    assert arr.dtype == np.float32
    assert np.array_equal(arr, dn.astype(np.float32))
    assert meta["epsg"] == 32635 and meta["nodata"] == 0.0


def test_int32_without_sampleformat_not_misread_as_float():
    """A 32-bit integer TIFF may legally OMIT SampleFormat (optional
    tag, spec default 1 = unsigned int). decode_geotiff_bytes must not
    default the absent tag to 3 (float) — that would reinterpret the
    integer payload as '<f4' garbage instead of casting the integers
    to float32."""
    import struct

    from ndvi_etl_pipeline_spark.operators.raster import decode_geotiff_bytes

    rng = np.random.default_rng(99)
    a = rng.integers(0, 2**31 - 1, size=(19, 13), dtype=np.uint32)
    blob = bytearray(TF.write_tiff(a, compression="none"))
    # surgically drop the SampleFormat (339) entry: overwrite its code
    # with an unknown private tag the decoder skips
    ifd_off = struct.unpack_from("<I", blob, 4)[0]
    n = struct.unpack_from("<H", blob, ifd_off)[0]
    hit = False
    for i in range(n):
        ent = ifd_off + 2 + i * 12
        if struct.unpack_from("<H", blob, ent)[0] == 339:
            struct.pack_into("<H", blob, ent, 60123)
            hit = True
    assert hit, "encoder no longer writes SampleFormat; rebuild this test"
    arr, _meta = decode_geotiff_bytes(bytes(blob))
    assert np.array_equal(arr, a.astype(np.float32))


def test_scan_geotiffs_reads_uint16_lzw_band_files(spark, tmp_path):
    """End-to-end S4: a scene whose red/nir bands are Landsat-style
    uint16-LZW files flows through the binaryFile scan → tile codec →
    NDVI kernel, with DN 0 masked via the GDAL nodata tag."""
    from ndvi_etl_pipeline_spark.operators import raster

    rng = np.random.default_rng(7)
    red = rng.integers(1, 40000, size=(64, 64), dtype=np.uint16)
    nir = rng.integers(1, 40000, size=(64, 64), dtype=np.uint16)
    red[0, :8] = 0
    for band, a in (("red", red), ("nir", nir)):
        blob = TF.write_tiff(
            a, compression="lzw", predictor=2, rows_per_strip=16, nodata=0.0
        )
        (tmp_path / f"SC1_{band}.tif").write_bytes(blob)

    tiles = raster.scan_geotiffs(spark, str(tmp_path / "*.tif"), tile=32)
    stats = raster.tile_scene_stats(raster.tile_ndvi(tiles)).collect()
    assert len(stats) == 1
    r = stats[0]
    # scan converts the tagged nodata (DN 0) to NaN, so those 8 cells
    # are ABSENT from the pairing, not merely invalid
    assert r.n_pixels == 64 * 64 - 8
    assert r.n_valid == 64 * 64 - 8
    # value spot-check against the kernel arithmetic
    from ndvi_etl_pipeline_spark.functions.ndvi import EPS, OFFSET, SCALE

    rf = red.astype(np.float64) * SCALE + OFFSET
    nf = nir.astype(np.float64) * SCALE + OFFSET
    nd = np.clip((nf - rf) / (nf + rf + EPS), -1, 1)
    nd[red == 0] = np.nan
    want = float(np.nanmean(nd.astype(np.float32)))
    assert abs(r.mean_ndvi - want) < 1e-5


@pytest.mark.parametrize("big_endian", [False, True])
def test_bigtiff_roundtrip_with_overview(big_endian):
    """BigTIFF (version 43, 8-byte offsets, 20-byte IFD entries) — the
    format GDAL's BIGTIFF=IF_SAFER emits for >4 GB rasters, which the
    reference enables (load_to_postgis.py:116). Same decode surface as
    classic TIFF, including the overview IFD chain."""
    rng = np.random.default_rng(3)
    a = rng.integers(0, 65535, (57, 43), dtype=np.uint16)
    blob = TF.write_tiff(
        a, compression="lzw", predictor=2, rows_per_strip=16,
        big_endian=big_endian, bigtiff=True,
        overviews=[a[::2, ::2].copy()], epsg=32635, nodata=0.0,
    )
    assert blob[2:4] in (b"\x2b\x00", b"\x00\x2b")  # version 43
    levels = TF.decode_tiff_ifds(blob)
    assert len(levels) == 2
    assert np.array_equal(levels[0][0].astype(np.uint16), a)
    assert np.array_equal(levels[1][0].astype(np.uint16), a[::2, ::2])
    assert levels[0][1]["epsg"] == 32635 and levels[0][1]["nodata"] == 0.0
    assert levels[1][1].get("subfile_type") == 1


def test_bigtiff_through_raster_scan_fallback():
    """decode_geotiff_bytes reads BigTIFF (version 43) as well as
    classic TIFF."""
    from ndvi_etl_pipeline_spark.operators.raster import decode_geotiff_bytes

    rng = np.random.default_rng(4)
    a = rng.integers(1, 40000, (32, 32), dtype=np.uint16)
    blob = TF.write_tiff(a, compression="deflate", predictor=2, bigtiff=True,
                         nodata=0.0)
    arr, meta = decode_geotiff_bytes(blob)
    assert arr.dtype == np.float32
    assert np.array_equal(arr, a.astype(np.float32))
    assert meta["nodata"] == 0.0


def test_scan_geotiffs_overview_level(spark, tmp_path):
    """overview_level reads the pyramid IFD: 1/4 the pixels, values
    equal to the decimated band."""
    from ndvi_etl_pipeline_spark.operators import raster

    rng = np.random.default_rng(11)
    red = rng.integers(1, 40000, (64, 64), dtype=np.uint16)
    nir = rng.integers(1, 40000, (64, 64), dtype=np.uint16)
    for band, a in (("red", red), ("nir", nir)):
        blob = TF.write_tiff(
            a, compression="lzw", predictor=2, rows_per_strip=16,
            nodata=0.0, overviews=[a[::2, ::2].copy()],
        )
        (tmp_path / f"SC2_{band}.tif").write_bytes(blob)

    full = raster.tile_scene_stats(
        raster.tile_ndvi(raster.scan_geotiffs(spark, str(tmp_path / "*.tif"), tile=32))
    ).collect()[0]
    ovr = raster.tile_scene_stats(
        raster.tile_ndvi(
            raster.scan_geotiffs(
                spark, str(tmp_path / "*.tif"), tile=32, overview_level=1
            )
        )
    ).collect()[0]
    assert full.n_pixels == 64 * 64
    assert ovr.n_pixels == 32 * 32
    # overview == decimated band, so the mean equals the decimated mean
    from ndvi_etl_pipeline_spark.functions.ndvi import EPS, OFFSET, SCALE

    rf = red[::2, ::2].astype(np.float64) * SCALE + OFFSET
    nf = nir[::2, ::2].astype(np.float64) * SCALE + OFFSET
    nd = np.clip((nf - rf) / (nf + rf + EPS), -1, 1).astype(np.float32)
    assert abs(ovr.mean_ndvi - float(nd.mean())) < 1e-5


def test_scan_quarantines_corrupt_files(spark, tmp_path):
    """E1 for the scan stage: a corrupt band file drops out under
    on_error='skip' (good scenes still process) and shows up as an
    error ROW in scan_geotiff_status — never a task failure."""
    from ndvi_etl_pipeline_spark.operators import raster

    rng = np.random.default_rng(9)
    good = rng.integers(1, 40000, (32, 32), dtype=np.uint16)
    for band in ("red", "nir"):
        blob = TF.write_tiff(good, compression="lzw", predictor=2, nodata=0.0)
        (tmp_path / f"OK1_{band}.tif").write_bytes(blob)
    # corrupt: valid header, truncated pixel data
    bad = TF.write_tiff(good, compression="lzw", predictor=2)[:200]
    (tmp_path / "BAD1_red.tif").write_bytes(bad)
    (tmp_path / "BAD1_nir.tif").write_bytes(b"not a tiff at all")

    with pytest.raises(Exception):
        raster.scan_geotiffs(spark, str(tmp_path / "*.tif")).count()

    tiles = raster.scan_geotiffs(spark, str(tmp_path / "*.tif"), on_error="skip")
    scenes = {r.scene_id for r in tiles.select("scene_id").distinct().collect()}
    assert scenes == {"OK1"}

    status = {r.path.rsplit("/", 1)[-1]: r for r in raster.scan_geotiff_status(
        spark, str(tmp_path / "*.tif")
    ).collect()}
    assert status["OK1_red.tif"].ok and status["OK1_red.tif"].height == 32
    assert not status["BAD1_red.tif"].ok and status["BAD1_red.tif"].error
    assert not status["BAD1_nir.tif"].ok
    assert status["BAD1_red.tif"].scene_id == "BAD1"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


if HAVE_HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        dtype=st.sampled_from(["uint8", "uint16", "int16", "float32"]),
        compression=st.sampled_from(["none", "lzw", "deflate"]),
        rps=st.integers(1, 17),
        big_endian=st.booleans(),
        bigtiff=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_tiff_roundtrip_property(h, w, dtype, compression, rps, big_endian, bigtiff, seed):
        """Any (shape × dtype × compression × strip size × endian ×
        classic/BigTIFF) combination round-trips exactly; predictor
        chosen per dtype kind like a real writer would."""
        rng = np.random.default_rng(seed)
        if dtype == "float32":
            a = rng.uniform(-1e4, 1e4, (h, w)).astype(dtype)
            predictor = 3 if compression != "none" else 1
        else:
            info = np.iinfo(dtype)
            a = rng.integers(info.min, info.max, (h, w), dtype=dtype)
            predictor = 2 if compression != "none" else 1
        blob = TF.write_tiff(
            a, compression=compression, predictor=predictor,
            rows_per_strip=rps, big_endian=big_endian, bigtiff=bigtiff,
        )
        out, _ = TF.decode_tiff(blob)
        assert np.array_equal(np.ascontiguousarray(out, dtype=a.dtype), a)

    @settings(max_examples=30, deadline=None)
    @given(data=st.binary(min_size=0, max_size=4096))
    def test_lzw_roundtrip_property(data):
        assert TF.lzw_decode(TF.lzw_encode(data)) == data


def test_lzw_width_boundary_at_stream_tail():
    """Regression (found by hypothesis): when the 9→10-bit width
    boundary lands exactly on the final data code, the decoder's
    tail table-add must be mirrored by the encoder's pretend-add
    before EOI — 254 incompressible bytes puts the boundary on EOI."""
    rng = np.random.default_rng(0)
    for n in range(250, 260):
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert TF.lzw_decode(TF.lzw_encode(data)) == data, n

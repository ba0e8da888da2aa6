"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, another seed writes other files. A run reads no
file outside the repository, so it does not read the shared test data
(TESTDATA.md) but generates data shaped like it.

- `write_tables`: the ten TPC-H-like tables the catalog queries read
  (region … embeddings), one parquet file each, with the schemas, row
  counts, key ranges, value grids and document duplicates of the
  `sf0.1` test data. `test_perfbench.py` compares the two, and the
  catalog oracle's result sizes on both, when that data is present.
- `write_scenes`: red/NIR GeoTIFF pairs written with the package's own
  `raster.write_geotiff`, with a seeded strided nodata (DN 0) pattern.
- `lake_rows`: the 8-column lineitem slice the lake workload commits,
  unique on its merge key.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 test data (TESTDATA.md).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# the sf0.1 documents' vocabulary, drawn uniformly
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer a the"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
LAKE_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag",
)
LAKE_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, size=n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> dict[str, object]:
    return {
        "l_orderkey": rng.integers(0, n_orders, size=n),
        "l_partkey": rng.integers(0, SF01_ROWS["part"], size=n),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], size=n),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _EPOCH_1995, 2499, n),
    }


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    """10-100 words each. ~5% repeat an earlier document with " dup"
    appended (the pairs the MinHash/LSH query finds) and ~0.2% repeat
    one exactly (the curation fingerprint dedup drops them)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.052:
            text = texts[int(rng.integers(0, i))]
            texts.append(text if r < 0.002 else text + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def table_columns(name: str, seed: int) -> dict[str, object]:
    """Columns of one table. Each table draws from its own stream, so
    one table's size never shifts another's values."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = SF01_ROWS.get(name, 0)
    if name == "region":
        return {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    if name == "nation":
        return {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    if name == "customer":
        return {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9_999.99, n),
            "c_mktsegment": _pick(
                rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n
            ),
        }
    if name == "supplier":
        return {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9_999.99, n),
        }
    if name == "part":
        adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        return {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, adj, n), _pick(rng, noun, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n)],
            "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n),
            "p_size": rng.integers(1, 51, size=n).astype(np.int32),
            "p_retailprice": rng.integers(9_000, 10_000, size=n) / 10.0,
        }
    if name == "orders":
        return {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, SF01_ROWS["customer"], size=n),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], n),
            "o_totalprice": _cents(rng, 1_000, 500_000, n),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    if name == "lineitem":
        return _lineitem(rng, n, SF01_ROWS["orders"])
    if name == "events":
        ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, size=n))
        return {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 1_500, size=n),
            "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    if name == "documents":
        return _documents(rng, n)
    if name == "embeddings":
        labels = rng.integers(0, 10, size=n).astype(np.int32)
        centers = rng.normal(0.0, 0.15, size=(10, 64))
        vecs = (centers[labels] + rng.normal(0.0, 0.1, size=(n, 64))).astype(np.float32)
        return {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    raise KeyError(name)


def write_tables(out_dir: Path, seed: int) -> dict[str, int]:
    """Write the ten tables as `<out_dir>/<name>.parquet`; returns row
    counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name in TABLES:
        tbl = pa.table(table_columns(name, seed))
        pq.write_table(tbl, out_dir / f"{name}.parquet")
        rows[name] = tbl.num_rows
    return rows


def scene_ids(n: int) -> list[str]:
    return [f"LC08_L2SP_189{i:03d}_202206{i % 28 + 1:02d}_02_T1" for i in range(n)]


def scene_bands(seed: int, index: int, size: int) -> tuple[np.ndarray, np.ndarray]:
    """(red, nir) float32 DN arrays of one scene. Nodata (DN 0) sits on
    two strided lattices with seeded offsets and strides ≥ 5, so every
    2×2 block keeps at least two valid pixels: each overview level f
    then has exactly (size/f)² valid cells per scene."""
    rng = np.random.default_rng([seed, 7, index])
    red = rng.integers(500, 20_000, size=(size, size)).astype(np.float32)
    nir = rng.integers(2_000, 60_000, size=(size, size)).astype(np.float32)
    sy, sx, ty, tx = (int(v) for v in rng.integers(5, 12, size=4))
    red[int(rng.integers(0, sy)) :: sy, int(rng.integers(0, sx)) :: sx] = 0.0
    nir[int(rng.integers(0, ty)) :: ty, int(rng.integers(0, tx)) :: tx] = 0.0
    return red, nir


def aoi_ring(seed: int, size: int) -> list[tuple[float, float]]:
    """A seeded 5-vertex AOI polygon inside the scene extent."""
    rng = np.random.default_rng([seed, 11])
    base = [(0.1, 0.1), (0.8, 0.15), (0.9, 0.9), (0.5, 0.5), (0.15, 0.8)]
    jit = rng.uniform(-0.05, 0.05, size=(5, 2))
    return [(float((x + dx) * size), float((y + dy) * size)) for (x, y), (dx, dy) in zip(base, jit)]


def write_scenes(out_dir: Path, seed: int, n: int, size: int) -> list[str]:
    """Write `n` scene pairs `<scene>_red.tif` / `<scene>_nir.tif`."""
    from ndvi_etl_pipeline_spark.operators import raster

    out_dir.mkdir(parents=True, exist_ok=True)
    ids = scene_ids(n)
    for i, sid in enumerate(ids):
        red, nir = scene_bands(seed, i, size)
        raster.write_geotiff(red, str(out_dir / f"{sid}_red.tif"))
        raster.write_geotiff(nir, str(out_dir / f"{sid}_nir.tif"))
    return ids


def lake_rows(seed: int, n: int) -> "pa.Table":
    """The lake workload's base table: `n` lineitem rows restricted to
    LAKE_COLUMNS, unique on LAKE_KEYS."""
    rng = np.random.default_rng([seed, 23])
    cols = _lineitem(rng, n, max(1, n // 4))
    tbl = pa.table({c: cols[c] for c in LAKE_COLUMNS})
    keys = tbl.select(list(LAKE_KEYS)).to_pandas()
    keep = ~keys.duplicated().to_numpy()
    return tbl.filter(pa.array(keep))


"""Output checks: every timed operation's result is compared with an
answer computed independently of the package.

- Catalog queries: DuckDB runs each query's `oracle_sql()` twin over
  the same parquet files; results are compared in the canonical form
  of `tools/check_correctness.py` (`canon`).
- NDVI DAG: scene statistics are recomputed with numpy from the
  seeded bands, and the overview valid counts are checked against
  their closed form.
- Lake: an in-memory model of the table (pyarrow) is advanced with
  every commit, and each read is compared with the model's count and
  revenue.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check_correctness import canon  # noqa: E402

# NDVI constants of the Landsat C2L2 surface-reflectance scaling the
# pipeline applies (reference compute_ndvi.py).
_SCALE, _OFFSET, _EPS = 0.0000275, -0.2, 1e-6


def _close(a, b) -> bool:
    """Canonical values equal, or floats that differ only by rounding
    of the last digit the query kept (summation order differs between
    engines)."""
    if a == b:
        return True
    if a[0] == "f" and b[0] == "f":
        return abs(a[1] - b[1]) <= 1e-6 * max(1.0, abs(a[1]), abs(b[1]))
    return False


def same_result(got, want) -> str | None:
    """None when the two pandas frames hold the same rows; else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = canon(got), canon(want)
    if g == w:
        return None
    for i, (rg, rw) in enumerate(zip(g, w)):
        if not all(_close(a, b) for a, b in zip(rg, rw)):
            return f"sorted row {i}: {rg} != {rw}"
    return None


class CatalogOracle:
    """DuckDB answers for the catalog queries over one table directory."""

    def __init__(self, sf_dir: Path, names: list[str], oracle_sql: dict[str, str]):
        import duckdb

        con = duckdb.connect()
        try:
            for p in sorted(sf_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            self.results = {n: con.execute(oracle_sql[n]).fetchdf() for n in names}
        finally:
            con.close()

    def rows(self, name: str) -> int:
        return len(self.results[name])

    def check(self, name: str, got) -> str | None:
        return same_result(got, self.results[name])


def scene_stats(red: np.ndarray, nir: np.ndarray) -> tuple[int, int, float]:
    """(n_pixels, n_valid, mean_ndvi) of one scene, recomputed."""
    valid = (red != 0) & (nir != 0)
    r = red.astype(np.float64) * _SCALE + _OFFSET
    n = nir.astype(np.float64) * _SCALE + _OFFSET
    ndvi = np.clip((n - r) / (n + r + _EPS), -1.0, 1.0).astype(np.float32)
    return red.size, int(valid.sum()), float(ndvi[valid].astype(np.float64).mean())


def check_scene_stats(rows, expected: dict[str, tuple[int, int, float]]) -> str | None:
    got = {r["scene_id"]: (r["n_pixels"], r["n_valid"], r["mean_ndvi"]) for r in rows}
    if set(got) != set(expected):
        return f"scenes {sorted(got)} != {sorted(expected)}"
    for sid, (n_px, n_valid, mean) in expected.items():
        g = got[sid]
        if (g[0], g[1]) != (n_px, n_valid) or abs(g[2] - round(mean, 6)) > 2e-6:
            return f"{sid}: {g} != {(n_px, n_valid, round(mean, 6))}"
    return None


def check_overview_counts(rows, n_scenes: int, size: int) -> str | None:
    """Each level f has (size/f)² valid cells per scene (no 2×2 block of
    the fixtures is all nodata)."""
    got = {r["factor"]: r["n"] for r in rows}
    want = {f: n_scenes * (size // f) ** 2 for f in got}
    if not got or got != want:
        return f"overview valid counts {got} != {want}"
    return None


class LakeModel:
    """The lake table's expected state, advanced commit by commit."""

    def __init__(self, base: pa.Table, keys: tuple[str, ...]):
        self.table = base
        self.keys = keys

    def _key_strings(self, t: pa.Table) -> pa.Array:
        return pc.binary_join_element_wise(
            *[pc.cast(t[k], pa.string()) for k in self.keys], "|"
        )

    def _without(self, keys_of: pa.Table) -> pa.Table:
        hit = pc.is_in(self._key_strings(self.table), value_set=self._key_strings(keys_of))
        return self.table.filter(pc.invert(hit))

    def append(self, rows: pa.Table) -> None:
        self.table = pa.concat_tables([self.table, rows])

    def merge(self, rows: pa.Table) -> None:
        self.table = pa.concat_tables([self._without(rows), rows])

    def delete_where(self, predicate) -> None:
        self.table = self.table.filter(pc.invert(predicate(self.table)))

    def count_where(self, predicate) -> int:
        return int(pc.sum(predicate(self.table)).as_py() or 0)

    def expected(self) -> tuple[int, float]:
        t = self.table
        rev = pc.sum(pc.multiply(t["l_extendedprice"], pc.subtract(1.0, t["l_discount"]))).as_py()
        return t.num_rows, float(rev or 0.0)

    def check(self, n: int, revenue: float) -> str | None:
        """The count exactly; the revenue up to summation order. Prices
        are in cents, so Spark's and pyarrow's sums differ in the last
        bits (at most ~n·2⁻⁵³ relative); a commit that skipped its slice
        moves the revenue by far more than the tolerance."""
        en, er = self.expected()
        if n != en or not math.isclose(revenue, er, rel_tol=1e-10):
            return f"lake state (count, revenue) {(n, revenue)} != {(en, er)}"
        return None

"""NDVI band math as native Catalyst column expressions.

Reference semantics: src/transform/compute_ndvi.py:32-93 —
uint16 digital numbers → Landsat C2L2 surface reflectance
(dn * 0.0000275 − 0.2), fill/nodata masking, safe divide with a 1e-6
epsilon, clamp to [−1, 1], −9999.0 nodata sentinel.

Everything here is a pure `Column` expression: whole-stage codegen
JVM-side, no UDF, vectorized for free, and Catalyst constant-folds
the scale/offset literals (SURVEY.md §2.3 P1-P6). At 100 TB this is
the difference between a scan-speed pipeline and a Python bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference: compute_ndvi.py:34-36
SCALE = 0.0000275
OFFSET = -0.2
EPS = 1e-6


def scale_reflectance(dn: Column | str) -> Column:
    """P1+P2: DN → surface reflectance. compute_ndvi.py:43-44,55-56."""
    dn = F.col(dn) if isinstance(dn, str) else dn
    return dn.cast("double") * F.lit(SCALE) + F.lit(OFFSET)


def valid_dn_mask(red_dn: Column | str, nir_dn: Column | str, nodata_dn: float = 0.0) -> Column:
    """F6: True where BOTH bands carry real data.

    Reference masks dn==0 (fill), dn==nodata and non-finite values
    (compute_ndvi.py:48-59). Parquet DNs are ints so non-finite can't
    occur on ingest, but nulls can — treat them as fill.
    """
    red_dn = F.col(red_dn) if isinstance(red_dn, str) else red_dn
    nir_dn = F.col(nir_dn) if isinstance(nir_dn, str) else nir_dn
    bad = (
        red_dn.isNull()
        | nir_dn.isNull()
        | (red_dn == F.lit(nodata_dn))
        | (nir_dn == F.lit(nodata_dn))
    )
    return ~bad


def ndvi(red: Column | str, nir: Column | str) -> Column:
    """P3: (nir−red)/(nir+red+eps) on reflectance values.

    compute_ndvi.py:62-65. The epsilon reproduces the reference's
    safe-divide; inputs are already-scaled reflectances.
    """
    red = F.col(red) if isinstance(red, str) else red
    nir = F.col(nir) if isinstance(nir, str) else nir
    return (nir - red) / (nir + red + F.lit(EPS))


def clamp(x: Column | str, lo: float = -1.0, hi: float = 1.0) -> Column:
    """P5: clip to [lo, hi]. compute_ndvi.py:70-71."""
    x = F.col(x) if isinstance(x, str) else x
    return F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), x))


def ndvi_from_dn(red_dn: Column | str, nir_dn: Column | str, nodata_dn: float = 0.0) -> Column:
    """Full P1-P6 chain: DN pair → clamped NDVI, NULL where masked.

    NULL (not −9999.0) is the in-engine nodata representation — Spark
    aggregates skip NULLs, which reproduces the reference's masked
    mean (load_to_postgis.py:74-79) with a plain `avg`. The sentinel
    is applied only at export (the GeoTIFF writers' `nodata`).
    """
    valid = valid_dn_mask(red_dn, nir_dn, nodata_dn)
    value = clamp(ndvi(scale_reflectance(red_dn), scale_reflectance(nir_dn)))
    return F.when(valid, value)


def evi2(red: Column | str, nir: Column | str) -> Column:
    """Two-band Enhanced Vegetation Index (Jiang et al. 2008):
    2.5 · (nir − red) / (nir + 2.4 · red + 1).

    Same input contract as `ndvi` (already-scaled reflectances). The
    denominator is bounded away from zero for C2L2 reflectances
    (≥ 0.32 at the −0.2 offset floor), so no epsilon is needed.
    """
    red = F.col(red) if isinstance(red, str) else red
    nir = F.col(nir) if isinstance(nir, str) else nir
    return F.lit(2.5) * (nir - red) / (nir + F.lit(2.4) * red + F.lit(1.0))


def savi(red: Column | str, nir: Column | str, soil_l: float = 0.5) -> Column:
    """Soil-Adjusted Vegetation Index (Huete 1988):
    (1 + L) · (nir − red) / (nir + red + L), default L = 0.5.

    L bounds the denominator (≥ 0.1 for C2L2 reflectances at L=0.5),
    so like `evi2` this needs no epsilon.
    """
    red = F.col(red) if isinstance(red, str) else red
    nir = F.col(nir) if isinstance(nir, str) else nir
    return (
        F.lit(1.0 + soil_l) * (nir - red) / (nir + red + F.lit(float(soil_l)))
    )

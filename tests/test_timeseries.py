"""Unit tests for the raster time-series tier (operators/timeseries.py,
functions/ndvi.py evi2/savi). Oracle parity for the three registered
queries is covered by tools/check_correctness.py; these pin the
operator semantics on tiny hand-checkable frames."""

import re

import pyspark.sql.functions as F

from ndvi_etl_pipeline_spark.functions.ndvi import evi2, savi
from ndvi_etl_pipeline_spark.operators.timeseries import (
    first_crossing,
    temporal_composite,
)


def _nv(spark, rows):
    return spark.createDataFrame(rows, "period int, y int, x int, ndvi double")


def test_temporal_composite_max_and_count(spark):
    nv = _nv(
        spark,
        [
            (202401, 0, 0, 0.1),
            (202402, 0, 0, 0.6),   # annual max for (2024, 0, 0)
            (202403, 0, 0, None),  # masked -> excluded from count
            (202401, 0, 1, -0.3),
            (202501, 0, 0, 0.2),
        ],
    ).withColumn("yr", F.floor(F.col("period") / F.lit(100.0)).cast("int"))
    out = {
        (r.yr, r.y, r.x): (r.cv, r.n_obs)
        for r in temporal_composite(nv, keys=("yr", "y", "x")).collect()
    }
    assert out[(2024, 0, 0)] == (0.6, 2)
    assert out[(2024, 0, 1)] == (-0.3, 1)
    assert out[(2025, 0, 0)] == (0.2, 1)


def test_first_crossing_earliest_period(spark):
    nv = _nv(
        spark,
        [
            (202403, 0, 0, 0.5),
            (202401, 0, 0, 0.25),  # earliest crossing for (0, 0)
            (202402, 0, 0, 0.1),   # below threshold
            (202401, 0, 1, 0.1),   # never crosses -> absent
        ],
    )
    out = {
        (r.y, r.x): r.first_period
        for r in first_crossing(nv, pixel_keys=("y", "x"), threshold=0.2).collect()
    }
    assert out == {(0, 0): 202401}


def test_timeseries_plans_are_pure_agg(spark, sf_dir):
    """Plan-shape regression: the composite is a pure hash-agg cascade
    (3 exchanges: pairing, composite cells, year summary) and neither
    query plans any Python evaluation node."""
    from tools.audit_plans import explain_str
    from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

    comp_plan = explain_str(REGISTRY["ndvi_annual_composite"].builder(spark, sf_dir))
    # formatted plans mention each node twice (tree + detail): count ids
    n_exchanges = len(set(re.findall(r"Exchange \((\d+)\)", comp_plan)))
    assert n_exchanges == 3, comp_plan
    for name in ("ndvi_annual_composite", "ndvi_trend", "ndvi_greenup_period"):
        plan = explain_str(REGISTRY[name].builder(spark, sf_dir))
        assert "EvalPython" not in plan, (name, plan)


def test_evi2_savi_known_values(spark):
    # red=0.1, nir=0.5: NDVI=(0.4/0.6)=0.667, EVI2=2.5*0.4/1.74,
    # SAVI=1.5*0.4/1.1 — hand-computed.
    df = spark.createDataFrame([(0.1, 0.5)], "red double, nir double")
    row = df.select(
        evi2("red", "nir").alias("e"), savi("red", "nir").alias("s")
    ).first()
    assert abs(row.e - 2.5 * 0.4 / (0.5 + 2.4 * 0.1 + 1.0)) < 1e-12
    assert abs(row.s - 1.5 * 0.4 / (0.5 + 0.1 + 0.5)) < 1e-12

"""The engine's one Python boundary (operators/arrow_kernels.py): what
a kernel receives and how its rows come back, how the batch loop
bounds its output batches, that every ported kernel plans as an Arrow
Python node and never a pandas one, and that no pandas kernel is left
in the package outside Spark's streaming state API. Also its driver
side: `local_df` turns Python rows into a relation that plans no job,
and is the package's one `createDataFrame` call."""

import ast
import io
import tokenize
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import ndvi_etl_pipeline_spark
from ndvi_etl_pipeline_spark.functions import geo
from ndvi_etl_pipeline_spark.operators import (
    focal,
    imagehash,
    multimodal,
    raster,
    selection,
    similarity,
    warp,
)
from ndvi_etl_pipeline_spark.operators.arrow_kernels import (
    batch_stream,
    local_df,
    map_batches,
    map_groups,
)
from tools.audit_plans import pandas_python_nodes, plan_as_run


def test_map_groups_contract(spark):
    """Keys arrive as Python values; a numeric column as one numpy
    array, a binary column as memoryviews (None for null); a group may
    yield no rows; an ndarray output column explodes its row to one
    row per element, scalar fields repeated."""
    df = spark.createDataFrame(
        [
            ("a", 1, b"\x01\x02", 1.5),
            ("a", 1, None, 2.5),
            ("a", 2, b"\x07", 3.0),
            ("b", 1, b"", -1.0),
        ],
        "k string, n int, blob binary, v double",
    )
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("kinds", T.StringType()),
            T.StructField("byte_sum", T.IntegerType()),
            T.StructField("v2", T.DoubleType()),
        ]
    )

    def fn(key, g):
        k, n = key
        if (k, n) == ("a", 2):
            return
        kinds = ",".join(
            [type(k).__name__, type(n).__name__, type(g.v).__name__]
            + sorted({type(b).__name__ for b in g.blob})
        )
        sums = np.array([-1 if b is None else sum(b) for b in g.blob], dtype=np.int32)
        yield k, n, kinds, sums, g.v * 2

    got = sorted(tuple(r) for r in map_groups(df, ["k", "n"], fn, schema).collect())
    assert got == [
        ("a", 1, "str,int,ndarray,NoneType,memoryview", -1, 5.0),
        ("a", 1, "str,int,ndarray,NoneType,memoryview", 3, 3.0),
        ("b", 1, "str,int,ndarray,memoryview", 0, -2.0),
    ]


def test_map_batches_contract(spark):
    """`fn` gets the whole batch as a namedtuple of columns: numbers as
    one numpy array, a list<double> column as one 1-D numpy array per
    row (None for a null list); returned ndarray columns explode."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [])], "id long, v array<double>"
    ).coalesce(1)
    schema = T.StructType(
        [
            T.StructField("kinds", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def fn(batch):
        kinds = ",".join(
            [type(batch.id).__name__] + [type(v).__name__ for v in batch.v]
        )
        sums = np.array([np.nan if v is None else v.sum() for v in batch.v])
        yield kinds, batch.id, sums

    got = sorted(map(tuple, map_batches(df, fn, schema).collect()), key=lambda r: r[1])
    kinds = "ndarray,ndarray,NoneType,ndarray"
    assert [r[:2] for r in got] == [(kinds, 1), (kinds, 2), (kinds, 3)]
    assert got[0][2] == 3.0 and np.isnan(got[1][2]) and got[2][2] == 0.0


_ONE_COL = pa.schema([("n", pa.int64())])


def _batches(sizes):
    start = 0
    for size in sizes:
        yield pa.record_batch([pa.array(range(start, start + size), pa.int64())], schema=_ONE_COL)
        start += size


def test_batch_stream_one_batch_per_input_batch():
    """A 1:1 kernel writes exactly one output batch per input batch."""
    out = list(batch_stream(_batches([5, 3, 7]), ("n",), lambda b: ((int(n) * 2,) for n in b.n), _ONE_COL))
    assert [b.num_rows for b in out] == [5, 3, 7]
    assert pa.Table.from_batches(out).column("n").to_pylist() == [2 * n for n in range(15)]


def test_batch_stream_bounds_row_multiplying_kernels():
    """A kernel that yields 1,000 rows per input row never holds more
    than input-rows + 1,000 rows in one output batch, and loses none."""

    def explode(batch):
        for n in batch.n:
            yield from ((int(n) * 1000 + i,) for i in range(1000))

    out = list(batch_stream(_batches([4, 1]), ("n",), explode, _ONE_COL))
    assert max(b.num_rows for b in out) <= 4 + 1000
    assert sum(b.num_rows for b in out) == 5 * 1000
    assert pa.Table.from_batches(out).column("n").to_pylist() == list(range(5000))


def _pixels(spark):
    return spark.createDataFrame(
        [("S", "red", y, x, float(y * 8 + x)) for y in range(8) for x in range(8)],
        "scene_id string, band string, y int, x int, dn double",
    )


def _ndvi_tiles(spark):
    payload = np.arange(16, dtype=np.float32).tobytes()
    return spark.createDataFrame(
        [("S", ty, tx, 4, 4, 4 * ty, 4 * tx, payload, 16, 16, 120.0)
         for ty in range(2) for tx in range(2)],
        raster.NDVI_TILE_SCHEMA,
    )


def _band_files(spark):
    return spark.createDataFrame(
        [("S", "red", b"\x00"), ("S", "nir", b"\x00")],
        "scene_id string, band string, content binary",
    )


def _vectors(spark):
    """(vec_id, embedding, label) rows: 4-dim, two labels."""
    rng = np.random.default_rng(3)
    return spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)], i % 2) for i in range(12)],
        "vec_id bigint, embedding array<double>, label int",
    )


def _points_in_rings(spark):
    return spark.createDataFrame(
        [(0.5, 0.5), (2.0, 2.0)], "x double, y double"
    ).withColumn("ring", geo.ring_literal([(0, 0), (1, 0), (1, 1), (0, 1)]))


def _media(spark):
    return multimodal.synthesize_media(spark, n_images=2, n_audio=1, n_video=1)


# entry point → (the Arrow node it must plan as, its builder)
ENTRY_POINTS = {
    "pixels_to_tiles": ("FlatMapGroupsInArrow", lambda s, d: raster.pixels_to_tiles(_pixels(s), tile=4)),
    "tile_composite": ("FlatMapGroupsInArrow", lambda s, d: raster.tile_composite(_ndvi_tiles(s))),
    "tile_viz_products": (
        "FlatMapGroupsInArrow", lambda s, d: raster.tile_viz_products(_ndvi_tiles(s), factor=2)
    ),
    "export_scene_geotiffs": (
        "FlatMapGroupsInArrow", lambda s, d: raster.export_scene_geotiffs(_ndvi_tiles(s), d)
    ),
    "export_pixel_geotiffs": (
        "FlatMapGroupsInArrow", lambda s, d: raster.export_pixel_geotiffs(_pixels(s), d, "dn")
    ),
    "scene_ndvi_from_bands": (
        "FlatMapGroupsInArrow", lambda s, d: raster.scene_ndvi_from_bands(_band_files(s))
    ),
    "resample_scene_pixels": ("FlatMapGroupsInArrow", lambda s, d: warp.resample_scene_pixels(
        _pixels(s), 4, 4, 2.0, 2.0, value_col="dn"
    )),
    "warp_with_mapping": ("FlatMapGroupsInArrow", lambda s, d: warp.warp_with_mapping(
        _pixels(s), 4, 4, lambda y, x: (y, x), value_col="dn"
    )),
    "warp_bilinear_tiled": (
        "FlatMapGroupsInArrow", lambda s, d: warp.warp_bilinear_tiled(_ndvi_tiles(s), 4, 4, 2.0, 2.0)
    ),
    "focal_map_tiled": (
        "FlatMapGroupsInArrow", lambda s, d: focal.focal_map_tiled(_ndvi_tiles(s), focal.focal_mean_3x3)
    ),
    "image_features": ("MapInArrow", lambda s, d: multimodal.image_features(_media(s))),
    "resize_images": ("MapInArrow", lambda s, d: multimodal.resize_images(_media(s), 8, 8)),
    "sample_frames": ("MapInArrow", lambda s, d: multimodal.sample_frames(_media(s))),
    "audio_features": ("MapInArrow", lambda s, d: multimodal.audio_features(_media(s))),
    "audio_spectral_features": (
        "MapInArrow", lambda s, d: multimodal.audio_spectral_features(_media(s))
    ),
    "video_motion_features": ("MapInArrow", lambda s, d: multimodal.video_motion_features(_media(s))),
    "patchify_images": ("MapInArrow", lambda s, d: multimodal.patchify_images(_media(s), patch=8)),
    "image_hashes": ("MapInArrow", lambda s, d: imagehash.image_hashes(_media(s))),
    "brute_force_topk_np": ("MapInArrow", lambda s, d: similarity.brute_force_topk_np(
        _vectors(s), _vectors(s).filter("vec_id < 2")
    )),
    "hard_negatives_np": ("MapInArrow", lambda s, d: selection.hard_negatives_np(
        _vectors(s), _vectors(s).filter("vec_id < 2")
    )),
    "semdedup_cluster_stats_np": ("FlatMapGroupsInArrow", lambda s, d: selection.semdedup_cluster_stats_np(
        _vectors(s), _vectors(s).filter("vec_id < 2")
    )),
    "st_contains_udf": ("ArrowEvalPython", lambda s, d: _points_in_rings(s).select(
        geo.st_contains_udf("ring", "x", "y")
    )),
}


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_grouped_kernels_plan_arrow_not_pandas(spark, tmp_path, entry):
    node, build = ENTRY_POINTS[entry]
    plan = plan_as_run(build(spark, str(tmp_path)))
    assert node in plan, plan
    assert pandas_python_nodes(plan) == 0, plan


def test_st_contains_udf_reads_ring_lists(spark):
    """The scalar geometry UDF: one ray cast per distinct ring, a null
    ring contains nothing."""
    df = _points_in_rings(spark).union(
        spark.createDataFrame([(0.5, 0.5, None)], "x double, y double, ring array<double>")
    )
    got = sorted(
        (r.x, r.ring is None, r.inside)
        for r in df.withColumn("inside", geo.st_contains_udf("ring", "x", "y")).collect()
    )
    assert got == [(0.5, False, True), (0.5, True, False), (2.0, False, False)]


# the pandas kernel surfaces: a NAME token, or `import pandas` / `from pandas`
_PANDAS_NAMES = {"mapInPandas", "applyInPandas", "pandas_udf"}
# Spark's streaming state API speaks pandas frames and has no Arrow form
_ALLOWED = Counter({("streaming/events.py", "import pandas"): 1})


def _pandas_sites(source: str):
    """The pandas kernel sites in `source`'s code — tokens, so a
    docstring or comment that names one does not count."""
    toks = [t for t in tokenize.generate_tokens(io.StringIO(source).readline)
            if t.type == tokenize.NAME]
    for prev, tok in zip([None] + toks, toks):
        if tok.string in _PANDAS_NAMES:
            yield tok.string
        elif tok.string == "pandas" and prev is not None and prev.string in ("import", "from"):
            yield "import pandas"


def test_no_pandas_kernel_outside_the_state_apis():
    root = Path(ndvi_etl_pipeline_spark.__file__).parent
    found = Counter(
        (path.relative_to(root).as_posix(), site)
        for path in sorted(root.rglob("*.py"))
        for site in _pandas_sites(path.read_text())
    )
    assert found - _ALLOWED == Counter(), sorted(found - _ALLOWED)


def test_local_df_matches_create_dataframe(spark):
    """`local_df` is a drop-in for `createDataFrame(list, schema)` on
    the types its callers pass: same schema, same rows, None kept,
    DDL or StructType schema, Row input, the empty list, arrays
    (nested too: the ADC tables), binary plus a struct (media), and
    numpy values — a numpy array cell stays one row, not one per
    element. The reference rows are the plain-Python form of the
    input where `createDataFrame` would reject numpy values."""
    ddl = "s string, i int, b bigint, d double"
    rows = [("a", 1, 2**40, 0.5), (None, None, None, None), ("c", -3, 7, 1e300)]
    vec = "cid int, c array<double>"
    adc = "query_id long, adc_tables array<array<double>>"
    cases = [
        (rows, ddl, None),
        ([Row(s="x", i=4, b=5, d=6.0)], ddl, None),
        ([], ddl, None),
        (rows, spark._parse_ddl(ddl), None),
        ([], spark._parse_ddl(ddl), None),
        ([(0, [1.0, -2.5]), (1, []), (2, None)], vec, None),
        ([(0, np.array([1.0, -2.5, 3.0]))], vec, [(0, [1.0, -2.5, 3.0])]),
        ([(7, [[0.5, 1.5], [], [2.0]]), (8, None)], adc, None),
        ([], adc, None),
        (
            [(np.int32(3), np.int64(2**40), np.float64(0.25), np.float32(1.5))],
            "i int, b bigint, d double, f double",
            [(3, 2**40, 0.25, 1.5)],
        ),
        (
            [
                (1, "image", bytearray(b"\x00\xff"), ("raw", 2, 1, 1, None, None)),
                (2, "audio", b"", ("pcm16", None, None, 1, 8000, None)),
                (3, "video", None, None),
            ],
            multimodal.MEDIA_SCHEMA,
            None,
        ),
    ]
    for data, schema, ref_data in cases:
        got = local_df(spark, data, schema)
        ref = spark.createDataFrame(data if ref_data is None else ref_data, schema)
        assert got.schema == ref.schema
        assert got.collect() == ref.collect(), (data, schema)


def test_local_df_projection_runs_no_job(spark, tmp_path):
    """A `local_df` relation is a LocalTableScan, not a Python RDD:
    collecting a projection of it launches no Spark job."""
    df = local_df(spark, [(i, [float(i)] * 3) for i in range(50)], "cid int, c array<double>")
    sc = spark.sparkContext
    group = f"local-df-{tmp_path.name}"
    sc.setJobGroup(group, "collect a local relation")
    try:
        got = df.select((df.cid * 2).alias("z"), df.c[1].alias("c1")).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert got == [(2 * i, float(i)) for i in range(50)]
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def _create_dataframe_sites(source: str):
    """The enclosing top-level function (None at module level) of
    every `<x>.createDataFrame(...)` call in `source` — calls, so a
    docstring or comment that names one does not count."""
    for top in ast.parse(source).body:
        name = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                yield name


def test_create_dataframe_only_in_local_df():
    """Driver rows become a relation one way: the package calls
    `createDataFrame` once, inside `arrow_kernels.local_df`, with an
    Arrow table."""
    root = Path(ndvi_etl_pipeline_spark.__file__).parent
    found = Counter(
        (path.relative_to(root).as_posix(), site)
        for path in sorted(root.rglob("*.py"))
        for site in _create_dataframe_sites(path.read_text())
    )
    assert found == Counter({("operators/arrow_kernels.py", "local_df"): 1}), sorted(found)

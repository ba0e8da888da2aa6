"""Catalog-shared core: registry, helpers, constants (split from
the monolithic plans/queries.py; see catalog/__init__.py).
Underscore helpers are deliberately in __all__ so part modules
can `from ._shared import *`."""

from __future__ import annotations



import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions import text as TXT
from ...operators import curation as CUR
from ...operators import dedup as DD
from ...operators import similarity as SIM
from ...operators.arrow_kernels import local_df
from ...operators.bands import pair_bands
from ...sources.testdata import load_table


@dataclass(frozen=True)
class QuerySpec:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver falls back to rows-only check
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}

# The scrub pattern as it appears inside a single-quoted DuckDB string
# literal (standard strings: backslashes pass through to RE2 verbatim,
# matching Java-regex semantics for \b and {m,} quantifiers).
CUR_SCRUB_PATTERN_SQL = CUR.SCRUB_PATTERN


def register(name: str, oracle: str | None, headline: bool = False, tags: tuple[str, ...] = ()):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = QuerySpec(fn, oracle, headline, tags)
        return fn

    return deco


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread_key: str | None = None
) -> DataFrame:
    # spread_key: opt-in hash repartition after an unsplittable (few-
    # row-group) scan so heavy fused per-row work parallelizes; a no-op
    # on any input whose layout already feeds the cores (see
    # sources/testdata.load_table).
    return load_table(spark, name, sf_dir, spread_key=spread_key)


# --- signed-zero-safe rounding -------------------------------------------
# round(-1e-9, 6) is -0.0 in DuckDB but +0.0 in Spark; the driver's
# value-hash distinguishes the two even though -0.0 == 0.0, so any query
# that rounds a possibly-negative float to a value that can land on zero
# must canonicalize the sign on BOTH sides. IEEE: x + 0.0 == x for every
# finite x except that -0.0 + 0.0 = +0.0, so adding +0.0 is an exact
# no-op everywhere but the one cell we need to fix (NaN stays NaN).
# Pair canon_round with `(round(<expr>, <scale>) + 0.0)` in the oracle.


def canon_round(col, scale: int) -> "F.Column":
    return F.round(col, scale) + F.lit(0.0)


def seq1(stop) -> "F.Column":
    """Ascending 1..stop, EMPTY when stop < 1.

    Spark's sequence(1, 0) is the DESCENDING [1, 0] (step defaults to
    -1 when start > stop), and a 0 element reaching element_at/slice
    throws at runtime — so `sequence(1, greatest(n, 0))` is a crash
    on short inputs, not a guard. CASE WHEN short-circuits instead."""
    return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )


# Two-sided normal p-value from a z score — p = erfc(|z|/√2);
# neither engine ships erfc as a builtin. Machine-precision split
# form (round 4 — replaces the A&S 7.1.26 polynomial whose 1.5e-7
# error bounded the formula-audit tolerance):
#   x ≤ 2 : 1 − (2/√π)·x·Σ_{n≤30} (−x²)ⁿ/(n!(2n+1))   (Horner)
#   x > 2 : Laplace continued fraction (DLMF 7.9, depth 48):
#           e^(−x²)/√π / (x + (1/2)/(x + (2/2)/(x + (3/2)/(x + …))))
# Validated |abs err| ≤ 1e-15, |rel err| ≤ 2e-13 vs math.erfc on
# [0, 15] (tests/test_formula_audit.py pins it). Column and SQL forms
# are the SAME expression tree — every literal is the repr of the
# identical Python double, operator association matches — so IEEE
# doubles agree bit-for-bit cross-engine and the multiple-testing
# queries compare CALIBRATED p-values, not just a monotone score.
_ERFC_TAYLOR_N = 30
_ERFC_CF_DEPTH = 48
_ERFC_SPLIT = 2.0
_ERFC_C = tuple(
    (-1.0) ** n / (math.factorial(n) * (2 * n + 1))
    for n in range(_ERFC_TAYLOR_N + 1)
)
_TWO_OVER_SQRT_PI = 2.0 / math.sqrt(math.pi)
_INV_SQRT_PI = 1.0 / math.sqrt(math.pi)


def normal_p_two_sided_col(z) -> "F.Column":
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = x * x
    poly = F.lit(_ERFC_C[-1])
    for cn in reversed(_ERFC_C[:-1]):
        poly = poly * t + F.lit(cn)
    taylor = F.lit(1.0) - F.lit(_TWO_OVER_SQRT_PI) * x * poly
    acc = F.lit(0.0)
    for k in reversed(range(1, _ERFC_CF_DEPTH + 1)):
        acc = F.lit(k / 2.0) / (x + acc)
    cf = F.exp(-t) * F.lit(_INV_SQRT_PI) / (x + acc)
    return F.when(x <= F.lit(_ERFC_SPLIT), taylor).otherwise(cf)


def normal_p_two_sided_sql(z_expr: str) -> str:
    x = f"(abs({z_expr}) / sqrt(2.0))"
    t = f"({x} * {x})"
    poly = repr(_ERFC_C[-1])
    for cn in reversed(_ERFC_C[:-1]):
        poly = f"({poly} * {t} + {cn!r})"
    taylor = f"(1.0 - {_TWO_OVER_SQRT_PI!r} * {x} * {poly})"
    acc = "0.0"
    for k in reversed(range(1, _ERFC_CF_DEPTH + 1)):
        acc = f"({k / 2.0!r} / ({x} + {acc}))"
    cf = f"(exp(-{t}) * {_INV_SQRT_PI!r} / ({x} + {acc}))"
    return f"(CASE WHEN {x} <= {_ERFC_SPLIT!r} THEN {taylor} ELSE {cf} END)"


# ===========================================================================
# B. Reference-shaped NDVI tier over a lineitem-derived pixel grid
#    (same operators as plans/pipeline.py, but oracle-checkable in SQL)
# ===========================================================================

# Deterministic pixel grid derived from lineitem: 3 scenes, 100×100
# grid, band from the linenumber parity, DN with planted fill zeros.
_PIXELS_SQL = """
      SELECT concat('LC08_L2SP_', lpad(CAST(187018 + (l_suppkey % 3) AS VARCHAR), 6, '0'),
                    '_20220606_02_T1') AS scene_id,
             CASE WHEN l_linenumber % 2 = 0 THEN 'red' ELSE 'nir' END AS band,
             CAST(l_orderkey % 100 AS INT) AS y,
             CAST(l_partkey % 100 AS INT) AS x,
             CAST(CASE WHEN (l_orderkey + l_partkey) % 37 = 0 THEN 0
                  ELSE (CAST(floor(l_quantity * 100) AS BIGINT) + l_partkey) % 65535 + 1
             END AS INT) AS dn
      FROM lineitem
"""

_NDVI_SQL = """
    WITH px AS ({pixels}),
    paired AS (
      SELECT scene_id, y, x,
             max(CASE WHEN band = 'red' THEN dn END) AS red_dn,
             max(CASE WHEN band = 'nir' THEN dn END) AS nir_dn
      FROM px GROUP BY scene_id, y, x
    ),
    nv AS (
      SELECT scene_id, y, x,
             CASE WHEN red_dn = 0 OR nir_dn = 0 THEN NULL
                  ELSE greatest(-1.0, least(1.0,
                       ((nir_dn * 0.0000275 - 0.2) - (red_dn * 0.0000275 - 0.2))
                     / ((nir_dn * 0.0000275 - 0.2) + (red_dn * 0.0000275 - 0.2) + 0.000001)))
             END AS ndvi
      FROM paired
      WHERE red_dn IS NOT NULL AND nir_dn IS NOT NULL
    )
""".format(pixels=_PIXELS_SQL)


def derived_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _PIXELS_SQL (bit-identical integer math)."""
    li = _t(spark, sf_dir, "lineitem")
    scene = F.concat(
        F.lit("LC08_L2SP_"),
        F.lpad((F.lit(187018) + F.col("l_suppkey") % 3).cast("string"), 6, "0"),
        F.lit("_20220606_02_T1"),
    ).alias("scene_id")
    band = F.when(F.col("l_linenumber") % 2 == 0, F.lit("red")).otherwise(F.lit("nir")).alias(
        "band"
    )
    dn = (
        F.when((F.col("l_orderkey") + F.col("l_partkey")) % 37 == 0, F.lit(0))
        .otherwise(
            (F.floor(F.col("l_quantity") * 100).cast("bigint") + F.col("l_partkey")) % 65535 + 1
        )
        .cast("int")
        .alias("dn")
    )
    return li.select(
        scene,
        band,
        (F.col("l_orderkey") % 100).cast("int").alias("y"),
        (F.col("l_partkey") % 100).cast("int").alias("x"),
        dn,
    )


def _ndvi_pixels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...functions.ndvi import ndvi_from_dn

    # Pair on the compact INT scene key (l_suppkey % 3) and attach the
    # scene_id STRING only after the pairing aggregate: scene_id is a
    # bijection of the key, so results are identical, but the ~30-char
    # concat/lpad runs once per paired pixel (30 k rows) instead of
    # once per input row (600 k at sf0.1 — inside the single-task scan
    # stage), and the pairing exchange hashes/carries ints, not
    # strings. derived_pixels() keeps the original string-keyed shape
    # for consumers that need band rows (tile codec paths).
    li = _t(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("red"))
        .otherwise(F.lit("nir"))
        .alias("band")
    )
    dn = (
        F.when((F.col("l_orderkey") + F.col("l_partkey")) % 37 == 0, F.lit(0))
        .otherwise(
            (F.floor(F.col("l_quantity") * 100).cast("bigint") + F.col("l_partkey")) % 65535 + 1
        )
        .cast("int")
        .alias("dn")
    )
    px = li.select(
        (F.col("l_suppkey") % 3).alias("sk"),
        band,
        (F.col("l_orderkey") % 100).cast("int").alias("y"),
        (F.col("l_partkey") % 100).cast("int").alias("x"),
        dn,
    )
    paired = pair_bands(px, keys=("sk", "y", "x"))
    scene = F.concat(
        F.lit("LC08_L2SP_"),
        F.lpad((F.lit(187018) + F.col("sk")).cast("string"), 6, "0"),
        F.lit("_20220606_02_T1"),
    ).alias("scene_id")
    return paired.select(
        scene, "y", "x", ndvi_from_dn("red_dn", "nir_dn", nodata_dn=0.0).alias("ndvi")
    )


# --- NDVI time series over a (period, y, x) grid -------------------------
# Multi-date pixels derived from lineitem: period = yyyymm of l_shipdate,
# a coarse 20×20 grid so every period keeps paired-band density at small
# scale factors. Pairing runs per (period, y, x) ACROSS the scene
# dimension — mosaic-then-composite, the standard Landsat analysis-ready
# data layout.

_TS_NDVI_SQL = """
    WITH px AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS period,
             CASE WHEN l_linenumber % 2 = 0 THEN 'red' ELSE 'nir' END AS band,
             CAST(l_orderkey % 20 AS INT) AS y,
             CAST(l_partkey % 20 AS INT) AS x,
             CAST(CASE WHEN (l_orderkey + l_partkey) % 37 = 0 THEN 0
                  ELSE (CAST(floor(l_quantity * 100) AS BIGINT) + l_partkey + l_orderkey) % 65535 + 1
             END AS INT) AS dn
      FROM lineitem
    ),
    paired AS (
      SELECT period, y, x,
             max(CASE WHEN band = 'red' THEN dn END) AS red_dn,
             max(CASE WHEN band = 'nir' THEN dn END) AS nir_dn
      FROM px GROUP BY period, y, x
    ),
    nv AS (
      SELECT period, y, x,
             CASE WHEN red_dn = 0 OR nir_dn = 0 THEN NULL
                  ELSE greatest(-1.0, least(1.0,
                       ((nir_dn * 0.0000275 - 0.2) - (red_dn * 0.0000275 - 0.2))
                     / ((nir_dn * 0.0000275 - 0.2) + (red_dn * 0.0000275 - 0.2) + 0.000001)))
             END AS ndvi,
             red_dn * 0.0000275 - 0.2 AS red_sr,
             nir_dn * 0.0000275 - 0.2 AS nir_sr
      FROM paired
      WHERE red_dn IS NOT NULL AND nir_dn IS NOT NULL
    )
"""


def derived_ts_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _TS_NDVI_SQL's px CTE (bit-identical math)."""
    li = _t(spark, sf_dir, "lineitem")
    period = (
        (F.year("l_shipdate") * F.lit(100) + F.month("l_shipdate"))
        .cast("int")
        .alias("period")
    )
    band = (
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("red"))
        .otherwise(F.lit("nir"))
        .alias("band")
    )
    dn = (
        F.when((F.col("l_orderkey") + F.col("l_partkey")) % 37 == 0, F.lit(0))
        .otherwise(
            (
                F.floor(F.col("l_quantity") * 100).cast("bigint")
                + F.col("l_partkey")
                + F.col("l_orderkey")
            )
            % 65535
            + 1
        )
        .cast("int")
        .alias("dn")
    )
    return li.select(
        period,
        band,
        (F.col("l_orderkey") % 20).cast("int").alias("y"),
        (F.col("l_partkey") % 20).cast("int").alias("x"),
        dn,
    )


def _ts_ndvi_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired multi-date NDVI grid with raw reflectances alongside."""
    from ...functions.ndvi import ndvi_from_dn, scale_reflectance
    from ...operators.bands import pair_bands

    paired = pair_bands(derived_ts_pixels(spark, sf_dir), keys=("period", "y", "x"))
    return paired.select(
        "period",
        "y",
        "x",
        ndvi_from_dn("red_dn", "nir_dn", nodata_dn=0.0).alias("ndvi"),
        scale_reflectance("red_dn").alias("red_sr"),
        scale_reflectance("nir_dn").alias("nir_sr"),
    )


_MINHASH_ORACLE = """
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
    ),
    shl AS (
      SELECT doc_id, list_distinct(list_transform(
          generate_series(1, greatest(len(w) - 2, 0)),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      FROM tok WHERE len(w) >= 3
    ),
    sh AS (SELECT doc_id, md5(unnest(shingles)) AS d FROM shl),
    mh AS (
      SELECT doc_id,
             min(substr(d,  1, 4)) AS h0, min(substr(d,  5, 4)) AS h1,
             min(substr(d,  9, 4)) AS h2, min(substr(d, 13, 4)) AS h3,
             min(substr(d, 17, 4)) AS h4, min(substr(d, 21, 4)) AS h5,
             min(substr(d, 25, 4)) AS h6, min(substr(d, 29, 4)) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, unnest([md5(h0 || h1), md5(h2 || h3), md5(h4 || h5), md5(h6 || h7)]) AS band
      FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
    FROM cand c
    JOIN shl sa ON sa.doc_id = c.doc_a
    JOIN shl sb ON sb.doc_id = c.doc_b
    WHERE round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= 0.8
"""


# ===========================================================================
# D. Similarity search over embeddings
# ===========================================================================

_COSINE_SQL = """
      list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
"""


_L2_SQL = """
      list_sum(list_transform(generate_series(1, 64),
               i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                  * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))
"""


# ===========================================================================
# F. Geometry clip, multidimensional aggregation, window analytics
# ===========================================================================

# Concave AOI in pixel coordinates; .5 offsets keep every integer grid
# point off the edges so the even-odd test is unambiguous in both
# engines. The SAME constant builds the Spark predicate and the SQL
# oracle text — one definition, two engines.
_AOI_RING = [
    (10.5, 10.5),
    (80.5, 15.5),
    (85.5, 85.5),
    (45.5, 50.5),  # concave notch
    (15.5, 80.5),
]


def _finalize_raycast_oracle() -> None:
    from ...functions.geo import point_in_polygon_sql, polygon_bbox

    minx, miny, maxx, maxy = polygon_bbox(_AOI_RING)
    spec = REGISTRY["aoi_raycast_clip"]
    REGISTRY["aoi_raycast_clip"] = QuerySpec(
        spec.builder,
        spec.oracle.format(
            minx=minx, maxx=maxx, miny=miny, maxy=maxy,
            pred=point_in_polygon_sql("x", "y", _AOI_RING),
        ),
        spec.headline,
        spec.tags,
    )


# Polygon-with-hole + disjoint island (GeoJSON MultiPolygon shape):
# crossings sum over all rings mod 2 — no ring-role labeling needed.
_AOI_RINGS = [
    [(10.5, 10.5), (90.5, 10.5), (90.5, 90.5), (50.5, 70.5), (10.5, 90.5)],  # exterior
    [(30.5, 30.5), (60.5, 30.5), (60.5, 60.5), (30.5, 60.5)],  # hole
    [(1.5, 94.5), (7.5, 94.5), (7.5, 98.5), (1.5, 98.5)],  # island exterior
]


def _finalize_multiring_oracle() -> None:
    from ...functions.geo import point_in_rings_sql, rings_bbox

    minx, miny, maxx, maxy = rings_bbox(_AOI_RINGS)
    spec = REGISTRY["aoi_multiring_clip"]
    REGISTRY["aoi_multiring_clip"] = QuerySpec(
        spec.builder,
        spec.oracle.format(
            minx=minx, maxx=maxx, miny=miny, maxy=maxy,
            pred=point_in_rings_sql("x", "y", _AOI_RINGS),
        ),
        spec.headline,
        spec.tags,
    )


def _pagerank_oracle(iterations: int = 5) -> str:
    """Unrolled power iteration as chained CTEs — exact, engine-portable
    (no recursive-CTE aggregation restrictions)."""
    steps = []
    for k in range(1, iterations + 1):
        steps.append(
            f"""r{k} AS (
      SELECT n.node,
             0.15/(SELECT n FROM cnt)
               + 0.85*coalesce(sum(p.r/dg.d), 0) AS r
      FROM nodes n
      LEFT JOIN eds e ON e.dst = n.node
      LEFT JOIN r{k-1} p ON p.node = e.src
      LEFT JOIN deg dg ON dg.src = e.src
      GROUP BY n.node)"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH eds AS (
      SELECT DISTINCT CAST(o_custkey % 25 AS BIGINT) AS src,
                      CAST(l_suppkey % 25 AS BIGINT) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS (SELECT DISTINCT src AS node FROM eds
              UNION SELECT DISTINCT dst FROM eds),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM eds GROUP BY src),
    r0 AS (SELECT node, 1.0/(SELECT n FROM cnt) AS r FROM nodes),
    {chain}
    SELECT node, round(r, 6) AS rank FROM r{iterations}
    """


_SQL_TEXT_QUERY = """
    WITH rev AS (
      SELECT n_name, o_orderkey,
             sum(l_extendedprice * (1 - l_discount)) AS orev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name, o_orderkey)
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(orev), 2) AS revenue,
           round(max(orev), 2) AS top_order_rev
    FROM rev GROUP BY n_name
"""


def _kmeans_chain(k: int = 4, iterations: int = 3) -> str:
    """Lloyd's algorithm unrolled as chained CTEs in fully relational
    form (points exploded to (vec_id, idx, val); distance = grouped
    sum of squared differences; argmin via windowed row_number with
    the same (dist, cid) tie-break as the Spark operator). Returns the
    WITH-body prefix ending at c{iterations} — the fitted centroid
    relation — so composed oracles (IVF on trained cells) can extend
    the same trajectory."""
    steps = []
    prev = "c0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
        FROM (SELECT p.vec_id, c.cid,
                     sum((p.val - c.val) * (p.val - c.val)) AS dist
              FROM pts p JOIN {prev} c ON c.idx = p.idx
              GROUP BY p.vec_id, c.cid))
      WHERE rk = 1),
    c{i} AS (
      SELECT a.cid, p.idx, round(avg(p.val), 6) AS val
      FROM pts p JOIN a{i} a ON a.vec_id = p.vec_id
      GROUP BY a.cid, p.idx)"""
        )
        prev = f"c{i}"
    chain = ",\n    ".join(steps)
    prefix = f"""pts AS (
      SELECT vec_id, CAST(t.i AS INT) AS idx,
             CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN range(1, 65) AS t(i)
      WHERE t.i <= len(embedding)),
    c0 AS (
      SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, idx, val
      FROM pts
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
    {chain}"""
    return prefix


def _kmeans_oracle(k: int = 4, iterations: int = 3) -> str:
    """Lloyd trajectory (see _kmeans_chain) + final sizes/sums select."""
    prefix = _kmeans_chain(k, iterations)
    return f"""
    WITH {prefix},
    sizes AS (SELECT cid, count(*) AS n_points FROM a{iterations} GROUP BY cid),
    sums AS (SELECT cid, round(sum(val), 4) AS centroid_sum
             FROM c{iterations} GROUP BY cid)
    SELECT s.cid, s.n_points, m.centroid_sum
    FROM sizes s JOIN sums m ON m.cid = s.cid
    """


def _ivf_trained_oracle(k: int = 4, iterations: int = 3, nprobe: int = 2, topk: int = 5) -> str:
    prefix = _kmeans_chain(k, iterations)
    return f"""
    WITH {prefix},
    idist AS (
      SELECT p.vec_id, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pts p JOIN c{iterations} c ON c.idx = p.idx
      GROUP BY p.vec_id, c.cid),
    asg AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM idist),
    lists AS (SELECT vec_id, cid FROM asg WHERE rn = 1 AND vec_id >= 5),
    probes AS (SELECT vec_id AS query_id, cid FROM asg
               WHERE rn <= {nprobe} AND vec_id < 5),
    scored AS (
      SELECT p.query_id, l.vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM probes p
      JOIN lists l ON l.cid = p.cid
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = l.vec_id)
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    """


def _ivf_recall_oracle(k: int = 4, iterations: int = 3, nprobe: int = 2, topk: int = 5) -> str:
    prefix = _kmeans_chain(k, iterations)
    return f"""
    WITH {prefix},
    idist AS (
      SELECT p.vec_id, c.cid,
             sum((p.val - c.val) * (p.val - c.val)) AS d2
      FROM pts p JOIN c{iterations} c ON c.idx = p.idx
      GROUP BY p.vec_id, c.cid),
    asg AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM idist),
    lists AS (SELECT vec_id, cid FROM asg WHERE rn = 1 AND vec_id >= 5),
    probes AS (SELECT vec_id AS query_id, cid FROM asg
               WHERE rn <= {nprobe} AND vec_id < 5),
    iscored AS (
      SELECT p.query_id, l.vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM probes p
      JOIN lists l ON l.cid = p.cid
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = l.vec_id),
    itop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
        ) AS rank FROM iscored) WHERE rank <= {topk}),
    bscored AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             round({_COSINE_SQL}, 6) AS cosine_sim
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < 5 AND b.vec_id >= 5),
    btop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
        ) AS rank FROM bscored) WHERE rank <= {topk}),
    per_q AS (
      SELECT b.query_id,
             CAST(count(i.vec_id) AS DOUBLE) / {topk} AS recall
      FROM btop b LEFT JOIN itop i
        ON i.query_id = b.query_id AND i.vec_id = b.vec_id
      GROUP BY b.query_id)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 4) AS mean_recall_at_5,
           round(min(recall), 4) AS min_recall_at_5
    FROM per_q
    """


_AOI_RING_B = [(55.0, 10.0), (95.0, 20.0), (90.0, 70.0), (60.0, 92.0), (50.0, 45.0)]


def _multi_aoi_oracle() -> str:
    from ...functions.geo import point_in_polygon_sql, polygon_bbox

    parts = []
    for aoi_id, ring in ((1, _AOI_RING), (2, _AOI_RING_B)):
        minx, miny, maxx, maxy = polygon_bbox(ring)
        pred = point_in_polygon_sql("x", "y", ring)
        parts.append(
            f"""SELECT scene_id, {aoi_id} AS aoi_id,
             count(*) AS n_pixels,
             round(avg(CAST(CAST(ndvi AS REAL) AS DOUBLE)), 6) AS mean_ndvi
      FROM nv
      WHERE x BETWEEN {minx!r} AND {maxx!r} AND y BETWEEN {miny!r} AND {maxy!r}
        AND {pred} AND ndvi IS NOT NULL
      GROUP BY scene_id"""
        )
    union = "\n      UNION ALL\n      ".join(parts)
    return _NDVI_SQL + f"""
    SELECT * FROM (
      {union}
    )
    """


def _finalize_multi_aoi_oracle() -> None:
    spec = REGISTRY["multi_aoi_clip"]
    REGISTRY["multi_aoi_clip"] = QuerySpec(
        spec.builder, _multi_aoi_oracle(), spec.headline, spec.tags
    )


# AOI strictly OUTSIDE the 100×100 pixel grid (x ≥ 101.5): the strict
# intersects/clip finds nothing, which is exactly when the reference
# retries with geom.buffer(1.0) (compute_ndvi.py:128-132). Buffer
# distance 3.0 reaches back to the x=99 pixel column.
_AOI_RING_OFFGRID = [(101.5, 20.5), (110.5, 20.5), (110.5, 60.5), (101.5, 60.5)]
_BUFFER_DIST = 3.0


def _finalize_buffer_retry_oracle() -> None:
    from ...functions.geo import (
        point_in_buffered_rings_sql,
        point_in_rings_sql,
        rings_bbox,
    )

    rings = [_AOI_RING_OFFGRID]
    d = _BUFFER_DIST
    minx, miny, maxx, maxy = rings_bbox(rings)
    sp = point_in_rings_sql("x", "y", rings)
    bp = point_in_buffered_rings_sql("x", "y", rings, d)
    sql = _NDVI_SQL + f"""
    SELECT scene_id,
           CAST(sum(CASE WHEN {sp} THEN 1 ELSE 0 END) AS BIGINT) AS n_strict,
           CAST(sum(CASE WHEN {bp} THEN 1 ELSE 0 END) AS BIGINT) AS n_buffered,
           (sum(CASE WHEN {sp} THEN 1 ELSE 0 END) = 0) AS used_buffer_retry,
           round(avg(CASE WHEN {bp} THEN ndvi END), 6) AS mean_ndvi_buffered
    FROM nv
    WHERE x BETWEEN {minx - d!r} AND {maxx + d!r}
      AND y BETWEEN {miny - d!r} AND {maxy + d!r}
    GROUP BY scene_id
    """
    spec = REGISTRY["aoi_buffer_retry_clip"]
    REGISTRY["aoi_buffer_retry_clip"] = QuerySpec(
        spec.builder, sql, spec.headline, spec.tags
    )


# Two OVERLAPPING AOI features — the case where dissolve semantics
# (unary_union, download_landsat_stac.py:79) genuinely differ from the
# even-odd multi-ring treatment: even-odd would flip the overlap back
# OUTSIDE; the union keeps it in.
_AOI_UNION_A = [(10.5, 10.5), (60.5, 10.5), (60.5, 60.5), (10.5, 60.5)]
_AOI_UNION_B = [(40.5, 40.5), (90.5, 40.5), (90.5, 90.5), (40.5, 90.5)]


# AOI TABLE for the grid-blocked spatial join (one concave, one
# overlapping pair) — data-driven polygons, not plan literals.
_AOI_TABLE = [
    (1, [(5.5, 5.5), (45.5, 8.5), (40.5, 40.5), (8.5, 35.5)]),
    (2, [(50.5, 50.5), (95.5, 55.5), (90.5, 95.5), (55.5, 90.5), (70.5, 70.5)]),
    (3, [(20.5, 60.5), (45.5, 60.5), (45.5, 85.5), (20.5, 85.5)]),
    (4, [(30.5, 5.5), (60.5, 10.5), (55.5, 30.5)]),
]


def _finalize_grid_tile_clip_oracle() -> None:
    from ...functions.geo import point_in_polygon_sql, polygon_bbox

    parts = []
    for aoi_id, ring in _AOI_TABLE:
        minx, miny, maxx, maxy = polygon_bbox(ring)
        pred = point_in_polygon_sql("x", "y", ring)
        parts.append(
            f"""SELECT scene_id, {aoi_id} AS aoi_id, count(*) AS n_pixels,
             round(avg(CAST(CAST(ndvi AS REAL) AS DOUBLE)), 6) AS mean_ndvi
      FROM nv
      WHERE x BETWEEN {minx!r} AND {maxx!r} AND y BETWEEN {miny!r} AND {maxy!r}
        AND {pred} AND ndvi IS NOT NULL
      GROUP BY scene_id"""
        )
    union = "\n      UNION ALL\n      ".join(parts)
    sql = _NDVI_SQL + f"""
    SELECT * FROM (
      {union}
    )
    """
    spec = REGISTRY["grid_tile_clip_stats"]
    REGISTRY["grid_tile_clip_stats"] = QuerySpec(
        spec.builder, sql, spec.headline, spec.tags
    )


def _finalize_grid_join_oracle() -> None:
    from ...functions.geo import point_in_polygon_sql, polygon_bbox

    parts = []
    for aoi_id, ring in _AOI_TABLE:
        minx, miny, maxx, maxy = polygon_bbox(ring)
        pred = point_in_polygon_sql("x", "y", ring)
        parts.append(
            f"""SELECT {aoi_id} AS aoi_id, count(*) AS n_pixels,
             round(avg(ndvi), 6) AS mean_ndvi
      FROM nv
      WHERE x BETWEEN {minx!r} AND {maxx!r} AND y BETWEEN {miny!r} AND {maxy!r}
        AND {pred}"""
        )
    union = "\n      UNION ALL\n      ".join(parts)
    sql = _NDVI_SQL + f"""
    SELECT * FROM (
      {union}
    )
    """
    spec = REGISTRY["grid_spatial_join_clip"]
    REGISTRY["grid_spatial_join_clip"] = QuerySpec(
        spec.builder, sql, spec.headline, spec.tags
    )


def _finalize_union_geometry_oracle() -> None:
    from ...functions.geo import point_in_rings_sql

    pa = point_in_rings_sql("x", "y", [_AOI_UNION_A])
    pb = point_in_rings_sql("x", "y", [_AOI_UNION_B])
    sql = _NDVI_SQL + f"""
    SELECT scene_id, count(*) AS n_pixels, round(avg(ndvi), 6) AS mean_ndvi
    FROM nv
    WHERE ({pa}) OR ({pb})
    GROUP BY scene_id
    """
    spec = REGISTRY["aoi_union_geometry_clip"]
    REGISTRY["aoi_union_geometry_clip"] = QuerySpec(
        spec.builder, sql, spec.headline, spec.tags
    )


def _finalize_union_dissolve_oracle() -> None:
    from ...functions.geo import point_in_rings_sql

    pa = point_in_rings_sql("x", "y", [_AOI_UNION_A])
    pb = point_in_rings_sql("x", "y", [_AOI_UNION_B])
    peo = point_in_rings_sql("x", "y", [_AOI_UNION_A, _AOI_UNION_B])
    sql = _NDVI_SQL + f"""
    SELECT scene_id,
           CAST(sum(CASE WHEN {pa} THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN {pb} THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN ({pa}) OR ({pb}) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_union,
           CAST(sum(CASE WHEN ({pa}) AND ({pb}) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           CAST(sum(CASE WHEN {peo} THEN 1 ELSE 0 END) AS BIGINT) AS n_evenodd,
           round(avg(CASE WHEN ({pa}) OR ({pb}) THEN ndvi END), 6)
             AS mean_ndvi_union
    FROM nv
    GROUP BY scene_id
    """
    spec = REGISTRY["aoi_union_dissolve"]
    REGISTRY["aoi_union_dissolve"] = QuerySpec(
        spec.builder, sql, spec.headline, spec.tags
    )


def _anchored_ndvi_tiles(spark: SparkSession, sf_dir: str):
    """Shared prelude of the focal queries: derived pixels densified
    with per-(band, tile) anchor cells (dn=0 → nodata NaN) so every
    tile of the 100×100 grid exists, deduped in ONE post-union
    groupBy-max — raw pixels and anchors merge in the same exchange
    instead of shuffling the wide relation twice — then packed and
    run through the NDVI tile kernel."""
    from ...operators.raster import pixels_to_tiles, tile_ndvi

    px = derived_pixels(spark, sf_dir)
    grid = local_df(
        spark,
        [
            (b, ty * 32, tx * 32)
            for b in ("red", "nir")
            for ty in range(4)
            for tx in range(4)
        ],
        "band string, y int, x int",
    )
    anchors = (
        px.select("scene_id")
        .distinct()
        .crossJoin(F.broadcast(grid))
        .withColumn("dn", F.lit(0))
    )
    px_full = (
        px.unionByName(anchors)
        .groupBy("scene_id", "band", "y", "x")
        .agg(F.max("dn").alias("dn"))
    )
    return tile_ndvi(pixels_to_tiles(px_full, tile=32))


def _ring_values_sql() -> str:
    rows = ", ".join(
        f"({i}, {x!r}, {y!r})" for i, (x, y) in enumerate(_AOI_RING)
    )
    return f"(VALUES {rows}) AS ring(i, x, y)"


_SATURATING_SQL = """
    WITH RECURSIVE daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
             net
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS d,
               sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
                        ELSE -o_totalprice END) AS net
        FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1995-02-01'
        GROUP BY 1) t),
    bal AS (
      SELECT i, greatest(0.0, net) AS b FROM daily WHERE i = 1
      UNION ALL
      SELECT d.i, greatest(0.0, bal.b + d.net)
      FROM daily d JOIN bal ON d.i = bal.i + 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(b), 2) AS peak_balance,
           round(avg(b), 2) AS mean_balance,
           CAST(sum(CASE WHEN b = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_floored_days
    FROM bal
    """


_HOLT_SQL = """
    WITH RECURSIVE daily AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, v
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
        FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1995-02-01'
        GROUP BY 1) t),
    holt AS (
      SELECT i, v AS lvl, CAST(0.0 AS DOUBLE) AS trend FROM daily WHERE i = 1
      UNION ALL
      SELECT d.i,
             0.3 * d.v + 0.7 * (h.lvl + h.trend),
             0.1 * ((0.3 * d.v + 0.7 * (h.lvl + h.trend)) - h.lvl)
               + 0.9 * h.trend
      FROM daily d JOIN holt h ON d.i = h.i + 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(lvl), 2) AS final_level_seen,
           round(avg(trend), 3) AS mean_trend,
           round(sum(abs(trend)), 3) AS trend_energy
    FROM holt
    """


_BOM_SQL = """
    WITH RECURSIVE parts AS (
      SELECT p_partkey AS pk, p_retailprice AS unit_cost
      FROM part WHERE p_partkey <= 600),
    bom AS (
      SELECT pk, CAST(1.0 AS DOUBLE) AS qty, unit_cost, 0 AS depth
      FROM parts WHERE pk <= 2
      UNION ALL
      SELECT c.pk, b.qty * (1 + c.pk % 3), c.unit_cost, b.depth + 1
      FROM parts c JOIN bom b
        ON CAST(floor(c.pk / 4.0) AS BIGINT) = b.pk AND c.pk > 2
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_components,
           round(sum(qty * unit_cost), 2) AS extended_cost,
           round(max(qty), 1) AS max_qty_mult
    FROM bom GROUP BY depth
    """


# ---- markov_removal_attribution shared algebra ------------------------
# The absorbing-chain solve is identical arithmetic in both engines, so
# the formula text is built ONCE and spliced into the DuckDB oracle and
# the Spark selectExpr. States: 1=view, 2=click, 3=signup.
_MRA_BASE = """
  (1 - q11) * ((1 - q22) * (1 - q33) - q23 * q32)
  - (-q12) * ((-q21) * (1 - q33) - q23 * (-q31))
  + (-q13) * ((-q21) * q32 - (1 - q22) * (-q31))
""".strip()

_MRA_X1 = """
  (r1 * ((1 - q22) * (1 - q33) - q23 * q32)
   - (-q12) * (r2 * (1 - q33) - q23 * r3)
   + (-q13) * (r2 * q32 - (1 - q22) * r3))
""".strip()

_MRA_X2 = """
  ((1 - q11) * (r2 * (1 - q33) - q23 * r3)
   - r1 * ((-q21) * (1 - q33) - q23 * (-q31))
   + (-q13) * ((-q21) * r3 - r2 * (-q31)))
""".strip()

_MRA_X3 = """
  ((1 - q11) * ((1 - q22) * r3 - r2 * q32)
   - (-q12) * ((-q21) * r3 - r2 * (-q31))
   + r1 * ((-q21) * q32 - (1 - q22) * (-q31)))
""".strip()

# 2x2 removal solves: conversion probability with one state removed.
_MRA_P_NO3 = """
  p1 * ((r1 * (1 - q22) - (-q12) * r2)
        / ((1 - q11) * (1 - q22) - (-q12) * (-q21)))
  + p2 * (((1 - q11) * r2 - r1 * (-q21))
          / ((1 - q11) * (1 - q22) - (-q12) * (-q21)))
  + p4
""".strip()

_MRA_P_NO2 = """
  p1 * ((r1 * (1 - q33) - (-q13) * r3)
        / ((1 - q11) * (1 - q33) - (-q13) * (-q31)))
  + p3 * (((1 - q11) * r3 - r1 * (-q31))
          / ((1 - q11) * (1 - q33) - (-q13) * (-q31)))
  + p4
""".strip()

_MRA_P_NO1 = """
  p2 * ((r2 * (1 - q33) - (-q23) * r3)
        / ((1 - q22) * (1 - q33) - (-q23) * (-q32)))
  + p3 * (((1 - q22) * r3 - r2 * (-q32))
          / ((1 - q22) * (1 - q33) - (-q23) * (-q32)))
  + p4
""".strip()

_MRA_P_BASE = (
    f"p1 * ({_MRA_X1}) / ({_MRA_BASE}) "
    f"+ p2 * ({_MRA_X2}) / ({_MRA_BASE}) "
    f"+ p3 * ({_MRA_X3}) / ({_MRA_BASE}) + p4"
)

_MRA_CELLS_SQL = ", ".join(
    f"coalesce(max(CASE WHEN s = '{sname}' AND nxt = '{nname}' "
    f"THEN p END), 0) AS {alias}"
    for (sname, si) in (("view", 1), ("click", 2), ("signup", 3))
    for (nname, alias) in (
        ("view", f"q{si}1"),
        ("click", f"q{si}2"),
        ("signup", f"q{si}3"),
        ("purchase", f"r{si}"),
    )
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: s.builder for n, s in REGISTRY.items() if s.headline}


__all__ = [
    "annotations",
    "math",
    "Callable",
    "dataclass",
    "field",
    "DataFrame",
    "SparkSession",
    "Window",
    "F",
    "TXT",
    "CUR",
    "DD",
    "SIM",
    "pair_bands",
    "load_table",
    "local_df",
    "QuerySpec",
    "REGISTRY",
    "CUR_SCRUB_PATTERN_SQL",
    "register",
    "_t",
    "canon_round",
    "seq1",
    "_ERFC_C",
    "_ERFC_CF_DEPTH",
    "_ERFC_SPLIT",
    "_ERFC_TAYLOR_N",
    "_INV_SQRT_PI",
    "_TWO_OVER_SQRT_PI",
    "normal_p_two_sided_col",
    "normal_p_two_sided_sql",
    "_PIXELS_SQL",
    "_NDVI_SQL",
    "derived_pixels",
    "_ndvi_pixels_df",
    "_TS_NDVI_SQL",
    "derived_ts_pixels",
    "_ts_ndvi_df",
    "_MINHASH_ORACLE",
    "_COSINE_SQL",
    "_L2_SQL",
    "_AOI_RING",
    "_finalize_raycast_oracle",
    "_AOI_RINGS",
    "_finalize_multiring_oracle",
    "_pagerank_oracle",
    "_SQL_TEXT_QUERY",
    "_kmeans_chain",
    "_kmeans_oracle",
    "_ivf_trained_oracle",
    "_ivf_recall_oracle",
    "_AOI_RING_B",
    "_multi_aoi_oracle",
    "_finalize_multi_aoi_oracle",
    "_AOI_RING_OFFGRID",
    "_BUFFER_DIST",
    "_finalize_buffer_retry_oracle",
    "_AOI_UNION_A",
    "_AOI_UNION_B",
    "_AOI_TABLE",
    "_finalize_grid_tile_clip_oracle",
    "_finalize_grid_join_oracle",
    "_finalize_union_geometry_oracle",
    "_finalize_union_dissolve_oracle",
    "_anchored_ndvi_tiles",
    "_ring_values_sql",
    "_SATURATING_SQL",
    "_HOLT_SQL",
    "_BOM_SQL",
    "_MRA_BASE",
    "_MRA_X1",
    "_MRA_X2",
    "_MRA_X3",
    "_MRA_P_NO3",
    "_MRA_P_NO2",
    "_MRA_P_NO1",
    "_MRA_P_BASE",
    "_MRA_CELLS_SQL",
    "queries",
    "oracle_sql",
    "headline_queries",
]

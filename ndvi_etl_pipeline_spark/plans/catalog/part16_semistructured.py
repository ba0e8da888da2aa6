"""Catalog part 16 — semi-structured access & pattern-screen ops.

* **VARIANT JSON access** (Spark 4's native semi-structured type):
  `parse_json` → `variant_get` with JSONPath navigation — the
  engine-native alternative to the regexp/get_json_object extraction
  in `events_json_props`. At scale the VARIANT binary encoding skips
  per-row text re-parsing, which is the entire cost of the regexp
  form; the oracle uses DuckDB's native JSON extraction, so both
  engines navigate real JSON, not regexes.
* **Blocklist screening**: the badword/pattern filter every corpus
  pipeline runs before training — per-pattern document hit counts
  plus the any-pattern removal total, evaluated as JVM `contains`
  over a broadcast literal pattern array (no regex engine, no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...operators.arrow_kernels import local_df
from ._shared import _t, register


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
             AS n_distinct_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k,
           CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INT) % 2 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_odd_k
    FROM events GROUP BY event_type
    """,
    tags=("events", "json", "variant"),
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props accessed through Spark 4's VARIANT type: parse_json once,
    then variant_get path navigation — the binary-encoded form that
    makes repeated field access cheap at scale (the regexp twin
    `events_json_props` re-scans the text per extraction). DuckDB
    side uses native json_extract, so the oracle checks JSON
    semantics, not regex luck."""
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct(k).cast("bigint").alias("n_distinct_k"),
        F.max(k).cast("int").alias("max_k"),
        F.sum(F.when(k % 2 == 1, 1).otherwise(0)).cast("bigint").alias("n_odd_k"),
    )


_BLOCK_PATTERNS = ("spark", "window", "hash", "shuffle join", "zzzz")


@register(
    "blocklist_filter_census",
    oracle=f"""
    WITH pats AS (
      SELECT unnest(['{"', '".join(_BLOCK_PATTERNS)}']) AS pattern),
    hits AS (
      SELECT p.pattern, CAST(count(d.text) AS BIGINT) AS n_docs_hit
      FROM pats p LEFT JOIN documents d
        ON contains(lower(d.text), p.pattern)
      GROUP BY p.pattern),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    anyhit AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents d
      WHERE {" OR ".join(f"contains(lower(d.text), '{p}')" for p in _BLOCK_PATTERNS)})
    SELECT pattern, n_docs_hit,
           round(CAST(n_docs_hit AS DOUBLE) / n_docs, 6) AS hit_frac
    FROM hits CROSS JOIN tot
    UNION ALL
    SELECT 'ANY', (SELECT n FROM anyhit),
           round(CAST((SELECT n FROM anyhit) AS DOUBLE) / n_docs, 6)
    FROM tot
    """,
    tags=("selection", "documents"),
)
def q_blocklist_filter_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening census: per-pattern document hit counts and
    the any-pattern removal total. Patterns ride as a broadcast
    literal array; the scan evaluates plain `contains` in codegen —
    one corpus pass for all patterns (the explode is over the
    5-element pattern array per row, not over tokens). A pattern
    with zero hits ('zzzz') is kept to pin the LEFT-JOIN zero-count
    path."""
    d = _t(spark, sf_dir, "documents").select(F.lower("text").alias("t"))
    pats = F.array(*[F.lit(p) for p in _BLOCK_PATTERNS])
    per = (
        d.select(
            F.explode(
                F.filter(pats, lambda p: F.col("t").contains(p))
            ).alias("pattern")
        )
        .groupBy("pattern")
        .agg(F.count("*").cast("bigint").alias("n_docs_hit"))
    )
    # zero-hit patterns need their row back (the oracle's LEFT JOIN)
    all_pats = local_df(d.sparkSession, [(p,) for p in _BLOCK_PATTERNS], "pattern STRING")
    per_full = (
        all_pats.join(per, "pattern", "left")
        .select("pattern", F.coalesce("n_docs_hit", F.lit(0)).cast("bigint").alias("n_docs_hit"))
    )
    tot = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    anyhit = d.agg(
        F.sum(
            F.when(F.exists(pats, lambda p: F.col("t").contains(p)), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_any")
    )
    per_rows = per_full.crossJoin(tot).select(
        "pattern", "n_docs_hit",
        F.round(F.col("n_docs_hit").cast("double") / F.col("n_docs"), 6).alias("hit_frac"),
    )
    any_row = anyhit.crossJoin(tot).select(
        F.lit("ANY").alias("pattern"),
        F.col("n_any").alias("n_docs_hit"),
        F.round(F.col("n_any").cast("double") / F.col("n_docs"), 6).alias("hit_frac"),
    )
    return per_rows.unionAll(any_row)

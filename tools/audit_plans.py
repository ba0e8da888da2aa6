#!/usr/bin/env python
"""Machine-checked physical-plan audit over the whole query catalog.

For every registered query (minus the iterative ones that execute
driver-side loops at plan-build time), capture the executed plan as
`plan_as_run` prints it (each operator that runs, once) and record:

- n_exchanges        — shuffle count
- pushed_filters     — parquet scans with non-empty PushedFilters
- codegen_spans      — WholeStageCodegen regions
- arrow_python_nodes — vectorized Python boundaries (MapIn*,
                       FlatMapGroupsIn*, FlatMapCoGroupsIn* for
                       Pandas and Arrow, and ArrowEvalPython)
- pandas_python_nodes — the pandas ones among them: MapInPandas,
                       FlatMapGroupsInPandas, FlatMapCoGroupsInPandas
                       and the scalar pandas UDFs (ArrowEvalPython
                       with eval type 200, or 204 for the iterator
                       form; an arrow_udf plans as 250). The engine
                       crosses through operators/arrow_kernels.py, so
                       this must read zero
- row_python_nodes   — row-at-a-time BatchEvalPython (MUST be zero:
                       the engine bans non-Arrow Python in plans)
- build_s, build_jobs — the builder call's wall seconds and the Spark
                       jobs it ran (one job group around it, counted
                       with the status tracker): the plan-build census

The summary adds the census totals (build_s_total, build_jobs_total,
queries_with_build_jobs).

Writes PLANS_AUDIT.json at the repo root and prints a summary. The
ban on BatchEvalPython is also enforced by
tests/test_scale.py::test_no_row_python_udfs_anywhere.

global_ranked runs its distributed form here unless --rank-mode says
otherwise: at the audit's sf0.01 the size rule would pick the single
global Window for almost every call, and the audit is about the plan
that runs at scale.

Usage: python tools/audit_plans.py [--sf DIR] [--rank-mode MODE]
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Round 2: empty. Every builder is now either fully lazy
# (contiguous_ids, not_in_null_semantics, warp_tiled, multi_aoi_clip,
# aoi_raycast_clip) or a checkpointed iteration whose build-time jobs
# are bounded and metadata-scale (pagerank_graph, kmeans_clusters,
# dedup_components via operators/iterate.py), so ALL plans get
# audited — the recorded exchange count for iterative queries is the
# post-checkpoint final-step plan, which is exactly the per-round
# cost that matters at scale.
EXECUTES_ON_BUILD: set[str] = set()


_STAGE_WRAPPERS = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


def plan_as_run(df) -> str:
    """`df`'s executed plan as text, one line per operator that runs,
    indented three columns per tree level: an adaptive plan shows its
    current plan (the final one once it ran), and a cached relation's
    plan shows under its first scan only. Spark's own plan text adds
    AQE's initial plan to every adaptive plan, cached ones included,
    and repeats a cached plan under every scan of the cache although
    it runs once — with nested caches that text grows exponentially
    and counts operators that never run."""
    jvm = df.sparkSession._jvm
    fields = df.sparkSession._jsparkSession.sessionState().conf().maxToStringFields()
    seen: set[int] = set()
    lines: list[str] = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node, depth: int) -> None:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), depth)
        if kind in _STAGE_WRAPPERS:
            return walk(node.plan(), depth)
        if kind in ("WholeStageCodegenExec", "InputAdapter"):
            return walk(node.child(), depth)
        lines.append(("   " * (depth - 1) + "+- " if depth else "") + node.verboseString(fields))
        if kind == "InMemoryRelation":
            key = jvm.java.lang.System.identityHashCode(node.cacheBuilder())
            if key in seen:
                return
            seen.add(key)
        # inner children: subqueries, a cache scan's relation and its
        # cached plan, a recursive CTE's anchor and step
        for sub in seq(node.innerChildren()) + seq(node.children()):
            walk(sub, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return "\n".join(lines)


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan line tail (expr groups nest)."""
    groups: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _global_window_nodes(plan: str) -> int:
    """Window nodes with NO partition spec — the 'Moving all data to
    a single partition' warning sites. A partitioned Window prints
    `Window [exprs], [part], [order]` (3 groups); a global one prints
    `Window [exprs], [order]` (2 groups, the last a sort order).
    Round-6 verdict #4: these were warnings in the logs but invisible
    to the audit — every site must be bounded-state (trajectory/series
    replays) or fixed."""
    n = 0
    for line in plan.splitlines():
        i = line.find("Window [")
        if i < 0 or "WindowGroupLimit" in line:
            continue
        g = _bracket_groups(line[i + len("Window "):])
        if len(g) == 2 and re.search(r"\b(ASC|DESC) NULLS\b", g[1]):
            n += 1
    return n


def _sp_exchanges_nonagg(plan: str) -> int:
    """Exchange SinglePartition nodes whose CONSUMER is not a
    scalar (empty-keys) aggregate. A scalar agg's partial→final
    funnel moves one combined row per upstream partition — bounded at
    any scale. A SinglePartition exchange feeding a Sort/Window/
    anything else moves DATA and is the shape the distributed rank
    mode exists to remove; this counter isolates those."""
    n = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # consumer = nearest earlier line at shallower tree depth
        depth = line.find("Exchange SinglePartition")
        consumer = ""
        for j in range(i - 1, -1, -1):
            prev = lines[j]
            stripped = prev.lstrip(" +-:*()0123456789")
            d = len(prev) - len(stripped)
            if d < depth and stripped:
                consumer = stripped
                break
        if re.match(r"\w*Aggregate\(keys=\[\]", consumer):
            continue
        n += 1
    return n


_PYTHON_NODES = ("MapIn", "FlatMapGroupsIn", "FlatMapCoGroupsIn")
# an ArrowEvalPython line ends with its UDFs' eval type
_PANDAS_SCALAR_UDF = re.compile(r"ArrowEvalPython .*, 20[04]$", re.M)


def pandas_python_nodes(plan: str) -> int:
    """The pandas Python boundaries in a `plan_as_run` text: pandas
    map, grouped and cogrouped kernels plus scalar pandas UDFs."""
    return sum(plan.count(n + "Pandas") for n in _PYTHON_NODES) + len(
        _PANDAS_SCALAR_UDF.findall(plan)
    )


def audit_one(df) -> dict:
    plan = plan_as_run(df)
    # shuffles only: 'BroadcastExchange ...' and 'ReusedExchange [...]'
    # both contain the bare 'Exchange ' substring but move no shuffle
    # data — counting them inflated the audit for every broadcast join
    n_shuffles = len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange ", plan))
    return {
        "n_exchanges": n_shuffles,
        "n_broadcasts": plan.count("BroadcastExchange "),
        "pushed_filters": plan.count("PushedFilters: [") - plan.count("PushedFilters: []"),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "arrow_python_nodes": sum(
            plan.count(n + kind) for n in _PYTHON_NODES for kind in ("Pandas", "Arrow")
        )
        + plan.count("ArrowEvalPython"),
        "pandas_python_nodes": pandas_python_nodes(plan),
        "row_python_nodes": plan.count("BatchEvalPython"),
        "global_window_nodes": _global_window_nodes(plan),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "sp_exchanges_nonagg": _sp_exchanges_nonagg(plan),
        # SortAggregate = an aggregate Catalyst demoted from hash to
        # sort-based because an agg buffer type is not mutable in
        # UnsafeRow (min/max over strings, min_by/max_by carrying a
        # string or struct). Each one sorts the pre-agg relation on
        # both sides of its exchange — the round-9 optimization sweep
        # hunts these (see OPTIMIZATION_r09.md).
        "sort_aggregates": plan.count("SortAggregate"),
    }


def build_counted(spark, name: str, builder, sf: str):
    """(builder(spark, sf), its wall seconds, the Spark jobs it ran):
    one job group around the call, its jobs counted with the status
    tracker."""
    sc = spark.sparkContext
    group = f"audit-build-{name}"
    sc.setJobGroup(group, f"build {name}")
    t0 = time.perf_counter()
    try:
        df = builder(spark, sf)
    finally:
        build_s = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, build_s, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--rank-mode",
        choices=("single", "distributed"),
        default="distributed",
        help="set spark.ndvi_etl.rankMode for the session (default "
        "distributed: the audit counts the scale plan, not the plan the "
        "input size picks at this sf)",
    )
    ap.add_argument(
        "--only", nargs="*", default=None, help="audit just these queries"
    )
    ap.add_argument(
        "--family",
        choices=("class3",),
        default=None,
        help="audit a named query family (class3 = the exact-global-"
        "rank members routed through operators/rank.global_ranked)",
    )
    ap.add_argument(
        "--out", default="PLANS_AUDIT.json", help="output JSON path"
    )
    args = ap.parse_args()

    from ndvi_etl_pipeline_spark.plans import queries as Q
    from ndvi_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="audit_plans", shuffle_partitions=16)
    spark.conf.set("spark.ndvi_etl.rankMode", args.rank_mode)
    out: dict[str, dict] = {}
    violations = []
    todo = sorted(Q.REGISTRY.items())
    if args.family == "class3":
        from ndvi_etl_pipeline_spark.operators.rank import CLASS3_MEMBERS

        todo = [(n, s) for n, s in todo if n in set(CLASS3_MEMBERS)]
    if args.only:
        todo = [(n, s) for n, s in todo if n in set(args.only)]
    for name, spec in todo:
        if name in EXECUTES_ON_BUILD:
            out[name] = {"skipped": "executes driver-side work at build time"}
            continue
        try:
            df, build_s, build_jobs = build_counted(spark, name, spec.builder, args.sf)
            out[name] = audit_one(df)
            out[name].update(build_s=round(build_s, 3), build_jobs=build_jobs)
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": str(e).splitlines()[0][:120]}
            violations.append((name, "plan build failed"))
            continue
        if out[name]["row_python_nodes"]:
            violations.append((name, "row-at-a-time Python in plan"))

    audited = [v for v in out.values() if "n_exchanges" in v]
    summary = {
        "n_queries": len(out),
        "n_audited": len(audited),
        "total_exchanges": sum(v["n_exchanges"] for v in audited),
        "queries_with_pushdown": sum(1 for v in audited if v["pushed_filters"]),
        "queries_with_arrow_python": sum(1 for v in audited if v["arrow_python_nodes"]),
        "queries_with_pandas_python": sum(1 for v in audited if v["pandas_python_nodes"]),
        "global_window_nodes": sum(v["global_window_nodes"] for v in audited),
        "queries_with_global_window": sorted(
            n for n, v in out.items() if v.get("global_window_nodes")
        ),
        "single_partition_exchanges": sum(
            v["single_partition_exchanges"] for v in audited
        ),
        "sp_exchanges_nonagg": sum(
            v.get("sp_exchanges_nonagg", 0) for v in audited
        ),
        "row_python_violations": [n for n, _ in violations],
        "build_s_total": round(sum(v["build_s"] for v in audited), 1),
        "build_jobs_total": sum(v["build_jobs"] for v in audited),
        "queries_with_build_jobs": sum(1 for v in audited if v["build_jobs"]),
    }
    Path(args.out).write_text(
        json.dumps({"summary": summary, "queries": out}, indent=1, sort_keys=True)
    )
    print(json.dumps(summary))
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())

"""Exact global-order analytics: one sorted partition or a range plan.

The class-3 catalog family (PLANS.md "exact-global-rank semantics")
computes ntile / rank / row_number / running sums over a TOTAL order
of all entities. Spark's `Window.orderBy(...)` with no partition spec
is exact but moves every row to ONE partition — the cheapest plan
while the ordered side is an entity-sized aggregate, and the
documented first cliff at 100× entity growth.

`global_ranked` keeps both plans behind one call and, unless told
otherwise, picks one by the input's size:

- ``single``: the global Window expressions — one sorted partition,
  the plan DuckDB also runs.
- ``distributed``: the two-pass exact form — range ids from sampled
  boundaries, a per-range local window, and per-range offsets joined
  back by broadcast. No single-partition exchange and no unpartitioned
  Window node anywhere in the plan.
- The size rule (no `mode=` and no ``spark.ndvi_etl.rankMode``): the
  pre-rank input's estimate, ``optimizedPlan().stats().sizeInBytes``
  capped at the summed estimates of the plan's leaf relations, is
  compared with one advisory partition,
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (64 MB by
  default). Below it the input fits one post-shuffle partition and
  ``single`` runs; at or above it ``distributed`` runs. The cap
  matters because without CBO Spark estimates a join as the product
  of its children: a few-thousand-row join of two small tables would
  otherwise read as gigabytes. An unknown leaf estimate
  (``spark.sql.defaultSizeInBytes``, i.e. Long.MaxValue) picks
  ``distributed``. The check is driver-side and runs no job.
  ``mode=`` and the session conf stay as explicit overrides. The
  bound is Spark's own partition target; on a 4-core machine
  (``local[4]``, a 3-column parquet input, row_number and a running
  sum) the measured crossover sits there: single vs distributed took
  3.6 vs 5.2 s at 32 MiB, 7.2 vs 7.4 s at 65 MiB, 11.1 vs 8.2 s at
  97 MiB and 40 vs 28 s at 259 MiB.

Why the distributed form is EXACT (not approximate):

- The range id ``__rank_pid`` is a function of the order key alone,
  so rows with EQUAL keys land in the same range: rank/dense_rank ties
  never straddle a boundary and ``local rank + (# rows in earlier
  ranges)`` is the global rank.
- Offsets are exact prefix sums of per-range counts/sums, computed
  with a triangular broadcast self-join over the P-row stats relation
  — deliberately NOT a window, so the plan audit's
  `global_window_nodes` counter stays at zero in this mode.
- ntile(n) is a closed-form function of (global row_number, N, n):
  the first N mod n buckets take ceil(N/n) rows, the rest floor(N/n)
  — ANSI semantics, identical to the Window implementation.
- Integral running sums are bit-identical across modes (the catalog's
  running sums are exact integer counts by oracle-determinism design).
  Float running sums are exact prefix sums per range but associate
  differently than a serial scan, so their last bits may change when
  the size rule flips a query from one mode to the other.

How the range ids stay fixed without a checkpoint: at plan build the
order key is sampled once (``20 × P`` rows, a bounded TakeOrdered job,
as Spark's own RangePartitioner samples) and P−1 boundary rows are
folded into the plan as one literal array per key column.
``__rank_pid`` is then a binary search over those arrays (log2 P
steps folded into one expression, one array element per step) — a
lexicographic comparison that honours each key's asc/desc direction,
Spark's default null ordering (NULLS FIRST ascending, NULLS LAST
descending) and SQL float ordering (NaN highest, -0.0 = 0.0) — and
`repartitionById` sends range i to partition i. The ranged rows are
cached (`iterate.scoped_persist`) so the local-window and stats
branches read one computation of the input; any recomputation, of a
lost cache block or a lost shuffle output, derives identical ids from
the literals. (The earlier form pinned the ranged rows with a lazy
localCheckpoint, whose lost blocks failed the query; sampling the
boundaries inside each branch instead would let branches disagree.)
tests/test_rank_distributed.py pins the plan shape (zero
SinglePartition exchanges, zero unpartitioned Window nodes, no
ExistingRDD scan, no range exchange), the block-loss recovery, one
computation per level of a chained call and the generated code size
at thousands of ranges.

Reference parity: the reference has no ranking surface; this backs
the catalog's scoring/segmentation queries (SURVEY.md §2.9 windows).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, TimestampType

from .iterate import scoped_persist

RANK_MODE_CONF = "spark.ndvi_etl.rankMode"

#: The class-3 catalog family (PLANS.md "exact-global-rank semantics
#: over entity-sized input"): every member routes its global-order
#: analytics through global_ranked, so flipping RANK_MODE_CONF to
#: 'distributed' removes every unpartitioned Window node and
#: SinglePartition sort from their plans. tests/test_rank_distributed
#: pins bit-identity across modes per member;
#: tools/audit_plans.py --rank-mode distributed --family class3
#: audits the plans.
CLASS3_MEMBERS = (
    "auc_rank_sum",
    "best_feature_split",
    "bm25_topk",
    "capped_topk",
    "decision_stump_orders",
    "dsir_importance_topk",
    "gains_chart_deciles",
    "gini_coefficient",
    "gini_split_gain",
    "hash_uniformity_ks",
    "hill_tail_index",
    "hodges_lehmann_shift",
    "kruskal_wallis_h",
    "ks_two_sample",
    "lee_bounds_attrition",
    "median_ci_orderstat",
    "mi_token_selection",
    "mutual_information_binned",
    "pareto_skyline",
    "profit_curve_threshold",
    "quintile_share_table",
    "ranked_quartiles",
    "regression_stump_lineitem",
    "rfm_segmentation",
    "roc_auc_embedding",
    "roc_calibration_deciles",
    "tpcds_q49_return_rank",
    "uncertainty_margin_sampling",
    "wasserstein_1d",
    "wilcoxon_signed_rank",
    "woe_iv_binning",
    "woe_monotonicity_check",
)

_PID = "__rank_pid"
_LRN = "__rank_lrn"
_CACHE_SLOTS = 64


def _norm_order(order) -> list[tuple[Column, bool]]:
    """Normalize order spec to [(plain Column, ascending)].

    Entries are a column name / plain Column (ascending) or a
    ``(col, 'asc'|'desc')`` pair. Plain columns are required (not
    ``F.col(x).desc()``) so peer grouping and range partitioning can
    reuse the undirected expression."""
    out: list[tuple[Column, bool]] = []
    for o in order:
        if isinstance(o, tuple):
            col, d = o
            asc = str(d).lower() in ("asc", "ascending", "true", "1")
        else:
            col, asc = o, True
        out.append((F.col(col) if isinstance(col, str) else col, asc))
    return out


def _sort_exprs(norm: list[tuple[Column, bool]]) -> list[Column]:
    return [c.asc() if asc else c.desc() for c, asc in norm]


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor-division for non-negative longs: (a - a%b) is an
    exact multiple of b, so the double division is error-free for
    quotients < 2^53 (F.floor(a/b) alone can misround near huge
    operands)."""
    return ((a - a % b) / b).cast("long")


def _ntile_expr(rn: Column, total: Column, n: int) -> Column:
    """ANSI ntile as a closed form of the 1-based global row number:
    base = N div n rows per bucket, the first N mod n buckets take
    one extra. when/otherwise short-circuits per row, so the tail
    branch's division by base never evaluates when base = 0 (N < n
    puts every row in the head branch)."""
    base = _idiv(total, F.lit(n))
    rem = total % n
    big = base + 1
    head = rem * big  # rows covered by the wide buckets
    in_head = _idiv(rn - 1, big) + 1  # == ceil(rn / big)
    in_tail = rem + _idiv(rn - head - 1, base) + 1
    return F.when(rn <= head, in_head).otherwise(in_tail).cast("int")


def _size_mode(df: DataFrame) -> str:
    """'single' when the input's estimated size, capped at its leaf
    relations' total, is below one advisory partition, else
    'distributed' (see the module docstring). Reads the optimizer's
    estimates and the session conf — no job."""
    jss = df.sparkSession._jsparkSession
    sql_conf = df.sparkSession._jvm.org.apache.spark.sql.internal.SQLConf
    bound = int(
        jss.sessionState().conf().getConf(
            sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
        )
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    read = sum(
        int(str(leaves.apply(i).stats().sizeInBytes()))
        for i in range(leaves.size())
    )
    size = min(int(str(plan.stats().sizeInBytes())), read)
    return "single" if size < bound else "distributed"


def _range_bounds(df: DataFrame, norm: list[tuple[Column, bool]], p: int):
    """At most p-1 distinct boundary keys, ascending in the query's
    sort order, from a uniform sample of 20·p rows (one bounded job).
    Returns (n, arrays): one typed array literal per key column whose
    i-th elements together form the i-th boundary key. Timestamps
    travel as epoch micros, so no timezone conversion touches them on
    the way through Python."""
    cols, sort = [], []
    for i, (c, asc) in enumerate(norm):
        k = F.col(f"__k{i}")
        cols.append(c.alias(f"__k{i}"))
        sort.append(k.asc() if asc else k.desc())
    keys = df.select(*cols)
    dtypes = [f.dataType for f in keys.schema.fields]
    moved = [
        F.unix_micros(F.col(f"__k{i}")) if isinstance(t, TimestampType)
        else F.col(f"__k{i}")
        for i, t in enumerate(dtypes)
    ]
    sample = (
        keys.orderBy(F.rand(17)).limit(20 * p).orderBy(*sort).select(*moved)
    ).collect()
    picked: list[tuple] = []
    if sample:
        for i in range(1, p):
            b = tuple(sample[i * len(sample) // p])
            if not picked or picked[-1] != b:
                picked.append(b)

    def typed(v, t) -> str:
        # SQL text, one parse per array: a py4j call per element costs
        # seconds at P in the thousands. A cast from the value's
        # string form is exact; timestamps travel as epoch micros and
        # binary as hex.
        if v is None:
            return f"CAST(NULL AS {t.simpleString()})"
        if isinstance(t, TimestampType):
            return f"timestamp_micros({int(v)})"
        if isinstance(t, BinaryType):
            return f"X'{bytes(v).hex()}'"
        text = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{text}' AS {t.simpleString()})"

    arrays = [
        F.expr("array(%s)" % ", ".join(typed(b[i], t) for b in picked))
        for i, t in enumerate(dtypes)
    ]
    return len(picked), arrays


def _range_id(norm: list[tuple[Column, bool]], n: int, arrays) -> Column:
    """The range id of each row: the number of the n boundary keys
    strictly before its key in the sort order, so equal keys get equal
    ids. A binary search by powers of two folded over the steps with
    `aggregate`: one expression whatever n is, reading one element of
    every boundary array per step. (A comparison per boundary exceeds
    the 64 KB codegen method limit at a thousand ranges; a projection
    per step splits the Project that lets Spark plan a sort + limit
    input as a top-k.)"""

    def bound_before(i: Column) -> Column:
        # boundary i < row lexicographically: strictly before on the
        # first differing column, and not equal on all of them
        out = F.lit(False)
        for (c, asc), arr in reversed(list(zip(norm, arrays))):
            b = F.element_at(arr, i)
            # NULLS FIRST asc: a NULL precedes every non-NULL; NULLS
            # LAST desc: follows it (c < b / c > b are NULL iff a side is)
            before = (
                F.coalesce(b < c, b.isNull() & c.isNotNull())
                if asc
                else F.coalesce(b > c, b.isNotNull() & c.isNull())
            )
            out = before | (b.eqNullSafe(c) & out)
        return out

    steps = []
    step = 1 << (n.bit_length() - 1) if n else 0
    while step:
        steps.append(step)
        step >>= 1
    if not steps:
        return F.lit(0)

    def advance(pid: Column, step: Column) -> Column:
        nxt = pid + step
        hit = (nxt <= n) & bound_before(F.least(nxt, F.lit(n)))
        return pid + F.when(hit, step).otherwise(0)

    return F.aggregate(F.array(*map(F.lit, steps)), F.lit(0), advance)


def global_ranked(
    df: DataFrame,
    order: Sequence,
    *,
    row_number: str | None = None,
    rank: str | None = None,
    dense_rank: str | None = None,
    ntile: Mapping[str, int] | None = None,
    cume_dist: str | None = None,
    percent_rank: str | None = None,
    running_sums: Mapping[str, Column] | None = None,
    total_count: str | None = None,
    lag: Mapping[str, Column] | None = None,
    lead: Mapping[str, Column] | None = None,
    total_sums: Mapping[str, Column] | None = None,
    running_max_excl: Mapping[str, Column] | None = None,
    mode: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append exact global-order analytics over ONE total order.

    order: sequence of column names / plain Columns (ascending) or
      ``(col, 'desc')`` pairs. The order should be total (the catalog
      queries already carry key tiebreakers for oracle determinism).
    row_number / rank / dense_rank / cume_dist / percent_rank: output
      column name, or None to skip.
    ntile: {out_name: n_buckets}.
    running_sums: {out_name: Column} — cumulative sum over the total
      order, ROWS UNBOUNDED PRECEDING .. CURRENT ROW.
    total_count: output column name for the global row count N.
    lag / lead: {out_name: Column} — previous/next row's value along
      the total order (offset 1, NULL at the global edges). In
      distributed mode the handoff across range boundaries is a
      per-partition first/last-row exchange riding the same P-row
      stats broadcast — no extra shuffle (lag/lead need a TOTAL
      order to be deterministic; with ties the value within a peer
      group is order-arbitrary in both modes, same as Spark).
    total_sums: {out_name: Column} — the GLOBAL sum of a column
      repeated on every row (the ``sum(x) OVER ()`` idiom). In
      distributed mode this is a per-range partial summed in the
      stats broadcast; in single mode an empty-frame window.
    running_max_excl: {out_name: Column} — running max over ROWS
      UNBOUNDED PRECEDING .. 1 PRECEDING (EXCLUDING the current row;
      NULL on the global first row) — the dominance sweep primitive
      (Pareto skylines, record tracking). Distributed: local
      exclusive running max combined with the prefix max of earlier
      ranges' partition maxima from the stats broadcast.
    mode: 'single' | 'distributed'; default reads RANK_MODE_CONF, and
      without it the input's estimated size picks (module docstring).
    num_partitions: ranges in distributed mode (default
      spark.sql.shuffle.partitions).
    """
    ntile = dict(ntile or {})
    running_sums = dict(running_sums or {})
    lag = dict(lag or {})
    lead = dict(lead or {})
    total_sums = dict(total_sums or {})
    running_max_excl = dict(running_max_excl or {})
    norm = _norm_order(order)
    sort = _sort_exprs(norm)
    spark = df.sparkSession
    if mode is None:
        mode = spark.conf.get(RANK_MODE_CONF, None) or _size_mode(df)
    if mode not in ("single", "distributed"):
        raise ValueError(f"unknown rank mode {mode!r}")

    if mode == "single":
        w = Window.orderBy(*sort)
        wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = df
        if row_number:
            out = out.withColumn(row_number, F.row_number().over(w))
        if rank:
            out = out.withColumn(rank, F.rank().over(w))
        if dense_rank:
            out = out.withColumn(dense_rank, F.dense_rank().over(w))
        for name, n in ntile.items():
            out = out.withColumn(name, F.ntile(n).over(w))
        if cume_dist:
            out = out.withColumn(cume_dist, F.cume_dist().over(w))
        if percent_rank:
            out = out.withColumn(percent_rank, F.percent_rank().over(w))
        for name, col in running_sums.items():
            out = out.withColumn(name, F.sum(col).over(wrun))
        if total_count:
            out = out.withColumn(
                total_count, F.count("*").over(Window.partitionBy())
            )
        for name, col in lag.items():
            out = out.withColumn(name, F.lag(col).over(w))
        for name, col in lead.items():
            out = out.withColumn(name, F.lead(col).over(w))
        for name, col in total_sums.items():
            out = out.withColumn(name, F.sum(col).over(Window.partitionBy()))
        for name, col in running_max_excl.items():
            out = out.withColumn(
                name,
                F.max(col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            )
        return out

    # ---- distributed: range shuffle + local window + offset join ----
    p = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    plain = [c for c, _ in norm]
    n_bounds, arrays = _range_bounds(df, norm, p)
    keyed = df.withColumn(_PID, _range_id(norm, n_bounds, arrays))
    parts = keyed.repartitionById(n_bounds + 1, _PID)
    # the local-window and stats branches prune different columns, so
    # their range shuffles never match for ReuseExchange; without this
    # cache each branch recomputes the input, and a chain of calls (an
    # order key that is an earlier call's rank) doubles the earlier
    # calls at every level. Lost cache blocks recompute from lineage.
    # The slot is the plan's hash: a rebuilt plan replaces its own
    # cache (it never reads rows an earlier build cached) and at most
    # _CACHE_SLOTS caches stay live.
    slot = parts._jdf.queryExecution().analyzed().semanticHash() % _CACHE_SLOTS
    parts = scoped_persist(parts, f"global_ranked.{slot}")

    wloc = Window.partitionBy(_PID).orderBy(*sort)
    wlrun = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    loc = parts.withColumn(_LRN, F.row_number().over(wloc))
    if rank or percent_rank:
        loc = loc.withColumn("__lrk", F.rank().over(wloc))
    if dense_rank:
        loc = loc.withColumn("__ldr", F.dense_rank().over(wloc))
    if cume_dist:
        # peers share the full order key, so the last peer's local
        # row number is the local ≤-key row count
        loc = loc.withColumn(
            "__lcd", F.max(_LRN).over(Window.partitionBy(_PID, *plain))
        )
    for i, (_name, col) in enumerate(running_sums.items()):
        loc = loc.withColumn(f"__lrs{i}", F.sum(col).over(wlrun))
    for i, (_name, col) in enumerate(lag.items()):
        loc = loc.withColumn(f"__llag{i}", F.lag(col).over(wloc))
    for i, (_name, col) in enumerate(lead.items()):
        loc = loc.withColumn(f"__llead{i}", F.lead(col).over(wloc))
    for i, (_name, col) in enumerate(running_max_excl.items()):
        loc = loc.withColumn(
            f"__lrx{i}",
            F.max(col).over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
        )

    # per-range stats (P rows): counts, distinct keys, running-sum
    # totals, global-sum partials, and — when lag/lead need the
    # cross-boundary handoff — each range's first/last row values
    # (computed from `loc` so the boundary rows follow the exact
    # local sort).
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    if dense_rank:
        aggs.append(F.countDistinct(F.struct(*plain)).alias("__dk"))
    for i, (_name, col) in enumerate(running_sums.items()):
        aggs.append(F.sum(col).alias(f"__rs{i}"))
    for i, (_name, col) in enumerate(total_sums.items()):
        aggs.append(F.sum(col).alias(f"__ts{i}"))
    for i, (_name, col) in enumerate(running_max_excl.items()):
        aggs.append(F.max(col).alias(f"__pmx{i}"))
    for i, (_name, col) in enumerate(lag.items()):
        aggs.append(F.max_by(col, F.col(_LRN)).alias(f"__lst{i}"))
    for i, (_name, col) in enumerate(lead.items()):
        aggs.append(F.min_by(col, F.col(_LRN)).alias(f"__fst{i}"))
    stats = (loc if (lag or lead) else parts).groupBy(_PID).agg(*aggs)

    # exact prefix offsets WITHOUT a window: triangular broadcast
    # self-join over the P-row stats relation
    a, b = stats.alias("__a"), stats.alias("__b")
    before = F.col(f"__b.{_PID}") < F.col(f"__a.{_PID}")

    def _pre(col: Column) -> Column:
        return F.coalesce(F.sum(F.when(before, col)), F.lit(0))

    # one P×P broadcast cross-join computes BOTH the prefix offsets
    # (conditional sums over earlier ranges) and the global total N —
    # no window, no scalar aggregate, so the helper's plan carries
    # zero SinglePartition exchanges of any kind
    off_aggs = [
        _pre(F.col("__b.__cnt")).alias("__off"),
        F.sum(F.col("__b.__cnt")).alias("__N"),
    ]
    if dense_rank:
        off_aggs.append(_pre(F.col("__b.__dk")).alias("__doff"))
    for i in range(len(running_sums)):
        off_aggs.append(
            F.sum(F.when(before, F.col(f"__b.__rs{i}"))).alias(f"__soff{i}")
        )
    for i in range(len(total_sums)):
        off_aggs.append(F.sum(F.col(f"__b.__ts{i}")).alias(f"__tot{i}"))
    for i in range(len(running_max_excl)):
        # prefix max of earlier ranges' per-range maxima (NULL for
        # the first range: F.max over an all-NULL when() is NULL)
        off_aggs.append(
            F.max(F.when(before, F.col(f"__b.__pmx{i}"))).alias(f"__pxo{i}")
        )
    after = F.col(f"__b.{_PID}") > F.col(f"__a.{_PID}")
    for i in range(len(lag)):
        # the nearest EARLIER non-empty range's last-row value
        # (max_by ignores NULL keys, so only `before` rows compete)
        off_aggs.append(
            F.max_by(
                F.col(f"__b.__lst{i}"), F.when(before, F.col(f"__b.{_PID}"))
            ).alias(f"__plst{i}")
        )
    for i in range(len(lead)):
        off_aggs.append(
            F.min_by(
                F.col(f"__b.__fst{i}"), F.when(after, F.col(f"__b.{_PID}"))
            ).alias(f"__nfst{i}")
        )
    keep = [
        F.any_value(F.col(f"__a.{c}")).alias(c) for c in stats.columns if c != _PID
    ]
    offsets = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col(f"__a.{_PID}").alias(_PID))
        .agg(*keep, *off_aggs)
    )

    # every range id of `loc` has its stats row, so the left join keeps
    # exactly the inner join's rows — and, the offsets being unique on
    # __rank_pid, lets Catalyst drop the whole offsets branch from any
    # consumer that reads none of the computed columns (a chained
    # call's stats branch reads only the keys, not this call's ranks)
    out = loc.join(F.broadcast(offsets), _PID, "left")
    grn = F.col("__off") + F.col(_LRN)
    if row_number:
        out = out.withColumn(row_number, grn.cast("int"))
    if rank:
        out = out.withColumn(
            rank, (F.col("__off") + F.col("__lrk")).cast("int")
        )
    if dense_rank:
        out = out.withColumn(
            dense_rank, (F.col("__doff") + F.col("__ldr")).cast("int")
        )
    for name, n in ntile.items():
        out = out.withColumn(name, _ntile_expr(grn, F.col("__N"), n))
    if cume_dist:
        out = out.withColumn(
            cume_dist,
            (F.col("__off") + F.col("__lcd")) / F.col("__N").cast("double"),
        )
    if percent_rank:
        out = out.withColumn(
            percent_rank,
            F.when(F.col("__N") > 1,
                   (F.col("__off") + F.col("__lrk") - 1)
                   / (F.col("__N") - 1).cast("double"))
            .otherwise(F.lit(0.0)),
        )
    for i, name in enumerate(running_sums):
        out = out.withColumn(
            name, F.coalesce(F.col(f"__soff{i}"), F.lit(0)) + F.col(f"__lrs{i}")
        )
    if total_count:
        out = out.withColumn(total_count, F.col("__N"))
    for i, name in enumerate(lag):
        # the local lag is NULL exactly on each range's first row;
        # there the previous range's last-row value is the answer
        # (NULL for the global first row — no earlier range exists)
        out = out.withColumn(
            name,
            F.when(F.col(_LRN) == 1, F.col(f"__plst{i}")).otherwise(
                F.col(f"__llag{i}")
            ),
        )
    for i, name in enumerate(lead):
        out = out.withColumn(
            name,
            F.when(F.col(_LRN) == F.col("__cnt"), F.col(f"__nfst{i}")).otherwise(
                F.col(f"__llead{i}")
            ),
        )
    for i, name in enumerate(total_sums):
        out = out.withColumn(name, F.col(f"__tot{i}"))
    for i, name in enumerate(running_max_excl):
        # greatest() skips NULLs: NULL prefix (first range) falls back
        # to the local max, NULL local (range-first row) to the prefix,
        # both NULL (global first row) stays NULL — exact semantics
        out = out.withColumn(
            name, F.greatest(F.col(f"__pxo{i}"), F.col(f"__lrx{i}"))
        )
    drop = [
        c
        for c in out.columns
        if c.startswith("__")
        and c not in (row_number, rank, dense_rank, cume_dist, percent_rank)
        and c not in ntile
        and c not in running_sums
        and c not in lag
        and c not in lead
        and c not in total_sums
        and c not in running_max_excl
        and c != total_count
    ]
    return out.drop(*drop)

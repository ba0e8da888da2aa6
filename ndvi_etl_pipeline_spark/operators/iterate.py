"""Checkpointed fixpoint / fixed-step iteration for DataFrame loops.

Spark has no native fixed-point operator; the idiomatic pattern is a
driver-side loop that builds iteration k's plan from iteration k-1's
DataFrame. Done naively this has two 100 TB-scale failure modes:

1. **Lineage blowup** — each round's plan embeds every previous
   round's plan, so the optimizer re-analyzes an O(rounds)-deep tree
   (and any relation the loop reuses, e.g. the edge list, re-executes
   its whole upstream pipeline once per round). A 200-round loop is a
   200-exchange plan even though each round only needs ~2.
2. **No failure truncation** — losing an executor late in the loop
   recomputes the entire history instead of the last round.

A checkpoint after every round fixes both: it materializes the
round's result and cuts the plan back to a scan of it, so round k's
plan is always "one step over a materialized relation" regardless of
k. When the SparkContext has a checkpoint directory
(`sc.setCheckpointDir`, an HDFS/object-store path on a cluster) the
cut is a reliable `checkpoint()` whose files survive executor loss;
without one it is `localCheckpoint()`, whose executor-local blocks do
not (a lost block fails the query).

Generalized from `dedup.connected_components`'s loop (the engine's
first iterative operator); `fixpoint` adds the convergence probe as a
pluggable scalar fingerprint so callers don't hand-roll old⋈new diff
joins (a full shuffle) just to detect convergence.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

__all__ = ["materialize", "iterate", "fixpoint", "scoped_persist"]

# one live cached relation per call-site slot — see scoped_persist
_SCOPED: dict[str, DataFrame] = {}


def scoped_persist(df: DataFrame, slot: str) -> DataFrame:
    """`df.persist()` with one-live-instance-per-slot bookkeeping.

    A bare `.persist()` inside a lazily-built plan (the shared-subtree
    idiom: shingle relations feeding both sides of a self-join) is
    never unpersisted — CacheManager pins it for the session, so a
    long-lived driver building hundreds of plans accumulates dead
    cached relations (memory blocks are LRU-evicted under pressure,
    but their DISK copies survive until unpersist). This keeps at most
    one live cache per call-site slot: the previous invocation's
    relation is unpersisted (non-blocking) when a new one registers.

    Trade-off, by design: a caller holding plans from TWO invocations
    of the same builder sees the older plan silently lose its cache
    and recompute — correct, just uncached. `materialize()` is still
    the right tool when eager build-time execution is acceptable."""
    prev = _SCOPED.get(slot)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session of the old relation may already be stopped
    out = df.persist()
    _SCOPED[slot] = out
    return out


def _cut(df: DataFrame) -> DataFrame:
    """Eager checkpoint: reliable when a checkpoint dir is set, local
    otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage NOW: compute `df` once and return a DataFrame that
    scans the materialized blocks.

    Use on any relation a loop (or a multi-branch DAG) reuses more
    than once or twice: without it every reuse re-expands — and at
    action time re-executes — the full upstream plan. One call here
    replaced 100-200-exchange plans with <10-exchange plans across
    the catalog's iterative queries (PLANS_AUDIT.json round 1 → 2).

    Prefer this over `.persist()` when the relation is reused many
    times at plan-BUILD time: persist keeps the full lineage in the
    plan (the optimizer still analyzes the whole tree per reuse);
    a checkpoint truncates it.
    """
    return _cut(df)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    n: int,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Run a FIXED number of steps with periodic lineage truncation.

    `step(state, i)` returns the next state. Every `checkpoint_every`
    rounds the state is checkpointed, so the final plan depth is
    O(checkpoint_every), not O(n). Use for fixed-step algorithms whose
    oracle replays the same trajectory (power iteration, Lloyd steps,
    median-polish sweeps).
    """
    for i in range(n):
        state = step(state, i)
        if (i + 1) % checkpoint_every == 0 and i + 1 < n:
            state = _cut(state)
    return state


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    fingerprint: Callable[[DataFrame], object],
    max_iter: int = 50,
) -> DataFrame:
    """Iterate `step` until `fingerprint(state)` stops changing (or
    `max_iter`). The fingerprint must be a cheap scalar action over
    the (checkpointed) state — e.g. ``lambda df: df.agg(F.sum("c"))
    .first()[0]`` — chosen so it is constant exactly at the fixpoint
    (min-label propagation: sum of labels, strictly decreasing until
    converged). Each round is checkpointed, so the probe runs on
    materialized blocks, not the whole history.
    """
    prev: object = object()  # sentinel unequal to anything
    for _ in range(max_iter):
        state = _cut(step(state))
        cur = fingerprint(state)
        if cur == prev:
            break
        prev = cur
    return state

"""Tracked persist() lifecycle for multi-use sub-plans.

Operators that genuinely re-scan an intermediate (LSH bucket tables,
IVF assignments, skew-bound probes) persist it; but a long-lived
session running many queries (the driver gate runs the whole registry
in one SparkSession) would accumulate those cached partitions and
pressure executor memory. Every persist in this package therefore goes
through `tracked_persist`, and `release_tracked` frees everything in
one call.

Contract: a query's caches stay valid until its consuming action has
run; callers that run many queries call `release_tracked()` between
them (the `__spark_entry__.queries()` wrapper does this before each
build, so the working set is bounded by ONE query regardless of how
many the driver runs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACKED: list[DataFrame] = []


def scalar_lits(agg_df: DataFrame) -> dict[str, Column]:
    """Materialize a 1-row aggregate ONCE at build time and return its
    values as literal Columns (cast back to the aggregate's exact
    dtypes, so decimal precision/scale and integer widths survive the
    Python round-trip).

    This is the r6/r7-proven de-replication pattern (see
    plans/queries.py `_host_graph_edges`): attaching a scalar total via
    `crossJoin(broadcast(agg))` leaves a BroadcastNestedLoopJoin whose
    build side REPLICATES the aggregate's whole subtree into every
    consumer — a query that self-joins k times re-executes the
    fact-table scan k times at 100 TB. A `.first()` is a 1-row pull
    (the sanctioned scalar materialization, not a driver-side loop),
    the aggregate runs exactly once, and the literal folds into
    whole-stage codegen. If the aggregate's input is itself reused by
    the main plan, `tracked_persist` it first so the build-time action
    and the final plan share one scan."""
    row = agg_df.first()
    out: dict[str, Column] = {}
    for f in agg_df.schema.fields:
        v = None if row is None else row[f.name]
        out[f.name] = F.lit(v).cast(f.dataType)
    return out


def scalar_subq(agg_df: DataFrame) -> dict[str, Column]:
    """Lazy twin of `scalar_lits`: the 1-row aggregate rides the FINAL
    plan as one struct-packed ScalarSubquery instead of an eager
    build-time `.first()`.

    Catalyst executes an uncorrelated scalar subquery exactly once per
    query (concurrently with other subqueries, on the subquery thread
    pool) and folds its value into the consuming expressions at
    runtime; every additional reference to the same struct compiles to
    a ReusedSubquery node, so the aggregate's subtree is never
    replicated — the de-replication guarantee of `scalar_lits` without
    its fixed build-time job (an interleaved A/B measured that job at
    ~0.2-0.5s per query at sf0.1).

    Use THIS wherever the scalar is only attached to plan expressions.
    Keep `scalar_lits` where the value must reach Python at build time
    (numpy kernel closures, Arrow schemas, driver-side branching) or
    where a plan-time literal enables parquet predicate pushdown that
    a runtime value cannot."""
    s = agg_df.select(F.struct(*agg_df.columns).alias("_s")).scalar()
    return {f.name: s.getField(f.name) for f in agg_df.schema.fields}


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for bulk release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked DataFrame (blocking=False); returns how
    many were released. Safe to call at any quiescent point.

    Also drops Python-side cycles promptly (r10): localCheckpoint /
    broadcast blocks are reclaimed by Spark's ContextCleaner only once
    the JVM objects become weakly reachable, which in turn waits on
    the Py4J proxies being collected — an explicit gc.collect() at
    this quiescent point keeps the driver's retained working set
    bounded by roughly ONE query instead of the session's history."""
    import gc

    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    gc.collect()
    return n

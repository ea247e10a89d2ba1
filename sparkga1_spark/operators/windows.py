"""Window-function operators (SURVEY.md §2.5/§2.7).

These replace hand-rolled mechanisms of the reference:
- RegionIterator.java:101-132 interval coalescing → gaps-and-islands
- SparkGA1.scala:289-480 equal-frequency re-split → ntile / range bucketing
- SparkGA1.scala:1190-1192 sortByKey + zipWithIndex → a distributed
  running count (`global_rank` over `grouped_cumsum`)

The per-region stable sort (SparkGA1.scala:601-610) needs no helper: the
queries that observe it write `F.row_number().over(w)` themselves.

Scale note: a Window over `partitionBy(chr)` shuffles once on chr and
sorts within partitions — the same single shuffle the reference pays,
but planned by Catalyst with spillable external sort. Avoid global
(unpartitioned) windows on big data; every helper here partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def coalesce_intervals(
    df: DataFrame,
    *,
    partition_cols: Sequence[str] = ("chr_index",),
    start: str = "pos",
    end: str = "end_pos",
    slack: int = 51,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """P2-6: merge overlapping/nearby records into maximal intervals
    (gaps-and-islands). A record joins the current island when
    `start <= running_max(end) + slack` (RegionIterator.java:101-132;
    slack = INTERVAL_OVERLAP = 51, RegionIterator.java:59).

    Returns one row per island: partition cols + island_start /
    island_end / n_records.
    """
    order_cols = [F.col(start), F.col(end), *[F.col(c) for c in order_tiebreak]]
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    prev_max_end = F.max(F.col(end)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start) > prev_max_end + slack), 1
    ).otherwise(0)
    df2 = df.withColumn("_new_island", new_island)
    df3 = df2.withColumn(
        "_island",
        F.sum("_new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        df3.groupBy(*partition_cols, "_island")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count("*").alias("n_records"),
        )
        .drop("_island")
    )


def equal_frequency_buckets(
    df: DataFrame,
    *,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    n_buckets: int,
) -> DataFrame:
    """P2-4: equal-count bucketing of rows within each partition into a
    `bucket` column (1..n_buckets) — the declarative form of the
    reference's gather-sort-cut histogram re-split
    (SparkGA1.scala:304-418). `order_cols` must include a
    unique tiebreak for deterministic output.

    At scale prefer `repartitionByRange` (sampling-based, no global
    sort) when the goal is physical partitioning rather than an
    explicit bucket id; this ntile form is the exact-semantics version.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("bucket", F.ntile(int(n_buckets)).over(w))


def grouped_cumsum(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    value_col: Column | str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    extra_specs: Sequence[tuple[Column | str, str]] = (),
    persist_input: bool = False,
) -> DataFrame:
    """Distributed running sum of `value_col` within each group under a
    UNIQUE (group, order) total order — the scale-safe replacement for
    `F.sum(v).over(Window.partitionBy(g).orderBy(o))` when groups are
    few and huge (e.g. a per-language cumsum over a 100 TB corpus:
    the naive window funnels each language through ONE task).

    Two passes, and `global_rank` is this sum over a column of ones
    with no group: range-partition on (group, order) so every
    partition holds a contiguous slice of one or a few groups, cumsum
    WITHIN (partition, group) via a local window, then add
    per-(partition, group) prefix offsets. The offset table is
    ≤ num_partitions × n_groups_touching_boundaries rows — tiny — and
    its prefix window is per-group over ≤ num_partitions rows, then
    broadcast back. Results are independent of where the
    sampled range boundaries land because the order is total.

    `extra_specs` (r13 optimization, guide §2.4): additional
    (value_col, out_col) running sums computed in the SAME two-pass
    shape — one range exchange, one sample job, one persisted slice
    shared by every sum, instead of one full pass per value column
    (x_survival_km's cum_nano/cum_dead pair measured 2.0 s → 1.2 s at
    sf0.1 when its two back-to-back passes merged into one).

    `persist_input` (r13 optimization, guide §1.2/§5): the
    repartitionByRange below pays a range-boundary SAMPLE job that
    evaluates `df` once more than the persisted slice's fill does —
    an input whose subtree is expensive (a shingle window, a join
    chain) is computed twice per action. Setting persist_input caches
    `df` so sample + fill share one evaluation. Off by default: for
    inputs that are cheap or already cached it only adds memory.
    """
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    specs = [
        (F.col(v) if isinstance(v, str) else v, out)
        for v, out in [(value_col, out_col), *extra_specs]
    ]
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    from sparkga1_spark.operators.cache import tracked_persist

    if persist_input:
        df = tracked_persist(df)
    # Persisted for CORRECTNESS, not only reuse: the local-cumsum pass
    # and the per-partition sums must read ONE evaluation of the range
    # exchange. Each evaluation draws its own range-bound sample (seeded
    # per evaluation, over rows whose order varies after a shuffle), so
    # unless the sample holds every row, a second evaluation computes
    # the offsets over other partitions than the rows they are added to.
    part = tracked_persist(
        df.repartitionByRange(num_partitions, *gcols, *ocols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL semantics must match SQL window sums (skip NULLs; the result
    # is NULL only while the whole group prefix is value-free). The sum
    # alone cannot express that across partition boundaries: a row
    # whose PARTITION-LOCAL prefix is all-NULL has _lc = NULL even when
    # earlier partitions carried values (caught by
    # test_grouped_cumsum_empty_group_cols_is_global_running_sum at
    # nparts=16) — so carry a non-null COUNT alongside and decide
    # NULL-ness from count(local)+count(offset) == 0.
    sums = part.groupBy("_pid", *group_cols).agg(
        *[
            a
            for i, (val, _) in enumerate(specs)
            for a in (F.sum(val).alias(f"_s{i}"), F.count(val).alias(f"_sn{i}"))
        ]
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums
    off_cols = []
    for i in range(len(specs)):
        offsets = offsets.withColumn(
            f"_off{i}", F.coalesce(F.sum(f"_s{i}").over(w_off), F.lit(0))
        ).withColumn(
            f"_offn{i}", F.coalesce(F.sum(f"_sn{i}").over(w_off), F.lit(0))
        )
        off_cols += [f"_off{i}", f"_offn{i}"]
    offsets = offsets.select("_pid", *group_cols, *off_cols)
    res = part.join(F.broadcast(offsets), ["_pid", *group_cols])
    drop = ["_pid", *off_cols]
    for i, (val, out) in enumerate(specs):
        res = (
            res.withColumn(f"_lc{i}", F.sum(val).over(w_local))
            .withColumn(f"_ln{i}", F.count(val).over(w_local))
            .withColumn(
                out,
                F.when(
                    F.col(f"_ln{i}") + F.col(f"_offn{i}") == 0, F.lit(None)
                ).otherwise(F.coalesce(F.col(f"_lc{i}"), F.lit(0)) + F.col(f"_off{i}")),
            )
        )
        drop += [f"_lc{i}", f"_ln{i}"]
    return res.drop(*drop)


def global_rank(
    df: DataFrame,
    *,
    order_cols: Sequence[Column | str],
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row_number over a UNIQUE total order — the
    scale-safe replacement for `Window.orderBy(...)` (which funnels the
    entire input through one task). The rank is the running count of
    rows, i.e. `grouped_cumsum` of ones with no group: the
    sortByKey+zipWithIndex shape of SparkGA1.scala:1190-1192,
    DataFrame-native. The column is a long (a >2^31-row input cannot
    wrap it)."""
    return grouped_cumsum(
        df,
        group_cols=(),
        order_cols=order_cols,
        value_col=F.lit(1),
        out_col=rank_col,
        num_partitions=num_partitions,
    )


def pareto_frontier(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    minimize_col: str,
    maximize_col: str,
) -> DataFrame:
    """Per-group 2-D skyline: rows not dominated on (minimize_col ↓,
    maximize_col ↑). A row is dominated if some row in its group is ≤
    on the minimized axis and ≥ on the maximized axis with at least
    one strict.

    Sorted-scan construction sized for scale: a per-(group, x) MAX-y
    pre-aggregate shrinks the stream to distinct x points FIRST (one
    combiner-friendly exchange), one ROWS window over that small table
    computes the best y among strictly-smaller x, and rows survive iff
    they hold the max at their x AND beat every smaller x. The window
    is ROWS-based over the ALREADY-DISTINCT x points, so "preceding
    rows" is exactly "strictly smaller x" at ANY value granularity —
    a RANGE .. -1 frame would instead mean x' ≤ x−1 and silently keep
    dominated rows for decimal axes (x=10.50 dominated by x=10.00:
    10.00 > 9.50 falls outside the range frame; caught by review +
    decimal property test). Both axes must be exact-comparable types
    (integers / decimals — snap floats before calling; ties on both
    axes are mutually non-dominating and all survive)."""
    gcols = list(group_cols)
    g = df.groupBy(*gcols, minimize_col).agg(
        F.max(maximize_col).alias("_mx_eq")
    )
    w = (
        Window.partitionBy(*gcols)
        .orderBy(minimize_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn("_mx_lt", F.max("_mx_eq").over(w))
    return (
        df.join(g, gcols + [minimize_col])
        .filter(
            (F.col(maximize_col) == F.col("_mx_eq"))
            & (F.col("_mx_lt").isNull() | (F.col("_mx_lt") < F.col(maximize_col)))
        )
        .drop("_mx_eq", "_mx_lt")
    )

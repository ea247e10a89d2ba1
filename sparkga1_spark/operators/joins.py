"""Join operators (SURVEY.md §2.4, J-2).

The reference has no general join executor — its three joins are a
broadcast dimension probe, an external `bedtools intersect`, and
known-sites anti semantics inside GATK. Here they are DataFrame joins:
the dimension probe (J-1) lives in `binning.bin_by_region`, the
known-sites semi/anti forms (J-3) are one broadcast `left_semi` /
`left_anti` join written in each query. The one needing real design
is the interval-overlap range join: naively
`a.chr==b.chr AND a.pos BETWEEN b.start AND b.end` degenerates to a
BroadcastNestedLoopJoin. The scale-safe shape is bin-bucket + equi-join
+ residual predicate (SURVEY.md §4 row 14): explode each interval over
the fixed-width bins it covers, join on (chr, bin) — a plain shuffled
equi-join Catalyst/AQE can plan, partition, and skew-split — then apply
the exact range predicate. Each point lives in exactly one bin, so no
post-join dedup is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_overlap_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    bin_width: int = 10_000,
    broadcast_intervals: bool = False,
) -> DataFrame:
    """J-2: overlap join of point-ranges [pos, end_pos) vs intervals
    [start, end) on `chr_index`, half-open overlap test
    `pos < end AND start < end_pos` (bedtools intersect semantics,
    SparkGA1.scala:703-732).

    Intervals are exploded across the bins they touch (F.sequence — an
    interval of length L lands in ~1+L/bin_width rows); points are
    assigned their single containing bin; the join is then an equi-join
    on (chr, bin) with the exact predicate as residual. AQE handles
    skewed bins like any shuffle join. For small interval tables pass
    broadcast_intervals=True and skip the shuffle entirely.
    """
    def bins(lo: str, hi: str):
        # bins covered by the half-open range [lo, hi): last occupied
        # coordinate is hi-1 (guard degenerate hi<=lo to a single bin)
        return F.sequence(
            F.floor(F.col(lo) / bin_width).cast("long"),
            F.floor(F.greatest(F.col(lo), F.col(hi) - 1) / bin_width).cast("long"),
        )

    binned_ivl = intervals.withColumn("_bin", F.explode(bins("start", "end")))
    if broadcast_intervals:
        binned_ivl = F.broadcast(binned_ivl)
    binned_pts = points.withColumn("_bin", F.explode(bins("pos", "end_pos")))
    overlap = (F.col("pos") < F.col("end")) & (F.col("start") < F.col("end_pos"))
    # Both sides are exploded, so an overlapping pair co-occurs in every
    # shared bin; keep exactly the one where the later-starting range
    # begins — no post-join dedup (which would shuffle again) needed.
    anchor = F.col("_bin") == F.greatest(
        F.floor(F.col("pos") / bin_width).cast("long"),
        F.floor(F.col("start") / bin_width).cast("long"),
    )
    return (
        binned_pts.join(binned_ivl, on=["chr_index", "_bin"], how="inner")
        .filter(overlap & anchor)
        .drop("_bin")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join (absent in the reference — SURVEY.md §2.4 notes Spark
    also lacks a native one): for every left row, attach the most recent
    right row with right_time <= left_time, per key.

    Scale-first construction (single shuffle, no per-key explosion):
    union both sides tagged, sort within key partitions by
    (time, side-tag), and carry the latest right ROW forward with
    last_value(ignoreNulls) over ONE struct of all right columns — the
    classic streaming merge, expressed as a window. The struct matters
    for correctness, not style: per-column last(ignorenulls) would skip
    a NULL inside a newer right row and resurrect a STALE value from an
    older one (and could stitch different right_cols from different
    right rows); the struct is null exactly on left rows, so the carry
    always selects whole rows and row-internal NULLs survive. Cost is
    one exchange on `on` + one sort, independent of how many right rows
    precede each left row (a join+filter+row_number would materialize
    every candidate pair).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    lcols = left.columns
    r_struct_type = T.StructType([right.schema[c] for c in right_cols])
    l_tagged = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r_tagged = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
        F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
    )
    merged = l_tagged.unionByName(r_tagged)
    # right rows (side 0) sort before left rows at equal timestamps →
    # "most recent right with right_time <= left_time" inclusive
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "*", F.last("_r", ignorenulls=True).over(w).alias("_asof")
    )
    return carried.filter(F.col("_side") == 1).select(
        *[F.col(c) for c in lcols],
        *[F.col(f"_asof.{c}").alias(f"asof_{c}") for c in right_cols],
    )

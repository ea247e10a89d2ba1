"""Skew mitigation for per-group Python transforms (SURVEY.md §4 row 5 —
the one genuinely custom optimizer piece).

AQE splits skewed SHUFFLE partitions, but an `applyInPandas` group is
indivisible: one hot (chr, reg) group = one Python worker working alone
— exactly the straggler the reference fought with its equal-frequency
re-split (SparkGA1.scala:241-242, 289-480). The pipeline gets that
re-split from the range exchange in `transform.apply_per_group`
(`split_on`), which needs no pre-pass. `salt_by_quantiles` is the same
idea as an explicit pre-pass: detect heavy keys by weight, compute
per-key position quantiles, and salt the group key by quantile bucket
so one hot group becomes `segments` groups. Records with equal
positions always share a bucket (strict '>' against boundaries), so
position-local semantics (pileup depth, interval coalescing within a
bucket boundary) survive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from sparkga1_spark.operators.cache import scalar_subq, tracked_persist


def spread_if_narrow(df: DataFrame, *cols: str) -> DataFrame:
    """Input-skew fix (guide §2.5 "one huge unsplittable file"): when
    the planned scan yields far fewer partitions than the session's
    shuffle parallelism (single-row-group / tiny-file inputs), hash-
    repartition on `cols` so a downstream map-heavy chain (broadcast
    join + Generate + partial aggregate) runs cluster-wide instead of
    serializing on the scan task. A NO-OP whenever the input already
    splits to >= shuffle.partitions / 2 tasks — the 100 TB case —
    so production plans never pay the extra exchange. The partition
    probe is planning-only (queryExecution.toRdd builds no job).
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target, *cols)


def salt_by_quantiles(
    df: DataFrame,
    *,
    keys: Sequence[str],
    pos_col: str = "pos",
    regions_factor: float = 4.0,
    skew_factor: float = 2.0,
    max_segments: int = 32,
    salt_col: str = "salt",
) -> DataFrame:
    """P2-4 as a pre-pass: add `salt_col` splitting heavy keys into
    equal-frequency position buckets.

    Mechanics: keys above skew_factor × average count are "heavy" (AQE's
    skew rule — on balanced data nothing splits and the pre-pass is one
    small aggregate); each heavy key gets the reference's segment
    formula (SparkGA1.scala:241-242) and per-key equal-frequency
    boundaries from percentile_approx (a sketch, not the reference's
    full position gather at SparkGA1.scala:304-353); records route by
    counting boundaries strictly below their position, so equal
    positions always share a bucket. Keys without boundaries get salt 0
    and pay nothing. The boundary table is tiny → broadcast join.
    """
    df = tracked_persist(df)  # scanned three times: segment plan, bounds, route
    counts = tracked_persist(df.groupBy(*keys).agg(F.count("*").alias("_n")))
    avg_row = counts.agg(F.avg("_n").alias("_avg"))
    heavy = (
        counts.withColumns(scalar_subq(avg_row))
        .filter(F.col("_n") > F.col("_avg") * skew_factor)
        .withColumn(
            "_segments",
            F.least(
                F.greatest(
                    F.lit(2).cast("long"),
                    F.floor(F.col("_n") * regions_factor / F.col("_avg") + 0.5),
                ),
                F.lit(max_segments).cast("long"),
            ),
        )
        .select(*keys, "_segments")
    )
    fracs = [i / max_segments for i in range(1, max_segments)]
    bounds = (
        df.join(F.broadcast(heavy), on=list(keys), how="inner")
        .groupBy(*keys, "_segments")
        .agg(F.percentile_approx(pos_col, fracs, 1_000).alias("_all_bounds"))
        # keep segments-1 evenly spaced boundaries out of the sketch grid
        .withColumn(
            "_bounds",
            F.transform(
                F.sequence(F.lit(1), F.col("_segments") - 1),
                lambda i: F.element_at(
                    F.col("_all_bounds"),
                    (i * max_segments / F.col("_segments")).cast("int"),
                ),
            ),
        )
        .select(*keys, "_bounds")
    )
    # routing: count boundaries strictly below pos. Measured at sf0.1:
    # the aggregate-fold (interpreted) runs ~4.5x FASTER than an
    # unrolled try_element_at chain — ANSI element_at pays per-term
    # bounds/null checks, the same finding as functions/vectors.py.
    route = F.aggregate(
        F.col("_bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(pos_col) > b, 1).otherwise(0),
    )
    salted = df.join(F.broadcast(bounds), on=list(keys), how="left").withColumn(
        salt_col,
        F.when(F.col("_bounds").isNull(), F.lit(0)).otherwise(route),
    )
    return salted.drop("_bounds")


def lpt_assign(
    weights: DataFrame,
    *,
    n_workers: int,
    key_cols: Sequence[str] = ("chr_index", "reg"),
    weight_col: str = "n_reads",
) -> DataFrame:
    """The reference's actual greedy LPT loop (SparkGA1.scala:1153-1162):
    regions sorted heaviest-first, each assigned to the least-loaded of
    n_workers (lowest worker id on ties). Greedy assignment is
    inherently sequential, but the REGION table is tiny by construction
    (regions ≈ chromosomes × segments — 10⁴-10⁵ rows even at 100 TB),
    so one Arrow-batched pass over a single group is the honest plan,
    exactly like the reference's driver-side loop. Returns the input
    keys + weight + worker_id. Verified by pytest against a pure-Python
    reference (not SQL-expressible: the greedy recurrence)."""
    import heapq

    import pandas as pd

    keys = list(key_cols)

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [weight_col, *keys], ascending=[False] + [True] * len(keys)
        ).reset_index(drop=True)
        heap = [(0, w) for w in range(n_workers)]  # (load, worker)
        heapq.heapify(heap)
        out = []
        for wt in pdf[weight_col].astype(int).tolist():
            load, w = heapq.heappop(heap)
            out.append(w)
            heapq.heappush(heap, (load + wt, w))
        pdf["worker_id"] = out
        return pdf[[*keys, weight_col, "worker_id"]]

    # derive key/weight types from the INPUT schema — hardcoding `int`
    # would fail Arrow conversion for string keys and overflow 64-bit
    # keys, silently narrowing the operator's generic signature
    in_types = {f.name: f.dataType.simpleString() for f in weights.schema}
    key_schema = ", ".join(f"{k} {in_types[k]}" for k in keys)
    return (
        weights.coalesce(1)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: assign(pdf),
            schema=f"{key_schema}, {weight_col} {in_types[weight_col]}, worker_id int",
        )
    )

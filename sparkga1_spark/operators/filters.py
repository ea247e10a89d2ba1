"""Row filters shared by several plans (SURVEY.md §2.2, F-2, F-9).

The reference applies its filters imperatively inside its ingest
callback (SamRegionsParser.scala:34-53); here they are Column
predicates so Catalyst pushes them into the scan (PushedFilters) and
prunes columns — at 100 TB that is the difference between reading the
table and reading a slice of it. Filters with a single caller (the
ignore list, F-4) are written inline in that query as a plain
`filter` or broadcast `left_anti` join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def filter_unmapped(df: DataFrame, mask: int = 4) -> DataFrame:
    """F-2: drop rows whose `flags` bit `mask` is set — the
    unmapped-read test `(flags & mask) == 0` of
    SamRegionsParser.scala:46-47, generalized to any flag bit."""
    return df.filter(F.col("flags").bitwiseAND(F.lit(mask)) == 0)


def fix_intervals(df: DataFrame) -> DataFrame:
    """F-9: interval sanity fix (SparkGA1.scala:684-697) on
    `start`/`end` — zero-length intervals get end+1; rows with
    null/negative bounds are dropped."""
    start, end = F.col("start"), F.col("end")
    return (
        df.filter(start.isNotNull() & end.isNotNull())
        .filter((start >= 0) & (end >= start))
        .withColumn("end", F.when(start == end, end + 1).otherwise(end))
    )

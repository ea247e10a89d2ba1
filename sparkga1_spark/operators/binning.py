"""Coordinate range-binning (SURVEY.md §1.3, J-1/F-6/F-7) — the heart of
the reference's partitioning model.

The reference computes `reg = pos / regionSize(chr)` per row inside its
parser (SamRegionsParser.scala:55-60) against a broadcast Configuration;
here it is a broadcast dimension join + an arithmetic column, which
Catalyst turns into a BroadcastHashJoin with the fact side never
shuffled — the correct plan at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bin_by_region(facts: DataFrame, seq_dict: DataFrame) -> DataFrame:
    """Join facts to the dictionary on `chr_index` and derive the region
    bin `reg = floor(pos / region_size)` — the declarative form of the
    reference's (chr, reg) keying.

    J-1: the sequence dictionary is tiny (≤ thousands of contigs), so
    it is always broadcast (SparkGA1.scala:1006) and the fact table is
    never shuffled for it. F-7 (SamRegionsParser.scala:60): floor of an
    IEEE division of two ints is exact for the coordinate ranges
    involved (< 2^53), so the same expression is oracle-safe in
    DuckDB."""
    return facts.join(F.broadcast(seq_dict), on="chr_index", how="inner").withColumn(
        "reg", F.floor(F.col("pos") / F.col("region_size")).cast("int")
    )

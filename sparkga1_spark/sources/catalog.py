"""Table catalog over the driver-generated testdata (TESTDATA.md).

The reference's "catalog" is a directory listing plus a broadcast
Configuration (SparkGA1.scala:1084-1098, 1006); here it is parquet
sources with schema known at plan time, so Catalyst gets column pruning
and predicate pushdown for free (SURVEY.md §4 rows 1-2).

Scale note: one partition per file is the reference's model
(parallelize(files, N)); Spark's file source instead splits by
maxPartitionBytes, which is what you want at 100 TB — a 1000-executor
cluster gets balanced splits regardless of file count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks.

    events.ts is stored TIMESTAMP(MICROS) without UTC adjustment, so
    Spark reads it as timestamp_ntz; it is cast to a session-zone
    timestamp (identical instant under the pinned UTC session). That
    leaves `ts` a plain TIMESTAMP, the same type stream_events yields,
    so batch and stream plans share operators (joins/unions across the
    two paths type-check)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    dfs = {name: load_table(spark, sf_dir, name) for name in TABLES}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the genomics-shaped fixture tables as temp views too, so
    the full data model (FIXTURES.md) is reachable from `spark.sql` —
    the reference exposes these only through its Scala job wiring."""
    from sparkga1_spark.sources import fixtures

    dfs = register_views(spark, sf_dir)
    fixtures.alignments(dfs["lineitem"]).createOrReplaceTempView("alignments")
    fixtures.sequence_dict(dfs["nation"]).createOrReplaceTempView("sequence_dict")
    fixtures.exome_intervals(dfs["part"]).createOrReplaceTempView("exome_intervals")
    fixtures.known_sites(dfs["lineitem"]).createOrReplaceTempView("known_sites")
    fixtures.variants(dfs["orders"]).createOrReplaceTempView("variants")


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose parts were written under EVOLVING
    schemas (columns added over time — the normal life of a long-lived
    ingest directory). `mergeSchema` unions the per-file footers at plan
    time; files missing a column yield nulls for it. At 100 TB prefer a
    table format with a real metadata log (see connectors.py) — but for
    plain parquet ingest directories this is the correct read path, and
    unlike a blind `spark.read.parquet` it cannot silently drop the new
    columns of late files (the default reader takes ONE file's footer as
    the schema of all)."""
    return spark.read.option("mergeSchema", "true").parquet(path)

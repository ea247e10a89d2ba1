"""Micro-batch ingestion (SURVEY.md §2.9, S-2).

The reference's streaming mode is a driver polling loop over upload-
marker files with a sentinel end.txt (SparkGA1.scala:94-110, 1050-1081);
Structured Streaming's file source replaces the whole protocol: atomic
file visibility is the marker, `maxFilesPerTrigger` is chunkerGroupSize,
`Trigger.AvailableNow` is the deterministic drain used by tests, and
stopping the query is the sentinel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def stream_events(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory. The testdata events
    table stores TIMESTAMP(MICROS) → timestamp_ntz ts; normalize to a
    real timestamp column exactly like the batch catalog so batch and
    stream plans share operators."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        # parquet TIMESTAMP(MICROS) without UTC adjustment reads as
        # TIMESTAMP_NTZ. Watermarks require TIMESTAMP_LTZ; the session
        # zone is pinned UTC, so this cast is value-preserving and keeps
        # batch/stream plans aligned.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def run_available_now(stream_df: DataFrame, query_name: str) -> None:
    """Drain everything currently in the source into an in-memory table
    (deterministic test harness; production uses a real sink + trigger)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_complete_to_memory(agg_df: DataFrame, query_name: str) -> None:
    """Drain an aggregated stream (complete mode) into memory."""
    q = (
        agg_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

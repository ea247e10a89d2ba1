"""FASTQ chunk ingestion (the reference's actual input format).

The reference consumes gzipped FASTQ chunks one-file-per-task
(SparkGA1.scala:1084-1098; 4-line records: @name / sequence / + /
quality, pairs interleaved per README.md:130). The Spark-first form
stays on the JVM end to end:

- the `text` source with `wholetext=True`: one row per chunk file,
  decompressed by Hadoop's codec (gzip or plain, by extension);
  `ignoreCorruptFiles` skips a chunk that fails to decode, whole;
- `split` into lines, `transform` into 4-line records, `filter` the
  well-formed ones (name starts with `@`, third line with `+`) and
  number them by position (`posexplode_outer`), so `read_idx` counts
  valid records only;
- `chunk` is the file name from the `_metadata` column.

No Python worker, no Arrow round trip, no shuffle. A 60 MB gzip chunk
(the reference's tuning) decodes to one ~250 MB string per task; a
chunk over 2 GB decompressed cannot be one row, so split such input
upstream.

`parse_fastq_bytes` is the same contract in pure Python, kept as the
reference the reader is tested against.
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

READ_SCHEMA = (
    "chunk string, read_idx long, read_name string, sequence string, "
    "quality string, read_len int"
)


def parse_fastq_bytes(data: bytes, chunk: str) -> pd.DataFrame:
    """Parse one (possibly gzipped) FASTQ payload into read records.
    Tolerant of trailing blank lines; malformed tails are dropped (the
    reference's badLines posture, SamRegionsParser.scala:71-74)."""
    empty = pd.DataFrame(
        columns=["chunk", "read_idx", "read_name", "sequence", "quality", "read_len"]
    )
    if data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error):
            # corrupted chunk: skip it, don't abort the job (the
            # reference's badLines tolerance, SamRegionsParser.scala:71-74)
            return empty
    lines = data.decode("utf-8", errors="replace").split("\n")
    out = []
    i, idx = 0, 0
    while i + 3 < len(lines):
        name, seq, plus, qual = lines[i : i + 4]
        if name.startswith("@") and plus.startswith("+"):
            out.append((chunk, idx, name[1:], seq, qual, len(seq)))
            idx += 1
        i += 4
    return pd.DataFrame(
        out,
        columns=["chunk", "read_idx", "read_name", "sequence", "quality", "read_len"],
    )


def read_fastq_chunks(
    spark: SparkSession, path: str, observation: Observation | None = None
) -> DataFrame:
    """Chunk files → typed `reads` DataFrame (READ_SCHEMA), one task per
    packed group of whole files. With `observation`, the job that reads
    the chunks also reports `bad_chunks_skipped` (chunks listed but not
    decoded) and `malformed_records` (4-line records dropped)."""
    # wholetext must be the keyword: text()'s own default would
    # overwrite an .option("wholetext", ...) set before it
    files = spark.read.option("ignoreCorruptFiles", "true").text(path, wholetext=True)
    # one projection of its own, so the lambda indexes the split array
    # instead of re-splitting the chunk per line
    per_file = files.select(
        F.col("_metadata.file_name").alias("chunk"),
        F.split("value", "\n").alias("lines"),
    )
    lines = F.col("lines")
    # record k is lines[4k..4k+3]; a trailing partial record is ignored
    starts = F.when(
        F.size(lines) >= 4, F.sequence(F.lit(0), F.size(lines) - 4, F.lit(4))
    ).otherwise(F.array().cast("array<int>"))
    per_file = per_file.select(
        "chunk",
        F.transform(
            starts,
            lambda i: F.struct(
                lines[i].alias("name"),
                lines[i + 1].alias("sequence"),
                lines[i + 2].alias("plus"),
                lines[i + 3].alias("quality"),
            ),
        ).alias("recs"),
    ).select(
        "chunk",
        F.size("recs").alias("n_recs"),
        F.filter(
            "recs", lambda r: r["name"].startswith("@") & r["plus"].startswith("+")
        ).alias("recs"),
    )
    if observation is not None:
        # inputFiles() is the planned file listing: no job
        per_file = per_file.observe(
            observation,
            (F.lit(len(files.inputFiles())) - F.count(F.lit(1))).alias(
                "bad_chunks_skipped"
            ),
            F.coalesce(F.sum(F.col("n_recs") - F.size("recs")), F.lit(0)).alias(
                "malformed_records"
            ),
        )
    # posexplode_outer + null filter, not posexplode: for the latter the
    # optimizer infers a `size(recs) > 0` filter and pushes it below the
    # projections, inlining split() into the lambda — one re-split of
    # the whole chunk per record
    return (
        per_file.select("chunk", F.posexplode_outer("recs").alias("read_idx", "r"))
        .filter(F.col("r").isNotNull())
        .select(
            "chunk",
            F.col("read_idx").cast("long"),
            F.substr("r.name", F.lit(2)).alias("read_name"),
            F.col("r.sequence"),
            F.col("r.quality"),
            F.length("r.sequence").alias("read_len"),
        )
    )

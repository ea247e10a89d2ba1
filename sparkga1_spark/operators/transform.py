"""Black-box per-group / per-partition transform surface (SURVEY.md
§2.8, X-1..X-8).

The reference's heavy lifting is external processes per region (bwa,
Picard, GATK — SparkGA1.scala:817-953); the engine's equivalent is the
Arrow-batched pandas transform family:

- apply_per_group: `applyInPandas` semantics over group keys — the
  X-2..X-5,X-8 shape (region in → region result out) — through one
  range exchange and one sorted-run walk. Equal keys are never split,
  so each group reaches `fn` whole; with a position column to split on,
  a hot region spreads over tasks as position-disjoint slices (the
  reference's Part-2 re-split), which is valid only for a
  position-local `fn`.
- pipe_partitions: the rdd.pipe analog for true external binaries, kept
  behind one function so the subprocess surface is a single audited
  point.
- nfc_normalize: the one text step that needs Python's Unicode tables.

The X-1 shape (chunk in → many records out, a flatMap-style UDTF) is a
plain `mapInPandas` in the query that needs it. Every relational
operator stays JVM-side.
"""

from __future__ import annotations

import subprocess
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame


def apply_per_group(
    df: DataFrame,
    *,
    keys: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    split_on: str | None = None,
) -> DataFrame:
    """Run `fn` once per key group (Arrow-batched pandas in/out) — the
    `groupBy(*keys).applyInPandas(fn, schema)` contract: `fn` gets one
    group, keys included; `None` or empty outputs are dropped.

    Rows are range-partitioned on (keys..., split_on) into
    spark.sql.shuffle.partitions parts, sorted within each part, and
    walked by ONE mapInPandas. Conditions this relies on:

    - The range partitioner never splits equal sort keys. Without
      `split_on` every group therefore lands in one task whole.
    - With `split_on=<position column>`, a group larger than one part
      spans several tasks, split at sampled equal-frequency positions
      (the reference's Part-2 re-split, SparkGA1.scala:241-242,
      289-480, with no pre-pass), and `fn` sees each slice as a call of
      its own. `fn` must then be position-local: its output over a
      group must equal the union of its outputs over position-disjoint
      slices of it.
    - The exchange has an explicit partition count (REPARTITION_BY_NUM),
      which AQE never coalesces, so an expensive Python stage is not
      narrowed to a few tasks by a byte-size heuristic.

    Groups arrive as contiguous runs of each Arrow batch. One
    null-safe key-change scan per batch finds the runs (null keys
    compare equal, as groupBy's do); every complete run goes to `fn`,
    the last run is held back because it may continue in the next
    batch, and the held run is flushed at the end. Outputs are
    concatenated per batch, so the return path ships a few large Arrow
    batches instead of one per group.
    """
    import numpy as np

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sort_cols = [*keys, *([split_on] if split_on else [])]

    def call(runs: list[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        outs = [o for o in map(fn, runs) if o is not None and len(o)]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tail = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            new_run = np.zeros(len(pdf), dtype=bool)
            for c in keys:
                col = pdf[c].to_numpy()
                na = pd.isna(col)
                neq = np.asarray(col[1:] != col[:-1], dtype=bool)
                new_run[1:] |= neq & ~(na[1:] & na[:-1])
            starts = [0, *np.flatnonzero(new_run)]
            tail = pdf.iloc[starts[-1]:]
            yield from call([pdf.iloc[a:b] for a, b in zip(starts, starts[1:])])
        if tail is not None:
            yield from call([tail])

    src = df.repartitionByRange(n_parts, *sort_cols).sortWithinPartitions(*sort_cols)
    return src.mapInPandas(gen, schema=schema)


def pipe_partitions(df: DataFrame, *, cmd: list[str]) -> DataFrame:
    """rdd.pipe analog (the reference's bwa spawn, SparkGA1.scala:128-143):
    stream the `line` column through an external command per partition,
    yield its stdout lines as `line`. Used for true external tools;
    tests use deterministic commands (e.g. sed) since no genomics
    binaries ship in this environment."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            proc = subprocess.run(
                cmd,
                input="\n".join(pdf["line"].astype(str)) + "\n",
                capture_output=True,
                text=True,
                check=True,
            )
            lines = [ln for ln in proc.stdout.split("\n") if ln]
            yield pd.DataFrame({"line": lines})

    return df.mapInPandas(run, schema="line string")


# Unicode control/format characters every curation recipe strips before
# hashing or tokenizing: C0 controls (minus \t\n\r, which whitespace
# normalization owns), DEL, and ZERO WIDTH SPACE. Same class, same
# escapes, in Java regex (Spark) and RE2 (DuckDB oracles).
CONTROL_CHAR_CLASS = r"[\x00-\x08\x0B-\x1F\x7F\x{200B}]"


def nfc_normalize(
    df: DataFrame, *, text_col: str = "text", out_col: str = "text_nfc"
) -> DataFrame:
    """Append out_col = Unicode NFC normalization of text_col.

    Spark has no built-in NFC (combining sequences like 'e' + U+0301
    must become the precomposed 'é' before dedup hashing, or visually
    identical documents hash apart), so this is a sanctioned Arrow
    batch stage: unicodedata.normalize over each batch column —
    map-only, no shuffle, schema = input + one string column. Control
    character stripping and whitespace collapse stay JVM-side
    (CONTROL_CHAR_CLASS / normalize_whitespace); only the composition
    step, which genuinely needs the Unicode tables, enters Python."""
    from pyspark.sql.types import StringType, StructField, StructType

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].map(
                lambda x: None if x is None else unicodedata.normalize("NFC", x)
            )
            yield pdf

    # fresh StructType — mutating df.schema in place confuses the
    # analyzer (the plan's output stays three-column)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, StringType())]
    )
    return df.mapInPandas(run, schema=out_schema)

"""Black-box per-group / per-partition transform surface (SURVEY.md
§2.8, X-1..X-8).

The reference's heavy lifting is external processes per region (bwa,
Picard, GATK — SparkGA1.scala:817-953); the engine's equivalent is the
Arrow-batched pandas transform family:

- apply_per_group: `applyInPandas` semantics over group keys — the
  X-2..X-5,X-8 shape (region in → region result out). Optionally
  range-split on a position column so a hot region spreads over tasks
  (the reference's Part-2 problem).
- map_batches: `mapInPandas` over partitions — the X-1 shape (chunk in
  → many records out, a flatMap-style UDTF).
- pipe_partitions: the rdd.pipe analog for true external binaries, kept
  behind one function so the subprocess surface is a single audited
  point.

These are the ONLY sanctioned Python-in-the-loop entry points; every
relational operator stays JVM-side.
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
    """Run `fn` once per key group (Arrow-batched pandas in/out).

    With `split_on=<position column>`, rows are range-partitioned on
    (keys..., split_on) instead of hashed on keys, so a group larger
    than one partition spans several tasks and `fn` sees it as several
    position-disjoint slices, one per task. Spark's range partitioner
    places boundaries at sampled equal frequencies and never splits
    equal keys — the reference's equal-frequency re-split
    (SparkGA1.scala:241-242, 289-480) with no pre-pass. Valid whenever
    `fn` is position-local, i.e. distributes over a position split (all
    X-* analogs are: they process coordinate-sorted slices).

    Partitioning (r13 optimization, guide §2.2/§4.2): the Exchange that
    `groupBy().applyInPandas` inserts is AQE-coalescible, and AQE's
    byte-based heuristic starves the Python stage — measured on
    pipeline_end_to_end at sf0.1: 20 MiB of shuffle output coalesced to
    6 partitions, so the pandas variant caller ran 6-wide on 32 cores
    (per-task Python time 1.7–3.1 s, the query's dominant cost). Bytes
    are the wrong proxy for an expensive opaque per-row stage, so the
    group exchange is pinned with an explicit partition count
    (REPARTITION_BY_NUM is exempt from AQE coalescing; hash or range
    partitioning on the keys satisfies the applyInPandas
    ClusteredDistribution, so no second exchange appears). n =
    spark.sql.shuffle.partitions — conf-derived, scale-adaptive: at
    cluster scale that conf is sized to the cluster, and the exchange it
    pins replaces (not augments) the one the groupBy would insert anyway.

    Group iteration (r13 optimization, guide §4.1/§4.2): applyInPandas
    builds one Arrow batch + pandas frame PER GROUP in both directions —
    measured ~20 ms/group of pure machinery on the sf0.1 variant-caller
    stage (837 groups, 0.44 s of fn CPU inside ~17 task-seconds of
    stage time). The same ClusteredDistribution is realized manually:
    repartition on the group keys, sortWithinPartitions so groups
    arrive contiguous, and ONE mapInPandas whose generator walks key
    runs, buffering only the batch-spanning trailing run. fn still sees
    exactly one group (or, with split_on, one group's slice) per call,
    keys included — the applyInPandas contract; outputs concatenate per
    input batch so the return path ships a few large Arrow batches
    instead of one per group.
    """
    import numpy as np

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    group_cols = list(keys)
    if split_on is None:
        src, sort_cols = df.repartition(n_parts, *group_cols), group_cols
    else:
        sort_cols = [*group_cols, split_on]
        src = df.repartitionByRange(n_parts, *sort_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def run_groups(pdf: pd.DataFrame) -> pd.DataFrame | None:
            # rows arrive SORTED on group_cols (sortWithinPartitions
            # below), so groups are contiguous runs: find run
            # boundaries with one vectorized null-safe comparison per
            # key column and slice, instead of pandas groupby hashing
            # every row (r14, guide §4.2 — measured 16.5 → 10.7
            # ms/batch on a 9.4k-row 26-group batch). Null keys
            # compare equal to null, matching groupby(dropna=False).
            n = len(pdf)
            brk = np.zeros(n, dtype=bool)
            for c in group_cols:
                col = pdf[c].to_numpy()
                neq = col[1:] != col[:-1]
                if neq.dtype != bool:
                    neq = neq.astype(bool)
                na = pd.isna(col)
                if na.any():
                    neq &= ~(na[1:] & na[:-1])
                brk[1:] |= neq
            bounds = np.concatenate(
                ([0], np.flatnonzero(brk), [n])
            )
            outs = []
            for i in range(len(bounds) - 1):
                o = fn(pdf.iloc[bounds[i]:bounds[i + 1]])
                if o is not None and len(o):
                    outs.append(o)
            if not outs:
                return None
            return pd.concat(outs, ignore_index=True)

        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
            n = len(pdf)
            if n == 0:
                continue
            # the maximal suffix sharing the final row's key may continue
            # into the next batch — hold it back, flush complete runs
            suffix = np.ones(n, dtype=bool)
            for c in group_cols:
                col = pdf[c].to_numpy()
                eq = col == col[-1]
                if eq.dtype != bool:  # object comparisons may stay object
                    eq = eq.astype(bool)
                na = pd.isna(col)
                if na.any() and pd.isna(col[-1]):
                    eq = eq | na
                suffix &= eq
            brk = np.nonzero(~suffix)[0]
            start_last = int(brk[-1]) + 1 if len(brk) else 0
            head, buf = pdf.iloc[:start_last], pdf.iloc[start_last:]
            if len(head):
                out = run_groups(head)
                if out is not None:
                    yield out
        if buf is not None and len(buf):
            out = run_groups(buf)
            if out is not None:
                yield out

    return src.sortWithinPartitions(*sort_cols).mapInPandas(gen, schema=schema)


def map_batches(
    df: DataFrame,
    *,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """X-1 shape: per-partition batch flatMap (`mapInPandas`). `fn` maps
    one pandas batch to an output frame of any row count."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(gen, schema=schema)


def pipe_partitions(
    df: DataFrame,
    *,
    cmd: list[str],
    in_col: str = "line",
    out_field: str = "line",
) -> DataFrame:
    """rdd.pipe analog (the reference's bwa spawn, SparkGA1.scala:128-143):
    stream `in_col` lines through an external command per partition,
    yield stdout lines. Used for true external tools; tests use
    deterministic commands (e.g. sed) since no genomics binaries ship in
    this environment."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            proc = subprocess.run(
                cmd,
                input="\n".join(pdf[in_col].astype(str)) + "\n",
                capture_output=True,
                text=True,
                check=True,
            )
            lines = [ln for ln in proc.stdout.split("\n") if ln]
            yield pd.DataFrame({out_field: lines})

    return df.mapInPandas(run, schema=f"{out_field} string")


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

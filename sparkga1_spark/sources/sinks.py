"""Sinks (SURVEY.md §2.1 S-4/S-6/S-7).

The reference hand-writes three output shapes: per-region coordinate-
sorted BAM+BED files (S-6), a TSV manifest checkpoint between jobs
(S-4), and one globally ordered merged VCF written by the driver (S-7,
SparkGA1.scala:1241-1250). Spark-first equivalents:

- partitioned sink: `partitionBy(keys)` + `sortWithinPartitions` — the
  committer writes each (chr, reg) directory with rows in coordinate
  order; no driver-side byte shuffling.
- checkpoint: just parquet (columnar, splittable — the manifest TSV
  disappears into a stage boundary unless explicitly materialized).
- single-file ordered sink: one exchange into a single partition, then
  a sort inside the one writer task — the reference's funnel to one
  writer (sortByKey + driver-side merge) minus the collect, with no
  range-partitioner sample job re-running the plan below it. The sort
  spills like any Spark sort. For large outputs prefer the partitioned
  sink; this exists for the "one VCF file" contract.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def write_partitioned_sorted(
    df: DataFrame,
    path: str,
    *,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str],
) -> None:
    """S-6: one directory per partition key, rows coordinate-sorted
    within every output file (SparkGA1.scala:613-651 semantics)."""
    (
        df.repartition(*[df[c] for c in partition_cols])
        .sortWithinPartitions(*partition_cols, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_single_file_ordered(
    df: DataFrame,
    path: str,
    *,
    order_cols: Sequence[str],
) -> None:
    """S-7: one globally ordered file (the combined-VCF contract,
    SparkGA1.scala:1241-1250). `repartition(1)` is a single-partition
    exchange (no range sample job, so the plan below it runs once, and
    AQE leaves a by-number repartition alone); the sort then runs in the
    one writer task that already sees every row. An `orderBy` in `df`
    itself is dropped by the optimizer beneath the repartition."""
    (
        df.repartition(1)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def checkpoint_parquet(df: DataFrame, path: str) -> DataFrame:
    """S-4: materialize an intermediate (the bwaOut.txt manifest analog)
    and return a fresh scan over it — cuts lineage exactly like the
    reference's between-jobs file relay, but columnar and splittable."""
    df.write.mode("overwrite").parquet(path)
    # the writer's schema is known: passing it skips the footer-read
    # schema-inference job on read-back
    return df.sparkSession.read.schema(df.schema).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: Sequence[str],
    n_buckets: int,
) -> None:
    """Bucketed managed table: rows hash-partitioned into n_buckets
    files per partition by `bucket_cols`. Joins/aggregations on the
    bucket columns between tables bucketed the same way need NO
    exchange — the pre-shuffle is paid
    once at write time (the scale answer for repeatedly-joined fact
    tables; see test_bucketed_join_avoids_shuffle for the plan proof).

    Bucketing metadata lives in the session catalog, so this writes a
    TABLE (spark.sql.warehouse.dir), not a bare path.
    """
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    *,
    target_file_mb: int = 128,
    sort_cols: Sequence[str] | None = None,
) -> int:
    """Small-file compaction — the canonical 100 TB operational fix for
    sinks that accumulated many tiny files (streaming micro-batches,
    over-parallel writes; the reference relays thousands of per-chunk
    files between its three jobs, SparkGA1.scala:1050-1081, which is
    exactly this problem). Sizes the output by the INPUT's real bytes
    (Hadoop FS listing — no data scan), rewrites with `repartition(n)`;
    optional `sort_cols` re-establish within-file clustering so min/max
    row-group pruning works on the compacted output. Returns n."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(n)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(out_path)
    return n


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    *,
    keys: Sequence[str],
    validate_unique: bool = False,
    version_col: str | None = None,
) -> DataFrame:
    """MERGE semantics on plain DataFrames (updates win on key match,
    inserts otherwise): anti-join the base against the update keys, then
    union. Both shuffles are keyed on `keys`; nothing wider than the
    update set is broadcast. The lakehouse connectors do this natively
    (MERGE INTO) when their jars are present — this is the
    format-agnostic fallback with identical row-level results.

    DUPLICATE-KEYS CONTRACT: a duplicate-keyed `updates` frame inserts
    ALL its rows (the anti-join drops the one base row, the union keeps
    every update) — unlike SQL MERGE, which errors on multiple matches.
    Pass validate_unique=True to get the MERGE behavior: it runs one
    keyed count over `updates` (an extra job, hence opt-in) and raises
    if any key appears more than once.

    VERSIONED MERGE (closes the cross-writer replay window): with
    `version_col` set, a matched key keeps whichever row has the
    GREATER version — base rows survive incoming rows with version <=
    theirs, so re-merging stale rows is a no-op BY VALUE, not just by
    ledger bookkeeping (the lakehouse `MERGE ... WHEN MATCHED AND
    s.v > t.v` condition, format-agnostic). Updates are first reduced
    to their greatest-version row per key (deterministic only if
    versions are unique per key within one updates frame — equal-
    version rows for one key in one batch are a caller error, same as
    two writers sharing a writer_id). Ties between base and incoming
    keep the BASE row, which is what makes replay idempotent.
    `validate_unique` is moot on this path (the reduction enforces
    one row per key). A NULL version on EITHER side raises in-plan:
    under SQL three-valued logic a null never wins and never loses a
    version comparison, so a null-versioned row would silently
    duplicate its key (null vs null: both filters keep their row) or
    silently vanish it (null vs v: both filters drop) — the A-ES
    non-positive-weight precedent, fail loud instead of either."""
    if version_col is not None:
        def _required(df):
            vtype = dict(df.dtypes)[version_col]
            return df.withColumn(
                version_col,
                F.when(
                    F.col(version_col).isNull(),
                    F.raise_error(
                        F.lit(
                            f"merge_upsert: {version_col} must be non-null "
                            "for versioned merge"
                        )
                    ).cast(vtype),
                ).otherwise(F.col(version_col)),
            )

        base = _required(base)
        updates = _required(updates)
        w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
        updates = (
            updates.withColumn("_vrank", F.row_number().over(w))
            .filter(F.col("_vrank") == 1)
            .drop("_vrank")
        )
        # updates are now unique per key, so the incoming version per
        # key is just its row's version — no aggregate needed
        upd_ver = updates.select(
            *keys, F.col(version_col).alias("_v_new")
        )
        survivors = (
            base.join(upd_ver, list(keys), "left")
            .filter(
                F.col("_v_new").isNull()
                | (F.col(version_col) >= F.col("_v_new"))
            )
            .drop("_v_new")
        )
        incoming = (
            updates.join(
                base.select(
                    *keys, F.col(version_col).alias("_v_base")
                ),
                list(keys),
                "left",
            )
            .filter(
                F.col("_v_base").isNull()
                | (F.col(version_col) > F.col("_v_base"))
            )
            .drop("_v_base")
        )
        return survivors.unionByName(incoming)
    if validate_unique:
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(5)
            .collect()
        )
        if dup:
            raise ValueError(
                "merge_upsert: duplicate keys in updates: "
                + ", ".join(str(tuple(r[k] for k in keys)) for r in dup)
            )
    survivors = base.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return survivors.unionByName(updates)


def upsert_parquet(
    spark,
    base_path: str,
    updates: DataFrame,
    *,
    keys: Sequence[str],
    version_col: str | None = None,
) -> None:
    """Read-merge-rewrite upsert for a parquet table, commit-by-rename.

    Phase 1 writes the merged result to a uniquely-suffixed sibling dir
    (a crash anywhere in phase 1 leaves the base table byte-identical —
    the expensive, long window is fully safe). Phase 2 swaps the dirs
    with two FileSystem renames (metadata-only). The ONLY non-atomic
    window is between the two renames: a crash there leaves no dir at
    `base_path` but the complete new table at `<base>__tmp_<token>` and
    the old one at `<base>__old_<token>` — recoverable by one manual
    rename, never a half-written table. (True single-rename atomicity
    needs a metadata layer — see sources/connectors.py lakehouse
    formats, which commit via log entries instead.)"""
    import uuid

    token = uuid.uuid4().hex[:12]
    base = spark.read.parquet(base_path)
    merged = merge_upsert(base, updates, keys=keys, version_col=version_col)
    stem = base_path.rstrip("/")
    tmp, old = f"{stem}__tmp_{token}", f"{stem}__old_{token}"
    merged.write.mode("overwrite").parquet(tmp)  # phase 1: base untouched
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(tmp).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(hadoop_path(base_path), hadoop_path(old)):  # phase 2a
        raise OSError(f"upsert_parquet: rename {base_path} -> {old} failed")
    if not fs.rename(hadoop_path(tmp), hadoop_path(base_path)):  # phase 2b
        # roll back 2a so the table stays readable at base_path
        fs.rename(hadoop_path(old), hadoop_path(base_path))
        raise OSError(f"upsert_parquet: rename {tmp} -> {base_path} failed")
    fs.delete(hadoop_path(old), True)


def recover_interrupted_upsert(spark, base_path: str) -> bool:
    """Finish the swap of an upsert_parquet that crashed between its
    two phase-2 renames: no dir at `base_path`, the complete merged
    table stranded at `<base>__tmp_<token>` (and/or the previous table
    at `<base>__old_<token>`). Prefers the tmp dir (it holds the merged
    result; the interrupted upsert never acknowledged, so callers will
    re-apply their batch — idempotent under keyed MERGE); falls back to
    the old dir. Returns True iff a recovery rename was performed.
    Raises if MULTIPLE stranded candidates exist — that means two
    interrupted upserts overlapped, which the sequential-writer
    contract forbids, and picking one silently could lose data.

    Detection is driver-local (os.path / glob) by design, matching the
    ledger scope of streaming/sinks.py — a URI-scheme path is rejected
    there before this can run; the remote port must swap detection to
    fs.exists/fs.globStatus on the SAME Hadoop FileSystem the renames
    below use, or recovery would silently find nothing."""
    import glob
    import os
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", base_path):
        raise NotImplementedError(
            "recover_interrupted_upsert detects stranded dirs via the "
            f"driver-local filesystem; got URI-scheme path {base_path!r}"
        )
    if os.path.isdir(base_path):
        return False
    stem = base_path.rstrip("/")
    tmps = sorted(glob.glob(stem + "__tmp_*"))
    olds = sorted(glob.glob(stem + "__old_*"))
    if not tmps and not olds:
        return False
    if len(tmps) > 1 or (not tmps and len(olds) > 1):
        raise RuntimeError(
            f"recover_interrupted_upsert: multiple stranded dirs for "
            f"{base_path}: {tmps + olds} — manual inspection required"
        )
    pick = tmps[0] if tmps else olds[0]
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(pick).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(hadoop_path(pick), hadoop_path(base_path)):
        raise OSError(f"recover_interrupted_upsert: rename {pick} failed")
    # the superseded sibling (old table when tmp won) is now garbage
    for leftover in (olds if tmps else []):
        fs.delete(hadoop_path(leftover), True)
    return True

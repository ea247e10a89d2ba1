"""The benchmark's workloads: inputs, the timed call into the program, the
output check, and a traced variant that materializes every layer boundary.

Every workload is a closed loop with one client: the next run starts only
after the previous one has returned and been checked.

- wgs_hotspot: a genome run as the paper runs it. The sample's gzipped
  FASTQ chunks (one of them corrupt) go through
  `sources.fastq.read_fastq_chunks` and `sinks.checkpoint_parquet`, with
  per-chunk counts collected; then `plans.pipeline.genomics_pipeline`
  (map -> load balance -> call + merge) is written as one ordered VCF by
  `sinks.write_single_file_ordered`. 30% of the reads sit in three
  planted (chr, reg) bins, so `operators.skew` splits three keys into 96
  groups. The hot bins make no straggler at this size (see gen.py); what
  load-balancing work changes here is the cost of the skew pre-pass and
  of the split groups.
- region_queries: six JVM-only registry queries, each collected. No Python
  stage, skew pre-pass or FASTQ parsing runs, so changes to those layers
  must read "no change" here; scan, shuffle, windows and the range join
  carry it.
- wgs_uniform (not in BENCHMARK.json; see CHANGES.md): wgs_hotspot on
  uniform coverage, where the skew pre-pass runs but splits nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from tracing import Tracer, max_over_median, self_seconds

N_READS = 600_000  # the size of the sf0.1 test data the plans were tuned on
# half that for the query mix, so a benchmark run of it, set-up included,
# lasts about a minute on 4 vCPUs like the pipeline's
REGION_READS = 300_000
FASTQ_CHUNKS = 16  # one of them truncated; each holds n_reads / 30 reads
VCF_ORDER = ["chr_index", "pos"]
MIX = (
    "flagship_region_stats",
    "p2_interval_coalesce",
    "j_range_exome_overlap",
    "o_global_sort_vcf",
    "a_dedup_keep_best",
    "p2_skew_detect",
)
TABLES = ("lineitem", "nation", "region", "part", "orders")

# every per-layer metric, reported on every workload (0 where the layer
# does no work) so workloads can be compared side by side
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.rows_in": "count",
    "sources.input_bytes": "bytes",
    "filters.keep_frac": "ratio",
    "binning.self_s": "s",
    "binning.rows_out": "count",
    "skew.self_s": "s",
    "skew.heavy_keys": "count",
    "skew.groups": "count",
    "skew.max_over_mean_group_rows": "ratio",
    "transform.self_s": "s",
    "transform.groups": "count",
    "transform.rows_in": "count",
    "transform.rows_out": "count",
    "transform.task_max_over_median": "ratio",
    "pipeline.merge_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "windows.coalesce_s": "s",
    "windows.global_rank_s": "s",
    "joins.range_join_s": "s",
    "joins.pairs_out": "count",
    **{f"query.{q}_s": "s" for q in MIX},
    "fastq.parse_s": "s",
    "fastq.chunks": "count",
    "fastq.reads": "count",
    "fastq.bad_chunks_skipped": "count",
    "cache.release_s": "s",
    "cache.tracked": "count",
    "jvm.heap_live_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}

# span name -> self-time metric it feeds
SPAN_METRICS = {
    "sources.scan": "sources.scan_s",
    "binning": "binning.self_s",
    "skew": "skew.self_s",
    "transform": "transform.self_s",
    "pipeline.merge": "pipeline.merge_s",
    "sinks.write": "sinks.write_s",
    "windows.coalesce": "windows.coalesce_s",
    "windows.global_rank": "windows.global_rank_s",
    "joins.range_join": "joins.range_join_s",
    "fastq.parse": "fastq.parse_s",
    "cache.release": "cache.release_s",
    **{f"query.{q}": f"query.{q}_s" for q in MIX},
}


def digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns by name, integers as
    int64, floats as float64 (exact bits), everything else as text."""
    cols = sorted(df.columns)
    canon = {}
    for c in cols:
        s = df[c]
        if s.dtype.kind in "iub":
            s = s.astype("int64")
        elif s.dtype.kind == "f":
            s = s.astype("float64")
        else:
            s = s.astype(str)
        canon[c] = s.to_numpy()
    d = pd.DataFrame(canon, columns=cols)
    d = d.sort_values(cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256("|".join(cols).encode())
    h.update(pd.util.hash_pandas_object(d, index=False).to_numpy().tobytes())
    return f"{len(d)}:{h.hexdigest()[:20]}"


def oracle_digest(data_dir: str, sql: str) -> str:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        return digest(con.execute(sql).df())
    finally:
        con.close()


def part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if not f.startswith(("_", "."))
    )


def check_vcf(path: str, expected: str) -> str | None:
    """None if the VCF at `path` is one part file, in (chr_index, pos)
    order, and matches the oracle digest; otherwise what is wrong."""
    files = part_files(path)
    if len(files) != 1:
        return f"{len(files)} part files, not one combined VCF"
    df = pq.read_table(files[0]).to_pandas()
    c, p = df["chr_index"].to_numpy(), df["pos"].to_numpy()
    ordered = (c[1:] > c[:-1]) | ((c[1:] == c[:-1]) & (p[1:] >= p[:-1]))
    if not ordered.all():
        return f"out of (chr_index, pos) order at row {int(np.argmin(ordered)) + 1}"
    got = digest(df)
    return None if got == expected else f"digest {got} != oracle {expected}"


def sink_size(path: str) -> tuple[int, int]:
    files = part_files(path)
    return sum(os.path.getsize(f) for f in files), len(files)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def heap_live_mb(spark) -> float:
    """The driver heap in use after a full collection: what the session
    holds live (cached blocks, broadcasts, status store), not garbage."""
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def chunk_counts(reads) -> pd.DataFrame:
    """Reads and bases per FASTQ chunk, collected."""
    from pyspark.sql import functions as F

    return reads.groupBy("chunk").agg(
        F.count("*").alias("reads"), F.sum("read_len").alias("bases")
    ).toPandas()


class Workload:
    """prepare() writes the inputs and computes the oracle's answer before
    the session starts, so DuckDB competes with no set-up; run() is the
    timed call; check() verifies a run's result outside the timed window;
    reset() returns the session and sink to the same state before the next
    run; traced() is run() with every layer boundary materialized and
    spanned."""

    tables: tuple[str, ...] = TABLES

    def __init__(self, work_dir: str, seed: int, n_reads: int = N_READS):
        self.data = os.path.join(work_dir, "data")
        self.out = os.path.join(work_dir, "out")
        self.seed = seed
        self.n_reads = n_reads
        self.manifest: dict = {}

    def prepare(self) -> None:
        self.write_inputs()
        self.expected = self.oracle()

    def reset(self) -> None:
        from sparkga1_spark.operators.cache import release_tracked

        release_tracked()
        shutil.rmtree(self.out, ignore_errors=True)

    def input_counts(self, c: dict) -> None:
        c["rows_in"] = sum(self.manifest["rows"][t] for t in self.tables)
        c["input_bytes"] = sum(self.manifest["bytes"][t] for t in self.tables)


class Genomics(Workload):
    """A genome run: the sample's gzipped FASTQ chunks are ingested (parsed,
    checkpointed, counted per chunk), then genomics_pipeline turns its
    alignments into one ordered VCF."""

    tables = ("lineitem", "nation", "region")

    def __init__(self, work_dir: str, seed: int, hotspot: bool, n_reads: int = N_READS):
        super().__init__(work_dir, seed, n_reads)
        self.hotspot = hotspot
        self.fastq = os.path.join(work_dir, "fastq")
        self.reads_out = os.path.join(self.out, "reads")
        self.vcf_out = os.path.join(self.out, "vcf")

    def write_inputs(self) -> None:
        self.manifest = gen.write_tables(self.data, self.seed, self.n_reads, self.hotspot)
        self.chunks = gen.write_fastq(
            self.fastq, self.seed, FASTQ_CHUNKS, self.n_reads // 30
        )

    def oracle(self) -> str:
        from sparkga1_spark.plans.registry import get

        return oracle_digest(self.data, get("pipeline_end_to_end")[1])

    def run(self, spark):
        from sparkga1_spark.plans.pipeline import genomics_pipeline
        from sparkga1_spark.sources.fastq import read_fastq_chunks
        from sparkga1_spark.sources.sinks import checkpoint_parquet, write_single_file_ordered

        counts = chunk_counts(
            checkpoint_parquet(read_fastq_chunks(spark, self.fastq), self.reads_out)
        )
        write_single_file_ordered(
            genomics_pipeline(spark, self.data), self.vcf_out, order_cols=VCF_ORDER
        )
        return counts

    def check(self, result) -> str | None:
        got = {r.chunk: (int(r.reads), int(r.bases)) for r in result.itertuples()}
        if got != self.chunks["expected"]:
            return "per-chunk FASTQ counts differ from the generated ones"
        return check_vcf(self.vcf_out, self.expected)

    def traced(self, spark, tr: Tracer):
        """run()'s calls, one layer at a time, each boundary persisted and
        counted so the next layer starts from its input."""
        from pyspark.sql import functions as F

        from sparkga1_spark.operators import binning, filters, skew
        from sparkga1_spark.operators.cache import release_tracked, tracked_persist
        from sparkga1_spark.operators.transform import apply_per_group
        from sparkga1_spark.plans.pipeline import VARIANT_SCHEMA, call_variants_pdf
        from sparkga1_spark.sources import fixtures
        from sparkga1_spark.sources.catalog import load_table
        from sparkga1_spark.sources.fastq import read_fastq_chunks
        from sparkga1_spark.sources.sinks import checkpoint_parquet, write_single_file_ordered

        keys = ("chr_index", "reg")
        with tr.span("run"):
            with tr.span("fastq.parse") as c:
                reads = tracked_persist(read_fastq_chunks(spark, self.fastq))
                c["reads"] = reads.count()
                c["chunks"] = self.chunks["chunks"]
            c["bad_chunks_skipped"] = (
                c["chunks"] - reads.select("chunk").distinct().count()
            )
            with tr.span("sinks.write") as c:
                ck = checkpoint_parquet(reads, self.reads_out)
                c["bytes_written"], c["files_written"] = sink_size(self.reads_out)
            with tr.span("fastq.collect"):
                counts = chunk_counts(ck)
            with tr.span("sources.scan") as c:
                li = tracked_persist(load_table(spark, self.data, "lineitem"))
                n_li = li.count()
                self.input_counts(c)
            with tr.span("filters") as c:
                al = tracked_persist(filters.filter_unmapped(fixtures.alignments(li)))
                c["keep_frac"] = al.count() / n_li
            with tr.span("binning") as c:
                sd = fixtures.sequence_dict(load_table(spark, self.data, "nation"))
                binned = tracked_persist(binning.bin_by_region(al, sd))
                c["rows_out"] = binned.count()
            with tr.span("skew") as c:
                salted = tracked_persist(skew.salt_by_quantiles(
                    binned.select("chr_index", "reg", "pos", "mapq"),
                    keys=keys, pos_col="pos",
                ))
                n_salted = salted.count()
            groups = salted.groupBy(*keys, "salt").count().toPandas()
            split = groups.groupby(list(keys))["salt"].nunique()
            c["heavy_keys"] = int((split > 1).sum())
            c["groups"] = len(groups)
            c["max_over_mean_group_rows"] = float(
                groups["count"].max() / groups["count"].mean()
            )
            with tr.span("transform") as c:
                called = tracked_persist(apply_per_group(
                    salted, keys=(*keys, "salt"), fn=call_variants_pdf,
                    schema=VARIANT_SCHEMA,
                ))
                c["rows_out"] = called.count()
                c["rows_in"] = n_salted
                c["groups"] = len(groups)
            with tr.span("pipeline.merge"):
                # genomics_pipeline's header rows, union, distinct and sort
                header = load_table(spark, self.data, "region").select(
                    F.lit(-1).alias("chr_index"),
                    F.lit(-1).alias("reg"),
                    F.col("r_regionkey").cast("int").alias("pos"),
                    F.lit(0).cast("long").alias("depth"),
                    F.lit(0.0).alias("avg_mapq"),
                )
                merged = tracked_persist(
                    header.unionByName(called).distinct().orderBy(*VCF_ORDER)
                )
                merged.count()
            with tr.span("sinks.write") as c:
                write_single_file_ordered(merged, self.vcf_out, order_cols=VCF_ORDER)
                c["bytes_written"], c["files_written"] = sink_size(self.vcf_out)
            with tr.span("jvm") as c:
                c["heap_live_mb"] = heap_live_mb(spark)
            with tr.span("cache.release") as c:
                c["tracked"] = release_tracked()
        return counts


class RegionQueries(Workload):
    def __init__(self, work_dir: str, seed: int, n_reads: int = REGION_READS):
        super().__init__(work_dir, seed, n_reads)

    def write_inputs(self) -> None:
        self.manifest = gen.write_tables(self.data, self.seed, self.n_reads, False)

    def oracle(self) -> dict[str, str]:
        from sparkga1_spark.plans.registry import get

        return {q: oracle_digest(self.data, get(q)[1]) for q in MIX}

    def run(self, spark):
        from sparkga1_spark.plans.registry import get

        return {q: get(q)[0](spark, self.data).toPandas() for q in MIX}

    def check(self, result) -> str | None:
        bad = [q for q in MIX if digest(result[q]) != self.expected[q]]
        return f"oracle mismatch: {bad}" if bad else None

    def traced(self, spark, tr: Tracer):
        """Each query as run() calls it, plus the scan, filter, bin,
        windows and range-join layers called directly on persisted inputs."""
        from sparkga1_spark.operators import binning, filters, joins, windows
        from sparkga1_spark.operators.cache import release_tracked, tracked_persist
        from sparkga1_spark.plans.registry import get
        from sparkga1_spark.sources import fixtures
        from sparkga1_spark.sources.catalog import load_table

        out = {}
        with tr.span("run"):
            with tr.span("sources.scan") as c:
                li, part, orders = (
                    tracked_persist(load_table(spark, self.data, t))
                    for t in ("lineitem", "part", "orders")
                )
                n_li = li.count()
                part.count()
                orders.count()
                self.input_counts(c)
            with tr.span("filters") as c:
                al_all = tracked_persist(fixtures.alignments(li))
                al = filters.filter_unmapped(al_all)
                c["keep_frac"] = al.count() / n_li
            with tr.span("binning") as c:
                sd = fixtures.sequence_dict(load_table(spark, self.data, "nation"))
                c["rows_out"] = tracked_persist(binning.bin_by_region(al, sd)).count()
            with tr.span("windows.coalesce"):
                noop_write(windows.coalesce_intervals(
                    al_all, partition_cols=("chr_index",), slack=51
                ))
            with tr.span("joins.range_join") as c:
                ivl = filters.fix_intervals(fixtures.exome_intervals(part))
                c["pairs_out"] = joins.interval_overlap_join(
                    al_all, ivl, broadcast_intervals=True
                ).count()
            with tr.span("windows.global_rank"):
                vcf = fixtures.variants(orders).select("chr_index", "pos", "id")
                noop_write(windows.global_rank(vcf, order_cols=["chr_index", "pos", "id"]))
            for q in MIX:
                with tr.span(f"query.{q}"):
                    out[q] = get(q)[0](spark, self.data).toPandas()
            with tr.span("jvm") as c:
                c["heap_live_mb"] = heap_live_mb(spark)
            with tr.span("cache.release") as c:
                c["tracked"] = release_tracked()
        return out


WORKLOADS = {
    "wgs_hotspot": lambda d, s, **kw: Genomics(d, s, hotspot=True, **kw),
    "wgs_uniform": lambda d, s, **kw: Genomics(d, s, hotspot=False, **kw),
    "region_queries": RegionQueries,
}


def layer_metrics(tr: Tracer, run_id: str) -> dict[str, float]:
    """Per-layer metrics of one traced run, from its spans and from the
    Spark stages its spans started."""
    spans = tr.run_spans(run_id)
    m = {name: 0.0 for name in LAYER_METRICS}
    for span, metric in SPAN_METRICS.items():
        m[metric] = self_seconds(spans, span)
    for s in spans:  # counts of same-named spans add up (two sinks.write)
        for k, v in s["counts"].items():
            key = f"{s['name'].split('.')[0]}.{k}"
            if key in m:
                m[key] += float(v)
    stages = tr.stage_stats(spans)
    m["spark.jobs"] = float(len({st["job"] for st in stages}))
    m["spark.stages"] = float(len(stages))
    m["spark.tasks"] = float(sum(st["tasks"] for st in stages))
    m["spark.shuffle_write_bytes"] = float(sum(st["shuffle_write_bytes"] for st in stages))
    transform = [st for st in stages if st["span"] == "transform"]
    if transform:
        busiest = max(transform, key=lambda st: st["executor_run_s"])
        m["transform.task_max_over_median"] = max_over_median(busiest["task_s"])
    return m

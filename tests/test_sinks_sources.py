"""Sinks (S-4/S-6/S-7), alternate source formats (S-1 generalization),
and observe() metrics (A-6/I-5)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import Observation, functions as F


def test_partitioned_sorted_sink(spark, sf_dir, tmp_path):
    from sparkga1_spark.operators import binning
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import write_partitioned_sorted

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(al, sd).select("chr_index", "reg", "pos", "read_name")
    out = str(tmp_path / "regions")
    write_partitioned_sorted(
        binned, out, partition_cols=["chr_index"], sort_cols=["pos", "read_name"]
    )
    # partition directories exist
    dirs = sorted(glob.glob(os.path.join(out, "chr_index=*")))
    assert len(dirs) == 25
    # every file is internally sorted by pos
    for d in dirs[:3]:
        for f in glob.glob(os.path.join(d, "*.parquet")):
            pos = [r.pos for r in spark.read.parquet(f).select("pos").collect()]
            assert pos == sorted(pos), f"{f} not sorted"
    # round trip preserves rows
    assert spark.read.parquet(out).count() == binned.count()


def test_single_file_ordered_sink(spark, sf_dir, tmp_path):
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import write_single_file_ordered

    va = fixtures.variants(load_table(spark, sf_dir, "orders"))
    out = str(tmp_path / "combined_vcf")
    write_single_file_ordered(va, out, order_cols=["chr_index", "pos", "id"])
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) == 1, "expected exactly one data file"
    rows = spark.read.parquet(files[0]).collect()
    keys = [(r.chr_index, r.pos, r.id) for r in rows]
    assert keys == sorted(keys), "global order not preserved in the single file"
    assert len(rows) == va.count()

    # rows spread over several partitions, each in reverse key order,
    # some with a null key: one file, same rows and order as orderBy
    # (nulls first)
    rev = spark.range(0, 600, numPartitions=4).select(
        F.when(F.col("id") % 17 == 0, F.lit(None))
        .otherwise(((599 - F.col("id")) / 7).cast("int"))
        .alias("k"),
        (599 - F.col("id")).cast("int").alias("p"),
    )
    order = ["k", "p"]
    out = str(tmp_path / "reversed")
    write_single_file_ordered(rev, out, order_cols=order)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) == 1
    got = spark.read.parquet(files[0]).collect()
    assert got == rev.orderBy(*order).collect()
    assert got[0].k is None


def test_single_file_sink_runs_upstream_once(spark, tmp_path):
    """The sink adds one single-partition exchange and no range sample
    job, so a Python stage beneath it runs once per write: the same
    number of caller invocations as a write that funnels nothing."""
    from sparkga1_spark.operators.transform import apply_per_group
    from sparkga1_spark.plans.pipeline import VARIANT_SCHEMA, call_variants_pdf
    from sparkga1_spark.sources.sinks import write_single_file_ordered

    calls = spark.sparkContext.accumulator(0)

    def counted(pdf):
        calls.add(1)
        return call_variants_pdf(pdf)

    reads = spark.range(20_000).select(
        (F.col("id") % 3).cast("int").alias("chr_index"),
        (F.col("id") % 5).cast("int").alias("reg"),
        ((F.col("id") * 7919) % 4_000).cast("int").alias("pos"),
        (F.col("id") % 61).cast("int").alias("mapq"),
    )
    called = apply_per_group(
        reads, keys=("chr_index", "reg"), fn=counted,
        schema=VARIANT_SCHEMA, split_on="pos",
    )
    called.write.format("noop").mode("overwrite").save()
    noop_calls, calls.value = calls.value, 0
    write_single_file_ordered(
        called, str(tmp_path / "vcf"), order_cols=["chr_index", "pos"]
    )
    assert noop_calls > 0
    assert calls.value == noop_calls


def test_checkpoint_parquet_cuts_lineage(spark, sf_dir, tmp_path):
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import checkpoint_parquet

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    path = str(tmp_path / "ck")
    ck = checkpoint_parquet(al, path)
    assert ck.count() == al.count()
    # fresh scan: the plan must be a bare parquet read, not the derivation
    assert "lineitem" not in ck._jdf.queryExecution().executedPlan().toString()
    # the read-back passes the written schema instead of inferring it;
    # it must be the schema inference would have found
    assert ck.schema == spark.read.parquet(path).schema


def test_alternate_formats_roundtrip(spark, sf_dir, tmp_path):
    """S-1 generalization: the engine reads csv/json/orc with explicit
    schemas (no inference in production paths)."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
        .limit(1000)
    )
    expected = li.agg(F.sum("l_quantity")).collect()[0][0]
    for fmt in ("csv", "json", "orc"):
        path = str(tmp_path / fmt)
        w = li.write.mode("overwrite")
        (w.option("header", True).csv(path) if fmt == "csv" else getattr(w, fmt)(path))
        r = spark.read.schema(li.schema)
        df = (
            r.option("header", True).csv(path) if fmt == "csv" else getattr(r, fmt)(path)
        )
        assert df.count() == 1000, fmt
        got = df.agg(F.sum("l_quantity")).collect()[0][0]
        assert abs(got - expected) < 1e-6, fmt


def test_observe_metrics(spark, sf_dir):
    """A-6/I-5: the reference's bad-line/exit-code counters
    (SamRegionsParser.scala:71-74, SparkGA1.scala:1221-1235) become
    observe() metrics collected without a second pass."""
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    obs = Observation("ingest")
    observed = al.observe(
        obs,
        F.count("*").alias("n_rows"),
        F.sum((F.col("flags").bitwiseAND(4) != 0).cast("long")).alias("n_unmapped"),
        F.max("pos").alias("max_pos"),
    )
    total = observed.count()
    metrics = obs.get
    assert metrics["n_rows"] == total
    assert 0 < metrics["n_unmapped"] < total
    assert metrics["max_pos"] <= 1_000_000


def test_pipeline_to_sinks_end_to_end(spark, sf_dir, tmp_path):
    """The complete reference flow with real file outputs: pipeline ->
    per-region sorted partitioned sink (S-6 analog) + single ordered
    'combined VCF' (S-7), read back and validated."""
    from sparkga1_spark.plans.pipeline import genomics_pipeline
    from sparkga1_spark.sources.sinks import (
        write_partitioned_sorted,
        write_single_file_ordered,
    )
    import glob
    import os

    result = genomics_pipeline(spark, sf_dir)
    n = result.count()
    regions_out = str(tmp_path / "regions")
    combined_out = str(tmp_path / "combined")
    body = result.filter(F.col("chr_index") >= 0)
    write_partitioned_sorted(
        body, regions_out, partition_cols=["chr_index"], sort_cols=["pos"]
    )
    write_single_file_ordered(
        result, combined_out, order_cols=["chr_index", "pos"]
    )
    # the written plan keeps exactly one range exchange, the one feeding
    # the variant caller: the pipeline's orderBy is dropped beneath the
    # sink's single-partition exchange
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    graph = store.planGraph(executions.apply(executions.size() - 1).executionId())
    nodes = [graph.allNodes().apply(i) for i in range(graph.allNodes().size())]
    parent = {
        e.fromId(): e.toId()
        for e in (graph.edges().apply(i) for i in range(graph.edges().size()))
    }
    name = {n.id(): n.name() for n in nodes}
    assert any(n.name() == "Execute InsertIntoHadoopFsRelationCommand" for n in nodes)
    ranged = [n.id() for n in nodes if n.desc().startswith("Exchange rangepartitioning")]
    assert len(ranged) == 1
    above, node = [], ranged[0]
    while node in parent:
        node = parent[node]
        above.append(name[node])
    assert "MapInPandas" in above
    # partitioned sink: all body rows present, partition dirs exist
    assert spark.read.parquet(regions_out).count() == body.count()
    assert glob.glob(os.path.join(regions_out, "chr_index=*"))
    # combined sink: ONE file, globally ordered, headers (chr -1) first
    files = glob.glob(os.path.join(combined_out, "*.parquet"))
    assert len(files) == 1
    rows = spark.read.parquet(files[0]).collect()
    assert len(rows) == n
    keys = [(r.chr_index, r.pos) for r in rows]
    assert keys == sorted(keys)
    assert rows[0].chr_index == -1, "header rows must sort first"


def test_lakehouse_connectors_gated(spark):
    """Delta/Iceberg jars are absent in this image: the connector layer
    must fail with an actionable NotImplementedError, not a Py4J stack."""
    import pytest as _pytest

    from sparkga1_spark.sources.connectors import read_table

    with _pytest.raises(NotImplementedError, match="delta"):
        read_table(spark, "delta", "/tmp/nope")
    # avro is Spark's external built-in: same guard applies in this image
    with _pytest.raises(NotImplementedError, match="avro"):
        read_table(spark, "avro", "/tmp/nope")


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located join: two tables bucketed by the join key must join
    with no Exchange on either side (the write-time pre-shuffle)."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        write_bucketed_table(li, "b_lineitem", bucket_cols=["l_orderkey"], n_buckets=8)
        write_bucketed_table(od, "b_orders", bucket_cols=["o_orderkey"], n_buckets=8)
        bl = spark.table("b_lineitem")
        bo = spark.table("b_orders")
        # disable broadcast so the join strategy decision is about exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_fastq_chunk_reader(spark, tmp_path):
    """The reference's real ingestion path: gzipped FASTQ chunk files ->
    typed reads DataFrame (whole-file text source, records built with
    array functions; gunzip = X-6 by the Hadoop codec)."""
    import gzip as _gzip

    from sparkga1_spark.sources.fastq import read_fastq_chunks

    def fastq(reads):
        return "\n".join(
            f"@{name}\n{seq}\n+\n{'I' * len(seq)}" for name, seq in reads
        ) + "\n"

    d = tmp_path / "chunks"
    d.mkdir()
    (d / "c1.fq").write_text(fastq([("r1/1", "ACGT"), ("r1/2", "GGCC"), ("r2/1", "TTAA")]))
    malformed = "no-at-prefix\nXX\n+\nII\n"  # record missing the '@' marker
    (d / "c2.fq.gz").write_bytes(
        _gzip.compress((fastq([("r3/1", "ACGTACGT")]) + malformed).encode())
    )
    # the malformed record (no @) must be dropped, not fatal
    reads = read_fastq_chunks(spark, str(d))
    rows = {(r.chunk, r.read_name, r.sequence, r.read_len) for r in reads.collect()}
    assert ("c1.fq", "r1/1", "ACGT", 4) in rows
    assert ("c2.fq.gz", "r3/1", "ACGTACGT", 8) in rows
    assert len(rows) == 4  # 3 from c1 + 1 valid from gz chunk
    # paired reads share a stem — the interleave join key (S-3)
    stems = [r.read_name.split("/")[0] for r in reads.collect()]
    assert stems.count("r1") == 2


def test_fastq_reader_matches_reference_parser(spark, tmp_path):
    """read_fastq_chunks gives, file by file, exactly the rows of the
    pure-Python parse_fastq_bytes: on good gzipped chunks, a truncated
    one, a bit-flipped one, a plain .fq and a chunk with malformed
    records in the middle. The same job counts the two skipped chunks
    and the two malformed records; its plan runs no Python and splits
    each chunk into lines once."""
    import gzip
    import random

    from sparkga1_spark.sources.fastq import parse_fastq_bytes, read_fastq_chunks

    rng = random.Random(7)

    def chunk(c: int, n: int) -> bytes:
        recs = []
        for i in range(n):
            seq = "".join(rng.choice("ACGT") for _ in range(rng.randint(20, 60)))
            qual = "".join(chr(rng.randint(33, 74)) for _ in seq)
            recs.append(f"@c{c}_r{i}\n{seq}\n+\n{qual}\n")
        return "".join(recs).encode()

    d = tmp_path / "chunks"
    d.mkdir()
    for c in range(3):
        (d / f"chunk_{c}.fq.gz").write_bytes(gzip.compress(chunk(c, 200), mtime=0))
    whole = gzip.compress(chunk(3, 200), mtime=0)
    (d / "truncated.fq.gz").write_bytes(whole[: len(whole) // 2])
    good = gzip.compress(chunk(4, 50), mtime=0)
    mid = 10 + (len(good) - 18) // 2  # inside the deflate body
    (d / "flipped.fq.gz").write_bytes(good[:mid] + bytes([good[mid] ^ 0xFF]) + good[mid + 1:])
    (d / "plain.fq").write_bytes(chunk(5, 30))
    lines = chunk(6, 40).split(b"\n")
    lines[4 * 10] = b"not-a-name"  # record 10 lacks its '@'
    lines[4 * 20 + 2] = b"-"  # record 20 lacks its '+'
    (d / "malformed.fq.gz").write_bytes(gzip.compress(b"\n".join(lines), mtime=0))

    files = sorted(os.listdir(d))
    expected = {
        name: parse_fastq_bytes((d / name).read_bytes(), name) for name in files
    }
    assert len(expected["truncated.fq.gz"]) == len(expected["flipped.fq.gz"]) == 0
    assert len(expected["malformed.fq.gz"]) == 38

    plan = read_fastq_chunks(spark, str(d))._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # each chunk is split into lines once, not once per record
    assert plan.count("split(") == 1, plan
    obs = Observation("fastq")
    reads = read_fastq_chunks(spark, str(d), obs)
    got = reads.toPandas()
    cols = list(got.columns)
    for name in files:
        want = [tuple(r) for r in expected[name][cols].itertuples(index=False)]
        have = sorted(
            tuple(r) for r in got[got["chunk"] == name].itertuples(index=False)
        )
        assert have == want, name
    assert len(got) == sum(len(e) for e in expected.values()) == 3 * 200 + 30 + 38
    assert obs.get == {"bad_chunks_skipped": 2, "malformed_records": 2}


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    """50 tiny files in, size-targeted few files out, data identical;
    sort_cols restore within-file clustering on the compacted output."""
    from pathlib import Path

    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import compact_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    frag = str(tmp_path / "frag")
    li.repartition(50).write.parquet(frag)
    assert len(list(Path(frag).glob("part-*.parquet"))) == 50

    out = str(tmp_path / "compact")
    n = compact_parquet(
        spark, frag, out, target_file_mb=1, sort_cols=["l_orderkey"]
    )
    files = list(Path(out).glob("part-*.parquet"))
    assert len(files) == n < 50
    a = {tuple(r) for r in spark.read.parquet(out).collect()}
    b = {tuple(r) for r in li.collect()}
    assert a == b
    # clustering: each output file's orderkeys are sorted
    for f in files:
        ks = [r.l_orderkey for r in spark.read.parquet(str(f)).collect()]
        assert ks == sorted(ks)


def test_upsert_parquet_merge_semantics(spark, sf_dir, tmp_path):
    """updates win on key match, inserts land, untouched rows survive,
    and the table stays readable after the in-place rewrite."""
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import upsert_parquet

    base_path = str(tmp_path / "tbl")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    na.write.parquet(base_path)

    updates = spark.createDataFrame(
        [(0, "RENAMED_0"), (1, "RENAMED_1"), (9999, "BRAND_NEW")],
        "n_nationkey int, n_name string",
    )
    upsert_parquet(spark, base_path, updates, keys=["n_nationkey"])
    got = {r.n_nationkey: r.n_name for r in spark.read.parquet(base_path).collect()}
    assert got[0] == "RENAMED_0" and got[1] == "RENAMED_1"
    assert got[9999] == "BRAND_NEW"
    assert len(got) == na.count() + 1  # all untouched keys survived
    want_2 = na.filter("n_nationkey = 2").collect()[0].n_name
    assert got[2] == want_2
    # no temp/old dirs left behind by the rename swap
    leftovers = [p for p in tmp_path.iterdir() if "__tmp_" in p.name or "__old_" in p.name]
    assert leftovers == []


def test_upsert_parquet_crash_in_phase1_leaves_base_intact(spark, sf_dir, tmp_path):
    """A failure during the expensive merged-result write (phase 1) must
    leave the base table byte-identical and readable — the commit is
    rename-swap, not overwrite-in-place (ADVICE r2)."""
    import pyspark.sql.functions as F
    import pytest

    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import upsert_parquet

    base_path = str(tmp_path / "tbl")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    na.write.parquet(base_path)
    before = {tuple(r) for r in spark.read.parquet(base_path).collect()}

    # updates whose evaluation throws mid-write: the phase-1 job fails
    bad = spark.createDataFrame([(0,)], "n_nationkey int").select(
        "n_nationkey",
        F.assert_true(F.lit(False), F.lit("simulated crash")).cast("string").alias("n_name"),
    )
    with pytest.raises(Exception):
        upsert_parquet(spark, base_path, bad, keys=["n_nationkey"])
    after = {tuple(r) for r in spark.read.parquet(base_path).collect()}
    assert after == before


def test_merge_upsert_duplicate_update_keys(spark):
    """Documented contract: duplicate-keyed updates all land by default;
    validate_unique=True raises like SQL MERGE's multiple-match error."""
    import pytest

    from sparkga1_spark.sources.sinks import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    out = merge_upsert(base, dup, keys=["k"]).collect()
    assert sorted((r.k, r.v) for r in out) == [(1, "x"), (1, "y"), (2, "b")]
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(base, dup, keys=["k"], validate_unique=True)


def test_curation_write_partitions_and_clustering(spark, sf_dir, tmp_path):
    """The curation sink leg must produce one directory per split with
    doc_id-clustered files (row-group pruning depends on it), and the
    written rows must round-trip exactly."""
    from pathlib import Path

    from sparkga1_spark.plans.queries import _curation_staged
    from sparkga1_spark.sources.sinks import write_partitioned_sorted

    staged = _curation_staged(spark, sf_dir)
    out = tmp_path / "curated"
    write_partitioned_sorted(
        staged, str(out), partition_cols=["split"], sort_cols=["doc_id"]
    )
    dirs = {p.name for p in out.iterdir() if p.is_dir()}
    assert dirs <= {"split=train", "split=val", "split=test"} and "split=train" in dirs
    for d in dirs:
        for f in (out / d).glob("*.parquet"):
            ids = [r.doc_id for r in spark.read.parquet(str(f)).collect()]
            assert ids == sorted(ids), f"{d}/{f.name} not doc_id-clustered"
    back = spark.read.parquet(str(out)).select("doc_id", "split")
    a = {(r.doc_id, r.split) for r in back.collect()}
    b = {(r.doc_id, r.split) for r in staged.select("doc_id", "split").collect()}
    assert a == b


def test_read_evolving_parquet_merges_schemas(spark, tmp_path):
    """Two generations of writers: v1 has (k, a); v2 adds column b.
    mergeSchema must surface the union schema with nulls for the old
    files — and the default single-footer read is allowed to miss b,
    which is exactly why read_evolving_parquet exists."""
    from sparkga1_spark.sources.catalog import read_evolving_parquet

    path = str(tmp_path / "evolving")
    spark.range(3).selectExpr("id AS k", "id * 2 AS a").write.parquet(path)
    spark.range(3, 5).selectExpr(
        "id AS k", "id * 2 AS a", "id * 10 AS b"
    ).write.mode("append").parquet(path)

    df = read_evolving_parquet(spark, path)
    assert {f.name for f in df.schema.fields} == {"k", "a", "b"}
    rows = {r.k: (r.a, r.b) for r in df.collect()}
    assert rows[4] == (8, 40)
    assert rows[0] == (0, None)  # old files null-fill the new column
    assert len(rows) == 5

"""Operator-level invariants not covered by the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F


def _alignments(spark, sf_dir):
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    return fixtures.alignments(load_table(spark, sf_dir, "lineitem"))


def test_range_join_bin_width_invariance(spark, sf_dir):
    """The bin-bucket rewrite must give identical results for any bin
    width and either join strategy (the correctness core of J-2)."""
    from sparkga1_spark.operators.filters import fix_intervals
    from sparkga1_spark.operators.joins import interval_overlap_join
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    al = _alignments(spark, sf_dir)
    ivl = fix_intervals(fixtures.exome_intervals(load_table(spark, sf_dir, "part")))
    ref = interval_overlap_join(al, ivl, bin_width=10_000, broadcast_intervals=True)
    ref_n = ref.count()
    assert ref_n > 0
    for bw, bc in [(997, False), (1_000_000, True)]:
        n = interval_overlap_join(al, ivl, bin_width=bw, broadcast_intervals=bc).count()
        assert n == ref_n, f"bin_width={bw} broadcast={bc}: {n} != {ref_n}"


def test_salt_by_quantiles_splits_heavy_keys(spark, sf_dir):
    from sparkga1_spark.operators.skew import salt_by_quantiles

    # collapse chromosomes 0..19 into one hot key (~80% of all rows) so
    # the skew rule (count > skew_factor × avg) actually fires
    al = _alignments(spark, sf_dir).withColumn(
        "hot",
        F.when(F.col("chr_index") < 20, F.lit(0)).otherwise(F.col("chr_index")),
    )
    salted = salt_by_quantiles(al, keys=["hot"], pos_col="pos", regions_factor=4.0)
    stats = (
        salted.groupBy("hot", "salt").agg(F.count("*").alias("n")).collect()
    )
    # every row keeps exactly one salt, no rows lost
    assert sum(r.n for r in stats) == al.count()
    n_buckets = len({(r.hot, r.salt) for r in stats})
    assert n_buckets > 2, "heavy keys were not split"
    # equal-frequency: largest bucket within 3x of smallest per key
    by_key = {}
    for r in stats:
        by_key.setdefault(r.hot, []).append(r.n)
    for key, ns in by_key.items():
        assert max(ns) <= 3 * min(ns) + 50, f"key {key} buckets skewed: {ns}"


def _per_region_call(binned):
    """Spark's own per-group contract for the variant caller: one
    `applyInPandas` call per whole (chr_index, reg) region."""
    from sparkga1_spark.plans.pipeline import VARIANT_SCHEMA, call_variants_pdf

    return (
        binned.select("chr_index", "reg", "pos", "mapq")
        .groupBy("chr_index", "reg")
        .applyInPandas(call_variants_pdf, schema=VARIANT_SCHEMA)
    )


def test_salting_preserves_group_transform_results(spark, sf_dir):
    """The range-split variant call must equal one applyInPandas call
    per whole region (a position-local transform distributes over
    position splits)."""
    from sparkga1_spark.operators import binning, filters
    from sparkga1_spark.plans.pipeline import variant_call_stage
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    al = filters.filter_unmapped(_alignments(spark, sf_dir))
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(al, sd)
    whole = {tuple(r) for r in _per_region_call(binned).collect()}
    split = {tuple(r) for r in variant_call_stage(binned).collect()}
    assert split == whole


def test_range_split_spreads_hot_region_over_tasks(spark):
    """One (chr_index, reg) holding 60% of the rows, more than 1/n of
    them for n shuffle partitions: the range exchange must call it in
    several tasks, at position boundaries, and the result must equal
    one applyInPandas call per whole region, row for row."""
    from sparkga1_spark.plans.pipeline import variant_call_stage

    hot = F.col("id") % 10 < 6
    binned = spark.range(12_000).select(
        F.when(hot, 1).otherwise(F.col("id") % 5 + 2).cast("int").alias("chr_index"),
        F.when(hot, 0).otherwise(F.col("id") % 3).cast("int").alias("reg"),
        (F.col("id") % 997).cast("int").alias("pos"),
        (F.col("id") % 61).cast("int").alias("mapq"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        split = variant_call_stage(binned)
        whole = _per_region_call(binned)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    tasks = (
        split.filter((F.col("chr_index") == 1) & (F.col("reg") == 0))
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert tasks >= 2, "the hot region was called in one task"
    assert sorted(map(tuple, split.collect())) == sorted(map(tuple, whole.collect()))


def test_driver_heap_default_fits_host(spark, monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half the host's
    memory at most (1g-16g), not a fixed size larger than the host;
    without SPARK_GRAFT_CPUS the shuffle partitions are one per CPU this
    process may run on, not a fixed count."""
    import os

    from sparkga1_spark.session import _default_driver_memory, get_spark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = int(_default_driver_memory().removesuffix("g"))
    assert 1 <= gib <= 16
    assert gib == 1 or gib * 2**30 <= ram / 2
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        get_spark()
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            len(os.sched_getaffinity(0))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_coalesce_intervals_zero_slack_and_containment(spark, sf_dir):
    from sparkga1_spark.operators.windows import coalesce_intervals

    al = _alignments(spark, sf_dir)
    islands = coalesce_intervals(
        al, partition_cols=("chr_index",), slack=0, order_tiebreak=("read_name",)
    ).collect()
    # islands within a chr must be disjoint and ordered
    by_chr = {}
    for r in islands:
        by_chr.setdefault(r.chr_index, []).append((r.island_start, r.island_end))
    for chr_i, iv in by_chr.items():
        iv.sort()
        for (s1, e1), (s2, e2) in zip(iv, iv[1:]):
            assert s2 > e1, f"chr {chr_i}: islands overlap ({e1} >= {s2})"
    n_records = sum(r.n_records for r in islands)
    assert n_records == al.count()


def test_interval_coalesce_tiebreak_free_equivalence(spark, sf_dir):
    """r13: p2_interval_coalesce dropped the read_name window tiebreak
    (narrower shuffle rows, guide §2.3). The island AGGREGATES are
    tie-order-invariant — rows tied on (pos, end_pos) are
    indistinguishable to prev_max / island membership / min / max /
    count — so both forms must agree exactly on the live fixture."""
    from sparkga1_spark.operators.windows import coalesce_intervals

    al = _alignments(spark, sf_dir)
    with_tb = sorted(
        tuple(r)
        for r in coalesce_intervals(
            al, partition_cols=("chr_index",), slack=51,
            order_tiebreak=("read_name",),
        ).select("chr_index", "island_start", "island_end", "n_records").collect()
    )
    without = sorted(
        tuple(r)
        for r in coalesce_intervals(
            al, partition_cols=("chr_index",), slack=51
        ).select("chr_index", "island_start", "island_end", "n_records").collect()
    )
    assert with_tb == without
    assert len(without) > 0


def test_equal_freq_buckets_tiebreak_free_equivalence(spark, sf_dir):
    """r13: p2_equal_freq_buckets dropped the read_name ntile tiebreak
    — bucket sizes are fixed by counts and tied-pos rows are
    interchangeable for n/lo/hi, so both forms must agree exactly."""
    from sparkga1_spark.operators.windows import equal_frequency_buckets

    al = _alignments(spark, sf_dir)

    def agg(order_cols):
        b = equal_frequency_buckets(
            al,
            partition_cols=("chr_index",),
            order_cols=order_cols,
            n_buckets=8,
        )
        return sorted(
            tuple(r)
            for r in b.groupBy("chr_index", "bucket")
            .agg(
                F.count("*").alias("n"),
                F.min("pos").alias("lo"),
                F.max("pos").alias("hi"),
            )
            .collect()
        )

    assert agg(("pos", "read_name")) == agg(("pos",))


def test_exact_dedup_keeps_min_id(spark, sf_dir):
    from sparkga1_spark.operators.dedup import exact_dedup
    from sparkga1_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    dup = docs.unionByName(docs)  # every doc twice
    out = exact_dedup(dup, text_col="text", id_col="doc_id")
    n_distinct = docs.select("text").distinct().count()
    assert out.count() == n_distinct
    assert out.agg(F.min("n_copies")).collect()[0][0] >= 2


def test_entry_contract(spark):
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_multimodal_plumbing(spark, sf_dir):
    from sparkga1_spark.operators import multimodal
    from sparkga1_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    meta = multimodal.decode_images(docs)
    assert meta.count() == docs.count()
    assert dict(meta.dtypes)["format"] == "string"
    # frame sampling is a 1->N flatMap bounded by max_frames
    frames = multimodal.sample_frames(docs, max_frames=4)
    per_doc = frames.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert 1 <= per_doc <= 4
    # metadata-only post-processing stays JVM-side on struct columns
    wide = meta.filter(F.col("width") > 320).count()
    assert 0 < wide < meta.count()
    # the resize path is real interpolation over stub-decoded pixels
    # (deep checks live in tests/test_multimodal_bytes.py)
    rs = multimodal.resize_images(docs.limit(5), width=8, height=6)
    rows = rs.collect()
    assert len(rows) == 5
    assert all(len(bytes(r.data)) == 8 * 6 * r.channels for r in rows)


def test_fastq_to_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The COMPLETE reference workflow from raw input: gzipped FASTQ
    chunk files -> parse (S-1/X-6) -> 'aligner' stand-in (X-1, 1->1
    batch transform assigning deterministic coordinates) -> broadcast
    dict join + range bin (J-1/F-7) -> per-region depth calling with
    a range split (X-5/P2-4) -> region stats. Every stage is the real
    operator; only the aligner itself is the deterministic stand-in."""
    import gzip

    import pandas as pd

    from sparkga1_spark.operators import binning
    from sparkga1_spark.plans.pipeline import variant_call_stage
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.fastq import read_fastq_chunks

    # 3 gzipped chunks, 200 reads each
    d = tmp_path / "chunks"
    d.mkdir()
    for c in range(3):
        recs = []
        for i in range(200):
            rid = c * 200 + i
            recs.append(f"@r{rid}\nACGTACGTAC\n+\n{'I' * 10}")
        (d / f"chunk{c}.fq.gz").write_bytes(
            gzip.compress(("\n".join(recs) + "\n").encode())
        )

    reads = read_fastq_chunks(spark, str(d))
    assert reads.count() == 600

    def toy_align(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic coordinates from the read id (bwa stand-in)
        import hashlib

        rows = []
        for name, ln in zip(pdf["read_name"], pdf["read_len"]):
            h = int(hashlib.md5(name.encode()).hexdigest()[:15], 16)
            rows.append((name, int(h % 25), int(h % 999_983 + 1), int(h % 61)))
        return pd.DataFrame(rows, columns=["read_name", "chr_index", "pos", "mapq"])

    aligned = reads.mapInPandas(
        lambda batches: map(toy_align, batches),
        schema="read_name string, chr_index int, pos int, mapq int",
    )
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(aligned, sd)
    called = variant_call_stage(binned)
    stats = binned.groupBy("chr_index").count().collect()
    assert sum(r["count"] for r in stats) == 600
    # the called loci must equal a direct depth>=2 computation
    direct = (
        binned.groupBy("chr_index", "reg", "pos")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert called.count() == direct


def test_sql_surface_over_fixture_views(spark, sf_dir):
    """The spark.sql(...) path: fixture views registered by the catalog
    answer the same question as the DataFrame API (same engine, same
    plans — this pins the SQL surface a reference user would migrate to)."""
    from sparkga1_spark.operators import filters
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table, register_fixture_views

    register_fixture_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT chr_index, count(*) AS n, max(mapq) AS best
        FROM alignments WHERE (flags & 4) = 0 AND attrs['NM'] <= '3'
        GROUP BY chr_index
        """
    )
    al = filters.filter_unmapped(
        fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    ).filter(F.element_at("attrs", F.lit("NM")) <= "3")
    want = al.groupBy("chr_index").agg(
        F.count("*").alias("n"), F.max("mapq").alias("best")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_lpt_assign_matches_reference_greedy(spark, sf_dir):
    """lpt_assign must reproduce the reference's greedy LPT exactly
    (SparkGA1.scala:1153-1162): heaviest-first, least-loaded worker,
    lowest worker id on ties — checked against a pure-Python replay,
    plus the LPT makespan bound (max load <= avg + max weight)."""
    import heapq

    from sparkga1_spark.operators import binning
    from sparkga1_spark.operators.skew import lpt_assign
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    binned = binning.bin_by_region(
        fixtures.alignments(load_table(spark, sf_dir, "lineitem")),
        fixtures.sequence_dict(load_table(spark, sf_dir, "nation")),
    )
    weights = binned.groupBy("chr_index", "reg").agg(F.count("*").alias("n_reads"))
    n_workers = 8
    got = {
        (r.chr_index, r.reg): r.worker_id
        for r in lpt_assign(weights, n_workers=n_workers).collect()
    }

    rows = sorted(
        weights.collect(), key=lambda r: (-r.n_reads, r.chr_index, r.reg)
    )
    heap = [(0, w) for w in range(n_workers)]
    heapq.heapify(heap)
    want, loads = {}, [0] * n_workers
    for r in rows:
        load, w = heapq.heappop(heap)
        want[(r.chr_index, r.reg)] = w
        loads[w] = load + r.n_reads
        heapq.heappush(heap, (loads[w], w))
    assert got == want
    total = sum(r.n_reads for r in rows)
    assert max(loads) <= total / n_workers + max(r.n_reads for r in rows)


def test_sketch_accuracy_bounds(spark, sf_dir):
    """The estimation toolkit a 100 TB engine leans on: HLL++ distinct
    counts (approx_count_distinct) within the configured rsd of exact,
    approx percentiles within the configured accuracy rank error, and
    both deterministic across runs (fixed hash seeds — safe to use in
    repeatable pipelines)."""
    from sparkga1_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")

    def run():
        return li.agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("d_ok"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("d_pk"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
            F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99"),
        ).collect()[0]

    a, b = run(), run()
    assert tuple(a) == tuple(b)  # deterministic sketches

    exact_ok = li.select("l_orderkey").distinct().count()
    exact_pk = li.select("l_partkey").distinct().count()
    assert abs(a.d_ok - exact_ok) / exact_ok < 0.05
    assert abs(a.d_pk - exact_pk) / exact_pk < 0.05

    n = li.count()
    for q, v in ((0.5, a.p50), (0.99, a.p99)):
        rank = li.filter(F.col("l_extendedprice") <= v).count() / n
        assert abs(rank - q) < 0.01, (q, rank)


def test_gapfill_locf_invariants(spark, sf_dir):
    """Gap-fill output must be a DENSE per-user hourly grid (span/3600+1
    rows per user), value_filled never null (first grid hour is observed
    by construction), and was_gap rows exactly complement observed
    hours."""
    from pyspark.sql import functions as F

    from sparkga1_spark.plans.registry import all_queries

    out = all_queries()["x_gapfill_locf"](spark, sf_dir).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, rows in by_user.items():
        hours = sorted(r.hour_start for r in rows)
        assert hours[0] % 3600 == 0
        assert hours == list(range(hours[0], hours[-1] + 1, 3600)), f"user {user} grid not dense"
        assert all(r.value_filled is not None for r in rows), f"user {user} null fill"
        assert rows[0].was_gap in (0, 1)
    # observed hours match the raw table's per-user hour set
    ev = all_queries()["s_tumbling_counts"]  # just to reuse session; compute directly:
    from sparkga1_spark.sources.catalog import load_table

    raw = (
        load_table(spark, sf_dir, "events")
        .select("user_id", (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 3600).alias("hr"))
        .distinct()
        .collect()
    )
    observed = {(r.user_id, r.hr) for r in raw}
    from_out = {(r.user_id, r.hour_start) for r in out if r.was_gap == 0}
    assert from_out == observed


def test_corr_exact_matches_builtin(spark, sf_dir):
    """x_corr_exact must compute the same statistic as Spark's
    built-in corr() (within float tolerance) — the decimal-moment form
    buys determinism, not a different definition."""
    from pyspark.sql import functions as F

    from sparkga1_spark.plans.registry import all_queries
    from sparkga1_spark.sources.catalog import load_table

    got = {
        r.event_type: r.corr_vu
        for r in all_queries()["x_corr_exact"](spark, sf_dir).collect()
    }
    ref = {
        r.event_type: r.c
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.corr("value", "user_id").alias("c"))
        .collect()
    }
    assert set(got) == set(ref) and got
    for k, v in ref.items():
        # the query emits hround(·, 6) values — agree to the half-ulp
        # of that rounding, not float precision
        assert abs(got[k] - v) <= 5.0001e-7, (k, got[k], v)


def test_connected_components_matches_union_find(spark):
    """connected_components must agree with an independent pure-Python
    union-find on a seeded random graph (chains force multi-round
    propagation, not just 1-hop stars)."""
    import random

    from sparkga1_spark.operators.dedup import connected_components

    rng = random.Random(20260813)
    n = 300
    edges = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(220)}
    # a long path component to force label propagation over many rounds
    edges |= {(i, i + 1) for i in range(400, 430)}

    parent = list(range(1000))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e}
    want = {x: find(x) for x in nodes}
    # union-find roots are not guaranteed minimal — normalize to min-id
    groups = {}
    for x, r in want.items():
        groups.setdefault(r, []).append(x)
    want = {x: min(g) for g in groups.values() for x in g}

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r.id: r.comp for r in connected_components(pairs).collect()
    }
    assert got == want


def test_connected_components_empty_pairs(spark):
    from sparkga1_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_temperature_weights_invariants(spark, sf_dir):
    """Temperature weights must (a) sum to 1, (b) boost low-resource
    sources above 1 and the largest source below 1 — the defining
    property of temperature sampling."""
    from sparkga1_spark.plans.registry import all_queries

    rows = all_queries()["x_mix_temperature_weights"](spark, sf_dir).collect()
    assert abs(sum(r.w_temp for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_raw for r in rows) - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.n_toks)
    largest = max(rows, key=lambda r: r.n_toks)
    assert smallest.boost > 1.0 > largest.boost


def test_semdedup_prune_keeps_group_minimum(spark, sf_dir):
    """Greedy pairwise pruning: every vector that is the HIGHER id of a
    near-dup pair is pruned; the lowest id of each connected group (and
    every unpaired vector) survives."""
    from sparkga1_spark.plans.registry import all_queries

    verdict = {
        r["vec_id"]: r["kept"]
        for r in all_queries()["x_semdedup_prune"](spark, sf_dir).collect()
    }
    from pyspark.sql import functions as F

    from sparkga1_spark.operators import similarity as S
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    aug = fixtures.embeddings_with_neardups(emb)
    pairs = S.lsh_bucketed_neighbors(
        aug, dim=64, n_planes=4, threshold=0.8
    ).collect()
    assert pairs, "fixture must plant at least one near-dup pair"
    higher = {p["id_b"] for p in pairs}
    for vid, kept in verdict.items():
        assert kept == (vid not in higher), (vid, kept)


def test_keep_canonical_is_longest_member(spark, sf_dir):
    """The canonical doc of every duplicate cluster is its longest
    member (ties to smallest id), and member counts match the CC
    labelling the cluster query builds on."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from sparkga1_spark.plans.registry import all_queries
    from sparkga1_spark.sources.catalog import load_table

    rows = all_queries()["x_dedup_keep_canonical"](spark, sf_dir).collect()
    assert rows, "LSH fixture corpus must contain duplicate clusters"
    labels = {
        r["doc_id"]: r["component"]
        for r in all_queries()["x_dedup_cc_clusters"](spark, sf_dir).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    groups = defaultdict(list)
    for doc, comp in labels.items():
        groups[comp].append(doc)
    by_comp = {r["component"]: r for r in rows}
    assert set(by_comp) == set(groups)
    for comp, members in groups.items():
        want = max(members, key=lambda d: (chars[d], -d))
        got = by_comp[comp]
        assert got["canonical_doc"] == want, (comp, want, got)
        assert got["n_members"] == len(members)
        assert got["n_pruned"] == len(members) - 1


def test_keyed_hash_is_not_monotone(spark):
    """Regression for the minhash degeneracy x_minhash_accuracy_audit
    exposed: the affine (a*h40+b) mod M61 permutations never wrapped,
    so every 'permutation' was monotone in h and all 8 minhashes
    collapsed to a function of the single smallest shingle hash. The
    seeded-md5 keyed_hash must (a) genuinely reorder inputs and (b)
    give DIFFERENT argmins under different seeds."""
    import pandas as pd

    from pyspark.sql import functions as F
    from sparkga1_spark.functions.hashing import keyed_hash
    from sparkga1_spark.operators.dedup import minhash_perms

    hs = list(range(1, 201))
    df = spark.createDataFrame(pd.DataFrame({"h": hs}))
    perms = minhash_perms(8)
    out = df.select(
        "h", *[keyed_hash(F.col("h"), a, b).alias(f"k{i}")
               for i, (a, b) in enumerate(perms)]
    ).toPandas().sort_values("h")
    argmins = set()
    for i in range(8):
        ks = out[f"k{i}"].tolist()
        # not monotone: sorted order must differ from input order
        assert ks != sorted(ks), f"perm {i} is monotone"
        argmins.add(out["h"].tolist()[ks.index(min(ks))])
    # independent permutations pick different minima
    assert len(argmins) >= 4, f"permutation argmins collapsed: {argmins}"


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """est = matching-minhash fraction must be a usable estimator:
    identical sets → 1.0; disjoint sets → ~0; a 50%-overlap pair lands
    in between (8 perms ⇒ ±1σ ≈ 0.18, assert a generous band)."""
    from pyspark.sql import functions as F
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.dedup import minhash_signature_rows

    toks = {
        1: [f"t{i}" for i in range(40)],
        2: [f"t{i}" for i in range(40)],           # == doc 1
        3: [f"t{i}" for i in range(20, 60)],        # J(1,3) = 1/3
        4: [f"u{i}" for i in range(40)],            # disjoint from 1
    }
    rows = spark.createDataFrame(
        [(d, t) for d, ts in toks.items() for t in ts], "doc_id long, tok string"
    ).select("doc_id", stable_hash64(F.col("tok")).alias("h"))
    sig = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(8)]
        for r in minhash_signature_rows(rows, id_col="doc_id").collect()
    }
    est = lambda a, b: sum(x == y for x, y in zip(sig[a], sig[b])) / 8  # noqa: E731
    assert est(1, 2) == 1.0
    assert est(1, 4) == 0.0
    assert 0.0 < est(1, 3) < 0.9  # J = 1/3; bound is ±3σ-ish


def test_pareto_frontier_matches_bruteforce(spark, sf_dir):
    """Engine skyline (sorted-scan over the per-price max-size
    pre-aggregate) must equal the O(n²) dominance definition."""
    from sparkga1_spark.plans.registry import get
    from sparkga1_spark.sources.catalog import load_table

    fn, _ = get("x_pareto_frontier")
    got = {
        (r["p_brand"], r["p_partkey"]) for r in fn(spark, sf_dir).collect()
    }
    parts = [
        (r["p_brand"], r["p_partkey"],
         int(r["p_retailprice"] * 100 + 0.5), r["p_size"])
        for r in load_table(spark, sf_dir, "part")
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    want = set()
    for b, k, c, s in parts:
        dominated = any(
            b2 == b and c2 <= c and s2 >= s and (c2 < c or s2 > s)
            for b2, _, c2, s2 in parts
        )
        if not dominated:
            want.add((b, k))
    assert got == want


def _host_undirected_edge_set(spark, sf_dir):
    """Collected undirected edge set of the canonical SF-SCALED host
    graph — the same derivation the three graph queries share."""
    from pyspark.sql import functions as F
    from sparkga1_spark.operators.graph import undirected_edges
    from sparkga1_spark.plans.queries import _host_graph_edges

    eall = _host_graph_edges(spark, sf_dir)
    return {
        (r["a"], r["b"])
        for r in undirected_edges(eall, F.col("src"), F.col("dst")).collect()
    }


def test_triangle_counts_match_bruteforce(spark, sf_dir):
    """Degree-oriented wedge closure must count exactly the triangles
    a per-edge common-neighbor intersection finds, per node (the
    adjacency-set form — the a<b<c triple loop is cubic in the ~600
    nodes the sf-scaled graph has at sf0.001)."""
    from sparkga1_spark.plans.registry import get

    edges = _host_undirected_edge_set(spark, sf_dir)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {v: 0 for v in adj}
    for a, b in edges:  # each triangle counted once via its a<b edge
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c ordering
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    fn, _ = get("x_graph_triangles")
    got = {r["node"]: r["n_triangles"] for r in fn(spark, sf_dir).collect()}
    assert got == tri


def test_rolling_zscore_flags_planted_spikes(spark, sf_dir):
    """Every planted spike day (event_id % 4999 == 0 adds 1e6 units)
    with a full 7-day baseline must flag; z² must match a pure-Python
    recomputation from the engine's own daily values."""
    from sparkga1_spark.plans.registry import get

    fn, _ = get("x_rolling_zscore_anomaly")
    rows = sorted(
        fn(spark, sf_dir).collect(), key=lambda r: (r["event_type"], r["day"])
    )
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_flagged = 0
    for series in by_type.values():
        xs = [int(r["daily_value"] * 100 + 0.5) for r in series]
        for i, r in enumerate(series):
            base = xs[max(0, i - 7):i]
            n = len(base)
            want = False
            if n == 7:
                s, q, x = sum(base), sum(v * v for v in base), xs[i]
                den = n * q - s * s
                want = den > 0 and (n * x - s) ** 2 > 9 * den
            assert bool(r["is_anomaly"]) == want, (r, base)
            n_flagged += want
    assert n_flagged > 0, "planted spikes produced no anomalies"


def test_bloom_filter_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every true member must pass the filter, and the
    measured FPR must sit strictly between 0 and 1 at this geometry
    (m=1024, k=4 — sized for a non-vacuous audit)."""
    from sparkga1_spark.plans.registry import get

    fn, _ = get("x_bloom_fpr_audit")
    row = fn(spark, sf_dir).collect()[0]
    assert row["n_member_pass"] == row["n_members"]
    assert 0 < row["n_bits_set"] <= 1024
    assert row["n_pass"] >= row["n_members"]


def test_assoc_rules_lift_formula(spark, sf_dir):
    """confidence and lift must equal their definitions recomputed from
    the row's own integer counts and the basket total."""
    from pyspark.sql import functions as F
    from sparkga1_spark.plans.registry import get
    from sparkga1_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    nb = (
        li.select(F.col("l_orderkey")).distinct().count()
    )
    fn, _ = get("x_assoc_rules_lift")
    rows = fn(spark, sf_dir).collect()
    assert rows, "no rules above the support floor"
    for r in rows:
        conf = r["n_ab"] / r["n_a"]
        lift = nb * r["n_ab"] / (r["n_a"] * r["n_b"])
        assert abs(r["confidence"] - conf) < 1e-6
        assert abs(r["lift"] - lift) < 1e-6
        assert r["item_a"] < r["item_b"]


def test_bfs_hops_match_python_bfs(spark, sf_dir):
    """Iterative frontier BFS must equal a driver-side BFS over the
    collected edge list."""
    from collections import deque

    from sparkga1_spark.plans.registry import get

    adj: dict = {}
    for a, b in _host_undirected_edge_set(spark, sf_dir):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, dq = {0: 0}, deque([0])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    fn, _ = get("x_graph_bfs_hops")
    got = {r["node"]: r["hops"] for r in fn(spark, sf_dir).collect()}
    assert got == want


def test_sessionize_histogram_conserves_events(spark, sf_dir):
    """Σ(session_length × n_sessions) must equal the event count, and
    session boundaries must match a per-user Python replay."""
    from pyspark.sql import functions as F
    from sparkga1_spark.plans.registry import get
    from sparkga1_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    fn, _ = get("x_sessionize_gaps")
    rows = fn(spark, sf_dir).collect()
    assert sum(r["session_length"] * r["n_sessions"] for r in rows) == n_events

    per_user: dict = {}
    for r in (
        ev.select(
            "user_id", F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("sec"),
            "event_id",
        ).collect()
    ):
        per_user.setdefault(r["user_id"], []).append((r["sec"], r["event_id"]))
    want_sessions = 0
    for evs in per_user.values():
        evs.sort()
        want_sessions += 1 + sum(
            1 for i in range(1, len(evs)) if evs[i][0] - evs[i - 1][0] > 1800
        )
    assert sum(r["n_sessions"] for r in rows) == want_sessions


def test_dq_expectations_report_shape(spark, sf_dir):
    """Five checks over one table: rates must equal n_fail/n_rows, the
    two clean checks must pass, and passed ⇔ n_fail == 0."""
    from sparkga1_spark.plans.registry import get

    fn, _ = get("x_dq_expectations")
    rows = {r["check_name"]: r for r in fn(spark, sf_dir).collect()}
    assert set(rows) == {
        "custkey_not_null", "totalprice_positive", "priority_in_set",
        "status_in_set", "orderkey_unique",
    }
    for r in rows.values():
        assert r["passed"] == (r["n_fail"] == 0)
        assert abs(r["fail_rate"] - r["n_fail"] / r["n_rows"]) < 1e-6
    assert rows["status_in_set"]["passed"]
    assert rows["orderkey_unique"]["passed"]


def test_rfm_axis_buckets_are_balanced(spark, sf_dir):
    """Each RFM axis must split customers into four near-equal
    quartiles (the equal-split formula guarantees sizes within 1)."""
    from sparkga1_spark.plans.registry import get

    fn, _ = get("x_rfm_segmentation")
    rows = fn(spark, sf_dir).collect()
    n = sum(r["n_customers"] for r in rows)
    for axis in ("r_score", "f_score", "m_score"):
        sizes = {}
        for r in rows:
            sizes[r[axis]] = sizes.get(r[axis], 0) + r["n_customers"]
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (axis, sizes)
        assert sum(sizes.values()) == n


def test_asof_join_carries_whole_rows_not_stale_values(spark):
    """Review-caught: per-column last(ignorenulls) would resurrect a
    STALE value when the most recent right row holds a NULL (and could
    stitch different right columns from different rows). The struct
    carry must return the matched row's values verbatim — NULLs
    included — and all columns from the SAME row."""
    from sparkga1_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [(1, 1, 5, "old"), (1, 2, None, "new")],
        "k int, t int, x int, tag string",
    )
    left = spark.createDataFrame([(1, 3), (1, 1), (1, 0)], "k int, t int")
    got = {
        r["t"]: (r["asof_x"], r["asof_tag"])
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_cols=["x", "tag"],
        ).collect()
    }
    assert got[3] == (None, "new")  # newest row's NULL survives
    assert got[1] == (5, "old")     # inclusive <= match
    assert got[0] == (None, None)   # nothing at or before t=0


def test_normalize_whitespace_feeds_words_contract(spark):
    """Raw multi-line text must tokenize correctly after the ingest
    normalization step (words() itself is space-run-only by contract)."""
    from sparkga1_spark.functions.text import normalize_whitespace, word_count, words

    df = spark.createDataFrame([("a\t b\nc  d\r\ne",)], "text string")
    out = df.select(
        words(normalize_whitespace(F.col("text"))).alias("w"),
        word_count(normalize_whitespace(F.col("text"))).alias("n"),
    ).collect()[0]
    assert out["w"] == ["a", "b", "c", "d", "e"]
    assert out["n"] == 5


def test_nfc_normalize_composition_and_nulls(spark):
    """nfc_normalize: combining sequences compose (e+U+0301 → é, one
    char), already-NFC text is unchanged (idempotent), nulls pass
    through, and the stage preserves every input column."""
    import unicodedata

    from sparkga1_spark.operators.transform import nfc_normalize

    rows = [
        (1, "e\u0301clair"),          # DECOMPOSED: must compose to e-acute
        (2, "ascii only"),
        (3, None),
        (4, "A\u030a ngstro\u0308m"),  # decomposed ring + diaeresis
    ]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {r.doc_id: r.out for r in nfc_normalize(df, text_col="t", out_col="out").collect()}
    assert got[1] == unicodedata.normalize("NFC", rows[0][1])
    assert len(got[1]) == 6  # composed: one char shorter than input
    assert got[2] == "ascii only"
    assert got[3] is None
    assert got[4] == unicodedata.normalize("NFC", rows[3][1])
    # idempotence: running the stage on its own output changes nothing
    df2 = spark.createDataFrame([(k, v) for k, v in got.items() if v], "doc_id long, t string")
    again = {r.doc_id: r.out for r in nfc_normalize(df2, text_col="t", out_col="out").collect()}
    assert all(again[k] == got[k] for k in again)


def test_incremental_state_merge_is_exact_and_order_free(spark):
    """operators/incremental: merging per-batch algebraic states must
    equal the single-pass batch aggregate EXACTLY (decimal-guarded sum
    ⇒ no float summation-order drift), in any merge order and grouping
    — including a degenerate empty batch — and the HLL union estimate
    must track the exact distinct count."""
    from pyspark.sql import functions as F

    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    df = spark.range(3000).select(
        (F.col("id") % 7).alias("k"),
        ((F.col("id") % 100).cast("double") / 3.0).alias("v"),
        (F.col("id") % 311).alias("u"),
    )

    batches = [df.filter(F.col("u") % 3 == i) for i in range(3)]
    states = [aggregate_state(b, ["k"], "v", distinct_col="u") for b in batches]
    empty = aggregate_state(df.filter(F.lit(False)), ["k"], "v", distinct_col="u")

    def rows(state):
        return sorted(
            tuple(r) for r in finalize_state(state, ["k"]).collect()
        )

    direct = rows(aggregate_state(df, ["k"], "v", distinct_col="u"))
    assert rows(merge_states(states, ["k"])) == direct
    assert rows(merge_states(list(reversed(states)) + [empty], ["k"])) == direct
    # associativity: ((s0 ⊕ s1) ⊕ s2) == (s0 ⊕ (s1 ⊕ s2))
    left = merge_states([merge_states(states[:2], ["k"]), states[2]], ["k"])
    right = merge_states([states[0], merge_states(states[1:], ["k"])], ["k"])
    assert rows(left) == rows(right) == direct

    # the HLL estimate column sits within 5% of exact per key
    exact = {r.k: r.cnt for r in df.groupBy("k").agg(
        F.countDistinct("u").alias("cnt")).collect()}
    for r in finalize_state(merge_states(states, ["k"]), ["k"]).collect():
        assert abs(r.distinct_est - exact[r.k]) / exact[r.k] <= 0.05


def test_scalar_subq_zero_build_jobs_reused_once(spark, sf_dir):
    """scalar_subq (the lazy twin of scalar_lits, r8 VERDICT #2) must
    (a) launch ZERO Spark jobs at build time — the r8 eager .first()
    pulls cost a fixed job per scalar, measured at ~0.2-0.5s/query at
    sf0.1 by the interleaved drift A/B; (b) produce values and dtypes
    identical to the eager literal form; (c) compile every additional
    reference to the same aggregate into a ReusedSubquery node, so the
    aggregate's subtree executes once and is never replicated (the
    original BNL-attach failure mode)."""
    from sparkga1_spark.operators.cache import scalar_lits, scalar_subq
    from sparkga1_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")

    def agg():
        return docs.agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars")
        )

    tracker = spark.sparkContext.statusTracker()
    n0 = len(tracker.getJobIdsForGroup(None))
    lazy = scalar_subq(agg())
    assert len(tracker.getJobIdsForGroup(None)) == n0, (
        "scalar_subq launched a build-time job"
    )

    eager = scalar_lits(agg())
    assert set(lazy) == set(eager) == {"n_docs", "chars"}
    cols = lambda d: [d[k].alias(k) for k in sorted(d)]  # noqa: E731
    probe_l = docs.limit(1).select(*cols(lazy), (lazy["n_docs"] * 2).alias("d2"))
    probe_e = docs.limit(1).select(*cols(eager), (eager["n_docs"] * 2).alias("d2"))
    assert probe_l.collect() == probe_e.collect()
    # dtypes must match exactly; nullability legitimately differs (a
    # scalar subquery is nullable by construction, a non-null literal
    # is not)
    assert probe_l.dtypes == probe_e.dtypes

    probe_l.collect()
    plan = probe_l._jdf.queryExecution().executedPlan().toString()
    assert "ReusedSubquery" in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_if_narrow_fires_only_on_narrow_scans(spark, sf_dir):
    """spread_if_narrow (r13, guide §2.5 input skew) must repartition a
    single-partition input to the session's shuffle parallelism, leave
    an already-parallel input untouched (the 100 TB case: scans split
    naturally, no extra exchange may ride the plan), and never change
    results."""
    from sparkga1_spark.operators.skew import spread_if_narrow

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    narrow = li.coalesce(1)
    spread = spread_if_narrow(narrow, "l_orderkey")
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == narrow.count()

    wide = li.repartition(target, "l_orderkey")
    # already at target parallelism: the helper must be an exact no-op
    assert spread_if_narrow(wide, "l_partkey") is wide


def test_apply_per_group_walk_matches_applyinpandas(spark):
    """apply_per_group's mapInPandas group walk must be observationally
    identical to groupBy().applyInPandas: every group seen exactly once
    with its key columns included — also when a group spans Arrow batch
    boundaries (forced via a 7-row batch size) — null keys preserved
    (pandas groupby drops NaN keys by default; the walk must not), and
    empty outputs dropped. Its one exchange is a range exchange."""
    import pandas as pd

    from sparkga1_spark.operators.transform import apply_per_group

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        assert list(pdf.columns) == ["k", "sub", "v"], list(pdf.columns)
        assert pdf["k"].nunique(dropna=False) == 1, "mixed group leaked to fn"
        assert pdf["sub"].nunique(dropna=False) == 1
        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "sub": [pdf["sub"].iloc[0]],
                "n": [len(pdf)],
                "s": [float(pdf["v"].sum())],
            }
        )

    rows = [
        (k, s, float(k or 0) * 100 + s * 10 + i)
        for k in [1, 2, None, 3]
        for s in (0, 1)
        for i in range((k or 4) * 9)  # groups of 9..36 rows
    ]
    df = spark.createDataFrame(rows, "k int, sub int, v double")
    schema = "k int, sub int, n long, s double"
    def norm(rows):
        return sorted(
            map(tuple, rows), key=lambda t: tuple((x is None, x) for x in t)
        )

    def fn_some_empty(pdf: pd.DataFrame) -> pd.DataFrame:
        out = fn(pdf)
        return out.iloc[:0] if pdf["sub"].iloc[0] == 1 else out

    def both(f):
        walked = apply_per_group(df, keys=("k", "sub"), fn=f, schema=schema)
        want = norm(
            df.repartition(4, "k", "sub")
            .groupBy("k", "sub")
            .applyInPandas(f, schema=schema)
            .collect()
        )
        return walked, norm(walked.collect()), want

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        walked, got, want = both(fn)
        _, got_some, want_some = both(fn_some_empty)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    assert got == want
    assert len(got) == 8  # 4 k-values x 2 subs, null key included
    assert got_some == want_some
    assert len(got_some) == 4  # the sub == 1 groups returned nothing
    plan = walked._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan, plan
    assert "hashpartitioning" not in plan, plan

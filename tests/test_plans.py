"""Physical-plan regression guards (see PLANS.md): the scale-critical
plan shapes must not silently degrade as queries evolve."""

from __future__ import annotations

from sparkga1_spark.plans.registry import all_queries


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dict(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_region_stats")
    assert "BroadcastHashJoin" in plan, "dict join must broadcast, not shuffle"
    assert "SortMergeJoin" not in plan


def test_range_join_is_equi_not_nlj(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j_range_exome_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, (
        "range join degenerated to NLJ — bin-bucket rewrite broken"
    )
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "o_topk_per_chr")
    assert "WindowGroupLimit" in plan, "rank pushdown lost — full sort per group"


def test_global_limit_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "o_topk_global_limit")
    assert "TakeOrderedAndProject" in plan, "ORDER BY+LIMIT must not global-sort"


def test_semi_anti_joins_broadcast(spark, sf_dir):
    for name in ("j_semi_known_sites", "j_anti_known_sites"):
        plan = _plan(spark, sf_dir, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan, name


def test_q1_filter_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert scan and "l_shipdate" in scan[0], "shipdate predicate not at the scan"
    # column pruning: the scan must not read all 11 lineitem columns
    read = scan[0].split("FileScan parquet ")[1].split("]")[0]
    assert read.count(",") <= 7, f"scan reads too many columns: {read}"


def test_no_python_udfs_in_relational_queries(spark, sf_dir):
    """The JVM-side guarantee: relational/dedup/similarity queries must
    not contain Python evaluation nodes (Batch/ArrowEvalPython)."""
    for name in (
        "flagship_region_stats",
        "x_dedup_minhash_lsh",
        "x_ann_bruteforce_topk",
        "x_text_quality",
        "p2_interval_coalesce",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "EvalPython" not in plan, f"{name} fell back to Python UDFs"


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Static partition pruning: a filter on the partition column must
    reach PartitionFilters (only matching directories are scanned)."""
    from sparkga1_spark.operators import binning
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import write_partitioned_sorted
    from pyspark.sql import functions as F

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(al, sd).select("chr_index", "reg", "pos")
    out = str(tmp_path / "parts")
    write_partitioned_sorted(binned, out, partition_cols=["chr_index"], sort_cols=["pos"])
    q = spark.read.parquet(out).filter(F.col("chr_index") == 3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "PartitionFilters" in scan and "chr_index" in scan.split("PartitionFilters")[1][:80], scan[:400]
    assert q.count() == binned.filter(F.col("chr_index") == 3).count()


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP: joining a partitioned fact to a filtered dim must inject a
    dynamic pruning subquery into the fact scan."""
    from sparkga1_spark.operators import binning
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table
    from sparkga1_spark.sources.sinks import write_partitioned_sorted
    from pyspark.sql import functions as F

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    sd = fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))
    binned = binning.bin_by_region(al, sd).select("chr_index", "reg", "pos")
    out = str(tmp_path / "fact")
    write_partitioned_sorted(binned, out, partition_cols=["chr_index"], sort_cols=["pos"])
    fact = spark.read.parquet(out)
    dim = fixtures.sequence_dict(load_table(spark, sf_dir, "nation")).filter(
        F.col("region_size") > 40000  # selective dim predicate
    )
    joined = fact.join(dim, "chr_index").groupBy("chr_index").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_vocab_topk_takes_before_ranking(spark, sf_dir):
    """x_vocab_topk must TakeOrderedAndProject the top-20 BEFORE any
    global window: at 100 TB the vocabulary is 1e8-1e9 distinct tokens
    and an unpartitioned row_number over it funnels everything through
    one task (the round-1 scale-killer)."""
    plan = _plan(spark, sf_dir, "x_vocab_topk")
    assert "TakeOrderedAndProject" in plan, "top-k must be TakeOrdered"
    # the only Window node must sit ABOVE the take (operate on <= 20 rows):
    # in the executedPlan string, children print below their parent
    win = plan.find("Window")
    take = plan.find("TakeOrderedAndProject")
    assert win != -1 and win < take, "window must consume the take output"


def test_tfidf_corpus_size_is_one_build_time_scalar(spark, sf_dir):
    """Building the query launches NO scalar job beyond a lazy
    baseline (r9: the corpus size rides the plan as a once-executed
    runtime ScalarSubquery — scalar_subq; the r8 form paid an eager
    .first() job here, and the r1 ancestor was a lazy 1-row crossJoin
    whose BNL re-executed the count scan per consumer at scale). The
    plan must never regress to a BroadcastNestedLoopJoin attach."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # Count jobs inside dedicated job groups: the default-group id list
    # is capped by spark.ui.retainedJobs, so in a long session eviction
    # makes len()-deltas on it unreliable (observed going negative).
    # baseline: a known-lazy query on the same table still pays the
    # parquet schema-inference job
    g_lazy = f"tfidf-lazy-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(g_lazy, "lazy baseline")
    all_queries()["x_vocab_topk"](spark, sf_dir)
    g_build = f"tfidf-build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(g_build, "tfidf build")
    df = all_queries()["x_tfidf_top_terms"](spark, sf_dir)
    sc.setJobGroup(None, None)
    lazy_delta = len(tracker.getJobIdsForGroup(g_lazy))
    tfidf_delta = len(tracker.getJobIdsForGroup(g_build))
    # the one scalar action surfaces as up to TWO job ids under AQE
    # (shuffle stage + result stage); anything beyond that is a real
    # extra action
    assert tfidf_delta <= lazy_delta + 2, (
        f"construction ran extra actions: {tfidf_delta} > {lazy_delta} + 2 jobs"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, (
        "corpus size went back to a lazy 1-row broadcast attach"
    )
    assert df.columns == ["doc_id", "term", "tfidf"]


def test_queries_and_oracles_agree_on_order():
    """queries() and oracle_sql() must agree on order and coverage:
    every oracle belongs to a registered query, in the same order."""
    from sparkga1_spark.plans.registry import all_oracles, all_queries

    qs = list(all_queries())
    assert list(all_oracles()) == [q for q in qs if q in all_oracles()]


def test_quality_repetition_is_map_only(spark, sf_dir):
    """Per-doc repetition stats must not shuffle (doc_id, gram) rows —
    grams stay in-row and counts come from the sorted-run fold."""
    plan = _plan(spark, sf_dir, "x_quality_repetition")
    assert "Exchange" not in plan, "per-doc stats must be map-only"
    assert "EvalPython" not in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime row-level filtering: a selective dim predicate injects a
    Bloom-filter subquery into the fact side of a shuffle join (the
    100 TB lever when broadcast is too big and DPP doesn't apply — the
    application-side threshold (default 10 GB scan) gates it in
    production; forced to 0 here to pin the mechanism)."""
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), "no runtime bloom filter injected"
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_global_rank_is_distributed(spark, sf_dir):
    """o_global_sort_vcf / a_lpt_schedule must rank via range partition +
    per-partition window + broadcast offsets — the only single-partition
    window allowed is the ~32-row per-partition-counts cumsum."""
    for name in ("o_global_sort_vcf", "a_lpt_schedule"):
        plan = _plan(spark, sf_dir, name)
        assert "rangepartitioning" in plan.lower(), f"{name}: no range exchange"
        assert "windowspecdefinition(_pid" in plan, (
            f"{name}: body window is not partitioned by _pid"
        )


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """Candidate→cluster assignment must be the literal-centroid-array +
    array_min form: no Window.partitionBy(vec_id) shuffling the n×n_cent
    scored stream (r2 VERDICT #5), and no BroadcastNestedLoopJoin — the
    centroid set is a build-time k-sized pull riding the scan as a
    literal array (r7 VERDICT #2: the former 1-row broadcast attach
    replicated the centroid scan into both persisted-subtree
    consumers)."""
    for name in ("x_ann_ivf_topk", "x_ann_ivf_nprobe2"):
        plan = _plan(spark, sf_dir, name)
        assert "windowspecdefinition(vec_id" not in plan, (
            f"{name}: assignment went through a per-vector window again"
        )
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: centroid set went back to a lazy 1-row broadcast attach"
        )
        assert plan.count("windowspecdefinition(query_id") >= 1


def test_q6_all_filters_reach_scan(spark, sf_dir):
    """Q6 is a pure scan-aggregate: every predicate (date range,
    discount band, quantity) must appear at the FileScan and the scan
    must prune to the four touched columns."""
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert scan, "no file scan found"
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan[0], f"{col} predicate not pushed to the scan"
    read = scan[0].split("FileScan parquet ")[1].split("]")[0]
    assert read.count(",") <= 3, f"scan reads too many columns: {read}"
    assert "Exchange" in plan and plan.count("HashAggregate") >= 2  # partial+final


def test_q10_limit_is_take_ordered(spark, sf_dir):
    """Q10's ORDER BY revenue DESC LIMIT 20 must compile to
    TakeOrderedAndProject (per-partition top-k), not a global sort."""
    plan = _plan(spark, sf_dir, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_q21_semi_then_anti_self_joins(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must stay semi + anti joins (no
    aggregate-rewrite blowup), with the lateness residual attached."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q15_max_is_broadcast_single_row(spark, sf_dir):
    """Q15's scalar max must arrive as a broadcast 1-row side (Catalyst
    even converts the crossJoin+filter into a broadcast hash join on
    the value equality) — never a sort-merge of the revenue view."""
    plan = _plan(spark, sf_dir, "tpch_q15_top_supplier")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """The 100 TB skew story is not just salting: AQE must detect a
    skewed shuffle partition at runtime and split it (OptimizeSkewedJoin
    rewrites the sort-merge join with skew=true). Thresholds forced low
    so the sf0.001 hot key qualifies; production values fire on real
    hot keys without any code change."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "4",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one giant hash partition on the left (99% of rows share k=0),
        # unique keys on the right so output stays 1 row per left row;
        # the aggregate keeps the join inside ONE query execution so the
        # finalized adaptive plan is inspectable on the same DataFrame
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 100 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1_000).select(F.col("id").alias("k"))
        j = left.join(right, "k").agg(F.sum("v").alias("s"))
        j.collect()  # AQE decides after runtime stats
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_pipeline_exchange_budget(spark, sf_dir):
    """The composed curation plan's claim: ONE dedup hash shuffle + the
    keep-min semi-join + the tiny final aggregate — everything else
    map-side. Pin an upper bound on hash exchanges so a future stage
    can't silently add a corpus-wide shuffle."""
    plan = _plan(spark, sf_dir, "x_curation_pipeline")
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 4, f"curation pipeline now shuffles {n_hash} times:\n{plan[:2000]}"
    assert "EvalPython" not in plan


def test_q21_forms_agree(spark, sf_dir):
    """The aggregate rewrite of Q21 must return exactly the self-join
    form's rows (the rewrite is an equivalence, not an approximation)."""
    a = {tuple(r) for r in
         all_queries()["tpch_q21_waiting_supplier"](spark, sf_dir).collect()}
    b = {tuple(r) for r in
         all_queries()["tpch_q21_waiting_agg_form"](spark, sf_dir).collect()}
    assert a == b


def test_pack_and_quantile_windows_are_distributed(spark, sf_dir):
    """The per-lang cumsum/rank in the packing and quantile-filter
    queries must be the two-pass grouped_cumsum shape (range exchange +
    window partitioned by (_pid, lang)), never a bare per-lang window
    funneling each language through one task."""
    for name in ("x_pack_context_windows", "x_quality_quantile_filter"):
        plan = _plan(spark, sf_dir, name)
        assert "rangepartitioning" in plan.lower(), f"{name}: no range exchange"
        assert "windowspecdefinition(_pid" in plan, (
            f"{name}: body window is not partitioned by _pid"
        )


def test_funnel_single_event_exchange(spark, sf_dir):
    """The two stacked running-min windows and the per-user flag
    aggregate must reuse ONE user_id exchange: Catalyst plans
    Sort + Window + Window over the same partitioning, and the
    partial flag agg rides on it too. A second hashpartitioning of
    the event stream means the window specs diverged."""
    plan = _plan(spark, sf_dir, "x_funnel_conversion")
    assert plan.lower().count("hashpartitioning(user_id") <= 1, plan[:2000]
    assert plan.count("windowspecdefinition(user_id") >= 2


def test_magic_bytes_detect_no_python_after_planting(spark, sf_dir):
    """Format sniffing must stay JVM-side: the only Python stages are
    the ten planters (mapInPandas, r6 s7: BMP/WAV/Y4M/JPEG/AVI/MP4/
    MP3/FLAC/TIFF/WebP); classification adds none. The only exchanges
    allowed are the planters' round-robin codec spreads
    (multimodal._spread — deliberate CPU parallelism for the Python
    stages); classification itself must add NO keyed shuffle (no
    hash/range partitioning anywhere in the plan)."""
    plan = _plan(spark, sf_dir, "x_magic_bytes_detect")
    assert plan.count("MapInPandas") == 10, "expected exactly the 10 planters"
    assert "hashpartitioning" not in plan, "sniffing must not hash-shuffle"
    assert "rangepartitioning" not in plan, "sniffing must not sort"
    assert plan.count("RoundRobinPartitioning") == 10, (
        "expected exactly the 10 codec-spread exchanges"
    )


def test_drift_chi2_single_aggregate_pass(spark, sf_dir):
    """Drift stat: one 10-key aggregate with the 1-row totals
    materialized at build time (r7 VERDICT #2) — no join of any kind,
    no sort."""
    plan = _plan(spark, sf_dir, "x_drift_chi2")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """The token-frequency table is vocab-sized — it must broadcast to
    the scoring join, never shuffle the token stream twice."""
    plan = _plan(spark, sf_dir, "x_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_url_canonical_is_map_then_single_agg(spark, sf_dir):
    """Canonicalization is map-only (regex + HOF filter in codegen);
    the only exchanges are the canonical-URL aggregate plus, at test
    SFs only, the spread_if_narrow input-skew repartition of the
    16-byte key base (r13, guide §2.5 — the single-split scan
    serialized 1.1 s of regex CPU on one task; the spread no-ops once
    the scan splits, so the scale plan keeps one aggregate exchange).
    The spread must stay a RoundRobin/hash repartition of the narrow
    key columns, never of the URL strings."""
    plan = _plan(spark, sf_dir, "x_dedup_url_canonical")
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 3, plan.count("Exchange")
    # the spread exchange (when the scan is single-split) keys on the
    # narrow order keys, so the URL strings are built AFTER it
    import re

    spreads = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "o_orderkey" in m.group(1)
    ]
    assert spreads, "input-skew spread exchange missing at test SF"


def test_per_source_cap_is_window_group_limit(spark, sf_dir):
    """The per-source cap must locally truncate to 5 rows/source before
    the shuffle (WindowGroupLimit), not rank the full corpus."""
    plan = _plan(spark, sf_dir, "x_per_source_cap")
    assert "WindowGroupLimit" in plan


def test_bigram_pmi_broadcasts_vocab_and_takes_ordered(spark, sf_dir):
    """PMI join: unigram lookups broadcast (vocab-bounded); the top-20
    cut is TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_dir, "x_bigram_pmi")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_exchange_for_both_windows(spark, sf_dir):
    """lag-filter and lead-stitch share the (user_id) partitioning: the
    whole SCD2 build must need at most one user_id exchange plus the
    final aggregate's."""
    plan = _plan(spark, sf_dir, "x_scd2_intervals")
    assert plan.count("Exchange") <= 3, plan.count("Exchange")


def test_entropy_per_doc_single_token_shuffle(spark, sf_dir):
    """Doc totals come from a window over the SAME doc_id partitioning
    as the tf aggregate — the token stream must shuffle once, not
    twice (≤2 exchanges: tf agg + AQE read)."""
    plan = _plan(spark, sf_dir, "x_entropy_per_doc")
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "BroadcastHashJoin" not in plan  # no join needed at all


def test_registry_wide_plan_hygiene(spark, sf_dir):
    """EVERY registered query's plan must be free of CartesianProduct,
    scalar Python eval nodes (Batch/ArrowEvalPython — the Arrow
    group/map surfaces MapInPandas / FlatMapGroupsInPandas are the
    only sanctioned Python boundaries), and partition-less window
    functions (an `Exchange SinglePartition` funnel — the one global
    bottleneck class the other counters miss). Registry-wide version
    of the per-query guards; tools/plan_audit.py writes the same facts
    as a per-round artifact."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_audit import audit_plan

    from sparkga1_spark.operators.cache import release_tracked

    bad = {}
    for name, fn in all_queries().items():
        release_tracked()
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        row = audit_plan(plan)
        if row["cartesian"] or row["scalar_python"] or row["global_windows"]:
            bad[name] = row
    assert not bad, bad


def test_quality_linear_score_is_map_only(spark, sf_dir):
    """Score, bucket and keep flag are per-row expressions — the plan
    must be a single map stage (zero exchanges, no Python)."""
    plan = _plan(spark, sf_dir, "x_quality_linear_score")
    assert "Exchange" not in plan, "quality scoring must not shuffle"
    assert "EvalPython" not in plan


def test_span_dup_mass_shuffles_hash_not_text(spark, sf_dir):
    """Corpus-wide 8-gram counting: the gram text must be hashed to 8
    bytes BEFORE any exchange (project-then-shuffle), and the whole
    query needs at most the gram-window + h-agg + doc-agg exchanges."""
    plan = _plan(spark, sf_dir, "x_span_dup_mass")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    import re

    shuffles = len(re.findall(r"(?<!Reused)(?<!Broadcast)Exchange ", plan))
    assert shuffles <= 3, f"{shuffles} shuffle exchanges"
    # every hashpartitioning key must be an id or the 8-byte hash `h`,
    # never the gram string `_g`
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "_g" not in keys, f"gram text used as shuffle key: {keys}"


def test_curation_pipeline_v2_exchange_budget(spark, sf_dir):
    """The decision-layer composition must stay one plan with a bounded
    shuffle budget: gram window + h count-window + doc agg + dupm
    attach + grouped_cumsum's range/offset exchanges + final agg.
    Counted by DISTINCT plan_id because grouped_cumsum's cached
    range-partitioned input prints its subtree under both consumers
    (InMemoryTableScan) while executing it once — a raw substring
    count double-books those exchanges. A regression that re-scans
    documents per stage or funnels a per-source window through one
    task blows this budget."""
    import re

    plan = _plan(spark, sf_dir, "x_curation_pipeline_v2")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    shuffles = {
        pid
        for pid in re.findall(r"(?<!Reused)(?<!Broadcast)Exchange [^\n]*plan_id=(\d+)", plan)
    }
    assert len(shuffles) <= 9, f"{len(shuffles)} distinct shuffle exchanges"
    assert "Exchange SinglePartition" not in plan, (
        "single-partition funnel in the curation pipeline"
    )
    # the grouped cumsum must be the distributed two-pass form
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(_pid" in plan


def test_set_similarity_join_plan_hygiene(spark, sf_dir):
    """Prefix-filter Jaccard join: every shuffle key must be the 8-byte
    shingle hash or a doc id — never gram text — and candidate
    generation must stay an equi-join (no cartesian/NLJ fallback)."""
    import re

    plan = _plan(spark, sf_dir, "x_set_similarity_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "_g" not in keys, f"gram text used as shuffle key: {keys}"


def test_bm25_is_take_ordered_with_bounded_shuffles(spark, sf_dir):
    """BM25 top-10: the final cut must be TakeOrderedAndProject (never a
    global sort), corpus stats arrive as broadcast 1-row attaches, and
    Python never enters the plan."""
    plan = _plan(spark, sf_dir, "x_bm25_topk")
    assert "TakeOrderedAndProject" in plan, "top-10 must not global-sort"
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_group_ols_single_aggregate(spark, sf_dir):
    """OLS trend: one partial+final hash aggregate over the joined
    stream — moments must not spawn extra shuffles, and the nation dim
    must broadcast."""
    import re

    plan = _plan(spark, sf_dir, "x_group_ols_trend")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    shuffles = len(re.findall(r"(?<!Reused)(?<!Broadcast)Exchange ", plan))
    assert shuffles <= 3, f"{shuffles} shuffle exchanges"


def test_mad_outliers_no_per_group_window_funnel(spark, sf_dir):
    """Rank selection must be grouped_cumsum's two-pass range-partition
    form: every window spec is local to a physical partition (_pid) —
    a window partitioned by the 5-value group column alone would
    funnel each group through one task at 100 TB."""
    import re

    plan = _plan(spark, sf_dir, "x_mad_outliers")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "rank selection lost its window form entirely"
    for spec in specs:
        assert "_pid" in spec, f"global per-group window funnel: {spec}"


def test_bucketed_dedup_index_no_corpus_exchange(spark, sf_dir):
    """The standing dedup index (x_incremental_dedup_bucketed): both
    index tables must join with NO corpus-side Exchange — the bucketed
    scan satisfies the join's hash distribution, so only the arriving
    batch shuffles (into the index's bucket count). This is the plan
    property that makes per-ingest cost |batch|-proportional at
    100 TB."""
    from sparkga1_spark.plans.queries import _standing_dedup_index

    hash_idx, band_idx = _standing_dedup_index(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = spark.createDataFrame(
            [(0, "1:2"), (1, "3:4")], "band int, key string"
        )
        plan = (
            probe.join(band_idx, ["band", "key"], "left_semi")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
        hprobe = spark.createDataFrame([(1,), (2,)], "_h long")
        plan = (
            hprobe.join(hash_idx, "_h", "left_semi")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_census_pins_tfidf_single_scan_and_q11_exchange_reuse(spark, sf_dir):
    """Physical-tree census regression pins for the two round-9 wins
    the text-based audit could not see: (a) x_tfidf_top_terms reads the
    documents text exactly ONCE per execution (the window-form df — the
    join-back form rebuilt the scan→explode→aggregate subtree, measured
    2 scans/run), and (b) tpch_q11's two streamed passes of the scoped
    fact join share an exchange at runtime via ReusedExchange — the
    AQE reuse that only the scalar-SUBQUERY total enables (the lazy BNL
    replicated the subtree; the eager pull was a separate execution)."""
    import sys as _sys

    _sys.path.insert(0, ".")
    from tools.exchange_reuse_audit import physical_scan_census

    from sparkga1_spark.operators.cache import release_tracked
    from sparkga1_spark.plans.registry import all_queries

    release_tracked()
    tfidf = all_queries()["x_tfidf_top_terms"](spark, sf_dir)
    tfidf.collect()
    c = physical_scan_census(tfidf._jdf.queryExecution().executedPlan())
    text_scans = [
        (d, n) for d, n in c["file_scans"].items()
        if "text" in d and "documents" in d
    ]
    assert text_scans and all(n == 1 for _, n in text_scans), text_scans

    release_tracked()
    q11 = all_queries()["tpch_q11_important_stock"](spark, sf_dir)
    q11.collect()
    c = physical_scan_census(q11._jdf.queryExecution().executedPlan())
    assert c["reused_exchanges"] >= 1, c
    assert not any(n > 1 for n in c["file_scans"].values()), c["file_scans"]


def test_dedup_query_leaves_no_cached_blocks(spark, sf_dir):
    """A query leaves no cached blocks behind once its result is
    collected and the tracked caches are released: x_dedup_cc_clusters'
    per-round labels are localCheckpointed, so their blocks go only
    when nothing references the plan any more. The block manager must
    return to holding no more RDDs than it did before the query."""
    import gc
    import time

    from sparkga1_spark.operators.cache import release_tracked

    sc = spark.sparkContext

    def n_cached_rdds() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    release_tracked()
    before = n_cached_rdds()
    df = all_queries()["x_dedup_cc_clusters"](spark, sf_dir)
    assert df.collect()
    del df
    release_tracked()
    deadline = time.monotonic() + 10
    while True:
        gc.collect()
        sc._jvm.System.gc()
        left = n_cached_rdds()
        if left <= before or time.monotonic() > deadline:
            break
        time.sleep(0.25)
    assert left <= before, (before, left)


def test_recurring_queries_compile_once_per_session(spark, sf_dir):
    """A query that runs again in the same session reuses its generated
    classes: a second pass over the benchmark's six region queries
    compiles nothing. Their plans generate more classes than Spark's
    default codegen cache holds (100), and an LRU cache that is smaller
    than a repeating cycle evicts every class before its next use."""
    from sparkga1_spark.operators.cache import release_tracked

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    queries = all_queries()
    counts = []
    for _ in range(2):
        for name in (
            "flagship_region_stats",
            "p2_interval_coalesce",
            "j_range_exome_overlap",
            "o_global_sort_vcf",
            "a_dedup_keep_best",
            "p2_skew_detect",
        ):
            queries[name](spark, sf_dir).collect()
            release_tracked()
        counts.append(compiles.getCount())
    assert counts[1] - counts[0] == 0, counts


def test_only_session_reads_the_environment():
    """Plans depend on their inputs and the session conf alone: inside
    sparkga1_spark/ only session.py reads environment variables, and
    only SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM."""
    import ast
    import pathlib

    import sparkga1_spark

    root = pathlib.Path(sparkga1_spark.__file__).parent
    reads: dict[str, set] = {}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                names = {a.name for a in node.names}
                assert not names & {"environ", "getenv"}, (path, names)
            if not (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
            ):
                continue
            # the key of os.environ.get("X") / os.environ["X"] / os.getenv("X")
            use = parent[node]
            if isinstance(use, ast.Attribute):
                use = parent[use]
            key = None
            if isinstance(use, ast.Call) and use.args:
                key = getattr(use.args[0], "value", None)
            elif isinstance(use, ast.Subscript):
                key = getattr(use.slice, "value", None)
            reads.setdefault(str(path.relative_to(root)), set()).add(key)
    assert reads == {
        "session.py": {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
    }, reads


def test_range_exchanges_read_the_effective_shuffle_partitions(spark):
    """A session that never sets spark.sql.shuffle.partitions (the bare
    session a foreign caller hands to __spark_entry__) gets Spark's own
    value from every operator, not a per-module fallback."""
    import re

    from sparkga1_spark.operators.transform import apply_per_group
    from sparkga1_spark.operators.windows import global_rank

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        want = int(spark.conf.get(key))
        df = spark.range(100)
        for built in (
            global_rank(df, order_cols=["id"]),
            apply_per_group(df, keys=["id"], fn=lambda pdf: pdf, schema="id long"),
        ):
            plan = built._jdf.queryExecution().executedPlan().toString()
            got = {int(n) for n in re.findall(r"rangepartitioning\(.*?, (\d+)\)", plan)}
            assert got == {want}, (got, want)
    finally:
        spark.conf.set(key, old)


def _unreferenced_definitions(repo) -> list[str]:
    """Top-level functions and classes of sparkga1_spark/ that are neither
    @query-registered nor named anywhere in the package, tests, perfbench,
    tools or __spark_entry__.py (their own definition does not count)."""
    import ast

    files = [repo / "__spark_entry__.py"] + [
        p for d in ("sparkga1_spark", "tests", "perfbench", "tools")
        for p in sorted((repo / d).rglob("*.py"))
    ]
    defined: list[tuple[str, str]] = []
    used: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        in_pkg = path.parts[len(repo.parts)] == "sparkga1_spark"
        for node in tree.body if in_pkg else ():
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                for d in node.decorator_list
            )
            if not registered:
                defined.append((str(path.relative_to(repo)), node.name))
        # a string names a definition (getattr, __all__), a docstring does not
        docstrings = {
            id(n.value) for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and id(node) not in docstrings:
                used.add(node.value)
    return sorted(f"{f}:{n}" for f, n in defined if n not in used)


def test_every_definition_is_referenced():
    """Code nothing reaches is deleted, not kept: every top-level function
    or class in sparkga1_spark/ is a registered query or is named by
    some other code."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    assert _unreferenced_definitions(repo) == []

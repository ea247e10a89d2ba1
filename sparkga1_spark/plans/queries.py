"""Named queries — one per operator row of SURVEY.md §2, with DuckDB oracles.

Each query is a function (spark, sf_dir) -> DataFrame built from the
engine's operator modules; its oracle is ANSI SQL over the same parquet
views (tables pre-registered by the driver; fixture CTEs from
sources/fixtures.py). Aggregate/computed columns are aliased identically
on both sides — the driver's compare sorts columns by name before
hashing.

Float policy: every double-valued output is rounded (2dp for money-ish
sums, 6dp for ratios) on BOTH sides so IEEE summation-order differences
between engines cannot flip the value hash (SURVEY.md §7.4 hard part b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkga1_spark.functions.numeric import (
    davg,
    davg_over,
    davg_over_sql,
    davg_sql,
    dsum,
    dsum_over,
    dsum_over_sql,
    dsum_sql,
    hround,
)
from sparkga1_spark.operators import binning, filters
from sparkga1_spark.operators.cache import scalar_lits, scalar_subq, tracked_persist
from sparkga1_spark.operators import windows as windows_ops
from sparkga1_spark.plans.registry import query
from sparkga1_spark.sources import fixtures
from sparkga1_spark.sources.catalog import load_table

# Shared oracle preamble: fixture CTE definitions (mirrored DataFrame
# builders live in sources/fixtures.py).
FIXTURE_CTES = f"""WITH alignments AS ({fixtures.ALIGNMENTS_SQL}),
sequence_dict AS ({fixtures.SEQUENCE_DICT_SQL}),
exome_intervals AS ({fixtures.EXOME_INTERVALS_SQL}),
known_sites AS ({fixtures.KNOWN_SITES_SQL}),
variants AS ({fixtures.VARIANTS_SQL})"""


def _alignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixtures.alignments(load_table(spark, sf_dir, "lineitem"))


def _seq_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixtures.sequence_dict(load_table(spark, sf_dir, "nation"))


# --------------------------------------------------------------------------
# Flagship (SURVEY.md §7.2): scan → bitmask filter (F-2) → broadcast dim
# join (J-1) → range bin (F-7) → partial+final agg (A-1/A-4) → global
# sort (O-2). The reference computes exactly this keyed aggregate across
# Part 1+2 (SamRegionsParser.scala:42-65 → SparkGA1.scala:236-246).
# --------------------------------------------------------------------------


@query(
    "flagship_region_stats",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, reg,
       count(*)            AS n_reads,
       min(pos)            AS min_pos,
       max(pos)            AS max_pos,
       round(sum(weight), 2) AS sum_weight
FROM (
  SELECT a.*, CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg
  FROM alignments a
  JOIN sequence_dict d USING (chr_index)
  WHERE (a.flags & 4) = 0
)
GROUP BY chr_index, reg
ORDER BY chr_index, reg
""",
)
def flagship_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(chr, region) stats of mapped reads — the reference's Part 1
    manifest (SparkGA1.scala:1110-1114) as one declarative plan."""
    al = filters.filter_unmapped(_alignments(spark, sf_dir))
    binned = binning.bin_by_region(al, _seq_dict(spark, sf_dir))
    return (
        binned.groupBy("chr_index", "reg")
        .agg(
            F.count("*").alias("n_reads"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            hround(F.sum("weight"), 2).alias("sum_weight"),
        )
        .orderBy("chr_index", "reg")
    )


# --------------------------------------------------------------------------
# M1 core relational (SURVEY.md §7.3 M1): filters, projections, casts,
# aggregations, global sort, unions.
# --------------------------------------------------------------------------


@query(
    "tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                  AS sum_qty,
       {dsum_sql('l_extendedprice')}                              AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)')}           AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       round(avg(l_quantity), 6)                                  AS avg_qty,
       {davg_sql('l_extendedprice')}                              AS avg_price,
       {davg_sql('l_discount')}                                   AS avg_disc,
       count(*)                                                   AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark, sf_dir):
    """A-1/A-4 on real columns — the classic partial+final agg shape
    (whole-stage-codegen'd HashAggregate, no Python in the loop).
    Money sums/avgs accumulate in DECIMAL (dsum/davg) so the result is
    independent of partial-aggregate order — sum(double) is not
    (functions/numeric.py; l_quantity is integral, hence exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            hround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            hround(F.avg("l_quantity"), 6).alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "f_mapped_clean_projection",
    oracle=FIXTURE_CTES
    + """
SELECT read_name, chr_index, pos, mapq,
       CAST(flags AS BIGINT) * 2 AS flags2
FROM alignments
WHERE (flags & 4) = 0 AND (flags & 8) = 0
  AND chr_index NOT IN (22, 23, 24)
  AND mapq >= 20
""",
)
def f_mapped_clean_projection(spark, sf_dir):
    """F-2 (multi-bit bitmask) + F-4 (ignore list) + F-5/F-8
    (projection & cast) composed; all predicates push into the scan."""
    al = _alignments(spark, sf_dir)
    al = filters.filter_unmapped(al, mask=4)
    al = filters.filter_unmapped(al, mask=8)
    al = al.filter(~F.col("chr_index").isin([22, 23, 24]))
    return al.filter(F.col("mapq") >= 20).select(
        "read_name", "chr_index", "pos", "mapq",
        (F.col("flags").cast("long") * 2).alias("flags2"),
    )


@query(
    "f_regex_readgroup",
    oracle=FIXTURE_CTES
    + """
SELECT CAST(regexp_extract(read_name, '^r([0-9]+)_([0-9]+)$', 1) AS BIGINT) % 10
           AS ord_mod,
       CAST(regexp_extract(read_name, '^r([0-9]+)_([0-9]+)$', 2) AS INTEGER)
           AS line_no,
       split_part(read_name, '_', 1) AS ord_token,
       count(*) AS n
FROM alignments
GROUP BY 1, 2, 3
""",
)
def f_regex_readgroup(spark, sf_dir):
    """F-10/F-11: regex field extraction + delimiter munging
    (Configuration.java:277-283 RGID-substring analog)."""
    al = _alignments(spark, sf_dir)
    pat = r"^r([0-9]+)_([0-9]+)$"
    return (
        al.select(
            (F.regexp_extract("read_name", pat, 1).cast("long") % 10).alias("ord_mod"),
            F.regexp_extract("read_name", pat, 2).cast("int").alias("line_no"),
            F.substring_index("read_name", "_", 1).alias("ord_token"),
        )
        .groupBy("ord_mod", "line_no", "ord_token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "f_interval_sanity_fix",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, start,
       CASE WHEN start = "end" THEN "end" + 1 ELSE "end" END AS end_fixed
FROM exome_intervals
WHERE start >= 0 AND "end" >= start
""",
)
def f_interval_sanity_fix(spark, sf_dir):
    """F-9: zero-length interval fix (SparkGA1.scala:692-694)."""
    ivl = fixtures.exome_intervals(load_table(spark, sf_dir, "part"))
    return filters.fix_intervals(ivl).select(
        "chr_index", "start", F.col("end").alias("end_fixed")
    )


@query(
    "a_global_totals",
    oracle=FIXTURE_CTES
    + """
SELECT count(*) AS total_reads,
       count(DISTINCT chr_index * 1000000 + reg) AS n_regions,
       round(CAST(count(*) AS DOUBLE)
             / count(DISTINCT chr_index * 1000000 + reg), 6) AS avg_reads_per_region
FROM (
  SELECT a.chr_index,
         CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg
  FROM alignments a JOIN sequence_dict d USING (chr_index)
  WHERE (a.flags & 4) = 0
)
""",
)
def a_global_totals(spark, sf_dir):
    """A-2/A-3: global sum + distinct-region count + average
    (SparkGA1.scala:1138,1144-1147) in one pass."""
    al = filters.filter_unmapped(_alignments(spark, sf_dir))
    binned = binning.bin_by_region(al, _seq_dict(spark, sf_dir))
    key = F.col("chr_index").cast("long") * 1000000 + F.col("reg")
    return binned.agg(
        F.count("*").alias("total_reads"),
        F.countDistinct(key).alias("n_regions"),
        hround(
            F.count("*").cast("double") / F.countDistinct(key), 6
        ).alias("avg_reads_per_region"),
    )


@query(
    "a_lpt_schedule",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, reg, n_reads,
       row_number() OVER (ORDER BY n_reads DESC, chr_index, reg) AS schedule_order
FROM (
  SELECT a.chr_index,
         CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg,
         count(*) AS n_reads
  FROM alignments a JOIN sequence_dict d USING (chr_index)
  GROUP BY 1, 2
)
""",
)
def a_lpt_schedule(spark, sf_dir):
    """A-5 + O-4: per-region weights, heaviest-first schedule order
    (SparkGA1.scala:1153-1162 LPT heuristic, rank materialized).
    Rank via windows.global_rank — distributed two-pass, no
    single-partition window over the region table."""
    from sparkga1_spark.operators.windows import global_rank

    binned = binning.bin_by_region(_alignments(spark, sf_dir), _seq_dict(spark, sf_dir))
    weights = binned.groupBy("chr_index", "reg").agg(F.count("*").alias("n_reads"))
    return global_rank(
        weights,
        order_cols=[F.desc("n_reads"), "chr_index", "reg"],
        rank_col="schedule_order",
    )


@query(
    "a_dedup_keep_best",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, count(*) AS n_unique_loci, CAST(sum(mapq) AS BIGINT) AS sum_best_mapq
FROM (
  SELECT chr_index, pos, mapq,
         row_number() OVER (PARTITION BY chr_index, pos
                            ORDER BY mapq DESC, read_name) AS rn
  FROM alignments
)
WHERE rn = 1
GROUP BY chr_index
""",
)
def a_dedup_keep_best(spark, sf_dir):
    """A-7: MarkDuplicates keep-best-quality-per-locus
    (SparkGA1.scala:837-839 semantics) then per-chr rollup.

    r13 optimization (guide §2.3 aggregate-before-shuffle + narrower
    rows): this rollup only consumes the best row's mapq, and with the
    ordering (mapq DESC, read_name) that is exactly max(mapq) per
    locus — the read_name tiebreak picks WHICH row survives but never
    changes its mapq. So the generic keep_best window (full alignment
    rows shuffled, per-partition sort, row_number) collapses to a
    3-column HashAggregate with map-side partial agg. PLANS.md:565's
    r4 finding (window beats min_by(struct)) still holds for callers
    that need the whole surviving row; this query does not. Measured
    at sf0.1 (steal ≤0.01%, two interleaved rounds, /tmp/keepbest_ab):
    1.52/1.34 s -> 0.35/0.31 s, results identical; plan diff: Window +
    Sort + full-row Exchange -> partial HashAggregate + 3-column
    Exchange (plans/r13/a_dedup_keep_best_{before,after}.txt).
    test_keep_best_agg_equivalence pins the window⇄aggregate
    equivalence on the live fixture."""
    al = _alignments(spark, sf_dir)
    best = (
        al.select("chr_index", "pos", "mapq")
        .groupBy("chr_index", "pos")
        .agg(F.max("mapq").alias("mapq"))
    )
    return best.groupBy("chr_index").agg(
        F.count("*").alias("n_unique_loci"),
        F.sum("mapq").cast("long").alias("sum_best_mapq"),
    )


# --------------------------------------------------------------------------
# M2 joins (SURVEY.md §7.3 M2): broadcast dim, multiway star,
# semi/anti known-sites, interval range join.
# --------------------------------------------------------------------------


@query(
    "j_star_revenue",
    oracle=f"""
SELECT r_name, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def j_star_revenue(spark, sf_dir):
    """Multiway equi-join over the star schema (SURVEY.md §2.4 'free'
    generalization of J-1): dims broadcast, fact never shuffled for the
    joins — only the final groupBy exchanges (partial aggs first)."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "j_semi_known_sites",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, count(*) AS n_at_known, CAST(sum(mapq) AS BIGINT) AS sum_mapq
FROM alignments a
WHERE EXISTS (SELECT 1 FROM known_sites k
              WHERE k.chr_index = a.chr_index AND k.pos = a.pos)
GROUP BY chr_index
""",
)
def j_semi_known_sites(spark, sf_dir):
    """J-3 semi form: reads AT known sites. The site list is small, so
    it is broadcast: Catalyst plans BroadcastHashJoin(LeftSemi)."""
    al = _alignments(spark, sf_dir)
    ks = fixtures.known_sites(load_table(spark, sf_dir, "lineitem"))
    return (
        al.join(F.broadcast(ks), ["chr_index", "pos"], "left_semi")
        .groupBy("chr_index")
        .agg(F.count("*").alias("n_at_known"),
             F.sum("mapq").cast("long").alias("sum_mapq"))
    )


@query(
    "j_anti_known_sites",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, count(*) AS n_novel
FROM alignments a
WHERE NOT EXISTS (SELECT 1 FROM known_sites k
                  WHERE k.chr_index = a.chr_index AND k.pos = a.pos)
GROUP BY chr_index
""",
)
def j_anti_known_sites(spark, sf_dir):
    """J-3 anti form: the BQSR -knownSites exclusion
    (SparkGA1.scala:898-905) as a broadcast left_anti join."""
    al = _alignments(spark, sf_dir)
    ks = fixtures.known_sites(load_table(spark, sf_dir, "lineitem"))
    return (
        al.join(F.broadcast(ks), ["chr_index", "pos"], "left_anti")
        .groupBy("chr_index")
        .agg(F.count("*").alias("n_novel"))
    )


@query(
    "j_range_exome_overlap",
    oracle=FIXTURE_CTES
    + """
SELECT a.chr_index,
       count(*) AS n_pairs,
       CAST(sum(least(a.end_pos, i.end_fixed) - greatest(a.pos, i.start)) AS BIGINT)
           AS total_overlap
FROM alignments a
JOIN (SELECT chr_index, start,
             CASE WHEN start = "end" THEN "end" + 1 ELSE "end" END AS end_fixed
      FROM exome_intervals WHERE start >= 0 AND "end" >= start) i
  ON a.chr_index = i.chr_index
 AND a.pos < i.end_fixed AND i.start < a.end_pos
GROUP BY a.chr_index
""",
)
def j_range_exome_overlap(spark, sf_dir):
    """J-2: interval-overlap range join (bedtools intersect semantics,
    SparkGA1.scala:703-732) via the bin-bucket equi+range rewrite —
    DuckDB's oracle does the plain theta join; the engine's plan is a
    shuffled equi-join on (chr, bin) that AQE can balance at scale."""
    from sparkga1_spark.operators.joins import interval_overlap_join
    from sparkga1_spark.operators.skew import spread_if_narrow

    # r13 (guide §2.5 input skew): sf-scale lineitem is one row group →
    # one scan task, and this plan has NO other exchange before the
    # 25-row aggregate, so the whole explode+broadcast-probe chain
    # serialized on one core. spread_if_narrow is a no-op once the scan
    # splits (the 100 TB case). Measured 1.556 → 1.374 s median.
    al = spread_if_narrow(_alignments(spark, sf_dir), "chr_index", "pos")
    ivl = filters.fix_intervals(
        fixtures.exome_intervals(load_table(spark, sf_dir, "part"))
    )
    joined = interval_overlap_join(al, ivl, broadcast_intervals=True)
    overlap = F.least(F.col("end_pos"), F.col("end")) - F.greatest(
        F.col("pos"), F.col("start")
    )
    return joined.groupBy("chr_index").agg(
        F.count("*").alias("n_pairs"),
        F.sum(overlap).cast("long").alias("total_overlap"),
    )


# --------------------------------------------------------------------------
# M3 windows (SURVEY.md §7.3 M3) + M4 set ops.
# --------------------------------------------------------------------------


@query(
    "p2_interval_coalesce",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, min(pos) AS island_start, max(end_pos) AS island_end,
       count(*) AS n_records
FROM (
  SELECT chr_index, pos, end_pos,
         sum(ni) OVER (PARTITION BY chr_index
                       ORDER BY pos, end_pos, read_name
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT *, CASE WHEN prev_max IS NULL OR pos > prev_max + 51
                   THEN 1 ELSE 0 END AS ni
    FROM (
      SELECT chr_index, pos, end_pos, read_name,
             max(end_pos) OVER (PARTITION BY chr_index
                                ORDER BY pos, end_pos, read_name
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
      FROM alignments
    )
  )
)
GROUP BY chr_index, island
""",
)
def p2_interval_coalesce(spark, sf_dir):
    """P2-6: gaps-and-islands interval coalescing with 51-bp slack
    (RegionIterator.java:101-132, INTERVAL_OVERLAP at :59).

    r13 optimization (guide §2.3 shuffle fewer bytes / narrower rows):
    the read_name tiebreak is dropped from the engine's window order —
    it cannot change this query's RESULT, so the chr exchange stops
    carrying the one string column. Proof sketch: rows tied on
    (pos, end_pos) are indistinguishable to every downstream value —
    within a tie run each row past the first sees the same
    prev_max ≥ its own end_pos, so the run's island-opening pattern
    (and hence the multiset of rows per island) is the same under ANY
    tie order, and the output aggregates (min pos / max end_pos /
    count) never read read_name. The oracle keeps its ORDER BY
    read_name form — identical aggregates either way — and equality of
    both engine forms is pinned by
    test_interval_coalesce_tiebreak_free_equivalence. Measured at
    sf0.1 (8 interleaved rounds, steal 0.9%): 1.145 → 1.02 s median;
    shuffle bytes 13.8 MB → narrower (read_name was the widest
    column)."""
    from sparkga1_spark.operators.windows import coalesce_intervals

    al = _alignments(spark, sf_dir)
    return coalesce_intervals(
        al, partition_cols=("chr_index",), slack=51
    ).select("chr_index", "island_start", "island_end", "n_records")


@query(
    "p2_equal_freq_buckets",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, bucket, count(*) AS n, min(pos) AS lo, max(pos) AS hi
FROM (
  SELECT chr_index, pos,
         ntile(8) OVER (PARTITION BY chr_index ORDER BY pos, read_name) AS bucket
  FROM alignments
)
GROUP BY chr_index, bucket
""",
)
def p2_equal_freq_buckets(spark, sf_dir):
    """P2-4: equal-frequency re-split of a region's positions
    (SparkGA1.scala:304-418 gather-sort-cut, as ntile). At scale the
    physical form is repartitionByRange; this materializes the exact
    bucket semantics.

    r13 optimization (guide §2.3, the p2_interval_coalesce argument):
    the read_name tiebreak left the engine's window order — ntile
    bucket SIZES are fixed by row counts alone, and rows tied on pos
    at a bucket boundary are interchangeable for every output column
    (n / min(pos) / max(pos)), so the per-(chr, bucket) aggregates are
    identical under any tie order while the chr exchange stops
    carrying the string column. The oracle keeps its read_name ORDER
    BY. Equality pinned by
    test_equal_freq_buckets_tiebreak_free_equivalence."""
    from sparkga1_spark.operators.windows import equal_frequency_buckets

    al = _alignments(spark, sf_dir)
    b = equal_frequency_buckets(
        al,
        partition_cols=("chr_index",),
        order_cols=("pos",),
        n_buckets=8,
    )
    return b.groupBy("chr_index", "bucket").agg(
        F.count("*").alias("n"), F.min("pos").alias("lo"), F.max("pos").alias("hi")
    )


@query(
    "p2_skew_detect",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, reg, n_reads,
       CAST(floor(n_reads * 4.0 / avg_reads + 0.5) AS INTEGER) AS segments
FROM (
  SELECT chr_index, reg, n_reads,
         avg(n_reads) OVER () AS avg_reads
  FROM (
    SELECT a.chr_index,
           CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg,
           count(*) AS n_reads
    FROM alignments a JOIN sequence_dict d USING (chr_index)
    GROUP BY 1, 2
  )
)
WHERE floor(n_reads * 4.0 / avg_reads + 0.5) > 1
""",
)
def p2_skew_detect(spark, sf_dir):
    """P2-3: skew detection — segments = round(reads × regionsFactor /
    avgReadsPerRegion) with regionsFactor=4 (SparkGA1.scala:241-242);
    rounding via floor(x+0.5) so both engines agree on .5 ties."""
    binned = binning.bin_by_region(_alignments(spark, sf_dir), _seq_dict(spark, sf_dir))
    # per-region weights feed both the average and the final projection:
    # persist so the scalar subquery and the final plan share one alignment scan
    weights = tracked_persist(
        binned.groupBy("chr_index", "reg").agg(F.count("*").alias("n_reads"))
    )
    # scalar average attached as a once-executed runtime subquery
    # (r7 VERDICT #2: the crossJoin(broadcast(agg)) form is a BNL whose
    # build side replicates the weights subtree), NOT avg().over(Window
    # .partitionBy()) — a partition-less window funnels the whole
    # region table through one task
    avg = weights.agg(F.avg("n_reads").alias("_avg"))
    seg = F.floor(F.col("n_reads") * 4.0 / F.col("_avg") + 0.5)
    return (
        weights.withColumns(scalar_subq(avg))
        .withColumn("segments", seg.cast("int"))
        .filter(F.col("segments") > 1)
        .select("chr_index", "reg", "n_reads", "segments")
    )


@query(
    "o_global_sort_vcf",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, pos, id, qual, filter,
       row_number() OVER (ORDER BY chr_index, pos, id) AS global_rank
FROM (
  SELECT -1 AS chr_index, CAST(r_regionkey AS INTEGER) AS pos,
         r_name AS id, 0.0 AS qual, 'header' AS filter
  FROM region
  UNION ALL
  SELECT chr_index, pos, id, qual, filter FROM variants
)
""",
)
def o_global_sort_vcf(spark, sf_dir):
    """O-2 + U-2: header rows (chr_index=-1) unioned with the variant
    body, globally ordered by composite key — the reference's final
    sortByKey merge (SparkGA1.scala:1190-1192, 1241), with the rank
    materialized so ordering is oracle-checkable. Rank via
    windows.global_rank — distributed two-pass, no single-partition
    window over the body."""
    va = fixtures.variants(load_table(spark, sf_dir, "orders")).select(
        "chr_index", "pos", "id", "qual", "filter"
    )
    hdr = load_table(spark, sf_dir, "region").select(
        F.lit(-1).alias("chr_index"),
        F.col("r_regionkey").cast("int").alias("pos"),
        F.col("r_name").alias("id"),
        F.lit(0.0).alias("qual"),
        F.lit("header").alias("filter"),
    )
    unioned = hdr.unionByName(va)
    return windows_ops.global_rank(
        unioned, order_cols=["chr_index", "pos", "id"], rank_col="global_rank"
    )


@query(
    "u_distinct_variants",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, pos, id, ref, alt, qual, filter
FROM (
  SELECT chr_index, pos, id, ref, alt, qual, filter FROM variants
  UNION ALL
  SELECT chr_index, pos, id, ref, alt, qual, filter FROM variants
  WHERE CAST(id AS BIGINT) % 7 = 0
)
GROUP BY ALL
""",
)
def u_distinct_variants(spark, sf_dir):
    """U-3: duplicate VCF lines from overlapping region boundaries
    removed by distinct (SparkGA1.scala:1241)."""
    va = fixtures.variants(load_table(spark, sf_dir, "orders")).select(
        "chr_index", "pos", "id", "ref", "alt", "qual", "filter"
    )
    dup = va.filter(F.col("id").cast("long") % 7 == 0)
    return va.unionByName(dup).distinct()


@query(
    "u_intersect_except",
    oracle="""
SELECT 'both' AS tag, k FROM (
  SELECT DISTINCT o_custkey AS k FROM orders
  INTERSECT
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
)
UNION ALL
SELECT 'only_orders' AS tag, k FROM (
  SELECT DISTINCT o_custkey AS k FROM orders
  EXCEPT
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
)
""",
)
def u_intersect_except(spark, sf_dir):
    """Relational intersect/except (SURVEY.md §2.6: interval-only in the
    reference, free in the engine)."""
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    cu = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("k")
    )
    both = od.intersect(cu).select(F.lit("both").alias("tag"), "k")
    only = od.exceptAll(cu.distinct()).select(F.lit("only_orders").alias("tag"), "k")
    return both.unionByName(only)


@query(
    "o_secondary_sort_first",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, reg, read_name AS first_read, pos AS first_pos
FROM (
  SELECT a.chr_index,
         CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg,
         a.read_name, a.pos,
         row_number() OVER (
           PARTITION BY a.chr_index,
                        CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER)
           ORDER BY a.pos, a.read_name) AS rn
  FROM alignments a JOIN sequence_dict d USING (chr_index)
)
WHERE rn = 1
""",
)
def o_secondary_sort_first(spark, sf_dir):
    """O-1: per-region coordinate sort (SparkGA1.scala:741-747) made
    observable — the first record of each (chr, reg) under the sort."""
    from pyspark.sql import Window

    binned = binning.bin_by_region(_alignments(spark, sf_dir), _seq_dict(spark, sf_dir))
    w = Window.partitionBy("chr_index", "reg").orderBy("pos", "read_name")
    ranked = binned.withColumn("rn", F.row_number().over(w))
    return ranked.filter(F.col("rn") == 1).select(
        "chr_index", "reg",
        F.col("read_name").alias("first_read"), F.col("pos").alias("first_pos"),
    )


@query(
    "o_topk_per_chr",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, read_name, mapq
FROM (
  SELECT chr_index, read_name, mapq,
         row_number() OVER (PARTITION BY chr_index
                            ORDER BY mapq DESC, read_name) AS rn
  FROM alignments
)
WHERE rn <= 3
""",
)
def o_topk_per_chr(spark, sf_dir):
    """Top-k per group (SURVEY.md §2.5 addition): best 3 reads per chr.
    The filter is on the materialized row number, which Catalyst turns
    into a WindowGroupLimit: the limit is pushed into the per-partition
    sort."""
    from pyspark.sql import Window

    al = _alignments(spark, sf_dir)
    w = Window.partitionBy("chr_index").orderBy(F.desc("mapq"), "read_name")
    return (
        al.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("chr_index", "read_name", "mapq")
    )


@query(
    "w_running_revenue",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       {dsum_over_sql('o_totalprice',
                      '''(PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)''')} AS running_total,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""",
)
def w_running_revenue(spark, sf_dir):
    """Analytic frame (running total per customer) — the cumulative
    window family the reference lacks but any engine user expects.
    dsum_over: decimal frame accumulation, order-independent."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return od.select(
        "o_orderkey", "o_custkey",
        dsum_over(
            "o_totalprice", w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


# --------------------------------------------------------------------------
# M8 training-data-pipeline extensions (BASELINE.json north star):
# dedup family, similarity search, text analysis, multimodal plumbing.
# --------------------------------------------------------------------------

from sparkga1_spark.functions import text as T  # noqa: E402
from sparkga1_spark.functions import vectors as V  # noqa: E402
from sparkga1_spark.operators import dedup as D  # noqa: E402
from sparkga1_spark.operators import similarity as S  # noqa: E402

# doc_id → distinct word-3-gram shingle hashes; the DuckDB mirror of
# functions/text.py shingle_hash_rows (see the notes in its docstring).
DOC_SHINGLES_SQL = """
  SELECT doc_id, sh FROM (
    SELECT doc_id,
           list_distinct([CAST(('0x' || substr(md5(W[i] || ' ' || W[i+1] || ' ' || W[i+2]), 1, 15)) AS BIGINT)
                          for i in generate_series(1, greatest(len(W)-2, 0))]) AS sh
    FROM (SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents)
  )
"""


def _doc_shingle_rows(spark, sf_dir):
    """Distinct (doc_id, h) shingle-hash rows — the codegen'd scale shape
    (see functions/text.py shingle_hash_rows)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.shingle_hash_rows(docs)


def _minhash_sql_exprs() -> list[str]:
    from sparkga1_spark.functions.hashing import keyed_hash_sql

    return [
        f"list_min([{keyed_hash_sql('x', a, b)} for x in sh]) AS mh{i}"
        for i, (a, b) in enumerate(D.minhash_perms(8))
    ]


def _dedup_pairs(spark, sf_dir):
    """LSH candidate-pair stage (MinHash 8 perms, 4×2 bands)."""
    return D.minhash_lsh_pairs(_doc_shingle_rows(spark, sf_dir), id_col="doc_id")


def _dedup_cc_labels(spark, sf_dir):
    """Connected-component labels over the LSH candidate-pair graph."""
    return D.connected_components(_dedup_pairs(spark, sf_dir))


@query(
    "x_dedup_exact",
    oracle="""
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def x_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash — keep min doc_id per distinct text;
    shuffle carries the 8-byte hash, not the document body."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, text_col="text", id_col="doc_id")


# Shared WITH-chain producing the LSH candidate pairs; used verbatim by
# both the pair query's oracle and the connected-components oracle so
# the two stages are checked against the SAME pair construction.
LSH_PAIRS_WITH_SQL = f"""
doc_shingles AS ({DOC_SHINGLES_SQL}),
signatures AS (
  SELECT doc_id, {', '.join(_minhash_sql_exprs())}
  FROM doc_shingles WHERE len(sh) > 0
),
bands AS (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR) AS key FROM signatures
  UNION ALL
  SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR) FROM signatures
  UNION ALL
  SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || ':' || CAST(mh5 AS VARCHAR) FROM signatures
  UNION ALL
  SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || ':' || CAST(mh7 AS VARCHAR) FROM signatures
),
lsh_pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)
"""

# Shared by x_incremental_dedup_triage (in-flight corpus bands) and
# x_incremental_dedup_bucketed (standing bucketed index): the
# CLASSIFICATION is identical — only the physical corpus-side access
# path differs — so both queries pin against the same oracle.
INCREMENTAL_TRIAGE_ORACLE = f"""
WITH {LSH_PAIRS_WITH_SQL},
bh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h,
         doc_id % 3 = 0 AS is_batch
  FROM documents
),
exact AS (
  SELECT DISTINCT b.doc_id FROM bh b JOIN bh c ON b.h = c.h
  WHERE b.is_batch AND NOT c.is_batch
),
near AS (
  SELECT DISTINCT CASE WHEN id_a % 3 = 0 THEN id_a ELSE id_b END AS doc_id
  FROM lsh_pairs WHERE (id_a % 3 = 0) <> (id_b % 3 = 0)
)
SELECT CAST((SELECT count(*) FROM bh WHERE is_batch) AS BIGINT) AS n_batch,
       CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact_dup,
       CAST((SELECT count(*) FROM near
             WHERE doc_id NOT IN (SELECT doc_id FROM exact)) AS BIGINT)
           AS n_near_dup_only,
       CAST((SELECT count(*) FROM bh WHERE is_batch)
            - (SELECT count(*) FROM exact)
            - (SELECT count(*) FROM near
               WHERE doc_id NOT IN (SELECT doc_id FROM exact)) AS BIGINT)
           AS n_new
"""


@query(
    "x_dedup_minhash_lsh",
    oracle=f"""
WITH {LSH_PAIRS_WITH_SQL}
SELECT id_a, id_b FROM lsh_pairs
""",
)
def x_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8 perms) + LSH(4 bands × 2) candidate near-dup pairs —
    the stage the CC/keep-canonical queries build on."""
    return _dedup_pairs(spark, sf_dir)


@query(
    "x_dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE {LSH_PAIRS_WITH_SQL},
edges AS (
  SELECT id_a AS s, id_b AS d FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(id, comp) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.comp FROM reach JOIN edges e ON reach.id = e.s
)
SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id
""",
)
def x_dedup_cc_clusters(spark, sf_dir):
    """Duplicate-GROUP assignment — connected components of the LSH
    candidate-pair graph, labelled by min doc_id. The stage a real
    dedup pipeline runs between pair generation and keep-one-per-group:
    pairwise candidates (A,B),(B,C) collapse to one cluster {A,B,C}, so
    the keep decision is per transitive group, not per pair. Iterative
    min-label propagation (operators/dedup.py connected_components);
    the DuckDB oracle computes the same fixpoint via a recursive CTE —
    two independent constructions of transitive closure agreeing on
    every label."""
    cc = _dedup_cc_labels(spark, sf_dir)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@query(
    "x_dedup_ngram_jaccard",
    oracle=f"""
WITH doc_shingles AS ({DOC_SHINGLES_SQL}),
exploded AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM doc_shingles)
SELECT id_a, id_b, jaccard FROM (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         round(CAST(count(*) AS DOUBLE)
               / (any_value(l.sz) + any_value(r.sz) - count(*)), 6) AS jaccard
  FROM exploded l JOIN exploded r ON l.h = r.h AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
WHERE jaccard >= 0.2
""",
)
def x_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard similarity pairs at τ=0.2 (word 3-grams)."""
    rows = _doc_shingle_rows(spark, sf_dir)
    return D.jaccard_pairs(rows, id_col="doc_id", threshold=0.2)


@query(
    "x_dedup_containment",
    oracle=f"""
WITH doc_shingles AS ({DOC_SHINGLES_SQL}),
exploded AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM doc_shingles)
SELECT id_contained, id_container, n_shared, containment FROM (
  SELECT l.doc_id AS id_contained, r.doc_id AS id_container,
         CAST(count(*) AS BIGINT) AS n_shared,
         any_value(l.sz) AS sz_a,
         round(CAST(count(*) AS DOUBLE) / any_value(l.sz), 6) AS containment
  FROM exploded l JOIN exploded r ON l.h = r.h AND l.doc_id <> r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
WHERE 10 * n_shared >= 9 * sz_a
""",
)
def x_dedup_containment(spark, sf_dir):
    """Directional containment near-dup at c = |A∩B|/|A| ≥ 0.9 (word
    3-gram shingles): catches a short document quoted inside a longer
    one — high containment, LOW Jaccard (union dominated by the
    container), so both x_dedup_ngram_jaccard and the MinHash-LSH
    route — whose collision probability tracks Jaccard — structurally
    miss the case. Pure-integer keep predicate 10·inter ≥ 9·|A|; the
    fixture's planted near-twins make both directions non-vacuous."""
    rows = _doc_shingle_rows(spark, sf_dir)
    return D.containment_pairs(
        rows, id_col="doc_id", threshold_num=9, threshold_den=10
    )


@query(
    "x_dedup_simhash",
    oracle=f"""
WITH doc_shingles AS ({DOC_SHINGLES_SQL})
SELECT doc_id,
       CAST({' + '.join(
           f"(CASE WHEN list_sum([CASE WHEN (x & {1 << i}) > 0 THEN 1 ELSE -1 END for x in sh]) > 0 THEN {1 << i} ELSE 0 END)"
           for i in range(16)
       )} AS BIGINT) AS simhash
FROM doc_shingles
WHERE len(sh) > 0
""",
)
def x_dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprints per document (near-dup = small
    Hamming distance; banding over bit-slices finds pairs at scale)."""
    rows = _doc_shingle_rows(spark, sf_dir)
    return D.simhash16_rows(rows, id_col="doc_id")


@query(
    "x_text_quality",
    oracle="""
SELECT doc_id,
       len(str_split_regex(trim(text), ' +')) AS n_words,
       length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_tokens,
       round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS alpha_ratio,
       round(CAST(len(list_filter(str_split_regex(trim(text), ' +'),
                                  w -> w IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
             / len(str_split_regex(trim(text), ' +')), 6) AS stopword_ratio
FROM documents
""",
)
def x_text_quality(spark, sf_dir):
    """Quality scoring: word/BPE-ish token counts, alphabetic ratio,
    stopword ratio — the standard pretraining quality signals, all
    JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.word_count(t).alias("n_words"),
        T.token_count_bpeish(t).alias("n_tokens"),
        hround(T.alpha_ratio(t), 6).alias("alpha_ratio"),
        hround(T.stopword_ratio(t), 6).alias("stopword_ratio"),
    )


@query(
    "x_lang_id",
    oracle="""
SELECT lang, pred_lang, count(*) AS n FROM (
  SELECT lang,
         CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
              WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
              WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
              WHEN s_fr >= s_zh THEN 'fr'
              ELSE 'zh' END AS pred_lang
  FROM (
    SELECT lang,
           len(list_filter(W, w -> w IN ('the','a','of','and'))) AS s_en,
           len(list_filter(W, w -> w IN ('el','la','de','que'))) AS s_es,
           len(list_filter(W, w -> w IN ('der','die','und','das'))) AS s_de,
           len(list_filter(W, w -> w IN ('le','la','et','les'))) AS s_fr,
           len(list_filter(W, w -> w IN ('的','了','是','在'))) AS s_zh
    FROM (SELECT lang, str_split_regex(trim(text), ' +') AS W FROM documents)
  )
)
GROUP BY lang, pred_lang
""",
)
def x_lang_id(spark, sf_dir):
    """Language-ID heuristic (marker-token voting) with a confusion
    matrix against the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    scores = T.lang_scores(F.col("text"))
    s = {k: scores[k] for k in ("en", "es", "de", "fr", "zh")}
    pred = (
        F.when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"], s["zh"]), "es")
        .when(s["de"] >= F.greatest(s["fr"], s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@query(
    "x_doc_fingerprint",
    oracle=f"""
WITH doc_shingles AS ({DOC_SHINGLES_SQL})
SELECT d.doc_id,
       list_min(s.sh) AS fp_min_shingle,
       CAST(('0x' || substr(md5(substr(d.text, 1, 64)), 1, 15)) AS BIGINT) AS fp_head,
       d.n_chars
FROM documents d JOIN doc_shingles s ON d.doc_id = s.doc_id
WHERE len(s.sh) > 0
""",
)
def x_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-shingle (winnowing-lite) + head
    hash + length — a compact signature for fast pre-filtering."""
    from sparkga1_spark.functions.hashing import stable_hash64

    docs = load_table(spark, sf_dir, "documents")
    fp = _doc_shingle_rows(spark, sf_dir).groupBy("doc_id").agg(
        F.min("h").alias("fp_min_shingle")
    )
    return docs.join(fp, "doc_id").select(
        "doc_id",
        "fp_min_shingle",
        stable_hash64(F.substring("text", 1, 64)).alias("fp_head"),
        "n_chars",
    )


_ANN_COS = V.COSINE_SQL.format(a="q.embedding", b="c.embedding")


@query(
    "x_ann_bruteforce_topk",
    oracle=f"""
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({_ANN_COS}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY round({_ANN_COS}, 6) DESC, c.vec_id) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id % 20 = 0 AND c.vec_id != q.vec_id
)
WHERE rank <= 5
""",
)
def x_ann_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-5 for a 5% probe query set against all
    candidates — the ANN correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 20 == 0)
    return S.brute_force_topk(qs, emb, k=5, dim=64)


@query(
    "x_ann_lsh_buckets",
    oracle="""
SELECT b AS bucket, count(*) AS n_vecs FROM (
  SELECT CAST((CASE WHEN list_sum([e[j] * (((0*64 + (j-1)) * 2654435761 % 1000)/1000.0 - 0.5) for j in generate_series(1,64)]) > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN list_sum([e[j] * (((1*64 + (j-1)) * 2654435761 % 1000)/1000.0 - 0.5) for j in generate_series(1,64)]) > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN list_sum([e[j] * (((2*64 + (j-1)) * 2654435761 % 1000)/1000.0 - 0.5) for j in generate_series(1,64)]) > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN list_sum([e[j] * (((3*64 + (j-1)) * 2654435761 % 1000)/1000.0 - 0.5) for j in generate_series(1,64)]) > 0 THEN 8 ELSE 0 END) AS INTEGER) AS b
  FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
)
GROUP BY b
""",
)
def x_ann_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucket assignment (4 deterministic hyperplanes) —
    the partitioning pass of the scale path for similarity search."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(S.sign_lsh_bucket(F.col("embedding"), 64, 4).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


# DuckDB mirror of similarity.sign_lsh_bucket over the planted-near-dup
# fixture (4 hyperplanes, dim 64) — shared by x_embedding_neardup and
# x_semdedup_prune so the bucket construction cannot drift between them.
_EMB_BUCKETED_SQL = (
    "\n  SELECT vec_id, embedding,\n         CAST("
    + "\n            + ".join(
        f"(CASE WHEN list_sum([e[j] * ((({p}*64 + (j-1)) * 2654435761 % 1000)"
        f"/1000.0 - 0.5) for j in generate_series(1,64)]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    + " AS INTEGER) AS b"
    + "\n  FROM (SELECT vec_id, embedding, embedding AS e FROM emb_aug)\n"
)


@query(
    "x_embedding_neardup",
    oracle=f"""
WITH emb_aug AS ({fixtures.EMB_NEARDUP_SQL}),
bucketed AS ({_EMB_BUCKETED_SQL})
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       round({V.COSINE_SQL.format(a="l.embedding", b="r.embedding")}, 6) AS cos_sim
FROM bucketed l JOIN bucketed r ON l.b = r.b AND l.vec_id < r.vec_id
WHERE round({V.COSINE_SQL.format(a="l.embedding", b="r.embedding")}, 6) >= 0.8
""",
)
def x_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs at τ=0.8, searched only within
    sign-LSH buckets (the scale path: equi-join on bucket id). Runs on
    the planted-near-dup fixture (fixtures.EMB_NEARDUP_SQL) so the gate
    checks real pairs — the raw table maxes out at cosine ~0.51 and a
    0.8 threshold would pass vacuously (0 == 0 rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    aug = fixtures.embeddings_with_neardups(emb)
    return S.lsh_bucketed_neighbors(aug, dim=64, n_planes=4, threshold=0.8)


# --------------------------------------------------------------------------
# M5 black-box transforms (X-*) + M7 pipeline composition. The pandas
# stand-ins are deterministic so even the applyInPandas stages get full
# value oracles (SURVEY.md §7.4d's weaker rows-only check not needed).
# --------------------------------------------------------------------------

_VARIANT_BODY_SQL = """
  SELECT a.chr_index,
         CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg,
         a.pos, count(*) AS depth, round(avg(a.mapq), 6) AS avg_mapq
  FROM alignments a JOIN sequence_dict d USING (chr_index)
  WHERE (a.flags & 4) = 0
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
"""


@query(
    "x_blackbox_variant_call",
    oracle=FIXTURE_CTES + "\n" + _VARIANT_BODY_SQL,
)
def x_blackbox_variant_call(spark, sf_dir):
    """X-5 analog: per-(chr, reg) pandas transform (pileup depth ≥ 2),
    range-split on (chr, reg, pos) so a hot region spans tasks at
    position boundaries (SURVEY.md §4 row 5) — the oracle proves the
    split does not change group-transform results."""
    from sparkga1_spark.plans.pipeline import variant_call_stage

    al = filters.filter_unmapped(_alignments(spark, sf_dir))
    binned = binning.bin_by_region(al, _seq_dict(spark, sf_dir))
    return variant_call_stage(binned)


@query(
    "pipeline_end_to_end",
    oracle=FIXTURE_CTES
    + f"""
SELECT chr_index, reg, pos, depth, avg_mapq FROM (
  SELECT -1 AS chr_index, -1 AS reg, CAST(r_regionkey AS INTEGER) AS pos,
         CAST(0 AS BIGINT) AS depth, 0.0 AS avg_mapq
  FROM region
  UNION ALL
  {_VARIANT_BODY_SQL}
)
""",
)
def pipeline_end_to_end(spark, sf_dir):
    """M7: the reference's whole three-job pipeline as ONE lazy plan
    (scan→filter→bin→range-split pandas call→union header→sort)."""
    from sparkga1_spark.plans.pipeline import genomics_pipeline

    return genomics_pipeline(spark, sf_dir)


@query(
    "x_pipe_external_tool",
    oracle="""
SELECT upper(l_returnflag) AS line, count(*) AS n
FROM lineitem GROUP BY 1
""",
)
def x_pipe_external_tool(spark, sf_dir):
    """X-1's process-spawn shape (rdd.pipe analog): stream rows through
    an external command per partition (`tr a-z A-Z` standing in for bwa,
    SparkGA1.scala:128-143) and re-aggregate the stdout."""
    from sparkga1_spark.operators.transform import pipe_partitions

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("line")
    )
    piped = pipe_partitions(li, cmd=["tr", "a-z", "A-Z"])
    return piped.groupBy("line").agg(F.count("*").alias("n"))


@query(
    "x_flatmap_records",
    oracle="""
SELECT doc_id, u.i AS word_idx, u.w AS word FROM (
  SELECT doc_id,
         unnest([{'i': i, 'w': W[i]} for i in generate_series(1, len(W))]) AS u
  FROM (SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents)
)
""",
)
def x_flatmap_records(spark, sf_dir):
    """X-1's 1→N record-expansion shape via mapInPandas: each document
    batch flat-maps to one output row per token (the chunk→SAM-records
    dataflow of bwaRun, SparkGA1.scala:63-217)."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def explode_words(batches):
        for pdf in batches:
            rows = []
            for doc_id, text_val in zip(pdf["doc_id"], pdf["text"]):
                for i, w in enumerate(text_val.strip().split()):
                    rows.append((doc_id, i + 1, w))
            yield pd.DataFrame(rows, columns=["doc_id", "word_idx", "word"])

    return docs.mapInPandas(
        explode_words, schema="doc_id long, word_idx int, word string"
    )


@query(
    "x_multimodal_decode",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       CAST(h % 640 + 1 AS INTEGER) AS width,
       CAST(h % 480 + 1 AS INTEGER) AS height,
       CAST(h % 3 + 1 AS INTEGER) AS channels,
       'FAKE' AS format
FROM (SELECT doc_id, text,
             CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
      FROM documents)
""",
)
def x_multimodal_decode(spark, sf_dir):
    """Multimodal: binary payload → typed image metadata via the
    mapInPandas decode stage (operators/multimodal.py; codec stubbed
    deterministically — see its STUB POLICY)."""
    from sparkga1_spark.operators.multimodal import decode_images

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return decode_images(docs)


@query(
    "x_multimodal_framesample",
    oracle="""
SELECT doc_id,
       CAST(u AS INTEGER) AS frame_idx,
       CAST(u * 1000 AS INTEGER) AS frame_ts_ms,
       CAST(('0x' || substr(md5(text || CAST(u AS VARCHAR)), 1, 15)) AS BIGINT)
           AS frame_hash
FROM (
  SELECT doc_id, text,
         unnest([i for i in generate_series(0, CAST(least(8, greatest(1, octet_length(encode(text)) * 10 // 1000)) AS BIGINT) - 1)]) AS u
  FROM documents
)
""",
)
def x_multimodal_framesample(spark, sf_dir):
    """Multimodal: video frame sampling as a 1→N mapInPandas flatMap —
    real frame-count/timestamp logic, stubbed frame decode."""
    from sparkga1_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return sample_frames(docs)


@query(
    "x_multimodal_audio_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(b) AS INTEGER) AS n_samples,
       16000 AS sample_rate,
       CAST(octet_length(b) * 1000 // 16000 AS INTEGER) AS duration_ms,
       CAST(list_sum([CAST(('0x' || substr(hex(b), 2*i-1, 2)) AS INTEGER)
                      for i in generate_series(1, octet_length(b))]) AS BIGINT)
           AS rms
FROM (SELECT doc_id, encode(text) AS b FROM documents)
""",
)
def x_multimodal_audio_features(spark, sf_dir):
    """Multimodal: audio feature extraction over binary payloads
    (byte-statistics stand-in for the codec path)."""
    from sparkga1_spark.operators.multimodal import audio_features

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return audio_features(docs)


@query(
    "x_multimodal_bmp_decode",
    oracle="""
SELECT doc_id,
       CAST(54 + ((3*(doc_id % 61 + 4) + 3) // 4 * 4) * (doc_id % 37 + 4)
            AS INTEGER) AS byte_len,
       CAST(doc_id % 61 + 4 AS INTEGER) AS width,
       CAST(doc_id % 37 + 4 AS INTEGER) AS height,
       3 AS channels,
       'BMP' AS format
FROM documents
""",
)
def x_multimodal_bmp_decode(spark, sf_dir):
    """Multimodal REAL decode (r2 VERDICT #4): plant an actual 24-bit
    BMP per document (closed-form dimensions, pixels tiled from the
    text bytes), then parse its header + pixel layout natively — no
    codec library, no FAKE branch. The oracle states the expected
    metadata in closed form, so a bug in either the builder or the
    parser breaks the hash."""
    from sparkga1_spark.operators.multimodal import decode_images, plant_bmp_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_images(plant_bmp_payloads(docs))


@query(
    "x_multimodal_wav_features",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 200 + 50 AS INTEGER) AS n_samples,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END AS INTEGER)
           AS sample_rate,
       CAST((doc_id % 200 + 50) * 1000
            // (CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 8000 END)
            AS INTEGER) AS duration_ms,
       CAST(list_sum([abs((doc_id*31 + i*7) % 1001 - 500)
                      for i in generate_series(0, CAST(doc_id % 200 + 49 AS BIGINT))])
            AS BIGINT) AS rms
FROM documents
""",
)
def x_multimodal_wav_features(spark, sf_dir):
    """Multimodal REAL audio decode: plant an actual RIFF/WAV 16-bit
    PCM payload per document (closed-form rate/sample formula), parse
    the chunk list and PCM samples natively, and emit real
    sample-rate/duration/energy numbers the oracle re-derives in SQL."""
    from sparkga1_spark.operators.multimodal import audio_features, plant_wav_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_features(plant_wav_payloads(docs))


@query(
    "x_multimodal_ulaw_features",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 160 + 40 AS INTEGER) AS n_samples,
       8000 AS sample_rate,
       CAST((doc_id % 160 + 40) * 1000 // 8000 AS INTEGER) AS duration_ms,
       -- G.711 mu-law expansion in closed form: u = ~b & 0xFF,
       -- |sample| = (((u&15)*8 + 132) << ((u>>4)&7)) - 132
       CAST(list_sum([
              (((((255 - (doc_id*13 + i*7) % 256) & 15) * 8 + 132)
                << (((255 - (doc_id*13 + i*7) % 256) >> 4) & 7)) - 132)
              for i in generate_series(0, CAST(doc_id % 160 + 39 AS BIGINT))])
            AS BIGINT) AS rms
FROM documents
""",
)
def x_multimodal_ulaw_features(spark, sf_dir):
    """Multimodal REAL audio decode #2 — G.711 µ-law (public ITU-T
    spec), the COMPANDED telephony codec: plant a format-7 WAV whose
    code bytes are closed-form in doc_id, expand every code to linear
    PCM for real (vectorized ~b → mantissa/exponent → ±((m·8+132)
    << e) − 132, the g711.c recipe), and emit sample/rate/energy
    features. The oracle restates the full expansion formula in SQL
    bit-ops over the same closed-form bytes — a wrong shift, bias, or
    sign anywhere breaks the hash. With this the audio path mirrors
    the image story: PCM16 parsed raw, µ-law decompressed for real;
    only codecs needing a real library stay behind the import guard."""
    from sparkga1_spark.operators.multimodal import (
        audio_features,
        plant_ulaw_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_features(plant_ulaw_payloads(docs))


@query(
    "x_multimodal_alaw_features",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 140 + 50 AS INTEGER) AS n_samples,
       8000 AS sample_rate,
       CAST((doc_id % 140 + 50) * 1000 // 8000 AS INTEGER) AS duration_ms,
       -- G.711 A-law expansion in closed form: a = b ^ 0x55,
       -- |sample| = (a&15)*16 + 8           for segment 0,
       --            ((a&15)*16 + 264) << (seg-1) otherwise
       CAST(list_sum([
              CASE WHEN ((xor((doc_id*17 + i*11) % 256, 85) >> 4) & 7) = 0
                   THEN (xor((doc_id*17 + i*11) % 256, 85) & 15) * 16 + 8
                   ELSE ((xor((doc_id*17 + i*11) % 256, 85) & 15) * 16 + 264)
                        << (((xor((doc_id*17 + i*11) % 256, 85) >> 4) & 7) - 1)
              END
              for i in generate_series(0, CAST(doc_id % 140 + 49 AS BIGINT))])
            AS BIGINT) AS rms
FROM documents
""",
)
def x_multimodal_alaw_features(spark, sf_dir):
    """Multimodal REAL audio decode #4 — G.711 A-law (format 6), the
    European telephony companding twin of µ-law: a = code ^ 0x55,
    segment/mantissa expansion, sign bit SET = positive. With this the
    G.711 pair is complete; the oracle restates the expansion as SQL
    bit-ops over the same closed-form code bytes (sum of |sample|, so
    the sign convention cancels — the sign path itself is pinned by
    the pytest anchor vectors 0xD5 → +8 / 0x55 → −8 and a full
    256-code cross-check)."""
    from sparkga1_spark.operators.multimodal import (
        audio_features,
        plant_alaw_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_features(plant_alaw_payloads(docs))


def _adpcm_oracle() -> str:
    """DuckDB mirror of the IMA ADPCM decode as a list_reduce fold over
    the closed-form nibble stream: the accumulator carries [predictor,
    step-index, Σ|sample|] and every lambda step restates the spec's
    shift-add diff, sign bit, int16 clamp, and index-delta clamp using
    the SAME published 89/16-entry tables (imported from the decoder
    module so SQL and Python cannot drift; the tables themselves are
    pinned against hand-derived spec vectors in pytest)."""
    from sparkga1_spark.operators.multimodal import (
        _ADPCM_INDEX_DELTA,
        _ADPCM_STEPS,
    )

    st = "[" + ",".join(map(str, _ADPCM_STEPS)) + "]"
    it = "[" + ",".join(map(str, _ADPCM_INDEX_DELTA)) + "]"
    step = f"({st}[acc[2] + 1])"
    dmag = (
        f"(({step} >> 3) + (CASE WHEN (x[1] & 1) = 1 THEN {step} >> 2 ELSE 0 END)"
        f" + (CASE WHEN (x[1] & 2) = 2 THEN {step} >> 1 ELSE 0 END)"
        f" + (CASE WHEN (x[1] & 4) = 4 THEN {step} ELSE 0 END))"
    )
    newpred = (
        "greatest(-32768, least(32767, acc[1] +"
        f" (CASE WHEN (x[1] & 8) = 8 THEN -{dmag} ELSE {dmag} END)))"
    )
    newidx = f"greatest(0, least(88, acc[2] + {it}[(x[1] & 15) + 1]))"
    return f"""
WITH p AS (
  SELECT doc_id,
         2 * (doc_id % 60 + 20) AS n_nib,
         (doc_id * 97) % 2001 - 1000 AS p0,
         doc_id % 89 AS i0
  FROM documents
)
SELECT doc_id,
       CAST(1 + n_nib AS INTEGER) AS n_samples,
       8000 AS sample_rate,
       CAST((1 + n_nib) * 1000 // 8000 AS INTEGER) AS duration_ms,
       CAST(list_reduce(
         list_prepend([p0, i0, abs(p0)],
           [[CAST((doc_id*11 + i*5) % 16 AS BIGINT)]
            for i in generate_series(0, n_nib - 1)]),
         (acc, x) -> [{newpred}, {newidx}, acc[3] + abs({newpred})]
       )[3] AS BIGINT) AS rms
FROM p
"""


@query("x_multimodal_adpcm_features", oracle=_adpcm_oracle())
def x_multimodal_adpcm_features(spark, sf_dir):
    """Multimodal REAL audio decode #3 — IMA ADPCM (WAV format 0x11),
    the first genuinely STATEFUL codec in the suite: µ-law/PCM16 are
    memoryless per-sample maps, but ADPCM carries a (predictor,
    step-index) state nibble-to-nibble, so a single wrong shift,
    clamp, or table entry derails EVERY subsequent sample — the
    closed-form seed state sweeps all 89 step-table entries across the
    corpus. The oracle re-runs the whole state machine in SQL as a
    list_reduce fold (accumulator = [predictor, index, Σ|sample|]); the
    planted WAV exercises the real container too (extended fmt chunk,
    block header seeding, low-nibble-first packing). Per-blob decode is
    sequential BY SPEC (each sample depends on the previous state) —
    the parallelism axis at 100 TB is blobs-per-partition, which the
    planter's _spread repartition and Arrow batching already provide."""
    from sparkga1_spark.operators.multimodal import (
        audio_features,
        plant_adpcm_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_features(plant_adpcm_payloads(docs))


@query(
    "x_multimodal_flac_features",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 200 + 50 AS INTEGER) AS n_samples,
       8000 AS sample_rate,
       CAST((doc_id % 200 + 50) * 1000 // 8000 AS INTEGER) AS duration_ms,
       -- lossless codec => the energy is a closed form over the
       -- planted samples s_i = ((id*19 + i*13) % 256 - 128) * 256
       CAST(256 * list_sum([
              abs((doc_id*19 + i*13) % 256 - 128)
              for i in generate_series(0, CAST(doc_id % 200 + 49 AS BIGINT))])
            AS BIGINT) AS rms
FROM documents
""",
)
def x_multimodal_flac_features(spark, sf_dir):
    """Multimodal REAL audio decode #4 — FLAC (RFC 9639, public spec),
    the first ENTROPY-CODED audio codec decoded for real: plant a
    multi-frame FLAC stream per document (closed-form modular-ramp
    samples, blocksize 64, best fixed predictor per block, Rice
    residuals, CRC-8/16, STREAMINFO sample MD5), then run the complete
    decode — metadata walk, frame sync + CRC verification, UTF-8 frame
    numbers, predictor reconstruction, Rice/zigzag expansion, and the
    MD5 integrity check over the reassembled samples — and emit
    sample/rate/energy features. Losslessness makes Σ|s| a closed form
    the oracle states directly; a wrong predictor coefficient, Rice
    parameter, zigzag sign, or CRC anywhere breaks the hash (and the
    in-stream MD5 catches it even before the oracle does). With
    PCM16 / µ-law / A-law / ADPCM this closes every classic audio
    codec family on real decode paths — linear prediction + Rice
    coding being the audio twin of the image side's DCT+Huffman JPEG.
    Per-blob decode is sequential by spec; the 100 TB parallelism axis
    is blobs-per-partition via _spread + Arrow batching, like ADPCM."""
    from sparkga1_spark.operators.multimodal import (
        audio_features,
        plant_flac_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return audio_features(plant_flac_payloads(docs))


@query(
    "x_multimodal_y4m_frames",
    oracle="""
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(f * 40 AS INTEGER) AS frame_ts_ms,
       CAST((doc_id % 30 + 2) * 2 AS INTEGER) AS width,
       CAST((doc_id % 20 + 2) * 2 AS INTEGER) AS height,
       CAST((doc_id % 30 + 2) * 2 *
            list_sum([(doc_id + f*31 + r) % 256
                      for r in generate_series(0, CAST((doc_id % 20 + 2) * 2 - 1 AS BIGINT))])
            AS BIGINT) AS luma_sum
FROM (
  SELECT doc_id,
         unnest([i for i in generate_series(0, CAST(doc_id % 6 + 1 AS BIGINT))]) AS f
  FROM documents
)
""",
)
def x_multimodal_y4m_frames(spark, sf_dir):
    """Multimodal REAL video decode: plant an actual YUV4MPEG2 clip per
    document (closed-form geometry and row-patterned luma), walk the
    container's FRAME records natively and emit per-frame decoded luma
    statistics (1→N flatMap). The oracle recomputes every frame's
    luma_sum in closed form — wrong plane stride, frame offset, or
    chroma skip in either the builder or the parser breaks the hash.
    Closes the last stubbed modality: video frame DECODE is now real
    for the planted container (25 fps → 40 ms frame spacing)."""
    from sparkga1_spark.operators.multimodal import (
        decode_video_frames,
        plant_y4m_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_video_frames(plant_y4m_payloads(docs))


@query(
    "x_multimodal_mjpeg_frames",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 4 + 1 AS wb, doc_id % 3 + 1 AS hb,
         doc_id % 4 + 2 AS n, doc_id % 5 + 10 AS fps,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
), fr AS (
  SELECT doc_id, wb, hb, fps, L, bv,
         unnest([f for f in generate_series(0, CAST(n - 1 AS BIGINT))]) AS f
  FROM s
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(f * 1000 // fps AS INTEGER) AS frame_ts_ms,
       CAST(8 * wb AS INTEGER) AS width,
       CAST(8 * hb AS INTEGER) AS height,
       CAST(CASE WHEN (doc_id + f) % 4 = 1 THEN 3 ELSE 1 END AS INTEGER)
         AS channels,
       -- frame f tiles byte (j+f) mod L into constant block j: flat
       -- blocks are DC-only at quant 1, so the lossy codec is exactly
       -- lossless and px_sum = 64 x the rotated byte sum (x3 channels
       -- for the color progressive frames); L>0 always (the planter
       -- substitutes b'\\0' for empty text, whose byte sum is 0)
       CAST(CASE WHEN (doc_id + f) % 4 = 1 THEN 3 ELSE 1 END
            * CASE WHEN L = 0 THEN 0 ELSE
              64 * list_sum([bv[CAST((j + f) % L AS BIGINT) + 1]
                             for j in generate_series(0, CAST(wb * hb - 1 AS BIGINT))])
              END AS BIGINT) AS px_sum
FROM fr
""",
)
def x_multimodal_mjpeg_frames(spark, sf_dir):
    """Multimodal REAL compressed-VIDEO decode — Motion-JPEG in the
    RIFF/AVI container (public Microsoft AVI RIFF layout + ITU-T T.81
    frames): plant an actual MJPEG AVI per document (avih/strh/strf
    headers, word-aligned '00dc' chunks, idx1 index), then run the
    COMPLETE decode — RIFF chunk walk, MJPG stream validation, and a
    full JPEG entropy decode + IDCT of every frame — and emit per-frame
    pixel statistics (1→N flatMap). Frames rotate through baseline,
    spectral-selection progressive, and 4:4:4 color
    successive-approximation progressive layouts by (doc_id+f)%4, so
    this ONE row certifies container math × every JPEG decode path;
    the oracle restates each frame's px_sum in closed form (constant
    8×8 blocks tiled from rotated text bytes are exactly lossless
    through the lossy codec). Video's md5 FAKE branch now covers only
    inter-frame-predicted codecs (MP4/H.264). Reference parity: the
    chunked container walk mirrors SparkGA1's chunk→records contract
    (program/.../SparkGA1.scala X-1) with the payload decoded natively."""
    from sparkga1_spark.operators.multimodal import (
        decode_mjpeg_frames,
        plant_avi_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_mjpeg_frames(plant_avi_payloads(docs))


@query(
    "x_multimodal_mp4_meta",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 320 + 16 AS INTEGER) AS width,
       CAST(doc_id % 240 + 16 AS INTEGER) AS height,
       CAST((doc_id % 30 + 5) * (doc_id % 20 + 10) * 1000 // 600 AS BIGINT)
         AS duration_ms,
       CAST(doc_id % 30 + 5 AS INTEGER) AS n_samples,
       'avc1' AS codec,
       CAST(list_sum([(doc_id * 7 + i * 13) % 200 + 1
                      for i in generate_series(0, CAST(doc_id % 30 + 4 AS BIGINT))])
            AS BIGINT) AS sample_bytes
FROM documents
""",
)
def x_multimodal_mp4_meta(spark, sf_dir):
    """Multimodal REAL MP4/ISO-BMFF container METADATA (ISO/IEC
    14496-12, public spec): plant a minimal standards-shaped MP4 per
    document (ftyp + moov box tree + mdat; ids %3==0 use version-1
    64-bit-duration headers) and run the REAL box-tree walk —
    32/64-bit sizes, version 0/1 full boxes, 16.16 fixed-point tkhd
    geometry cross-checked against the stsd sample entry, stts/stsz
    sample-count agreement, and (r10) the full stsc chunk-attribution
    walk over stco/co64 with every chunk's byte range bounded inside
    mdat — emitting geometry, duration, sample count/bytes, and codec
    fourcc. The planter rotates multi-chunk/gap/co64 layouts on a %4
    axis (see plant_mp4_payloads). The PIXEL decode is NOT claimed (H.264 inter-frame
    prediction genuinely needs a codec library — that honest fake
    boundary stands); this closes the metadata half, mirroring the
    image family's meta/decode split (parse_jpeg_meta vs parse_jpeg).
    The oracle restates every column in closed form from the planting
    formulas, so a wrong box offset, fixed-point shift, or version-1
    layout breaks the hash."""
    from sparkga1_spark.operators.multimodal import (
        decode_mp4_meta,
        plant_mp4_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_mp4_meta(plant_mp4_payloads(docs))


@query(
    "x_multimodal_mp4_demux",
    oracle="""
WITH s AS (
  SELECT doc_id, doc_id % 30 + 5 AS n, doc_id % 20 + 10 AS delta
  FROM documents
), sm AS (
  SELECT doc_id, delta,
         unnest([i for i in generate_series(0, CAST(n - 1 AS BIGINT))]) AS i
  FROM s
)
SELECT doc_id,
       CAST(i AS INTEGER) AS sample_idx,
       CAST(i * delta * 1000 // 600 AS BIGINT) AS sample_ts_ms,
       CAST((doc_id * 7 + i * 13) % 200 + 1 AS INTEGER) AS size,
       CAST(list_sum([(i * 131 + j * 7) % 256
                      for j in generate_series(0, CAST((doc_id * 7 + i * 13) % 200 AS BIGINT))])
            AS BIGINT) AS byte_sum
FROM sm
""",
)
def x_multimodal_mp4_demux(spark, sf_dir):
    """Multimodal REAL MP4 DEMUX (one level past x_multimodal_mp4_meta):
    per-sample extraction from the planted ISO-BMFF streams — stts run
    deltas accumulate into real timestamps, stsz sizes accumulate into
    real mdat byte ranges, and the emitted byte_sum proves each slice
    touched the actual sample bytes (the planter's deterministic ramp
    makes it closed-form). r10: the full stsc chunk-attribution walk
    over stco/co64 is REAL — the planter rotates single-chunk,
    2-per-chunk, gap-separated 3-per-chunk, and irregular co64
    layouts, and the inter-chunk filler bytes make a contiguous read
    provably wrong while the oracle stays unchanged. Decoding the
    sample CONTENT stays honestly unclaimed (H.264). 1→N flatMap,
    same Arrow shape as the frame samplers."""
    from sparkga1_spark.operators.multimodal import (
        demux_mp4_samples,
        plant_mp4_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return demux_mp4_samples(plant_mp4_payloads(docs))


@query(
    "x_multimodal_mp3_meta",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 25 + 10 AS n,
         [44100, 48000, 32000][doc_id % 3 + 1] AS rate
  FROM documents
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_frames,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms,
       -- VBR: frame f at bitrate index (doc_id+f)%14+1 of the MPEG-1
       -- Layer III table, padding bit (doc_id+f)%2; frame length is
       -- the published 144*bitrate/rate + padding (integer floor)
       CAST(list_sum([
         144 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
               [(doc_id + f) % 14 + 1] * 1000 // rate + (doc_id + f) % 2
         for f in generate_series(0, CAST(n - 1 AS BIGINT))])
         AS BIGINT) AS audio_bytes
FROM s
""",
)
def x_multimodal_mp3_meta(spark, sf_dir):
    """Multimodal REAL MP3 frame-walk metadata (ISO/IEC 11172-3
    framing, public spec): plant a VBR MPEG-1 Layer III stream per
    document (per-frame bitrate index and padding bit both vary, ids
    %4==0 behind an ID3v2 tag, every payload ending in an ID3v1
    trailer) and walk EVERY frame header — sync/version/layer checks,
    the published bitrate and sample-rate index tables, the
    144·bitrate/rate+padding length formula — emitting frame count,
    sample rate, VBR-correct duration (1152 samples/frame), and the
    exact audio byte span. The oracle restates all of it in closed
    form, so a wrong table entry, a first-frame-only duration guess
    (the classic VBR bug), or mishandled tag skipping breaks the
    hash. Audio sample decode is NOT claimed (hybrid filterbank +
    Huffman spectrum need a codec library) — the same honest
    meta/decode split as MP4."""
    from sparkga1_spark.operators.multimodal import (
        decode_mp3_meta,
        plant_mp3_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_mp3_meta(plant_mp3_payloads(docs))


@query(
    "x_multimodal_mp3_tags",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0
            THEN 'doc ' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 4 = 0
            THEN 'source-' || CAST(doc_id % 7 AS VARCHAR) END AS artist,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS INTEGER)
         AS n_text_frames
FROM documents
""",
)
def x_multimodal_mp3_tags(spark, sf_dir):
    """Multimodal REAL ID3v2.4 tag extraction (id3.org public spec):
    the planted MP3s' leading tags carry actual TIT2/TPE1 text frames
    (synchsafe frame sizes, UTF-8 encoding byte), and the walk reads
    them frame-by-frame — padding-terminated, size-bounded, non-text
    frames skipped by size rather than mis-decoded. Untagged payloads
    (ids %4!=0) yield NULLs and a 0 frame count, so the oracle pins
    BOTH the extraction and the no-tag path. This is the audio
    metadata an LLM-pipeline ingest actually routes on (title/artist/
    source), sitting one level above x_multimodal_mp3_meta's framing
    walk."""
    from sparkga1_spark.operators.multimodal import (
        decode_mp3_tags,
        plant_mp3_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_mp3_tags(plant_mp3_payloads(docs))


@query(
    "x_multimodal_jpeg_meta",
    oracle="""
SELECT doc_id,
       CAST(162 + doc_id % 97 AS INTEGER) AS byte_len,
       CAST(doc_id % 53 + 4 AS INTEGER) AS width,
       CAST(doc_id % 43 + 4 AS INTEGER) AS height,
       3 AS channels,
       'JPEG' AS format
FROM documents
""",
)
def x_multimodal_jpeg_meta(spark, sf_dir):
    """Multimodal REAL metadata for a COMPRESSED format (r4): plant a
    structurally-valid baseline JPEG per document (closed-form
    dimensions in the SOF0 frame header, entropy bytes tiled from the
    text) and read width/height/components back with a real marker
    walk (operators/multimodal.py parse_jpeg_meta) — the same
    header-only path file(1)/identify use, no codec library. This
    retires the md5 FAKE branch for JPEG metadata; only full pixel
    decode of compressed formats remains behind the import guard. The
    oracle restates the geometry and the 146-byte fixed segment
    overhead in closed form, so a builder or parser bug — wrong
    big-endian field order, a segment length off by one, a marker-walk
    desync — breaks the hash."""
    from sparkga1_spark.operators.multimodal import decode_images, plant_jpeg_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_images(plant_jpeg_payloads(docs))


@query(
    "x_magic_bytes_detect",
    oracle="""
SELECT doc_id,
       CASE doc_id % 10
            WHEN 0 THEN '424D' WHEN 1 THEN '5249'
            WHEN 2 THEN '5955' WHEN 3 THEN 'FFD8'
            WHEN 4 THEN '5249' WHEN 5 THEN '0000'
            WHEN 6 THEN CASE WHEN doc_id % 20 = 16 THEN '4944' ELSE 'FFFB' END
            WHEN 7 THEN '664C' WHEN 8 THEN '4949' ELSE '5249' END AS magic,
       CASE doc_id % 10
            WHEN 0 THEN 'BMP' WHEN 1 THEN 'WAV'
            WHEN 2 THEN 'Y4M' WHEN 3 THEN 'JPEG'
            WHEN 4 THEN 'AVI' WHEN 5 THEN 'MP4'
            WHEN 6 THEN 'MP3' WHEN 7 THEN 'FLAC'
            WHEN 8 THEN 'TIFF' ELSE 'WEBP' END AS fmt
FROM documents
""",
)
def x_magic_bytes_detect(spark, sf_dir):
    """Content-type sniffing over an opaque binary column, entirely
    JVM-side (the triage step a multimodal ingest runs before routing
    rows to per-format decoders): plant a mixed corpus of TEN real
    containers (BMP / WAV / Y4M / JPEG / AVI / MP4 / MP3 / FLAC /
    TIFF / WebP by doc_id % 10 — every payload from the real builders
    above), then classify from magic bytes with substring/hex on the
    binary column — including the real-world subtleties a naive
    prefix-only sniffer gets wrong: RIFF is a FAMILY of THREE here
    (bytes 9-12 disambiguate 'WAVE' / 'AVI ' / 'WEBP'), MP4's magic
    sits at OFFSET 4 ('ftyp'; the leading 4 bytes are a box size),
    TIFF's magic is ENDIAN-PAIRED ('II*\\0' or 'MM\\0*'), and the MP3
    slice mixes bare FFFB sync streams with ID3-prefixed ones
    (doc_id%20==16 ⇒ %4==0 ⇒ the planter writes a real ID3v2 tag), so
    the tag-aware sniff path is certified by this gate row, not just
    pytest. No Python touches the payloads after planting: detection
    is a codegen'd CASE over hex prefixes, so at 100 TB it rides the
    scan (map-only, zero exchanges) and the bytes never cross into
    Python. The oracle knows which format each doc_id got, so a
    misrouted slice or wrong signature breaks the hash."""
    from sparkga1_spark.operators.multimodal import (
        plant_avi_payloads,
        plant_bmp_payloads,
        plant_flac_payloads,
        plant_jpeg_payloads,
        plant_mp3_payloads,
        plant_mp4_payloads,
        plant_tiff_payloads,
        plant_wav_payloads,
        plant_webp_payloads,
        plant_y4m_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = docs.select("doc_id")
    m = F.col("doc_id") % 10
    payloads = (
        plant_bmp_payloads(docs.filter(m == 0))
        .unionByName(plant_wav_payloads(ids.filter(m == 1)))
        .unionByName(plant_y4m_payloads(ids.filter(m == 2)))
        .unionByName(plant_jpeg_payloads(docs.filter(m == 3)))
        .unionByName(plant_avi_payloads(docs.filter(m == 4)))
        .unionByName(plant_mp4_payloads(ids.filter(m == 5)))
        .unionByName(plant_mp3_payloads(ids.filter(m == 6)))
        .unionByName(plant_flac_payloads(ids.filter(m == 7)))
        .unionByName(plant_tiff_payloads(docs.filter(m == 8)))
        .unionByName(plant_webp_payloads(ids.filter(m == 9)))
    )
    h2 = F.hex(F.substring("payload", 1, 2))
    h3 = F.hex(F.substring("payload", 1, 3))
    h4 = F.hex(F.substring("payload", 1, 4))
    h9 = F.hex(F.substring("payload", 1, 9))
    riff_kind = F.hex(F.substring("payload", 9, 4))  # 'WAVE'/'AVI '/'WEBP'
    ftyp = F.hex(F.substring("payload", 5, 4))  # MP4: magic at offset 4
    fmt = (
        F.when(h2 == "424D", "BMP")
        .when(h2 == "FFD8", "JPEG")
        .when(
            h4 == "52494646",
            F.when(riff_kind == F.hex(F.lit(b"WAVE")), "WAV")
            .when(riff_kind == F.hex(F.lit(b"AVI ")), "AVI")
            .when(riff_kind == F.hex(F.lit(b"WEBP")), "WEBP")
            .otherwise("UNKNOWN"),
        )
        .when(h9 == F.hex(F.lit(b"YUV4MPEG2")), "Y4M")
        .when(ftyp == F.hex(F.lit(b"ftyp")), "MP4")
        .when((h2 == "FFFB") | (h3 == F.hex(F.lit(b"ID3"))), "MP3")
        .when(h4 == F.hex(F.lit(b"fLaC")), "FLAC")
        .when((h4 == F.hex(F.lit(b"II*\x00"))) | (h4 == F.hex(F.lit(b"MM\x00*"))), "TIFF")
        .otherwise("UNKNOWN")
    )
    return payloads.select("doc_id", h2.alias("magic"), fmt.alias("fmt"))


@query(
    "x_image_text_pairs",
    oracle="""
WITH s AS (
  SELECT doc_id, 'https://' || source || '.example.com' AS host
  FROM documents
)
SELECT doc_id, 0 AS rank,
       host || '/hero/' || CAST(doc_id AS VARCHAR) || '.png' AS img_url,
       'hero ' || CAST(doc_id AS VARCHAR) AS alt_text,
       CAST(NULL AS VARCHAR) AS caption
FROM s
UNION ALL
SELECT doc_id, CAST(1 + t.j AS INTEGER),
       host || '/img/' || CAST(doc_id AS VARCHAR) || '/'
           || CAST(t.j AS VARCHAR) || '.jpg',
       'alt ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(t.j AS VARCHAR),
       'caption ' || CAST(doc_id AS VARCHAR) || '-' || CAST(t.j AS VARCHAR)
           || ' & note'
FROM s, LATERAL unnest(generate_series(0, CAST(doc_id % 4 AS BIGINT))) AS t(j)
""",
)
def x_image_text_pairs(spark, sf_dir):
    """Image–text pair mining (the LAION-recipe primitive for
    multimodal training data): <img> sources resolved against the
    page URL, paired with entity-decoded alt text and — inside
    <figure> — the figcaption, with the published keep rule applied
    (EMPTY or MISSING alt is decorative: two such images are planted
    per page and must yield no pair). Runs over the shared HTML
    tokenizer, so every robustness property the extraction rows pin
    (raw-text, comments, quoted '>', entity forms) holds here too.
    1→N map-only; the oracle enumerates every kept pair — hero images
    with NULL captions and figure images with their captions — in
    closed form."""
    from sparkga1_spark.operators.crawl import (
        image_pairs_stage,
        plant_gallery_pages,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return image_pairs_stage(plant_gallery_pages(docs))


@query(
    "x_sitemap_frontier",
    oracle="""
WITH s AS (
  SELECT doc_id, 'https://' || source || '.example.com' AS host
  FROM documents
)
SELECT doc_id, 'sitemapindex' AS kind, CAST(t.k AS INTEGER) AS rank,
       host || '/sitemap-' || CAST(t.k AS VARCHAR) || '.xml' AS loc,
       '2026-' || lpad(CAST((doc_id + t.k) % 12 + 1 AS VARCHAR), 2, '0')
           || '-' || lpad(CAST((doc_id + t.k) % 28 + 1 AS VARCHAR), 2, '0')
           AS lastmod,
       CAST(NULL AS VARCHAR) AS priority
FROM s, LATERAL unnest(generate_series(0, CAST(doc_id % 3 AS BIGINT))) AS t(k)
WHERE doc_id % 4 = 0
UNION ALL
SELECT doc_id, 'urlset', CAST(t.k AS INTEGER),
       host || '/doc/' || CAST(doc_id AS VARCHAR) || '/' || CAST(t.k AS VARCHAR)
           || CASE t.k % 3 WHEN 1 THEN '?a=1&b=2'
                           WHEN 2 THEN '?x=1&y=2' ELSE '' END,
       '2026-' || lpad(CAST((doc_id + t.k) % 12 + 1 AS VARCHAR), 2, '0')
           || '-' || lpad(CAST((doc_id + t.k) % 28 + 1 AS VARCHAR), 2, '0'),
       '0.' || CAST((doc_id + t.k) % 10 AS VARCHAR)
FROM s, LATERAL unnest(generate_series(0, CAST(doc_id % 5 AS BIGINT))) AS t(k)
WHERE doc_id % 4 <> 0
""",
)
def x_sitemap_frontier(spark, sf_dir):
    """Sitemap ingestion (sitemaps.org protocol — how a crawler SEEDS
    its frontier): per-host sitemaps planted in both protocol shapes
    (ids %4==0 a <sitemapindex> of child sitemaps, others a <urlset>)
    and parsed with a real small XML reader — prolog/comments,
    element nesting with MATCHING-close validation, the XML entity
    set (undefined entities refuse — XML is not HTML), and CDATA
    sections (text inside is NOT markup; real sitemaps wrap locs
    containing '&' in CDATA). The planted locs rotate plain /
    CDATA-with-raw-& / entity-escaped-& forms, so both decode paths
    land in the gate row. 1→N map-only; the oracle enumerates every
    entry of every sitemap in closed form."""
    from sparkga1_spark.operators.crawl import (
        parse_sitemaps_stage,
        plant_sitemap_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return parse_sitemaps_stage(plant_sitemap_payloads(docs))


@query(
    "x_web_corpus_pipeline",
    oracle="""
WITH s AS (SELECT doc_id, text, source, doc_id % 3 + 1 AS nresp FROM documents),
surv AS (
  SELECT s.*, CAST(t.r AS BIGINT) AS r
  FROM s, LATERAL unnest(generate_series(0, CAST(nresp - 1 AS BIGINT))) AS t(r)
  WHERE (doc_id + r) % 5 <> 0
)
SELECT doc_id,
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           || '/' || CAST(min(r) AS VARCHAR) AS url,
       CAST(count(*) AS INTEGER) AS n_fetches,
       CAST(2 + length(string_split(text, ' ')) AS INTEGER) AS n_words,
       (2 + length(string_split(text, ' '))) >= 40 AS kept
FROM surv GROUP BY doc_id, source, text
""",
)
def x_web_corpus_pipeline(spark, sf_dir):
    """The capstone crawl→corpus composition, ONE lazy plan: WARC
    files (HTML bodies, some fetches 404) → strict record parse
    keeping HTTP-200 responses → HTML main-text extraction → EXACT
    CONTENT DEDUP of repeated fetches (a crawler fetches the same page
    many times; grouping on sha2(main_text) collapses them, keeping
    the lexicographically-first URL as canonical — min_by, no window)
    → minimum-length quality flag. Three map-only Arrow stages feed
    ONE shuffle keyed on the content hash — at 100 TB that single
    exchange is the whole pipeline's data movement, and its key space
    is the deduplicated corpus. The oracle enumerates surviving
    fetches per document and the canonical-URL/count/word math in
    closed form."""
    from sparkga1_spark.operators.crawl import (
        extract_main_text_stage,
        plant_warc_payloads,
        warc_response_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    responses = warc_response_payloads(
        plant_warc_payloads(docs, html_bodies=True)
    ).select(
        "doc_id",
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )
    extracted = extract_main_text_stage(responses)
    n_words = F.size(F.split("main_text", " "))
    return (
        extracted.select(
            "doc_id", "url", F.sha2("main_text", 256).alias("h"),
            n_words.cast("int").alias("n_words"),
        )
        .groupBy("doc_id", "h")  # content hash; doc_id keeps the key honest
        .agg(
            F.min("url").alias("url"),
            F.count("*").cast("int").alias("n_fetches"),
            F.first("n_words").alias("n_words"),
        )
        .select(
            "doc_id", "url", "n_fetches", "n_words",
            (F.col("n_words") >= F.lit(40)).alias("kept"),
        )
    )


@query(
    "x_html_page_meta",
    oracle="""
SELECT doc_id,
       'OG doc ' || CAST(doc_id AS VARCHAR) AS og_title,
       'summary & notes ' || CAST(doc_id % 9 AS VARCHAR) AS description,
       '/doc/' || CAST(doc_id AS VARCHAR) || '/canonical' AS canonical
FROM documents
""",
)
def x_html_page_meta(spark, sf_dir):
    """Page metadata extraction (og:title / meta description / rel
    canonical — what URL-dedup and provenance tracking key on before
    any text is read): <meta>/<link> attribute values pulled with the
    same tag-scan discipline as the text extractor (quote-aware,
    comments and raw-text skipped) and ENTITY-DECODED ('summary
    &amp; notes' must come back with a literal '&'). The canonical
    link is the input x_dedup_url_canonical normalizes at corpus
    scale. Map-only."""
    from sparkga1_spark.operators.crawl import (
        extract_page_meta_stage,
        plant_html_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_page_meta_stage(plant_html_payloads(docs))


@query(
    "x_mime_extract",
    oracle="""
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' résumé' AS subject,
       'Crawl Bot <bot@src' || CAST(doc_id % 20 AS VARCHAR)
           || '.example.com>' AS from_addr,
       2 AS n_parts,
       text AS plain_text,
       CAST(n_chars + 7 AS INTEGER) AS html_len
FROM documents
""",
)
def x_mime_extract(spark, sf_dir):
    """MIME / email extraction (RFC 5322/2045/2046/2047 — mail
    archives are a classic pretraining family): plant a real
    multipart/alternative message per document — encoded-word Subject
    (Q-form on even ids with underscore-as-space and =HH over UTF-8
    bytes, B-form base64 on odd), a FOLDED From header (continuation
    line), a quoted-printable text/plain part (deterministic =HH
    escapes + soft line breaks every 40 chars), a text/html part
    base64-wrapped at 76 cols on ids %3==0, and planted preamble/
    epilogue text that a sloppy boundary walk would leak into parts —
    then parse it for real: header unfolding, encoded-word decode,
    RFC 2046 delimiter framing, QP and base64 body decode. The oracle
    demands the subject (with its non-ASCII é), the unfolded address,
    and the EXACT original text back through the QP roundtrip.
    Map-only Arrow stage."""
    from sparkga1_spark.operators.mime import extract_mime, plant_mime_payloads

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_mime(plant_mime_payloads(docs))


@query(
    "x_pdf_extract_text",
    oracle=r"""
WITH s AS (
  SELECT doc_id, doc_id % 3 + 1 AS n, string_split(text, ' ') AS w
  FROM documents
),
pages AS (
  SELECT doc_id, n, t.p AS p,
         list_aggr([w[i] for i in generate_series(1, len(w))
                    if (i - 1) % n = t.p],
                   'string_agg', ' ')
         || ' marker (' || CAST(doc_id AS VARCHAR) || ') p'
         || CAST(t.p AS VARCHAR) || ' A\B octal: A' AS ptext
  FROM s, LATERAL unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS t(p)
)
SELECT doc_id, CAST(max(n) AS INTEGER) AS n_pages,
       string_agg(ptext, ' ' ORDER BY p) AS pdf_text
FROM pages GROUP BY doc_id
""",
)
def x_pdf_extract_text(spark, sf_dir):
    """PDF text extraction (ISO 32000 / the Adobe PDF Reference — the
    other major pretraining source format after HTML): plant a REAL
    multi-page PDF per document (id%3+1 pages; catalog → page tree →
    per-page /Contents; FlateDecode streams on odd ids with /Length
    framing — never 'find endstream'; the text round-robin across
    pages shown through ALL THREE text operators: Tj, a TJ kerning
    array, and the ' newline form; every page ends in a marker line
    exercising escaped parens, double backslashes, and octal \\101)
    and extract it with a native object scan + page-tree walk +
    content tokenizer (balanced unescaped parens, hex strings with
    the odd-digit rule, text counted only inside BT/ET). The oracle
    rebuilds the exact expected string per document — operator
    mis-parse, page misorder, escape slips, or Flate mishandling all
    break the hash. Fonts/encodings beyond latin-1 and positioning
    are honestly unclaimed (the pdftotext-class boundary). Map-only
    Arrow chain."""
    from sparkga1_spark.operators.pdfdoc import (
        extract_pdf_text_stage,
        plant_pdf_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_pdf_text_stage(plant_pdf_payloads(docs))


@query(
    "x_html_link_graph",
    oracle="""
WITH s AS (
  SELECT doc_id, source,
         'https://' || source || '.example.com' AS origin
  FROM documents
),
fixed AS (
  SELECT doc_id, 0 AS link_rank, origin || '/home' AS url FROM s
  UNION ALL
  SELECT doc_id, 1, origin || '/about?a=1&b=2' FROM s
  UNION ALL
  SELECT doc_id, CAST(2 + doc_id % 3 AS INTEGER), origin || '/buy' FROM s
  UNION ALL
  SELECT doc_id, CAST(3 + doc_id % 3 AS INTEGER), origin || '/now' FROM s
),
nav AS (
  SELECT s.doc_id, CAST(2 + t.k AS INTEGER) AS link_rank,
         origin || '/n' || CAST(t.k AS VARCHAR) AS url
  FROM s, LATERAL unnest(generate_series(0, CAST(doc_id % 3 - 1 AS BIGINT)))
       AS t(k)
  WHERE doc_id % 3 > 0
)
SELECT f.doc_id, CAST(f.link_rank AS INTEGER) AS link_rank, f.url,
       split_part(split_part(f.url, '://', 2), '/', 1) AS dst_host
FROM (SELECT * FROM fixed UNION ALL SELECT * FROM nav) f
""",
)
def x_html_link_graph(spark, sf_dir):
    """Link extraction + URL resolution (the crawl-frontier feed, and
    the edge source the host-graph family consumes): anchor hrefs
    pulled from the planted pages with full tokenizer discipline —
    hrefs inside comments or script raw-text are NOT links, quoted '>'
    does not end the tag, and attribute values are entity-decoded
    ('?a=1&amp;b=2' must become '?a=1&b=2' — the frontier bug
    otherwise) — then resolved against the page URL (absolute /
    host-relative / path-relative RFC 3986 forms; fragments dropped).
    1→N map-only; the oracle enumerates every link of every page with
    its document-order rank."""
    from sparkga1_spark.operators.crawl import html_link_edges, plant_pages_with_base

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return html_link_edges(plant_pages_with_base(docs))


@query(
    "x_robots_gate",
    oracle="""
SELECT doc_id, '/doc/' || CAST(doc_id AS VARCHAR) || '/0' AS path,
       TRUE AS allowed
FROM documents
UNION ALL
SELECT doc_id, '/private/' || CAST(doc_id AS VARCHAR), FALSE FROM documents
UNION ALL
SELECT doc_id, '/doc/' || CAST(doc_id AS VARCHAR) || '.pdf', FALSE
FROM documents
UNION ALL
SELECT doc_id, '/public/' || CAST(doc_id % 7 AS VARCHAR), doc_id % 4 <> 0
FROM documents
UNION ALL
SELECT doc_id, '/private/ok/' || CAST(doc_id AS VARCHAR), TRUE FROM documents
""",
)
def x_robots_gate(spark, sf_dir):
    """robots.txt URL gating (RFC 9309 — the admission rule that
    decides which URLs may enter a crawl corpus at all): per-host
    policies with the full precedence ladder — most-specific
    user-agent GROUP selection (our UA's group beats the deny-all '*'
    fallback), LONGEST-PATH-MATCH rule selection, allow-wins-ties,
    '*' wildcards and '$' end anchors. The five planted paths per
    document cover plain allow, prefix deny, anchored wildcard deny
    ('/*.pdf$' must beat the shorter 'Allow: /doc/'), a
    policy-dependent case (ids %4==0 carry an extra Disallow), and a
    longer-allow-under-deny nest ('/private/ok/' inside '/private/').
    Map-only; the oracle states every verdict in closed form, so any
    precedence mistake breaks the hash."""
    from sparkga1_spark.operators.crawl import plant_robots_fixture, robots_gate

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return robots_gate(plant_robots_fixture(docs))


@query(
    "x_charset_transcode",
    oracle="""
SELECT doc_id,
       ['utf-8', 'latin-1', 'utf-16le'][doc_id % 3 + 1] AS charset,
       NOT (doc_id % 3 = 1 AND doc_id % 2 = 1) AS declared,
       list_aggr([CASE WHEN (i-1)%17=5 THEN chr(224 + unicode(text[i]) % 16)
                       ELSE text[i] END
                  for i in generate_series(1, length(text))],
                 'string_agg', '') AS text_out
FROM documents
""",
)
def x_charset_transcode(spark, sf_dir):
    """Charset normalization (where mojibake enters a corpus if done
    wrong): HTTP bodies planted with real non-ASCII content
    (accented substitutions at every 17th position) in utf-8 /
    latin-1 / utf-16le by id%3, with the latin-1 slice UNDECLARED on
    odd ids — exercising both the declared-charset strict decode and
    the classic sniff (try UTF-8 strict; the accented latin-1 bytes
    are invalid UTF-8, so the fallback is deterministic, never a
    guess). A declared-but-unsupported charset or a body that fails
    its declared decode refuses. The oracle reconstructs the exact
    expected unicode per document, so any transcoding slip — double
    decode, wrong endianness, silent replacement chars — breaks the
    hash."""
    from sparkga1_spark.operators.crawl import (
        plant_encoded_bodies,
        transcode_http_bodies,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return transcode_http_bodies(plant_encoded_bodies(docs))


@query(
    "x_dsir_importance",
    oracle="""
WITH tok AS (
  SELECT d.doc_id, d.source IN ('src0', 'src1') AS is_target,
         unnest(list_filter(str_split_regex(trim(d.text), ' +'),
                            x -> x <> '')) AS tok
  FROM documents d
),
cg AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok
       WHERE is_target GROUP BY tok),
tots AS (
  SELECT (SELECT count(*) FROM cg) AS v,
         (SELECT sum(c) FROM cg) AS ng,
         (SELECT coalesce(sum(c), 0) FROM ct) AS nt
),
scored AS (
  SELECT t.doc_id, t.is_target,
         CAST(floor(ln((coalesce(ct.c, 0) + 1)
                       / CAST(tots.nt + tots.v AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT)
         - CAST(floor(ln((cg.c + 1) / CAST(tots.ng + tots.v AS DOUBLE))
                      * 1000000000 + 0.5) AS BIGINT) AS slr
  FROM tok t
  JOIN cg ON cg.tok = t.tok
  LEFT JOIN ct ON ct.tok = t.tok
  CROSS JOIN tots
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       round(CAST(sum(slr) AS DOUBLE) / count(*) / 1000000000, 6)
           AS avg_log_ratio,
       bool_or(is_target) AS is_target
FROM scored GROUP BY doc_id
""",
)
def x_dsir_importance(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, 'Data Selection for
    Language Models via Importance Resampling' — the public recipe for
    steering a pretraining mix toward a target domain): a unigram LM
    of the TARGET slice (sources src0/src1 stand in for the
    high-quality domain) and one of the full corpus, both add-1
    smoothed over the shared vocabulary; each document scores the mean
    log importance ratio ln p_target(w) − ln p_corpus(w) of its
    tokens. Downstream sampling then resamples by this weight (the
    A-ES samplers in operators/sampling.py take it directly). Scale
    shape: both LMs are vocab-sized broadcast tables, totals are a
    1-row broadcast, scoring is one pass over tokens + one per-doc
    aggregate — the x_unigram_logprob envelope with a second (smaller)
    vocab join. Each ln is nano-snapped BEFORE the integer subtraction
    and per-doc sum, so accumulation is exact and order-independent
    across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.col("source").isin("src0", "src1").alias("is_target"),
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), " +"), lambda x: x != "")
        ).alias("tok"),
    )
    # both LM tables are reused (broadcast-join probe + totals input):
    # persist so the totals subqueries and the probes share one token
    # scan each
    cg = tracked_persist(
        tok.groupBy("tok").agg(F.count("*").cast("long").alias("cg"))
    )
    ct = tracked_persist(
        tok.filter("is_target")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    # vocab size + both totals ride the plan as once-executed runtime
    # ScalarSubqueries over the persisted count tables (r7 VERDICT #2:
    # the lazy crossJoin(broadcast(agg)) pair replicated both LM
    # subtrees; r8 VERDICT #2: the eager .first() pulls added a fixed
    # build-time job each — the subquery form has neither cost)
    tots = {
        **scalar_subq(cg.agg(F.count("*").alias("v"), F.sum("cg").alias("ng"))),
        **scalar_subq(ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))),
    }

    def snap(col):
        return F.floor(col * 1_000_000_000 + 0.5).cast("long")

    scored = (
        tok.join(F.broadcast(cg), "tok")
        .join(F.broadcast(ct), "tok", "left")
        .withColumns(tots)
        .select(
            "doc_id",
            "is_target",
            (
                snap(
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                )
                - snap(
                    F.log(
                        (F.col("cg") + 1)
                        / (F.col("ng") + F.col("v")).cast("double")
                    )
                )
            ).alias("slr"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        hround(
            F.sum("slr").cast("double") / F.count("*") / 1_000_000_000, 6
        ).alias("avg_log_ratio"),
        F.max("is_target").alias("is_target"),
    )


@query(
    "x_warc_records",
    oracle="""
WITH s AS (SELECT doc_id, n_chars, source, doc_id % 3 + 1 AS nresp FROM documents),
r AS (SELECT s.*, CAST(t.r AS BIGINT) AS r
      FROM s, LATERAL unnest(generate_series(0, CAST(nresp - 1 AS BIGINT))) AS t(r))
SELECT doc_id, CAST(0 AS INTEGER) AS rec_index, 'warcinfo' AS rec_type,
       CAST(NULL AS VARCHAR) AS target_uri, CAST(NULL AS INTEGER) AS http_status,
       CAST(30 AS BIGINT) AS payload_len, doc_id % 2 = 1 AS compressed
FROM s
UNION ALL
SELECT doc_id, CAST(1 + 2*r AS INTEGER), 'request',
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           || '/' || CAST(r AS VARCHAR),
       CAST(NULL AS INTEGER), CAST(0 AS BIGINT), doc_id % 2 = 1
FROM r
UNION ALL
SELECT doc_id, CAST(2 + 2*r AS INTEGER), 'response',
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           || '/' || CAST(r AS VARCHAR),
       CAST(CASE WHEN (doc_id + r) % 5 = 0 THEN 404 ELSE 200 END AS INTEGER),
       CAST(n_chars + 3 AS BIGINT), doc_id % 2 = 1
FROM r
""",
)
def x_warc_records(spark, sf_dir):
    """WARC ingestion (ISO 28500 — the container Common Crawl ships,
    i.e. the access path a real 100 TB pretraining corpus arrives
    through): plant one WARC file per document (warcinfo + doc_id%3+1
    request/response pairs; HTTP bodies Content-Length-framed; odd
    ids written GZIP-PER-RECORD, the `.warc.gz` member convention a
    whole-file gunzip or a one-member assumption both get wrong) and
    flatMap it into typed record rows with a strict parser — version
    line, header walk, exact block framing, CRLF CRLF separators,
    member-boundary accounting via zlib unused_data. The oracle
    restates every record of every file in closed form (record
    counts, URIs, the (doc_id+r)%5 status rotation, body lengths from
    n_chars), so a framing bug, a skipped member, or a mis-split HTTP
    head/body breaks the hash. Map-only 1→N — at 100 TB it rides the
    scan exactly like the reference's FASTQ chunk→records flatMap
    (SparkGA1.scala:268-318)."""
    from sparkga1_spark.operators.crawl import (
        parse_warc_records,
        plant_warc_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return parse_warc_records(plant_warc_payloads(docs))


@query(
    "x_html_extract_text",
    oracle="""
SELECT doc_id,
       'doc "' || CAST(doc_id AS VARCHAR) || '"' AS title,
       'heading ' || CAST(doc_id AS VARCHAR) || ' ' || text AS main_text,
       CAST(4 + doc_id % 3 AS INTEGER) AS n_links,
       1 AS n_dropped
FROM documents
""",
)
def x_html_extract_text(spark, sf_dir):
    """HTML main-text extraction (the boilerplate-removal step between
    crawl and curation): wrap each document's text in a realistic page
    — head title with named entities, style + script RAW-TEXT blocks
    whose content contains markup-looking strings ('</p>' inside a JS
    string must not close anything), a nav link bar with a QUOTED '>'
    in an attribute (the classic regex-stripper killer), the text
    split over three <p> blocks with the middle one re-expressed as
    decimal/hex character references, a link-only div, and a footer —
    then extract with a real single-pass tokenizer: quote-aware tag
    scanning, raw-text elements, entity decoding, container dropping
    (nav/footer/header/aside), and the Kohlschütter-style link-density
    rule (blocks ≥80% link text are boilerplate). The oracle demands
    the EXACT original text back (title via named entities, body via
    numeric references), so any tokenizer shortcut — regex tag
    stripping, skipped entity forms, script leakage, boilerplate
    leakage — breaks the hash."""
    from sparkga1_spark.operators.crawl import (
        extract_html_text,
        plant_html_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_html_text(plant_html_payloads(docs))


@query(
    "x_crawl_ingest_pipeline",
    oracle="""
WITH s AS (SELECT doc_id, text, source, doc_id % 3 + 1 AS nresp FROM documents),
r AS (SELECT s.*, CAST(t.r AS BIGINT) AS r
      FROM s, LATERAL unnest(generate_series(0, CAST(nresp - 1 AS BIGINT))) AS t(r)
      WHERE (doc_id + r) % 5 <> 0)
SELECT doc_id,
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
           || '/' || CAST(r AS VARCHAR) AS url,
       source || '.example.com' AS host,
       CAST(2 + length(string_split(text, ' ')) AS INTEGER) AS n_words,
       (2 + length(string_split(text, ' '))) >= 40 AS kept
FROM r
""",
)
def x_crawl_ingest_pipeline(spark, sf_dir):
    """The crawl→curation composition, ONE lazy plan end to end: WARC
    files (HTML response bodies this time) → strict record parse
    keeping HTTP-200 responses → HTML main-text extraction → JVM-side
    hygiene (host from the URI, word count, a minimum-length keep
    flag — the first Gopher rule). Three Arrow stages back to back
    with zero shuffles between them: at 100 TB the whole path is one
    map-only pass over the crawl, and its output columns are exactly
    what the existing dedup/quality/curation operators key on. The
    oracle enumerates the surviving (doc, fetch) pairs and the word
    math in closed form."""
    from sparkga1_spark.operators.crawl import (
        extract_main_text_stage,
        plant_warc_payloads,
        warc_response_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    responses = warc_response_payloads(
        plant_warc_payloads(docs, html_bodies=True)
    ).select(
        "doc_id",
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )
    body_text = extract_main_text_stage(responses)
    n_words = F.size(F.split("main_text", " "))
    return body_text.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
        n_words.cast("int").alias("n_words"),
        (n_words >= F.lit(40)).alias("kept"),
    )


@query(
    "x_multimodal_webp_meta",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 40 + 5 AS INTEGER) AS width,
       CAST(doc_id % 33 + 5 AS INTEGER) AS height,
       (doc_id % 5 = 0 AND doc_id % 3 <> 1) AS has_alpha,
       CASE doc_id % 3 WHEN 0 THEN 'VP8L' WHEN 1 THEN 'VP8' ELSE 'VP8X' END
           AS variant
FROM documents
""",
)
def x_multimodal_webp_meta(spark, sf_dir):
    """Multimodal REAL WebP metadata (Google container spec + RFC
    6386): plant a real WebP per document with the variant rotating
    through all three container shapes — plain VP8L (signature byte +
    packed 14-bit dims), lossy VP8 (keyframe frame tag + 9d012a start
    code), and VP8X extended (24-bit canvas dims CROSS-CHECKED against
    the embedded VP8L bitstream — disagreement refuses). Dims, alpha
    flag, and variant are read from the actual bitstream headers, the
    same walk file(1)/identify perform. Pixel decode of every one of
    these shapes is REAL as of r9 (VP8L in full; lossy VP8 keyframes
    via operators/vp8.py — see x_multimodal_webp_decode); this row
    keeps the header-only walk as its own cheap surface."""
    from sparkga1_spark.operators.multimodal import (
        decode_webp_meta,
        plant_webp_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_webp_meta(plant_webp_payloads(docs))


@query(
    "x_multimodal_webp_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 31 + 4 AS w, doc_id % 21 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 8 = 5 THEN 4 ELSE 3 END AS INTEGER)
           AS channels,
       'WEBP' AS format,
       -- lossless VP8L roundtrip => px_sum is the tiled text-byte sum
       -- (bytes masked to &192 for the palette rotation, mirroring
       -- the planter); the LOSSY arm (ids %8==5, r9) is uniform-130
       -- RGB (exactly reconstructible through VP8) + the raw text
       -- bytes as a LOSSLESS alpha plane; L = 0 guard mirrors the
       -- b'\\0' empty fallback
       CAST(CASE
            WHEN doc_id % 8 = 5 THEN
                 130 * 3 * w * h
                 + CASE WHEN L = 0 THEN 0
                   ELSE (w * h // L) * list_sum(bv)
                        + coalesce(list_sum(bv[1:(w * h) % L]), 0) END
            WHEN L = 0 THEN 0
            ELSE (w * h * 3 // L) * list_sum(mv)
                 + coalesce(list_sum(mv[1:(w * h * 3) % L]), 0)
            END AS BIGINT) AS px_sum
FROM (SELECT *,
             CASE WHEN doc_id % 5 = 4
                  THEN list_transform(bv, x -> x & 192)
                  ELSE bv END AS mv
      FROM s)
""",
)
def x_multimodal_webp_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode #7 — lossless WebP/VP8L
    (Google's public WebP Lossless Bitstream Specification), the
    fourth entropy-coding family after DEFLATE (PNG), byte-delta
    (QOI), LZW (GIF), and Huffman+IDCT (JPEG): plant a real VP8L
    image per document (pixels tile the UTF-8 text bytes; the color
    cache toggles by doc parity and the transform layout rotates by
    id%5 — none (odd ids adding §5.3 meta-prefix groups) /
    mode-cycling 4x4 predictor tiles / fixed-mode 8x8 predictor
    tiles / color transform / color-indexing palette (whose &192 byte
    masking the oracle mirrors) — so every §4.2 predictor mode and
    every §4 transform appears across the corpus), then run the
    COMPLETE subset decode — RIFF walk, 14-bit header, simple AND
    normal canonical Huffman codes (code-length code with zero-RLE),
    the 5-tree group, LZ77 run backreferences with prefix-coded
    lengths, direct distances AND near-distance plane codes (r9: ids
    %3 == 0 plane-encode their backreferences; the 120-entry offset
    map is DERIVED from the spec's proximity rule independently in the
    engine and the reference decoder, never transcribed), the
    0x1e35a7bd color cache, the PREDICTOR inverse (all 14 modes, r8 —
    the construct wild VP8L encoders emit almost always), the
    COLOR_TRANSFORM and COLOR_INDEXING inverses (r8 — the full spec §4
    family, now also COMBINED with other transforms in either read
    order), META-PREFIX group switching (r8), and the SUBTRACT_GREEN
    inverse — and emit pixel stats. VP8L decodes in FULL; a strict
    independently-written reference decoder pins the bitstream
    conventions in tests/test_multimodal_bytes.py (the QOI lesson:
    roundtrips alone hide spec deviations). The LOSSY arm (ids %8==5,
    r9): a REAL VP8 keyframe (operators/vp8.py — validated bit-exact
    against the system libwebp) carrying uniform-130 RGB (exactly
    reconstructible: Y=U=V=128, every MB skips) plus the raw text
    bytes as a LOSSLESS ALPH alpha plane (VP8L-stream or raw, all
    four prediction filters rotating) — so the closed-form oracle
    also certifies the lossy container path: 130·3·w·h + the tiled
    byte sum, channels 4."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_webp_lossless_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_webp_lossless_payloads(docs))


@query(
    "x_multimodal_tiff_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 45 + 4 AS w, doc_id % 29 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       3 AS channels,
       'TIFF' AS format,
       CAST(CASE WHEN L = 0 THEN 0
            ELSE (w * h * 3 // L) * list_sum(bv)
                 + coalesce(list_sum(bv[1:(w * h * 3) % L]), 0)
            END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_tiff_decode(spark, sf_dir):
    """Multimodal REAL TIFF decode (TIFF 6.0, the Adobe public spec):
    plant a real uncompressed-RGB TIFF per document — byte order
    alternating 'II'/'MM' by doc parity, RowsPerStrip id%7+3 so most
    rasters need true multi-strip reassembly — and decode it with a
    native IFD walk. TIFF is the one mainstream image container whose
    ENDIANNESS is data-dependent and whose small IFD values are
    inlined left-justified in file byte order; a parser that gets
    either wrong decodes exactly one of the two parities, and the
    closed-form px_sum oracle (pixels tile the text bytes, identical
    to the PNG/QOI rows) breaks on it. Compressed TIFF refuses —
    honesty over guessing, as everywhere in the image family."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_tiff_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_tiff_payloads(docs))


@query(
    "x_pack_context_windows",
    oracle="""
WITH t AS (
  SELECT lang, doc_id,
         length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS tok
  FROM documents
),
c AS (
  SELECT lang, doc_id, tok,
         sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT lang, CAST((cum - tok) // 2048 AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
FROM c
GROUP BY lang, pack_id
""",
)
def x_pack_context_windows(spark, sf_dir):
    """Sequence packing for pretraining — group documents into
    fixed-token-budget context windows (C=2048) per language. The
    contiguous-fill contract (a doc lands in the pack where its
    running-cumsum START offset falls) is exactly what a streaming
    packer produces, and unlike first-fit bin packing it is pure
    window math: one cumulative sum per lang partition, no sequential
    driver loop, no applyInPandas. Integer token counts make the
    cumsum exact, and doc_id ordering makes pack assignment
    deterministic at any parallelism. Scale: a naive
    `Window.partitionBy(lang)` cumsum funnels each language through
    ONE task (languages are few and huge at 100 TB), so the running
    sum is computed with `grouped_cumsum` — the distributed two-pass
    range-partition scheme that `global_rank` also runs: local cumsum
    per (range-partition, lang) slice plus a broadcast prefix-offset
    table of ≤ partitions×langs rows. Same exact integer results at
    any parallelism; no single-task stage anywhere in the plan."""
    from sparkga1_spark.operators.windows import grouped_cumsum

    docs = load_table(spark, sf_dir, "documents")
    tok = T.token_count_bpeish(F.col("text"))
    c = grouped_cumsum(
        docs.select("lang", "doc_id", tok.alias("tok")),
        group_cols=["lang"],
        order_cols=["doc_id"],
        value_col="tok",
        out_col="cum",
        # r13 (guide §1.2): the range-boundary sample job otherwise
        # re-tokenizes every document; the persisted rows are narrow
        # (lang, doc_id, tok) — the text never enters the cache
        persist_input=True,
    )
    return (
        c.withColumn(
            "pack_id", F.floor((F.col("cum") - F.col("tok")) / 2048).cast("long")
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("sum_tokens"),
        )
    )


@query(
    "x_quality_quantile_filter",
    oracle="""
WITH scored AS (
  SELECT lang, doc_id, n_chars,
         round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS score
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, n_chars, score,
         percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
  FROM scored
)
SELECT lang, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(min(score), 6) AS min_score
FROM ranked WHERE pr >= 0.5
GROUP BY lang
""",
)
def x_quality_quantile_filter(spark, sf_dir):
    """Per-group QUANTILE quality cut — keep the top half of each
    language by quality score (alpha ratio), the
    classifier-score-percentile filtering step of a curation pipeline.
    The (score, doc_id) tiebreak makes the cut deterministic under
    ties (a bare score ordering is not — equal scores would make the
    cut partition-order-dependent); the score itself is rounded to
    6dp on both engines BEFORE ranking so float noise cannot reorder
    the sort. Scale: percent_rank over `Window.partitionBy(lang)`
    funnels each language through one task, so the rank is computed
    as a distributed `grouped_cumsum` of 1s (two-pass range-partition,
    no single-task stage) and percent_rank recovered as
    (rank-1)/(n-1) with a broadcast per-lang count — identical values
    because the total order is unique."""
    from sparkga1_spark.operators.windows import grouped_cumsum

    docs = load_table(spark, sf_dir, "documents")
    score = hround(T.alpha_ratio(F.col("text")), 6)
    scored = docs.select("lang", "doc_id", "n_chars", score.alias("score"))
    ranked = grouped_cumsum(
        scored,
        group_cols=["lang"],
        order_cols=["score", "doc_id"],
        value_col=F.lit(1),
        out_col="_rk",
        # r13 (guide §1.2): one alpha-ratio regex pass instead of two
        persist_input=True,
    )
    n_per_lang = scored.groupBy("lang").agg(F.count("*").alias("_n"))
    return (
        ranked.join(F.broadcast(n_per_lang), "lang")
        .withColumn(
            "pr",
            F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
                (F.col("_rk") - 1) / (F.col("_n") - 1)
            ),
        )
        .filter(F.col("pr") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            hround(F.min("score"), 6).alias("min_score"),
        )
    )


@query(
    "x_blocklist_suffix_match",
    oracle=f"""
WITH pii AS ({fixtures.DOCS_PII_SQL}),
hosts AS (
  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.]+)', 1)) AS host
  FROM pii
),
sfx AS (
  SELECT doc_id, host,
         unnest([array_to_string(P[i:], '.')
                 for i in generate_series(1, greatest(len(P) - 1, 0))]) AS suffix
  FROM (SELECT doc_id, host, str_split(host, '.') AS P FROM hosts)
),
bl AS (SELECT * FROM (VALUES ('example.org'), ('site3.example.org'),
                             ('site7.example.org'), ('evil.com')) AS t(entry))
SELECT entry,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM sfx JOIN bl ON sfx.suffix = bl.entry
GROUP BY entry
""",
)
def x_blocklist_suffix_match(spark, sf_dir):
    """Domain-blocklist enforcement with SUFFIX semantics (an entry
    `example.org` blocks every subdomain) — the URL-filtering step of
    web curation. The scale-safe shape: explode each host into its
    ≥2-label domain suffixes (≤ label-count per host, a small constant)
    and EQUI-join against the broadcast blocklist — never a
    LIKE-pattern cross join, which is a broadcast nested loop over the
    whole corpus. Per-entry rollup of matched hosts / docs / mentions;
    at 100 TB the only exchange is the tiny per-entry aggregate."""
    docs = fixtures.documents_with_pii(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    hosts = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_HOST_RE), F.lit(1))
        ).alias("host"),
    )
    parts = F.split(F.col("host"), r"\.")
    sfx = hosts.select(
        "doc_id",
        "host",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(parts) - 2),
                lambda i: F.concat_ws(
                    ".", F.slice(parts, i + 1, F.size(parts) - i)
                ),
            )
        ).alias("suffix"),
    )
    bl = spark.createDataFrame(
        [("example.org",), ("site3.example.org",), ("site7.example.org",),
         ("evil.com",)],
        ["entry"],
    )
    return (
        sfx.join(F.broadcast(bl), sfx["suffix"] == bl["entry"])
        .groupBy("entry")
        .agg(
            F.count_distinct("host").cast("long").alias("n_hosts"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_mentions"),
        )
    )


@query(
    "x_column_profile_histogram",
    oracle="""
WITH b AS (SELECT min(l_partkey) AS mn, max(l_partkey) AS mx
           FROM lineitem),
binned AS (
  SELECT ((l_partkey - mn) * 10) // (mx - mn + 1) AS bin, l_partkey
  FROM lineitem, b
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv,
       CAST(min(l_partkey) AS BIGINT) AS bin_min,
       CAST(max(l_partkey) AS BIGINT) AS bin_max
FROM binned GROUP BY 1
""",
)
def x_column_profile_histogram(spark, sf_dir):
    """ANALYZE-style column profiling: 10-bucket equal-width histogram
    of l_partkey with per-bin row count, exact NDV, and min/max — the
    stats a cost-based optimizer collects. Bin assignment is PURE
    INTEGER math, ((v-mn)*10) DIV (mx-mn+1), instead of SQL
    width_bucket: width_bucket computes double bucket boundaries whose
    last-ulp rounding may legitimately differ between engines, which a
    value-hash gate cannot tolerate; integer DIV is exact on both.
    Bounds arrive as a broadcast 1-row min/max agg (the corpus-size
    pattern); the profile itself is one partial+final aggregate keyed
    by bin — map-side combine reduces each partition to ≤10 rows
    before the exchange. At 100 TB: two scans (bounds + profile), one
    10-row shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(F.min("l_partkey").alias("mn"), F.max("l_partkey").alias("mx"))
    binned = li.select("l_partkey").withColumns(scalar_subq(bounds)).select(
        F.expr(
            "CAST((l_partkey - mn) * 10 DIV (mx - mn + 1) AS BIGINT)"
        ).alias("bin"),
        "l_partkey",
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("l_partkey").cast("long").alias("ndv"),
        F.min("l_partkey").cast("long").alias("bin_min"),
        F.max("l_partkey").cast("long").alias("bin_max"),
    )


@query(
    "x_dau_wau_stickiness",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
b AS (SELECT min(d) AS mn, max(d) AS mx FROM act),
dau AS (SELECT d, count(*) AS dau FROM act GROUP BY 1),
cov AS (
  SELECT DISTINCT user_id, unnest([d + i for i in generate_series(0, 6)]) AS wd
  FROM act
),
wau AS (SELECT wd, count(*) AS wau FROM cov GROUP BY 1)
SELECT d AS day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau ON d = wd, b WHERE d BETWEEN mn AND mx
""",
)
def x_dau_wau_stickiness(spark, sf_dir):
    """DAU / trailing-7-day-WAU stickiness per day. Rolling DISTINCT
    counts don't decompose (WAU ≠ sum of DAUs), so the exact
    distributed form CREDITS each active (user, day) to the 7 window
    ends it can serve — a bounded ×7 explode, then the same cheap
    distinct+count machinery as DAU. That turns a non-associative
    rolling distinct into two hash aggregates; no window over the
    full user timeline, no per-day re-scan. Day bounds are a 1-row
    min/max agg materialized once at build time (the scalar_lits
    pattern — the former broadcast crossJoin was a BNL replicating the
    distinct subtree). At 100 TB the explode factor stays
    7 regardless of data size — the cost is one extra distinct over
    7× the (user, day) pairs, both keyed exchanges."""
    ev = _events(spark, sf_dir)
    # the distinct (user, day) frame feeds THREE consumers (bounds, dau,
    # the 7-day coverage explode) and the r8 runtime exchange-reuse
    # audit showed AQE does NOT install a ReusedExchange across the
    # diverging aggregate branches — without the persist the event scan
    # + distinct rebuilt per branch (tools/exchange_reuse_audit.py)
    act = tracked_persist(
        ev.select(
            "user_id",
            F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("d"),
        ).distinct()
    )
    bounds = act.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    dau = act.groupBy("d").agg(F.count("*").alias("dau"))
    cov = act.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd")
    ).distinct()
    wau = cov.groupBy("wd").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .withColumns(scalar_subq(bounds))
        .filter((F.col("d") >= F.col("mn")) & (F.col("d") <= F.col("mx")))
        .select(
            F.col("d").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            hround(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


@query(
    "x_cohort_retention",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
coh AS (SELECT user_id, min(d) AS cd FROM act GROUP BY 1),
siz AS (SELECT cd, count(*) AS n_cohort FROM coh GROUP BY 1)
SELECT c.cd AS cohort_day, a.d - c.cd AS day_age,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(any_value(s.n_cohort) AS BIGINT) AS n_cohort,
       round(CAST(count(*) AS DOUBLE) / any_value(s.n_cohort), 6) AS retention
FROM act a JOIN coh c USING (user_id) JOIN siz s ON c.cd = s.cd
GROUP BY 1, 2
""",
)
def x_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — users grouped by epoch-day of first
    activity, retention(cohort, age) = active users at that day-age
    over cohort size. Plan (audited): two event-stream exchanges —
    the (user, day) distinct and the per-user min-day aggregate — then
    AQE broadcasts the cohort table (1 row/user) into the activity
    join at test SFs; at 100 TB user-count that join degrades
    gracefully to a co-partitioned user_id sort-merge, never a
    cross product. Cohort SIZES (rows = distinct first-days) are
    always broadcast-tiny.
    Epoch-day via unix_timestamp DIV 86400 — integer division both
    engines, truncation-safe for non-negative epochs (the
    floor(epoch()) recipe every event query here uses). At 100 TB the
    event stream shuffles once by user; the retention matrix is
    cohorts×ages — tiny."""
    ev = _events(spark, sf_dir)
    # persisted: consumed by the cohort derivation AND the retention
    # join; the r8 runtime audit measured three event scans without it
    # (AQE never reused the distinct's exchange across branches)
    act = tracked_persist(
        ev.select(
            "user_id",
            F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("d"),
        ).distinct()
    )
    coh = act.groupBy("user_id").agg(F.min("d").alias("cd"))
    siz = coh.groupBy("cd").agg(F.count("*").alias("n_cohort"))
    return (
        act.join(coh, "user_id")
        .join(F.broadcast(siz), "cd")
        .groupBy(
            F.col("cd").alias("cohort_day"),
            (F.col("d") - F.col("cd")).alias("day_age"),
        )
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.any_value(F.col("n_cohort")).cast("long").alias("n_cohort"),
            hround(
                F.count("*") / F.any_value(F.col("n_cohort")), 6
            ).alias("retention"),
        )
    )


@query(
    "x_touch_attribution",
    oracle="""
WITH conv AS (
  SELECT event_id AS cid, user_id, ts AS tc FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id AS tid, ts, event_type AS channel FROM events
  WHERE event_type <> 'purchase'
),
j AS (
  SELECT c.cid, t.tid, t.channel,
         row_number() OVER (PARTITION BY c.cid ORDER BY t.ts, t.tid) AS rn_f,
         row_number() OVER (PARTITION BY c.cid ORDER BY t.ts DESC, t.tid DESC)
           AS rn_l,
         count(*) OVER (PARTITION BY c.cid) AS n
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.ts < c.tc AND t.ts >= c.tc - INTERVAL 24 HOURS
)
SELECT channel,
       CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS first_touch,
       CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS last_touch,
       CAST(sum(1000000 // n) AS BIGINT) AS linear_micro
FROM j
GROUP BY channel
""",
)
def x_touch_attribution(spark, sf_dir):
    """Multi-touch conversion attribution — the marketing-analytics
    workload that assigns each 'purchase' to the user's touchpoints
    (view/click/signup/error) in the 24 h before it, under the three
    standard credit models at once: FIRST touch, LAST touch, and
    LINEAR (each of the n touches earns 1/n, accumulated as exact
    integer micro-credits — floor(1e6/n) per touch, so the sum is
    deterministic on both engines with no float-order drift). One
    user-keyed join bounded by per-user activity, then windows
    partitioned BY CONVERSION (high-cardinality partitions — never a
    global window) deliver first/last rank and touch count in a
    single pass; ties break on (ts, event_id) so same-timestamp
    touches attribute deterministically. At 100 TB the join shuffles
    both sides once on user_id and the window state is per-conversion
    — the classic sessionize-shape scaling. Exclusive bounds: a touch
    at exactly the conversion timestamp is NOT credited (it did not
    precede the purchase)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("tc")
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_id").alias("tid"), "ts",
        F.col("event_type").alias("channel"),
    )
    j = conv.join(
        touch,
        (touch["user_id"] == conv["user_id"])
        & (touch["ts"] < conv["tc"])
        & (touch["ts"] >= conv["tc"] - F.expr("INTERVAL 24 HOURS")),
    )
    wc = Window.partitionBy("cid")
    j = j.select(
        "cid", "tid", "channel",
        F.row_number().over(wc.orderBy("ts", "tid")).alias("rn_f"),
        F.row_number().over(wc.orderBy(F.desc("ts"), F.desc("tid"))).alias("rn_l"),
        F.count("*").over(wc).alias("n"),
    )
    return j.groupBy("channel").agg(
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0)).cast("long")
        .alias("first_touch"),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0)).cast("long")
        .alias("last_touch"),
        F.sum(F.floor(F.lit(1_000_000) / F.col("n"))).cast("long")
        .alias("linear_micro"),
    )


@query(
    "x_touch_attribution_decay",
    oracle="""
WITH conv AS (
  SELECT event_id AS cid, user_id, ts AS tc FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id AS tid, ts, event_type AS channel FROM events
  WHERE event_type <> 'purchase'
),
j AS (
  SELECT t.channel,
         CAST((floor(epoch(c.tc)) - floor(epoch(t.ts))) AS BIGINT) // 3600
           AS age_h
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.ts < c.tc AND t.ts >= c.tc - INTERVAL 24 HOURS
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(1000000 // (1 << age_h)) AS BIGINT) AS decay_micro
FROM j
GROUP BY channel
""",
)
def x_touch_attribution_decay(spark, sf_dir):
    """Time-decay attribution — the fourth standard credit model,
    completing x_touch_attribution's first/last/linear trio: each
    touchpoint's credit halves per full hour of age at conversion
    (half-life 1 h over the 24 h lookback). The decay is DISCRETE on
    integer hours, so the per-touch credit is floor(1e6 / 2^age_h) —
    exact integer arithmetic on both engines, no pow()/exp() float to
    drift (the same determinism discipline as linear's floor(1e6/n)
    micro-units; a continuous exp(-λΔt) would need the nano-snap
    convention instead). Age uses floor-epoch seconds (the established
    cross-engine timestamp convention), integer-divided to hours. Same
    join/shuffle shape as the base attribution query — user-keyed join
    bounded by per-user activity, one channel-keyed aggregate, no
    windows at all (decay needs no per-conversion rank)."""
    ev = _events(spark, sf_dir)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tc")
    ).alias("c")
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel")
    ).alias("t")
    j = conv.join(
        touch,
        (F.col("t.user_id") == F.col("c.user_id"))
        & (F.col("t.ts") < F.col("c.tc"))
        & (F.col("t.ts") >= F.col("c.tc") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        "channel",
        (
            (
                F.unix_timestamp(F.col("c.tc")) - F.unix_timestamp(F.col("t.ts"))
            )
            / F.lit(3600)
        ).cast("long").alias("age_h"),
    )
    return j.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum(
            # python shiftleft() wants a literal bit count; the SQL
            # form accepts a column
            F.floor(F.lit(1_000_000) / F.expr("shiftleft(1, cast(age_h AS int))"))
        ).cast("long").alias("decay_micro"),
    )


@query(
    "x_benford_digit_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM lineitem WHERE l_extendedprice > 0
),
p AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
t AS (SELECT sum(n_obs) AS total FROM p)
SELECT CAST(digit AS INTEGER) AS digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_obs * 1000000 // total AS BIGINT) AS share_micro,
       CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)
         AS benford_micro
FROM p, t
ORDER BY digit
""",
)
def x_benford_digit_audit(spark, sf_dir):
    """Benford's-law first-digit audit — the forensic data-quality
    check that flags fabricated or truncated numeric columns (a
    synthesized uniform price column fails it loudly; organically
    multiplicative ones conform): per leading digit of the price in
    CENTS, observed count, observed share, and the Benford expectation
    log10(1+1/d), both in exact integer micro-units. Determinism
    discipline: the digit comes from the DECIMAL-CENTS integer's
    string rendering (floor(x·100+0.5) is the established money-snap;
    integer-to-string is byte-identical on both engines — never
    floor(log10(x)), whose float edge at powers of ten can misbin),
    the observed share is integer division n·1e6//total, and the
    expectation is a 9-value constant table micro-snapped from log10
    of simple rationals. One scan, a 9-key aggregate, broadcast total
    — nothing wide at any scale; the deviation |share−benford| is the
    retrain/forensics trigger downstream."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    d = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    # 9-row digit counts reused (total input + projection): persist so
    # the totals subquery and the projection share one lineitem scan
    p = tracked_persist(d.groupBy("digit").agg(F.count("*").alias("n_obs")))
    t = p.agg(F.sum("n_obs").alias("total"))
    return (
        p.withColumns(scalar_subq(t))
        .select(
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            ((F.col("n_obs") * F.lit(1_000_000)) / F.col("total"))
            .cast("long")
            .alias("share_micro"),
            F.floor(
                F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")) * F.lit(1_000_000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("benford_micro"),
        )
        .orderBy("digit")
    )


@query(
    "x_funnel_conversion",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fv
  FROM events
),
s2 AS (
  SELECT *,
         min(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fqc
  FROM s
),
flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         max(CASE WHEN event_type = 'click' AND fv IS NOT NULL THEN 1 ELSE 0 END) AS c,
         max(CASE WHEN event_type = 'purchase' AND fqc IS NOT NULL THEN 1 ELSE 0 END) AS p
  FROM s2 GROUP BY user_id
)
SELECT CAST(sum(v) AS BIGINT) AS n_view_users,
       CAST(sum(c) AS BIGINT) AS n_click_users,
       CAST(sum(p) AS BIGINT) AS n_purchase_users,
       round(CAST(sum(c) AS DOUBLE) / nullif(sum(v), 0), 6) AS view_to_click,
       round(CAST(sum(p) AS DOUBLE) / nullif(sum(c), 0), 6) AS click_to_purchase
FROM flags
""",
)
def x_funnel_conversion(spark, sf_dir):
    """Strict-sequence conversion funnel view → click → purchase: a
    click counts only if SOME view happened strictly earlier in the
    user's (ts, event_id) order, a purchase only after a qualifying
    click. Single shuffle keyed by user_id (high-cardinality — no
    skew), two stacked running-min window passes over the SAME sort
    (Catalyst plans one Sort + two Window nodes, no second exchange),
    then a per-user flag aggregate and a 1-row rollup. event_id is the
    tie sequence for same-timestamp events on both engines. At 100 TB
    this is the shape of every product-analytics funnel: the event
    stream shuffles once, everything downstream is tiny."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    s = ev.withColumn(
        "fv", F.min(F.when(is_type("view"), F.col("ts"))).over(w)
    )
    s2 = s.withColumn(
        "fqc",
        F.min(
            F.when(is_type("click") & F.col("fv").isNotNull(), F.col("ts"))
        ).over(w),
    )
    flags = s2.groupBy("user_id").agg(
        F.max(F.when(is_type("view"), 1).otherwise(0)).alias("v"),
        F.max(
            F.when(is_type("click") & F.col("fv").isNotNull(), 1).otherwise(0)
        ).alias("c"),
        F.max(
            F.when(is_type("purchase") & F.col("fqc").isNotNull(), 1).otherwise(0)
        ).alias("p"),
    )
    return flags.agg(
        F.sum("v").cast("long").alias("n_view_users"),
        F.sum("c").cast("long").alias("n_click_users"),
        F.sum("p").cast("long").alias("n_purchase_users"),
        hround(F.sum("c") / F.nullif(F.sum("v"), F.lit(0)), 6).alias("view_to_click"),
        hround(F.sum("p") / F.nullif(F.sum("c"), F.lit(0)), 6).alias("click_to_purchase"),
    )


@query(
    "x_vocab_oov_rate",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(str_split_regex(trim(text), ' +')) AS t FROM documents
),
c AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
v AS (SELECT t FROM c ORDER BY n DESC, t LIMIT 10)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok LEFT JOIN v ON tok.t = v.t
GROUP BY lang
""",
)
def x_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage — per-language out-of-vocabulary
    rate against the corpus top-10 token vocabulary (the coverage audit
    run before freezing a tokenizer on a new data mix). Two passes:
    (1) token counts — one partial+final hash aggregate keyed by token
    (heavy hitters are exactly what map-side combine flattens), top-10
    cut via TakeOrderedAndProject with the (n DESC, token) unique
    tiebreak; (2) a map-only re-scan joined against the BROADCAST vocab
    (10 rows), reduced by a tiny per-lang aggregate. The token stream
    itself never shuffles in pass 2 — at 100 TB the cost is two scans
    of the text column and one token-keyed exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(T.words(F.col("text"))).alias("t"))
    counts = tok.groupBy("t").agg(F.count("*").alias("n"))
    vocab = counts.orderBy(F.desc("n"), "t").limit(10).select("t")
    flagged = tok.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "t", "left"
    )
    oov = F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
    return flagged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        oov.cast("long").alias("n_oov"),
        hround(oov / F.count("*"), 6).alias("oov_rate"),
    )


@query(
    "x_boilerplate_shingles",
    oracle="""
WITH W AS (SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct([W[i] || ' ' || W[i+1] || ' ' || W[i+2]
                               for i in generate_series(1, greatest(len(W)-2, 0))])) AS gram
  FROM W
),
c AS (
  SELECT gram,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS df
  FROM g GROUP BY gram
)
SELECT min(gram) AS shingle, df, h
FROM (SELECT * FROM c ORDER BY df DESC, h LIMIT 20)
GROUP BY h, df
""",
)
def x_boilerplate_shingles(spark, sf_dir):
    """Cross-document boilerplate detection — the top-20 word-3-gram
    shingles by document frequency (the C4/CCNet-style "this phrase
    appears in thousands of pages" signal that drives boilerplate-line
    removal in web curation; public recipe, Raffel et al. 2020 §2.2).

    Scale shape: the COUNT pass runs entirely on 8-byte shingle hashes
    (shingle_hash_rows — the same distinct (doc, h) stream the minhash
    family shares), so the corpus-wide shuffle carries (h) only, never
    gram strings; the top-20 cut is a TakeOrderedAndProject with the
    (df DESC, h) unique tiebreak. Only the RECOVERY pass touches
    strings — a second map-only scan filtered against the broadcast
    20-hash set, reduced by a 20-row aggregate. At 100 TB the recovery
    scan re-reads the text column but shuffles ~nothing."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = T.shingle_hash_rows(docs)
    # r13 (guide §1.2/§2.2): the COUNT pass additionally remembers ONE
    # representative document per hash (min(doc_id) — map-side partial
    # agg, no extra shuffle), so the RECOVERY pass builds gram strings
    # for <= 20 documents instead of re-shingling the whole corpus —
    # profiled: the old recovery was a second full 12-15 task-s
    # gram+hash stage plus a corpus-wide string-row distinct shuffle.
    # min(gram) per h is unchanged: every doc containing h contributes
    # the identical gram string (the no-60-bit-collision regime the
    # df-per-hash = df-per-gram oracle equality already assumes), and
    # distinct=False is safe because min() ignores within-doc repeats.
    # At 100 TB the recovery scan now reads ~20 documents, not the
    # corpus.
    dfc = hashes.groupBy("h").agg(
        F.count("*").cast("long").alias("df"),
        F.min("doc_id").alias("_rep"),
    )
    # 20-row result consumed by TWO broadcast builds (rep-doc semi-join
    # + final h join) — persist so the expensive count pass runs once
    # (Spark does not CSE across broadcast builds; batch-2 finding).
    top = tracked_persist(dfc.orderBy(F.desc("df"), "h").limit(20))
    rep_docs = docs.join(
        F.broadcast(top.select(F.col("_rep").alias("doc_id"))),
        "doc_id",
        "left_semi",
    )
    texts = T.shingle_text_rows(rep_docs, distinct=False, spread=False)
    top = top.select("h", "df")
    return (
        texts.join(F.broadcast(top), "h")
        .groupBy("h", "df")
        .agg(F.min("gram").alias("shingle"))
        .select("shingle", "df", "h")
    )


@query(
    "x_multimodal_png_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 48 + 4 AS w, doc_id % 32 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       3 AS channels,
       'PNG' AS format,
       -- L = 0 guard mirrors the planter's b'\\0' empty-text fallback
       CAST(CASE WHEN L = 0 THEN 0
            ELSE (w * h * 3 // L) * list_sum(bv)
                 + coalesce(list_sum(bv[1:(w * h * 3) % L]), 0)
            END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_png_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode: plant an actual PNG per
    document (8-bit RGB, stdlib-zlib DEFLATE, row r filtered with
    (id+r)%5 so all five scanline filters appear in every payload),
    then fully decode it — chunk walk with CRC verification, inflate,
    per-row unfilter — and emit pixel statistics. The oracle states
    px_sum in closed form over the tiled UTF-8 text bytes (filters are
    lossless, so the sum is filter-invariant): an encode- OR
    decode-side bug in any filter, the CRC math, or the raster layout
    breaks the hash. This retires the r2-VERDICT 'fake codec' gap for
    PNG — the md5 FAKE branch now covers only formats that need a real
    codec library (JPEG/MP4)."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_png_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_png_payloads(docs))


@query(
    "x_multimodal_qoi_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 40 + 4 AS w, doc_id % 28 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       3 AS channels,
       'QOI' AS format,
       -- L = 0 guard mirrors the planter's b'\\0' empty-text fallback
       -- (all-zero pixels => px_sum 0); without it DuckDB's x // 0 is
       -- NULL and the hash would diverge on an empty document
       CAST(CASE WHEN L = 0 THEN 0
            ELSE (w * h * 3 // L) * list_sum(bv)
                 + coalesce(list_sum(bv[1:(w * h * 3) % L]), 0)
            END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_qoi_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode #2 — QOI (qoiformat.org,
    public-domain spec): plant an actual QOI image per document (pixels
    tile the UTF-8 text bytes, so natural text produces runs, index
    hits, DIFF/LUMA deltas AND literals — every op the spec defines),
    then fully decode it (rolling 64-entry index, wrap-around deltas,
    run expansion, end-marker check) and emit pixel statistics. The
    oracle states px_sum in closed form over the tiled text bytes
    (compression is lossless, so the sum is op-choice-invariant): an
    encode- or decode-side bug in any op, the index hash, or the
    raster layout breaks the hash. With PNG (r4) and QOI the md5 FAKE
    branch now covers only formats that genuinely need a codec
    library (JPEG/MP4). Roundtrip + bytes-safety pytests in
    tests/test_multimodal_bytes.py; same mapInPandas plumbing as the
    BMP/PNG paths (operators/multimodal.py)."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_qoi_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_qoi_payloads(docs))


@query(
    "x_multimodal_gif_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 36 + 4 AS w, doc_id % 24 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       3 AS channels,
       'GIF' AS format,
       -- palette entry i is (i,i,i), so px_sum = 3 * (tiled index sum);
       -- L = 0 guard mirrors the planter's b'\\0' empty-text fallback
       CAST(CASE WHEN L = 0 THEN 0
            ELSE 3 * ((w * h // L) * list_sum(bv)
                      + coalesce(list_sum(bv[1:(w * h) % L]), 0))
            END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_gif_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode #3 — GIF87a (CompuServe
    spec): plant an actual GIF per document (palette indices tile the
    UTF-8 text bytes over an identity grayscale palette), then fully
    decode it — screen-descriptor walk, sub-block reassembly, and a
    complete variable-width LZW decompression (9→12-bit codes,
    clear/EOI, 4096-entry reset) — and emit pixel statistics. With PNG
    (DEFLATE) and QOI (byte delta ops) this closes the third public
    lossless-compression family, a dictionary coder; the md5 FAKE
    branch now covers only formats needing a real codec library
    (JPEG/MP4). The oracle states px_sum in closed form over the tiled
    text bytes (3× the index sum — lossless, so op-choice-invariant).
    Interop is pinned beyond roundtrip (the QOI lesson): the pytest
    suite decodes foreign real-encoder GIFs where present, and the LZW
    width-transition rule is exercised by boundary tests crossing the
    512/1024-entry marks and the table reset."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_gif_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_gif_payloads(docs))


@query(
    "x_multimodal_jpeg_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 5 + 1 AS wb, doc_id % 3 + 1 AS hb,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(8 * wb AS INTEGER) AS width,
       CAST(8 * hb AS INTEGER) AS height,
       -- ids %4==1 are planted as 4:4:4 COLOR progressive (gray
       -- (v,v,v) tiles: Y=v, Cb=Cr=128 exactly under the JFIF matrix)
       CAST(CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 1 END AS INTEGER)
         AS channels,
       'JPEG' AS format,
       -- one text byte per CONSTANT 8x8 block: flat blocks are DC-only,
       -- so the lossy codec is exactly lossless here and px_sum is
       -- 64 x the tiled block-value sum (x3 channels for the color
       -- rows); L = 0 guard mirrors the planter's b'\\0' empty-text
       -- fallback
       CAST(CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 1 END
            * CASE WHEN L = 0 THEN 0
              ELSE 64 * ((wb * hb // L) * list_sum(bv)
                         + coalesce(list_sum(bv[1:(wb * hb) % L]), 0))
              END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_jpeg_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode #6 — baseline JPEG
    (ITU-T T.81, public spec), the first LOSSY-family codec decoded
    for real: plant an actual baseline JFIF JPEG per document (8x8
    blocks constant-tiled with the UTF-8 text bytes, Annex K Huffman
    tables, quant all-ones), then run the COMPLETE decode — marker
    walk, DQT/DHT parse, canonical Huffman entropy decode with byte
    unstuffing, DC prediction, zigzag, dequant, separable IDCT, level
    shift — and emit pixel statistics. Flat blocks make the round
    trip exactly lossless (DC-only spectra survive quant 1 and the
    float IDCT on the nose), so the oracle states px_sum in closed
    form even though the codec family is lossy; any defect in the
    Huffman tables, bit packing, DC prediction chain, or IDCT breaks
    the hash. The planter interleaves layouts so this ONE row
    certifies them all: ids %4==3 progressive spectral-selection
    (SOF2, EOB-run alphabet; ids %8==7 with DRI/RSTn restart
    intervals — r9), ids %4==1 COLOR progressive with the full
    successive-approximation script (interleaved DC scan,
    per-component AC scans, refinement bits; ids %8==1 as 4:2:0
    SUBSAMPLED progressive, ids %8==5 with restart intervals — r9,
    both exactly lossless on gray tiles because constant chroma
    box-means to itself) — channels and px_sum flip to 3x for those
    rows — and ids %4==2 ARITHMETIC-coded (r10: SOF9 + DAC, the T.81
    Annex D/F QM coder in operators/jpeg_arith.py, whose entropy
    bytes are byte-identical to libjpeg's for the same coefficients
    and which decodes real libjpeg streams bit-exact —
    tests/test_jpeg_arith.py; ids %8==2 sequential SOF9, ids %8==6
    PROGRESSIVE arithmetic SOF10 with successive approximation and
    restart intervals — both decoded for REAL as of r10). As of r11
    ids %16==0 are LOSSLESS SOF3 (T.81 Annex H spatial prediction,
    predictor rotating (id//16)%7+1 — exact on any content) and ids
    %16==4 are 12-BIT Huffman frames (flat blocks exact at level
    shift 2048, so channels and px_sum are unchanged): %32==4
    extended sequential SOF1, %32==20 progressive SOF2 with
    successive approximation and restarts; the system libjpeg (8-bit
    v6b ABI) cannot oracle these families, so their pins are
    hand-assembled known-answer streams, the lossless contract, and
    12-bit progressive==sequential raster identity
    (tests/test_multimodal_bytes.py). Baseline
    4:4:4/4:2:2/4:2:0 color with RSTn restarts is pinned by foreign
    real-encoder JPEGs (CPython / Rust-doc test images) in
    tests/test_multimodal_bytes.py; 12-bit ARITHMETIC (SOF9/SOF10,
    late r11, pinned by cross-entropy-layer raster identity) ROTATED
    INTO THIS ROW in r12 — ids %32==2 run 12-bit sequential SOF9 and
    ids %32==6 12-bit progressive SOF10 (flat blocks exact at either
    precision, so the closed-form oracle is untouched; the r11
    planter freeze is lifted). HIERARCHICAL (Annex J, grayscale — DHP
    pyramid, EXP expansion, differential SOF5/SOF7 frames) decodes
    for real as of r12, pinned by exact-roundtrip/closed-form/fuzz
    pytests, and ROTATED INTO THIS ROW in r13 (the arith-12
    freeze-after-bench-windows convention): ids %32==8 are lossless
    pyramids (DHP/SOF3/EXP/SOF7, %64==40 12-bit with restarts), ids
    %32==24 DCT quality ladders (SOF0 base + differential SOF5) —
    the lossless pyramid is exact on ANY content and the DCT ladder
    on flat tiles, so the closed-form oracle is again untouched.
    The md5 FAKE branch now covers only video (MP4) and the
    JPEG variants that remain honestly refused (color-hierarchical,
    differential SOF6/SOF13-15, arithmetic-lossless SOF11)."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_jpeg_real_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_jpeg_real_payloads(docs))


def _bpe_cte_chain(rounds: int) -> str:
    """Shared unrolled DuckDB mirror of the BPE merge loop: rounds ×
    (pair count → argmax → replace) as chained CTEs, carrying the
    vocabulary word `w` through every s{r} so both the trainer oracle
    (reads m{r}) and the encoder oracle (reads s{rounds}) derive from
    ONE chain. Built by a loop so the SQL cannot drift from the round
    count the Spark side runs. Merge application mirrors the engine's
    BOUNDARY-SAFE wrapped replace (operators/tokenizer.py r7): each
    symbol is wrapped in chr(31) before the substring replace so
    'h e' can never match inside 'th e' — the plain space-joined
    replace both sides previously ran shared that false-match."""
    parts = [
        """WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT unnest(str_split_regex(trim(text), ' +')) AS w FROM documents)
  GROUP BY w
),
s0 AS (SELECT w, array_to_string(str_split(w, ''), ' ') AS s, f FROM wf)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT pr, CAST(sum(f) AS BIGINT) AS cnt FROM (
    SELECT f, unnest([l[i] || ' ' || l[i + 1]
                      for i in generate_series(1, len(l) - 1)]) AS pr
    FROM (SELECT str_split(s, ' ') AS l, f FROM s{r - 1})
  ) GROUP BY pr
),
m{r} AS (SELECT {r} AS rnd, pr, replace(pr, ' ', '') AS merged, cnt
         FROM p{r} ORDER BY cnt DESC, pr LIMIT 1),
s{r} AS (SELECT w,
  trim(replace(
    replace(
      chr(31) || replace(s, ' ', chr(31) || chr(31)) || chr(31),
      (SELECT chr(31) || replace(pr, ' ', chr(31) || chr(31)) || chr(31)
       FROM m{r}),
      (SELECT chr(31) || merged || chr(31) FROM m{r})
    ),
    chr(31) || chr(31), ' '), chr(31)) AS s, f
         FROM s{r - 1})"""
        )
    return "".join(parts)


def _bpe_oracle(rounds: int = 5) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT rnd, pr AS pair, merged, cnt AS wcount FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_cte_chain(rounds) + "\n" + sel


def _bpe_encode_oracle(rounds: int = 5) -> str:
    return (
        _bpe_cte_chain(rounds)
        + f""",
tok AS (SELECT w, CAST(len(str_split(s, ' ')) AS BIGINT) AS n_tok FROM s{rounds}),
dw AS (SELECT doc_id, unnest(str_split_regex(trim(text), ' +')) AS w FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(sum(n_tok) * 1.0 / count(*), 6) AS tokens_per_word
FROM dw JOIN tok USING (w)
GROUP BY doc_id
"""
    )


@query("x_bpe_train_merges", oracle=_bpe_oracle(5))
def x_bpe_train_merges(spark, sf_dir):
    """The actual BPE TRAINER (Sennrich et al. 2016), not just one
    round of pair stats (that is x_bpe_pair_counts): five iterations
    of weighted-pair-count → deterministic argmax (count desc, pair
    asc) → merge-applied-everywhere, run on the word-frequency table.
    The corpus is shuffled ONCE (the same vocab aggregate every token
    query pays); each round is vocabulary-sized and the driver pulls
    one argmax row per round (the k-means collect precedent). Output
    pins every round's full cycle: round, winning pair, merged symbol,
    and the weighted count that justified the merge. The oracle is the
    same five rounds unrolled as chained CTEs — generated by a loop so
    Spark rounds and SQL rounds cannot drift."""
    from sparkga1_spark.operators.tokenizer import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return bpe_train_merges(spark, wf, rounds=5)


@query("x_bpe_encode_corpus", oracle=_bpe_encode_oracle(5))
def x_bpe_encode_corpus(spark, sf_dir):
    """The ENCODE side of BPE — apply the 5 trained merges back to the
    corpus and report per-document token counts (the fertility number
    every token-budget computation actually needs; x_token_budget_sample
    consumes exactly this kind of count). Scale shape: training already
    bounded each merge round to the VOCAB table; encoding reuses that —
    the segmented vocab (w → n_tok) is corpus-bounded, and per-doc
    counts are ONE join of the word-occurrence stream against it (AQE
    broadcasts while the vocab fits, the bigram-LM precedent) plus one
    groupBy(doc). Document text is scanned twice — the vocab aggregate
    and the count join; persisting the exploded occurrence stream to
    save the second scan would cache corpus-sized state, strictly worse
    at 100 TB — and no per-doc merge loop ever runs. The oracle
    replays the same five merge rounds as
    chained CTEs (shared with the trainer oracle, so trainer and
    encoder SQL cannot disagree) and joins the same word stream."""
    from sparkga1_spark.operators.tokenizer import bpe_segment_vocab

    docs = load_table(spark, sf_dir, "documents")
    words_stream = docs.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w")
    )
    wf = words_stream.groupBy("w").agg(F.count("*").cast("long").alias("f"))
    vocab = bpe_segment_vocab(spark, wf, rounds=5)
    return (
        words_stream.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "tokens_per_word"
            ),
        )
    )


@query(
    "x_text_nfc_clean",
    oracle=r"""
WITH p AS (
  SELECT doc_id,
         text || ' ' || chr(7) ||
         CASE doc_id % 4 WHEN 0 THEN 'e' || chr(769)
                         WHEN 1 THEN 'A' || chr(778)
                         WHEN 2 THEN 'o' || chr(770)
                         ELSE 'n' || chr(771) END || chr(8203) AS raw
  FROM documents
),
c AS (
  SELECT doc_id, raw,
         trim(regexp_replace(
           nfc_normalize(regexp_replace(
             raw, '[\x00-\x08\x0B-\x1F\x7F\x{200B}]', '', 'g')),
           '\s+', ' ', 'g')) AS cleaned
  FROM p
)
SELECT doc_id,
       CAST(length(raw) AS INTEGER) AS raw_chars,
       CAST(length(cleaned) AS INTEGER) AS clean_chars,
       md5(cleaned) AS cleaned_md5
FROM c
""",
)
def x_text_nfc_clean(spark, sf_dir):
    """UTF-8 text hygiene — the normalization pass every curation
    pipeline runs before hashing: strip control/format characters
    (C0 minus tab/newline, DEL, ZERO WIDTH SPACE — JVM regex),
    Unicode-NFC compose combining sequences ('e'+U+0301 → 'é'; without
    this, visually identical docs hash apart in every dedup family),
    then collapse whitespace and trim. The fixture plants a closed-form
    combining sequence, a BEL, and a ZWSP per doc so the pass has real
    work; output pins character counts before/after AND the md5 of the
    cleaned text, which only matches if both engines produce the same
    BYTES. NFC runs as one Arrow batch stage (Spark has no built-in;
    the Unicode tables live in Python's unicodedata) — map-only, no
    shuffle, so at 100 TB it rides the scan like any projection. The
    oracle is DuckDB's independent nfc_normalize over the same RE2
    character class."""
    from sparkga1_spark.operators.transform import (
        CONTROL_CHAR_CLASS,
        nfc_normalize,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # DECOMPOSED sequences (base + combining mark) so NFC has real
    # composition work, matching the oracle plants
    marks = F.array(
        F.lit("e\u0301"), F.lit("A\u030a"), F.lit("o\u0302"), F.lit("n\u0303")
    )
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" \x07"),
            F.element_at(marks, (F.col("doc_id") % 4 + 1).cast("int")),
            F.lit("\u200b"),
        ).alias("raw"),
    )
    stripped = planted.withColumn(
        "s1", F.regexp_replace("raw", CONTROL_CHAR_CLASS, "")
    )
    cleaned = nfc_normalize(stripped, text_col="s1", out_col="nfc").select(
        "doc_id",
        "raw",
        F.trim(T.normalize_whitespace(F.col("nfc"))).alias("cleaned"),
    )
    return cleaned.select(
        "doc_id",
        F.length("raw").alias("raw_chars"),
        F.length("cleaned").alias("clean_chars"),
        F.md5(F.col("cleaned").cast("binary")).alias("cleaned_md5"),
    )


@query(
    "x_stratified_sample_es",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         CAST(octet_length(encode(text)) + 1 AS BIGINT) AS weight,
         CAST(('0x' || substr(md5('41:977:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1048573 + 1 AS un
  FROM documents
),
keyed AS (
  SELECT doc_id, source, weight,
         round(power(un / 1048574.0, 1.0 / weight), 6) AS es_key
  FROM w
)
SELECT doc_id, source, weight, es_key
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
  FROM keyed
)
WHERE rn <= 10
""",
)
def x_stratified_sample_es(spark, sf_dir):
    """Stratified deterministic weighted sampling: an independent A-ES
    top-10 per SOURCE (x_weighted_sample_es is the global cut; curation
    samples per source so one giant crawl cannot starve small
    high-quality sources). Same seeded-md5 key, same 6dp+id-tiebreak
    stability rule applied inside each stratum; the window partitions
    by source, so the plan is one shuffle on the group key and no
    group ever converges beyond its own partition."""
    from sparkga1_spark.operators.sampling import weighted_sample_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.octet_length("text") + F.lit(1)).cast("long").alias("weight"),
    )
    return weighted_sample_per_group(docs, "source", "doc_id", "weight", 10)


@query(
    "x_hll_accuracy_audit",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
""",
)
def x_hll_accuracy_audit(spark, sf_dir):
    """Distinct-count sketch audit, the x_sketch_accuracy_audit /
    x_minhash_accuracy_audit pattern applied to HyperLogLog++: per
    event_type, run Spark's approx_count_distinct (rsd 1%) NEXT TO the
    exact distinct count and assert |est − exact| / exact ≤ 5% as a
    column the oracle states must be TRUE. HLL registers combine by
    max (commutative), so the estimate is partition-order-invariant —
    deterministic enough to gate. The audit exists because the r5 LSH
    lesson generalizes: a sketch can silently degenerate while every
    downstream consumer stays plausible; pinning measured error to a
    bound is the regression net. At 100 TB the exact branch is the
    expensive one (a distinct shuffle) — production uses the sketch
    alone; the audit runs on samples."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("est"),
    )
    within = (
        F.abs(F.col("est") - F.col("exact_users"))
        / F.col("exact_users")
        <= F.lit(0.05)
    )
    return agg.select("event_type", "exact_users", within.alias("within_bound"))


@query(
    "x_incremental_rollup_merge",
    oracle=f"""
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       CAST(count(value) AS BIGINT) AS n_rows,
       {dsum_sql('value')} AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       {davg_sql('value')} AS avg_value
FROM events
GROUP BY 1, 2
""",
)
def x_incremental_rollup_merge(spark, sf_dir):
    """Incremental aggregate-state maintenance (operators/incremental):
    the events stream arrives as THREE deterministic ingest batches
    (event_id % 3); each batch folds to per-(type, day) ALGEBRAIC state
    (count / decimal-guarded sum / min / max), the states merge, and
    the merged state finalizes into n/sum/min/max/avg. The oracle is
    the single-pass batch aggregate over ALL events — equality proves
    the merge is exact, which only holds because every component is
    associative (the decimal guard removes float summation-order
    drift; avg is derived at finalize, never merged — avg-of-avgs is
    the classic wrong fold). At 100 TB this is the difference between
    O(|batch|) per refresh and a full corpus rescan; the state table
    lives bucketed by key so only the batch side shuffles. Horizontal
    twin of x_rollup_chain_daily's vertical (hour→day) reaggregation."""
    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    keys = ["event_type", "day"]
    ev = _events(spark, sf_dir).withColumn(
        "day", F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)")
    )
    states = [
        aggregate_state(ev.filter(F.col("event_id") % 3 == i), keys, "value")
        for i in range(3)
    ]
    return finalize_state(merge_states(states, keys), keys).select(
        "event_type", "day", "n_rows", "sum_value", "min_value",
        "max_value", "avg_value",
    )


@query(
    "x_incremental_distinct_hll",
    oracle="""
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
""",
)
def x_incremental_distinct_hll(spark, sf_dir):
    """Mergeable distinct counting for incremental state — the one
    metric x_rollup_chain_daily's sum/count decomposition CANNOT carry
    (distinct does not reaggregate). Each of three ingest batches
    builds per-type state with Datasketches HLL registers
    (hll_sketch_agg); merge is hll_union_agg (register-wise max —
    associative, commutative, order-invariant), and the finalized
    estimate must sit within 5% of the exact distinct over the full
    stream, stated as a TRUE column the oracle pins (the
    x_hll_accuracy_audit pattern, now across a UNION of sketches —
    a union-side register bug would break the bound while each
    per-batch sketch stays plausible). At 100 TB the exact branch is
    the audit-only path; production reads the merged registers."""
    from sparkga1_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    ev = _events(spark, sf_dir)
    states = [
        aggregate_state(
            ev.filter(F.col("event_id") % 3 == i), ["event_type"], "value",
            distinct_col="user_id",
        )
        for i in range(3)
    ]
    fin = finalize_state(merge_states(states, ["event_type"]), ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    j = fin.join(exact, "event_type")
    within = (
        F.abs(F.col("distinct_est") - F.col("exact_users"))
        / F.col("exact_users")
        <= F.lit(0.05)
    )
    return j.select(
        "event_type", "n_rows", "exact_users", within.alias("within_bound")
    )


@query(
    "x_weighted_sample_es",
    oracle="""
WITH w AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) + 1 AS BIGINT) AS weight,
         CAST(('0x' || substr(md5('41:977:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1048573 + 1 AS un
  FROM documents
)
SELECT doc_id, weight,
       round(power(un / 1048574.0, 1.0 / weight), 6) AS es_key
FROM w
ORDER BY es_key DESC, doc_id
LIMIT 200
""",
)
def x_weighted_sample_es(spark, sf_dir):
    """Deterministic weight-proportional sampling (Efraimidis–Spirakis
    A-ES): each doc gets priority u^(1/w) with w = byte length + 1 and
    u a seeded-md5 uniform — the top-200 is a weighted sample WITHOUT
    replacement that is a pure function of the data (re-runs, resumed
    pipelines, and the oracle all select the same rows; Spark's
    rand()-based sample() cannot promise any of that). The key is
    rounded to 6dp with doc_id as tiebreak BEFORE the cut, so the
    selected set itself is stable under cross-engine pow() ulps. Plan:
    one scan + TakeOrderedAndProject — per-partition top-200 and a
    200-row reducer, no corpus shuffle at any scale."""
    from sparkga1_spark.operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.octet_length("text") + F.lit(1)).cast("long").alias("weight")
    )
    return weighted_sample_topk(docs, "doc_id", "weight", 200)


@query(
    "x_multimodal_pcx_decode",
    oracle="""
WITH s AS (
  SELECT doc_id,
         doc_id % 44 + 4 AS w, doc_id % 20 + 4 AS h,
         octet_length(encode(text)) AS L,
         [CAST(('0x' || substr(hex(encode(text)), 2*i-1, 2)) AS INTEGER)
          for i in generate_series(1, octet_length(encode(text)))] AS bv
  FROM documents
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       3 AS channels,
       'PCX' AS format,
       -- L = 0 guard mirrors the planter's b'\\0' empty-text fallback
       CAST(CASE WHEN L = 0 THEN 0
            ELSE (w * h * 3 // L) * list_sum(bv)
                 + coalesce(list_sum(bv[1:(w * h * 3) % L]), 0)
            END AS BIGINT) AS px_sum
FROM s
""",
)
def x_multimodal_pcx_decode(spark, sf_dir):
    """Multimodal REAL compressed-image decode #4 — PCX (ZSoft public
    spec), the byte-RLE family: with BMP/PPM (raw), PNG (DEFLATE), QOI
    (delta ops) and GIF (LZW) this closes every classic lossless
    compression style on real pixels. Full decode: RLE expansion with
    the >=0xC0 run-escape rule, per-scanline 3-plane deinterleave,
    even-padding discard. The oracle states px_sum in closed form over
    the tiled UTF-8 text bytes (lossless ⇒ run/literal choice
    invariant); truncation/overflow raise (pytest), roundtrip covers
    the full byte range including the escape path."""
    from sparkga1_spark.operators.multimodal import (
        decode_image_stats,
        plant_pcx_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_image_stats(plant_pcx_payloads(docs))


@query(
    "x_heavy_hitters_cms",
    oracle="""
WITH toks AS (
  SELECT unnest(str_split_regex(trim(text), ' +')) AS token FROM documents
),
counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
cells AS (
  SELECT d.d AS depth, token, cnt,
         CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':9176:' ||
               CAST(CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
                    AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket
  FROM counts, (SELECT unnest(generate_series(0, 3)) AS d) d
),
sketch AS (
  SELECT depth, bucket, CAST(sum(cnt) AS BIGINT) AS bc
  FROM cells GROUP BY depth, bucket
),
top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 20)
SELECT c.token, c.cnt AS exact_n,
       min(s.bc) AS cms_est,
       CAST(min(s.bc) - c.cnt AS BIGINT) AS overest
FROM cells c
JOIN sketch s USING (depth, bucket)
WHERE c.token IN (SELECT token FROM top)
GROUP BY c.token, c.cnt
""",
)
def x_heavy_hitters_cms(spark, sf_dir):
    """Heavy hitters via a count-min sketch (Cormode–Muthukrishnan),
    audited against exact counts: build a 4×512 mergeable sketch over
    corpus token frequencies, probe it for the exact top-20 tokens,
    and emit estimate vs truth with the overestimate (the CMS
    guarantee est ≥ exact makes `overest` non-negative BY CONSTRUCTION
    — a hashing drift between build and probe breaks the hash gate
    immediately). The sketch is 2048 cells REGARDLESS of corpus size —
    at 100 TB the vocabulary aggregate is the only data-sized stage
    (identical to x_vocab_topk's), the sketch aggregate is map-side
    combinable into 2048 rows, and the probe joins a broadcast sketch
    against the top-k only. Seeded-md5 hashing (functions/hashing.py)
    keeps every cell bit-reproducible in the DuckDB oracle."""
    from sparkga1_spark.operators.sketches import (
        cms_cells,
        cms_point_estimates,
        cms_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the vocab aggregate feeds three consumers (sketch build, probe
    # coordinates, exact top-k) — persist it once instead of paying the
    # corpus tokenize+shuffle three times
    counts = tracked_persist(
        docs.select(F.explode(T.words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cells = cms_cells(counts, "token", "cnt")
    sketch = cms_sketch(cells, "cnt")
    top = counts.orderBy(F.desc("cnt"), "token").limit(20)
    probe = cells.join(F.broadcast(top.select("token")), "token")
    est = cms_point_estimates(probe, sketch, "token", "cnt")
    return est.select(
        "token",
        F.col("cnt").alias("exact_n"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).cast("long").alias("overest"),
    )


@query(
    "x_corr_exact",
    oracle="""
SELECT event_type,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
           AS corr_vu
FROM (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(user_id AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(value * user_id AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(user_id * user_id AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM events GROUP BY event_type
)
""",
)
def x_corr_exact(spark, sf_dir):
    """Deterministic Pearson correlation per group — the decimal-moment
    technique behind dsum generalized to SECOND moments: the five sums
    (Σx, Σy, Σxy, Σx², Σy²) accumulate in exact DECIMAL (commutative —
    partial-aggregate order cannot perturb them), then ONE double
    evaluation of the closed form. Spark's built-in corr() is a
    float running accumulation whose low bits depend on partition
    order — unusable under a value-hash gate and not reproducible
    run-to-run on a cluster; this form is bit-stable on both engines
    at any parallelism. One partial+final aggregate, 6 numbers per
    group over the wire."""
    ev = _events(spark, sf_dir)

    def m(c):
        return F.sum(c.cast("decimal(28,6)")).cast("double")

    v, u = F.col("value"), F.col("user_id")
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        m(v).alias("sx"),
        m(u).alias("sy"),
        m(v * u).alias("sxy"),
        m(v * v).alias("sxx"),
        m(u * u).alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select("event_type", hround(corr, 6).alias("corr_vu"))


@query(
    "x_decontaminate_overlap",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         unnest(list_distinct(
           [CAST(('0x' || substr(md5(W[i]||' '||W[i+1]||' '||W[i+2]), 1, 15)) AS BIGINT)
            for i in generate_series(1, greatest(len(W) - 2, 0))])) AS h
  FROM (SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents)
),
ev AS (SELECT DISTINCT h FROM grams WHERE doc_id % 25 = 0),
tr AS (SELECT doc_id, h FROM grams WHERE doc_id % 25 <> 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM tr JOIN ev USING (h)
GROUP BY doc_id
""",
)
def x_decontaminate_overlap(spark, sf_dir):
    """Eval-set decontamination — the training-data hygiene operator:
    find every training document sharing any word 3-gram with the
    held-out eval slice (doc_id%25==0 stands in for the benchmark
    set), with the per-doc overlapping-gram count for audit. Plan:
    one shingle pass over the corpus (shingle_hash_rows — codegen'd,
    linear), the eval gram set broadcast (eval sets are small by
    construction), equi-join on the 8-byte gram hash, per-doc count.
    Dropping the flagged docs is then an anti-join of this result —
    the corpus itself never shuffles by gram."""
    from sparkga1_spark.functions.text import shingle_hash_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = shingle_hash_rows(docs, n=3)
    ev = grams.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    tr = grams.filter(F.col("doc_id") % 25 != 0)
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@query(
    "x_string_agg_sorted",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       array_to_string(list_sort(list_distinct(list(CAST(user_id AS VARCHAR)))), ',')
           AS users
FROM events
GROUP BY event_type
""",
)
def x_string_agg_sorted(spark, sf_dir):
    """Deterministic list/string aggregation (LISTAGG/string_agg
    shape): collect_set → array_sort → array_join. Unsorted collect_*
    output order is partition-dependent and can NEVER be oracle-hashed
    or reproduced run-to-run on a cluster — the sort is the contract,
    not a nicety. Shuffles one set per (event_type) group."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.array_join(
            F.array_sort(F.collect_set(F.col("user_id").cast("string"))), ","
        ).alias("users"),
    )


@query(
    "x_gapfill_locf",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, (e - e % 3600) AS hr, {davg_sql('value')} AS v
  FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e, value FROM events)
  GROUP BY 1, 2
),
spans AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id,
         unnest([h0 + 3600*i for i in generate_series(0, (h1 - h0) // 3600)]) AS hr
  FROM spans
)
SELECT g.user_id, g.hr AS hour_start,
       last_value(h.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       CAST(h.v IS NULL AS INTEGER) AS was_gap
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
""",
)
def x_gapfill_locf(spark, sf_dir):
    """Time-series gap filling with last-observation-carried-forward:
    per-user hourly averages, a dense hour grid per user generated
    in-plan (F.sequence + explode — no driver-side range loop), LEFT
    join, and forward fill via last(ignore_nulls) over the per-user
    ordered window. The grid explode and the fill both key on user_id,
    so the whole dense series for one user stays in one partition —
    grid size is bounded by the time span, never by event count. The
    first grid hour per user is an observed hour by construction, so
    the fill has no leading nulls."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    e = F.unix_timestamp("ts")
    hourly = ev.groupBy(
        "user_id", (e - e % 3600).alias("hr")
    ).agg(davg("value").alias("v"))
    spans = hourly.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("hr")
    )
    w = Window.partitionBy("user_id").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # r14 broadcast audit (guide §3.1): the planner broadcast the
    # events-derived hourly table (95k rows / 20 MB at sf0.1) as this
    # join's build side — fact-shaped, impossible at scale.
    # shuffle_hash keys both sides on (user_id, hr); hourly's aggregate
    # output is already partitioned that way, so only the grid side
    # moves. Measured neutral at sf0.1 (0.377 vs 0.383 interleaved).
    return (
        grid.join(hourly.hint("shuffle_hash"), ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.col("hr").alias("hour_start"),
            F.last("v", ignorenulls=True).over(w).alias("value_filled"),
            F.isnull("v").cast("int").alias("was_gap"),
        )
    )


# --------------------------------------------------------------------------
# M6 streaming semantics, batch-checkable forms (SURVEY.md §2.9). The
# true readStream path is exercised in tests/test_streaming.py with
# Trigger.AvailableNow; these batch twins share the same Column logic
# (streaming/windows.py), so the oracle validates both.
# --------------------------------------------------------------------------


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@query(
    "s_tumbling_counts",
    oracle=f"""
SELECT (e - e % 300) AS win_start, event_type, count(*) AS n,
       {dsum_sql('value')} AS sum_value
FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type, value FROM events)
GROUP BY 1, 2
""",
)
def s_tumbling_counts(spark, sf_dir):
    """Tumbling 5-minute event-time windows (batch twin of the
    streaming query; window-start as epoch seconds)."""
    from sparkga1_spark.streaming.windows import tumbling_counts

    return tumbling_counts(_events(spark, sf_dir), width_s=300)


@query(
    "s_sliding_avg",
    oracle=f"""
SELECT win_start, count(*) AS n, {davg_sql('value')} AS avg_value
FROM (
  SELECT (e - e % 300) - k AS win_start, value
  FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, value FROM events),
       unnest([0, 300]) AS t(k)
)
GROUP BY win_start
""",
)
def s_sliding_avg(spark, sf_dir):
    """Sliding 10-minute windows every 5 minutes (each event in exactly
    two windows)."""
    from sparkga1_spark.streaming.windows import sliding_avg

    return sliding_avg(_events(spark, sf_dir), width_s=600, slide_s=300)


@query(
    "s_session_windows",
    oracle=f"""
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
       count(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM (
  SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM (
    SELECT *, CASE WHEN pts IS NULL
                     OR epoch_us(ts) - epoch_us(pts) >= 1800 * 1000000
                   THEN 1 ELSE 0 END AS ni
    FROM (SELECT user_id, event_id, ts, value,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
          FROM events)
  )
)
GROUP BY user_id, sess
""",
)
def s_session_windows(spark, sf_dir):
    """Per-user session windows, 30-minute inactivity gap — same
    gaps-and-islands operator family as the genomics interval
    coalescing (P2-6), applied to event time."""
    from sparkga1_spark.streaming.windows import session_windows

    return session_windows(_events(spark, sf_dir), gap_s=1800)


# --------------------------------------------------------------------------
# Engine additions beyond the reference surface (SURVEY.md §2.4/§2.5
# "free" generalizations): as-of join, rollup/pivot, exact percentiles,
# and the A-8 covariate-table aggregation.
# --------------------------------------------------------------------------


@query(
    "j_asof_latest_order",
    oracle="""
SELECT e.event_id, e.user_id, o.o_orderkey AS asof_o_orderkey
FROM events e
ASOF LEFT JOIN (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                FROM orders GROUP BY 1, 2) o
  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
""",
)
def j_asof_latest_order(spark, sf_dir):
    """As-of join: each event picks the user's most recent order at
    event time — single-shuffle union-merge construction (see
    operators/joins.py asof_join); oracle is DuckDB's native ASOF."""
    from sparkga1_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev.withColumnRenamed("user_id", "k"),
        od.withColumnRenamed("o_custkey", "k"),
        on="k",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey"],
    )
    return joined.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("asof_o_orderkey"),
    )


@query(
    "a_rollup_revenue",
    oracle=f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
       count(*) AS n,
       {dsum_sql('l_extendedprice')} AS total
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def a_rollup_revenue(spark, sf_dir):
    """Hierarchical rollup with grouping indicators (subtotal levels) —
    multi-level aggregation in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n"),
            dsum("l_extendedprice").alias("total"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
            "total",
        )
    )


@query(
    "a_pivot_status_qty",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
""",
)
def a_pivot_status_qty(spark, sf_dir):
    """Pivot (wide aggregation) — linestatus spread into columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(hround(F.sum("l_quantity"), 2))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_open"),
            F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_filled"),
        )
    )


@query(
    "a_exact_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
FROM lineitem
GROUP BY l_returnflag
""",
)
def a_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (O-3's quantile family;
    the approx sketch variant is percentile_approx, used in
    operators/skew.py where exactness is unnecessary)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        hround(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        hround(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        hround(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
        hround(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("price_p90"),
    )


@query(
    "a_covariate_table",
    oracle=FIXTURE_CTES
    + """
SELECT rg, mapq_bin, cycle_bin,
       count(*) AS n_obs,
       round(avg(CAST(pos % 97 AS DOUBLE) / 97.0), 6) AS mismatch_rate
FROM (
  SELECT a.rg, CAST(floor(a.mapq / 10.0) AS INTEGER) AS mapq_bin,
         CAST(floor(a.pos % 151 / 25.0) AS INTEGER) AS cycle_bin, a.pos
  FROM alignments a
  WHERE NOT EXISTS (SELECT 1 FROM known_sites k
                    WHERE k.chr_index = a.chr_index AND k.pos = a.pos)
)
GROUP BY rg, mapq_bin, cycle_bin
""",
)
def a_covariate_table(spark, sf_dir):
    """A-8: BaseRecalibrator's covariate table (SparkGA1.scala:901-905)
    — group by (read group, quality bin, cycle bin) over loci NOT in
    known sites (anti join), with a deterministic mismatch stand-in."""
    al = _alignments(spark, sf_dir)
    ks = fixtures.known_sites(load_table(spark, sf_dir, "lineitem"))
    novel = al.join(F.broadcast(ks), ["chr_index", "pos"], "left_anti")
    return (
        novel.select(
            "rg",
            (F.col("mapq") / 10).cast("int").alias("mapq_bin"),
            (F.col("pos") % 151 / 25).cast("int").alias("cycle_bin"),
            "pos",
        )
        .groupBy("rg", "mapq_bin", "cycle_bin")
        .agg(
            F.count("*").alias("n_obs"),
            hround(F.avg((F.col("pos") % 97).cast("double") / 97.0), 6).alias(
                "mismatch_rate"
            ),
        )
    )


_IVF_COS = (
    "round(list_inner_product({a}, {b})"
    " / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
)


@query(
    "x_ann_ivf_topk",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id % 50 = 0),
assigned AS (
  SELECT vec_id, cent_id AS cluster_id, e FROM (
    SELECT b.vec_id, c.cent_id, b.e,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_IVF_COS.format(a='b.e', b='c.ce')} DESC, c.cent_id) AS rn
    FROM base b CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
         {_IVF_COS.format(a='q.e', b='a.e')} AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_IVF_COS.format(a='q.e', b='a.e')} DESC, a.vec_id) AS rank
  FROM assigned q JOIN assigned a
    ON q.cluster_id = a.cluster_id AND a.vec_id != q.vec_id
  WHERE q.vec_id % 20 = 0
)
WHERE rank <= 3
""",
)
def x_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (nprobe=1, deterministic seed centroids at
    vec_id%50==0): assignment via broadcast centroid pass, search via
    cluster-id equi-join — the inverted-file scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb,
        dim=64,
        centroid_pred=F.col("vec_id") % 50 == 0,
        query_pred=F.col("vec_id") % 20 == 0,
        k=3,
    )


@query(
    "x_ann_ivfpq_topk",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id % 50 = 0),
crank AS (
  SELECT b.vec_id, c.cent_id,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY {_IVF_COS.format(a='b.e', b='c.ce')} DESC, c.cent_id) AS rn
  FROM base b CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cent_id AS cluster_id FROM crank WHERE rn = 1),
probes AS (
  SELECT vec_id AS qid, cent_id AS cluster_id FROM crank
  WHERE rn <= 2 AND vec_id % 20 = 0
),
cb AS (
  SELECT vec_id AS code, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS cvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
  WHERE vec_id < 4
),
sub AS (
  SELECT vec_id, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS xvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
),
scored AS (
  SELECT vec_id, subspace,
         CAST(floor(round(list_inner_product(
                [xvec[i] - cvec[i] for i in generate_series(1, 16)],
                [xvec[i] - cvec[i] for i in generate_series(1, 16)]), 6)
              * 1000000 + 0.5) AS BIGINT) * 4 + code AS k
  FROM sub JOIN cb USING (subspace)
),
codes AS (
  SELECT vec_id, subspace, min(k) % 4 AS code
  FROM scored GROUP BY vec_id, subspace
),
lut AS (
  SELECT q.vec_id AS qid, cb.subspace, cb.code,
         CAST(floor(round(list_inner_product(
                [xvec[i] - cvec[i] for i in generate_series(1, 16)],
                [xvec[i] - cvec[i] for i in generate_series(1, 16)]), 6)
              * 1000000 + 0.5) AS BIGINT) AS dm
  FROM (SELECT * FROM sub WHERE vec_id % 20 = 0) q
  JOIN cb ON cb.subspace = q.subspace
),
adc AS (
  SELECT p.qid, c.vec_id AS cand_id, sum(l.dm) AS dm
  FROM codes c
  JOIN assigned a ON a.vec_id = c.vec_id
  JOIN probes p ON p.cluster_id = a.cluster_id AND c.vec_id <> p.qid
  JOIN lut l ON l.qid = p.qid AND l.subspace = c.subspace AND l.code = c.code
  GROUP BY p.qid, c.vec_id
)
SELECT qid AS query_id, cand_id, CAST(rank AS INTEGER) AS rank,
       CAST(dm AS BIGINT) AS d_micro
FROM (
  SELECT qid, cand_id, dm,
         row_number() OVER (PARTITION BY qid ORDER BY dm, cand_id) AS rank
  FROM adc
)
WHERE rank <= 3
""",
)
def x_ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed (r8 VERDICT #6) — the production ANN shape: the
    IVF coarse quantizer (seed centroids vec_id%50==0, nprobe=2) routes
    the PQ asymmetric-distance scan so each query scores only the
    candidates in its two probed clusters — Σ probed-cluster sizes ×
    4 subspaces instead of the corpus-wide ADC scan (flat PQ measured
    candidate-linear, 98s at a 100× corpus). Seeded centroids
    AND a seeded codebook keep the whole composition SQL-expressible,
    so this row value-checks assignment, probing, encoding, LUT, and
    integer-exact ADC ranking end-to-end (recall floors in
    tests/test_ann_recall.py). nprobe=all
    equals flat PQ exactly (test_ivfpq_nprobe_all_equals_flat_pq) —
    the routing only ever REMOVES candidates."""
    from sparkga1_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        dim=64,
        centroid_pred=F.col("vec_id") % 50 == 0,
        codebook_pred=F.col("vec_id") < 4,
        query_pred=F.col("vec_id") % 20 == 0,
        k=3,
        nprobe=2,
    )


# --------------------------------------------------------------------------
# General-analytics shapes (TPC-H-style) — exercising Catalyst's join
# reordering, semi-join rewrites, and subquery machinery that the
# reference never had but any engine user expects (SURVEY.md §2.4 note).
# --------------------------------------------------------------------------


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
""",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """Q3 shape: selective dim filter → fact join chain → grouped
    revenue. Customer filter prunes before the join (Catalyst pushes
    through the join), orders/lineitem predicates reach their scans."""
    cu = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp_ntz")
    )
    # r14 broadcast audit (guide §3.1): the planner broadcast the
    # filtered lineitem fact (388k rows / 17 MB at sf0.1) as this
    # join's build side — a fact side can never broadcast at scale;
    # shuffle_hash keys both fact sides on orderkey instead.
    li = li.hint("shuffle_hash")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, li.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark, sf_dir):
    """Q4 shape: EXISTS correlated subquery → left-semi join rewrite."""
    od = load_table(spark, sf_dir, "orders")
    # r14 broadcast audit (guide §3.1): the semi-join's build side was
    # the ENTIRE lineitem fact (600k rows / 33 MB broadcast at sf0.1 —
    # the largest fact broadcast in the registry); shuffle_hash keys
    # both facts on orderkey, the only strategy that survives at scale.
    li = load_table(spark, sf_dir, "lineitem").hint("shuffle_hash")
    late = od.join(
        li,
        (od.o_orderkey == li.l_orderkey) & (li.l_shipdate > od.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "tpch_q5_local_supplier",
    oracle=f"""
SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
)
def tpch_q5_local_supplier(spark, sf_dir):
    """Q5 shape: 6-way join with a cross-table residual (customer and
    supplier in the same nation) and an IN filter on the outermost dim."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    # r13 optimization (guide §3.1): under the session's 64 MB
    # auto-broadcast threshold Spark BROADCAST the whole lineitem fact
    # into the orders join (600k-row BroadcastExchange, 0.4-0.6 s of
    # collect+build per run at sf0.1) — backwards at any scale; at
    # 100 TB the fact side could never broadcast. shuffle_hash keys
    # both sides on orderkey (measured 1.08 → 0.77-1.01 s, rows
    # identical); the dims stay broadcast.
    li = li.hint("shuffle_hash")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, li.l_orderkey == od.o_orderkey)
        .join(
            F.broadcast(su),
            (li.l_suppkey == su.s_suppkey) & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "tpch_q17_small_quantity",
    oracle="""
SELECT ((2 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
         + 7) // 14) / 100.0 AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
""",
)
def tpch_q17_small_quantity(spark, sf_dir):
    """Q17 shape: correlated scalar aggregate subquery → per-key avg
    computed once (groupBy) and broadcast-joined back, NOT re-evaluated
    per row. round(sum/7, 2) is done entirely in integer cents —
    floor(S/7 + 1/2) = (2S+7) div 14 — so it is exact on both engines
    (sum(double)/7.0 is order-dependent). The quantity threshold is
    exact too: avg of integral doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    thresholds = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.sum(cents).alias("_cents"))
        .select(
            (F.expr("(2 * _cents + 7) div 14").cast("double") / 100.0)
            .alias("avg_yearly")
        )
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
SELECT c_custkey, o_orderkey, round(total_qty, 2) AS total_qty
FROM (
  SELECT o_custkey AS c_custkey, o_orderkey, sum(l_quantity) AS total_qty
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, o_orderkey
)
WHERE total_qty > 150
""",
)
def tpch_q18_large_orders(spark, sf_dir):
    """Q18 shape: grouped HAVING over a join (aggregate pushdown +
    post-aggregation filter).

    r13 optimization (guide §2.3 aggregate before you shuffle): the
    join-then-group form shipped every lineitem row through the join
    (and under the 64 MB threshold broadcast all 150k orders, 280 ms
    collect). Since o_custkey is functionally dependent on o_orderkey,
    grouping lineitem by l_orderkey FIRST — map-side partial agg on
    (orderkey, qty) pairs — and applying the HAVING before the join
    computes the identical rows: an inner join keeps exactly the same
    orderkeys either way. Measured 0.84/1.06 → 0.55/0.65 s at sf0.1,
    rows identical."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    tq = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_tq"))
        .filter(F.col("_tq") > 150)
    )
    # r14 broadcast audit (guide §3.1): the planner broadcast the whole
    # 150k-row orders fact into this join (tq's aggregate estimate is
    # opaque). Both sides are fact-shaped; shuffle_hash shuffles orders
    # by orderkey while tq's aggregate output is already partitioned on
    # l_orderkey, so only the orders side moves — the form that holds
    # at any scale.
    od = od.hint("shuffle_hash")
    return od.join(tq, od.o_orderkey == tq.l_orderkey).select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        hround("_tq", 2).alias("total_qty"),
    )


@query(
    "f_permissive_line_parse",
    oracle=FIXTURE_CTES
    + """
SELECT parsed_ok,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN parsed_ok = 1 THEN pos_val ELSE 0 END) AS BIGINT) AS sum_pos
FROM (
  SELECT CASE WHEN len(str_split(line, '\t')) >= 4
                   AND regexp_matches(str_split(line, '\t')[4], '^[0-9]+$')
              THEN 1 ELSE 0 END AS parsed_ok,
         CASE WHEN len(str_split(line, '\t')) >= 4
                   AND regexp_matches(str_split(line, '\t')[4], '^[0-9]+$')
              THEN CAST(str_split(line, '\t')[4] AS BIGINT) ELSE 0 END AS pos_val
  FROM (
    SELECT CASE WHEN CAST(split_part(read_name, '_', 2) AS INTEGER) % 50 = 0
                THEN read_name || '\t' || 'CORRUPT'
                ELSE read_name || '\t' || CAST(flags AS VARCHAR) || '\t'
                     || CAST(chr_index AS VARCHAR) || '\t' || CAST(pos AS VARCHAR)
           END AS line
    FROM alignments
  )
)
GROUP BY parsed_ok
""",
)
def f_permissive_line_parse(spark, sf_dir):
    """The reference's ingest tolerance (SamRegionsParser.scala:71-74
    badLines counter): tab-delimited SAM-ish lines — some deterministic
    rows corrupted — parsed PERMISSIVE-style with malformed rows counted
    rather than failing, and valid positions summed."""
    al = _alignments(spark, sf_dir)
    corrupt = F.substring_index("read_name", "_", -1).cast("int") % 50 == 0
    lines = al.select(
        F.when(corrupt, F.concat_ws("\t", "read_name", F.lit("CORRUPT")))
        .otherwise(F.concat_ws("\t", "read_name", "flags", "chr_index", "pos"))
        .alias("line")
    )
    fields = F.split(F.col("line"), "\t")
    ok = (F.size(fields) >= 4) & F.element_at(fields, 4).rlike("^[0-9]+$")
    parsed = lines.select(
        F.when(ok, 1).otherwise(0).alias("parsed_ok"),
        F.when(ok, F.element_at(fields, 4).cast("long")).otherwise(0).alias("pos_val"),
    )
    return parsed.groupBy("parsed_ok").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("parsed_ok") == 1, F.col("pos_val")).otherwise(0))
        .cast("long")
        .alias("sum_pos"),
    )


# --------------------------------------------------------------------------
# Coverage completions: paired-read interleave (S-3 semantics), global
# top-k with LIMIT, range-frame analytics, null semantics.
# --------------------------------------------------------------------------


@query(
    "s_paired_interleave",
    oracle=FIXTURE_CTES
    + """
SELECT ord_token,
       count(*) AS n_mates,
       min(pos) AS r1_pos,
       max(pos) AS r2_pos
FROM (
  SELECT split_part(read_name, '_', 1) AS ord_token, pos, line_no
  FROM (SELECT read_name, pos,
               CAST(split_part(read_name, '_', 2) AS INTEGER) AS line_no
        FROM alignments)
  WHERE line_no <= 2
)
GROUP BY ord_token
HAVING count(*) = 2
""",
)
def s_paired_interleave(spark, sf_dir):
    """S-3 paired-interleave semantics (README.md:130 of the reference:
    mate pairs interleaved by the chunker): mates share a read-name stem
    — pairing is a zip-style grouped join on the stem, no external
    chunker binary needed."""
    al = _alignments(spark, sf_dir)
    mates = al.select(
        F.substring_index("read_name", "_", 1).alias("ord_token"),
        "pos",
        F.substring_index("read_name", "_", -1).cast("int").alias("line_no"),
    ).filter(F.col("line_no") <= 2)
    return (
        mates.groupBy("ord_token")
        .agg(
            F.count("*").alias("n_mates"),
            F.min("pos").alias("r1_pos"),
            F.max("pos").alias("r2_pos"),
        )
        .filter(F.col("n_mates") == 2)
    )


@query(
    "o_topk_global_limit",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, reg, n_reads FROM (
  SELECT a.chr_index,
         CAST(floor(CAST(a.pos AS DOUBLE) / d.region_size) AS INTEGER) AS reg,
         count(*) AS n_reads
  FROM alignments a JOIN sequence_dict d USING (chr_index)
  GROUP BY 1, 2
)
ORDER BY n_reads DESC, chr_index, reg
LIMIT 10
""",
)
def o_topk_global_limit(spark, sf_dir):
    """Global ORDER BY + LIMIT (TakeOrderedAndProject — no full sort
    materialization; each partition keeps 10, the driver merges 10)."""
    binned = binning.bin_by_region(_alignments(spark, sf_dir), _seq_dict(spark, sf_dir))
    weights = binned.groupBy("chr_index", "reg").agg(F.count("*").alias("n_reads"))
    return weights.orderBy(F.desc("n_reads"), "chr_index", "reg").limit(10)


@query(
    "w_frame_lag_lead_range",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       CAST(coalesce(lag(o_orderkey) OVER w, -1) AS BIGINT) AS prev_order,
       CAST(coalesce(lead(o_orderkey) OVER w, -1) AS BIGINT) AS next_order,
       {davg_over_sql('o_totalprice',
                      '''(PARTITION BY o_custkey
                          ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                          RANGE BETWEEN 2592000 PRECEDING
                          AND 2592000 FOLLOWING)''')} AS avg_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def w_frame_lag_lead_range(spark, sf_dir):
    """Window frame family: lag/lead navigation + a RANGE frame over
    event-time seconds (±30 days of order value averaged per customer)."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    epoch = F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-2592000, 2592000)
    )
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1)).cast("long").alias("prev_order"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1)).cast("long").alias("next_order"),
        davg_over("o_totalprice", wr).alias("avg_30d"),
    )


@query(
    "f_null_semantics",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n_rows,
       count(disc) AS n_nonnull,
       CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       {dsum_sql('coalesce(disc, 0.0)', 6)} AS sum_disc,
       {davg_sql('disc')} AS avg_nonnull_disc
FROM (SELECT l_returnflag, nullif(l_discount, 0.0) AS disc FROM lineitem)
GROUP BY l_returnflag
""",
)
def f_null_semantics(spark, sf_dir):
    """Null semantics: count(col) skips nulls, avg ignores nulls,
    coalesce defaults — the PERMISSIVE-mode companion (nulls synthesized
    via nullif since the testdata is fully dense)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.nullif(F.col("l_discount"), F.lit(0.0))
    return (
        li.select("l_returnflag", disc.alias("disc"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("disc").alias("n_nonnull"),
            F.sum(F.when(F.col("disc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            dsum(F.coalesce("disc", F.lit(0.0)), 6).alias("sum_disc"),
            davg("disc").alias("avg_nonnull_disc"),
        )
    )


@query(
    "x_json_props_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
)
def x_json_props_extract(spark, sf_dir):
    """Semi-structured columns: JSON property extraction (get_json_object
    — schema-on-read over a string column) then aggregation."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


@query(
    "f_ignore_table_antijoin",
    oracle=FIXTURE_CTES
    + """
SELECT chr_index, count(*) AS n_kept
FROM alignments a
WHERE NOT EXISTS (SELECT 1 FROM nation
                  WHERE n_nationkey = a.chr_index AND n_nationkey >= 20)
GROUP BY chr_index
""",
)
def f_ignore_table_antijoin(spark, sf_dir):
    """F-4 at scale: ignore list as a broadcast anti-join table — the
    form for lists too large to inline as an `isin` literal (see
    f_mapped_clean_projection); the fact table is never shuffled."""
    al = _alignments(spark, sf_dir)
    ignore = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") >= 20)
        .select(F.col("n_nationkey").alias("chr_index"))
    )
    kept = al.join(F.broadcast(ignore), on="chr_index", how="left_anti")
    return kept.groupBy("chr_index").agg(F.count("*").alias("n_kept"))


@query(
    "a_cube_revenue",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
       count(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def a_cube_revenue(spark, sf_dir):
    """CUBE: all grouping-set combinations in one pass (rollup's
    sibling; SURVEY §2.3 engine addition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag", "g_status", "n",
        )
    )


@query(
    "w_first_last_nth",
    oracle="""
SELECT o_custkey,
       CAST(min(first_key) AS BIGINT) AS first_order,
       CAST(min(last_key) AS BIGINT) AS last_order,
       CAST(min(second_key) AS BIGINT) AS second_order,
       count(*) AS n_orders
FROM (
  SELECT o_custkey,
         first_value(o_orderkey) OVER w AS first_key,
         last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS last_key,
         coalesce(nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING), -1) AS second_key
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
GROUP BY o_custkey
""",
)
def w_first_last_nth(spark, sf_dir):
    """Navigation window functions: first/last/nth value per customer
    order history (unbounded frames)."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per_row = od.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(wf).alias("last_key"),
        F.coalesce(F.nth_value("o_orderkey", 2).over(wf), F.lit(-1)).alias("second_key"),
    )
    return per_row.groupBy("o_custkey").agg(
        F.min("first_key").cast("long").alias("first_order"),
        F.min("last_key").cast("long").alias("last_order"),
        F.min("second_key").cast("long").alias("second_order"),
        F.count("*").alias("n_orders"),
    )


@query(
    "x_vector_stats_hof",
    oracle="""
SELECT vec_id,
       round(list_aggregate(e, 'min'), 6) AS v_min,
       round(list_aggregate(e, 'max'), 6) AS v_max,
       round(list_aggregate(e, 'sum') / 64.0, 6) AS v_mean,
       CAST(len(list_filter(e, x -> x > 0.0)) AS INTEGER) AS n_positive
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
""",
)
def x_vector_stats_hof(spark, sf_dir):
    """SQL higher-order functions as the user-facing array API
    (SURVEY §2.8 note: transform/filter/aggregate over array columns):
    per-vector stats without exploding rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        hround(F.array_min(e), 6).alias("v_min"),
        hround(F.array_max(e), 6).alias("v_max"),
        hround(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x) / 64.0, 6
        ).alias("v_mean"),
        F.size(F.filter(e, lambda x: x > 0.0)).cast("int").alias("n_positive"),
    )


@query(
    "w_rank_family",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber,
       CAST(dense_rank() OVER w AS INTEGER) AS dr,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM lineitem
WHERE l_orderkey % 100 = 0
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
""",
)
def w_rank_family(spark, sf_dir):
    """Ranking-function family: dense_rank / percent_rank / cume_dist
    over a unique ordering (1% systematic sample keeps output compact)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.dense_rank().over(w).cast("int").alias("dr"),
        hround(F.percent_rank().over(w), 6).alias("pr"),
        hround(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "x_fuzzy_levenshtein",
    oracle="""
SELECT a.n_name AS name_a, b.n_name AS name_b,
       CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 4
""",
)
def x_fuzzy_levenshtein(spark, sf_dir):
    """Fuzzy string matching (edit distance ≤ 4) — the small-dimension
    fuzzy-join shape; at scale gate the pairing with an LSH/fingerprint
    pre-filter (operators/dedup.py) before the exact distance.

    Plan note (kept BNL, r8): the `<` self-join over the 25-row NATION
    dimension is definitionally non-equi, so it compiles to one
    BroadcastNestedLoopJoin — both sides are a bounded dimension, no
    fact-table subtree is replicated, and the pre-filter route above is
    the documented answer for anything corpus-sized."""
    na = load_table(spark, sf_dir, "nation")
    a, b = na.alias("a"), na.alias("b")
    return (
        a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            F.levenshtein(F.col("a.n_name"), F.col("b.n_name")).cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )


@query(
    "a_date_parts",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       count(*) AS n,
       {dsum_sql('o_totalprice')} AS total,
       CAST(min(day(o_orderdate)) AS INTEGER) AS first_day,
       CAST(max(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS BIGINT)
           AS max_epoch_day
FROM orders
GROUP BY 1, 2
""",
)
def a_date_parts(spark, sf_dir):
    """Date/time extraction family: year/month/day parts + epoch-day
    arithmetic, grouped monthly rollup."""
    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        od.groupBy(
            F.year(d).cast("int").alias("yr"), F.month(d).cast("int").alias("mo")
        )
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total"),
            F.min(F.dayofmonth(d)).cast("int").alias("first_day"),
            F.max(
                F.expr("unix_timestamp(cast(o_orderdate AS timestamp)) div 86400")
            ).cast("long").alias("max_epoch_day"),
        )
    )


@query(
    "a_minmax_by_bool",
    oracle="""
SELECT l_returnflag,
       CAST(arg_max(l_orderkey, l_extendedprice) AS BIGINT) AS priciest_order,
       CAST(arg_min(l_orderkey, l_extendedprice) AS BIGINT) AS cheapest_order,
       bool_or(l_quantity > 49) AS any_jumbo,
       bool_and(l_quantity > 0) AS all_positive,
       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
""",
)
def a_minmax_by_bool(spark, sf_dir):
    """Argmax/argmin + boolean aggregates + conditional count — the
    modern aggregate family (max_by/min_by/bool_or/bool_and/count_if).

    NOTE arg_max ties: l_extendedprice values are effectively unique per
    flag group in this data; for tie-prone data pair with a unique
    tiebreak struct (see operators/dedup.py keep_best)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", "l_extendedprice").cast("long").alias("priciest_order"),
        F.min_by("l_orderkey", "l_extendedprice").cast("long").alias("cheapest_order"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_jumbo"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_discounted"),
    )


@query(
    "x_vocab_topk",
    oracle="""
SELECT w AS token, count(*) AS freq,
       CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS INTEGER) AS vocab_id
FROM (SELECT unnest(str_split_regex(trim(text), ' +')) AS w FROM documents)
GROUP BY w
ORDER BY freq DESC, token
LIMIT 20
""",
)
def x_vocab_topk(spark, sf_dir):
    """Vocabulary building: corpus-wide token frequencies, top-20 with
    dense vocab ids (the tokenizer-training precursor). Explode →
    count → TakeOrderedAndProject (per-partition top-k, k rows to the
    driver-side reducer) FIRST; only the 20 survivors see the global
    row_number window, so no single task ever holds the full
    vocabulary (at 100 TB that is 10^8-10^9 distinct tokens)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(T.words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "token").limit(20)
    w = Window.orderBy(F.desc("freq"), "token")  # 20 rows, not the vocab
    return top.withColumn("vocab_id", F.row_number().over(w).cast("int"))


@query(
    "x_tfidf_top_terms",
    oracle="""
WITH tf AS (
  SELECT doc_id, w AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(str_split_regex(trim(text), ' +')) AS w FROM documents)
  GROUP BY doc_id, w
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, round(tfidf, 6) AS tfidf
FROM (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((SELECT n_docs FROM n) / CAST(df.df AS DOUBLE)) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln((SELECT n_docs FROM n) / CAST(df.df AS DOUBLE)) DESC,
                    tf.term) AS rn
  FROM tf JOIN df USING (term)
)
WHERE rn = 1
""",
)
def x_tfidf_top_terms(spark, sf_dir):
    """TF-IDF: term frequency × inverse document frequency, top term
    per document. df arrives as count().over(Window.partitionBy(term))
    — the r5 span-dup rule (PLANS.md): an aggregate joined back to its
    OWN input on the same key is strictly worse than a partitioned
    window (the broadcast-join form rebuilt the whole scan→explode→
    (doc,term)-aggregate subtree per consumer — the r9 physical-tree
    census measured 2 text scans per run; AQE never reuses the
    exchange across the diverging aggregate). term is vocabulary-
    cardinality, so the window partitioning is wide — never the
    low-cardinality funnel this rule must avoid (x_target_encode_loo's
    5-value category keeps the join-back form for exactly that
    reason). The only fact-volume shuffles are the (doc, term)
    aggregation and the term exchange the df count shares with it."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # corpus size as a once-executed runtime subquery (r7 VERDICT #2 /
    # r9: the BNL form replicated the docs-count subtree; the eager
    # pull cost a build-time job)
    n = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .withColumns(scalar_subq(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("_n_docs") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", hround(F.col("tfidf"), 6).alias("tfidf"))
    )


@query(
    "x_embedding_quantize",
    oracle="""
SELECT vec_id,
       round(max_abs, 6) AS scale_max,
       CAST(list_sum([CAST(floor(x * 127.0 / max_abs + 0.5) AS BIGINT) for x in e]) AS BIGINT)
           AS code_checksum,
       CAST(len(list_filter([CAST(floor(x * 127.0 / max_abs + 0.5) AS BIGINT) for x in e],
                            c -> c = 127 OR c = -127)) AS INTEGER) AS n_saturated
FROM (
  SELECT vec_id, e,
         list_max([abs(x) for x in e]) AS max_abs
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
)
WHERE max_abs > 0
""",
)
def x_embedding_quantize(spark, sf_dir):
    """Int8 symmetric quantization of embeddings (storage/serving
    compression): per-vector max-abs scale, codes = floor(x·127/scale
    + 0.5); output checksum + saturation count (codes themselves stay
    distributed — only audit stats surface)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    codes = F.transform(
        e,
        lambda x: F.floor(x * 127.0 / F.col("_max_abs") + 0.5).cast("long"),
    )
    q = (
        emb.withColumn("_max_abs", max_abs)
        .filter(F.col("_max_abs") > 0)
        .withColumn("_codes", codes)
    )
    return q.select(
        "vec_id",
        hround(F.col("_max_abs"), 6).alias("scale_max"),
        F.aggregate(F.col("_codes"), F.lit(0).cast("long"), lambda a, c: a + c)
            .cast("long").alias("code_checksum"),
        F.size(F.filter(F.col("_codes"), lambda c: (c == 127) | (c == -127)))
            .cast("int").alias("n_saturated"),
    )


@query(
    "f_attrs_map_extract",
    oracle=FIXTURE_CTES
    + """
  SELECT rg_tag,
         count(*) AS n_reads,
         CAST(sum(CAST(nm AS INTEGER)) AS BIGINT) AS total_mismatches,
         CAST(max(CAST(attrs['AS'][1] AS INTEGER)) AS INTEGER) AS best_as,
         CAST(max(cardinality(attrs)) AS INTEGER) AS n_attrs,
         round(avg(mapq), 6) AS avg_mapq
  FROM (SELECT attrs, attrs['RG'][1] AS rg_tag, attrs['NM'][1] AS nm, mapq
        FROM alignments)
  WHERE CAST(nm AS INTEGER) <= 6
  GROUP BY rg_tag
""",
)
def f_attrs_map_extract(spark, sf_dir):
    """SAM optional-attribute surface (SURVEY.md §1.1 row 2): the
    alignment record carries `attrs map<string,string>` (htsjdk optional
    tags, SamRecsReader.scala:110; read-group tagging
    SparkGA1.scala:621-628). Exercises MapType end-to-end: map creation
    in the fixture, element_at extraction with typed cast (NM = edit
    distance → int filter), map_keys cardinality, group by an extracted
    tag. All JVM-side; the map never leaves the plan (scalars out)."""
    al = _alignments(spark, sf_dir)
    ext = al.select(
        F.element_at("attrs", F.lit("RG")).alias("rg_tag"),
        F.element_at("attrs", F.lit("NM")).cast("int").alias("nm"),
        F.element_at("attrs", F.lit("AS")).cast("int").alias("as_score"),
        F.size(F.map_keys(F.col("attrs"))).alias("n_attrs_row"),
        "mapq",
    )
    return (
        ext.filter(F.col("nm") <= 6)
        .groupBy("rg_tag")
        .agg(
            F.count("*").alias("n_reads"),
            F.sum("nm").cast("long").alias("total_mismatches"),
            F.max("as_score").cast("int").alias("best_as"),
            F.max("n_attrs_row").cast("int").alias("n_attrs"),
            hround(F.avg("mapq"), 6).alias("avg_mapq"),
        )
    )


# --------------------------------------------------------------------------
# Training-data curation ops, round 2: Gopher-style repetition quality
# rules and PII/URL scrubbing (the filter family a 100 TB pretraining
# pipeline runs before tokenization). All JVM-side regex/window/agg —
# the only shuffles are keyed on (doc_id, gram) / host.
# --------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9]+@[A-Za-z0-9.]+[A-Za-z]"
_URL_RE = "https?://[A-Za-z0-9./]+"
_PHONE_RE = "555-[0-9]{4}"
_HOST_RE = "https?://([A-Za-z0-9.]+)"


def _top_run_count(arr):
    """Most-frequent-element count of an array, computed as the longest
    run of the SORTED array via one linear F.aggregate fold (struct
    accumulator: prev element, current run, best run). Map-side, O(n)
    per row — no (doc_id, gram) shuffle."""
    srt = F.array_sort(arr)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(a, x):
        run = F.when(x == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(a.best, run).alias("best")
        )

    return F.aggregate(srt, zero, step, lambda a: a.best)


def _dup_mass(arr):
    """Total count of elements whose value occurs more than once —
    same sorted-fold trick: extending a run to length 2 adds 2 (the
    first occurrence counts retroactively), beyond 2 adds 1."""
    srt = F.array_sort(arr)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(a, x):
        run = F.when(x == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
        dup = a.dup + F.when(run == 2, F.lit(2)).otherwise(
            F.when(run > 2, F.lit(1)).otherwise(F.lit(0))
        ).cast("long")
        return F.struct(x.alias("prev"), run.alias("run"), dup.alias("dup"))

    return F.aggregate(srt, zero, step, lambda a: a.dup)


@query(
    "x_quality_repetition",
    oracle="""
WITH W AS (SELECT doc_id, str_split_regex(trim(text), ' +') AS ws FROM documents),
G AS (SELECT doc_id, ws,
             [ws[i] || ' ' || ws[i+1]
              for i in generate_series(1, len(ws) - 1)] AS bg,
             [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              for i in generate_series(1, len(ws) - 2)] AS tg
      FROM W)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       round(CAST(list_max([len(list_filter(ws, x -> x = u))
                            for u in list_distinct(ws)]) AS DOUBLE)
             / len(ws), 6) AS top_word_frac,
       round(CAST(list_max([len(list_filter(bg, x -> x = u))
                            for u in list_distinct(bg)]) AS DOUBLE)
             / len(bg), 6) AS top_bigram_frac,
       round(CAST(list_sum([CASE WHEN len(list_filter(tg, x -> x = u)) > 1
                                 THEN len(list_filter(tg, x -> x = u))
                                 ELSE 0 END
                            for u in list_distinct(tg)]) AS DOUBLE)
             / len(tg), 6) AS dup_trigram_frac,
       (CAST(list_max([len(list_filter(ws, x -> x = u))
                       for u in list_distinct(ws)]) AS DOUBLE) / len(ws) > 0.2
        OR CAST(list_max([len(list_filter(bg, x -> x = u))
                          for u in list_distinct(bg)]) AS DOUBLE) / len(bg) > 0.18
        OR CAST(list_sum([CASE WHEN len(list_filter(tg, x -> x = u)) > 1
                               THEN len(list_filter(tg, x -> x = u))
                               ELSE 0 END
                          for u in list_distinct(tg)]) AS DOUBLE) / len(tg) > 0.3)
           AS low_quality
FROM G
""",
)
def x_quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1, the
    published heuristic family): per-doc most-frequent-word fraction,
    top-bigram fraction, duplicate-trigram mass fraction, composite
    low_quality flag.

    Plan shape: MAP-ONLY (zero exchanges). Per-doc stats never need a
    (doc_id, gram) shuffle — grams stay an in-row array and the counts
    come from a linear sorted-run fold (_top_run_count/_dup_mass), so at
    100 TB this scales with scan parallelism instead of shuffling 3×
    the corpus token volume (the groupBy formulation's cost). Counts are
    exact ints; each ratio is ONE IEEE division on both engines, then
    hround. The oracle computes the same counts with an O(n·distinct)
    list comprehension — different algorithm, identical values."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ws = T.words(F.col("text"))
    bg = T.word_ngrams(ws, 2)
    tg = T.word_ngrams(ws, 3)
    n_words = F.size(ws)
    top_w = F.lit(1.0) * _top_run_count(ws) / n_words
    top_b = F.lit(1.0) * _top_run_count(bg) / F.size(bg)
    dup_t = F.lit(1.0) * _dup_mass(tg) / F.size(tg)
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        hround(top_w, 6).alias("top_word_frac"),
        hround(top_b, 6).alias("top_bigram_frac"),
        hround(dup_t, 6).alias("dup_trigram_frac"),
        ((top_w > 0.2) | (top_b > 0.18) | (dup_t > 0.3)).alias("low_quality"),
    )


@query(
    "x_pii_scrub",
    oracle=f"""
WITH pii AS ({fixtures.DOCS_PII_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS INTEGER) AS n_urls,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
            '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_URL_RE}', '<URL>', 'g'),
            '{_PHONE_RE}', '<PHONE>', 'g')) AS INTEGER) AS redacted_len,
       array_to_string(list_sort(regexp_extract_all(text, '{_HOST_RE}', 1)), ',')
           AS hosts
FROM pii
WHERE len(regexp_extract_all(text, '{_EMAIL_RE}'))
    + len(regexp_extract_all(text, '{_URL_RE}'))
    + len(regexp_extract_all(text, '{_PHONE_RE}')) > 0
""",
)
def x_pii_scrub(spark, sf_dir):
    """PII detection + redaction (the pre-release scrub every training
    pipeline runs): per-doc email/URL/phone hit counts, redacted text
    length, and extracted URL hosts. Runs on the planted-PII fixture
    (fixtures.DOCS_PII_SQL) so the gate checks real hits — the raw corpus
    is clean and would pass vacuously. Pure JVM regex; zero shuffles
    (map-only until the driver collects)."""
    docs = fixtures.documents_with_pii(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    t = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(_URL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.select(
            "doc_id",
            n_emails.cast("int").alias("n_emails"),
            n_urls.cast("int").alias("n_urls"),
            n_phones.cast("int").alias("n_phones"),
            F.length(redacted).cast("int").alias("redacted_len"),
            F.array_join(
                F.array_sort(F.regexp_extract_all(t, F.lit(_HOST_RE), F.lit(1))),
                ",",
            ).alias("hosts"),
        )
        .filter(F.col("n_emails") + F.col("n_urls") + F.col("n_phones") > 0)
    )


@query(
    "x_url_host_rollup",
    oracle=f"""
WITH pii AS ({fixtures.DOCS_PII_SQL})
SELECT host,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_urls
FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_HOST_RE}', 1)) AS host
      FROM pii)
GROUP BY host
""",
)
def x_url_host_rollup(spark, sf_dir):
    """Cross-corpus URL host rollup (domain-level dedup/blocklist audit):
    extract hosts per doc, aggregate doc- and mention-counts per host.
    The shuffle key is the host (bounded domain cardinality at 100 TB,
    and skew-salting applies if one domain dominates)."""
    docs = fixtures.documents_with_pii(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    hosts = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_HOST_RE), F.lit(1))
        ).alias("host"),
    )
    return hosts.groupBy("host").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_urls"),
    )


@query(
    "x_datamix_split",
    oracle="""
WITH h AS (
  SELECT lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))
              AS BIGINT) % 1000 AS hb
  FROM documents
),
kept AS (
  SELECT lang, n_chars,
         CASE WHEN hb % 10 < 8 THEN 'train'
              WHEN hb % 10 = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM h
  WHERE hb < CASE lang WHEN 'en' THEN 800 WHEN 'zh' THEN 300 ELSE 500 END
)
SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY lang, split
""",
)
def x_datamix_split(spark, sf_dir):
    """Deterministic data mixing + train/val/test split (the sampling
    pass a pretraining pipeline runs to hit per-language token budgets):
    per-doc hash band from the cross-engine stable hash
    (functions/hashing.py), per-lang keep-rates (en 80%, zh 30%, rest
    50%), 80/10/10 split from the same band. Hash-based => reproducible
    across runs/engines AND stable under corpus growth (a doc's fate
    never depends on other docs — unlike sample()), which is what makes
    it the 100 TB shape: map-only filter, then a tiny (lang, split)
    aggregate."""
    from sparkga1_spark.functions.hashing import stable_hash64

    docs = load_table(spark, sf_dir, "documents")
    hb = stable_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))
    ) % 1000
    rate = (
        F.when(F.col("lang") == "en", 800)
        .when(F.col("lang") == "zh", 300)
        .otherwise(500)
    )
    split = (
        F.when(hb % 10 < 8, "train").when(hb % 10 == 8, "val").otherwise("test")
    )
    return (
        docs.withColumn("_hb", hb)
        .filter(F.col("_hb") < rate)
        .withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@query(
    "x_mix_temperature_weights",
    oracle="""
WITH stats AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_toks,
         CAST(CAST(sqrt(CAST(sum(n_chars) AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS root
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_toks) AS DOUBLE) AS t, sum(root) AS s FROM stats)
SELECT source, n_docs, n_toks,
       round(n_toks / t, 6) AS p_raw,
       round(root / s, 6) AS w_temp,
       round((root / s) / (n_toks / t), 6) AS boost
FROM stats, tot
""",
)
def x_mix_temperature_weights(spark, sf_dir):
    """Temperature-scaled source-mixing weights — the standard
    multilingual/multi-source rebalancing (sample source i with
    probability ∝ p_i^(1/τ), here τ=2 ⇒ sqrt): per-source raw share
    p_raw, temperature weight w_temp, and the oversampling boost
    w/p that low-resource sources receive. T cancels from
    w = p^α/Σp^α, so only Σ toks^α is needed. Determinism: the α-powers
    are rounded to DECIMAL(28,6) BEFORE the cross-source sum (a 5-double
    sum is partition-order-dependent in its low bits; a decimal sum is
    not), and sqrt (not pow(·,0.5)) because sqrt is correctly rounded
    on both engines. Scale: one partial+final agg over the corpus to
    #sources rows, then a broadcast 1-row total — map-only after the
    first shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_toks"),
    ).withColumn(
        "root",
        F.sqrt(F.col("n_toks").cast("double"))
        .cast("decimal(28,6)")
        .cast("double"),
    )
    stats = tracked_persist(stats)
    tot = stats.agg(
        F.sum("n_toks").cast("double").alias("t"),
        F.sum(F.col("root").cast("decimal(28,6)")).cast("double").alias("s"),
    )
    j = stats.withColumns(scalar_subq(tot))
    p = F.col("n_toks") / F.col("t")
    w = F.col("root") / F.col("s")
    return j.select(
        "source", "n_docs", "n_toks",
        hround(p, 6).alias("p_raw"),
        hround(w, 6).alias("w_temp"),
        hround(w / p, 6).alias("boost"),
    )


@query(
    "x_inverted_index",
    oracle="""
SELECT w AS token,
       count(DISTINCT doc_id) AS df,
       count(*) AS tf_total,
       array_to_string(list_transform(list_sort(list_distinct(list(doc_id)))[1:10],
                                      x -> CAST(x AS VARCHAR)), ',') AS postings_head
FROM (SELECT doc_id, unnest(str_split_regex(trim(text), ' +')) AS w
      FROM documents)
GROUP BY w
HAVING count(DISTINCT doc_id) >= 3
""",
)
def x_inverted_index(spark, sf_dir):
    """Inverted-index build (token → document-frequency, total term
    frequency, head of the sorted posting list) — the indexing pass a
    retrieval/search layer runs over a curated corpus. One explode +
    one hash-aggregate; postings_head is sorted-set-then-slice, so it
    is deterministic under any partitioning. Scale note: the head-10
    slice bounds the OUTPUT, but collect_set itself holds a token's
    full doc set in the aggregation buffer — fine for Zipfian df at
    test scale; a 100 TB posting-list build instead writes (token,
    doc_id) through the per-region sorted sink (sources/sinks.py S-6)
    so no single buffer ever holds a stopword's postings, and THIS
    query stays the audit/head view."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.col("text")), " +")
        ).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count("*").alias("tf_total"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_set("doc_id")), 1, 10),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 3)
    )


@query(
    "tpch_q7_nation_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_sql('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_nation_volume(spark, sf_dir):
    """Q7 shape (two-nation shipping volume by year): 5-way join with a
    symmetric cross-nation disjunction, grouped on derived year. Dims
    broadcast; the only fact shuffle is lineitem→orders. Money via dsum."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n1 = na.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = na.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        # r14 broadcast audit (guide §3.1): the planner broadcast the
        # whole 150k-row orders fact into the lineitem join;
        # shuffle_hash keys both facts on orderkey instead
        .join(od.hint("shuffle_hash"), li.l_orderkey == od.o_orderkey)
        # customer is scale-bearing (150k x SF): no broadcast FORCE —
        # under the threshold the planner still broadcasts it locally,
        # and at scale it degrades to a shuffle join instead of OOMing
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume").alias("revenue"))
    )


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 5 AND l_quantity <= 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 10 AND l_quantity <= 50)
""",
)
def tpch_q19_disjunctive(spark, sf_dir):
    """Q19 shape: OR-of-ANDs spanning both join sides — the disjunctive
    predicate-pushdown stress (Catalyst pushes the part-only and
    lineitem-only conjunct unions below the join via CNF extraction)."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & (q >= 5) & (q <= 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & (q >= 10) & (q <= 50))
    )
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "tpch_q22_dormant_customers",
    oracle=f"""
WITH threshold AS (
  SELECT {davg_sql('c_acctbal')} AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntry_band,
       count(*) AS numcust,
       {dsum_sql('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg_bal FROM threshold)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
""",
)
def tpch_q22_dormant_customers(spark, sf_dir):
    """Q22 shape: rich dormant customers — scalar-aggregate subquery
    threshold (computed once, broadcast; davg makes it cross-engine
    deterministic) + anti join against orders, grouped by a derived
    country band. The anti join shuffles only the filtered customer
    slice; money via dsum."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    thr = cu.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    rich = (
        # deliberately the EAGER scalar_lits, not scalar_subq: the
        # threshold filters the raw c_acctbal scan column, and a
        # plan-time literal reaches parquet PushedFilters (row-group
        # min/max skipping) where a runtime subquery value cannot
        cu.withColumns(scalar_lits(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .drop("avg_bal")
    )
    # r14 broadcast audit (guide §3.1): the anti join's build side was
    # the entire 150k-row orders fact (broadcast at sf0.1, impossible at
    # scale); shuffle_hash keys both sides on custkey
    dormant = rich.join(
        od.hint("shuffle_hash"), rich.c_custkey == od.o_custkey, "left_anti"
    )
    return (
        dormant.groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntry_band"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


def _curation_staged(spark, sf_dir):
    """Shared curation flow (one lazy plan): planted-duplicate corpus →
    exact dedup keep-min-id → repetition-quality filter (map-only) →
    PII redaction (map-only regex) → deterministic hash split. Consumed
    by x_curation_pipeline (audit aggregate) and x_curation_write_audit
    (partitioned sink round-trip)."""
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.dedup import exact_dedup

    base = fixtures.documents_with_pii(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "lang", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "lang", "text"
        )
    )
    keepers = exact_dedup(corpus, text_col="text", id_col="doc_id").select("doc_id")
    dedup = corpus.join(keepers, "doc_id")
    ws = T.words(F.col("text"))
    top_w = F.lit(1.0) * _top_run_count(ws) / F.size(ws)
    kept = dedup.filter(top_w <= 0.2)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _URL_RE, "<URL>",
        ),
        _PHONE_RE, "<PHONE>",
    )
    hb = stable_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))
    ) % 10
    return kept.select(
        "doc_id",
        "lang",
        F.when(hb < 8, "train").when(hb == 8, "val").otherwise("test").alias("split"),
        red.alias("rtext"),
    )


@query(
    "x_curation_pipeline",
    oracle=f"""
WITH pii AS ({fixtures.DOCS_PII_SQL}),
corpus AS (
  SELECT doc_id, lang, text FROM pii
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, lang, text FROM pii WHERE doc_id % 10 = 0
),
keepers AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
dedup AS (SELECT c.* FROM corpus c JOIN keepers USING (doc_id)),
scored AS (
  SELECT doc_id, lang, text, ws,
         CAST(list_max([len(list_filter(ws, x -> x = u))
                        for u in list_distinct(ws)]) AS DOUBLE) / len(ws) AS top_w
  FROM (SELECT *, str_split_regex(trim(text), ' +') AS ws FROM dedup)
),
kept AS (SELECT * FROM scored WHERE top_w <= 0.2),
red AS (
  SELECT doc_id, lang,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_URL_RE}', '<URL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS rtext,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))
              AS BIGINT) % 10 AS hb
  FROM kept
)
SELECT lang,
       CASE WHEN hb < 8 THEN 'train' WHEN hb = 8 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(length(rtext)) AS BIGINT) AS sum_chars,
       CAST(sum(len(str_split_regex(trim(rtext), ' +'))) AS BIGINT) AS sum_tokens
FROM red
GROUP BY 1, 2
""",
)
def x_curation_pipeline(spark, sf_dir):
    """The training-data twin of pipeline_end_to_end — the full curation
    flow as ONE lazy plan: corpus (with planted duplicates so the dedup
    stage has real work) → exact dedup keep-min-id (hash-keyed shuffle,
    8 bytes/row) → repetition-quality filter (map-only sorted-run fold)
    → PII redaction (map-only regex) → deterministic hash split →
    per-(lang, split) audit counts. Every stage is the same operator the
    standalone queries gate; this proves they COMPOSE without breaking
    plan shape (one hash shuffle for dedup, one for the semi-join back,
    one tiny final aggregate — everything else map-side)."""
    staged = _curation_staged(spark, sf_dir)
    return staged.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("rtext")).cast("long").alias("sum_chars"),
        F.sum(F.size(T.words(F.col("rtext")))).cast("long").alias("sum_tokens"),
    )


@query(
    "x_ann_ivf_nprobe2",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id % 50 = 0),
ranked AS (
  SELECT vec_id, cent_id AS cluster_id, e, rn FROM (
    SELECT b.vec_id, c.cent_id, b.e,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY {_IVF_COS.format(a='b.e', b='c.ce')} DESC, c.cent_id) AS rn
    FROM base b CROSS JOIN cents c
  ) WHERE rn <= 2
),
assigned AS (SELECT vec_id, cluster_id, e FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cluster_id, e AS qe
           FROM ranked WHERE vec_id % 20 = 0)
SELECT query_id, cand_id, cos_sim, rank FROM (
  SELECT q.query_id, a.vec_id AS cand_id,
         {_IVF_COS.format(a='q.qe', b='a.e')} AS cos_sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY {_IVF_COS.format(a='q.qe', b='a.e')} DESC, a.vec_id) AS rank
  FROM probes q JOIN assigned a
    ON q.cluster_id = a.cluster_id AND a.vec_id != q.query_id
)
WHERE rank <= 3
""",
)
def x_ann_ivf_nprobe2(spark, sf_dir):
    """IVF-flat ANN with nprobe=2 (the recall/cost dial the nprobe=1
    baseline lacked): each query searches its TWO nearest clusters;
    candidates remain uniquely assigned so the union needs no dedup.
    Plan shape unchanged — still a cluster-id equi-join, just with the
    query side carrying 2 rows per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb,
        dim=64,
        centroid_pred=F.col("vec_id") % 50 == 0,
        query_pred=F.col("vec_id") % 20 == 0,
        k=3,
        nprobe=2,
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH costs AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0
  GROUP BY l_partkey, l_suppkey
),
best AS (SELECT l_partkey, min(unit_cost) AS best_cost FROM costs GROUP BY l_partkey),
winner AS (
  SELECT c.l_partkey, min(c.l_suppkey) AS l_suppkey, min(b.best_cost) AS best_cost
  FROM costs c JOIN best b
    ON c.l_partkey = b.l_partkey AND c.unit_cost = b.best_cost
  GROUP BY c.l_partkey
)
SELECT p.p_partkey, p.p_brand, s.s_name,
       round(w.best_cost, 6) AS unit_cost
FROM winner w
JOIN part p ON w.l_partkey = p.p_partkey
JOIN supplier s ON w.l_suppkey = s.s_suppkey
WHERE p.p_brand = 'Brand#5'
""",
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape: min-cost supplier per part — correlated-min via
    aggregate + join-back on the extremal value (float equality of the
    SAME computed doubles — deterministic on both engines because min()
    selects, never accumulates), lowest-suppkey tiebreak, dims joined
    after the extremal reduction so only winners reach them."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = costs.groupBy(F.col("l_partkey").alias("_bpk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    winner = (
        costs.join(
            best,
            (costs.l_partkey == best._bpk)
            & (costs.unit_cost == best.best_cost),
        )
        .select("l_partkey", "l_suppkey", "best_cost")
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.min("best_cost").alias("best_cost"),
        )
    )
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    su = load_table(spark, sf_dir, "supplier")
    return (
        winner.join(F.broadcast(pa), winner.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), winner.l_suppkey == su.s_suppkey)
        .select(
            "p_partkey", "p_brand", "s_name",
            hround(F.col("best_cost"), 6).alias("unit_cost"),
        )
    )


@query(
    "tpch_q20_excess_stock",
    oracle="""
WITH brand_parts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
part_qty AS (
  SELECT l_partkey, sum(l_quantity) AS tot FROM lineitem GROUP BY l_partkey
),
supp_part AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS sq
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
heavy AS (
  SELECT DISTINCT sp.l_suppkey
  FROM supp_part sp
  JOIN part_qty pq ON sp.l_partkey = pq.l_partkey
  JOIN brand_parts bp ON sp.l_partkey = bp.p_partkey
  WHERE sp.sq > 0.3 * pq.tot
)
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN heavy h ON s.s_suppkey = h.l_suppkey
""",
)
def tpch_q20_excess_stock(spark, sf_dir):
    """Q20 shape: nested semi-join chain — suppliers holding >30% of a
    branded part's total volume. Quantity sums are integral doubles
    (exact); the 0.3×total threshold is one deterministic multiply. The
    supplier dim sees only the distinct heavy-supplier keys (semi-join,
    not a fact-width join)."""
    li = load_table(spark, sf_dir, "lineitem")
    bp = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#4"
    ).select("p_partkey")
    part_qty = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("tot"))
    supp_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("sq")
    )
    heavy = (
        supp_part.join(part_qty, "l_partkey")
        .join(F.broadcast(bp), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("sq") > 0.3 * F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    su = load_table(spark, sf_dir, "supplier")
    return su.join(
        heavy, su.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# Round-3 TPC-H breadth: the remaining standard shapes (q6, q8-q16,
# q21), adapted where the synthetic schema lacks a TPC-H column or the
# partsupp table (adaptations documented per query, following the
# q2/q20 precedent). o_orderdate / l_shipdate are TIMESTAMP here.
# --------------------------------------------------------------------------


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """Q6 shape: pure scan-aggregate with range predicates — every
    filter must reach the parquet scan (no join, the plan is one
    codegen'd stage over the pruned row groups)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
SELECT yr,
       round(nat / total, 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS yr,
         {dsum_sql("CASE WHEN n2.n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS nat,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total
  FROM part
  JOIN lineitem  ON p_partkey = l_partkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
  GROUP BY 1
)
""",
)
def tpch_q8_market_share(spark, sf_dir):
    """Q8 shape: national market share — nation joined in TWO roles
    (customer's region filter, supplier's nationality in the numerator)
    and a conditional-sum ratio per year. Both nation sides and region
    broadcast; one fact shuffle chain lineitem→orders→customer."""
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cu = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(re), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("yr")).agg(
        dsum(
            F.when(F.col("n2.n_name") == "NATION_1", vol).otherwise(F.lit(0.0))
        ).alias("nat"),
        dsum(vol).alias("total"),
    )
    return agg.select("yr", hround(F.col("nat") / F.col("total"), 6).alias("mkt_share"))


@query(
    "tpch_q9_product_profit",
    oracle=f"""
SELECT n_name AS nation, year(o_orderdate) AS yr,
       {dsum_sql('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1')} AS profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
)
def tpch_q9_product_profit(spark, sf_dir):
    """Q9 shape: product-type profit by nation and year. ADAPTED: the
    synthetic schema has no partsupp, so supply cost is proxied as
    10% of p_retailprice per unit (shape preserved: a five-table join
    with a LIKE-filtered part dim and a two-column rollup)."""
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders")
    na = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        # r14 broadcast audit (guide §3.1): the 150k-row orders fact was
        # this join's broadcast build side; shuffle_hash instead
        .join(od.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(dsum(profit).alias("profit"))
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= '1995-10-01' AND o_orderdate < '1996-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark, sf_dir):
    """Q10 shape: top-20 customers by returned-goods revenue in one
    quarter — join, grouped agg, global ordered LIMIT (Spark compiles
    it to TakeOrderedAndProject: per-partition top-20, never a full
    sort). Tiebreak on c_custkey keeps the LIMIT cross-engine
    deterministic (dsum revenue is bit-identical on both)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    na = load_table(spark, sf_dir, "nation")
    return (
        cu.join(od, F.col("c_custkey") == F.col("o_custkey"))
        # r14 broadcast audit (guide §3.1): the returned-items lineitem
        # slice (200k rows / 9 MB) was the broadcast build side;
        # shuffle_hash keys the facts on orderkey instead
        .join(li.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", hround("c_acctbal", 2).alias("c_acctbal"), "n_name"
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
WITH scoped AS (
  SELECT l_partkey, l_extendedprice * l_quantity AS v
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey % 5 = 0
),
total AS (SELECT {dsum_sql('v')} AS t FROM scoped)
SELECT l_partkey AS partkey, {dsum_sql('v')} AS value
FROM scoped, total
GROUP BY l_partkey, t
HAVING {dsum_sql('v')} > 0.001 * t
""",
)
def tpch_q11_important_stock(spark, sf_dir):
    """Q11 shape: per-key value with a HAVING threshold derived from a
    GLOBAL scalar aggregate over the same scoped set. ADAPTED: no
    partsupp table — 'stock value' is lineitem volume
    (l_extendedprice × l_quantity) through suppliers of one nation
    band. The total is ONE exact dsum row, broadcast; per-part dsum is
    exact too, so the threshold comparison is bit-identical
    cross-engine (a double cascade here flips groups near the line)."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 0)
    v = F.col("l_extendedprice") * F.col("l_quantity")
    scoped = li.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey", v.alias("v")
    )
    # threshold total materialized once at build time: the lazy
    # crossJoin(broadcast(agg)) form was a BNL replicating the whole
    # scoped join into the HAVING comparison (a second fact scan per
    # consumer at 100 TB); scoped is fact-sized, so it is NOT persisted
    # — two streamed executions (build-time total + final agg), zero
    # cached fact partitions
    total = scoped.agg(dsum("v").alias("t"))
    return (
        scoped.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum("v").alias("value"))
        .withColumns(scalar_subq(total))
        .filter(F.col("value") > 0.001 * F.col("t"))
        .select("partkey", "value")
    )


@query(
    "tpch_q12_shipmode_priority",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY l_linestatus
""",
)
def tpch_q12_shipmode_priority(spark, sf_dir):
    """Q12 shape: conditional two-way counts per category. ADAPTED:
    the synthetic lineitem has no l_shipmode/commit/receipt columns —
    l_linestatus stands in as the category and the date window is on
    l_shipdate (the CASE-pivot aggregation shape is the point)."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # r14 broadcast audit (guide §3.1): the planner broadcast the whole
    # 150k-row orders fact into the date-filtered lineitem join;
    # shuffle_hash keys both facts on orderkey instead
    od = od.hint("shuffle_hash")
    return (
        od.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13_customer_distribution(spark, sf_dir):
    """Q13 shape: order-count histogram — LEFT join with an extra join
    predicate (customers with zero qualifying orders must survive with
    count 0), then a second aggregation over the first. ADAPTED: the
    o_comment NOT LIKE filter becomes an o_orderpriority exclusion
    (same plan shape: filter INSIDE the join condition, not a WHERE)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    # r14 broadcast audit (guide §3.1): the filtered orders fact (120k
    # rows) was the left join's broadcast build side; shuffle_hash keys
    # both sides on custkey instead (build side = the right/orders side,
    # valid for LEFT OUTER)
    counts = (
        cu.join(
            od.hint("shuffle_hash"),
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q14_promo_effect",
    oracle=f"""
SELECT round(100.0 * promo / total, 6) AS promo_revenue
FROM (
  SELECT {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS promo,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
)
""",
)
def tpch_q14_promo_effect(spark, sf_dir):
    """Q14 shape: promo revenue percentage for one month — a
    conditional-sum ratio over a broadcast part join (p_type here is a
    plain category, so equality replaces LIKE 'PROMO%%')."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    pa = load_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))).alias(
                "promo"
            ),
            dsum(vol).alias("total"),
        )
    )
    return agg.select(
        hround(F.lit(100.0) * F.col("promo") / F.col("total"), 6).alias("promo_revenue")
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
""",
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15 shape: the 'view' (per-supplier quarterly revenue) consumed
    twice — once for the max scalar, once for the final join-back. The
    revenue frame is computed once per branch from the same lazy plan;
    the max is a broadcast 1-row aggregate (dsum revenue makes the
    equality comparison exact cross-engine)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    su = load_table(spark, sf_dir, "supplier")
    # the per-supplier 'view' is consumed twice (max scalar + final
    # join-back): persist so both share one lineitem scan; the max rides the
    # plan as a once-executed scalar subquery instead of a BNL attach
    rev = tracked_persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        su.join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .withColumns(scalar_subq(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_supplier_parts",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size < 10
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_parts(spark, sf_dir):
    """Q16 shape: distinct-supplier counts per part class with a NOT IN
    exclusion subquery (→ broadcast anti join). ADAPTED: no partsupp —
    lineitem is the part↔supplier association; the 'complaints' comment
    filter becomes the s_acctbal < 0 supplier blacklist."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") < 10)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND s_nationkey % 5 = 2
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order — the classic EXISTS + NOT EXISTS
    pair of correlated self-joins, compiled as a semi join then an
    anti join on (orderkey, suppkey≠) with the lateness residual.
    ADAPTED: no commit/receipt dates — 'late' is shipping >60 days
    after the order date. Both self-join sides shuffle only
    (orderkey, suppkey, shipdate) triples."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 2)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "o_orderdate", "s_name")
    )
    # r13 optimization (guide §3.1): both correlated self-join sides
    # are lineitem-sized; the planner was BROADCASTING each (two
    # 600k-row builds, ~0.3 s collect+build apiece per run) to probe a
    # ~10k-row l1 — impossible at 100 TB where l2/l3 are the fact.
    # shuffle_hash keeps the triples on an orderkey shuffle instead
    # (measured 1.13 → 0.90 s, rows identical).
    l2 = li.select(
        F.col("l_orderkey").alias("_o2"), F.col("l_suppkey").alias("_s2")
    ).hint("shuffle_hash")
    l3 = li.select(
        F.col("l_orderkey").alias("_o3"),
        F.col("l_suppkey").alias("_s3"),
        F.col("l_shipdate").alias("_sd3"),
    ).hint("shuffle_hash")
    waited = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("_o2")) & (F.col("l_suppkey") != F.col("_s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("_o3"))
            & (F.col("l_suppkey") != F.col("_s3"))
            & (F.col("_sd3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "tpch_q21_waiting_agg_form",
    oracle="""
WITH scoped AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
),
ordstats AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
  FROM scoped GROUP BY 1
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM scoped
JOIN supplier ON s_suppkey = l_suppkey
JOIN ordstats USING (l_orderkey)
WHERE is_late AND s_nationkey % 5 = 2 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def tpch_q21_waiting_agg_form(spark, sf_dir):
    """Q21, the AT-SCALE rewrite: the EXISTS/NOT-EXISTS pair collapses
    into per-order aggregates — 'another supplier exists' ⇔ the order
    has ≥2 distinct suppliers; 'no other supplier was late' ⇔ exactly 1
    distinct supplier among its late lines (l1 itself is late, so the
    late set is nonempty). ONE keyed aggregate plus one join replaces
    two corpus-wide self-join shuffles — the form to run at 100 TB.
    Results are identical to tpch_q21_waiting_supplier (pinned by
    test_q21_forms_agree); the oracle states the aggregate form. The
    doubly-consumed join is NOT persisted: both consumers shuffle on
    l_orderkey, so Spark reuses the exchange (measured faster than a
    cache at sf0.1 — shuffle-file reuse beats cache materialization,
    and it is also the mechanism that survives executor loss at
    cluster scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    su = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 2)
    scoped = li.join(od, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    ordstats = scoped.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late"),
    )
    late = scoped.filter("is_late").join(
        F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        late.join(ordstats, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "x_curation_write_audit",
    oracle=f"""
WITH pii AS ({fixtures.DOCS_PII_SQL}),
corpus AS (
  SELECT doc_id, lang, text FROM pii
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, lang, text FROM pii WHERE doc_id % 10 = 0
),
keepers AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
dedup AS (SELECT c.* FROM corpus c JOIN keepers USING (doc_id)),
scored AS (
  SELECT doc_id, lang, text, ws,
         CAST(list_max([len(list_filter(ws, x -> x = u))
                        for u in list_distinct(ws)]) AS DOUBLE) / len(ws) AS top_w
  FROM (SELECT *, str_split_regex(trim(text), ' +') AS ws FROM dedup)
),
kept AS (SELECT * FROM scored WHERE top_w <= 0.2),
red AS (
  SELECT doc_id, lang,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_URL_RE}', '<URL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS rtext,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))
              AS BIGINT) % 10 AS hb
  FROM kept
)
SELECT CASE WHEN hb < 8 THEN 'train' WHEN hb = 8 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(length(rtext)) AS BIGINT) AS sum_chars,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM red
GROUP BY 1
""",
)
def x_curation_write_audit(spark, sf_dir):
    """The curation pipeline's SINK leg: materialize the staged corpus
    as a split-partitioned parquet table (partitionBy('split') +
    sortWithinPartitions(doc_id) — the layout a training-data reader
    wants: one directory per split, clustered files for row-group
    pruning), then READ THE FILES BACK and audit per split. The oracle
    recomputes the audit from the logical pipeline, so a fault in the
    write path (lost rows, partition misroute, type mangling through
    the partition column) breaks the hash — this gates the sink, not
    just the transform."""
    import os

    from sparkga1_spark.sources.sinks import write_partitioned_sorted

    staged = _curation_staged(spark, sf_dir)
    out = f"/tmp/sparkga1_curation_write_{os.path.basename(sf_dir.rstrip('/'))}"
    write_partitioned_sorted(
        staged, out, partition_cols=["split"], sort_cols=["doc_id"]
    )
    back = spark.read.parquet(out)
    return back.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.length("rtext")).cast("long").alias("sum_chars"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@query(
    "a_sketch_accuracy_audit",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok,
       TRUE AS q_ok
FROM events GROUP BY event_type
""",
)
def a_sketch_accuracy_audit(spark, sf_dir):
    """Sketch-accuracy audit (the check a 100 TB pipeline runs before
    trusting approximate stats): per event_type, compute the HLL++
    distinct-user estimate (rsd 2%) and the GK approx-median of value
    (accuracy 200 → rank error ≤ 0.5%), then VERIFY both against exact
    answers computed in the same job — HLL within 5×rsd of the exact
    NDV, and the approx-median's true rank within 0.5 ± 0.05·n. The
    gate output carries the exact numbers plus the two booleans; the
    oracle recomputes the exact side and pins both flags TRUE, so a
    sketch drifting out of its documented bounds is a red row, not a
    silent bias. At scale: sketches merge map-side (one tiny shuffle);
    the rank check is a second scan with a broadcast of the 5-row
    medians table — the exact NDV is the only genuinely heavy part,
    and it is exactly what the audit exists to spot-check."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    per_type = ev.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("_est"),
        F.percentile_approx("value", F.lit(0.5), F.lit(200)).alias("_med"),
    )
    rank_le = (
        ev.join(F.broadcast(per_type.select("event_type", "_med")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("_med"), 1).otherwise(0))
            .cast("long")
            .alias("_rank_le")
        )
    )
    return per_type.join(rank_le, "event_type").select(
        "event_type",
        "n_rows",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= 5 * 0.02 * F.col("exact_users")
        ).alias("hll_ok"),
        (
            (F.col("_rank_le") >= 0.45 * F.col("n_rows"))
            & (F.col("_rank_le") <= 0.55 * F.col("n_rows"))
        ).alias("q_ok"),
    )


@query(
    "x_drift_chi2",
    oracle="""
WITH d AS (
  SELECT least(n_chars // 100, 9) AS bucket, doc_id % 2 AS side
  FROM documents
),
p AS (
  SELECT bucket,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
  FROM d GROUP BY bucket
),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM p)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(n_a * tb / CAST(ta AS DOUBLE), 6) AS expected_b,
       round((n_b - n_a * tb / CAST(ta AS DOUBLE))
             * (n_b - n_a * tb / CAST(ta AS DOUBLE))
             / (n_a * tb / CAST(ta AS DOUBLE)), 6) AS chi2_contrib
FROM p, t WHERE n_a > 0
""",
)
def x_drift_chi2(spark, sf_dir):
    """Corpus drift detection (chi-square goodness-of-fit between a
    baseline corpus slice and a candidate slice — the refresh gate a
    training-data pipeline runs before swapping in a new crawl):
    bucket docs by length decile, count per bucket per side, scale the
    baseline histogram to the candidate's mass, and emit per-bucket
    expected counts + chi² contributions (sum = the test statistic).
    All counting is one partial+final aggregate on a 10-value key; the
    totals arrive as a broadcast 1-row agg — at 100 TB this is one
    scan, one 10-row shuffle, zero wide operations. Float math is
    per-bucket (no cross-row float summation), so round(6) is
    cross-engine stable."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.least(F.floor(F.col("n_chars") / 100), F.lit(9))
        .cast("long")
        .alias("bucket"),
        (F.col("doc_id") % 2).alias("side"),
    )
    p = d.groupBy("bucket").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    # 10-row bucket counts reused (totals input + projection): persist
    # so the totals subquery and the projection share one documents scan
    p = tracked_persist(p)
    t = p.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    e = F.col("n_a") * F.col("tb") / F.col("ta").cast("double")
    return (
        p.withColumns(scalar_subq(t))
        .filter(F.col("n_a") > 0)
        .select(
            "bucket",
            "n_a",
            "n_b",
            hround(e, 6).alias("expected_b"),
            hround((F.col("n_b") - e) * (F.col("n_b") - e) / e, 6).alias(
                "chi2_contrib"
            ),
        )
    )


@query(
    "x_drift_psi",
    oracle="""
WITH docs AS (SELECT doc_id, n_chars, doc_id % 2 AS side FROM documents),
e AS (
  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS edges
  FROM docs WHERE side = 0
),
d AS (
  SELECT len(list_filter(e.edges, x -> x < n_chars)) AS bucket, side
  FROM docs, e
),
p AS (
  SELECT bucket,
         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
  FROM d GROUP BY bucket
),
t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM p)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(floor((n_a / CAST(ta AS DOUBLE) - n_b / CAST(tb AS DOUBLE))
                  * ln((n_a / CAST(ta AS DOUBLE)) / (n_b / CAST(tb AS DOUBLE)))
                  * 1000000000 + 0.5) AS BIGINT) AS psi_nano
FROM p, t
WHERE n_a > 0 AND n_b > 0
""",
)
def x_drift_psi(spark, sf_dir):
    """Population stability index — the ML-monitoring drift gate that
    complements x_drift_chi2: where chi² buckets by FIXED width, PSI
    bins by QUANTILE EDGES LEARNED FROM THE BASELINE (deciles of the
    reference slice), so the metric is scale-free and every baseline
    bin holds ~10% mass by construction. One exact-percentile pass on
    the baseline produces a 9-edge array that broadcasts to every row
    (bucket = how many edges sit strictly below the value — a
    higher-order-function over the array, no join explosion); counts
    are one 10-key aggregate; totals attach as a broadcast 1-row
    frame. Per-bucket PSI contribution (p−q)·ln(p/q) is snapped to
    integer nano-units (the x_unigram_logprob convention: every input
    to ln() is a correctly-rounded binary fraction identical on both
    engines). Σ psi_nano / 1e9 is the headline PSI; > 0.25 is the
    conventional retrain trigger. At 100 TB: one scan for edges (the
    percentile is over the baseline slice only), one scan to bucket,
    a 10-row shuffle — zero wide operations."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 2).alias("side")
    )
    edges = docs.filter(F.col("side") == 0).agg(
        F.expr(
            "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("edges")
    )
    # the 9-edge array and the 10-row totals are both 1-row aggregates:
    # materialize each once at build time (the former crossJoin
    # (broadcast(agg)) attaches replicated the baseline-percentile and
    # bucket-count subtrees — 3 BNLs in the r7 plan audit)
    d = docs.withColumns(scalar_subq(edges)).select(
        F.size(
            F.filter("edges", lambda x: x < F.col("n_chars").cast("double"))
        ).cast("long").alias("bucket"),
        "side",
    )
    p = tracked_persist(
        d.groupBy("bucket").agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    t = p.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    pa = F.col("n_a") / F.col("ta").cast("double")
    qb = F.col("n_b") / F.col("tb").cast("double")
    return (
        p.withColumns(scalar_subq(t))
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.floor((pa - qb) * F.log(pa / qb) * F.lit(1_000_000_000) + F.lit(0.5))
            .cast("long")
            .alias("psi_nano"),
        )
    )


# Deterministic raw-URL synthesis shared by the Spark plan and the DuckDB
# oracle for x_dedup_url_canonical: mixed-case hosts, www. prefixes,
# tracking params, trailing slashes, fragments — one URL per order row.
_RAW_URL_SQL = """
'https://' ||
CASE o_orderkey % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' ELSE '' END ||
'Shop' || CAST(o_custkey % 40 AS STRING) || '.Example.COM' ||
'/item/' || CAST(o_orderkey % 500 AS STRING) ||
CASE o_orderkey % 4 WHEN 0 THEN '/?utm_source=feed&utm_campaign=x'
                    WHEN 1 THEN '?ref=home'
                    WHEN 2 THEN '/' ELSE '' END ||
CASE o_orderkey % 5 WHEN 0 THEN '#frag' ELSE '' END
"""


@query(
    "x_dedup_url_canonical",
    oracle=f"""
WITH raw AS (SELECT {_RAW_URL_SQL} AS url FROM orders),
c AS (
  SELECT url,
         regexp_replace(url, '#.*', '') AS nofrag
  FROM raw
),
parts AS (
  SELECT url,
         regexp_replace(lower(regexp_extract(nofrag, 'https?://([^/?#]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_replace(regexp_extract(nofrag, 'https?://[^/?#]+([^?#]*)', 1),
                        '/+$', '') AS path,
         array_to_string(
           list_filter(string_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&'),
                       x -> NOT starts_with(x, 'utm_')),
           '&') AS q
  FROM c
)
SELECT host || path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
FROM parts
GROUP BY 1
""",
)
def x_dedup_url_canonical(spark, sf_dir):
    """Page-level URL canonicalization + dedup (the crawl-frontier /
    recrawl-suppression normalize step, one level finer than the
    domain rollup in x_url_host_rollup): strip fragments, lowercase
    the host, drop the www. prefix, strip trailing slashes, and filter
    utm_* tracking params out of the query string (keeping real
    params), then count raw variants collapsing into each canonical
    URL. Everything is JVM string/regex + a higher-order array filter
    — map-only until one hash aggregate keyed by the canonical URL
    (page-cardinality shuffle; salting applies if one page dominates).
    The oracle mirrors the same canonicalization in DuckDB, so a
    regex-semantics divergence between engines would surface as a red
    row rather than hide."""
    from sparkga1_spark.operators.skew import spread_if_narrow

    orders = load_table(spark, sf_dir, "orders")
    # r13 (guide §2.5 input skew): the whole canonicalization regex
    # chain is map-side before the one aggregate, and sf-scale orders
    # is a single scan split — spread the 16-byte key base (never the
    # URL strings) so the regex work parallelizes; no-op once the scan
    # splits. Measured 1.749 → 1.376 s median.
    base = spread_if_narrow(
        orders.select("o_orderkey", "o_custkey"), "o_orderkey"
    )
    raw = base.select(F.expr(_RAW_URL_SQL).alias("url"))
    nofrag = F.regexp_replace("url", "#.*", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(nofrag, "https?://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(nofrag, "https?://[^/?#]+([^?#]*)", 1), "/+$", ""
    )
    q = F.array_join(
        F.filter(
            F.split(F.regexp_extract(nofrag, r"\?([^#]*)", 1), "&"),
            lambda x: ~x.startswith("utm_"),
        ),
        "&",
    )
    canon = F.concat(
        host, path, F.when(q != "", F.concat(F.lit("?"), q)).otherwise("")
    )
    return (
        raw.select("url", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.count_distinct("url").cast("long").alias("n_raw_variants"),
        )
    )


@query(
    "x_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split_regex(trim(text), ' +'),
                                    x -> x <> '')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS total FROM cnt),
scored AS (
  SELECT t.doc_id,
         CAST(floor(ln(c / CAST(total AS DOUBLE)) * 1000000000 + 0.5)
              AS BIGINT) AS slp
  FROM tok t JOIN cnt USING (tok), tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       round(CAST(sum(slp) AS DOUBLE) / count(*) / 1000000000, 6)
           AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def x_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality scoring (the cheap fluency filter
    a pretraining pipeline runs corpus-wide): token frequencies over
    the whole corpus become a broadcast vocabulary table (vocab-sized,
    bounded at any corpus scale); each document then scores as the
    mean log-probability of its tokens. Per-token logs are snapped to
    integer nano-units BEFORE the per-doc sum, so the accumulation is
    exact 64-bit integer addition — order-independent across engines
    (the dsum lesson from tpch_q3 applied to logs); the single
    rounding back to double happens once per doc. Plan: one token
    count aggregate, one broadcast join, one per-doc aggregate — two
    shuffles total, both on bounded keys."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), " +"), lambda x: x != ""
            )
        ).alias("tok"),
    )
    # vocab table reused (total input + broadcast probe): persist so
    # the totals subquery and the broadcast probe share one token scan
    cnt = tracked_persist(tok.groupBy("tok").agg(F.count("*").alias("c")))
    tot = cnt.agg(F.sum("c").alias("total"))
    scored = (
        tok.join(F.broadcast(cnt), "tok")
        .withColumns(scalar_subq(tot))
        .select(
            "doc_id",
            F.floor(
                F.log(F.col("c") / F.col("total").cast("double")) * 1_000_000_000
                + 0.5
            )
            .cast("long")
            .alias("slp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        hround(
            F.sum("slp").cast("double") / F.count("*") / 1_000_000_000, 6
        ).alias("avg_logprob"),
    )


@query(
    "x_bigram_lm_logprob",
    oracle="""
WITH arr AS (
  SELECT doc_id,
         list_filter(str_split_regex(trim(text), ' +'), x -> x <> '') AS a
  FROM documents
),
bi AS (
  SELECT doc_id, a[i - 1] AS w1, a[i] AS w2
  FROM (SELECT doc_id, a, unnest(generate_series(2, len(a))) AS i FROM arr)
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(a) AS w FROM arr) GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2),
scored AS (
  SELECT bi.doc_id,
         CAST(floor(ln(0.75 * big.c12 / u1.c
                       + 0.25 * u2.c / CAST((SELECT n FROM tot) AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS slp
  FROM bi
  JOIN big USING (w1, w2)
  JOIN uni u1 ON u1.w = bi.w1
  JOIN uni u2 ON u2.w = bi.w2
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(slp) AS DOUBLE) / count(*) / 1000000000, 6)
           AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def x_bigram_lm_logprob(spark, sf_dir):
    """Interpolated bigram LM quality scoring — the order-2 upgrade of
    x_unigram_logprob and the public-recipe stand-in for CCNet-style
    KenLM perplexity filtering: p(w2|w1) = 0.75·c12/c1 + 0.25·c2/N,
    per-doc mean log-prob. Bigrams are built ARRAY-SIDE (sequence +
    element_at off the token array, map-only) so no per-doc window/
    lag shuffle exists; the bigram count join shuffles on the bigram
    key (the x_bigram_pmi shape, corpus-bounded), unigram probs ride a
    broadcast vocab table. Interpolation weights 0.75/0.25 are exact
    binary fractions and every op before ln() is a correctly-rounded
    IEEE step, so both engines compute the identical double; each ln
    is nano-snapped BEFORE the per-doc sum (exact integer
    accumulation, the dsum lesson applied to logs). Docs with fewer
    than two tokens produce no bigrams and drop out on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), " +"), lambda x: x != "").alias(
            "a"
        ),
    )
    bi = (
        arr.filter(F.size("a") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(a)),"
                    " i -> struct(element_at(a, i - 1) AS w1,"
                    "             element_at(a, i) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    # unigram table reused (total input + two join probes): persist so
    # the totals subquery and the broadcast probe share one token scan
    uni = tracked_persist(
        arr.select(F.explode("a").alias("w")).groupBy("w").agg(
            F.count("*").cast("long").alias("c")
        )
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    big = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    p = (
        F.lit(0.75) * F.col("c12") / F.col("c1")
        + F.lit(0.25) * F.col("c2") / F.col("n").cast("double")
    )
    # score each DISTINCT bigram once (the score table is corpus-
    # bounded like the count table), then join the occurrence stream a
    # single time — joining the stream against uni twice would shuffle
    # the corpus token stream three times instead of once. No broadcast
    # HINT on the unigram joins: AQE broadcasts while the vocab fits
    # and degrades to a shuffle join when a 100 TB vocabulary outgrows
    # the threshold — forcing broadcast would pin a scale hazard.
    pair_scores = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .withColumns(scalar_subq(tot))
        .select(
            "w1",
            "w2",
            F.floor(F.log(p) * 1_000_000_000 + 0.5).cast("long").alias("slp"),
        )
    )
    scored = bi.join(pair_scores, ["w1", "w2"]).select("doc_id", "slp")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        hround(
            F.sum("slp").cast("double") / F.count("*") / 1_000_000_000, 6
        ).alias("avg_logprob"),
    )


@query(
    "x_per_source_cap",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 15))
                    AS BIGINT), doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ranked WHERE rn <= 5
GROUP BY source
""",
)
def x_per_source_cap(spark, sf_dir):
    """Per-source document capping (the anti-domination step before
    data mixing: no single crawl/source may contribute more than N
    docs): rank each source's docs by a stable content-independent
    hash (uniform, reproducible across runs AND under corpus growth —
    a doc's rank only changes if docs are added to ITS source) and
    keep the first 5. The rank-then-filter compiles to
    WindowGroupLimit (plan-guarded): each partition locally truncates
    to 5 rows per source before the shuffle, so at 100 TB the exchange
    carries ~5×n_sources rows, not the corpus. Contrast with sample():
    nondeterministic, and fractions can't express a hard cap."""
    from pyspark.sql import Window

    from sparkga1_spark.functions.hashing import stable_hash64

    docs = load_table(spark, sf_dir, "documents")
    hb = stable_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit(":cap"))
    )
    w = Window.partitionBy("source").orderBy(hb.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@query(
    "x_bigram_pmi",
    oracle="""
WITH W AS (SELECT str_split_regex(trim(text), ' +') AS W FROM documents),
bi AS (
  SELECT unnest([W[i] || ' ' || W[i+1] for i in generate_series(1, len(W)-1)]) AS gram
  FROM W WHERE len(W) >= 2
),
uni AS (
  SELECT unnest(W) AS tok FROM W
),
cb AS (SELECT gram, count(*) AS c_ab FROM bi GROUP BY gram),
cu AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
nb AS (SELECT sum(c_ab) AS n_bi FROM cb),
nu AS (SELECT sum(c) AS n_uni FROM cu)
SELECT gram, CAST(c_ab AS BIGINT) AS c_ab,
       round(ln((c_ab / CAST(n_bi AS DOUBLE))
                / ((ca.c / CAST(n_uni AS DOUBLE))
                   * (cb2.c / CAST(n_uni AS DOUBLE)))), 6) AS pmi
FROM cb
JOIN cu ca ON ca.tok = split_part(gram, ' ', 1)
JOIN cu cb2 ON cb2.tok = split_part(gram, ' ', 2)
, nb, nu
WHERE c_ab >= 5
ORDER BY pmi DESC, gram
LIMIT 20
""",
)
def x_bigram_pmi(spark, sf_dir):
    """Collocation extraction — top-20 adjacent-word bigrams by
    pointwise mutual information (count floor 5): PMI(a,b) =
    ln(p(ab) / (p(a)·p(b))) with probabilities from corpus bigram and
    unigram totals. The classic phrase-mining signal (word2vec's
    phrase pass, quality heuristics for tokenizer merges). Plan: one
    bigram count aggregate + one unigram count aggregate (both
    vocab-bounded), the PMI join runs bigram-table × two BROADCAST
    unigram lookups with broadcast 1-row totals, and the final cut is
    TakeOrderedAndProject on (pmi DESC, gram). PMI is a single ln per
    bigram row (no cross-row float summation) so round-6 is
    cross-engine stable. At 100 TB: token streams shuffle once each
    into vocab-sized tables; everything downstream is
    vocabulary-scale."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.split(F.trim(F.col("text")), " +").alias("W")
    )
    bi = words.filter(F.size("W") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(W) - 1),"
                " i -> concat(W[i-1], ' ', W[i]))"
            )
        ).alias("gram")
    )
    uni = words.select(F.explode("W").alias("tok"))
    # both count tables are reused (totals input + join probes):
    # persist so each scalar subquery shares the one token scan
    cb = tracked_persist(bi.groupBy("gram").agg(F.count("*").alias("c_ab")))
    cu = tracked_persist(uni.groupBy("tok").agg(F.count("*").alias("c")))
    # r13 (guide §2.6 overlap independent jobs): the two count-table
    # materializations are independent token-stream aggregates that
    # otherwise run sequentially when the final plan's subqueries pull
    # them; a 2-thread pool overlaps the scans (1.28/1.11 → 1.17/1.03 s
    # at sf0.1, rows identical)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda d: d.count(), [cb, cu]))
    n_bi = cb.agg(F.sum("c_ab").alias("n_bi"))
    n_uni = cu.agg(F.sum("c").alias("n_uni"))
    ca = cu.select(F.col("tok").alias("_t1"), F.col("c").alias("_c1"))
    cb2 = cu.select(F.col("tok").alias("_t2"), F.col("c").alias("_c2"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n_bi").cast("double"))
        / (
            (F.col("_c1") / F.col("n_uni").cast("double"))
            * (F.col("_c2") / F.col("n_uni").cast("double"))
        )
    )
    return (
        cb.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ca), F.expr("split_part(gram, ' ', 1) = _t1"))
        .join(F.broadcast(cb2), F.expr("split_part(gram, ' ', 2) = _t2"))
        # both totals as once-executed runtime ScalarSubqueries over
        # the persisted count tables (r8 VERDICT #2: the eager pulls
        # each cost a fixed build-time job)
        .withColumns({**scalar_subq(n_bi), **scalar_subq(n_uni)})
        .select("gram", F.col("c_ab").cast("long").alias("c_ab"),
                hround(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "gram")
        .limit(20)
    )


@query(
    "x_scd2_intervals",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_type, t, event_id
  FROM e WHERE prev_type IS NULL OR prev_type <> event_type
),
iv AS (
  SELECT user_id, event_type, t AS valid_from,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
  FROM changes
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_open,
       CAST(sum(coalesce(valid_to - valid_from, 0)) AS BIGINT)
           AS closed_duration_s
FROM iv GROUP BY user_id
""",
)
def x_scd2_intervals(spark, sf_dir):
    """SCD Type-2 dimension build (the CDC→warehouse shape: collapse an
    event stream into versioned validity intervals): per user, keep
    only rows where the tracked attribute CHANGES (lag over the
    (ts, event_id)-ordered stream), then stitch [valid_from, valid_to)
    from consecutive change timestamps (lead), open interval for the
    current version. Both windows share ONE (user_id) partitioning —
    Catalyst plans a single exchange + sort for the whole build. The
    gate output is the per-user version audit (version count, open
    count, closed dwell seconds) so a missed or phantom transition in
    either engine breaks the hash. At 100 TB: one shuffle keyed by the
    dimension's natural key; AQE splits hot keys."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", t.alias("t"), "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = e.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("t", "event_id")
    iv = changes.select(
        "user_id",
        F.col("t").alias("valid_from"),
        F.lead("t").over(w2).alias("valid_to"),
    )
    return iv.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
        F.sum(F.coalesce(F.col("valid_to") - F.col("valid_from"), F.lit(0)))
        .cast("long")
        .alias("closed_duration_s"),
    )


@query(
    "j_full_outer_recon",
    oracle="""
WITH src AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
  FROM orders WHERE o_orderkey % 7 <> 0
),
tgt AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         o_totalprice + CASE WHEN o_orderkey % 11 = 0 THEN 1.0 ELSE 0.0 END
             AS price
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT coalesce(s.status, t.status) AS status,
       CAST(sum(CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL
                          AND s.price = t.price THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
       CAST(sum(CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL
                          AND s.price <> t.price THEN 1 ELSE 0 END) AS BIGINT)
           AS n_diff,
       CAST(sum(CASE WHEN t.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_src_only,
       CAST(sum(CASE WHEN s.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tgt_only
FROM src s FULL OUTER JOIN tgt t ON s.k = t.k
GROUP BY 1
""",
)
def j_full_outer_recon(spark, sf_dir):
    """Snapshot reconciliation (the source-vs-target diff audit every
    replication/backfill pipeline runs): FULL OUTER join two snapshots
    of the orders table on the business key and classify every key as
    matched / value-drift / source-only / target-only, rolled up per
    status. The two snapshots here are deterministic slices of orders
    with a planted price drift on keys ≡ 0 (mod 11), so the oracle
    pins all four audit classes to non-trivial counts. Plan: one
    shuffle per side on the join key (co-partitioned full outer), then
    a tiny status aggregate — at 100 TB this is the canonical
    sort-merge full-outer, and bucketing both snapshots on the key
    makes it exchange-free (sinks.write_bucketed_table)."""
    od = load_table(spark, sf_dir, "orders")
    src = od.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    tgt = od.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 11 == 0, 1.0).otherwise(0.0)
        ).alias("price"),
    )
    s, t = src.alias("s"), tgt.alias("t")
    j = s.join(t, F.col("s.k") == F.col("t.k"), "full_outer")
    matched = F.col("s.k").isNotNull() & F.col("t.k").isNotNull()
    return j.groupBy(
        F.coalesce(F.col("s.status"), F.col("t.status")).alias("status")
    ).agg(
        F.sum(F.when(matched & (F.col("s.price") == F.col("t.price")), 1)
              .otherwise(0)).cast("long").alias("n_matched"),
        F.sum(F.when(matched & (F.col("s.price") != F.col("t.price")), 1)
              .otherwise(0)).cast("long").alias("n_diff"),
        F.sum(F.when(F.col("t.k").isNull(), 1).otherwise(0))
        .cast("long").alias("n_src_only"),
        F.sum(F.when(F.col("s.k").isNull(), 1).otherwise(0))
        .cast("long").alias("n_tgt_only"),
    )


@query(
    "x_entropy_per_doc",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split_regex(trim(text), ' +'),
                                    x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
n AS (SELECT doc_id, sum(c) AS n_tok FROM tf GROUP BY doc_id)
SELECT tf.doc_id,
       CAST(any_value(n_tok) AS BIGINT) AS n_tok,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(sum(CAST(floor(-(c / CAST(n_tok AS DOUBLE))
                             * ln(c / CAST(n_tok AS DOUBLE))
                             * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000000, 6) AS entropy
FROM tf JOIN n USING (doc_id)
GROUP BY tf.doc_id
""",
)
def x_entropy_per_doc(spark, sf_dir):
    """Per-document token entropy (Shannon, natural log) — the
    within-doc distribution quality signal (low entropy = repetitive /
    template text; complements the corpus-level unigram logprob and
    the Gopher repetition rules): H = -Σ p ln p over the doc's own
    term frequencies. Each term's contribution is snapped to integer
    nano-units BEFORE the per-doc sum (exact 64-bit accumulation,
    order-independent — same recipe as x_unigram_logprob). Plan: one
    (doc_id, tok) count aggregate, a doc-total computed by a window
    over the SAME doc_id partitioning (no second shuffle of the token
    stream), then the per-doc entropy aggregate. All keys are
    doc-bounded; no broadcast needed, nothing corpus-wide."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), " +"), lambda x: x != "")
        ).alias("tok"),
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id")
    tf = tf.withColumn("n_tok", F.sum("c").over(w))
    p = F.col("c") / F.col("n_tok").cast("double")
    term = F.floor(-p * F.log(p) * 1_000_000_000 + 0.5).cast("long")
    return tf.groupBy("doc_id").agg(
        F.first("n_tok").cast("long").alias("n_tok"),
        F.count("*").cast("long").alias("n_distinct"),
        hround(
            F.sum(term).cast("double") / 1_000_000_000, 6
        ).alias("entropy"),
    )


@query(
    "x_incremental_dedup_triage",
    oracle=INCREMENTAL_TRIAGE_ORACLE,
)
def x_incremental_dedup_triage(spark, sf_dir):
    """Incremental-ingest dedup triage (the per-crawl admission step:
    which arriving documents are exact copies of the corpus, near-dups
    of it, or genuinely new): docs with doc_id ≡ 0 (mod 3) play the
    arriving batch, the rest the standing corpus. Exact matches via
    stable content-hash SEMI join (batch ⋈ corpus on the 8-byte hash);
    near-dups via MinHash BAND keys — batch bands semi-join corpus
    bands on (band, key), so the per-ingest cost is |batch| × band
    fan-out against an indexed corpus, NEVER the corpus self-join
    (that is the incremental advantage over x_dedup_minhash_lsh, and
    why operators/dedup.py exposes minhash_band_keys separately). The
    oracle recomputes both classifications from the whole-corpus pair
    set — the cross-pair filter there is definitionally the same set
    the band semi-join finds. Output: one audit row (n_batch,
    n_exact_dup, n_near_dup_only, n_new)."""
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.dedup import minhash_band_keys

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 3 == 0
    withh = docs.select("doc_id", "text", stable_hash64(F.col("text")).alias("_h"))
    batch, corpus = withh.filter(is_batch), withh.filter(~is_batch)

    exact = batch.join(
        corpus.select("_h"), "_h", "left_semi"
    ).select("doc_id")

    rows = T.shingle_hash_rows(docs)
    # bands feed BOTH sides of the semi-join below — persist so the
    # per-shingle keyed-hash signature aggregation runs once
    bands = tracked_persist(minhash_band_keys(rows, id_col="doc_id"))
    b_bands = bands.filter(F.col("doc_id") % 3 == 0)
    c_bands = bands.filter(F.col("doc_id") % 3 != 0)
    near = (
        b_bands.join(c_bands.select("band", "key"), ["band", "key"], "left_semi")
        .select("doc_id")
        .distinct()
    )

    flags = (
        batch.select("doc_id")
        .join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(1)), "doc_id", "left")
    )
    return flags.agg(
        F.count("*").cast("long").alias("n_batch"),
        F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_dup"),
        F.sum(
            F.when(F.col("_n").isNotNull() & F.col("_e").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_near_dup_only"),
        F.sum(
            F.when(F.col("_n").isNull() & F.col("_e").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_new"),
    )


# Standing dedup index: the corpus's content hashes and LSH band keys
# written ONCE as bucketed tables, so every subsequent ingest batch
# semi-joins against them with ZERO corpus-side exchange (the bucketed
# scan already satisfies the join's hash distribution; only the small
# batch shuffles, into the index's bucket count). This is the 100 TB
# shape of incremental dedup: the pre-shuffle is paid at index-build
# time, amortized over every crawl that follows. Memoized per
# (app, sf_dir): the index's state is the feature (later batches probe
# what earlier builds wrote); tables are rebuilt per session
# (in-memory catalogs don't survive restarts — a deployment would
# point spark.sql.warehouse.dir + a metastore at durable storage).
_DEDUP_INDEX_CACHE: dict = {}


def _standing_dedup_index(spark, sf_dir):
    import hashlib as _hl

    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.dedup import minhash_band_keys
    from sparkga1_spark.sources.sinks import write_bucketed_table

    app = spark.sparkContext.applicationId
    for k in [k for k in _DEDUP_INDEX_CACHE if k[0] != app]:
        del _DEDUP_INDEX_CACHE[k]
    key = (app, sf_dir)
    if key not in _DEDUP_INDEX_CACHE:
        tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
        hname, bname = f"dedup_hash_idx_{tag}", f"dedup_band_idx_{tag}"
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 3 != 0)
        for name in (hname, bname):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # a fresh in-memory catalog forgets the table but its
            # warehouse directory survives the process — saveAsTable
            # would refuse with LOCATION_ALREADY_EXISTS, so clear the
            # stale location through the Hadoop FS (scheme-agnostic)
            wh = spark.conf.get("spark.sql.warehouse.dir")
            jpath = spark._jvm.org.apache.hadoop.fs.Path(wh + "/" + name)
            jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                jpath, True
            )
        # the two index builds are independent jobs over the same
        # corpus — submit them from a 2-thread pool so the (cheap)
        # hash-table write back-fills cores the (shingle+minhash) band
        # build leaves idle, instead of running after it (guide §2.6
        # overlap independent jobs; r14: cold-ingest index build
        # profiled 0.6 s + 3.2 s sequential)
        from concurrent.futures import ThreadPoolExecutor

        def _write_hash_idx():
            write_bucketed_table(
                corpus.select(
                    stable_hash64(F.col("text")).alias("_h")
                ).distinct(),
                hname,
                bucket_cols=["_h"],
                n_buckets=16,
            )

        def _write_band_idx():
            write_bucketed_table(
                minhash_band_keys(
                    T.shingle_hash_rows(corpus), id_col="doc_id"
                ).select("band", "key").distinct(),
                bname,
                bucket_cols=["band", "key"],
                n_buckets=16,
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_write_hash_idx), pool.submit(_write_band_idx)]
            for f in futs:
                f.result()
        _DEDUP_INDEX_CACHE[key] = (hname, bname)
    hname, bname = _DEDUP_INDEX_CACHE[key]
    return spark.table(hname), spark.table(bname)


@query("x_incremental_dedup_bucketed", oracle=INCREMENTAL_TRIAGE_ORACLE)
def x_incremental_dedup_bucketed(spark, sf_dir):
    """Incremental-ingest dedup triage against a STANDING BUCKETED
    index — the same classification as x_incremental_dedup_triage
    (same oracle pins it), but the corpus side is a persisted table
    bucketed on the join keys: content hashes bucketed by _h, LSH
    band keys bucketed by (band, key). The batch's two semi-joins
    therefore shuffle ONLY the batch (into the index's bucket
    layout); the corpus-side exchange is gone — paid once at
    index-build time and amortized over every subsequent crawl, which
    is the difference between an ingest that scans-and-shuffles
    100 TB per batch and one whose cost is |batch| × band fan-out.
    test_bucketed_dedup_index_no_corpus_exchange pins the plan shape
    (corpus scans report bucketed output, no corpus-side Exchange).
    Index is memoized per session; a deployment would maintain it as
    a durable table MERGEd by the same ingest job that admits docs."""
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.dedup import minhash_band_keys

    hash_idx, band_idx = _standing_dedup_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text", stable_hash64(F.col("text")).alias("_h")
    )

    exact = batch.join(hash_idx, "_h", "left_semi").select("doc_id")
    b_bands = minhash_band_keys(T.shingle_hash_rows(batch), id_col="doc_id")
    near = (
        b_bands.join(band_idx, ["band", "key"], "left_semi")
        .select("doc_id")
        .distinct()
    )

    flags = (
        batch.select("doc_id")
        .join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(1)), "doc_id", "left")
    )
    return flags.agg(
        F.count("*").cast("long").alias("n_batch"),
        F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_dup"),
        F.sum(
            F.when(F.col("_n").isNotNull() & F.col("_e").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_near_dup_only"),
        F.sum(
            F.when(F.col("_n").isNull() & F.col("_e").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_new"),
    )


def _crawl_ingest_stream(spark, src_dir: str, admitted_path: str,
                         ckpt: str, sf_dir: str, *,
                         files_per_trigger: int = 1) -> None:
    """Drive the streaming leg of s_crawl_ingest_incremental: a
    binaryFile stream over landed WARC files → strict 200-response
    extraction → fetch-suffix canonicalization → the exactly-once
    dedup ADMISSION gate against the standing bucketed index. Factored
    out so the checkpoint-recovery pytest can run it in phases against
    the same checkpoint. The GATE keeps files_per_trigger=1 (the
    deterministic 4-round unroll its oracle depends on); raising it
    makes per-batch parse parallelism = files-per-batch."""
    import hashlib as _hl

    from sparkga1_spark.operators.crawl import warc_response_payloads
    from sparkga1_spark.streaming.sinks import foreach_batch_dedup_admit

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    # binaryFile's schema is FIXED by the source (review-caught: deriving
    # it via spark.read triggered a full driver-side directory listing
    # per invocation, duplicating the one the stream itself performs)
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", files_per_trigger)
        .load(src_dir)
        .select(F.lit(-1).cast("long").alias("doc_id"),
                F.col("content").alias("payload"))
    )
    docs = (
        warc_response_payloads(stream)
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)/", 1)
            .cast("long")
            .alias("doc_id"),
            # canonicalize the per-fetch suffix the planter appends —
            # anchored, so a document legitimately ending in " r0"
            # loses only the fetch copy of it
            F.regexp_replace(F.decode("body", "utf-8"), " r0$", "")
            .alias("text"),
        )
    )
    sink = foreach_batch_dedup_admit(
        admitted_path,
        hash_table=f"dedup_hash_idx_{tag}",
        band_table=f"dedup_band_idx_{tag}",
    )
    q = (
        docs.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def _plant_warc_chunk_files(spark, sf_dir: str, src_dir: str,
                            n_files: int = 4) -> None:
    """FIXTURE planter for the streaming ingest: the arriving batch
    (doc_id ≡ 0 mod 3) written as n_files multi-document WARC files in
    doc_id order — contiguous id chunks, ascending mtimes so the file
    source's arrival order is deterministic, odd chunks gzip-per-record.
    Driver-side file writes are planting only: a deployment's WARC
    files already exist on object storage."""
    import os as _os

    from sparkga1_spark.operators.crawl import build_warc

    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    _os.makedirs(src_dir, exist_ok=True)
    per = max(1, -(-len(rows) // n_files))
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            break
        blob = b"".join(
            build_warc(r["doc_id"], r["source"], r["text"],
                       gzip_members=i % 2 == 1)
            for r in chunk
        )
        ext = ".warc.gz" if i % 2 == 1 else ".warc"
        path = _os.path.join(src_dir, f"chunk-{i:03d}{ext}")
        with open(path, "wb") as f:
            f.write(blob)
        _os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


@query(
    "s_crawl_ingest_incremental",
    oracle=f"""
WITH {LSH_PAIRS_WITH_SQL},
bh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents
),
batchd AS (
  SELECT doc_id, h,
         CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rn,
         doc_id % 5 <> 0 AS ok
  FROM bh WHERE doc_id % 3 = 0
),
per AS (SELECT CAST(ceil(count(*) / 4.0) AS BIGINT) AS p FROM batchd),
chunks AS (SELECT doc_id, h, ok, rn // (SELECT p FROM per) AS ck FROM batchd),
corp_h AS (SELECT h FROM bh WHERE doc_id % 3 <> 0),
rel AS (SELECT id_a AS x, id_b AS y FROM lsh_pairs
        UNION ALL SELECT id_b, id_a FROM lsh_pairs),
corpnear AS (
  SELECT DISTINCT x AS doc_id FROM rel WHERE y % 3 <> 0
),
rep0 AS (
  SELECT h, min(doc_id) AS doc_id FROM chunks
  WHERE ck = 0 AND ok GROUP BY h
),
adm0 AS (
  SELECT doc_id, h FROM rep0
  WHERE h NOT IN (SELECT h FROM corp_h)
    AND doc_id NOT IN (SELECT doc_id FROM corpnear)
),
acc0 AS (SELECT * FROM adm0),
rep1 AS (
  SELECT h, min(doc_id) AS doc_id FROM chunks
  WHERE ck = 1 AND ok GROUP BY h
),
adm1 AS (
  SELECT doc_id, h FROM rep1
  WHERE h NOT IN (SELECT h FROM corp_h)
    AND doc_id NOT IN (SELECT doc_id FROM corpnear)
    AND h NOT IN (SELECT h FROM acc0)
    AND doc_id NOT IN (SELECT x FROM rel WHERE y IN (SELECT doc_id FROM acc0))
),
acc1 AS (SELECT * FROM adm1 UNION ALL SELECT * FROM acc0),
rep2 AS (
  SELECT h, min(doc_id) AS doc_id FROM chunks
  WHERE ck = 2 AND ok GROUP BY h
),
adm2 AS (
  SELECT doc_id, h FROM rep2
  WHERE h NOT IN (SELECT h FROM corp_h)
    AND doc_id NOT IN (SELECT doc_id FROM corpnear)
    AND h NOT IN (SELECT h FROM acc1)
    AND doc_id NOT IN (SELECT x FROM rel WHERE y IN (SELECT doc_id FROM acc1))
),
acc2 AS (SELECT * FROM adm2 UNION ALL SELECT * FROM acc1),
rep3 AS (
  SELECT h, min(doc_id) AS doc_id FROM chunks
  WHERE ck = 3 AND ok GROUP BY h
),
adm3 AS (
  SELECT doc_id, h FROM rep3
  WHERE h NOT IN (SELECT h FROM corp_h)
    AND doc_id NOT IN (SELECT doc_id FROM corpnear)
    AND h NOT IN (SELECT h FROM acc2)
    AND doc_id NOT IN (SELECT x FROM rel WHERE y IN (SELECT doc_id FROM acc2))
),
acc3 AS (SELECT * FROM adm3 UNION ALL SELECT * FROM acc2)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM acc3
""",
)
def s_crawl_ingest_incremental(spark, sf_dir):
    """The crawl ARRIVAL path end-to-end as a STREAM (r6 VERDICT #7 —
    this composition was pytest-only): multi-document WARC files land
    in a directory (odd chunks gzip-per-record), a binaryFile source
    drains them one file per micro-batch (availableNow, so the run is
    finite and deterministic), each batch runs the strict WARC parse →
    HTTP-200 response extraction → fetch-suffix canonicalization, and
    the documents pass through the exactly-once streaming dedup
    ADMISSION gate (foreach_batch_dedup_admit) against the standing
    BUCKETED corpus index — exact content-hash semi-join + LSH band
    semi-join, plus this stream's own admission history, survivors
    MERGEd under the ledger. Returns the admitted doc_ids. Arrival
    set: doc_id ≡ 0 (mod 3) docs, minus ids ≡ 0 (mod 5) whose only
    fetch is a 404 (the planter's status rotation) — a real ingest
    drops failed fetches exactly like this. DETERMINISM: the file
    split is 4 contiguous ascending-id chunks with pinned ascending
    mtimes, so micro-batch order is the chunk order, and the oracle
    UNROLLS the same four admission rounds as chained CTEs (the BPE
    oracle pattern): per round, 404s drop, intra-batch exact
    duplicates collapse to the lowest doc_id, and the representative
    is rejected iff its hash matches the corpus index or any
    earlier-round admission, or its LSH bands collide with the corpus
    or any earlier-round admission — the cross-batch near-dup
    rejection the fixture REALLY exercises (sf0.001 carries 3
    arriving-vs-arriving near pairs; test_crawl_ingest_matches_oracle_
    at_sf0001 pins the query against this oracle exactly where that
    path is live). Same-round near pairs are both admitted, matching
    the gate's documented intra-batch policy. Re-running the query in
    a session is idempotent: the checkpoint says the files are
    consumed and the ledger skips replayed batches, so the admitted
    table is simply re-read. Checkpoint recovery is pinned by
    test_crawl_ingest_stream_checkpoint_recovery (phase 1 drains two
    files, phase 2 restarts on the same checkpoint with four)."""
    import os as _os

    base = f"/tmp/sparkga1_stream-{spark.sparkContext.applicationId}"
    import hashlib as _hl

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    src_dir = f"{base}/{tag}/incoming"
    admitted = f"{base}/{tag}/admitted"
    ckpt = f"{base}/{tag}/ckpt"
    # standing index first (also registers the catalog tables the gate
    # reads); planting is skipped when the directory already exists —
    # the stream is then a no-op on a consumed checkpoint (idempotent)
    _standing_dedup_index(spark, sf_dir)
    if not _os.path.isdir(src_dir):
        _plant_warc_chunk_files(spark, sf_dir, src_dir)
    _crawl_ingest_stream(spark, src_dir, admitted, ckpt, sf_dir)
    return spark.read.parquet(admitted).select("doc_id")


@query(
    "a_grouping_sets_revenue",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       (CAST(floor(sum(CAST((o_totalprice) AS DECIMAL(18,6))) * 100 + 0.5)
             AS DOUBLE) / 100) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderpriority), ())
""",
)
def a_grouping_sets_revenue(spark, sf_dir):
    """Arbitrary GROUPING SETS — the combination rollup/cube can't
    express: ((status, priority), (priority), ()) skips the
    (status)-only level a ROLLUP would force and the (status) slice a
    CUBE would add. One pass over orders; Catalyst expands the sets
    into a single Expand + hash aggregate (each input row fans out
    once per set, partial aggs map-side — same cost model as rollup).
    Revenue uses the order-independent decimal accumulation (dsum).
    Labels use coalesce sentinels because status/priority are
    non-null in the data, keeping the output engine-portable without
    grouping_id bit conventions."""
    od = load_table(spark, sf_dir, "orders")
    return (
        od.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum("o_totalprice", 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


_SIMHASH16_SQL = " + ".join(
    f"(CASE WHEN list_sum([CASE WHEN (x & {1 << i}) > 0 THEN 1 ELSE -1 END for x in sh]) > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(16)
)

_SIMHASH48_SQL = " + ".join(
    f"(CASE WHEN list_sum([CASE WHEN (x & {1 << i}) > 0 THEN 1 ELSE -1 END for x in sh]) > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(48)
)

# DOC_SHINGLES_SQL retargeted at the near-twin fixture CTE
_NEARTWIN_SHINGLES_SQL = DOC_SHINGLES_SQL.replace("FROM documents", "FROM nt")


@query(
    "x_simhash_hamming_pairs",
    oracle=f"""
WITH nt AS ({fixtures.DOCS_NEARTWIN_SQL}),
doc_shingles AS ({_NEARTWIN_SHINGLES_SQL}),
sh48 AS (
  SELECT doc_id, CAST({_SIMHASH48_SQL} AS BIGINT) AS simhash
  FROM doc_shingles WHERE len(sh) > 0
),
nib AS (
  SELECT doc_id, simhash, k, (simhash >> (4*k)) & 15 AS v
  FROM sh48 CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS k) t
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM nib l JOIN nib r
    ON l.k = r.k AND l.v = r.v AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
FROM cand WHERE hamming <= 6
""",
)
def x_simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS — the stage the SimHash fingerprints feed
    (completing fingerprint→candidates→verify the way
    minhash→LSH→jaccard is complete): all pairs within Hamming
    distance ≤ 6 of a 48-BIT fingerprint over the near-twin planted
    corpus (fixtures.DOCS_NEARTWIN_SQL — every 25th doc has a
    one-word-edit twin, so the gate output contains the planted
    pairs, never a vacuous empty set; measured twin recall 0.95 at
    sf0.01 / 0.90 at sf0.1 — short docs flip more bits per edit,
    pinned in tests/test_properties.py). Candidate generation is the
    pigeonhole band trick — 12 nibbles; d ≤ 6 flips ≤ 6 nibbles, so
    every qualifying pair shares an exact nibble (the guarantee holds
    through d ≤ 11) — an equi-join on (nibble_index, value), never
    all-pairs. Verification is one codegen'd bit_count(xor).

    WHY 48 BITS (measured, r4 scale smoke): the first cut used 16
    bits and saturated — at 50k docs the 2^16 space makes UNRELATED
    pairs collide inside the Hamming ball (13.9M output pairs, ~98×
    the 5k-doc output; quadratic). At 48 bits output is linear in
    corpus size through the smoke's 10× point (446 → 4,572 pairs).

    SCALE ENVELOPE (PLANS.md §SimHash): 4-bit bands hold 16 values,
    so candidate volume is Σ n²/16 per band — sound to ~10^5 docs
    (shard/batch level), not corpus level. Short docs force d≈6 (one
    edited word = 3-10% of shingles), and guaranteed-recall Hamming
    search at d=6 cannot have sparse bands at 48-62 bits (pigeonhole:
    block width ≤ bits/(d+1)). Corpus-scale near-dup remains
    MinHash-LSH (x_dedup_minhash_lsh); the public 64-bit/d≤3/16-bit-
    block recipe (Manku et al. 2007) applies when documents are long
    enough that near-dup means a tiny relative edit."""
    from sparkga1_spark.operators.dedup import simhash_rows

    docs = fixtures.documents_with_neartwins(
        load_table(spark, sf_dir, "documents")
    )
    rows = T.shingle_hash_rows(docs)
    sh = simhash_rows(rows, id_col="doc_id", n_bits=48)
    nib = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(k) for k in range(12)])).alias("k"),
    ).withColumn("v", F.expr("shiftright(simhash, k * 4) & 15"))
    l, r = nib.alias("l"), nib.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 6)


_SIMHASH60_SQL = " + ".join(
    f"(CASE WHEN list_sum([CASE WHEN (x & {1 << i}) > 0 THEN 1 ELSE -1 END for x in sh]) > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(60)
)

_LONGDOC_SHINGLES_SQL = DOC_SHINGLES_SQL.replace(
    "FROM documents", "FROM ld"
).replace("doc_id", "ldoc_id")


@query(
    "x_simhash_longdoc_pairs",
    oracle=f"""
WITH ld AS ({fixtures.DOCS_LONGDOC_SQL}),
doc_shingles AS ({_LONGDOC_SHINGLES_SQL}),
sh60 AS (
  SELECT ldoc_id, CAST({_SIMHASH60_SQL} AS BIGINT) AS simhash
  FROM doc_shingles WHERE len(sh) > 0
),
blk AS (
  SELECT ldoc_id, simhash, k, (simhash >> (15*k)) & 32767 AS v
  FROM sh60 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) t
),
cand AS (
  SELECT DISTINCT l.ldoc_id AS id_a, r.ldoc_id AS id_b,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM blk l JOIN blk r
    ON l.k = r.k AND l.v = r.v AND l.ldoc_id < r.ldoc_id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
FROM cand WHERE hamming <= 3
""",
)
def x_simhash_longdoc_pairs(spark, sf_dir):
    """CORPUS-SCALE SimHash pairing — the public web-scale recipe
    (Manku, Jain & Sarma, WWW 2007: 64-bit fingerprints, Hamming ≤ 3,
    table-per-block search; here 60 bits for signed-long arithmetic
    headroom, split into FOUR 15-BIT BLOCKS): d ≤ 3 flips bits in at
    most 3 blocks, so every qualifying pair agrees exactly on ≥ 1 of
    the 4 blocks — an equi-join on (block_index, value), never
    all-pairs. Runs over the long-document fixture
    (fixtures.DOCS_LONGDOC_SQL: ~400-token concatenations with planted
    one-word-edit twins) because the recipe's regime is LONG docs —
    a tiny relative edit moves <1% of shingles, landing inside the
    d≤3 ball; short docs need the shard-scoped 48-bit/d≤6 variant
    (x_simhash_hamming_pairs).

    WHY THIS ONE SCALES TO THE FULL CORPUS: 15-bit blocks hold 32,768
    values, so expected candidate volume is 4·n²/2^15 — at n = 10^5
    docs that is ~1.2M cheap bit_count probes (vs the nibble variant's
    4-bit/16-value bands, quadratic past shard size); at 10^8+ docs
    the same plan holds with wider blocks (16-bit on the full 64-bit
    width) and per-block bucketing, the exact table layout Manku
    describes. Smoke: 1×/10× pair output is linear in planted-twin
    count. Measured twin recall is pinned in
    tests/test_properties.py."""
    from sparkga1_spark.operators.dedup import simhash_rows

    docs = fixtures.documents_longdoc_twins(
        load_table(spark, sf_dir, "documents")
    )
    rows = T.shingle_hash_rows(docs, id_col="ldoc_id")
    sh = simhash_rows(rows, id_col="ldoc_id", n_bits=60)
    blk = sh.select(
        "ldoc_id",
        "simhash",
        F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("k"),
    ).withColumn("v", F.expr("shiftright(simhash, k * 15) & 32767"))
    l, r = blk.alias("l"), blk.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.v") == F.col("r.v"))
            & (F.col("l.ldoc_id") < F.col("r.ldoc_id")),
        )
        .select(
            F.col("l.ldoc_id").alias("id_a"),
            F.col("r.ldoc_id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 3)


@query(
    "x_pq_encode",
    oracle="""
WITH cb AS (
  SELECT vec_id AS code, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS cvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
  WHERE vec_id < 4
),
sub AS (
  SELECT vec_id, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS xvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
),
scored AS (
  SELECT vec_id, subspace,
         CAST(floor(round(list_inner_product(
                [xvec[i] - cvec[i] for i in generate_series(1, 16)],
                [xvec[i] - cvec[i] for i in generate_series(1, 16)]), 6)
              * 1000000 + 0.5) AS BIGINT) * 4 + code AS k
  FROM sub JOIN cb USING (subspace)
),
assigned AS (
  SELECT vec_id, subspace, min(k) AS k FROM scored GROUP BY vec_id, subspace
)
SELECT subspace, CAST(k % 4 AS BIGINT) AS code,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(k // 4) AS DOUBLE) / count(*) / 1000000, 6) AS avg_err
FROM assigned GROUP BY subspace, k % 4
""",
)
def x_pq_encode(spark, sf_dir):
    """Product-quantization ENCODE (the memory-scale path for ANN: a
    64-dim vector becomes 4 one-byte codes): split each embedding into
    4×16-dim subspaces, assign each slice to its nearest of 4
    codebook centroids (deterministic codebook = the slices of
    vec_id 0-3, the seeded-codebook analog of the IVF seed variant).
    Distances are the sequential
    (p-q)² fold both engines compute identically (functions/vectors
    lesson), rounded to 6dp BEFORE the argmin with a code tiebreak so
    assignment can't flip on last-ulp noise; per-vector quantization
    error is snapped to integer micro-units before the per-cell sum
    (order-independent). Output: the 16-cell code histogram + mean
    quantization error per cell — the PQ training audit. Plan:
    codebook is a broadcast 16-row table; encode is map-side
    (explode ×4, broadcast join ×4 codes, argmin agg keyed by
    (vec_id, subspace)); nothing corpus-wide shuffles except the
    16-key histogram."""
    emb = load_table(spark, sf_dir, "embeddings")
    s_ids = F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("subspace")
    sub = (
        emb.select("vec_id", "embedding", s_ids)
        .withColumn(
            "xvec",
            F.slice(F.col("embedding"), F.col("subspace") * 16 + 1, 16).cast(
                "array<double>"
            ),
        )
        .drop("embedding")
    )
    cb = (
        emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("code"), "embedding", s_ids)
        .withColumn(
            "cvec",
            F.slice(F.col("embedding"), F.col("subspace") * 16 + 1, 16).cast(
                "array<double>"
            ),
        )
        .drop("embedding")
    )
    diff = F.zip_with("xvec", "cvec", lambda p, q: p - q)
    dist = F.aggregate(
        F.zip_with(diff, diff, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # pack (micro-rounded distance, code) into ONE exact integer key:
    # min(k) is then the argmin with code tiebreak, hash-aggregable on
    # both engines (min_by over a struct is not — DuckDB rejects it,
    # Spark falls back to SortAggregate; see PLANS.md keep_best note)
    k = (
        F.floor(hround(dist, 6) * 1_000_000 + 0.5).cast("long") * 4
        + F.col("code")
    )
    scored = sub.join(F.broadcast(cb), "subspace").select(
        "vec_id", "subspace", k.alias("k")
    )
    assigned = scored.groupBy("vec_id", "subspace").agg(F.min("k").alias("k"))
    return assigned.groupBy(
        "subspace", (F.col("k") % 4).alias("code")
    ).agg(
        F.count("*").cast("long").alias("n_vecs"),
        hround(
            F.sum(F.expr("k div 4")).cast("double") / F.count("*") / 1_000_000,
            6,
        ).alias("avg_err"),
    )


@query(
    "o_zorder_cluster",
    oracle="""
WITH z AS (
  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         list_sum([(((l_partkey % 1024) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
                   + (((l_suppkey % 1024) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1))
                   for i in generate_series(0, 9)]) AS zkey
  FROM lineitem
)
SELECT CAST(zkey // 16384 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
FROM z GROUP BY 1
""",
)
def o_zorder_cluster(spark, sf_dir):
    """Z-order (Morton) clustering key — the multi-dimensional sort
    key lakehouse OPTIMIZE/ZORDER uses so that range predicates on
    EITHER column prune files: interleave the bits of two 10-bit
    dimensions into one 20-bit key, bucket by the top 6 bits, and
    audit each bucket's bounding rectangle (min/max of both dims).
    Because Morton buckets are axis-aligned squares, every bucket's
    x/y ranges stay narrow — exactly the data-skipping property the
    oracle's per-bucket min/max pins (a bit-interleave bug would show
    as full-width rectangles and break the hash). The interleave is a
    20-term codegen'd integer expression (no UDF); the audit is one
    64-key aggregate. At 100 TB you'd write files sorted by zkey via
    sinks.write_partitioned_sorted and get 2-D pruning from 1-D file
    stats."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_partkey") % 1024
    y = F.col("l_suppkey") % 1024
    zkey = F.lit(0)
    for i in range(10):
        zkey = (
            zkey
            + F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    z = li.select(x.alias("x"), y.alias("y"), zkey.alias("zkey"))
    return z.groupBy(
        (F.col("zkey") / 16384).cast("long").alias("zbucket")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("x_min"),
        F.max("x").cast("long").alias("x_max"),
        F.min("y").cast("long").alias("y_min"),
        F.max("y").cast("long").alias("y_max"),
    )


@query(
    "x_ann_pq_adc_topk",
    oracle="""
WITH cb AS (
  SELECT vec_id AS code, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS cvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
  WHERE vec_id < 4
),
sub AS (
  SELECT vec_id, s.s AS subspace,
         CAST(embedding[s.s*16+1 : s.s*16+16] AS DOUBLE[]) AS xvec
  FROM embeddings CROSS JOIN (SELECT unnest([0,1,2,3]) AS s) s
),
scored AS (
  SELECT vec_id, subspace,
         CAST(floor(round(list_inner_product(
                [xvec[i] - cvec[i] for i in generate_series(1, 16)],
                [xvec[i] - cvec[i] for i in generate_series(1, 16)]), 6)
              * 1000000 + 0.5) AS BIGINT) * 4 + code AS k
  FROM sub JOIN cb USING (subspace)
),
codes AS (
  SELECT vec_id, subspace, min(k) % 4 AS code
  FROM scored GROUP BY vec_id, subspace
),
lut AS (
  SELECT q.vec_id AS qid, cb.subspace, cb.code,
         CAST(floor(round(list_inner_product(
                [xvec[i] - cvec[i] for i in generate_series(1, 16)],
                [xvec[i] - cvec[i] for i in generate_series(1, 16)]), 6)
              * 1000000 + 0.5) AS BIGINT) AS dm
  FROM (SELECT * FROM sub WHERE vec_id BETWEEN 4 AND 8) q
  JOIN cb ON cb.subspace = q.subspace
),
adc AS (
  SELECT qid, c.vec_id AS cand_id, sum(dm) AS dm
  FROM codes c JOIN lut ON lut.subspace = c.subspace AND lut.code = c.code
  WHERE c.vec_id <> qid
  GROUP BY qid, c.vec_id
)
SELECT qid AS query_id, cand_id, CAST(rank AS INTEGER) AS rank,
       CAST(dm AS BIGINT) AS d_micro
FROM (
  SELECT qid, cand_id, dm,
         row_number() OVER (PARTITION BY qid ORDER BY dm, cand_id) AS rank
  FROM adc
)
WHERE rank <= 3
""",
)
def x_ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-k — the query-time half of
    product quantization (x_pq_encode is the index-build half):
    approx dist(q, x) = Σ_s ||q_s − codebook[s, code_s(x)]||², i.e.
    each query precomputes a 16-entry lookup table (4 subspaces × 4
    codes) and every database vector is scored by FOUR table lookups
    instead of a 64-dim float kernel. Per-cell LUT distances are
    micro-unit integers, so the per-candidate sum is exact 64-bit
    addition and the (distance, id) ranking is tie-stable across
    engines. Plan: codes = the encode aggregate (4 narrow rows/vec);
    the LUT (5 queries × 16 cells) BROADCASTS; scoring is one
    partial+final sum keyed (query, candidate); the top-3 cut is a
    WindowGroupLimit. At 100 TB this is the textbook memory-bound ANN
    scan — candidates never touch raw floats, only their byte codes.
    Recall vs the exact baseline is measured in
    tests/test_ann_recall.py (planted-twin floor), extending the
    IVF/LSH recall table in PLANS.md."""
    from sparkga1_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb,
        query_pred=F.col("vec_id").between(4, 8),
        codebook_pred=F.col("vec_id") < 4,
        k=3,
    )


# Canonical host link graph, shared by the three graph queries
# (x_host_pagerank / x_graph_triangles / x_graph_bfs_hops) and their
# oracles. SF-SCALED BY CONSTRUCTION (r5 VERDICT #2): the node-space
# size m = count(lineitem) div 10 grows linearly with the data —
# sf0.001 → 600 nodes, sf0.01 → 6,000, sf0.1 → 60,000, and the scale
# smoke's replicated lineitem (shifted orderkeys) lands on fresh
# residues of the 10×-larger node space — so graph smokes measure a
# graph that actually grew, not a fixed 50-node fixture. Edges hash
# (orderkey, linenumber) → src and (partkey, suppkey) → dst into the
# m-space (multiplier spread; ~10 draws per node ⇒ average degree
# ~20, a sparse power-iteration-friendly graph), plus a fixed 25-node
# clique overlay on nodes 0..24 — the dense core every real web graph
# has, and the guaranteed-triangle structure the clustering
# coefficients need. Self-loops dropped; parallel draws collapse into
# the edge weight.
_HOST_EDGES_SQL = """
mm AS MATERIALIZED (
  SELECT greatest(CAST(1 AS BIGINT), count(*) // 10) AS m FROM lineitem
),
eall AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM (
    SELECT (l_orderkey * 7919 + l_linenumber) % (SELECT m FROM mm) AS src,
           (l_partkey * 104729 + l_suppkey) % (SELECT m FROM mm) AS dst
    FROM lineitem
    UNION ALL
    SELECT a.range AS src, b.range AS dst
    FROM range(25) a, range(25) b WHERE a.range < b.range
  )
  WHERE src <> dst
  GROUP BY 1, 2
)"""

# Undirected form for triangles/BFS: least/greatest-normalized,
# deduplicated (both orientations of a pair collapse to one row).
_HOST_UNDIRECTED_SQL = (
    _HOST_EDGES_SQL
    + """,
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM eall
)"""
)


def _host_graph_edges(spark, sf_dir, *, weighted: bool = True):
    """Engine side of the canonical host graph (see _HOST_EDGES_SQL):
    directed weighted edges (src, dst, w). The node-space modulus is a
    1-ROW count aggregate MATERIALIZED ONCE at build time (r6 VERDICT
    #4: attaching it lazily via crossJoin(broadcast(agg)) replicated
    the count(lineitem) subtree into every downstream self-join —
    x_graph_triangles carried 118 BroadcastNestedLoopJoins and would
    re-execute the full scan that many times at 100 TB; a 1-row
    .first() is a scalar pull, not a driver-side loop, and count(*)
    runs exactly once).

    weighted=False returns the RAW draw stream (src, dst) without the
    co-occurrence groupBy — review-caught: the undirected consumers
    (triangles/BFS) immediately drop w and run their own
    least/greatest distinct, so the weighted aggregate was a second
    full shuffle of the edge stream for nothing; only PageRank uses
    the weights."""
    li = load_table(spark, sf_dir, "lineitem")
    m_val = li.agg(
        F.expr("greatest(CAST(1 AS BIGINT), count(*) div 10)").alias("m")
    ).first()["m"]
    base = li.select(
        ((F.col("l_orderkey") * 7919 + F.col("l_linenumber")) % F.lit(m_val))
        .cast("long")
        .alias("src"),
        ((F.col("l_partkey") * 104729 + F.col("l_suppkey")) % F.lit(m_val))
        .cast("long")
        .alias("dst"),
    )
    # clique overlay on nodes 0..24 as ONE Range + div/mod projection —
    # the former Range×Range crossJoin was a (tiny, constant) BNL node
    # that the persisted-edge subtree reprinted ~59x in every consumer
    # plan, drowning the plan audit's BNL signal
    clique = (
        spark.range(25 * 25)
        .select(
            F.expr("id div 25").alias("src"),
            (F.col("id") % 25).alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
    )
    draws = base.unionByName(clique).filter(F.col("src") != F.col("dst"))
    if not weighted:
        return draws
    return draws.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("w")
    )


def _pagerank_oracle_sql(iters: int = 12) -> str:
    """Unrolled exact-integer PageRank CTE chain (DuckDB side). Each
    iteration is pure BIGINT arithmetic — floor-div contributions and
    the dangling-mass share in nano-units — so 12 chained CTEs
    reproduce the Spark loop exactly. Hosts ≡ 0 (mod 7) keep no
    out-edges (link targets only), so the dangling term is live: each
    iteration redistributes 85% of their mass uniformly."""
    head = f"""
{_HOST_EDGES_SQL},
nodes AS MATERIALIZED (SELECT DISTINCT node
                       FROM (SELECT src AS node FROM eall
                             UNION SELECT dst FROM eall)),
e0 AS MATERIALIZED (SELECT * FROM eall WHERE src % 7 <> 0),
ow AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w, ow.outw
                   FROM e0 JOIN ow USING (src)),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
p0 AS (SELECT node, CAST(20000000 AS BIGINT) AS v FROM nodes)"""
    steps = []
    for t in range(iters):
        steps.append(f"""
d{t} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(v), 0) AS BIGINT) AS dv
  FROM p{t} WHERE node NOT IN (SELECT src FROM e0)
),
p{t + 1} AS MATERIALIZED (
  SELECT n.node,
         3000000 + coalesce(sum((p{t}.v * 85 * e.w) // (100 * e.outw)), 0)
         + (SELECT (dv * 85) // (100 * (SELECT n FROM nn)) FROM d{t}) AS v
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN p{t} ON p{t}.node = e.src
  GROUP BY n.node
)""")
    return head + "," + ",".join(steps)


@query(
    "x_host_pagerank",
    oracle=f"""
WITH {_pagerank_oracle_sql(12)}
SELECT node, CAST(v AS BIGINT) AS pr_nano FROM p12
""",
)
def x_host_pagerank(spark, sf_dir):
    """Host-authority PageRank (the link-centrality signal web-corpus
    curation uses to weight seed domains): 12 power iterations with
    damping 0.85 over the SF-SCALED host link graph synthesized from
    lineitem (_host_graph_edges: node space m = count div 10, so the
    graph grows linearly with the data — 6,000 nodes at sf0.01,
    60,000 at sf0.1; weight = co-occurrence count, self-loops
    dropped; hosts ≡ 0 mod 7 keep no out-edges — the sink hosts every
    real web graph has). EVERYTHING
    IS EXACT 64-BIT INTEGER ARITHMETIC: ranks live in nano-units, each
    edge contribution is (pr·85·w) div (100·outw) floor-division, and
    the standard dangling-mass term — 85% of the sinks' mass spread
    uniformly — is (Σ_dangling v · 85) div (100·N) — so the
    distributed sums are order-independent and an ITERATIVE algorithm
    becomes fully value-hash-oracle-able (the DuckDB side unrolls the
    same 12 iterations as chained CTEs). Plan: edges,
    out-weights, and the dangling-node set build once and persist;
    each iteration is one edge⋈rank broadcast-join + dst-keyed
    aggregate, plus the dangling sum as a broadcast 1-ROW aggregate
    cross-join (the BNL-totals pattern — never a driver collect);
    localCheckpoint every 4 rounds cuts the lineage (the
    connected-components recipe). Mass conservation per iteration is
    property-pinned in tests/test_properties.py. At 100 TB hosts are
    ~1e8 rows: ranks broadcast per iteration OR the join flips to
    shuffle — plan shape unchanged."""
    pr, _ = _pagerank_iterate(spark, sf_dir, iters=12)
    return pr.select("node", F.col("v").alias("pr_nano"))


def _pagerank_iterate(spark, sf_dir, *, iters):
    """Shared PageRank loop; returns (final ranks DF, list of per-
    iteration rank DFs) so the mass-conservation property test can
    audit every step without re-deriving the pipeline."""
    from sparkga1_spark.operators.cache import tracked_persist

    eall = tracked_persist(_host_graph_edges(spark, sf_dir))
    nodes = tracked_persist(
        eall.select(F.col("src").alias("node"))
        .union(eall.select("dst"))
        .distinct()
    )
    e0 = eall.filter(F.col("src") % 7 != 0)
    ow = e0.groupBy("src").agg(F.sum("w").alias("outw"))
    e = tracked_persist(e0.join(ow, "src"))
    # sinks: in the graph but no surviving out-edge
    dang = tracked_persist(
        nodes.join(
            e0.select(F.col("src").alias("node")).distinct(),
            "node",
            "left_anti",
        )
    )
    ncnt = nodes.agg(F.count("*").cast("long").alias("n"))
    pr = nodes.select("node", F.lit(20_000_000).cast("long").alias("v"))
    history = [pr]
    for t in range(iters):
        contrib = (
            e.join(pr, e["src"] == pr["node"])
            .select(
                "dst",
                F.expr("(v * 85 * w) div (100 * outw)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        dsum = (
            pr.join(F.broadcast(dang), "node", "semi")
            .agg(F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("dv"))
            .crossJoin(F.broadcast(ncnt))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dsum))
            .select(
                "node",
                (
                    F.lit(3_000_000)
                    + F.coalesce(F.col("c"), F.lit(0))
                    + F.expr("(dv * 85) div (100 * n)")
                )
                .cast("long")
                .alias("v"),
            )
        )
        if t % 4 == 3:
            pr = pr.localCheckpoint(eager=False)
        history.append(pr)
    return pr, history


@query(
    "a_integrity_manifest",
    oracle="""
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
            AS BIGINT) AS content_xor
FROM documents
GROUP BY source, lang
""",
)
def a_integrity_manifest(spark, sf_dir):
    """Dataset integrity manifest (the checksum table a replication /
    backfill job publishes next to its output): per (source, lang),
    row count, char volume, and an order-independent XOR of the
    per-doc content hashes. XOR is commutative/associative, so the
    checksum is identical for any partitioning or row order — one
    partial+final hash aggregate, and two manifests diff with a tiny
    join (j_full_outer_recon is the row-level escalation when a
    checksum mismatches). At 100 TB: the shuffle carries one 8-byte
    accumulator per group per partition."""
    docs = load_table(spark, sf_dir, "documents")
    from sparkga1_spark.functions.hashing import stable_hash64

    return docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.bit_xor(stable_hash64(F.col("text"))).cast("long").alias("content_xor"),
    )


@query(
    "x_chunk_overlap",
    oracle="""
WITH W AS (
  SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents
),
c AS (
  SELECT doc_id, len(W) AS n_tok,
         unnest([i for i in generate_series(1, greatest(len(W) - 8, 1), 24)])
             AS start
  FROM W
)
SELECT c.doc_id, CAST((start - 1) / 24 AS BIGINT) AS chunk_idx,
       CAST(least(32, n_tok - start + 1) AS BIGINT) AS n_tokens,
       W.W[start] AS first_tok,
       W.W[least(start + 31, n_tok)] AS last_tok
FROM c JOIN W ON c.doc_id = W.doc_id
""",
)
def x_chunk_overlap(spark, sf_dir):
    """Overlapping context chunking (the RAG / long-doc windowing step:
    size-32 token windows at stride 24, 8-token overlap): windows are
    generated IN-PLAN from each doc's own length (sequence + explode —
    1→N flatMap, no Python), and each chunk row carries its token
    count and boundary tokens so a off-by-one in stride, overlap, or
    tail handling breaks the hash. Complements x_pack_context_windows
    (packing MERGES short docs to fill a budget; chunking SPLITS long
    ones with overlap). Map-only — zero exchanges at any scale; the
    ×(len/stride) fan-out is the output itself."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("W")
    ).withColumn("n_tok", F.size("W"))
    c = w.select(
        "doc_id",
        "n_tok",
        "W",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.col("n_tok") - 8, F.lit(1)),
                F.lit(24),
            )
        ).alias("start"),
    )
    return c.select(
        "doc_id",
        ((F.col("start") - 1) / 24).cast("long").alias("chunk_idx"),
        F.least(F.lit(32), F.col("n_tok") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.element_at("W", F.col("start")).alias("first_tok"),
        F.element_at(
            "W", F.least(F.col("start") + 31, F.col("n_tok"))
        ).alias("last_tok"),
    )


@query(
    "x_bpe_pair_counts",
    oracle="""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(str_split_regex(trim(text), ' +')) AS w FROM documents)
  GROUP BY w
),
pairs AS (
  SELECT unnest([substr(w, i, 2) for i in generate_series(1, len(w) - 1)]) AS pair,
         freq
  FROM wf WHERE len(w) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 20
""",
)
def x_bpe_pair_counts(spark, sf_dir):
    """BPE merge-step pair counting — the inner loop of byte-pair-
    encoding tokenizer training (Sennrich et al. 2016): count adjacent
    symbol pairs across the corpus WEIGHTED BY WORD FREQUENCY, the
    statistic the next merge rule maximizes. The plan is the
    tokenizer-training scale shape: corpus → distinct-word frequency
    table FIRST (vocabulary-sized, the only fact-volume shuffle), then
    pairs explode off the ~|vocab| rows (len(word) fan-out, in-plan
    sequence+explode, zero Python), partial+final sum keyed by pair,
    top-20 via TakeOrderedAndProject with a unique (count, pair)
    tiebreak. At 100 TB the word-frequency aggregate is exactly
    x_vocab_topk's shuffle; the pair pass runs over the vocab
    aggregate, which is millions of rows, not the corpus — that
    asymmetry is WHY real BPE trainers count on the word-freq table."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


@query(
    "x_token_budget_sample",
    oracle="""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(str_split_regex(trim(text), ' +')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS pri
  FROM documents
),
c AS (
  SELECT source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
FROM c WHERE cum <= 2000 GROUP BY source
""",
)
def x_token_budget_sample(spark, sf_dir):
    """Token-budget downsampling — cap each source at a TOKEN budget
    (here 2000), not a document count (the unit data mixes are
    actually specified in; x_per_source_cap is the doc-count cousin):
    docs take a deterministic content-hash priority (= a seedless
    uniform shuffle both engines reproduce), and each source keeps its
    priority-order prefix while the running token sum stays within
    budget. The running sum is `grouped_cumsum` — the distributed
    two-pass range-partition cumsum — NOT a per-source window funnel,
    because at 100 TB a source is most of the corpus (the same reason
    x_pack_context_windows uses it). Output is the per-source audit
    (docs kept, tokens kept ≤ budget); a mismatch in hash, order
    tiebreak, or boundary inclusion breaks the hash."""
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.windows import grouped_cumsum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.size(T.words(F.col("text"))).cast("long").alias("n_tok"),
        stable_hash64(F.col("text")).alias("pri"),
    )
    c = grouped_cumsum(
        t,
        group_cols=["source"],
        order_cols=["pri", "doc_id"],
        value_col="n_tok",
        out_col="cum",
        # r13 (guide §1.2): one tokenize+hash pass instead of two
        # (sample job + fill); cached rows are narrow, no text
        persist_input=True,
    )
    return (
        c.filter(F.col("cum") <= 2000)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Round-5 decision layer: the keep/prune verdict stage a curation
# pipeline runs AFTER the detection operators above — span-level
# duplicated mass (Lee et al. 2021, "Deduplicating Training Data Makes
# Language Models Better", arXiv:2107.06499, at n-gram granularity),
# model-based quality scoring, semantic (embedding) pruning, and
# canonical-document selection per duplicate cluster.
# --------------------------------------------------------------------------


@query(
    "x_span_dup_mass",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_distinct([CAST(('0x' || substr(md5(array_to_string(W[i:i+7], ' ')), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(len(W)-7, 0))]) AS gh
  FROM (SELECT doc_id, str_split_regex(trim(text), ' +') AS W FROM documents)
),
e AS (SELECT doc_id, unnest(gh) AS h FROM g WHERE len(gh) > 0),
c AS (SELECT h, count(*) AS nd FROM e GROUP BY h)
SELECT e.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_frac
FROM e JOIN c USING (h)
GROUP BY e.doc_id
""",
)
def x_span_dup_mass(spark, sf_dir):
    """Span-level duplicate mass per document — the fraction of a doc's
    word 8-grams that also occur in ANOTHER document (Lee et al. 2021
    exact-substring dedup, approximated at fixed n-gram granularity;
    within-doc repetition is x_quality_repetition's job, so gram rows
    are distinct-per-doc before counting). Docs above a dup_frac
    threshold get their duplicated spans cut or are dropped whole.

    Plan shape: distinct (doc_id, 8-gram-hash) rows (codegen'd window
    n-grams, functions/text.py), then corpus counts via ONE
    count-over-Window partitioned by the 8-byte hash — NOT a
    groupBy+join-back, which would consume the gram subtree twice
    (scan + gram window duplicated) and at 100 TB turn into a
    corpus-sized sort-merge join; the window attaches `nd` in the
    same h-exchange. Then one doc_id aggregate. The shuffle key is
    always the 8-byte hash, never the gram text (guarded)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rows = T.shingle_hash_rows(docs, n=8)
    per = (
        rows.withColumn("nd", F.count("*").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup",
        hround(F.col("n_dup").cast("double") / F.col("n_grams"), 6).alias(
            "dup_frac"
        ),
    )


# Feature/score SQL for the linear quality head, shared by
# x_quality_linear_score and x_curation_pipeline_v2 so the scoring
# arithmetic cannot drift between the standalone gate and the
# composition. Mirrored by _quality_score_col below.
_QSCORE_FEATURES_SQL = """
             CAST(len(str_split_regex(trim(text), ' +')) AS DOUBLE) AS nw,
             CAST(len(list_filter(str_split_regex(trim(text), ' +'),
                                  w -> w IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
               / len(str_split_regex(trim(text), ' +')) AS swr,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text) AS ar,
             CAST(length(regexp_replace(text, ' +', '', 'g')) AS DOUBLE)
               / len(str_split_regex(trim(text), ' +')) AS mwl
"""
_QSCORE_Z_SQL = "-2.0 + 0.2 * sqrt(nw) + 4.0 * swr + 3.0 * ar - 0.5 * mwl"
_QSCORE_SQL = "0.5 + 0.5 * z / (1 + abs(z))"


def _quality_score_col(t):
    """Spark mirror of _QSCORE_*_SQL: linear head + rational sigmoid
    over the engineered features — correctly-rounded IEEE ops only, so
    both engines score bit-identically (see x_quality_linear_score)."""
    nw = T.word_count(t).cast("double")
    swr = T.stopword_ratio(t)
    ar = T.alpha_ratio(t)
    mwl = F.length(F.regexp_replace(t, " +", "")).cast("double") / T.word_count(t)
    z = (
        F.lit(-2.0)
        + F.lit(0.2) * F.sqrt(nw)
        + F.lit(4.0) * swr
        + F.lit(3.0) * ar
        - F.lit(0.5) * mwl
    )
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))


@query(
    "x_quality_linear_score",
    oracle=f"""
SELECT doc_id, round(score, 6) AS score,
       CAST(floor(score * 10) AS INTEGER) AS bucket,
       score >= 0.5 AS keep
FROM (
  SELECT doc_id, {_QSCORE_SQL} AS score
  FROM (
    SELECT doc_id, {_QSCORE_Z_SQL} AS z
    FROM (
      SELECT doc_id, {_QSCORE_FEATURES_SQL}
      FROM documents
    )
  )
)
""",
)
def x_quality_linear_score(spark, sf_dir):
    """Model-based quality scoring: a linear classifier head over the
    engineered text features (fastText-style — in production the
    weights come from a trained model; here they are fixed constants so
    the gate has a value oracle). Squashing uses the RATIONAL sigmoid
    z/(1+|z|), not exp: +,-,*,/,abs,sqrt are all correctly-rounded
    IEEE ops, so Spark and DuckDB produce bit-identical scores —
    exp/ln carry no such guarantee and could flip a 6dp rounding
    boundary (same exact-arithmetic discipline as functions/hashing).

    Plan shape: map-only (zero exchanges) — score, decile bucket and
    keep flag are per-row expressions; at 100 TB this scales with scan
    parallelism. Swapping in a real model is the same plan with the
    weight vector broadcast (J-1) or a pandas-UDF scorer (X-1)."""
    docs = load_table(spark, sf_dir, "documents")
    score = _quality_score_col(F.col("text"))
    return docs.select(
        "doc_id",
        hround(score, 6).alias("score"),
        F.floor(score * 10).cast("int").alias("bucket"),
        (score >= 0.5).alias("keep"),
    )


@query(
    "x_embedding_pca_audit",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(len(embedding)) AS INTEGER) AS dim,
       8 AS k,
       TRUE AS trace_conserved,
       TRUE AS ordering_ok,
       TRUE AS reconstruction_ok
FROM embeddings
""",
)
def x_embedding_pca_audit(spark, sf_dir):
    """Distributed PCA over the embedding column with invariant audit
    (the sketch-audit pattern applied to dimensionality reduction —
    dim 64 → 8 before ANN is the standard recall/cost lever): mean and
    covariance are map-side-combinable aggregates over d / d² keys
    (similarity.pca_components — never a row-pair join; driver pulls
    only the d×d model, a k-sized model pull), eigendecomposition
    runs on the driver, and projection is JVM-side zip_with/aggregate
    dot products. The audited invariants are mathematical identities a
    broken implementation cannot fake: Σ eigenvalues equals the
    INDEPENDENTLY-computed trace E‖x−μ‖² (1e-6 rel), eigenvalues are
    sorted descending, and mean residual energy after projecting onto
    the top-8 components equals trace − Σ top-8 λ (the Pythagoras
    identity — wrong centering, a transposed component matrix, or a
    dropped eigenvector breaks it). numpy-equality cross-check in
    tests/test_ann_recall.py. Oracle pins row count, dimension, and
    the three TRUEs."""
    from sparkga1_spark.operators.similarity import pca_components, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    mu, evals, comps = pca_components(emb, k=8)
    dim = len(mu)
    projected = pca_project(emb, mu, comps)
    mu_lit = F.array(*[F.lit(v) for v in mu])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), mu_lit, lambda x, m: x - m
    )
    norm2 = F.aggregate(centered, F.lit(0.0), lambda a, v: a + v * v)
    proj2 = F.aggregate(F.col("pca"), F.lit(0.0), lambda a, v: a + v * v)
    stats = projected.agg(
        F.count("*").alias("n"),
        F.avg(norm2).alias("trace_data"),
        F.avg(norm2 - proj2).alias("resid"),
    ).collect()[0]
    trace = float(stats["trace_data"])
    tol = 1e-6 * max(trace, 1e-12)
    row = (
        int(stats["n"]),
        dim,
        len(comps),
        abs(sum(evals) - trace) <= tol,
        all(evals[i] >= evals[i + 1] - tol for i in range(len(evals) - 1)),
        abs(float(stats["resid"]) - (trace - sum(evals[: len(comps)]))) <= tol,
    )
    return spark.createDataFrame(
        [row],
        "n_vectors long, dim int, k int, trace_conserved boolean, "
        "ordering_ok boolean, reconstruction_ok boolean",
    )


@query(
    "x_embedding_mahalanobis_audit",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(len(embedding)) AS INTEGER) AS dim,
       CAST(min(len(embedding)) AS INTEGER) AS n_retained,
       TRUE AS mean_identity_ok
FROM embeddings
""",
)
def x_embedding_mahalanobis_audit(spark, sf_dir):
    """Whitened outlier scoring for embedding curation — Mahalanobis
    m² under the corpus's own covariance (similarity.mahalanobis_
    scores: eigenbasis from the distributed PCA, per-vector score via
    JVM HOF dot products, rank-deficient components dropped by the
    pseudo-inverse rule). The audited identity is exact linear
    algebra no fake can satisfy: the MEAN of m² over the fitted data
    equals the retained component count (E[((x−μ)·v_j)²] = λ_j term
    by term), so a wrong eigenvalue, a transposed basis, or broken
    centering shifts the mean off its closed-form target. The oracle
    pins row count, dimension, full-rank retention (64/64), and the
    identity bound. Raw L2 outlier cuts mis-rank when dimensions have
    unequal variance; whitening is the scale-correct prune before
    training. numpy equality in tests/test_ann_recall.py."""
    from sparkga1_spark.operators.similarity import mahalanobis_scores

    emb = load_table(spark, sf_dir, "embeddings")
    scored, retained = mahalanobis_scores(emb)
    stats = scored.agg(
        F.count("*").alias("n"), F.avg("m2").alias("mean_m2")
    ).collect()[0]
    dim = len(emb.select("embedding").first()[0])
    ok = abs(float(stats["mean_m2"]) - retained) <= 1e-6 * retained
    return spark.createDataFrame(
        [(int(stats["n"]), dim, retained, ok)],
        "n_vectors long, dim int, n_retained int, mean_identity_ok boolean",
    )


@query(
    "x_semdedup_prune",
    oracle=f"""
WITH emb_aug AS ({fixtures.EMB_NEARDUP_SQL}),
bucketed AS ({_EMB_BUCKETED_SQL}),
pruned AS (
  SELECT DISTINCT r.vec_id AS vid
  FROM bucketed l JOIN bucketed r ON l.b = r.b AND l.vec_id < r.vec_id
  WHERE round({V.COSINE_SQL.format(a="l.embedding", b="r.embedding")}, 6) >= 0.8
)
SELECT e.vec_id, (p.vid IS NULL) AS kept
FROM emb_aug e LEFT JOIN pruned p ON e.vec_id = p.vid
""",
)
def x_semdedup_prune(spark, sf_dir):
    """Semantic dedup KEEP/PRUNE verdict (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540, in its greedy pairwise form): within each sign-LSH
    bucket, any vector with a cosine-≥0.8 neighbor of LOWER id is
    pruned; the lowest id of every near-dup group always survives.
    Extends x_embedding_neardup (pair DETECTION) to the per-item
    decision a pipeline actually applies. Runs on the planted-near-dup
    fixture for a non-vacuous gate.

    Plan shape: the bucketed self-join from lsh_bucketed_neighbors,
    project the higher-id side, distinct, then one anti-ish left join
    back on the 8-byte id. The prune set is a small fraction of the
    corpus at real thresholds, so the final join broadcasts."""
    emb = load_table(spark, sf_dir, "embeddings")
    aug = fixtures.embeddings_with_neardups(emb)
    pairs = S.lsh_bucketed_neighbors(aug, dim=64, n_planes=4, threshold=0.8)
    pruned = (
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_p", F.lit(True))
    )
    return (
        aug.select("vec_id")
        .join(F.broadcast(pruned), "vec_id", "left")
        .select("vec_id", F.col("_p").isNull().alias("kept"))
    )


@query(
    "x_dedup_keep_canonical",
    oracle=f"""
WITH RECURSIVE {LSH_PAIRS_WITH_SQL},
edges AS (
  SELECT id_a AS s, id_b AS d FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(id, comp) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.comp FROM reach JOIN edges e ON reach.id = e.s
),
labels AS (SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id)
SELECT component, doc_id AS canonical_doc, n_members,
       n_members - 1 AS n_pruned
FROM (
  SELECT l.component, d.doc_id,
         count(*) OVER (PARTITION BY l.component) AS n_members,
         row_number() OVER (PARTITION BY l.component
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM labels l JOIN documents d USING (doc_id)
)
WHERE rn = 1
""",
)
def x_dedup_keep_canonical(spark, sf_dir):
    """Canonical-document selection per duplicate cluster — the keep
    decision x_dedup_cc_clusters' docstring promises: within each
    connected component of the LSH candidate graph, keep the LONGEST
    member (ties to the smallest doc_id) and prune the rest. Completes
    the corpus dedup chain: pairs (x_dedup_minhash_lsh) → transitive
    groups (x_dedup_cc_clusters) → one survivor per group (here).

    Plan shape: CC labels join documents on doc_id — the label set is
    only the duplicate docs, a small fraction of any real corpus — then
    a per-component window picks the canonical member. The window
    partitions by component (group sizes are tiny by construction), so
    no skewed global sort exists. Same keep-best idiom as A-7
    (a_dedup_keep_best), which PLANS.md:555 measured against the
    min_by-struct alternative and kept."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cc = _dedup_cc_labels(spark, sf_dir)
    members = cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = members.select(
        "component",
        "doc_id",
        F.count("*").over(Window.partitionBy("component")).alias("n_members"),
        F.row_number().over(w).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("canonical_doc"),
        "n_members",
        (F.col("n_members") - 1).alias("n_pruned"),
    )


@query(
    "x_curation_pipeline_v2",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, text, str_split_regex(trim(text), ' +') AS W
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct([CAST(('0x' || substr(md5(array_to_string(W[i:i+7], ' ')), 1, 15)) AS BIGINT)
                        for i in generate_series(1, greatest(len(W)-7, 0))]) AS gh
  FROM w
),
e AS (SELECT doc_id, unnest(gh) AS h FROM g WHERE len(gh) > 0),
c AS (SELECT h, count(*) AS nd FROM e GROUP BY h),
dupm AS (
  SELECT e.doc_id,
         CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS dup_frac
  FROM e JOIN c USING (h)
  GROUP BY e.doc_id
),
s AS (
  SELECT w.doc_id, w.source,
         CAST(len(W) AS BIGINT) AS n_tok,
         coalesce(d.dup_frac, 0.0) AS dup_frac,
         {_QSCORE_SQL.replace('z', f'({_QSCORE_Z_SQL})')} AS score,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS pri
  FROM (SELECT doc_id, source, text, W, {_QSCORE_FEATURES_SQL} FROM w) w
  LEFT JOIN dupm d USING (doc_id)
),
cum AS (
  SELECT *, (dup_frac < 0.5 AND score >= 0.5) AS keep,
         sum(CASE WHEN dup_frac < 0.5 AND score >= 0.5 THEN n_tok ELSE 0 END)
           OVER (PARTITION BY source ORDER BY pri, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dup_frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_span_cut,
       CAST(sum(CASE WHEN dup_frac < 0.5 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_cut,
       CAST(sum(CASE WHEN keep AND cum <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep AND cum <= 2000 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
FROM cum
GROUP BY source
""",
)
def x_curation_pipeline_v2(spark, sf_dir):
    """The round-5 DECISION LAYER composed as ONE lazy plan — span-dup
    cut (dup_frac ≥ 0.5 of 8-grams shared cross-doc) → linear quality
    score cut (score < 0.5) → per-source 2000-token budget — with a
    per-source funnel audit (total → span-cut → quality-cut → kept +
    tokens kept). Complements x_curation_pipeline (exact dedup +
    repetition + PII) with the round-5 operators, proving THEY compose
    without breaking plan shape.

    The budget stage needs no survivors-only pre-filter: cut docs
    contribute ZERO to the running sum (`CASE WHEN keep THEN n_tok
    ELSE 0`), so one `grouped_cumsum` over the full corpus — the
    range-partitioned two-pass form, no per-source window funnel —
    yields the same prefix the filtered form would, and every doc
    still reaches the audit aggregate. Docs too short for 8-grams
    carry dup_frac 0 (left join + coalesce) on both engines."""
    from sparkga1_spark.functions.hashing import stable_hash64
    from sparkga1_spark.operators.windows import grouped_cumsum

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rows = T.shingle_hash_rows(docs, n=8)
    dupm = (
        rows.withColumn("nd", F.count("*").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("dup_frac")
        )
    )
    t = F.col("text")
    s = (
        docs.select(
            "doc_id",
            "source",
            F.size(T.words(t)).cast("long").alias("n_tok"),
            _quality_score_col(t).alias("score"),
            stable_hash64(t).alias("pri"),
        )
        .join(dupm, "doc_id", "left")
        .withColumn("dup_frac", F.coalesce(F.col("dup_frac"), F.lit(0.0)))
    )
    keep = (F.col("dup_frac") < 0.5) & (F.col("score") >= 0.5)
    s = s.withColumn("keep", keep).withColumn(
        "contrib", F.when(keep, F.col("n_tok")).otherwise(F.lit(0)).cast("long")
    )
    c = grouped_cumsum(
        s,
        group_cols=["source"],
        order_cols=["pri", "doc_id"],
        value_col="contrib",
        out_col="cum",
        # r13 (guide §1.2): s embeds the dupm shingle window — without
        # the input persist, the range-boundary sample job re-evaluated
        # that whole subtree (profiled: the Generate(235k)+window chain
        # appeared twice per execution)
        persist_input=True,
    )
    final = F.col("keep") & (F.col("cum") <= 2000)
    return c.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("dup_frac") >= 0.5).cast("long")).alias("n_span_cut"),
        F.sum(((F.col("dup_frac") < 0.5) & (F.col("score") < 0.5)).cast("long")).alias(
            "n_quality_cut"
        ),
        F.sum(final.cast("long")).alias("n_kept"),
        F.sum(F.when(final, F.col("n_tok")).otherwise(0)).cast("long").alias(
            "tokens_kept"
        ),
    )


# --------------------------------------------------------------------------
# Round-5 second wave: exact set-similarity JOIN (prefix filtering —
# the LSH-free candidate generator), BM25 retrieval scoring, per-group
# OLS trend fitting, and robust (median/MAD) outlier detection via
# distributed rank selection.
# --------------------------------------------------------------------------


@query(
    "x_set_similarity_join",
    oracle=f"""
WITH doc_shingles AS ({DOC_SHINGLES_SQL}),
e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM doc_shingles),
i AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared,
         any_value(l.sz) AS sz_a, any_value(r.sz) AS sz_b
  FROM e l JOIN e r ON l.h = r.h AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared), 6) AS jaccard
FROM i WHERE 5 * n_shared >= 3 * (sz_a + sz_b - n_shared)
""",
)
def x_set_similarity_join(spark, sf_dir):
    """Exact set-similarity join at Jaccard >= 3/5 over word-3-gram
    shingle sets — prefix filtering (Bayardo et al. 2007 AllPairs /
    PPJoin family), the LSH-FREE scale path for high-threshold
    near-dup joins: order each set rarest-element-first under one
    global (df, hash) order and join only prefix elements; the prefix
    lemma guarantees zero false negatives, and survivors are verified
    with the true intersection count. Membership is decided by pure
    integer arithmetic (5*inter >= 3*union) so the J == 0.6 boundary
    cannot float-flip between engines.

    Contrast x_dedup_ngram_jaccard (tau=0.2): that self-joins on EVERY
    shared shingle — Sum_h df(h)^2 cost, the right tool on LSH-refined
    candidates — while this plan prunes common shingles BEFORE the
    join, making the direct join feasible corpus-wide at high tau. The
    ORACLE is the brute-force form, so the gate proves the pruned join
    loses nothing. All joins key on the 8-byte shingle hash or doc id
    (operators/dedup.py prefix_filter_jaccard_pairs; plan-guarded)."""
    rows = _doc_shingle_rows(spark, sf_dir)
    return D.prefix_filter_jaccard_pairs(
        rows, id_col="doc_id", threshold_num=3, threshold_den=5
    )


@query(
    "x_set_similarity_routed",
    oracle=f"""
WITH {LSH_PAIRS_WITH_SQL},
e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h
      FROM doc_shingles),
i AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared,
         any_value(l.sz) AS sz_a, any_value(r.sz) AS sz_b
  FROM e l JOIN e r ON l.h = r.h AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT i.id_a, i.id_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / (sz_a + sz_b - n_shared), 6) AS jaccard
FROM i JOIN lsh_pairs p ON i.id_a = p.id_a AND i.id_b = p.id_b
WHERE 5 * n_shared >= 2 * (sz_a + sz_b - n_shared)
""",
)
def x_set_similarity_routed(spark, sf_dir):
    """ROUTED set-similarity join at Jaccard >= 2/5 — the decision
    rule r5's VERDICT asked to make explicit (operators/dedup.py
    set_similarity_pairs): tau >= 1/2 runs the exact prefix-filtered
    AllPairs join (x_set_similarity_join's path — verification cost
    falls as tau rises because prefixes shorten); below 1/2 the
    prefix prune stops paying (the prefix is nearly the whole set and
    candidate volume tracks the full Sum df^2), so the plan routes to
    MinHash-LSH candidates + the SAME exact integer verification. At
    tau=2/5 this auto-routes to lsh_refine. The ORACLE composes the
    shared LSH-pair SQL with the brute-force intersection form, so
    the gate pins the route's exact semantics: no false positives
    ever (verification is exact), candidate set = the banding join —
    recall vs the full brute-force join is the published curve
    1-(1-s^2)^4 and is measured per-threshold by
    tests/test_properties.py test_set_similarity_routes_agree (both
    routes must agree wherever LSH recall is 1 on the fixture).
    Integer keep predicate 5*inter >= 2*union — no float boundary."""
    rows = _doc_shingle_rows(spark, sf_dir)
    return D.set_similarity_pairs(
        rows, id_col="doc_id", threshold_num=2, threshold_den=5
    )


@query(
    "x_bm25_topk",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split_regex(trim(text), ' +'),
                                    x -> x <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'stream') GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(floor(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                    * 1000000000 + 0.5) AS BIGINT) AS idf_nano
  FROM dft, stats
),
contrib AS (
  SELECT tf.doc_id,
         CAST(floor((CAST(idf_nano AS DOUBLE) / 1000000000)
                    * ((CAST(tf AS DOUBLE) * 2.2)
                       / (CAST(tf AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                                   / (CAST(sum_dl AS DOUBLE)
                                      / CAST(n_docs AS DOUBLE))))))
                    * 1000000000 + 0.5) AS BIGINT) AS c
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       round(CAST(sum(c) AS DOUBLE) / 1000000000, 6) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id
LIMIT 10
""",
)
def x_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval (Robertson-Sparck Jones probabilistic
    weighting with the Lucene-style non-negative idf ln(1+(N-df+.5)/
    (df+.5)); k1=1.2, b=0.75) for a fixed 3-term query — the scoring
    layer over the inverted-index/TF-IDF stack (x_inverted_index,
    x_tfidf_top_terms). Determinism discipline: ln is the one
    non-correctly-rounded op, so each term's idf is snapped to integer
    nano-units ONCE (vocab-sized work); the per-(doc,term)
    contribution — built from correctly-rounded +,*,/ only, identical
    expression tree both engines — is snapped to nano-units BEFORE the
    per-doc sum, making the accumulation exact integer addition
    (x_unigram_logprob's lesson); top-10 orders by the integer score
    with doc_id tiebreak.

    Plan: doc lengths and corpus stats are one aggregate + broadcast
    1-row attach; tf touches only query terms (predicate-pruned before
    the shuffle); df/idf are query-sized broadcasts; final cut is
    TakeOrderedAndProject. At 100 TB: everything keys on doc_id except
    two tiny broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "vector", "stream"]
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), " +"), lambda x: x != "")
        ).alias("term"),
    )
    # doc-length table reused (corpus stats input + contribution join):
    # persist so the scalar subquery and the final plan share one token scan, then
    # materialize the 1-row corpus stats ONCE (the two former
    # crossJoin(broadcast(stats)) attaches each replicated the full
    # token-scan subtree — 2 BNLs in the r7 plan audit)
    dl = tracked_persist(tok.groupBy("doc_id").agg(F.count("*").alias("dl")))
    stats = scalar_subq(
        dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
    )
    tf = (
        tok.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dft.withColumns(stats).select(
        "term",
        F.floor(
            F.log(
                F.lit(1)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * 1_000_000_000
            + 0.5
        )
        .cast("long")
        .alias("idf_nano"),
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tfd = F.col("tf").cast("double")
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .withColumns(stats)
        .select(
            "doc_id",
            F.floor(
                (F.col("idf_nano").cast("double") / 1_000_000_000)
                * (
                    (tfd * 2.2)
                    / (
                        tfd
                        + 1.2
                        * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl))
                    )
                )
                * 1_000_000_000
                + 0.5
            )
            .cast("long")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("c").alias("snano"),
    )
    return (
        scored.orderBy(F.col("snano").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "n_terms",
            hround(F.col("snano").cast("double") / 1_000_000_000, 6).alias(
                "score"
            ),
        )
    )


@query(
    "x_group_ols_trend",
    oracle="""
SELECT n_name, CAST(n AS BIGINT) AS n_orders,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 2)
           AS intercept
FROM (
  SELECT n_name,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(d * o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(d * d AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM (
    SELECT n_name, o_totalprice,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS d
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
  )
  GROUP BY n_name
)
""",
)
def x_group_ols_trend(spark, sf_dir):
    """Per-nation revenue trend: closed-form OLS of order totalprice
    against epoch-day — x_corr_exact's exact-DECIMAL-moment technique
    extended to regression. The four moments (Sx, Sy, Sxy, Sxx)
    accumulate in DECIMAL (commutative — partition order cannot
    perturb them); slope and intercept are then single double
    evaluations of the normal equations, identical expression tree on
    both engines. Spark's own ml.regression needs an iterative job;
    the closed 1-D form is one partial+final aggregate.

    Plan: orders -> broadcast customer? No — customer joins on
    c_custkey at order volume (co-partitioned hash join at scale, AQE
    broadcast at test SF), nation is a true broadcast dim; then ONE
    hash aggregate to 25 groups of 5 numbers each."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
        )
        .select(
            "n_name",
            "o_totalprice",
            F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias(
                "d"
            ),
        )
    )

    def m(c):
        return F.sum(c.cast("decimal(28,6)")).cast("double")

    x, y = F.col("d"), F.col("o_totalprice")
    agg = base.groupBy("n_name").agg(
        F.count("*").cast("double").alias("n"),
        m(x).alias("sx"),
        m(y).alias("sy"),
        m(x * y).alias("sxy"),
        m(x * x).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "n_name",
        F.col("n").cast("long").alias("n_orders"),
        hround(slope, 6).alias("slope"),
        hround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 2).alias(
            "intercept"
        ),
    )


@query(
    "x_mad_outliers",
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS grp, o_orderkey AS id,
         CAST(o_totalprice AS DECIMAL(28,6)) AS x
  FROM orders
),
cnt AS (SELECT grp, count(*) AS n FROM v GROUP BY grp),
r AS (
  SELECT grp, id, x,
         row_number() OVER (PARTITION BY grp ORDER BY x, id) AS rk
  FROM v
),
med2 AS (
  SELECT r.grp, min(x) + max(x) AS m2
  FROM r JOIN cnt USING (grp)
  WHERE rk IN ((n + 1) // 2, (n + 2) // 2)
  GROUP BY r.grp
),
dev AS (
  SELECT v.grp, v.id, abs(2 * x - m2) AS d2
  FROM v JOIN med2 USING (grp)
),
r2 AS (
  SELECT grp, id, d2,
         row_number() OVER (PARTITION BY grp ORDER BY d2, id) AS rk
  FROM dev
),
mad4 AS (
  SELECT r2.grp, min(d2) + max(d2) AS m4
  FROM r2 JOIN cnt USING (grp)
  WHERE rk IN ((n + 1) // 2, (n + 2) // 2)
  GROUP BY r2.grp
)
SELECT dev.grp AS o_orderpriority,
       CAST(any_value(cnt.n) AS BIGINT) AS n_orders,
       round(CAST(any_value(m2) AS DOUBLE) / 2, 4) AS median_price,
       round(CAST(any_value(m4) AS DOUBLE) / 4, 4) AS mad,
       CAST(sum(CASE WHEN 2 * d2 > 3 * m4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM dev JOIN mad4 USING (grp) JOIN cnt USING (grp) JOIN med2 USING (grp)
GROUP BY dev.grp
""",
)
def x_mad_outliers(spark, sf_dir):
    """Robust per-group outlier detection: median and MAD (median
    absolute deviation) by EXACT distributed rank selection, flagging
    orders with |x - median| > 3*MAD. Medians come from grouped_cumsum
    ranks (the O-3 machinery: range-partitioned two-pass rank — groups
    are few and huge, so a per-group window would funnel each group
    through one task) + broadcast group counts; the two middle ranks'
    min+max SUM stands in for the median so the whole derivation is
    exact DECIMAL arithmetic with NO division — median = m2/2 and
    MAD = m4/4 exist only in the display columns (m4 = min+max of the
    middle-ranked |2x - m2| values = 4*MAD), and the outlier
    predicate is the integer-scaled 2*|2x - m2| > 3*m4 (identical
    decimal comparison both engines; a float boundary cannot flip a
    row). Two rank passes + one broadcast-attach counting pass; at
    100 TB each pass is one range exchange."""
    from sparkga1_spark.operators.windows import grouped_cumsum

    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("x"),
    )
    v = tracked_persist(v)
    cnt = v.groupBy("grp").agg(F.count("*").alias("n"))

    def _middle_sum(df, val_col, out_col):
        """min+max of the two middle-ranked rows per grp (== 2*median,
        exact decimal; one row when the count is odd)."""
        rk = grouped_cumsum(
            df,
            group_cols=["grp"],
            order_cols=[val_col, "id"],
            value_col=F.lit(1),
            out_col="rk",
        )
        mid = rk.join(F.broadcast(cnt), "grp").filter(
            (F.col("rk") == F.expr("(n + 1) DIV 2"))
            | (F.col("rk") == F.expr("(n + 2) DIV 2"))
        )
        return mid.groupBy("grp").agg(
            (F.min(val_col) + F.max(val_col)).alias(out_col)
        )

    med2 = _middle_sum(v, "x", "m2")
    dev = v.join(F.broadcast(med2), "grp").select(
        "grp", "id", F.abs(F.lit(2) * F.col("x") - F.col("m2")).alias("d2")
    )
    dev = tracked_persist(dev)
    mad4 = _middle_sum(dev, "d2", "m4")
    return (
        dev.join(F.broadcast(mad4), "grp")
        .join(F.broadcast(cnt), "grp")
        .join(F.broadcast(med2), "grp")
        .groupBy(F.col("grp").alias("o_orderpriority"))
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n_orders"),
            hround(F.any_value(F.col("m2")).cast("double") / 2, 4).alias(
                "median_price"
            ),
            hround(F.any_value(F.col("m4")).cast("double") / 4, 4).alias("mad"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("d2") > F.lit(3) * F.col("m4"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Round-5 wave 3: product-analytics / warehouse-hygiene layer — event
# transition matrix, rollup reaggregation chain, referential-integrity
# audit, market-basket association rules, graph triangles, rolling
# z-score anomalies, sketch-accuracy for MinHash, Bloom-filter FPR,
# Pareto frontier.
# --------------------------------------------------------------------------


@query(
    "x_event_transitions",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
t AS (
  SELECT prev AS from_type, event_type AS to_type, count(*) AS n
  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
),
r AS (SELECT from_type, sum(n) AS tot FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n_transitions,
       round(CAST(t.n AS DOUBLE) / r.tot, 6) AS p_next
FROM t JOIN r USING (from_type)
""",
)
def x_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event stream —
    P(next event type | current) per user journey, the
    clickstream-analysis primitive behind next-action prediction and
    funnel discovery. One shuffle keyed by user_id (high-cardinality),
    a lag window over the same unique (ts, event_id) order
    x_funnel_conversion uses, then a (from, to) count aggregate whose
    result is at most |event_types|² rows — the per-from totals attach
    via a broadcast join of that tiny table, never a second pass over
    the stream. p_next is one integer division (correctly rounded IEEE
    on both engines). At 100 TB the event stream shuffles once;
    everything after the lag is bounded by the type-vocabulary size."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    s = ev.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    t = (
        s.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    r = t.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        t.join(F.broadcast(r), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n_transitions"),
            hround(F.col("n") / F.col("tot"), 6).alias("p_next"),
        )
    )


@query(
    "x_rollup_chain_daily",
    oracle="""
WITH direct AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         count(*) AS n,
         CAST(floor(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                    + CAST('0.5' AS DECIMAL(2,1))) AS BIGINT) AS sv_micro
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
       round(CAST(sv_micro AS DOUBLE) / 1000000, 2) AS sum_value,
       round(CAST(sv_micro AS DOUBLE) / 1000000 / n, 6) AS avg_value
FROM direct
""",
)
def x_rollup_chain_daily(spark, sf_dir):
    """Multi-granularity rollup chain (the hypertable continuous-
    aggregate pattern): the DAILY aggregate is computed FROM the HOURLY
    aggregate — sum-of-counts and sum-of-decimal-sums, never a second
    scan of the raw stream — while the oracle computes daily DIRECTLY
    from raw events. Equality proves the reaggregation identity the
    incremental-rollup architecture rests on: count and DECIMAL sum are
    decomposable, and avg is recovered at read time as sum/count
    (never stored). Exact-integer discipline: the per-day value sum is
    snapped to micro-units while still an exact decimal, so the chain's
    different addition order cannot flip a bit; the two doubles are
    then single correctly-rounded conversions on both engines. At
    100 TB the raw stream aggregates once into hours (~26k rows/type/
    3 years); every coarser granularity reads the tier below."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hr"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    daily = hourly.groupBy(
        "event_type", (F.col("hr") / 24).cast("long").alias("day")
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    sv_micro = F.floor(
        F.col("sv") * F.lit(1_000_000) + F.lit("0.5").cast("decimal(2,1)")
    ).cast("long")
    return daily.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n_events"),
        hround(sv_micro.cast("double") / F.lit(1_000_000.0), 2).alias("sum_value"),
        hround(
            sv_micro.cast("double") / F.lit(1_000_000.0) / F.col("n"), 6
        ).alias("avg_value"),
    )


@query(
    "x_fk_orphan_audit",
    oracle="""
WITH orders_aug AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 997 = 0 THEN -o_orderkey
              ELSE o_custkey END AS o_custkey
  FROM orders
),
lineitem_aug AS (
  SELECT CASE WHEN (l_orderkey * 7 + l_linenumber) % 991 = 0
              THEN -l_orderkey ELSE l_orderkey END AS l_orderkey,
         CASE WHEN (l_partkey + l_linenumber) % 983 = 0
              THEN -l_partkey ELSE l_partkey END AS l_partkey
  FROM lineitem
),
a1 AS (
  SELECT 'orders.o_custkey -> customer' AS relationship,
         count(*) AS n_rows,
         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM orders_aug o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
a2 AS (
  SELECT 'lineitem.l_orderkey -> orders' AS relationship,
         count(*) AS n_rows,
         sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM lineitem_aug l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
a3 AS (
  SELECT 'lineitem.l_partkey -> part' AS relationship,
         count(*) AS n_rows,
         sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
  FROM lineitem_aug l LEFT JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT relationship, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       round(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_rate
FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
""",
)
def x_fk_orphan_audit(spark, sf_dir):
    """Referential-integrity audit — orphaned-foreign-key counts for
    three parent/child relationships in one result, the warehouse
    data-quality check every ingest pipeline runs before publishing.
    Orphans are PLANTED deterministically (child keys negated on a
    modulus predicate — negative keys cannot exist upstream) so the
    gate is non-vacuous on clean testdata; the same mutation is
    mirrored in the oracle. Each relationship is one LEFT join from the
    child to the parent's unique key with a null-parent count — at
    100 TB the orders/part sides broadcast or AQE-shuffle on the key,
    the lineitem→orders join is the one genuine large-large and rides
    the same key both tables are naturally clustered by. Output is
    three one-row aggregates unioned; orphan_rate is a single integer
    division."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    orders_aug = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 997 == 0, -F.col("o_orderkey"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    li_aug = li.select(
        F.when(
            (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 991 == 0,
            -F.col("l_orderkey"),
        )
        .otherwise(F.col("l_orderkey"))
        .alias("l_orderkey"),
        F.when(
            (F.col("l_partkey") + F.col("l_linenumber")) % 983 == 0,
            -F.col("l_partkey"),
        )
        .otherwise(F.col("l_partkey"))
        .alias("l_partkey"),
    )

    def audit(child, fk, parent, pk, label):
        joined = child.join(parent.select(pk), child[fk] == F.col(pk), "left")
        return joined.agg(
            F.lit(label).alias("relationship"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )

    out = (
        audit(orders_aug, "o_custkey", cust, "c_custkey",
              "orders.o_custkey -> customer")
        .unionAll(audit(li_aug, "l_orderkey", orders, "o_orderkey",
                        "lineitem.l_orderkey -> orders"))
        .unionAll(audit(li_aug, "l_partkey", part, "p_partkey",
                        "lineitem.l_partkey -> part"))
    )
    return out.select(
        "relationship",
        "n_rows",
        "n_orphans",
        hround(F.col("n_orphans") / F.col("n_rows"), 6).alias("orphan_rate"),
    )


@query(
    "x_assoc_rules_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey % 100 AS item
  FROM lineitem
),
nb AS (SELECT count(DISTINCT basket) AS nb FROM items),
ic AS (SELECT item, count(*) AS ni FROM items GROUP BY 1),
pc AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
  FROM items a JOIN items b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
),
scored AS (
  SELECT item_a, item_b, n_ab, ia.ni AS n_a, ib.ni AS n_b,
         CAST(floor(1000000000.0 * (nb.nb * n_ab)
                    / (ia.ni * ib.ni) + 0.5) AS BIGINT) AS lift_nano
  FROM pc JOIN ic ia ON pc.item_a = ia.item
          JOIN ic ib ON pc.item_b = ib.item, nb
  WHERE n_ab >= 10
)
SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(CAST(n_ab AS DOUBLE) / n_a, 6) AS confidence,
       round(CAST(lift_nano AS DOUBLE) / 1000000000, 6) AS lift
FROM scored
ORDER BY lift_nano DESC, item_a, item_b
LIMIT 20
""",
)
def x_assoc_rules_lift(spark, sf_dir):
    """Market-basket association rules — top-20 item pairs by lift
    (Agrawal & Srikant's support/confidence/lift triple), the
    co-occurrence mining behind recommenders and cross-sell analytics.
    Baskets are orders; items are part categories (partkey % 100) so
    supports are non-trivial at small SF. Plan: distinct (basket, item)
    rows once, pair generation is the per-basket self-join — fan-out
    bounded by basket size squared (≤ ~7² here), never a corpus cross
    join — then pair counts join the 100-row item-count table twice
    (broadcast) and the 1-row basket total. The ranking key is
    lift SNAPPED TO NANO-UNITS while still one correctly-rounded
    division of exact integers, so the top-20 cut is an integer sort —
    float-order ties cannot flip membership (the bigram-PMI lesson).
    At 100 TB: the basket self-join shuffles on basket id
    (high-cardinality, no skew); everything downstream is
    vocabulary-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13 optimization (guide §2.4 share one exchange): an explicit
    # basket-hash repartition BEFORE the distinct lets one exchange
    # serve three operators — HashPartitioning(basket) satisfies the
    # distinct's ClusteredDistribution(basket, item) AND both sides of
    # the per-basket pair self-join, so the plain-distinct form's three
    # sequential shuffles (distinct on (basket,item), then re-shuffle
    # of each join side onto basket) collapse into one. Partition count
    # is the shuffle-partitions conf (scale-adaptive, not a local
    # constant). Measured 2.7 s → 2.2 s at sf0.1, rows identical.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    items = (
        li.select(
            F.col("l_orderkey").alias("basket"),
            (F.col("l_partkey") % 100).alias("item"),
        )
        .repartition(n_parts, "basket")
        .distinct()
    )
    items = tracked_persist(items)
    nb = items.select(F.countDistinct("basket").alias("nb"))
    ic = items.groupBy("item").agg(F.count("*").alias("ni"))
    # r13 optimization (guide §3.1 pick the strategy deliberately):
    # under the 64 MB auto-broadcast threshold Spark BROADCASTS one
    # whole side of this self-join — profiled at sf0.1: a 588k-row
    # BroadcastExchange with 0.5-0.7 s 'time to collect' per run,
    # defeating the shared basket exchange above. Both sides already
    # carry HashPartitioning(basket), so a shuffled-hash join adds
    # ZERO exchanges and builds only per-partition corpus/n_parts
    # hash tables — which is also the only strategy that survives at
    # 100 TB, where `items` is corpus-sized and could never broadcast.
    # Measured 2.27/1.93 → 1.88/1.82 s (interleaved rounds), rows
    # identical.
    a, b = items.alias("a"), items.alias("b").hint("shuffle_hash")
    pc = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    ia = ic.select(F.col("item").alias("item_a"), F.col("ni").alias("n_a"))
    ib = ic.select(F.col("item").alias("item_b"), F.col("ni").alias("n_b"))
    scored = (
        pc.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .withColumns(scalar_subq(nb))
        .withColumn(
            "lift_nano",
            F.floor(
                F.lit(1_000_000_000.0)
                * (F.col("nb") * F.col("n_ab"))
                / (F.col("n_a") * F.col("n_b"))
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return (
        scored.orderBy(
            F.col("lift_nano").desc(), F.col("item_a"), F.col("item_b")
        )
        .limit(20)
        .select(
            "item_a",
            "item_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            hround(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            hround(F.col("lift_nano") / F.lit(1_000_000_000.0), 6).alias("lift"),
        )
    )


@query(
    "x_graph_triangles",
    oracle=f"""
WITH {_HOST_UNDIRECTED_SQL},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
             JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
),
tn AS (
  SELECT v, count(*) AS n_tri FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
),
deg AS (
  SELECT v, count(*) AS degree FROM (
    SELECT a AS v, b AS nb FROM e0 UNION SELECT b, a FROM e0
  ) GROUP BY 1
)
SELECT d.v AS node, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.n_tri, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN tn t ON d.v = t.v
""",
)
def x_graph_triangles(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient over the
    SF-SCALED host graph (same edge derivation as x_host_pagerank —
    _host_graph_edges, m = count div 10 nodes — undirected) — the
    community-density signal graph analytics stacks compute alongside
    PageRank. The clique overlay on nodes 0..24 guarantees dense-core
    triangle structure at every SF; the hashed bulk keeps average
    degree ~20 so wedge volume grows linearly with the data (the
    scale smoke's non-vacuous axis). The ENGINE runs the
    scalable algorithm: degree-ordered orientation (each undirected
    edge directed from its lower (degree, id) endpoint), wedges are
    per-source out-neighbor pairs, closed by an equi-join against the
    oriented edge set — fan-out is bounded by out-degree under
    orientation (≤ O(sqrt(m)) on any graph, the arboricity bound), so
    the wedge set never explodes on skewed hubs the way the naive
    a<b<c triple join does. The ORACLE brute-forces the a<b<c triple
    join — two independent constructions agreeing on every count.
    Clustering = 2T/(d(d-1)), one correctly-rounded expression.
    Operator: operators/graph.py triangle_stats (property-tested vs
    brute force on random graphs)."""
    from sparkga1_spark.operators import graph as G

    eall = _host_graph_edges(spark, sf_dir, weighted=False)
    edges = G.undirected_edges(eall, F.col("src"), F.col("dst"))
    return G.triangle_stats(edges)


@query(
    "x_rolling_zscore_anomaly",
    oracle="""
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT)
           + CASE WHEN event_id % 4999 = 0
                  THEN 1000000000000 ELSE 0 END AS vmic
  FROM events
),
daily AS (
  SELECT event_type, day, sum(vmic) // 10000 AS x
  FROM ev GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, x,
         count(*) OVER win AS n,
         coalesce(sum(x) OVER win, 0) AS s,
         coalesce(sum(x * x) OVER win, 0) AS q
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day,
       round(CAST(x AS DOUBLE) / 100, 2) AS daily_value,
       CAST(n AS BIGINT) AS n_window,
       round(CASE WHEN n * q - s * s > 0
                  THEN CAST((n * x - s) * (n * x - s) AS DOUBLE)
                       / (n * q - s * s)
                  ELSE 0.0 END, 6) AS z_sq,
       (n = 7 AND n * q - s * s > 0
        AND (n * x - s) * (n * x - s) > 9 * (n * q - s * s)) AS is_anomaly
FROM w
""",
)
def x_rolling_zscore_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection — flag days whose per-type
    total deviates > 3σ from its own trailing-7-day window, the
    metric-monitoring primitive on every ops dashboard. Anomalies are
    PLANTED (a deterministic event_id modulus adds a 1e6-unit spike)
    so both flag classes are non-vacuous. The baseline window EXCLUDES
    the current row (7 PRECEDING .. 1 PRECEDING): with the current row
    inside its own baseline, a single outlier's z² is algebraically
    capped at n−1 < 9 and a 3σ rule can never fire. Exact-integer
    discipline end-to-end: per-event values snap to micro-units BEFORE
    the daily sum (order-independent), daily totals downshift to
    centi-units so every windowed moment (n, Σx, Σx²) and the 3σ test
    (nx−s)² > 9(nΣx²−s²) stay in exact BIGINT range — the z² output
    is the only float, one correctly-rounded division. BIGINT
    envelope: with the planted 1e6-unit spikes, Σx² crosses 2^63 at
    roughly 300× sf0.1 daily volume (measured headroom at the 100×
    smoke: Σx² ≈ 1.2e19/64th of the limit); past that, widen the
    moment accumulators to DECIMAL(38,0) — kept BIGINT here because
    bigint→double conversion is correctly rounded on both engines
    while wide-decimal→double parity is not guaranteed. The rolling
    window runs over the DAILY table (days × types rows — the raw
    stream aggregates first), so the per-type window never funnels
    raw events through one task at 100 TB."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    vmic = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast(
        "long"
    ) + F.when(F.col("event_id") % 4999 == 0, F.lit(1_000_000_000_000)).otherwise(
        F.lit(0)
    )
    daily = (
        ev.select(
            "event_type",
            F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("day"),
            vmic.alias("vmic"),
        )
        .groupBy("event_type", "day")
        # integer floor-division — (sum/10000.0).cast(long) diverges
        # from the oracle's `//` once sums pass ~2^55 micro-units
        .agg(F.expr("sum(vmic) div 10000").alias("x"))
    )
    win = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    w = daily.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(win).alias("n"),
        F.coalesce(F.sum("x").over(win), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("x") * F.col("x")).over(win), F.lit(0)).alias("q"),
    )
    num = (F.col("n") * F.col("x") - F.col("s")) * (
        F.col("n") * F.col("x") - F.col("s")
    )
    den = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return w.select(
        "event_type",
        "day",
        hround(F.col("x") / F.lit(100.0), 2).alias("daily_value"),
        F.col("n").cast("long").alias("n_window"),
        hround(
            F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
        ).alias("z_sq"),
        ((F.col("n") == 7) & (den > 0) & (num > 9 * den)).alias("is_anomaly"),
    )


@query(
    "x_pareto_frontier",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_brand, p_size,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
)
SELECT p_brand, p_partkey,
       round(CAST(cents AS DOUBLE) / 100, 2) AS price, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_brand = a.p_brand
    AND b.cents <= a.cents AND b.p_size >= a.p_size
    AND (b.cents < a.cents OR b.p_size > a.p_size)
)
""",
)
def x_pareto_frontier(spark, sf_dir):
    """Per-brand Pareto frontier (skyline): parts not dominated on
    (price ↓, size ↑) — the multi-criteria shortlist operator of
    procurement/recommendation analytics. The ENGINE runs the
    sorted-scan skyline: prices snap to exact cents, a per-(brand,
    price) MAX-size pre-aggregate shrinks the stream to distinct price
    points FIRST (one combiner-friendly exchange), then one range
    window over that tiny table computes the running best size over
    strictly-cheaper points; parts join back and survive iff they hold
    the max at their price AND beat every cheaper point. The ORACLE is
    the O(n²) NOT EXISTS dominance definition — two independent
    constructions. Dominance uses only exact integers (cents, size).
    At 100 TB the window input is distinct-price-sized, not
    corpus-sized; the join back rides the same (brand, price) key.
    Operator: operators/windows.py pareto_frontier (property-tested vs
    the brute-force dominance definition on random points)."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sky = windows_ops.pareto_frontier(
        p, group_cols=["p_brand"], minimize_col="cents", maximize_col="p_size"
    )
    return sky.select(
        "p_brand",
        "p_partkey",
        hround(F.col("cents") / F.lit(100.0), 2).alias("price"),
        "p_size",
    )


@query(
    "x_minhash_accuracy_audit",
    oracle=f"""
WITH {LSH_PAIRS_WITH_SQL},
est AS (
  SELECT p.id_a, p.id_b,
         ({' + '.join(f'(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)' for i in range(8))}) AS n_eq
  FROM lsh_pairs p
  JOIN signatures sa ON p.id_a = sa.doc_id
  JOIN signatures sb ON p.id_b = sb.doc_id
),
exploded AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM doc_shingles),
exact AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         round(CAST(count(*) AS DOUBLE)
               / (any_value(l.sz) + any_value(r.sz) - count(*)), 6) AS exact_jaccard
  FROM exploded l JOIN exploded r ON l.h = r.h AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT e.id_a, e.id_b,
       round(CAST(n_eq AS DOUBLE) / 8, 6) AS est_jaccard,
       coalesce(x.exact_jaccard, 0.0) AS exact_jaccard,
       round(abs(CAST(n_eq AS DOUBLE) / 8 - coalesce(x.exact_jaccard, 0.0)), 6)
         AS abs_err
FROM est e LEFT JOIN exact x ON e.id_a = x.id_a AND e.id_b = x.id_b
""",
)
def x_minhash_accuracy_audit(spark, sf_dir):
    """Sketch-accuracy audit for MinHash (the a_sketch_accuracy_audit
    pattern applied to the dedup path): for every LSH candidate pair,
    the signature-ESTIMATED Jaccard (matching minhash fraction, the
    unbiased estimator) sits next to the EXACT shingle Jaccard and
    their absolute error — the measurement that justifies trusting
    8-perm signatures as the corpus-scale similarity proxy. Estimate
    and exact similarity are two independent constructions LEFT-joined
    on the pair with exact coalesced to 0: under the seeded-md5
    permutations a keyed-hash value collision between DIFFERENT
    shingles is possible (~2⁻⁶⁰/pair — unlike the old affine map,
    md5-truncation is not injective), and such a candidate shares no
    shingle, has no exact row, and is precisely the worst-error case
    the audit must SHOW rather than drop. est is n_eq/8 (exact
    binary), err one correctly-rounded subtraction. Signatures are
    aggregated ONCE (band keys derive from the same persisted table —
    band_keys_from_signatures), and the exact pass runs on candidate
    docs only — the refine-on-candidates contract."""
    rows = _doc_shingle_rows(spark, sf_dir)
    rows = tracked_persist(rows)
    sig = D.minhash_signature_rows(rows, id_col="doc_id")
    sig = tracked_persist(sig)
    bands = D.band_keys_from_signatures(sig, id_col="doc_id")
    pairs = D.lsh_pairs_from_bands(bands, id_col="doc_id")
    pairs = tracked_persist(pairs)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)],
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", n_eq.alias("n_eq"))
    )
    # exact refine over CANDIDATE docs only (the refine-on-candidates
    # contract): restricting the co-shingle self-join to docs that
    # appear in some pair leaves every candidate pair's intersection
    # intact but removes the corpus-wide quadratic hot-shingle blowup
    # (measured 16x at a 10x smoke before this cut).
    cand_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select("id_b"))
        .distinct()
    )
    rows_c = rows.join(cand_ids, "doc_id", "left_semi")
    exact = D.jaccard_pairs(rows_c, id_col="doc_id", threshold=0.0).select(
        "id_a", "id_b", F.col("jaccard").alias("exact_jaccard")
    )
    ej = F.coalesce(F.col("exact_jaccard"), F.lit(0.0))
    return est.join(exact, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        hround(F.col("n_eq") / F.lit(8.0), 6).alias("est_jaccard"),
        ej.alias("exact_jaccard"),
        hround(F.abs(F.col("n_eq") / F.lit(8.0) - ej), 6).alias("abs_err"),
    )


# Deterministic Bloom-filter geometry: k=4 keyed permutations of the
# cross-engine stable hash, m=1024 bits — sized so the measured FPR is
# non-trivially between 0 and 1 at test SFs (a production filter sizes
# m ~ 10·n; the AUDIT is the point here).
_BLOOM_PERMS = [(999983, 54321), (999979, 11111), (999961, 22222), (999959, 33333)]
_BLOOM_M = 1024


def _bloom_pos_sql_exprs() -> list[str]:
    from sparkga1_spark.functions.hashing import STABLE_HASH64_SQL, keyed_hash_sql

    h = STABLE_HASH64_SQL.format(x="CAST(c_custkey AS VARCHAR)")
    return [
        f"({keyed_hash_sql(h, a, b)}) % {_BLOOM_M}" for a, b in _BLOOM_PERMS
    ]


@query(
    "x_bloom_fpr_audit",
    oracle=f"""
WITH pos AS (
  SELECT c_custkey,
         c_mktsegment = 'BUILDING' AS is_member,
         unnest([{', '.join(_bloom_pos_sql_exprs())}]) AS pos
  FROM customer
),
bloom AS (SELECT DISTINCT pos FROM pos WHERE is_member),
hits AS (
  SELECT p.c_custkey, any_value(p.is_member) AS is_member,
         sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM pos p LEFT JOIN bloom b ON p.pos = b.pos
  GROUP BY 1
),
bits AS (SELECT count(*) AS n_bits_set FROM bloom)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN n_hit = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN is_member AND n_hit = 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_member_pass,
       CAST(sum(CASE WHEN NOT is_member AND n_hit = 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       round(CAST(sum(CASE WHEN NOT is_member AND n_hit = 4 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 6) AS fpr,
       CAST(any_value(n_bits_set) AS BIGINT) AS n_bits_set
FROM hits, bits
""",
)
def x_bloom_fpr_audit(spark, sf_dir):
    """Bloom-filter membership with MEASURED false-positive rate — the
    runtime-filter / join-pruning primitive (Spark's own
    InSubqueryExec bloom pushdown, lakehouse data skipping) made
    auditable: build a k=4/m=1024 filter over one customer segment
    from deterministic keyed hashes, probe EVERY customer, and report
    pass/false-positive counts against ground truth. The no-false-
    NEGATIVE guarantee is pinned structurally (n_member_pass =
    n_members must hold or the hash mirrors diverged); the FPR is a
    measured number the oracle must reproduce exactly. Plan: the
    filter is a ≤m-row distinct-position table built from the member
    side and broadcast to the probe scan — exactly how a runtime
    filter ships to a scan at 100 TB; the probe is one map-side
    explode(4) + broadcast join + per-key count, no shuffle of the
    probe table by position."""
    from sparkga1_spark.functions.hashing import keyed_hash, stable_hash64

    cust = load_table(spark, sf_dir, "customer")
    h = stable_hash64(F.col("c_custkey").cast("string"))
    pos_arr = F.array(
        *[keyed_hash(h, a, b) % _BLOOM_M for a, b in _BLOOM_PERMS]
    )
    pos = cust.select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("is_member"),
        F.explode(pos_arr).alias("pos"),
    )
    pos = tracked_persist(pos)
    # ≤m-row filter table reused (bit-count input + probe join):
    # persist so the scalar subquery and the final plan share one member scan
    bloom = tracked_persist(
        pos.filter(F.col("is_member")).select("pos").distinct()
        .withColumn("_in", F.lit(1))
    )
    bits = bloom.agg(F.count("*").alias("n_bits_set"))
    hits = (
        pos.join(F.broadcast(bloom), "pos", "left")
        .groupBy("c_custkey")
        .agg(
            F.any_value(F.col("is_member")).alias("is_member"),
            F.sum(F.when(F.col("_in").isNotNull(), 1).otherwise(0)).alias("n_hit"),
        )
    )
    passed = F.col("n_hit") == 4
    return (
        hits.withColumns(scalar_subq(bits))
        .agg(
            F.count("*").cast("long").alias("n_probe"),
            F.sum(F.when(F.col("is_member"), 1).otherwise(0))
            .cast("long")
            .alias("n_members"),
            F.sum(F.when(passed, 1).otherwise(0)).cast("long").alias("n_pass"),
            F.sum(F.when(F.col("is_member") & passed, 1).otherwise(0))
            .cast("long")
            .alias("n_member_pass"),
            F.sum(F.when(~F.col("is_member") & passed, 1).otherwise(0))
            .cast("long")
            .alias("n_false_pos"),
            hround(
                F.sum(F.when(~F.col("is_member") & passed, 1).otherwise(0))
                / F.sum(F.when(~F.col("is_member"), 1).otherwise(0)),
                6,
            ).alias("fpr"),
            F.any_value(F.col("n_bits_set")).cast("long").alias("n_bits_set"),
        )
    )


# --------------------------------------------------------------------------
# Round-5 wave 4: API-surface + analytics breadth — PIVOT / UNPIVOT,
# iterative BFS, expectations suite, RFM segmentation, batch
# sessionization.
# --------------------------------------------------------------------------


def _pivot_cell_sql(rf: str) -> str:
    cell = (
        f"CASE WHEN l_returnflag = '{rf}' "
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
    )
    return (
        f"{dsum_sql(cell)} AS rev_{rf.lower()}, "
        f"CAST(sum(CASE WHEN l_returnflag = '{rf}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{rf.lower()}"
    )


@query(
    "x_pivot_returnflag_matrix",
    oracle=f"""
SELECT l_linestatus,
       {', '.join(_pivot_cell_sql(rf) for rf in ("A", "N", "R"))}
FROM lineitem
GROUP BY l_linestatus
""",
)
def x_pivot_returnflag_matrix(spark, sf_dir):
    """PIVOT — the wide-matrix reshape (rows → typed columns) BI tools
    ask of an engine: discounted revenue and row counts per
    (line status × return flag), return flags pivoted into columns via
    `DataFrame.groupBy().pivot(values=...)`. Pinning the values list
    keeps the plan a SINGLE hash aggregate (no distinct-scan to
    discover columns) and the schema stable under data drift — exactly
    what a 100 TB pivot needs; Catalyst compiles it to the same
    CASE-WHEN aggregate the oracle spells out. Money cells accumulate
    in DECIMAL (dsum discipline) before the one rounded conversion."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(
            dsum(F.when(F.col("l_returnflag").isNotNull(), disc).otherwise(0)).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cols = [F.col("l_linestatus")]
    for rf in ("A", "N", "R"):
        cols.append(F.col(f"{rf}_rev").alias(f"rev_{rf.lower()}"))
        cols.append(
            F.coalesce(F.col(f"{rf}_n"), F.lit(0)).cast("long").alias(f"n_{rf.lower()}")
        )
    out = pv.select(*cols)
    # pivot leaves absent cells null; revenue cells coalesce to 0.0
    return out.select(
        "l_linestatus",
        *[
            F.coalesce(F.col(c), F.lit(0.0)).alias(c) if c.startswith("rev_")
            else F.col(c)
            for c in out.columns[1:]
        ],
    )


@query(
    "x_unpivot_metrics",
    oracle="""
SELECT o_orderpriority, metric,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(v_cents) AS DOUBLE) / 100, 2) AS total
FROM (
  SELECT o_orderpriority, 'totalprice' AS metric,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v_cents
  FROM orders
  UNION ALL
  SELECT o_orderpriority, 'custkey_mod100',
         CAST((o_custkey % 100) * 100 AS BIGINT) FROM orders
  UNION ALL
  SELECT o_orderpriority, 'orderkey_parity',
         CAST((o_orderkey % 2) * 100 AS BIGINT) FROM orders
)
GROUP BY 1, 2
""",
)
def x_unpivot_metrics(spark, sf_dir):
    """UNPIVOT / melt — the inverse reshape (typed columns → (metric,
    value) rows) that feeds generic metric pipelines and long-format
    ML feature stores. Uses `DataFrame.unpivot` (Spark's native
    UNPIVOT, compiled to a zero-shuffle Expand node — the oracle
    spells the same thing as UNION ALL), values snapped to exact cents
    BEFORE the per-metric aggregate so the long-format sum is
    order-independent. One Expand + one hash aggregate; at 100 TB the
    reshape is map-local and the only exchange carries (priority,
    metric) keys."""
    od = load_table(spark, sf_dir, "orders")
    wide = od.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("totalprice"),
        ((F.col("o_custkey") % 100) * 100).cast("long").alias("custkey_mod100"),
        ((F.col("o_orderkey") % 2) * 100).cast("long").alias("orderkey_parity"),
    )
    long = wide.unpivot(
        ["o_orderpriority"],
        ["totalprice", "custkey_mod100", "orderkey_parity"],
        "metric",
        "v_cents",
    )
    return long.groupBy("o_orderpriority", "metric").agg(
        F.count("*").cast("long").alias("n"),
        hround(F.sum("v_cents").cast("double") / F.lit(100.0), 2).alias("total"),
    )


@query(
    "x_graph_bfs_hops",
    oracle=f"""
WITH RECURSIVE {_HOST_UNDIRECTED_SQL},
edges AS (SELECT a AS s, b AS d FROM e0 UNION SELECT b, a FROM e0),
bfs(node, hops) AS (
  SELECT 0, 0
  UNION
  SELECT e.d, bfs.hops + 1 FROM bfs JOIN edges e ON bfs.node = e.s
  WHERE bfs.hops < 8
)
SELECT node, CAST(min(hops) AS BIGINT) AS hops
FROM bfs GROUP BY node
""",
)
def x_graph_bfs_hops(spark, sf_dir):
    """Unweighted single-source BFS — shortest hop count from node 0
    over the SF-SCALED host graph (_host_graph_edges, m = count div
    10 nodes; node 0 always exists via the clique overlay; at average
    degree ~20 the diameter stays ≤ ~5 at every tested SF, inside the
    8-hop cap) (the reachability/diameter primitive
    under link-graph curation and fraud-ring analysis). Iterative
    frontier expansion, all exact integers: each round joins the
    frontier to the edge list, anti-joins already-visited nodes, and
    unions them in at hops = round; terminates when the frontier
    empties (checked at most 8 rounds — the graph's diameter bound
    here; a driver-side emptiness check per round is one count of a
    tiny frontier). The DuckDB oracle computes the same fixpoint as a
    recursive CTE with min-hops aggregation — two independent BFS
    constructions. At 100 TB scale-out this is the Pregel iteration
    shape: frontier ⋈ edges shuffles on the join key, visited set
    stays partitioned; each round's tiny frontier is eagerly
    localCheckpoint()ed (it is also the emptiness probe) and the
    visited union lazily, so the plan stays O(1) per round. Operator:
    operators/graph.py bfs_hops (property-tested vs a Python BFS on
    random graphs)."""
    from sparkga1_spark.operators import graph as G

    eall = _host_graph_edges(spark, sf_dir, weighted=False)
    edges = G.undirected_edges(eall, F.col("src"), F.col("dst"))
    return G.bfs_hops(edges, 0, max_hops=8)


@query(
    "x_dq_expectations",
    oracle="""
WITH aug AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 1009 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 1013 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 1019 = 0 THEN '9-BOGUS'
              ELSE o_orderpriority END AS o_orderpriority,
         o_orderstatus
  FROM orders
),
checks AS (
  SELECT 'custkey_not_null' AS check_name,
         count(*) AS n_rows,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_fail
  FROM aug
  UNION ALL
  SELECT 'totalprice_positive', count(*),
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
  FROM aug
  UNION ALL
  SELECT 'priority_in_set', count(*),
         sum(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
             THEN 1 ELSE 0 END)
  FROM aug
  UNION ALL
  SELECT 'status_in_set', count(*),
         sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
  FROM aug
  UNION ALL
  SELECT 'orderkey_unique', count(*),
         count(*) - count(DISTINCT o_orderkey)
  FROM aug
)
SELECT check_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_fail AS BIGINT) AS n_fail,
       n_fail = 0 AS passed,
       round(CAST(n_fail AS DOUBLE) / n_rows, 6) AS fail_rate
FROM checks
""",
)
def x_dq_expectations(spark, sf_dir):
    """Data-quality expectations suite (the Great-Expectations-style
    publish gate): five declarative checks — not-null, positive-range,
    two set-memberships, key-uniqueness — evaluated over one scan
    producing a per-check (rows, failures, pass, rate) report.
    Violations are PLANTED on modulus predicates (null custkeys,
    negated prices, a bogus priority) so three checks fail non-
    vacuously while status_in_set and orderkey_unique pass. The four
    row-predicate checks fold into ONE aggregate pass (each check is a
    conditional count — the engine evaluates them in a single
    HashAggregate, not five scans); the uniqueness check is the only
    one needing a key exchange (count vs distinct count). At 100 TB:
    one scan + one tiny distinct on the already-clustered key."""
    od = load_table(spark, sf_dir, "orders")
    aug = od.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 1009 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.col("o_orderkey") % 1013 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 1019 == 0, F.lit("9-BOGUS"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_orderstatus",
    )
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    preds = [
        ("custkey_not_null", F.col("o_custkey").isNull()),
        ("totalprice_positive", F.col("o_totalprice") <= 0),
        ("priority_in_set", ~F.col("o_orderpriority").isin(prios)),
        ("status_in_set", ~F.col("o_orderstatus").isin(["O", "F", "P"])),
    ]
    row_checks = aug.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(p, 1).otherwise(0)).alias(f"f_{name}")
            for name, p in preds
        ],
    )
    per_check = row_checks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"f_{name}").alias("n_fail"),
                    )
                    for name, _ in preds
                ]
            )
        ).alias("c")
    ).select("c.*")
    uniq = aug.agg(
        F.lit("orderkey_unique").alias("check_name"),
        F.count("*").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_fail"),
    )
    out = per_check.unionAll(uniq)
    return out.select(
        "check_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_fail").cast("long").alias("n_fail"),
        (F.col("n_fail") == 0).alias("passed"),
        hround(F.col("n_fail") / F.col("n_rows"), 6).alias("fail_rate"),
    )


@query(
    "x_rfm_segmentation",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS freq,
         CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100
                    + CAST('0.5' AS DECIMAL(2,1))) AS BIGINT) AS mon_cents
  FROM orders GROUP BY 1
),
mx AS (SELECT max(last_order) AS corpus_max FROM base),
n AS (SELECT count(*) AS n FROM base),
scored AS (
  SELECT o_custkey,
         ((row_number() OVER (ORDER BY datediff('day', last_order, corpus_max),
                              o_custkey) - 1) * 4) // n + 1 AS r_score,
         ((row_number() OVER (ORDER BY freq DESC, o_custkey) - 1) * 4) // n + 1
           AS f_score,
         ((row_number() OVER (ORDER BY mon_cents DESC, o_custkey) - 1) * 4) // n
           + 1 AS m_score
  FROM base, mx, n
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers
FROM scored GROUP BY 1, 2, 3
""",
)
def x_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation — quartile scores for Recency (days
    since last order, vs the corpus max date), Frequency (order
    count), Monetary (lifetime value in exact cents), rolled up to
    per-(R,F,M)-cell customer counts: the classic CRM / marketing
    segmentation cube. Each axis ranks customers under a UNIQUE total
    order (o_custkey tiebreak — without it boundaries are partition-
    order-dependent and un-oracle-able) via the DISTRIBUTED two-pass
    global_rank — never a partitionless window funneling all
    customers through one task — and buckets by the equal-split
    formula ((rank−1)·4) div n + 1, which both engines compute in
    exact integers (the oracle uses row_number + the same formula;
    deliberately NOT ntile, whose larger-buckets-first fill differs
    from the formula when n mod 4 ≠ 0). Monetary sums accumulate in
    DECIMAL and snap to cents before ranking; n and the corpus max
    date are scalars pulled once from the persisted base."""
    od = load_table(spark, sf_dir, "orders")
    base = od.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.floor(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")) * 100
            + F.lit("0.5").cast("decimal(2,1)")
        )
        .cast("long")
        .alias("mon_cents"),
    )
    base = tracked_persist(base)
    # r6 VERDICT #4: the lazy crossJoin(broadcast(agg)) form replicated
    # the 1-row aggregate subtree into all three rank axes (9 BNL
    # nodes); a single .first() scalar pull runs it once
    corpus_max, n_val = base.agg(
        F.max("last_order").alias("corpus_max"), F.count("*").alias("n")
    ).first()
    withr = tracked_persist(base.withColumn(
        "rec_days", F.datediff(F.lit(corpus_max), F.col("last_order"))
    ))

    def axis(order_cols, out, need):
        # r13: project to the axis's own measure before the range
        # exchange (guide §2.3 — the rank pass was shuffling all three
        # measures for every axis; measured 2.51 → 2.26 s with the
        # narrow rows, values identical)
        ranked = windows_ops.global_rank(
            withr.select("o_custkey", need),
            order_cols=order_cols,
            rank_col="_rk",
        )
        scored_axis = tracked_persist(ranked.select(
            "o_custkey",
            F.expr(f"((_rk - 1) * 4) div {int(n_val)} + 1").alias(out),
        ))
        scored_axis.count()
        return scored_axis

    # r13 optimization (guide §2.6 overlap independent jobs): each
    # global_rank pays a blocking range-boundary SAMPLE job before its
    # exchange, so three sequential axes put three sample jobs on the
    # critical path over an already-persisted 15k-row input. The axes
    # are independent — materialize them from a small thread pool so
    # the sample/rank jobs of one axis back-fill the idle cores of
    # another's tail. Each axis lands in a tracked_persist, the final
    # plan joins the three cached results; values are unchanged
    # (measured identical at sf0.1, 3.0 s → 2.6 s).
    from concurrent.futures import ThreadPoolExecutor

    specs = [
        ([F.col("rec_days"), F.col("o_custkey")], "r_score", "rec_days"),
        ([F.col("freq").desc(), F.col("o_custkey")], "f_score", "freq"),
        ([F.col("mon_cents").desc(), F.col("o_custkey")], "m_score", "mon_cents"),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        r, f_, m = list(pool.map(lambda s: axis(*s), specs))
    scored = r.join(f_, "o_custkey").join(m, "o_custkey")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers")
    )


@query(
    "x_sessionize_gaps",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM s
),
per_sess AS (
  SELECT user_id, sess_no, count(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT n_events AS session_length,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM per_sess GROUP BY 1
""",
)
def x_sessionize_gaps(spark, sf_dir):
    """Batch sessionization — 30-minute-inactivity-gap gaps-and-islands
    over the event stream (the BATCH twin of the streaming
    s_session_windows: same session semantics, replayable over
    history). Classic two-window construction on ONE (user_id) sort:
    lag flags session starts, a running sum numbers sessions; output
    is the session-length histogram (+ distinct users per length) so
    the result is bounded regardless of scale. Gap comparison is
    exact integer seconds (floor(epoch)). Catalyst plans both windows
    over a single Sort + Exchange — the event stream shuffles once,
    exactly like x_funnel_conversion; the histogram aggregate is
    tiny."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("CAST(unix_timestamp(ts) AS BIGINT)")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(sec).over(w).isNull() | (sec - F.lag(sec).over(w) > 1800), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = s.select(
        "user_id",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess_no"),
    )
    per_sess = sess.groupBy("user_id", "sess_no").agg(
        F.count("*").alias("n_events")
    )
    return per_sess.groupBy(F.col("n_events").alias("session_length")).agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --------------------------------------------------------------------------
# Session-5 wave: concentration / monitoring / experimentation analytics —
# the reporting layer a training-data pipeline's stakeholders actually
# read (who supplies the data, did the distribution shift, did the
# intervention work), each scale-shaped like the operators above: one
# scan, keyed aggregates, broadcast totals, never a global funnel.
# --------------------------------------------------------------------------


@query(
    "x_seasonality_dow",
    oracle="""
WITH d AS (
  SELECT event_type, isodow(ts) AS dow,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT event_type, dow, count(*) AS n, sum(cents) AS cents
  FROM d GROUP BY event_type, dow
),
t AS (
  SELECT event_type, sum(n) AS tn, sum(cents) AS tc
  FROM g GROUP BY event_type
)
SELECT g.event_type, CAST(g.dow AS INTEGER) AS dow,
       CAST(g.n AS BIGINT) AS n_events,
       CAST(g.cents AS BIGINT) AS cents,
       round((CAST(g.cents AS DOUBLE) / g.n)
             / (CAST(t.tc AS DOUBLE) / t.tn), 6) AS dow_index
FROM g JOIN t USING (event_type)
ORDER BY event_type, dow
""",
)
def x_seasonality_dow(spark, sf_dir):
    """Day-of-week seasonality index per event type — the multiplicative
    seasonal factor (mean value on that weekday / overall mean) a
    forecasting or anomaly layer divides out before alerting. Money is
    accumulated as exact integer cents (floor(v*100+0.5), the
    established snap), so both aggregates are order-independent; the
    index is a single exact-int division chain rounded at 6dp. ISO
    weekday (1=Mon) via weekday()+1 on the Spark side mirrors DuckDB's
    isodow(). One scan, a 35-key aggregate joined to its 5-key rollup
    via broadcast — nothing wide at any scale."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        "event_type",
        (F.expr("weekday(ts)") + F.lit(1)).cast("int").alias("dow"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = d.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )
    t = g.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("cents").alias("tc")
    )
    return (
        g.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            F.col("n").cast("long").alias("n_events"),
            F.col("cents").cast("long").alias("cents"),
            hround(
                (F.col("cents").cast("double") / F.col("n"))
                / (F.col("tc").cast("double") / F.col("tn")),
                6,
            ).alias("dow_index"),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "x_ab_conversion_ztest",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
v AS (
  SELECT user_id % 2 AS variant, count(*) AS n, sum(conv) AS c
  FROM u GROUP BY variant
),
w AS (
  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 0 THEN c END) AS c0,
         max(CASE WHEN variant = 1 THEN c END) AS c1
  FROM v
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
       round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
       round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
       round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
FROM w
""",
)
def x_ab_conversion_ztest(spark, sf_dir):
    """Two-proportion pooled z-test over a deterministic hash split —
    the experimentation readout (did variant 1 convert better than
    variant 0, and is the lift outside noise). Variant assignment is
    user_id parity (any production system hashes the unit id the same
    way); conversion is user-level and volume-balanced (more purchases
    than errors — an any-purchase flag saturates to 1 for every user as
    per-user event volume grows, which degenerates the pooled variance
    to 0). All counts are exact ints;
    the z statistic is one fixed-order chain of correctly-rounded IEEE
    ops (divisions + sqrt), identical on both engines before the 6dp
    snap. Two keyed aggregates and a 2-row pivot — per-user state is
    one bit, so this runs at any scale."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    v = u.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    # written as (c0+c1)/(n0+n1) to mirror the oracle's operand order
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    rate0 = F.col("c0").cast("double") / F.col("n0")
    rate1 = F.col("c1").cast("double") / F.col("n1")
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c0").cast("long").alias("c0"),
        F.col("c1").cast("long").alias("c1"),
        hround(rate0, 6).alias("rate0"),
        hround(rate1, 6).alias("rate1"),
        hround(
            (rate1 - rate0)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
            ),
            6,
        ).alias("z_score"),
    )


@query(
    "x_readability_flesch",
    oracle="""
WITH c AS (
  SELECT source,
         length(regexp_extract_all(text, '[A-Za-z]+')) AS w,
         greatest(length(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         length(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
  FROM documents
),
sc AS (
  SELECT source,
         206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                 - 84.6 * (CAST(y AS DOUBLE) / w) AS score
  FROM c WHERE w > 0
)
SELECT source, CAST(floor(score / 10.0) AS INTEGER) AS decade,
       count(*) AS n_docs,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM sc GROUP BY source, decade
ORDER BY source, decade
""",
)
def x_readability_flesch(spark, sf_dir):
    """Flesch reading-ease distribution per source — the classic
    surface-statistics quality score (words/sentence, syllables/word
    with the standard vowel-group syllable proxy), bucketed into
    10-point decades so the output is a histogram, not a float dump.
    Per-doc counts are exact regexp-match integers; the score is one
    fixed-order IEEE chain of those ints, so per-doc scores are
    bit-identical across engines and floor(score/10) can never misbin;
    min/max within a bucket are order-free (6dp-snapped for the hash).
    One scan with three codegen'd regexp counters, then a ~tens-of-keys
    aggregate — the same shape as the Gopher rules in x_quality_*."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+")).alias("w"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        ).alias("s"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")).alias("y"),
    ).filter(F.col("w") > 0)
    sc = c.select(
        "source",
        (
            F.lit(206.835)
            - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
            - F.lit(84.6) * (F.col("y").cast("double") / F.col("w"))
        ).alias("score"),
    )
    return (
        sc.groupBy(
            "source", F.floor(F.col("score") / 10.0).cast("int").alias("decade")
        )
        .agg(
            F.count("*").alias("n_docs"),
            hround(F.min("score"), 6).alias("min_score"),
            hround(F.max("score"), 6).alias("max_score"),
        )
        .orderBy("source", "decade")
    )


@query(
    "x_revenue_gini_lorenz",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
),
rk AS (
  SELECT o_custkey, cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS r
  FROM rev
),
tot AS (
  SELECT count(*) AS n, sum(cents) AS s,
         sum(CAST(r AS HUGEINT) * cents) AS s1
  FROM rk
),
dec AS (
  SELECT ((r - 1) * 10) // n AS decile, count(*) AS n_cust,
         sum(cents) AS decile_cents
  FROM rk, tot GROUP BY 1
),
cum AS (
  SELECT decile, n_cust, decile_cents,
         sum(decile_cents) OVER (ORDER BY decile) AS cumcents
  FROM dec
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(n_cust AS BIGINT) AS n_cust,
       CAST(decile_cents AS BIGINT) AS decile_cents,
       round(CAST(cumcents AS DOUBLE) / CAST(s AS DOUBLE), 6) AS cum_share,
       round(CAST(2 * s1 - (n + 1) * s AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
FROM cum, tot ORDER BY decile
""",
)
def x_revenue_gini_lorenz(spark, sf_dir):
    """Lorenz curve (revenue deciles) + Gini coefficient of customer
    revenue concentration — the inequality readout a per-source token
    budget or spend-cap policy starts from. Exactness discipline: money
    is integer cents; the customer rank comes from the distributed
    two-pass global_rank (never a partitionless window over customers);
    the rank-weighted sum S1=Σ r·cents and the Gini closed form
    G = (2·S1 − (n+1)·S) / (n·S) are accumulated in DECIMAL(38,0)
    (HUGEINT on the oracle side) so nothing overflows or rounds before
    the single final double division. The Lorenz cumsum runs over
    exactly 10 decile rows via grouped_cumsum (audit-clean two-pass,
    not a global window). Shape at 100 TB: one keyed aggregate, one
    range-exchange rank, a 10-row tail — the rank pass is the only
    wide stage and it's the operator built for that."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    # ranked table reused (totals input + decile bucketing): persist so
    # the totals subquery and the decile bucketing share one rank pass
    # (the two former crossJoin(broadcast(tot)) attaches each replicated
    # the whole rank subtree — 3 BNLs in the r7 plan audit; the totals
    # now ride the plan as ONE once-executed scalar subquery)
    rk = tracked_persist(
        windows_ops.global_rank(
            rev, order_cols=["cents", "o_custkey"], rank_col="r"
        )
    )
    tot = scalar_subq(
        rk.agg(
            F.count("*").alias("n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("cents")).alias("s1"),
        )
    )
    dec = (
        rk.withColumns(tot)
        .select(
            F.expr("((r - 1) * 10) div n").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_cust"), F.sum("cents").alias("decile_cents"))
    )
    cum = windows_ops.grouped_cumsum(
        dec,
        group_cols=[],
        order_cols=["decile"],
        value_col="decile_cents",
        out_col="cumcents",
    )
    return (
        cum.withColumns(tot)
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_cust").cast("long").alias("n_cust"),
            F.col("decile_cents").cast("long").alias("decile_cents"),
            hround(
                F.col("cumcents").cast("double") / F.col("s").cast("double"), 6
            ).alias("cum_share"),
            hround(
                (
                    F.lit(2) * F.col("s1")
                    - (F.col("n") + F.lit(1)) * F.col("s")
                ).cast("double")
                / (F.col("n").cast("decimal(38,0)") * F.col("s")).cast("double"),
                6,
            ).alias("gini"),
        )
        .orderBy("decile")
    )


@query(
    "x_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
  FROM events GROUP BY event_type, day
),
tot AS (
  SELECT event_type, count(*) AS n, sum(x) AS s
  FROM daily GROUP BY event_type
),
cs AS (
  SELECT d.event_type, d.day, t.n, t.s,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t_idx,
         sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day) AS cx
  FROM daily d JOIN tot t USING (event_type)
),
dev AS (
  SELECT event_type, day, n,
         abs(CAST(n AS HUGEINT) * cx - CAST(t_idx AS HUGEINT) * s) AS d_abs
  FROM cs
),
pk AS (
  SELECT event_type, day, n, d_abs,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY d_abs DESC, day) AS pr
  FROM dev
)
SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS peak_day,
       round((CAST(d_abs AS DOUBLE) / n) / 100.0, 6) AS cusum_peak
FROM pk WHERE pr = 1 ORDER BY event_type
""",
)
def x_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection per event type — the classic
    level-shift monitor: cumulative sum of deviations from the series
    mean peaks at the day the regime changed. Run over the DAILY
    aggregate (so the windows are per-type over ~hundreds of rows, a
    partitioned window on a pre-aggregated frame — the raw scan never
    feeds a window). Exactness: deviations are kept integer by scaling
    — D_t = n·Σx_i − t·S in cents·n units (DECIMAL/HUGEINT, no mean
    subtraction in floats) — and the peak argmax ties break on the
    earliest day; the reported peak height converts back to dollars
    with one fixed-order double division chain at 6dp. At 100 TB the
    only data-sized stage is the (type, day) aggregate."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("x")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("day")
    cs = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("t_idx", F.row_number().over(w))
        .withColumn(
            "cx",
            F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    dev = cs.select(
        "event_type",
        "day",
        "n",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("cx")
            - F.col("t_idx").cast("decimal(38,0)") * F.col("s")
        ).alias("d_abs"),
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.col("d_abs").desc(), F.col("day")
    )
    return (
        dev.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("day").alias("peak_day"),
            hround(
                (F.col("d_abs").cast("double") / F.col("n")) / F.lit(100.0), 6
            ).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


@query(
    "x_kmeans_assign_audit",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
d AS (
  SELECT e.vec_id, c.cid,
         list_inner_product(e.v, e.v) - 2.0 * list_inner_product(e.v, c.cv)
           + list_inner_product(c.cv, c.cv) AS dist
  FROM e, c
),
a AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM d
)
SELECT CAST(cid AS BIGINT) AS centroid_id,
       count(*) AS n_assigned,
       CAST(sum(CAST(floor(dist * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_dist_micro
FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid
""",
)
def x_kmeans_assign_audit(spark, sf_dir):
    """One exact Lloyd assignment step, oracle-gated: this pins the
    k-means distance/argmin kernel. Distance is the expanded
    form |x|² − 2x·c + |c|² with every inner product a sequential
    left fold (V.dot ↔ list_inner_product — bit-identical, the
    x_ann_* precedent), so argmin ties are decided on identical
    doubles, with centroid id as the final tiebreak; per-cluster inertia
    is summed in exact integer micro-units. The k=4 seed centroids are
    the first four fixture vectors (deterministic, the lowest-id
    seeding rule). Scale shape: the k seed rows are pulled once at
    build time and ride the scan as an exploded literal array — one
    narrow pass, zero join nodes, no shuffle until the k-key
    aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", V.to_double(F.col("embedding")).alias("v"))
    # k=4 seed centroids pulled ONCE at build time (a k-sized model
    # pull, the sanctioned pattern) and attached as a literal
    # array-of-structs + explode instead of crossJoin(broadcast(df)) —
    # the former BNL replicated the centroid scan subtree into the
    # assignment plan (r7 VERDICT #2); the explode is the identical
    # k-way row expansion with zero join nodes
    cent_rows = sorted(
        e.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect(),
        key=lambda r: r["cid"],
    )
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(r["cid"]).cast("long").alias("cid"),
                F.lit(r["cv"]).cast("array<double>").alias("cv"),
            )
            for r in cent_rows
        ]
    )
    dist = (
        V.dot(F.col("v"), F.col("v"))
        - F.lit(2.0) * V.dot(F.col("v"), F.col("cv"))
        + V.dot(F.col("cv"), F.col("cv"))
    )
    d = (
        e.select("vec_id", "v", F.explode(cent_arr).alias("c"))
        .select("vec_id", "v", F.col("c.cid").alias("cid"), F.col("c.cv").alias("cv"))
        .select("vec_id", "cid", dist.alias("dist"))
    )
    # argmin as a map-side-combinable min(struct(dist, cid)) — struct
    # ordering is lexicographic, exactly the oracle's ORDER BY dist,
    # cid — so the k-way expansion collapses to one row per vector
    # BEFORE the exchange (a per-vector row_number window would sort
    # k·n rows post-shuffle instead)
    assigned = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("dist"), F.col("cid"))).alias("m"))
        .select(F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
    )
    return (
        assigned.groupBy(F.col("cid").cast("long").alias("centroid_id"))
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum(
                F.floor(F.col("dist") * F.lit(1_000_000) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sum_dist_micro"),
        )
        .orderBy("centroid_id")
    )


@query(
    "x_knn_label_vote",
    oracle=f"""
WITH nn AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_ANN_COS}, 6) DESC, c.vec_id)
             AS rank
    FROM embeddings q JOIN embeddings c
      ON q.vec_id % 20 = 0 AND q.vec_id < 10000 AND c.vec_id != q.vec_id
  ) WHERE rank <= 5
),
votes AS (
  SELECT nn.query_id, c.label AS cand_label, count(*) AS n_votes
  FROM nn JOIN embeddings c ON nn.cand_id = c.vec_id
  GROUP BY nn.query_id, c.label
),
pred AS (
  SELECT query_id, cand_label AS pred_label FROM (
    SELECT query_id, cand_label, n_votes,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, cand_label) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT CAST(q.label AS INTEGER) AS true_label,
       count(*) AS n_queries,
       CAST(sum(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM pred p JOIN embeddings q ON p.query_id = q.vec_id
GROUP BY q.label ORDER BY true_label
""",
)
def x_knn_label_vote(spark, sf_dir):
    """kNN classification audit — 5-NN majority vote over the labeled
    embedding fixture, reported as per-class accuracy (the confusion
    diagonal). This is the evaluation layer on top of the ANN family:
    the neighbor list is the exact brute-force kernel (so the row
    certifies the vote/accuracy logic, not approximate recall — the
    approximate routes have their own pinned-floor recall tests); the
    majority vote ties break deterministically on the smaller label.
    Scale axes: the probe set is a FIXED benchmark block (every 20th
    id within the base id block), so corpus growth scales only the
    candidate side — classify-a-benchmark-against-a-growing-index,
    linear, not the quadratic both-sides-grow axis (measured: the %20
    probe alone went 90x at 10x because probes x candidates both
    grew). For query-side scale, swap the brute-force neighbor stage
    for the IVF/PQ operator — the vote layer is route-agnostic."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 10000))
    nn = S.brute_force_topk(qs, emb, k=5, dim=64).select("query_id", "cand_id")
    votes = (
        nn.join(
            emb.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("cand_label"),
            ),
            "cand_id",
        )
        .groupBy("query_id", "cand_label")
        .agg(F.count("*").alias("n_votes"))
    )
    from pyspark.sql import Window

    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("cand_label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("cand_label").alias("pred_label"))
    )
    return (
        pred.join(
            emb.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
            ),
            "query_id",
        )
        .groupBy(F.col("true_label").cast("int").alias("true_label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("true_label")
    )


@query(
    "x_survival_km",
    oracle="""
WITH pu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(ts) AS last_ts
  FROM events GROUP BY user_id
),
cut AS (SELECT max(ts) AS mx FROM events),
lf AS (
  SELECT user_id,
         date_diff('day', d0, CAST(last_ts AS DATE)) AS t_life,
         CASE WHEN last_ts < mx - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
  FROM pu, cut
),
g AS (
  SELECT t_life, sum(ev) AS d, sum(1 - ev) AS c FROM lf GROUP BY t_life
),
n AS (SELECT count(*) AS total FROM lf),
cs AS (
  SELECT t_life, d, c, total,
         total - (sum(d + c) OVER (ORDER BY t_life) - (d + c)) AS n_risk
  FROM g, n
),
tm AS (
  SELECT t_life, d, c, n_risk,
         CASE WHEN d < n_risk
              THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                              * 1000000000 + 0.5) AS BIGINT)
              ELSE NULL END AS term_nano,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM cs
),
km AS (
  SELECT t_life, d, c, n_risk,
         sum(term_nano) OVER (ORDER BY t_life) AS cum_nano,
         sum(dead) OVER (ORDER BY t_life) AS cum_dead
  FROM tm
)
SELECT CAST(t_life AS INTEGER) AS t_day,
       CAST(d AS BIGINT) AS n_churn,
       CAST(c AS BIGINT) AS n_censored,
       CAST(n_risk AS BIGINT) AS n_risk,
       CASE WHEN cum_dead >= 1 THEN 0.0
            ELSE round(exp(cum_nano / 1000000000.0), 6) END AS survival
FROM km ORDER BY t_day
""",
)
def x_survival_km(spark, sf_dir):
    """Kaplan-Meier survival over user lifetimes (days between first
    and last event; users quiet in the final 7 days are churn events,
    the rest right-censored) — retention's principled form. The
    product-limit estimator is computed as exp(Σ ln(1−d/n)) with each
    ln term snapped to integer NANO-units before the running sum (the
    x_unigram_logprob convention: both engines fold the identical
    integers, so the product is order-proof); a risk-set-exhausted day
    (d=n) drops survival to exactly 0 thereafter rather than feeding
    ln(0). Every running sum executes via grouped_cumsum's two-pass
    shape over the per-DAY aggregate (≤ a few hundred rows — the
    user-level scan collapses first), so nothing is a global window
    over data-sized input. The lifetimes aggregate is the only wide
    stage at 100 TB.

    r13 optimization (guide §1.2: fix the critical path, not the
    flops): profiled job-scheduling-bound — every stage ≤ 1.4 s task
    time across 32 tasks, wall 2.0 s. Three sequential costs removed,
    no value changed: (a) the corpus-max and total-count scalars ride
    the plan as once-executed runtime ScalarSubqueries
    (cache.scalar_subq — the same de-replication guarantee the r6
    .first() form bought, minus two blocking build-time jobs); (b) the
    cum_nano/cum_dead running sums share ONE grouped_cumsum pass
    (extra_specs) instead of two back-to-back range-exchange passes.
    Measured 2.0 s → 1.2 s at sf0.1, rows identical. The empty-events
    early return is gone with the build-time .first(): an empty
    per-day aggregate now flows through the same plan to an empty
    result with the identical schema (pinned by
    test_survival_km_empty_events_returns_empty)."""
    ev = _events(spark, sf_dir)
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max("ts").alias("last_ts"),
    )
    mx = scalar_subq(ev.agg(F.max("ts").alias("mx")))["mx"]
    lf = pu.select(
        F.datediff(F.col("last_ts").cast("date"), F.col("d0")).alias("t_life"),
        F.when(F.col("last_ts") < mx - F.expr("INTERVAL 7 DAYS"), 1)
        .otherwise(0)
        .alias("ev"),
    )
    g = tracked_persist(lf.groupBy("t_life").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("c")
    ))
    total = scalar_subq(
        g.agg(F.sum(F.col("d") + F.col("c")).alias("tot"))
    )["tot"]
    cs = windows_ops.grouped_cumsum(
        g,
        group_cols=[],
        order_cols=["t_life"],
        value_col=F.col("d") + F.col("c"),
        out_col="cum_dc",
    ).withColumn(
        "n_risk",
        total - (F.col("cum_dc") - (F.col("d") + F.col("c"))),
    )
    tm = cs.select(
        "t_life",
        "d",
        "c",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"))
                * F.lit(1_000_000_000)
                + F.lit(0.5)
            ).cast("long"),
        ).alias("term_nano"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("dead"),
    )
    km = windows_ops.grouped_cumsum(
        tm,
        group_cols=[],
        order_cols=["t_life"],
        value_col="term_nano",
        out_col="cum_nano",
        extra_specs=[("dead", "cum_dead")],
    )
    return km.select(
        F.col("t_life").cast("int").alias("t_day"),
        F.col("d").cast("long").alias("n_churn"),
        F.col("c").cast("long").alias("n_censored"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.when(F.col("cum_dead") >= 1, F.lit(0.0))
        .otherwise(
            hround(F.exp(F.col("cum_nano") / F.lit(1_000_000_000.0)), 6)
        )
        .alias("survival"),
    ).orderBy("t_day")


@query(
    "x_heaps_vocab_growth",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(str_split_regex(trim(text), ' +')) AS w
  FROM documents
),
tf AS (SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w),
rk AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r FROM documents
),
nn AS (SELECT count(*) AS n FROM documents),
dd AS (SELECT doc_id, ((r - 1) * 10) // n AS decile FROM rk, nn),
newt AS (
  SELECT d.decile, count(*) AS n_new
  FROM tf JOIN dd d ON tf.first_doc = d.doc_id
  GROUP BY d.decile
),
base AS (SELECT decile, count(*) AS n_docs FROM dd GROUP BY decile)
SELECT CAST(b.decile AS INTEGER) AS decile,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new_tokens,
       CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY b.decile) AS BIGINT)
         AS cum_vocab
FROM base b LEFT JOIN newt nw ON b.decile = nw.decile
ORDER BY decile
""",
)
def x_heaps_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve — distinct tokens seen as the
    corpus is consumed in ingest order, per corpus decile. This is the
    tokenizer-sizing statistic (does vocabulary saturate or keep
    growing → how big must the BPE vocab be; a sub-Heaps curve also
    flags duplicated/templated corpora). The scale trick: never scan
    the corpus cumulatively — a token contributes exactly at its FIRST
    document (min doc_id per token, one aggregate over the exploded
    stream, the same wide stage x_vocab_topk pays), deciles come from
    the distributed two-pass rank over doc ids, and the growth curve
    is a 10-row grouped_cumsum tail. Tokenization = T.words, identical
    to the vocab/BPE family so the curves compose."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.words(F.col("text"))).alias("w"))
    tf = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    rk = windows_ops.global_rank(
        docs.select("doc_id"), order_cols=["doc_id"], rank_col="r"
    )
    # corpus size materialized once at build time, and the decile table
    # persisted (it feeds BOTH the first-doc join and the per-decile
    # base counts — the former lazy crossJoin(broadcast(nn)) attach
    # replicated the docs-count subtree into each consumer: 4 BNLs in
    # the r7 plan audit, the registry's worst)
    nn = docs.agg(F.count("*").alias("n"))
    dd = tracked_persist(
        rk.withColumns(scalar_subq(nn)).select(
            "doc_id", F.expr("((r - 1) * 10) div n").alias("decile")
        )
    )
    newt = (
        tf.join(dd, tf["first_doc"] == dd["doc_id"])
        .groupBy("decile")
        .agg(F.count("*").alias("n_new"))
    )
    base = dd.groupBy("decile").agg(F.count("*").alias("n_docs"))
    joined = (
        base.join(newt, "decile", "left")
        .select(
            "decile",
            "n_docs",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new_tokens"),
        )
    )
    cum = windows_ops.grouped_cumsum(
        joined,
        group_cols=[],
        order_cols=["decile"],
        value_col="n_new_tokens",
        out_col="cum_vocab",
        # r13 (guide §1.2): joined is 10 rows but embeds the corpus-wide
        # explode+min-agg (newt); without the persist the range-boundary
        # sample job re-ran that whole wide stage
        persist_input=True,
    )
    return cum.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_new_tokens").cast("long").alias("n_new_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    ).orderBy("decile")


@query(
    "x_target_encode_loo",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS cat,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
  FROM orders
),
st AS (
  SELECT cat, count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM o GROUP BY cat
  HAVING count(*) > 1
),
enc AS (
  SELECT o.cat, st.n, st.s,
         ((st.s - o.x) * 1000000) // (st.n - 1) AS enc_micro,
         st.s - o.x AS loo_sum
  FROM o JOIN st USING (cat)
)
SELECT cat, CAST(any_value(n) AS BIGINT) AS n_rows,
       CAST(any_value(s) AS BIGINT) AS sum_cents,
       CAST(min(enc_micro) AS BIGINT) AS loo_min_micro,
       CAST(max(enc_micro) AS BIGINT) AS loo_max_micro,
       (CAST(sum(loo_sum) AS BIGINT)
          = (any_value(n) - 1) * any_value(s)) AS identity_ok
FROM enc GROUP BY cat ORDER BY cat
""",
)
def x_target_encode_loo(spark, sf_dir):
    """Leave-one-out target encoding — the leakage-safe categorical
    feature for training pipelines: each row's encoding is the mean
    target of its category EXCLUDING itself, enc_i = (S − x_i)/(n−1)
    (a naive within-fold mean leaks the row's own label into its
    feature). Exact integer arithmetic end to end: cents target,
    micro-unit integer division, and the audited closed-form identity
    Σ(S − x_i) = (n−1)·S that any off-by-one (self-inclusion, wrong
    denominator) breaks; single-row categories are excluded on both
    sides (LOO is undefined at n=1 — and feeds a zero denominator
    under ANSI mode otherwise). Long arithmetic holds to ~9e18 micro-cents
    per category (≈ $90T — switch the two products to DECIMAL(38,0)
    past that, the gini precedent). Shape: TWO streamed scans (the
    category-stats aggregate + the row pass it broadcasts onto —
    census-verified, r9), one final category aggregate — nothing wide
    at 100 TB. The window form would collapse the second scan but
    partitions by a 5-VALUE category — the whole fact through 5 tasks;
    the join-back is deliberate here, the inverse of the r5 span-dup
    rule that high-cardinality keys (x_tfidf's term) follow."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_orderpriority").alias("cat"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    st = o.groupBy("cat").agg(
        F.count("*").alias("n"), F.sum("x").cast("long").alias("s")
    ).filter(F.col("n") > 1)  # a 1-row category has no LOO encoding
    enc = o.join(F.broadcast(st), "cat").select(
        "cat",
        "n",
        "s",
        F.expr("((s - x) * 1000000) div (n - 1)").alias("enc_micro"),
        (F.col("s") - F.col("x")).alias("loo_sum"),
    )
    return (
        enc.groupBy("cat")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n_rows"),
            F.any_value(F.col("s")).cast("long").alias("sum_cents"),
            F.min("enc_micro").cast("long").alias("loo_min_micro"),
            F.max("enc_micro").cast("long").alias("loo_max_micro"),
            (
                F.sum("loo_sum").cast("long")
                == (F.any_value(F.col("n")) - F.lit(1))
                * F.any_value(F.col("s"))
            ).alias("identity_ok"),
        )
        .orderBy("cat")
    )


@query(
    "x_dedup_cluster_size_hist",
    oracle=f"""
WITH RECURSIVE {LSH_PAIRS_WITH_SQL},
edges AS (
  SELECT id_a AS s, id_b AS d FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(id, comp) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.comp FROM reach JOIN edges e ON reach.id = e.s
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
hist AS (
  SELECT sz AS cluster_size, count(*) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs
  FROM sizes GROUP BY sz
),
tot AS (SELECT count(*) AS n FROM documents),
indup AS (SELECT coalesce(CAST(sum(n_docs) AS BIGINT), 0) AS nd FROM hist)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_docs AS BIGINT) AS n_docs
FROM hist
UNION ALL
SELECT 1, CAST(n - nd AS BIGINT), CAST(n - nd AS BIGINT) FROM tot, indup
ORDER BY cluster_size
""",
)
def x_dedup_cluster_size_hist(spark, sf_dir):
    """Duplicate-cluster SIZE distribution — the dedup family's
    management readout (how much mass sits in pairs vs large cliques
    decides whether keep-canonical or aggressive pruning is the right
    policy; a sudden large-clique mode flags templated/mirrored
    ingest). Builds the same pair/CC-label stage as
    x_dedup_cc_clusters, aggregates component sizes, and derives the
    singleton row by subtraction from the corpus total (docs absent
    from the pair graph are clusters of one — never materialized per
    doc). Scale: two keyed aggregates over the label frame + a 1-row
    broadcast; strictly cheaper than the CC stage it consumes."""
    cc = _dedup_cc_labels(spark, sf_dir)
    sizes = cc.groupBy("comp").agg(F.count("*").alias("sz"))
    # histogram reused (in-dup total input + final projection): persist
    # so the totals subquery shares one pass over the CC labels
    hist = tracked_persist(
        sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
    )
    tot = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n")
    )
    indup = hist.agg(
        F.coalesce(F.sum("n_docs").cast("long"), F.lit(0)).alias("nd")
    )
    singleton = (
        tot.withColumns(scalar_subq(indup))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n") - F.col("nd")).cast("long").alias("n_clusters"),
            (F.col("n") - F.col("nd")).cast("long").alias("n_docs"),
        )
    )
    return (
        hist.select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .unionAll(singleton)
        .orderBy("cluster_size")
    )

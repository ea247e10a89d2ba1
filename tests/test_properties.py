"""Property-style invariants (SURVEY.md §5: permutation invariance,
dedup idempotence) over randomly generated micro-datasets. Examples are
kept small — each one runs real Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),      # key
        st.integers(min_value=1, max_value=1000),   # pos
        st.integers(min_value=0, max_value=60),     # weight
    ),
    min_size=1,
    max_size=60,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,  # deterministic examples — no flakes in driver runs
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS, seed=st.integers(min_value=0, max_value=9))
@SETTINGS
def test_groupby_permutation_invariance(spark, rows, seed):
    """Aggregation must not depend on input row order."""
    df = spark.createDataFrame(rows, "key int, pos int, w int")
    shuffled = spark.createDataFrame(
        sorted(rows, key=lambda r: hash((r, seed))), "key int, pos int, w int"
    )
    agg = lambda d: {  # noqa: E731
        tuple(r)
        for r in d.groupBy("key")
        .agg(F.count("*"), F.min("pos"), F.max("pos"), F.sum("w"))
        .collect()
    }
    assert agg(df) == agg(shuffled)


@given(rows=ROWS)
@SETTINGS
def test_keep_best_idempotent(spark, rows):
    from sparkga1_spark.operators.dedup import keep_best

    df = spark.createDataFrame(rows, "key int, pos int, w int")
    once = keep_best(df, keys=["key"], order_cols=[F.desc("w"), "pos"])
    twice = keep_best(once, keys=["key"], order_cols=[F.desc("w"), "pos"])
    assert {tuple(r) for r in once.collect()} == {tuple(r) for r in twice.collect()}
    # exactly one representative per key
    assert once.count() == df.select("key").distinct().count()


def test_keep_best_agg_equivalence(spark, sf_dir):
    """a_dedup_keep_best's r13 aggregate form (groupBy max(mapq) — no
    window, map-side partial agg) must match the keep_best window form
    it replaced, on the live alignments fixture: the rollup consumes
    only the best row's mapq, and max(mapq) is order-tiebreak-free."""
    from sparkga1_spark.operators.dedup import keep_best
    from sparkga1_spark.sources import fixtures
    from sparkga1_spark.sources.catalog import load_table

    al = fixtures.alignments(load_table(spark, sf_dir, "lineitem"))
    win = (
        keep_best(
            al,
            keys=["chr_index", "pos"],
            order_cols=[F.desc("mapq"), "read_name"],
        )
        .groupBy("chr_index")
        .agg(
            F.count("*").alias("n"),
            F.sum("mapq").cast("long").alias("s"),
        )
    )
    agg = (
        al.select("chr_index", "pos", "mapq")
        .groupBy("chr_index", "pos")
        .agg(F.max("mapq").alias("mapq"))
        .groupBy("chr_index")
        .agg(
            F.count("*").alias("n"),
            F.sum("mapq").cast("long").alias("s"),
        )
    )
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, agg.collect()))


@given(rows=ROWS, slack_a=st.integers(0, 20), slack_b=st.integers(21, 200))
@SETTINGS
def test_coalesce_islands_monotonic_in_slack(spark, rows, slack_a, slack_b):
    """More slack can only merge islands, never split them; islands are
    always disjoint (beyond slack) and cover every record."""
    from sparkga1_spark.operators.windows import coalesce_intervals

    df = spark.createDataFrame(
        [(k, p, p + w + 1) for k, p, w in rows], "chr int, s int, e int"
    )
    def islands(slack):
        return coalesce_intervals(
            df, partition_cols=("chr",), start="s", end="e", slack=slack
        ).collect()

    small, big = islands(slack_a), islands(slack_b)
    assert len(big) <= len(small)
    assert sum(r.n_records for r in small) == len(rows)
    by_chr: dict[int, list] = {}
    for r in small:
        by_chr.setdefault(r.chr, []).append((r.island_start, r.island_end))
    for chr_i, iv in by_chr.items():
        iv.sort()
        for (s1, e1), (s2, _) in zip(iv, iv[1:]):
            assert s2 > e1 + slack_a


@given(
    points=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(1, 80)),
        min_size=1, max_size=40,
    ),
    ivls=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(1, 120)),
        min_size=1, max_size=20,
    ),
    bin_width=st.sampled_from([7, 64, 1000]),
)
@SETTINGS
def test_range_join_equals_naive_theta(spark, points, ivls, bin_width):
    """The bin-bucket rewrite must equal the naive theta join for ANY
    data and bin width."""
    from sparkga1_spark.operators.joins import interval_overlap_join

    p = spark.createDataFrame(
        [(c, s, s + l) for c, s, l in points], "chr_index int, pos int, end_pos int"
    ).withColumn("pid", F.monotonically_increasing_id())
    i = spark.createDataFrame(
        [(c, s, s + l) for c, s, l in ivls], "chr_index int, start int, end int"
    ).withColumn("iid", F.monotonically_increasing_id())
    fast = {
        (r.pid, r.iid)
        for r in interval_overlap_join(p, i, bin_width=bin_width).collect()
    }
    naive = {
        (r.pid, r.iid)
        for r in p.alias("p")
        .join(
            i.alias("i"),
            (F.col("p.chr_index") == F.col("i.chr_index"))
            & (F.col("p.pos") < F.col("i.end"))
            & (F.col("i.start") < F.col("p.end_pos")),
        )
        .collect()
    }
    assert fast == naive


@given(texts=st.lists(st.text(alphabet="ab c", min_size=12, max_size=40), min_size=2, max_size=12))
@SETTINGS
def test_minhash_identical_docs_always_collide(spark, texts):
    """LSH guarantee: exact duplicate documents must always be candidate
    pairs (identical shingle sets → identical signatures → same bands)."""
    from sparkga1_spark.functions.text import shingle_hash_rows
    from sparkga1_spark.operators.dedup import minhash_lsh_pairs

    # docs 0 and 1 are forced duplicates with ≥3 words
    base = "x y z " + texts[0]
    docs = [(0, base), (1, base)] + [(i + 2, t) for i, t in enumerate(texts[1:])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = shingle_hash_rows(df)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(rows, id_col="doc_id").collect()
    }
    assert (0, 1) in pairs


@given(texts=st.lists(st.text(alphabet="abc xy", min_size=0, max_size=30), min_size=1, max_size=8))
@SETTINGS
def test_word_ngrams_match_python_reference(spark, texts):
    """The slice/zip n-gram rewrite (round 2, hot-path) must produce
    exactly the naive sliding-window n-grams for any whitespace mess —
    including texts with <n words (empty array) and repeated spaces."""
    from sparkga1_spark.functions import text as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    for n in (2, 3):
        got = {
            r.i: list(r.g)
            for r in df.select(
                "i", T.word_ngrams(T.words(F.col("t")), n).alias("g")
            ).collect()
        }
        for i, t in enumerate(texts):
            ws = t.strip().split()
            want = [" ".join(ws[j : j + n]) for j in range(max(len(ws) - n + 1, 0))]
            assert got[i] == want, (t, n, got[i], want)


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_property(w, h, seed):
    """parse_bmp(build_bmp(px)) == px for ARBITRARY dimensions — padding
    arithmetic must hold on every width class (w*3 mod 4 ∈ {0,1,2,3})."""
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_bmp, parse_bmp

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    pw, ph, out = parse_bmp(build_bmp(px))
    assert (pw, ph) == (w, h)
    assert (out == px).all()


@given(
    n=st.integers(min_value=1, max_value=500),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, rate, seed):
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_wav, parse_wav

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype("<i2")
    got_n, got_rate, got = parse_wav(build_wav(samples, sample_rate=rate))
    assert (got_n, got_rate) == (n, rate)
    assert (got == samples).all()


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=14),
    nframes=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_y4m_roundtrip_property(w, h, nframes, seed):
    import numpy as np

    from sparkga1_spark.operators.multimodal import build_y4m, parse_y4m

    w, h = w * 2, h * 2  # C420 needs even dims
    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(nframes)
    ]
    pw, ph, fps, got = parse_y4m(build_y4m(frames))
    assert (pw, ph, len(got)) == (w, h, nframes)
    for a, b in zip(frames, got):
        assert (a == b).all()


def test_pagerank_mass_conservation_bounds(spark):
    """Exact-integer PageRank invariants on the SF-SCALED host graph
    (m = count div 10 ⇒ ~600 nodes at sf0.001): every rank positive,
    and total mass ≤ N·20e6 nano-units — the initial mass, which is
    the damping fixpoint N·3e6/0.15; floor-division and dangling loss
    only ever LEAK mass, never create it — while staying above the
    pure-teleport floor of N·3e6."""
    from sparkga1_spark.plans.registry import all_queries

    rows = all_queries()["x_host_pagerank"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r.pr_nano for r in rows)
    n = len(rows)
    # 6000 lineitem rows // 10 = 600 residues; all appear whp (10
    # draws/residue) and the 0..24 clique overlay is guaranteed
    assert 500 <= n <= 600, n
    assert all(r.pr_nano >= 3_000_000 for r in rows)
    assert n * 3_000_000 <= total <= n * 20_000_000, (n, total)


def test_set_similarity_routes_agree(spark, sf_dir):
    """set_similarity_pairs routing contract (r5 VERDICT #3): at
    tau=2/5 the exact prefix route and the LSH+refine route must
    produce IDENTICAL pairs on the fixture corpus (its near-dup pairs
    sit far above the banding knee, where LSH recall is ~1 — a refine
    miss here means the banding join or the shared verification tail
    broke, not sampling), and refine output must always be a SUBSET
    of the exact join (verification is exact ⇒ no false positives at
    any recall). Also pins the auto-route decision boundary:
    tau >= 1/2 ⇒ prefix, below ⇒ lsh_refine."""
    from sparkga1_spark.operators import dedup as D
    from sparkga1_spark.plans.queries import _doc_shingle_rows

    rows = _doc_shingle_rows(spark, sf_dir)
    pre = {
        (r.id_a, r.id_b): (r.n_shared, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(
            rows, id_col="doc_id", threshold_num=2, threshold_den=5
        ).collect()
    }
    # tau=2/5 < 1/2 auto-routes to lsh_refine (the plan assertion below
    # pins that this frame carries the band join)
    ref = {
        (r.id_a, r.id_b): (r.n_shared, r.jaccard)
        for r in D.set_similarity_pairs(
            rows, id_col="doc_id", threshold_num=2, threshold_den=5
        ).collect()
    }
    assert set(ref) <= set(pre), set(ref) - set(pre)
    assert ref == pre, (len(pre), len(ref))
    # auto-route boundary, pinned on the actual plan: below tau=1/2 the
    # analyzed plan must contain the LSH band join; at/above it must not
    lo = D.set_similarity_pairs(
        rows, id_col="doc_id", threshold_num=2, threshold_den=5
    )
    hi = D.set_similarity_pairs(
        rows, id_col="doc_id", threshold_num=3, threshold_den=5
    )
    lo_plan = lo._jdf.queryExecution().analyzed().toString()
    hi_plan = hi._jdf.queryExecution().analyzed().toString()
    assert "band" in lo_plan and "band" not in hi_plan
    # invalid thresholds must raise on EVERY route — on lsh_refine the
    # keep predicate would otherwise degenerate to always-true
    import pytest as _pytest

    for bad in [(0, 5), (6, 5)]:
        with _pytest.raises(ValueError):
            D.set_similarity_pairs(
                rows, id_col="doc_id",
                threshold_num=bad[0], threshold_den=bad[1],
            )


def test_simhash_pairs_planted_twin_recall(spark):
    """48-bit SimHash Hamming<=6 pairing must recover >=85% of the
    planted near-twin pairs (measured 0.95 at sf0.001-scale corpora;
    short docs flip several bits per one-word edit, which is why the
    threshold is 6, not 3 — and why 16-bit fingerprints saturate, see
    operators/dedup.py simhash_rows)."""
    from sparkga1_spark.plans.registry import all_queries

    rows = all_queries()["x_simhash_hamming_pairs"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    import duckdb

    n_twins = duckdb.connect().execute(
        "select count(*) from '/root/testdata/sf0.01/documents.parquet'"
        " where doc_id % 25 = 0"
    ).fetchone()[0]
    planted = sum(1 for r in rows if r.id_b - r.id_a == 2_000_000)
    assert planted / n_twins >= 0.85, (planted, n_twins)


def test_simhash_longdoc_pairs_planted_twin_recall(spark):
    """60-bit / Hamming<=3 long-document SimHash pairing (the Manku
    web-scale recipe, x_simhash_longdoc_pairs) must recover >=90% of
    the planted one-word-edit twins (measured 13/13 at sf0.01 with
    Hamming 0-2: a one-word edit in a ~400-token doc moves <1% of
    shingles, the regime the d<=3 ball is built for) and produce ZERO
    unrelated pairs at fixture scale."""
    from sparkga1_spark.plans.registry import all_queries

    rows = all_queries()["x_simhash_longdoc_pairs"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    import duckdb

    n_twins = duckdb.connect().execute(
        "select count(distinct doc_id // 8) from"
        " '/root/testdata/sf0.01/documents.parquet'"
        " where (doc_id // 8) % 5 = 0"
    ).fetchone()[0]
    planted = sum(1 for r in rows if r.id_b - r.id_a == 3_000_000)
    assert planted / n_twins >= 0.90, (planted, n_twins)
    assert all(r.id_b - r.id_a == 3_000_000 for r in rows), rows[:5]


@given(
    xs=st.lists(st.integers(0, 1023), min_size=1, max_size=50),
    ys=st.lists(st.integers(0, 1023), min_size=1, max_size=50),
)
@settings(max_examples=25, deadline=None)
def test_zorder_interleave_is_bijective_and_bounded(xs, ys):
    """The Morton key used by o_zorder_cluster must be a bijection of
    (x, y) — de-interleaving the bits recovers both coordinates — and
    stay within 20 bits. Pure-Python mirror of the 20-term column
    expression."""
    for x, y in zip(xs, ys):
        z = sum(
            (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))
            for i in range(10)
        )
        assert 0 <= z < (1 << 20)
        rx = sum(((z >> (2 * i)) & 1) << i for i in range(10))
        ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(10))
        assert (rx, ry) == (x, y)


@given(n_tok=st.integers(1, 500))
@settings(max_examples=50, deadline=None)
def test_chunk_overlap_windows_cover_every_token(n_tok):
    """x_chunk_overlap's window arithmetic (size 32, stride 24,
    1-based starts from sequence(1, max(n-8, 1), 24)): every token
    index must fall in at least one window, no window may be empty or
    exceed 32 tokens, and consecutive windows overlap by exactly 8
    except possibly the tail. Pure-Python mirror of the plan's
    closed-form columns."""
    starts = list(range(1, max(n_tok - 8, 1) + 1, 24))
    covered = set()
    for s in starts:
        n = min(32, n_tok - s + 1)
        assert 1 <= n <= 32
        covered.update(range(s, s + n))
    assert covered == set(range(1, n_tok + 1)), (n_tok, sorted(covered)[:5])


def test_pagerank_mass_conserved_per_iteration(spark, sf_dir):
    """x_host_pagerank: total nano-mass must be conserved at every
    power iteration. Exact-integer invariant: with S_t = Σ_node v_t,
    S_{t+1} = N·3e6 + ⌊0.85·S_t⌋ minus only floor-division truncation
    (< 1 nano-unit per edge for the contribution sum, < 1 per node for
    the dangling share, +1 for the damping product itself). WITHOUT
    the dangling-mass redistribution term the sink hosts' 85% share
    (millions of nano-units here) vanishes each round and the lower
    bound fails — this is the regression pin for the dangling fix.
    The fixture graph must actually contain sinks, else the test is
    vacuous; asserted first."""
    from sparkga1_spark.plans.queries import _pagerank_iterate

    _, history = _pagerank_iterate(spark, sf_dir, iters=4)
    from sparkga1_spark.operators.cache import release_tracked

    first = history[0]
    nodes = first.count()
    # the graph must have dangling sinks (src ≡ 0 mod 7 dropped)
    from pyspark.sql import functions as FF

    li_nodes = {r.node for r in first.select("node").collect()}
    sinks = {n for n in li_nodes if n % 7 == 0}
    assert sinks, "fixture graph has no dangling sinks — test vacuous"

    # n_edges bound for the truncation slack: distinct (src, dst) pairs
    totals = [
        h.agg(FF.sum("v").alias("s")).collect()[0].s for h in history
    ]
    from sparkga1_spark.plans.queries import _host_graph_edges

    n_edges = _host_graph_edges(spark, sf_dir).count()
    slack = n_edges + 2 * nodes + 2
    for t in range(len(totals) - 1):
        upper = nodes * 3_000_000 + (85 * totals[t]) // 100
        assert totals[t + 1] <= upper, (t, totals[t + 1], upper)
        assert totals[t + 1] >= upper - slack, (t, totals[t + 1], upper - slack)
    release_tracked()


@given(
    st.lists(
        st.text(
            alphabet="abcdefghij THEAOF.,!?0123456789",
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_score_bounded_and_bucketed(spark, words_list):
    """x_quality_linear_score's rational sigmoid must keep every score
    strictly inside (0, 1) and every decile bucket inside [0, 9] for
    ARBITRARY text — the property that makes `floor(score*10)` a total,
    engine-portable bucketing (exp-based sigmoids overflow/underflow to
    exactly 0.0/1.0 on extreme inputs; z/(1+|z|) cannot)."""
    from pyspark.sql import functions as F

    from sparkga1_spark.plans.queries import _quality_score_col

    text = " ".join(w.strip() or "x" for w in words_list)
    df = spark.createDataFrame([(text,)], "text string").select(
        _quality_score_col(F.col("text")).alias("score")
    )
    row = df.select(
        "score", F.floor(F.col("score") * 10).cast("int").alias("bucket")
    ).collect()[0]
    assert row.score is not None
    assert 0.0 < row.score < 1.0, row.score
    assert 0 <= row.bucket <= 9, row.bucket


@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=11), min_size=1, max_size=9),
        min_size=2,
        max_size=7,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_prefix_filter_join_equals_bruteforce(spark, sets):
    """Prefix filtering must be EXACT: over a tiny universe (forcing
    heavy element sharing) the pruned join's output equals the
    all-pairs brute force under the same integer predicate
    5*inter >= 3*union — including pairs sitting exactly on J = 3/5."""
    from sparkga1_spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [(i, int(h)) for i, s in enumerate(sets) for h in s]
    df = spark.createDataFrame(rows, "doc_id long, h long")
    got = {
        (r.id_a, r.id_b, r.n_shared)
        for r in prefix_filter_jaccard_pairs(
            df, id_col="doc_id", threshold_num=3, threshold_den=5
        ).collect()
    }
    want = set()
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 5 * inter >= 3 * union:
                want.add((a, b, inter))
    assert got == want


def test_prefix_filter_join_boundary_pair(spark):
    """A pair at exactly J = 3/5 (inter 3, union 5) must be kept — the
    integer predicate includes the boundary on both engines."""
    from sparkga1_spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [(0, h) for h in (1, 2, 3, 4)] + [(1, h) for h in (1, 2, 3, 5)]
    df = spark.createDataFrame(rows, "doc_id long, h long")
    out = prefix_filter_jaccard_pairs(
        df, id_col="doc_id", threshold_num=3, threshold_den=5
    ).collect()
    assert [(r.id_a, r.id_b, r.n_shared, r.jaccard) for r in out] == [
        (0, 1, 3, 0.6)
    ]


def test_mad_outliers_matches_numpy(spark, sf_dir):
    """Distributed rank-selection median/MAD equals the single-machine
    definition (numpy median; MAD = median of absolute deviations)."""
    import numpy as np

    from sparkga1_spark.plans.registry import all_queries

    got = {
        r.o_orderpriority: r
        for r in all_queries()["x_mad_outliers"](spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by_grp = {}
    for r in orders:
        by_grp.setdefault(r.o_orderpriority, []).append(r.o_totalprice)
    assert set(got) == set(by_grp)
    for g, xs in by_grp.items():
        xs = np.array(sorted(xs))
        med = float(np.median(xs))
        mad = float(np.median(np.abs(xs - med)))
        assert got[g].n_orders == len(xs)
        assert abs(got[g].median_price - med) < 1e-4
        assert abs(got[g].mad - mad) < 1e-4
        assert got[g].n_outliers == int(np.sum(np.abs(xs - med) > 3 * mad))


def test_group_ols_matches_numpy_polyfit(spark, sf_dir):
    """Closed-form decimal-moment OLS equals numpy's least squares."""
    import numpy as np

    from sparkga1_spark.plans.registry import all_queries

    got = {
        r.n_name: r
        for r in all_queries()["x_group_ols_trend"](spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/customer.parquet"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            spark.read.parquet(f"{sf_dir}/nation.parquet"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias("d"),
            "o_totalprice",
        )
        .collect()
    )
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.n_name, []).append((r.d, r.o_totalprice))
    for name, pts in by_nation.items():
        if len(pts) < 2:
            continue
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(got[name].slope - slope) < 1e-4
        assert abs(got[name].intercept - intercept) < 1.0  # intercept ~1e5 scale


def test_bm25_matches_python_reference(spark, sf_dir):
    """The nano-snapped JVM BM25 equals a straightforward Python
    implementation (k1=1.2, b=0.75, Lucene idf) to snapping precision."""
    import math

    from sparkga1_spark.plans.registry import all_queries

    got = all_queries()["x_bm25_topk"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    toks = {r.doc_id: [w for w in r.text.strip().split() if w] for r in docs}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    terms = ["spark", "vector", "stream"]
    df_t = {
        t: sum(1 for ws in toks.values() if t in ws) for t in terms
    }
    scores = {}
    for did, ws in toks.items():
        s, nt = 0.0, 0
        for t in terms:
            tf = ws.count(t)
            if tf == 0 or df_t[t] == 0:
                continue
            nt += 1
            idf = math.log(1 + (n_docs - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(ws) / avgdl))
        if nt:
            scores[did] = (s, nt)
    want = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, (s, nt)) in zip(got, want):
        assert r.n_terms == nt
        assert abs(r.score - s) < 1e-5


EDGE_SETS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=25,
)


@given(raw=EDGE_SETS)
@SETTINGS
def test_triangle_stats_match_bruteforce_on_random_graphs(spark, raw):
    """Degree-oriented wedge closure == naive triple loop, per node,
    on arbitrary small graphs (hubs, paths, isolated ties)."""
    from itertools import combinations

    from sparkga1_spark.operators.graph import triangle_stats, undirected_edges

    edges = {(min(u, v), max(u, v)) for u, v in raw if u != v}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u int, v int")
    got = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_stats(
            undirected_edges(df, F.col("u"), F.col("v"))
        ).collect()
    }
    nodes = sorted({x for e in edges for x in e})
    deg = {n: sum(1 for e in edges if n in e) for n in nodes}
    tri = {n: 0 for n in nodes}
    for x, y, z in combinations(nodes, 3):
        if (x, y) in edges and (y, z) in edges and (x, z) in edges:
            tri[x] += 1
            tri[y] += 1
            tri[z] += 1
    assert got == {n: (deg[n], tri[n]) for n in nodes}


@given(raw=EDGE_SETS, source=st.integers(min_value=0, max_value=9))
@SETTINGS
def test_bfs_hops_match_python_on_random_graphs(spark, raw, source):
    """Frontier BFS == queue BFS from any source, including sources
    with no edges (result = just the source at hop 0)."""
    from collections import deque

    from sparkga1_spark.operators.graph import bfs_hops, undirected_edges

    edges = {(min(u, v), max(u, v)) for u, v in raw if u != v}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "u int, v int")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(
            undirected_edges(df, F.col("u"), F.col("v")), source, max_hops=12
        ).collect()
    }
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want, dq = {source: 0}, deque([source])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    assert got == want


POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # group
        st.integers(min_value=0, max_value=8),    # x (minimize)
        st.integers(min_value=0, max_value=8),    # y (maximize)
    ),
    min_size=1,
    max_size=30,
)


@given(pts=POINTS)
@SETTINGS
def test_pareto_frontier_matches_dominance_definition(spark, pts):
    """Sorted-scan skyline == O(n²) dominance filter, including exact
    ties on one or both axes (mutually non-dominating ties survive)."""
    from sparkga1_spark.operators.windows import pareto_frontier

    rows = [(i, g, x, y) for i, (g, x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id int, g int, x int, y int")
    got = {
        r["id"]
        for r in pareto_frontier(
            df, group_cols=["g"], minimize_col="x", maximize_col="y"
        ).collect()
    }
    want = set()
    for i, g, x, y in rows:
        dominated = any(
            g2 == g and x2 <= x and y2 >= y and (x2 < x or y2 > y)
            for _, g2, x2, y2 in rows
        )
        if not dominated:
            want.add(i)
    assert got == want


@given(pts=POINTS)
@SETTINGS
def test_pareto_frontier_decimal_axis(spark, pts):
    """Sub-integer value granularity (cents-like decimals at .25
    steps): the ROWS-over-distinct-x construction must match the
    dominance definition — a RANGE .. -1 frame would skip strictly
    smaller x within 1 unit and keep dominated rows (regression for
    the review-caught bug)."""
    from decimal import Decimal

    from sparkga1_spark.operators.windows import pareto_frontier

    rows = [
        (i, g, Decimal(x) / 4, y) for i, (g, x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "id int, g int, x decimal(6,2), y int")
    got = {
        r["id"]
        for r in pareto_frontier(
            df, group_cols=["g"], minimize_col="x", maximize_col="y"
        ).collect()
    }
    want = set()
    for i, g, x, y in rows:
        dominated = any(
            g2 == g and x2 <= x and y2 >= y and (x2 < x or y2 > y)
            for _, g2, x2, y2 in rows
        )
        if not dominated:
            want.add(i)
    assert got == want


def test_set_similarity_shj_form_is_result_invariant(spark, sf_dir, monkeypatch):
    """r14 (guide §3.1): the verification/self joins pick their
    strategy by the corpus side's plan-stat size estimate — broadcast
    below _SHJ_EST_BYTES (fastest locally), shuffled-hash above (the
    only form that survives 100 TB; measured ~2x faster at the 10x
    replica). Pins (a) both arms produce identical pairs, (b) the
    SHJ arm (bound below every estimate) really plans ShuffledHashJoin
    and the BHJ arm (bound above every estimate) really broadcasts —
    so the threshold plumbing cannot silently become a no-op."""
    from sparkga1_spark.operators import dedup as D
    from sparkga1_spark.plans.queries import _doc_shingle_rows

    rows = _doc_shingle_rows(spark, sf_dir)

    def pairs(bound: int):
        monkeypatch.setattr(D, "_SHJ_EST_BYTES", bound)
        df = D.prefix_filter_jaccard_pairs(
            rows, id_col="doc_id", threshold_num=2, threshold_den=5
        )
        got = sorted(
            (r.id_a, r.id_b, r.n_shared, r.jaccard) for r in df.collect()
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        return got, plan

    bhj_pairs, bhj_plan = pairs(1 << 62)
    shj_pairs, shj_plan = pairs(-1)
    assert bhj_pairs == shj_pairs
    assert bhj_pairs, "fixture corpus must produce at least one pair"
    assert "ShuffledHashJoin" in shj_plan
    assert "ShuffledHashJoin" not in bhj_plan

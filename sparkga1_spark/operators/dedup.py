"""Deduplication operators (SURVEY.md §2.3 A-7, §2.6 U-3, plus the
training-data-pipeline dedup family: exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine).

The reference's duplicate handling is Picard MarkDuplicates (keep the
best-quality representative per locus group, SparkGA1.scala:837-839)
and a VCF-line `distinct` (SparkGA1.scala:1241). Both are expressible
as windows/groupBys; the near-dup family follows the standard
shingle→hash→band→bucket-join construction, built entirely from
JVM-side built-ins (no Python UDFs) so it survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from sparkga1_spark.functions.hashing import stable_hash64
from sparkga1_spark.functions.numeric import hround
from sparkga1_spark.operators.cache import tracked_persist


def keep_best(
    df: DataFrame,
    *,
    keys: Sequence[str],
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """A-7: MarkDuplicates semantics — one representative per key group,
    chosen by the (unique) ordering. Window + row_number()==1; the
    shuffle is on `keys` only, and AQE splits skewed key groups."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(df: DataFrame, *, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup via content hash: keep the minimum id per
    distinct text. groupBy on the hash, not the full text, so the
    shuffle carries 8 bytes per row instead of the document."""
    return (
        df.withColumn("_h", stable_hash64(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("_h")
    )


# ---------------------------------------------------------------- near-dup

# Odd multipliers/offsets for the minhash permutation family; shared with
# the SQL oracle via minhash_perms().
_MINHASH_PERMS: list[tuple[int, int]] = [
    (1000003, 12345),
    (999983, 54321),
    (999979, 11111),
    (999961, 22222),
    (999959, 33333),
    (999953, 44444),
    (999931, 55555),
    (999917, 66666),
]


def minhash_perms(n: int = 8) -> list[tuple[int, int]]:
    if n > len(_MINHASH_PERMS):
        # silent truncation would double estimator variance (a caller
        # believing it has n permutations gets len(_MINHASH_PERMS)) and
        # crash banding later with an unresolved mh{i} column
        raise ValueError(
            f"minhash_perms: {n} permutations requested, "
            f"{len(_MINHASH_PERMS)} defined — extend _MINHASH_PERMS"
        )
    return _MINHASH_PERMS[:n]


def minhash_signature_rows(
    rows: DataFrame, *, id_col: str, hash_col: str = "h", n_hashes: int = 8
) -> DataFrame:
    """MinHash signatures from (id, shingle-hash) ROWS — the scale
    shape: one hash-aggregate over the shingle stream (codegen'd,
    partial aggs map-side), no per-doc arrays, no interpreted lambdas.
    Output: one row per id with mh0..mh{n-1}."""
    from sparkga1_spark.functions.hashing import keyed_hash

    h = F.col(hash_col)
    aggs = [
        F.min(keyed_hash(h, a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_perms(n_hashes))
    ]
    return rows.groupBy(id_col).agg(*aggs)


def band_keys_from_signatures(
    sig: DataFrame,
    *,
    id_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, key) LSH band rows from an ALREADY-COMPUTED signature
    table (one row per id with mh0..mh{n-1}) — lets callers that need
    both the signatures and the bands (e.g. the accuracy audit) pay
    the per-shingle keyed-hash aggregation exactly once."""
    n_bands = n_hashes // band_size
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"mh{b * band_size + k}")
                                for k in range(band_size)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_band_keys(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, key) LSH band rows from shingle-hash rows — the
    joinable form of a MinHash signature. Exposed separately so
    INCREMENTAL dedup can band-join a new batch against an existing
    corpus (batch bands ⋈ corpus bands) instead of paying the full
    corpus self-join every ingest."""
    sig = minhash_signature_rows(
        rows, id_col=id_col, hash_col=hash_col, n_hashes=n_hashes
    )
    return band_keys_from_signatures(
        sig, id_col=id_col, n_hashes=n_hashes, band_size=band_size
    )


def minhash_lsh_pairs(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """MinHash + LSH banding over shingle ROWS: documents sharing any
    band of their signature become a candidate pair (id_a < id_b,
    distinct).

    Scale shape: signatures are one narrow row per doc; banding explodes
    to n_hashes/band_size rows per doc; the candidate join is an
    equi-join on (band_index, band_key) — shuffle keys are 16 bytes, and
    AQE splits hot buckets. No pairwise work ever touches non-candidates,
    which is the whole point vs the O(n²) brute force.
    """
    bands = minhash_band_keys(
        rows, id_col=id_col, hash_col=hash_col,
        n_hashes=n_hashes, band_size=band_size,
    )
    return lsh_pairs_from_bands(bands, id_col=id_col)


def lsh_pairs_from_bands(bands: DataFrame, *, id_col: str) -> DataFrame:
    """Candidate pairs from an (id, band, key) band table via the
    banded self-join (id_a < id_b, distinct). Split out so callers
    holding precomputed signatures/bands skip re-aggregation."""
    # the self-join consumes bands twice; persist so signatures (and the
    # md5 shingle lineage above them) are computed once
    bands = tracked_persist(bands)
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    threshold: float,
) -> DataFrame:
    """n-gram Jaccard near-dup over shingle ROWS: candidate pairs via
    shingle equi-join, similarity = |A∩B| / (|A|+|B|-|A∩B|), filtered
    at `threshold`. Exact (no LSH recall loss); cost grows with
    shared-shingle volume, so run it on LSH candidates at scale."""
    rows = tracked_persist(rows)  # consumed by sizes + both sides of the self-join
    sizes = rows.groupBy(id_col).agg(F.count("*").alias("_sz"))
    l, r = rows.alias("l"), rows.alias("r")
    inter = (
        l.join(
            r,
            (F.col(f"l.{hash_col}") == F.col(f"r.{hash_col}"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    # the pair table is small relative to the shingle stream; two joins
    # against the per-doc size aggregate attach |A| and |B|
    inter = (
        inter.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sz", "sz_b"),
            "id_b",
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    return (
        inter.withColumn("jaccard", hround(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """DIRECTIONAL containment near-dup over shingle ROWS:
    c(a→b) = |A∩B| / |A| ≥ num/den, emitted as (id_contained,
    id_container). The asymmetric complement of jaccard_pairs: a short
    document quoted inside a much longer one has high containment but
    LOW Jaccard (the union is dominated by the container), so both
    symmetric dedup AND MinHash-LSH — whose collision probability
    tracks Jaccard — structurally miss it. Exact shingle equi-join +
    pure-integer keep predicate den*inter >= num*|A| (no float in the
    cut); at corpus scale run it on candidates from a containment-
    aware sketch (bottom-k of the SMALLER side) rather than the raw
    self-join, same envelope note as jaccard_pairs."""
    num, den = int(threshold_num), int(threshold_den)
    if num <= 0 or den <= 0 or num > den:
        raise ValueError("containment threshold must satisfy 0 < num/den <= 1")
    rows = tracked_persist(rows)
    sizes = rows.groupBy(id_col).agg(F.count("*").alias("_sz"))
    l, r = rows.alias("l"), rows.alias("r")
    inter = (
        l.join(
            r,
            (F.col(f"l.{hash_col}") == F.col(f"r.{hash_col}"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_contained"),
            F.col(f"r.{id_col}").alias("id_container"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    withsz = inter.join(
        sizes.withColumnRenamed(id_col, "id_contained").withColumnRenamed(
            "_sz", "sz_a"
        ),
        "id_contained",
    )
    return (
        withsz.filter(F.lit(den) * F.col("n_shared") >= F.lit(num) * F.col("sz_a"))
        .select(
            "id_contained",
            "id_container",
            F.col("n_shared").cast("long").alias("n_shared"),
            hround(F.col("n_shared").cast("double") / F.col("sz_a"), 6).alias(
                "containment"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster candidate near-dup PAIRS into duplicate groups: the
    connected components of the undirected pair graph, labelled by the
    minimum node id in each component. This is the stage after LSH in a
    real dedup pipeline — pairs alone over-count (A~B, B~C must collapse
    to ONE group {A,B,C} before picking a representative), and the
    reference's per-locus MarkDuplicates grouping (SparkGA1.scala:837-839)
    has no transitive analogue, so this is engine-added capability.

    Algorithm: min-label propagation WITH pointer jumping — every node
    starts as its own label; each round does (1) edge step: take the
    min of own and neighbours' labels, and (2) jump step: replace the
    label by the LABEL OF THE LABEL (labels are node ids, and the
    invariant comp(x) ≤ x makes the jump monotone), the classic PRAM
    pointer-jumping contraction that turns O(diameter) rounds into
    O(log n) — same convergence regime as the published alternating
    large-star/small-star MapReduce construction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Each
    round is two equi-joins + one min-aggregate, all JVM-side; the
    driver's only work is a 1-row convergence aggregate per round
    (labels are monotonically non-increasing, so an unchanged
    sum(label) IS the fixpoint — no expensive change-join).

    Lineage: each round's labels are localCheckpoint()ed — an
    iterative plan that merely persists still GROWS the logical plan
    every round and dies on analyzer recursion around ~25 rounds
    (measured on a 31-node path before the jump step was added);
    checkpointing truncates it so round N's plan is O(1), not O(N).
    On a multi-executor cluster prefer setCheckpointDir + checkpoint()
    (localCheckpoint loses partitions with a lost executor).

    Scale: per round the shuffle carries (endpoint, 8-byte label) per
    edge, nothing quadratic; near-dup components are star/clique shaped
    so 2-3 rounds settle them, and pointer jumping keeps adversarial
    long paths to log-many rounds.

    Returns (id, component) for every node that appears in `pairs`;
    `component` is the min doc id reachable, so representatives fall out
    as `id == component`.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    edges = tracked_persist(edges)
    # LAZY checkpoints throughout (r5 VERDICT #4): the per-round
    # convergence aggregate is the materializing action, so each round
    # costs ONE driver job, not two (eager checkpoint + probe) — at
    # sf0.1 that halved the CC stage's share of x_dedup_keep_canonical.
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    if prev_sum is None:  # no pairs at all — empty component table
        return labels
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "s"), "s")
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("comp").alias("_nbr"))
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("_nbr", "comp")).alias("comp"),
        )
        # pointer jump: comp(n) := min(comp(n), comp(comp(n))). comp
        # values ARE node ids, so this is a self-join of the label table.
        jump = stepped.select(
            F.col("id").alias("_jid"), F.col("comp").alias("_jcomp")
        )
        labels = (
            stepped.join(jump, stepped["comp"] == jump["_jid"], "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("_jcomp", "comp")
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def simhash_rows(
    rows: DataFrame, *, id_col: str, hash_col: str = "h", n_bits: int = 48
) -> DataFrame:
    """n-bit SimHash from (id, feature-hash) ROWS: per bit, majority
    vote of (+1/-1); bit set iff vote > 0. One codegen'd hash-aggregate
    (n conditional sums), map-side partials, shuffle on id only.
    Output: (id, simhash).

    WIDTH MATTERS AT SCALE (measured, r4 scale smoke): with 16 bits the
    2^16 fingerprint space saturates near 10^5 docs — unrelated pairs
    collide within any Hamming ball and pair output grows
    quadratically (13.9M pairs at 50k docs vs 142k at 5k). 48 bits
    puts random collisions at P(ham<=3) ~ 7e-11, so pair volume tracks
    TRUE near-duplicates at any realistic corpus size. n_bits <= 62
    (signed-long headroom)."""
    assert 1 <= n_bits <= 62
    h = F.col(hash_col)
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(n_bits)
    ]
    voted = rows.groupBy(id_col).agg(*votes)
    total = F.lit(0)
    for i in range(n_bits):
        total = total + F.when(F.col(f"_v{i}") > 0, F.lit(1 << i)).otherwise(0)
    return voted.select(F.col(id_col), total.cast("long").alias("simhash"))


def simhash16_rows(
    rows: DataFrame, *, id_col: str, hash_col: str = "h"
) -> DataFrame:
    """16-bit SimHash (the compact demo width; see simhash_rows for the
    scale note on why pairing should use >= 48 bits)."""
    return simhash_rows(rows, id_col=id_col, hash_col=hash_col, n_bits=16)


def prefix_filter_jaccard_pairs(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Exact set-similarity JOIN via prefix filtering (AllPairs/PPJoin
    family — Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"; Chaudhuri et al. 2006): all pairs with Jaccard >=
    threshold_num/threshold_den, with NO false negatives and NO
    LSH-style recall loss.

    Why not `jaccard_pairs`? That self-joins on EVERY shared shingle —
    cost Sum_h df(h)^2 over the whole vocabulary, dominated by common
    shingles that can never push a pair over a high threshold. Prefix
    filtering orders each set's elements by ascending global document
    frequency (rarest first, ties by hash — one total order both for
    pruning correctness and determinism) and joins only each set's
    first |x| - ceil(t*|x|) + 1 elements: if J(a,b) >= t then
    |a n b| >= ceil(t*|a|) (since the union contains a), and two sets
    with overlap >= c MUST share an element within their (len-c+1)-
    prefixes of a common total order — so candidate generation is
    exact while the join touches only rare-element buckets. Survivors
    are then verified with the true intersection count; the keep
    predicate is pure 64-bit integer arithmetic
    (den*inter >= num*(|a|+|b|-inter)), so the boundary J == t is
    decided identically on any engine — no float rounding in the
    predicate.

    Scale shape: df attach and candidate generation are equi-joins on
    the 8-byte element hash (co-partitionable; never the element
    text); the per-set rank window partitions by set id (sets are
    individually small); verification joins the candidate PAIRS —
    output-bounded — back to element rows keyed by id. No cartesian
    anywhere.

    `rows` must be DISTINCT (id, hash) element rows. Returns
    (id_a, id_b, n_shared, jaccard) with jaccard rounded 6dp for
    display; membership is decided by the exact integer predicate.
    """
    num, den = int(threshold_num), int(threshold_den)
    assert 0 < num <= den
    rows = tracked_persist(rows)  # sizes + df + ranks + both verify sides
    # r13 optimization (guide §2.4 / §5 caching-for-reuse): sizes and
    # dfreq feed MULTIPLE downstream consumers (the prefix rank join,
    # both verification size lookups / the candidate broadcast sides).
    # Unpersisted, each broadcast rebuilt the aggregate subtree from
    # the rows cache — profiled at sf0.1: ~8 BroadcastExchange nodes
    # whose 'time to collect' was 0.5-1.6 s EACH, all recomputing the
    # same 5k/27k-row aggregates. Persisting the set-count and
    # df-count tables (vocabulary-bounded) and the ranked prefix table
    # (prefix elements only — smaller than rows) computes each subtree
    # once; measured 3.31 s -> 2.67 s median at sf0.1, rows identical.
    sizes = tracked_persist(
        rows.groupBy(id_col).agg(F.count("*").alias("_sz"))
    )
    dfreq = tracked_persist(
        rows.groupBy(hash_col).agg(F.count("*").alias("_df"))
    )
    # prefix length |x| - ceil(num/den * |x|) + 1, ceil in integers
    plen = F.col("_sz") - ((F.lit(num) * F.col("_sz") + (den - 1)) / den).cast(
        "long"
    ) + 1
    ranked = tracked_persist(
        rows.join(dfreq, hash_col)
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", hash_col)
            ),
        )
        .join(sizes, id_col)
        .filter(F.col("_pos") <= plen)
        .select(id_col, hash_col, "_sz", "_pos")
    )
    # LENGTH filter (Bayardo et al. §3, exact — no false negatives):
    # J(a,b) >= t forces t*max(|a|,|b|) <= |a n b| <= min(|a|,|b|), so
    # size-mismatched pairs die INSIDE the candidate join predicate —
    # ranked already carries _sz for the prefix cut, so this costs one
    # 8-byte column on the bucket shuffle and prunes before the
    # aggregate and before verification ever expands a pair.
    # POSITIONAL filter (PPJoin, Xiao et al. 2008 §3.2, exact): for a
    # pair's ORDER-MINIMAL shared element — positions (i, j) in the
    # common (df, hash) total order, which the per-pair min(_pos) on
    # each side recovers because the order-minimal element minimizes
    # BOTH ranks simultaneously and nothing shared precedes it —
    # overlap <= 1 + min(|a|-i, |b|-j). J >= num/den forces
    # inter >= num*(|a|+|b|)/(num+den), so pairs whose first shared
    # prefix element sits too deep die here, in 64-bit integers,
    # before the verification join expands them.
    # the prefix self-join pairs two corpus-shaped sides (the ranked
    # prefix table twice) — same size-conditional strategy rule as the
    # verification joins (_SHJ_EST_BYTES): below the bound the planner's
    # broadcast is fastest locally; above it, broadcasting the prefix
    # table both costs a corpus-wide driver collect and measured ~2x
    # slower than shuffled-hash at the 10x replica, and can never
    # broadcast at 100 TB. Self-join ⇒ either build side is equivalent.
    # Sized from the element ROWS, not ranked: ranked is a join, so its
    # plan-stat estimate is join-product-inflated (always huge); rows'
    # estimate is linear in the input and ranked — the per-set
    # prefixes — is a subset of rows.
    _shj_self = _est_bytes(rows) > _SHJ_EST_BYTES
    _ra = ranked.select(
        F.col(id_col).alias("id_a"),
        hash_col,
        F.col("_sz").alias("_la"),
        F.col("_pos").alias("_pa"),
    )
    if _shj_self:
        _ra = _ra.hint("shuffle_hash")
    cand = (
        _ra
        .join(
            ranked.select(
                F.col(id_col).alias("id_b"),
                hash_col,
                F.col("_sz").alias("_lb"),
                F.col("_pos").alias("_pb"),
            ),
            hash_col,
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(den) * F.least("_la", "_lb")
                >= F.lit(num) * F.greatest("_la", "_lb")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("_pa").alias("_pa"),
            F.min("_pb").alias("_pb"),
            F.min("_la").alias("_la"),  # constant per id; min = value
            F.min("_lb").alias("_lb"),
        )
        .filter(
            F.lit(num + den)
            * (
                F.lit(1)
                + F.least(
                    F.col("_la") - F.col("_pa"), F.col("_lb") - F.col("_pb")
                )
            )
            >= F.lit(num) * (F.col("_la") + F.col("_lb"))
        )
        .select("id_a", "id_b")
    )
    return _verify_candidate_pairs(
        rows,
        cand,
        sizes=sizes,
        id_col=id_col,
        hash_col=hash_col,
        threshold_num=num,
        threshold_den=den,
    )


# Broadcast→shuffled-hash crossover for the verification joins, in
# OPTIMIZER-ESTIMATE bytes of the corpus-shaped side (NOT real bytes —
# the estimate under-counts explode fan-out but scales linearly with
# the input, which is all the decision needs). Calibrated by
# interleaved A/B: sf0.1 estimate 0.16 MiB (broadcast wins), 10x
# replica 1.76 MiB (shuffled-hash wins ~2x); any real deployment sits
# far above the bound, where shuffled-hash is also the only strategy
# that survives.
_SHJ_EST_BYTES = 1 << 20


def _est_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of a frame (planning-only, no job).
    Unknown → assume huge: the scale-safe strategy choice."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001
        return 1 << 62


def _verify_candidate_pairs(
    rows: DataFrame,
    cand: DataFrame,
    *,
    sizes: DataFrame,
    id_col: str,
    hash_col: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Exact verification of candidate PAIRS (id_a < id_b): true
    intersection count via two output-bounded joins back to the
    element rows, then the pure-integer keep predicate
    den*inter >= num*union. Shared by the prefix-filter route (whose
    candidates are provably complete) and the LSH+refine route (whose
    candidates trade bounded recall for tau-independent cost).

    Join strategy (r14, guide §3.1): the verification joins pair the
    output-bounded candidate side against CORPUS-SHAPED tables (the
    element rows, the per-set sizes). Under the session's 64 MB
    auto-broadcast threshold the planner picks the corpus side as the
    broadcast build (its plan-stat estimate stays tiny because explode
    fan-out is not modeled; the candidate side's join-product estimate
    is astronomically large) — fine at sf0.1, but at 10x the measured
    collect+broadcast of the whole corpus's grams already LOSES to a
    shuffled-hash join building on the candidate side (interleaved A/B:
    BHJ ~13 s vs SHJ ~7 s at the 10x replica; at sf0.1 BHJ wins 2.7 vs
    4.3), and at 100 TB the corpus side can never broadcast. So the
    strategy is picked by the same instrument the planner uses — the
    corpus side's plan-stat size estimate — with the bound calibrated
    to the measured crossover: estimates are 0.16 MiB at sf0.1 and
    1.76 MiB at 10x, so above `_SHJ_EST_BYTES` (1 MiB) the candidate
    side carries a shuffle_hash hint and the corpus side streams.
    Result-invariant either way (strategy only)."""
    num, den = int(threshold_num), int(threshold_den)
    _shj = _est_bytes(rows) > _SHJ_EST_BYTES

    def _cand_side(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if _shj else df

    ea = _cand_side(cand).join(
        rows.select(F.col(id_col).alias("id_a"), hash_col), "id_a"
    )
    inter = (
        _cand_side(ea).join(
            rows.select(F.col(id_col).alias("id_b"), hash_col),
            ["id_b", hash_col],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    withsz = _cand_side(inter).join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("sz_a")),
        "id_a",
    )
    withsz = _cand_side(withsz).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("sz_b")),
        "id_b",
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    return (
        withsz.filter(F.lit(den) * F.col("n_shared") >= F.lit(num) * union_sz)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            hround(F.col("n_shared").cast("double") / union_sz, 6).alias(
                "jaccard"
            ),
        )
    )


def set_similarity_pairs(
    rows: DataFrame,
    *,
    id_col: str,
    hash_col: str = "h",
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Routed set-similarity join (r5 VERDICT #3): pick the execution
    strategy by threshold.

    - `prefix` (exact, zero false negatives): prefix-filtered
      AllPairs join. Its verification cost tracks Sum_h df(prefix-h)^2
      over PREFIX elements only; the prefix length is
      |x| - ceil(t|x|) + 1, so cost FALLS as tau rises (at tau=0.6 a
      30-element set exposes 13 rarest elements; at tau=0.2 it exposes
      25 — nearly the whole set, and the prune stops paying).
    - `lsh_refine` (tau-independent cost, bounded recall): MinHash
      8-perm / 4x2-band candidates, then the SAME exact integer
      verification — no false positives ever; false-negative rate is
      the published banding curve 1-(1-s^2)^4 (s=0.95 pair: 2e-4;
      s=0.6 pair: 0.17), the right trade BELOW the high-tau regime
      where the prefix join's candidate volume explodes.

    The route follows the measured decision rule: prefix for
    tau >= 1/2, LSH+refine below (PLANS.md round-6 envelope notes:
    the 10x/100x smoke cost of the prefix route is df-distribution-
    dependent and rises steeply as tau drops, while LSH+refine holds
    the banding join's near-linear profile at any tau)."""
    # validate HERE, not just in the prefix route — review-caught: an
    # invalid threshold (num=0, num>den) auto-routes below tau=1/2 to
    # lsh_refine, whose keep predicate then degenerates to always-true
    # and silently returns every candidate pair instead of raising
    if not 0 < int(threshold_num) <= int(threshold_den):
        raise ValueError(
            f"set similarity threshold must satisfy 0 < num <= den; got "
            f"{threshold_num}/{threshold_den}"
        )
    if 2 * threshold_num >= threshold_den:
        return prefix_filter_jaccard_pairs(
            rows,
            id_col=id_col,
            hash_col=hash_col,
            threshold_num=threshold_num,
            threshold_den=threshold_den,
        )
    rows = tracked_persist(rows)
    # persisted for the same reason as the prefix route: verification
    # probes it twice (sz_a, sz_b) and each probe otherwise rebuilds
    # the aggregate from the rows cache behind its own broadcast
    sizes = tracked_persist(
        rows.groupBy(id_col).agg(F.count("*").alias("_sz"))
    )
    cand = minhash_lsh_pairs(rows, id_col=id_col, hash_col=hash_col)
    return _verify_candidate_pairs(
        rows,
        cand,
        sizes=sizes,
        id_col=id_col,
        hash_col=hash_col,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
    )

"""Similarity search over embedding columns (BASELINE.json north star).

Two tiers, same result contract (query id → top-k neighbors):

- brute-force cosine top-k: exact; cost |Q|×|C|. The engine keeps |Q|
  bounded (a probe subset or a broadcast query batch) so the candidate
  side streams through codegen'd vector math without materializing the
  cross product.
- sign-LSH bucketed: random-hyperplane sign bits bucket the space;
  neighbor search happens within buckets (equi-join on bucket id), the
  standard recall/cost trade. Hyperplanes are derived from index
  arithmetic so both engines (and every executor) regenerate them
  identically with no side channel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from sparkga1_spark.functions import vectors
from sparkga1_spark.functions.numeric import hround
from sparkga1_spark.operators.cache import tracked_persist


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    candidate table, rank per query on rounded cosine with id tiebreak.
    Returns (query_id, cand_id, cos_sim, rank).

    Plan note (kept BNL, r8): the `query_id != cand_id` pairing is
    definitionally non-equi — brute force IS the all-pairs baseline —
    so it compiles to one BroadcastNestedLoopJoin whose build side is
    the probe-bounded query FILTER (a pushdown scan, not an aggregate);
    nothing fact-sized is replicated. The scale path is ivf_topk /
    lsh_bucket_candidates, which replace this kernel entirely."""
    # Pre-join projections do the per-row work once: the float→double
    # cast (inlined per element_at otherwise — a full-array cast × dim
    # per pair) and the norm. The per-pair expression is then just the
    # dot product, divided by the two norms: cos = dot/(na*nb).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vectors.to_double(F.col(vec_col)).alias("_qv"),
        vectors.norm(F.col(vec_col), dim).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        vectors.to_double(F.col(vec_col)).alias("_cv"),
        vectors.norm(F.col(vec_col), dim).alias("_cn"),
    )
    # r13 optimization (guide §2.5 input skew / §1.2 per-task work): the
    # testdata embeddings parquet is a single row group, so the BNL's
    # stream side is ONE scan partition and the whole dot-product kernel
    # serializes on one core (measured: 1.1 s single-task stages on
    # x_knn_label_vote at sf0.1). Hash-repartition the candidate side by
    # id before the pairing so the kernel runs at full parallelism.
    # Explicit N (conf-derived, scale-adaptive) because an AQE-coalescible
    # REPARTITION_BY_COL would be folded back to ~1 partition on byte
    # grounds — bytes are the wrong proxy for the per-pair compute. The
    # extra exchange ships one pass of the (already-projected) vectors;
    # this kernel is the sanctioned small/oracle baseline (see plan
    # note above), never the 100 TB path.
    n_parts = int(candidates.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    c = c.repartition(n_parts, "cand_id")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos_sim",
            hround(
                vectors.dot(F.col("_qv"), F.col("_cv"), dim)
                / (F.col("_qn") * F.col("_cn")),
                6,
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane i is
    ((i*dim+j)*2654435761 mod 1000)/1000 - 0.5 (Knuth multiplicative
    hash). Exact in both engines: integer ops then one short-decimal
    division."""
    return [
        ((plane_idx * dim + j) * 2654435761 % 1000) / 1000.0 - 0.5
        for j in range(dim)
    ]


def sign_lsh_bucket(vec: Column, dim: int, n_planes: int = 4) -> Column:
    """Bucket id = sign bits of the projections onto n_planes
    hyperplanes (bit i set iff dot(v, h_i) > 0)."""
    bucket = F.lit(0)
    for i in range(n_planes):
        h = F.array(*[F.lit(x) for x in hyperplane(dim, i)])
        proj = vectors.dot(vec, h, dim)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(0)
    return bucket.cast("int")


def lsh_bucketed_neighbors(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_planes: int = 4,
    threshold: float = 0.9,
) -> DataFrame:
    """ANN near-neighbor pairs within sign-LSH buckets: bucket each
    vector (one narrow pass), self-join per bucket (equi-join — the
    shuffle key is the bucket id), exact cosine as residual filter.
    Returns (id_a, id_b, cos_sim) with id_a < id_b."""
    bucketed = df.select(
        F.col(id_col),
        vectors.to_double(F.col(vec_col)).alias("_vd"),  # cast once
        vectors.norm(F.col(vec_col), dim).alias("_n"),
        sign_lsh_bucket(F.col(vec_col), dim, n_planes).alias("_bucket"),
    )
    bucketed = tracked_persist(bucketed)  # consumed twice by the self-join
    l, r = bucketed.alias("l"), bucketed.alias("r")
    pairs = l.join(
        r,
        (F.col("l._bucket") == F.col("r._bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        hround(
            vectors.dot(F.col("l._vd"), F.col("r._vd"), dim)
            / (F.col("l._n") * F.col("r._n")),
            6,
        ).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def _ivf_assign_vectorized(
    base: DataFrame, cent_rows: list, id_col: str, nprobe: int
) -> DataFrame:
    """Arrow-batched numpy centroid assignment for `ivf_topk` — the
    same arithmetic as the expression path, replicated bit-for-bit:
    the dot product accumulates PER DIMENSION in the identical
    sequential IEEE order (`acc += v_j * c_j` is one multiply + one add
    per (row, centroid) element, exactly the zip_with/aggregate left
    fold), rounding is the same floor(x·1e6 + 0.5)/1e6 on doubles, and
    ties resolve to the lowest centroid id (cent_rows arrive cid-
    ascending; argmin/stable argsort take the first minimum). NaN
    cosines (zero-norm vectors; never in the fixtures) map to +inf so
    they lose every min, mirroring Spark's NaN-sorts-last. Emits
    (id, _vd, _vn, cluster_id, _probes[nprobe]) — the probe list is
    only consumed for query rows."""
    import numpy as np

    C = np.array([list(r["cv"]) for r in cent_rows], dtype=np.float64)
    cn = np.array([r["cn"] for r in cent_rows], dtype=np.float64)
    cids = np.array([r["cid"] for r in cent_rows])
    n_cent, d = C.shape
    id_sql = base.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_sql}, _vd array<double>, _vn double, "
        f"cluster_id {id_sql}, _probes array<{id_sql}>"
    )
    chunk = max(1, 32_000_000 // (8 * n_cent))  # ~32 MB of score matrix

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out_cluster = np.empty(len(pdf), dtype=cids.dtype)
            out_probes = []
            V = np.array(pdf["_vd"].tolist(), dtype=np.float64)
            vn = pdf["_vn"].to_numpy(dtype=np.float64)
            for lo in range(0, len(pdf), chunk):
                hi = min(lo + chunk, len(pdf))
                dot = np.zeros((hi - lo, n_cent), dtype=np.float64)
                for j in range(d):
                    # one multiply + one add per element, dim order —
                    # the exact left-fold sequence (no reassociation)
                    dot += V[lo:hi, j : j + 1] * C[:, j][None, :]
                cos = dot / (vn[lo:hi, None] * cn[None, :])
                negcos = -(np.floor(cos * 1e6 + 0.5) / 1e6)
                negcos = np.where(np.isnan(negcos), np.inf, negcos)
                out_cluster[lo:hi] = cids[np.argmin(negcos, axis=1)]
                order = np.argsort(negcos, axis=1, kind="stable")[:, :nprobe]
                out_probes.extend(cids[row].tolist() for row in order)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_vd": pdf["_vd"],
                    "_vn": pdf["_vn"],
                    "cluster_id": out_cluster,
                    "_probes": out_probes,
                }
            )

    return base.mapInPandas(run, schema=schema)


def _collect_centroids(
    df: DataFrame, *, id_col: str, vec_col: str, dim: int, centroid_pred
) -> list:
    """The k-sized centroid model pull (the sanctioned build-time
    collect), cid-ascending."""
    rows = sorted(
        df.filter(centroid_pred)
        .select(
            F.col(id_col).alias("cid"),
            vectors.to_double(F.col(vec_col)).alias("cv"),
            vectors.norm(F.col(vec_col), dim).alias("cn"),
        )
        .collect(),
        key=lambda r: r["cid"],
    )
    if not rows:
        raise ValueError("ivf: centroid_pred selected no rows")
    return rows


# Centroid count from which assignment runs the Arrow/numpy kernel
# (_ivf_assign_vectorized) instead of the expression fold: the k-term
# dot-product expression's codegen cost dominates early (an A/B at
# sf0.1, 40 centroids over 2000 vectors: kernel 1.4-1.5s steady-state,
# expression fold 4.3-4.4s).
_IVF_NUMPY_MIN_CENTROIDS = 16


def _ivf_scored(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    centroid_pred,
    nprobe: int,
) -> DataFrame:
    """Shared IVF coarse-quantizer pass for `ivf_topk` and
    `ivfpq_topk`: pull the k-sized centroid model once at build time
    (the sanctioned model pull) and emit a tracked-persisted frame
    (id, _vd, _vn, cluster_id, _probes[nprobe]) — map-only, no
    Exchange between the scan and the cluster-id column. With
    k ≥ _IVF_NUMPY_MIN_CENTROIDS (16) centroids, assignment runs the
    Arrow/numpy kernel, which is bit-identical to the expression fold
    (pinned by test_ivf_vectorized_matches_expression)."""
    id_type = df.schema[id_col].dataType
    cent_rows = _collect_centroids(
        df, id_col=id_col, vec_col=vec_col, dim=dim,
        centroid_pred=centroid_pred,
    )
    base = df.select(
        F.col(id_col),
        vectors.to_double(F.col(vec_col)).alias("_vd"),
        vectors.norm(F.col(vec_col), dim).alias("_vn"),
    )
    if len(cent_rows) >= _IVF_NUMPY_MIN_CENTROIDS:
        return tracked_persist(
            _ivf_assign_vectorized(base, cent_rows, id_col, nprobe)
        )
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(r["cid"]).cast(id_type).alias("cid"),
                F.lit(r["cv"]).cast("array<double>").alias("cv"),
                F.lit(r["cn"]).cast("double").alias("cn"),
            )
            for r in cent_rows
        ]
    )
    sc = F.transform(
        cents_lit,
        lambda c: F.struct(
            (
                -hround(
                    vectors.dot(F.col("_vd"), c["cv"], dim)
                    / (F.col("_vn") * c["cn"]),
                    6,
                )
            ).alias("negcos"),
            c["cid"].alias("cid"),
        ),
    )
    # cluster_id = argmin; probes = the nprobe best cids — computed
    # BEFORE the persist so the cache holds nprobe ids per row instead
    # of k scored structs (narrower for every k > nprobe; the
    # vectorized kernel emits exactly this schema)
    return tracked_persist(
        base.withColumn("_sc", sc).select(
            id_col,
            "_vd",
            "_vn",
            F.array_min("_sc")["cid"].alias("cluster_id"),
            F.transform(
                F.slice(F.array_sort("_sc"), 1, nprobe), lambda p: p["cid"]
            ).alias("_probes"),
        )
    )


def ivf_topk(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    centroid_pred,
    query_pred,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-flat ANN: vectors are assigned to their nearest seed
    centroid (cosine, deterministic tiebreak); each query probes its
    `nprobe` nearest clusters (recall/cost dial — candidates stay
    uniquely assigned, so no dedup is needed across probes).

    Seed centroids come from a deterministic predicate instead of
    k-means iterations so the operator is oracle-checkable; swap the
    centroid source for a trained set in production — the assignment
    and search plan shape (broadcast centroids → one pass to assign,
    equi-join on cluster id to search) is identical and is what makes
    this the 100 TB path vs the brute-force cross product.

    The candidate-side assignment is MAP-ONLY (r2 VERDICT #5): the
    centroid set is pulled ONCE at build time (a k-sized model pull,
    the sanctioned pattern) and rides the scan as a LITERAL array of
    (cent_id, vec, norm) structs; each row picks
    array_min(struct(-cos, cent_id)) with no Exchange and no join node
    between the scan and the cluster-id column (plan-guarded in
    test_plans.py). The former 1-row collect_list aggregate attached
    via join(broadcast(...)) was a BroadcastNestedLoopJoin whose build
    side replicated the centroid scan into both persisted-subtree
    consumers (2 BNLs per query in the r7 plan audit — r7 VERDICT #2).
    The former Window.partitionBy(id) shuffled the whole n×n_cent
    scored stream just to take rn=1.
    The nprobe>1 probe list (query side only, a bounded set) is an
    array_sort + slice over the same scored array — still no window.

    SCALE PATH (r8, r7 VERDICT #8): the expression-tree assignment
    evaluates the centroid transform through Catalyst's higher-order-
    function interpreter at ~10⁷ pair-ops/s — fine at fixture scale
    (k≈40), quadratic death at 100× where the %50 seed rule makes
    k ∝ n (measured 72s at 10×). From k ≥ 16 centroids
    (_IVF_NUMPY_MIN_CENTROIDS) assignment runs an Arrow-batched numpy
    kernel that computes THE SAME sequential left-fold dot product
    (per-dimension accumulation in the identical IEEE order), the same
    floor(x·1e6+0.5) rounding, and the same (negcos, cid) tiebreak —
    bit-identical outputs, pinned by
    test_ivf_vectorized_matches_expression — at numpy matmul-class
    throughput. The driver-gate fixtures (k=40 at sf0.01/0.1) therefore
    run the numpy kernel; smaller centroid sets keep the expression
    fold."""
    scored = _ivf_scored(
        df,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        centroid_pred=centroid_pred,
        nprobe=nprobe,
    )
    assigned = scored.select(id_col, "cluster_id", "_vd", "_vn")
    q = scored.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.explode("_probes").alias("cluster_id"),
        F.col("_vd").alias("_qv"),
        F.col("_vn").alias("_qn"),
    )
    pairs = assigned.join(q, on="cluster_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    topk = pairs.withColumn(
        "cos_sim",
        hround(
            vectors.dot(F.col("_qv"), F.col("_vd"), dim)
            / (F.col("_qn") * F.col("_vn")),
            6,
        ),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), id_col)
    return (
        topk.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("cand_id"), "cos_sim", "rank")
    )


def pq_adc_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column,
    codebook_pred: Column,
    n_subspaces: int = 4,
    sub_dim: int = 16,
    k: int = 3,
) -> DataFrame:
    """Product-quantization asymmetric-distance top-k (the query-time
    half of PQ; the encode audit is plans/queries.py x_pq_encode):
    every vector is encoded as `n_subspaces` one-byte codes against a
    codebook (rows matching `codebook_pred`, one code per codebook
    row), each query (rows matching `query_pred`) precomputes a
    per-(subspace, code) distance LUT, and candidates are scored by
    code lookups — no raw floats touched at scan time.

    Determinism: per-cell distances are rounded to 6dp then snapped to
    integer micro-units; (distance, code) packs into one BIGINT so the
    assignment argmin is a plain hash-aggregable min(); candidate
    scores are exact integer sums ranked with an id tiebreak.

    Scale shape: codebook and LUT broadcast (both tiny); encode and
    scoring are broadcast joins + partial/final aggregates keyed by
    (id, subspace) and (query, id); the top-k cut is a
    WindowGroupLimit. Recall depends on codebook quality; planted-twin
    recall is measured in tests/test_ann_recall.py."""
    from pyspark.sql import Window

    from sparkga1_spark.functions.numeric import hround

    s_ids = F.explode(
        F.array(*[F.lit(s) for s in range(n_subspaces)])
    ).alias("subspace")
    sub = (
        emb.select(id_col, vec_col, s_ids)
        .withColumn(
            "xvec",
            F.slice(
                F.col(vec_col), F.col("subspace") * sub_dim + 1, sub_dim
            ).cast("array<double>"),
        )
        .drop(vec_col)
    )
    cb = (
        emb.filter(codebook_pred)
        .select(F.col(id_col).alias("_cbid"), vec_col, s_ids)
        .withColumn(
            "cvec",
            F.slice(
                F.col(vec_col), F.col("subspace") * sub_dim + 1, sub_dim
            ).cast("array<double>"),
        )
        .drop(vec_col)
    )
    # dense 0..n-1 codes from the codebook rows (stable by id order)
    w_cb = Window.partitionBy("subspace").orderBy("_cbid")
    cb = cb.withColumn("code", F.row_number().over(w_cb) - 1).drop("_cbid")
    diff = F.zip_with("xvec", "cvec", lambda p, q: p - q)
    dist = F.aggregate(
        F.zip_with(diff, diff, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dmicro = F.floor(hround(dist, 6) * 1_000_000 + 0.5).cast("long")
    n_codes = 1 << 20  # id-packing base; codes are << this
    packed = dmicro * n_codes + F.col("code")
    codes = (
        sub.join(F.broadcast(cb), "subspace")
        .select(id_col, "subspace", packed.alias("_k"))
        .groupBy(id_col, "subspace")
        .agg((F.min("_k") % n_codes).alias("code"))
    )
    lut = (
        sub.filter(query_pred)
        .withColumnRenamed(id_col, "_qid")
        .join(F.broadcast(cb), "subspace")
        .select("_qid", "subspace", "code", dmicro.alias("_dm"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col(id_col) != F.col("_qid"))
        .groupBy(F.col("_qid").alias("query_id"), F.col(id_col).alias("cand_id"))
        .agg(F.sum("_dm").alias("d_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("d_micro", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("d_micro").cast("long").alias("d_micro"),
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    centroid_pred,
    codebook_pred,
    query_pred,
    n_subspaces: int = 4,
    sub_dim: int = 16,
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF+PQ composed — the production ANN shape (r8 VERDICT #6): the
    IVF coarse quantizer routes the PQ asymmetric-distance scan through
    the query's `nprobe` probed clusters, so ADC cost is
    Σ probed-cluster sizes × n_subspaces instead of corpus-wide (flat
    PQ's candidate-linear scan measured 98s at a 100× corpus;
    the composition is the textbook IVFADC layout of Jégou et al.'s
    public PQ paper).

    Mechanics: `_ivf_scored` assigns every vector to its nearest seed
    centroid map-only (shared with `ivf_topk`, bit-identical numpy
    kernel from k ≥ 16 centroids); vectors PQ-encode against the seeded
    codebook exactly as `pq_adc_topk` (packed-BIGINT argmin — dense
    codes, hash-aggregable); each query precomputes its LUT and probes
    its `nprobe` best clusters; scoring joins candidate codes to the
    broadcast probe list on cluster_id, then to the broadcast LUT on
    (query, subspace, code), and sums exact integer micro-units. This
    seeded variant (data-row centroids + data-row codebook) is fully
    SQL-expressible, so the driver oracle checks the whole composition
    value-for-value; trained centroids and codebooks would leave the
    plan shape unchanged. NOTE the honest simplification vs. the
    paper: codes quantize the RAW vector, not the residual
    (v − centroid); residual encoding is a map-only subtraction away
    but would put float subtraction ahead of the oracle's integer
    pipeline — recall floors for this variant are pinned in
    tests/test_ann_recall.py alongside the flat-PQ rows."""
    from pyspark.sql import Window

    scored = _ivf_scored(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        centroid_pred=centroid_pred,
        nprobe=nprobe,
    )
    s_ids = F.explode(
        F.array(*[F.lit(s) for s in range(n_subspaces)])
    ).alias("subspace")
    sub = scored.select(
        id_col,
        "cluster_id",
        s_ids,
        F.col("_vd").alias("_v"),
    ).withColumn(
        "xvec", F.slice(F.col("_v"), F.col("subspace") * sub_dim + 1, sub_dim)
    ).drop("_v")
    cb = (
        emb.filter(codebook_pred)
        .select(F.col(id_col).alias("_cbid"), vec_col, s_ids)
        .withColumn(
            "cvec",
            F.slice(
                F.col(vec_col), F.col("subspace") * sub_dim + 1, sub_dim
            ).cast("array<double>"),
        )
        .drop(vec_col)
    )
    w_cb = Window.partitionBy("subspace").orderBy("_cbid")
    cb = cb.withColumn("code", F.row_number().over(w_cb) - 1).drop("_cbid")
    diff = F.zip_with("xvec", "cvec", lambda p, q: p - q)
    dist = F.aggregate(
        F.zip_with(diff, diff, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dmicro = F.floor(hround(dist, 6) * 1_000_000 + 0.5).cast("long")
    pack_base = 1 << 20
    codes = (
        sub.join(F.broadcast(cb), "subspace")
        .select(
            id_col,
            "cluster_id",
            "subspace",
            (dmicro * pack_base + F.col("code")).alias("_k"),
        )
        .groupBy(id_col, "cluster_id", "subspace")
        .agg((F.min("_k") % pack_base).alias("code"))
    )
    lut = (
        sub.join(
            F.broadcast(
                scored.filter(query_pred).select(F.col(id_col).alias("_qid"))
            ),
            F.col(id_col) == F.col("_qid"),
        )
        .join(F.broadcast(cb), "subspace")
        .select("_qid", "subspace", "code", dmicro.alias("_dm"))
    )
    probes = scored.filter(query_pred).select(
        F.col(id_col).alias("_qid"), F.explode("_probes").alias("cluster_id")
    )
    adc = (
        codes.join(F.broadcast(probes), "cluster_id")
        .filter(F.col(id_col) != F.col("_qid"))
        .join(F.broadcast(lut), ["_qid", "subspace", "code"])
        .groupBy(
            F.col("_qid").alias("query_id"), F.col(id_col).alias("cand_id")
        )
        .agg(F.sum("_dm").alias("d_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("d_micro", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "cand_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("d_micro").cast("long").alias("d_micro"),
        )
    )


def pca_components(
    df: DataFrame, *, vec_col: str = "embedding", k: int = 8
):
    """Distributed PCA over an embedding column in ONE scan: each
    Arrow batch emits a (count, mean, centered second-moment) partial
    (vectorized numpy — a few thousand FLOPs per row instead of a d²
    exploded-row aggregate; measured 4-5× cheaper end-to-end at d=64),
    the partials — one model-sized row per batch — merge on the driver
    with Chan's parallel covariance update (numerically stable where
    the naive single-scan E[xxᵀ]−μμᵀ form cancels catastrophically on
    near-constant dimensions), and the d×d matrix is eigendecomposed
    there (the sanctioned k-sized model-pull pattern of
    `_collect_centroids`). Returns
    (mean: list[d], eigenvalues desc: list[d], components: list[k] of
    list[d]).

    Scale: the driver receives one (d + d²)-double row per Arrow
    batch — ~33 KB at d=64, independent of row count; at 1000
    executors that is still only megabytes. On a cluster the merge
    could tree-reduce, but the partial count is batch-count-bounded,
    so a flat fold is fine far past 100 TB."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            vals = [v for v in pdf[vec_col] if v is not None]
            if not vals:
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in vals])
            mean = x.mean(0)
            d = x - mean
            yield pd.DataFrame(
                [(len(x), mean.tolist(), (d.T @ d).reshape(-1).tolist())],
                columns=["n", "mean", "m2"],
            )

    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(partials, schema="n long, mean array<double>, m2 array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_components needs a non-empty vector column")
    dim = len(rows[0]["mean"])
    n_tot, mu_acc = 0, np.zeros(dim)
    m2_acc = np.zeros((dim, dim))
    for r in rows:  # Chan's parallel covariance merge — stable, one scan
        nb = int(r["n"])
        mb = np.array(r["mean"])
        m2b = np.array(r["m2"]).reshape(dim, dim)
        if n_tot == 0:
            n_tot, mu_acc, m2_acc = nb, mb, m2b
            continue
        delta = mb - mu_acc
        tot = n_tot + nb
        m2_acc = m2_acc + m2b + np.outer(delta, delta) * (n_tot * nb / tot)
        mu_acc = mu_acc + delta * (nb / tot)
        n_tot = tot
    mu = [float(v) for v in mu_acc]
    cov = m2_acc / n_tot
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals = evals[order]
    evecs = evecs[:, order]
    comps = [[float(v) for v in evecs[:, j]] for j in range(min(k, dim))]
    return mu, [float(v) for v in evals], comps


def pca_project(
    df: DataFrame, mean: list[float], components: list[list[float]],
    *, vec_col: str = "embedding", out_col: str = "pca",
) -> DataFrame:
    """Project each vector onto the given components (JVM-side
    zip_with/aggregate dot products — no Python in the row path):
    out[j] = (x − μ) · c_j."""
    mu_lit = F.array(*[F.lit(v) for v in mean])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mu_lit, lambda x, m: x - m
    )
    projs = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(v) for v in comp]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for comp in components
    ]
    return df.withColumn(out_col, F.array(*projs))


def mahalanobis_scores(
    df: DataFrame, *, vec_col: str = "embedding", out_col: str = "m2",
    rel_eps: float = 1e-9,
):
    """Mahalanobis distance² per vector under the data's own covariance
    — the whitened outlier score an embedding-curation pipeline prunes
    on (isotropic-safe, unlike raw L2): m² = Σ_j ((x−μ)·v_j)² / λ_j
    over the eigenbasis from pca_components. Components with
    λ ≤ rel_eps·λ_max are dropped (pseudo-inverse convention) so a
    rank-deficient batch cannot divide by ~0. Returns (scored_df,
    n_retained): scoring is one whitened-matrix multiply per Arrow
    batch; the only driver state is the d×d model. The audit identity: the MEAN of m² over
    the fitted data equals the number of retained components exactly
    (E[proj_j²] = λ_j), so a wrong eigenvalue, transposed basis, or
    broken centering shifts the mean off its closed-form target."""
    import numpy as np
    import pandas as pd

    mu, evals, comps = pca_components(df, vec_col=vec_col, k=10**9)
    lmax = max(evals) if evals else 0.0
    keep = [(v, c) for v, c in zip(evals, comps) if v > rel_eps * max(lmax, 1e-300)]
    if not keep:
        # a constant/rank-0 embedding column retains no components;
        # np.array([]).T would otherwise yield shape-(0,) and the
        # matmul dies with a raw numpy shape error instead of a refusal
        raise ValueError("mahalanobis: covariance has no retained components")
    # whitening matrix W[:, j] = v_j / sqrt(lambda_j): m2 = ||(x-mu)W||².
    # One Arrow-batch matmul per partition beats r nested JVM HOF dot
    # products (r=64 inflates the codegen'd expression tree ~r·d wide;
    # measured 6.8s -> scan-bound after this rewrite at sf0.1) — the
    # sanctioned vectorized surface, like the codec chains.
    from pyspark.sql.types import DoubleType, StructField, StructType

    w = np.array([c for _, c in keep]).T / np.sqrt([v for v, _ in keep])
    mu_arr = np.array(mu)
    # fresh StructType — df.schema is a CACHED object and .add() would
    # mutate it in place, corrupting df.columns for later operations
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if any(v is None for v in pdf[vec_col]):
                # pca_components' partials filter None when fitting;
                # scoring has no row to skip to — refuse cleanly
                raise ValueError("mahalanobis: null embedding in score input")
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            m2 = (((x - mu_arr) @ w) ** 2).sum(axis=1) if len(x) else []
            yield pdf.assign(**{out_col: m2})

    return df.mapInPandas(score, schema=out_schema), len(keep)

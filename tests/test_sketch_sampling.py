"""Count-min sketch and deterministic weighted sampling properties.

The oracle gate proves the top-20 probe values; these tests pin the
invariants the gate's fixture cannot see — the CMS overestimate
guarantee over EVERY key (not just heavy hitters), sketch mergeability
(the 100 TB property), and the A-ES sample matching an independent
pure-Python recomputation of the published formula.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F


def _toy_counts(spark, n=400):
    rows = [(f"tok{i % 97}_{i % 7}", None) for i in range(n)]
    return (
        spark.createDataFrame(rows, "token string, _x string")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def test_cms_overestimates_every_key(spark):
    """est >= exact must hold for ALL keys — the defining CMS
    guarantee. A seed/width drift between the build and probe stages
    shows up here as an underestimate on some key even when the top-20
    gate stays green."""
    from sparkga1_spark.operators.sketches import (
        cms_cells,
        cms_point_estimates,
        cms_sketch,
    )

    counts = _toy_counts(spark)
    cells = cms_cells(counts, "token", "cnt")
    sketch = cms_sketch(cells, "cnt")
    est = cms_point_estimates(cells, sketch, "token", "cnt").collect()
    assert est, "probe produced no rows"
    assert all(r.cms_est >= r.cnt for r in est)
    # with 97*... distinct keys in 4x512 cells, at least one collision
    # should make some estimate strictly larger — if every estimate is
    # exact the sketch is suspiciously wide (or the probe read exact
    # counts, not sketch cells)
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    assert all(r.cms_est <= total for r in est)


def test_cms_sketch_merges_by_cell_sum(spark):
    """Sketches built on disjoint halves must merge (cell-wise sum)
    into exactly the whole-corpus sketch — the property that makes the
    2048-cell summary shippable from 1000 executors."""
    from sparkga1_spark.operators.sketches import cms_cells, cms_sketch

    counts = _toy_counts(spark).withColumn(
        "half", (F.crc32(F.col("token")) % 2).cast("int")
    )
    whole = cms_sketch(cms_cells(counts, "token", "cnt"), "cnt")
    halves = [
        cms_sketch(
            cms_cells(counts.filter(F.col("half") == i), "token", "cnt"), "cnt"
        )
        for i in (0, 1)
    ]
    merged = (
        halves[0]
        .unionByName(halves[1])
        .groupBy("depth", "bucket")
        .agg(F.sum("bc").cast("long").alias("bc"))
    )
    w = {(r.depth, r.bucket): r.bc for r in whole.collect()}
    m = {(r.depth, r.bucket): r.bc for r in merged.collect()}
    assert w == m


def test_weighted_sample_matches_pure_python(spark, sf_dir):
    """weighted_sample_topk must select exactly the rows an
    independent Python recomputation of the A-ES key selects (same
    seeded-md5 u, same u^(1/w), same 6dp rounding + id tiebreak)."""
    from sparkga1_spark.operators.sampling import _U_MOD, weighted_sample_topk
    from sparkga1_spark.sources.catalog import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.octet_length("text") + F.lit(1)).cast("long").alias("weight"),
        )
    )
    got = [
        (r.doc_id, r.weight, r.es_key)
        for r in weighted_sample_topk(docs, "doc_id", "weight", 25).collect()
    ]

    rows = docs.collect()
    expect = []
    for r in rows:
        h = int(hashlib.md5(f"41:977:{r.doc_id}".encode()).hexdigest()[:15], 16)
        u = (h % _U_MOD + 1) / (_U_MOD + 1)
        key = math.floor(u ** (1.0 / r.weight) * 1e6 + 0.5) / 1e6
        expect.append((key, r.doc_id, r.weight))
    expect.sort(key=lambda t: (-t[0], t[1]))
    expect = [(d, w, k) for k, d, w in expect[:25]]
    assert got == expect


def test_weighted_sample_prefers_heavy_rows(spark):
    """Statistical sanity: with weights 1000 vs 1, the heavy rows must
    dominate the sample (weight-proportional inclusion is the point of
    A-ES; a uniform-key bug passes determinism tests but fails this)."""
    from sparkga1_spark.operators.sampling import weighted_sample_topk

    rows = [(i, 1000 if i < 100 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    picked = weighted_sample_topk(df, "doc_id", "weight", 50).collect()
    heavy = sum(1 for r in picked if r.weight == 1000)
    assert heavy >= 40, f"only {heavy}/50 heavy rows sampled"


def _ref_merge(sym, a, b, merged):
    """True BPE merge on the TOKEN LIST (left-to-right non-overlapping)
    — not a substring replace, which can false-match across symbol
    boundaries once merges create multi-char symbols."""
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _ref_bpe(vocab, rounds):
    """Pure-Python reference trainer over token lists; returns (merges,
    final word→token-list segmentation)."""
    words = {w: (list(w), f) for w, f in vocab}
    merges = []
    for rnd in range(1, rounds + 1):
        pc: dict[str, int] = {}
        for sym, f in words.values():
            for i in range(len(sym) - 1):
                pr = sym[i] + " " + sym[i + 1]
                pc[pr] = pc.get(pr, 0) + f
        if not pc:
            break
        pair = min(pc, key=lambda p: (-pc[p], p))
        a, b = pair.split(" ")
        merged = a + b
        merges.append((rnd, pair, merged, pc[pair]))
        words = {w: (_ref_merge(sym, a, b, merged), f)
                 for w, (sym, f) in words.items()}
    return merges, {w: sym for w, (sym, f) in words.items()}


def test_bpe_trainer_matches_pure_python(spark):
    """bpe_train_merges must learn exactly the merges a from-scratch
    pure-Python BPE (count overlapping adjacent pairs weighted by word
    freq; argmax by count desc then pair asc; left-to-right
    non-overlapping TOKEN-LIST merge) learns on the same vocabulary."""
    from sparkga1_spark.operators.tokenizer import bpe_train_merges

    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3), ("a", 1)]
    wf = spark.createDataFrame(vocab, "w string, f long")
    got = [
        (r.rnd, r.pair, r.merged, r.wcount)
        for r in bpe_train_merges(spark, wf, rounds=6).collect()
    ]
    expect, _ = _ref_bpe(vocab, 6)
    assert got == expect


def test_bpe_merge_is_boundary_safe(spark):
    """r7 fidelity fix: after round 1 merges 't h'->'th', the word
    'the' is segmented ['th', 'e'] — the round-2 merge 'h e'->'he'
    must NOT touch it (the token pair is ('th','e'), not ('h','e')).
    The old substring replace turned 'th e' into 'the', a merge real
    BPE never performs; its wcount for round 2 also overcounted.
    Engine vs the token-list reference on a fixture built to trip
    exactly that."""
    from sparkga1_spark.operators.tokenizer import (
        bpe_segment_vocab,
        bpe_train_merges,
    )

    vocab = [("the", 5), ("th", 40), ("he", 30)]
    wf = spark.createDataFrame(vocab, "w string, f long")
    got = [
        (r.rnd, r.pair, r.merged, r.wcount)
        for r in bpe_train_merges(spark, wf, rounds=2).collect()
    ]
    expect, seg = _ref_bpe(vocab, 2)
    assert expect == [(1, "t h", "th", 45), (2, "h e", "he", 30)]
    assert got == expect
    toks = {r.w: r.n_tok for r in
            bpe_segment_vocab(spark, wf, rounds=2).collect()}
    assert seg["the"] == ["th", "e"]
    assert toks == {"the": 2, "th": 1, "he": 1}


def test_bpe_rejects_delimiter_bearing_words(spark):
    """Words containing the \x1f wrapping delimiter would break the
    boundary invariant — the trainer must refuse, not mis-segment."""
    import pytest as _pytest

    from sparkga1_spark.operators.tokenizer import bpe_train_merges

    wf = spark.createDataFrame([("a\x1fb", 3)], "w string, f long")
    with _pytest.raises(Exception, match="delimiter"):
        bpe_train_merges(spark, wf, rounds=1).collect()


def test_bpe_encoder_matches_pure_python(spark):
    """bpe_segment_vocab must tokenize every vocabulary word exactly as
    the pure-Python reference does after the same merges — including a
    word made of ONLY merged symbols (1 token) and a word the merges
    never touch (len(word) tokens)."""
    from sparkga1_spark.operators.tokenizer import bpe_segment_vocab

    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3), ("a", 1)]
    wf = spark.createDataFrame(vocab, "w string, f long")
    got = {r.w: r.n_tok for r in bpe_segment_vocab(spark, wf, rounds=6).collect()}

    _, seg = _ref_bpe(vocab, 6)
    expect = {w: len(sym) for w, sym in seg.items()}
    assert got == expect
    assert got["a"] == 1  # single char: never merged, one token


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """w <= 0 must raise, not silently outrank every valid row (w < 0
    yields keys > 1; w = 0 yields u^inf)."""
    import pytest as _pytest

    from sparkga1_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, weight long"
    )
    with _pytest.raises(Exception, match="non-positive weight"):
        weighted_sample_topk(df, "doc_id", "weight", 2).collect()


def test_containment_catches_what_jaccard_misses(spark):
    """A 12-shingle doc fully contained in a 200-shingle doc:
    containment(a→b) = 1.0 but Jaccard = 12/200 = 0.06 — jaccard_pairs
    at tau=0.5 must NOT pair them, containment_pairs at 0.9 MUST, and
    only in the contained→container direction."""
    from sparkga1_spark.operators.dedup import containment_pairs, jaccard_pairs

    rows = [(1, h) for h in range(12)] + [(2, h) for h in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, h long")

    jac = jaccard_pairs(df, id_col="doc_id", threshold=0.5).collect()
    assert jac == []

    cont = containment_pairs(
        df, id_col="doc_id", threshold_num=9, threshold_den=10
    ).collect()
    assert [(r.id_contained, r.id_container, r.n_shared, r.containment) for r in cont] == [
        (1, 2, 12, 1.0)
    ]


def test_bpe_rejects_empty_word(spark):
    """'' wraps to back-to-back delimiters, which _unwrap turned into a
    one-space string — a phantom 2-token segmentation for a
    zero-character word (review-caught). The trainer refuses instead."""
    import pytest as _pytest

    from sparkga1_spark.operators.tokenizer import bpe_train_merges

    wf = spark.createDataFrame([("", 3), ("ab", 1)], "w string, f long")
    with _pytest.raises(Exception, match="empty word"):
        bpe_train_merges(spark, wf, rounds=1).collect()

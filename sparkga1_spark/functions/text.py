"""Text-analysis building blocks for the training-data-pipeline surface
(BASELINE.json north star): tokenization, n-gram shingles, quality
signals, language scoring.

Everything here is built from JVM-side built-ins (split / regexp /
higher-order array functions) — no Python in the hot path — and each
helper has a mirrored DuckDB SQL fragment for the oracle gate, following
the same exact-arithmetic discipline as functions/hashing.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from sparkga1_spark.functions.hashing import stable_hash64

# A BPE-ish pre-tokenizer: words | numbers | single non-space symbols.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language marker vocabularies for the n-gram/stopword language
# heuristic. Deterministic and oracle-mirrorable; real deployments swap
# in fastText-style models via the pandas-UDF transform surface.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("的", "了", "是", "在"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def normalize_whitespace(text: Column) -> Column:
    """Collapse ALL whitespace runs (tabs/newlines/CR included) to
    single spaces — the ingestion-side normalization that makes the
    `words()` contract hold for raw multi-line text. Map-only JVM
    regex; run it once at ingest (the PII/quality scrubbers are the
    same shape), not per tokenizing query."""
    return F.regexp_replace(text, r"\s+", " ")


def words(text: Column) -> Column:
    """SPACE-run tokenization — the engine's token contract is
    'tokens are separated by runs of spaces', matching the testdata
    generator's space-normalized single-line corpus and mirrored
    byte-for-byte in every DuckDB oracle:
    str_split_regex(trim(x), ' +').

    Deliberately NOT generic whitespace: raw text with tabs/newlines
    (or empty strings, which yield one empty token here — Spark and
    DuckDB agree) must pass through normalize_whitespace at ingest
    first; silently widening the split here would change every
    tokenize-family result under the value-hash gate."""
    return F.split(F.trim(text), " +")


def word_count(text: Column) -> Column:
    return F.size(words(text))


def token_count_bpeish(text: Column) -> Column:
    """Count of BPE-ish pre-tokens. DuckDB mirror:
    length(regexp_extract_all(x, TOKEN_REGEX))"""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def word_ngrams(ws: Column, n: int) -> Column:
    """Contiguous word n-grams joined by single spaces; empty array when
    the document has fewer than n words.

    Implementation: zip n shifted slices of the word array. The naive
    transform-over-indices form (element_at(ws, i+k) per gram) re-
    evaluates the interpreted `ws` expression PER ELEMENT — O(n²) per
    document (measured ~8× slower on sf0.1 documents); slicing
    evaluates it a constant n+1 times.

    DuckDB mirror (1-indexed lists):
      [array_to_string(W[i:i+n-1], ' ')
       for i in generate_series(1, greatest(len(W)-n+1, 0))]
    """
    if n == 1:
        return ws
    cnt = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    slices = [F.slice(ws, k + 1, cnt) for k in range(n)]
    if n == 2:
        return F.zip_with(slices[0], slices[1], lambda a, b: F.concat_ws(" ", a, b))
    z = F.arrays_zip(*slices)
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )


def _gram_rows(docs, *, id_col: str, text_col: str, n: int, spread: bool = True):
    """(id, _g) word n-gram rows — the shared root of the whole
    shingle family.

    r13 optimization #2 (guide §2.4 remove shuffles outright): grams
    are built MAP-SIDE from the split array (word_ngrams slices + zip)
    and exploded — no window, no sort, no per-token rows crossing the
    wire. The earlier window form (posexplode → keyed repartition →
    lead()) shuffled ~270k (id, _idx, _w) token rows and paid a
    per-document sort; this form shuffles the 5k (id, W) doc rows
    once. The split is materialized BEFORE the repartition, and the
    exchange stops projection collapse, so the interpreted-HOF caveat
    on word_ngrams ("split re-evaluated per element") does not apply:
    the lambdas run over an attribute, not the split expression.

    The keyed repartition survives from optimization #1 for the same
    reason as before: a single-row-group scan arrives as ONE partition
    and the gram/hash CPU must spread; hash(id) ALSO satisfies the
    downstream (id, h) distinct's clustering, so exchange count is
    unchanged (n_parts conf-derived, scale-adaptive). Measured at
    sf0.1 vs the window form (steal ≤0.3% interleaved A/B):
    x_set_similarity_join 3.35→2.36, x_curation_pipeline_v2 2.21→1.88,
    x_minhash_accuracy_audit 1.51→1.24, x_dedup_containment 0.77→0.59,
    x_dedup_minhash_lsh 0.97→0.86, x_dedup_ngram_jaccard 0.63→0.57;
    x_boilerplate_shingles neutral, x_span_dup_mass ~+0.08 (accepted);
    family equality pinned on two representatives + the oracle gate.

    spread=False skips the keyed repartition for TINY inputs (e.g. the
    boilerplate recovery pass over ~20 representative docs, where a
    200-partition exchange is pure scheduling overhead). Note the
    interpreted-HOF caveat returns without the exchange (projection
    collapse can re-evaluate the split per element) — only use it when
    the input is a bounded handful of rows."""
    w = docs.select(F.col(id_col), words(F.col(text_col)).alias("_W"))
    if spread:
        n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        w = w.repartition(n_parts, id_col)
    return w.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col("_W"), n)).alias("_g"),
    )


def shingle_hash_rows(docs, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3):
    """Distinct (id, shingle-hash) ROWS — the scale shape for the
    minhash/jaccard/simhash family (see _gram_rows for the plan shape).

    DuckDB oracle mirror of the shingle set (array form, same hashes):
      list_distinct([CAST(('0x' || substr(md5(W[i]||' '||W[i+1]||' '||W[i+2]),1,15)) AS BIGINT)
                     for i in generate_series(1, greatest(len(W)-2, 0))])
    """
    grams = _gram_rows(docs, id_col=id_col, text_col=text_col, n=n)
    return grams.select(
        F.col(id_col), stable_hash64(F.col("_g")).alias("h")
    ).distinct()


def shingle_text_rows(docs, *, id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, distinct: bool = True, spread: bool = True):
    """(id, gram, h) rows — the string-keeping variant used by top-k
    RECOVERY passes (e.g. boilerplate detection reports the shingle
    text for a handful of hashes). Never shuffle this stream by gram at
    scale; filter it against a broadcast hash set first.

    distinct=False (r13, guide §2.2 shuffle fewer bytes): skips the
    per-doc dedup entirely — correct whenever the consumer is invariant
    under within-document duplicates (min/max/any over gram per hash),
    which every recovery pass is. The distinct was a full-corpus
    shuffle of the STRING gram rows purely to drop repeats the
    downstream aggregate ignores."""
    grams = _gram_rows(docs, id_col=id_col, text_col=text_col, n=n, spread=spread)
    rows = grams.select(
        F.col(id_col),
        F.col("_g").alias("gram"),
        stable_hash64(F.col("_g")).alias("h"),
    )
    return rows.distinct() if distinct else rows


def alpha_ratio(text: Column) -> Column:
    """Fraction of alphabetic characters. DuckDB mirror:
    length(regexp_replace(x, '[^A-Za-z]', '', 'g')) / length(x)"""
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    return alpha.cast("double") / F.length(text)


def stopword_ratio(text: Column) -> Column:
    """Stopword tokens / all tokens (quality signal)."""
    ws = words(text)
    hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return hits.cast("double") / F.size(ws)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language over whitespace tokens."""
    ws = words(text)

    def hit(markers: tuple[str, ...]):
        return lambda w: w.isin(*markers)

    return {
        lang: F.size(F.filter(ws, hit(markers)))
        for lang, markers in LANG_MARKERS.items()
    }

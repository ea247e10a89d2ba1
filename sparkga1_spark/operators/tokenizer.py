"""BPE tokenizer training (Sennrich et al. 2016) as Spark plans.

x_bpe_pair_counts computes ONE round of pair statistics; this module
runs the actual iterative trainer: k rounds of (count adjacent symbol
pairs weighted by word frequency) → (argmax pair, deterministic
tiebreak) → (merge that pair everywhere) — the algorithm every
public BPE implementation runs on the word-frequency table.

Merge application is BOUNDARY-SAFE (r7): a plain substring replace on
the space-joined form false-matches across symbol boundaries once
merges create multi-character symbols — "th e" contains the substring
"h e", so replace("h e" → "he") would corrupt the symbol "th" into
"the", a merge real BPE never performs. Each symbol is therefore
wrapped in a \\x1f delimiter during the loop ("\\x1fth\\x1f\\x1fe\\x1f"),
making every pattern occurrence start and end exactly at symbol
boundaries, while left-to-right non-overlapping replace still merges
adjacent repeats ("a b a b" → "ab ab") — the two properties a padded
space-replace cannot deliver together. Corpus tokens containing \\x1f
are refused up front (ValueError) rather than silently mis-segmented.

Scale shape (why trainers survive 100 TB): the corpus is touched
EXACTLY ONCE (the word-frequency aggregate, the same shuffle
x_vocab_topk pays); every merge round then runs over the vocabulary
table only — millions of rows, not the corpus — and the driver pulls
ONE small argmax result per round (the k-means-precedent collect
size). The trainer is one Spark job per merge — fine for
audit-scale rounds, unusable for a real 32k-merge vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sparkga1_spark.operators.cache import tracked_persist

# U+001F (unit separator) — the symbol-boundary delimiter. Any corpus
# word containing it would break the wrapping invariant, so the vocab
# ingest refuses such words explicitly.
_D = "\x1f"


def _wrap(s: Column) -> Column:
    """space-joined symbol string → delimiter-wrapped form: each symbol
    becomes \\x1fsym\\x1f, e.g. 'th e' → '\\x1fth\\x1f\\x1fe\\x1f'."""
    return F.concat(F.lit(_D), F.replace(s, F.lit(" "), F.lit(_D + _D)), F.lit(_D))


def _unwrap(s: Column) -> Column:
    """inverse of _wrap (constant-pattern regex — no data in the
    pattern position)."""
    return F.regexp_replace(
        F.replace(s, F.lit(_D + _D), F.lit(" ")), f"^{_D}|{_D}$", ""
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    """(s wrapped, f) → weighted adjacent-pair counts (pr 'a b', cnt)."""
    return (
        wf.select(
            "f",
            F.split(F.regexp_replace("s", f"^{_D}|{_D}$", ""), _D + _D).alias("l"),
        )
        .filter(F.size("l") >= 2)
        .select(
            "f",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1),"
                    " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            ).alias("pr"),
        )
        .groupBy("pr")
        .agg(F.sum("f").cast("long").alias("cnt"))
    )


def _apply_merge(wf: DataFrame, pr: str, merged: str) -> DataFrame:
    """Apply one merge to the wrapped symbol column: the pattern
    '\\x1fa\\x1f\\x1fb\\x1f' can only occur at exact symbol boundaries,
    and replace()'s left-to-right non-overlapping scan merges adjacent
    repeats correctly. Pair text comes from corpus data — always column
    literals, never interpolated into an expr string."""
    pat = _D + pr.replace(" ", _D + _D) + _D
    rep = _D + merged + _D
    return wf.withColumn("s", F.replace("s", F.lit(pat), F.lit(rep)))


def _prepare(word_freq: DataFrame) -> DataFrame:
    """(w, f) → (w, s wrapped, f), refusing delimiter-bearing and EMPTY
    words (review-caught: '' wraps to '\\x1f\\x1f', which _unwrap turns
    into a one-space string — a phantom 2-token segmentation for a
    zero-character word; a zero-symbol word has no BPE meaning, so it
    refuses like the delimiter case rather than guessing)."""
    guarded = word_freq.withColumn(
        "w",
        F.when(
            F.col("w").contains(_D),
            F.raise_error(F.lit("bpe: word contains the \\x1f delimiter")),
        )
        .when(
            F.col("w") == "",
            F.raise_error(F.lit("bpe: empty word in the frequency table")),
        )
        .otherwise(F.col("w")),
    )
    wf = guarded.select(
        "w",
        _wrap(F.array_join(F.split("w", ""), " ")).alias("s"),
        F.col("f"),
    )
    # the vocab table feeds every round — persist the base once; each
    # round's replace() is a narrow op over the cached rows
    return tracked_persist(wf)


def _bpe_rounds(word_freq: DataFrame, rounds: int):
    """Shared merge loop: (w, f) word-frequency table → (final vocab
    DataFrame (w, s space-joined, f) with all merges applied, merges
    list of (rnd, pair, merged, wcount)). The trainer returns the
    merges; the encoder returns the segmented vocab — same loop, so
    the two can never disagree about what the learned merges do."""
    wf = _prepare(word_freq)
    merges = []
    for rnd in range(1, rounds + 1):
        top = _pair_counts(wf).orderBy(F.desc("cnt"), "pr").limit(1).collect()
        if not top:
            break  # vocabulary fully merged — nothing adjacent remains
        pr, cnt = top[0].pr, int(top[0].cnt)
        merged = pr.replace(" ", "")
        merges.append((rnd, pr, merged, cnt))
        wf = _apply_merge(wf, pr, merged)
    return wf.withColumn("s", _unwrap(F.col("s"))), merges


def bpe_train_merges(
    spark: SparkSession, word_freq: DataFrame, rounds: int = 5
) -> DataFrame:
    """(w, f) word-frequency table → one row per learned merge:
    (rnd, pair, merged, wcount). wcount is the weighted pair count
    that JUSTIFIED the merge (measured before applying it), so the
    output pins every round's full count-argmax-merge cycle."""
    _, merges = _bpe_rounds(word_freq, rounds)
    return spark.createDataFrame(
        merges, "rnd int, pair string, merged string, wcount long"
    )


def bpe_segment_vocab(
    spark: SparkSession, word_freq: DataFrame, rounds: int = 5
) -> DataFrame:
    """(w, f) word-frequency table → (w, n_tok): token count per
    vocabulary word AFTER the learned merges — the ENCODE side of BPE.
    Tokenizing a corpus never touches document text a second time:
    the vocab table (corpus-bounded, millions of rows at 100 TB, not
    trillions) carries the segmentation, and per-doc token counts are
    one join of the word-occurrence stream against it."""
    wf, _ = _bpe_rounds(word_freq, rounds)
    return wf.select(
        "w", F.size(F.split("s", " ")).cast("long").alias("n_tok")
    )

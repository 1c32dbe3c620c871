"""Tokenizer-training operators.

The expensive step of BPE tokenizer training is corpus-wide pair
statistics: count every adjacent symbol pair, weighted by how often the
containing word occurs. At 100 TB that count is the whole job — the
merge loop itself touches only the (tiny) vocabulary — so the operator
distributes exactly that: one shuffle on the word (frequency table, a
few million distinct words regardless of corpus size), one shuffle on
the pair (count rollup over the *distinct* word set, not the corpus).
Everything is built-in column expressions — split / sequence / substr —
inside whole-stage codegen; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from archive_to_parquet_spark.functions.text import words_col


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — lowercased, whitespace-split.
    The map-side-combined groupBy collapses the corpus to its distinct
    word set; every downstream tokenizer statistic runs on this table,
    never on raw text again."""
    words = F.explode(words_col(F.lower(text_col))).alias("word")
    return df.select(words).groupBy("word").agg(F.count("*").alias("freq"))


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 1,
) -> DataFrame:
    """Adjacent character-pair counts weighted by word frequency — the
    statistic the FIRST BPE merge step maximizes (symbols start as
    single characters, so an adjacent pair is a 2-char substring).

    Returns (pair, count). Plan: word frequency table (shuffle 1, on
    word) → per distinct word, explode the length-1 positions and take
    ``substr(word, i, 2)`` (no Python, char-indexed so multi-byte text
    is handled by the engine) → weighted count per pair (shuffle 2, on
    pair, map-side partial). Cost after shuffle 1 is bounded by the
    vocabulary, not the corpus.
    """
    wf = word_frequencies(df, text_col)
    # guard 1-char words: sequence(1, 0) DESCENDS in Spark ([1, 0]),
    # it does not return empty — emit no pairs instead
    positions = F.when(
        F.length("word") > 1, F.sequence(F.lit(1), F.length("word") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = wf.select(
        "freq",
        F.explode(
            F.transform(positions, lambda i: F.col("word").substr(i, F.lit(2)))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("count"))
        .filter(F.col("count") >= min_pair_count)
    )


# Symbol separator for multi-round merges: a control char that cannot
# occur inside a (whitespace-split) word.
_SEP = "\x1f"


def bpe_merge_rounds(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> list[tuple[str, str, int]]:
    """Run ``n_merges`` BPE merge rounds; return the learned merges
    ``[(left, right, count), ...]`` in order.

    The corpus-scale work — the word frequency table — is computed ONCE
    and cached; every round re-tokenizes only the *distinct word set*
    with the merges learned so far and counts adjacent symbol pairs.
    Symbol boundaries are tracked with a separator char (``\\x1f``): a
    word's symbol string starts fully char-split and each learned merge
    (l, r) is applied as ``replace(l␟r → lr)`` — string replace scans
    left-to-right over non-overlapping matches, which is exactly BPE's
    greedy application order.

    Each round collects ONE (left, right, count) row — vocabulary
    material, not data — the standard driver loop of distributed BPE
    trainers. Ties break deterministically on (count desc, left, right).
    """
    wf = word_frequencies(df, text_col).cache()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            sym = F.array_join(F.split(F.col("word"), ""), _SEP)
            for left, right, _cnt in merges:
                sym = F.replace(sym, F.lit(left + _SEP + right), F.lit(left + right))
            syms = F.split(sym, _SEP)
            pair_col = F.explode(
                F.when(
                    F.size(syms) > 1,
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda i: F.struct(
                            F.element_at(syms, i).alias("l"),
                            F.element_at(syms, i + 1).alias("r"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
            )
            counted = (
                wf.select("freq", pair_col.alias("p"))
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("count"))
                .orderBy(F.col("count").desc(), F.col("l").asc(), F.col("r").asc())
                .limit(1)
                .collect()
            )
            if not counted:
                break
            row = counted[0]
            merges.append((row["l"], row["r"], row["count"]))
    finally:
        wf.unpersist()
    return merges


def bpe_token_count_col(text_col: str, merges: list[tuple[str, str]]):
    """(n_words, n_tokens) columns: encode ``text_col`` with a FIXED,
    ordered BPE merge list and count the resulting tokens — the apply
    side of the tokenizer (the learner above produces the merge list;
    at run time it is vocabulary material, broadcast by closure).

    Pure JVM expressions end to end: per word, char-split symbols are
    joined with the ``\\x1f`` separator and each merge (l, r) applied as
    a left-to-right non-overlapping string replace (BPE's greedy
    application order); the token count is the surviving separator
    count + 1, summed over words with ``aggregate`` — no explode, no
    shuffle, no Python. Words containing non-printable-ASCII characters
    count as ONE token (the UNK convention) — it also sidesteps the one
    engine divergence char-splitting has (Java splits non-BMP code
    points into surrogate halves).
    """
    words = words_col(F.lower(text_col))

    def word_tokens(w):
        sym = F.array_join(F.split(w, ""), _SEP)
        for left, right in merges:
            sym = F.replace(sym, F.lit(left + _SEP + right), F.lit(left + right))
        return F.when(
            w.rlike("^[ -~]*$"), F.size(F.split(sym, _SEP))
        ).otherwise(F.lit(1))

    n_tokens = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + word_tokens(w)
    ).cast("long")
    return F.size(words).cast("long"), n_tokens

"""Text-analysis functions for training-data pipelines.

All functions are pure column expressions (JVM-side, whole-stage
codegen) — language ID, quality scoring, token counting, and
fingerprinting all stay out of Python. SimHash lives in
``operators.dedup.simhash_signature`` (also fully JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# -- token counting ----------------------------------------------------------

# BPE-ish word/number/punct splitter: words (with contractions), numbers,
# runs of other non-space symbols — a deterministic regex approximation of
# byte-pair-encoder pre-tokenization.
TOKEN_REGEX = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]"


def token_count_col(text: Column | str, mode: str = "whitespace") -> Column:
    """Token count: 'whitespace' (split on runs of whitespace) or 'bpe'
    (regex pre-tokenizer above)."""
    col = F.col(text) if isinstance(text, str) else text
    if mode == "whitespace":
        # count of \S+ runs — exactly len(regexp_extract_all(t, '\S+')),
        # the form the DuckDB oracle uses; 0 for empty/blank strings
        return F.regexp_count(col, F.lit(r"\S+"))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), F.lit(0)))
    raise ValueError(f"unknown token mode {mode!r}")


# -- words and word n-gram shingles -------------------------------------------


def words_col(text: Column | str) -> Column:
    """Whitespace words: ``text`` split on runs of whitespace, minus the
    empty strings split() emits at a leading or trailing boundary
    (``F.trim`` strips only spaces, so a trailing newline would
    otherwise yield a phantom '' word). Callers that lowercase pass
    ``F.lower(...)``."""
    return F.array_remove(F.split(text, r"\s+"), "")


def terms_col(text: Column | str) -> Column:
    """Lowercase alphanumeric terms: the runs of ``[a-z0-9]`` in
    ``lower(text)`` — the index/query term split of the BM25 family,
    the count-min word sketch and the readability word count, written
    ``regexp_extract_all(lower(text), '[a-z0-9]+')`` in their oracles."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), F.lit(0))


def word_ngrams_col(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (lowercased, whitespace-split).

    Built by zipping the word array with its k-shifted slices and
    concatenating per element. The naive form —
    ``transform(sequence(...), i -> concat_ws(' ', slice(words, i+1, n)))``
    — embeds the whole ``words`` expression inside the lambda, so Spark
    re-evaluates the split per SHINGLE (O(words²) per row; measured 2.5×
    slower at sf0.1, worse with element_at). Here every shifted slice is
    evaluated once per row and the lambda touches only its own element.

    Trailing semantics match the reference oracle: exactly
    ``max(len-n+1, 1)`` shingles; documents shorter than ``n`` words
    yield one shingle of all their words (arrays_zip pads with null,
    concat_ws skips nulls).
    """
    words = words_col(F.lower(text))
    n_sh = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    shifted = [words] + [
        F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(1)))
        for k in range(1, n)
    ]
    zipped = F.slice(F.arrays_zip(*shifted), 1, n_sh)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )


# -- language ID (stopword-hit heuristic) ------------------------------------

# Tiny per-language stopword lists; the heuristic scores each language by
# the number of stopword occurrences and picks the argmax (ties broken by
# language code order, deterministic).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ich", "mit", "ein", "zu"),
    "en": ("the", "and", "is", "of", "to", "in", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "una", "es"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "dans"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
}


def stopword_pattern(lang: str) -> str:
    """Regex counting stopword occurrences for a language. Word-boundary
    anchored for Latin scripts; bare alternation for zh (ASCII ``\\b`` is
    meaningless between CJK chars in both Java regex and RE2). The pattern
    is shared verbatim with the DuckDB oracle SQL — keep it in the common
    subset of the two dialects (char classes, alternation, (?i), \\b)."""
    words = STOPWORDS[lang]
    if lang == "zh":
        return "(?:" + "|".join(words) + ")"
    return r"(?i)\b(?:" + "|".join(words) + r")\b"


def _stopword_hits(col: Column, lang: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(stopword_pattern(lang)), F.lit(0)))


def language_id_col(text: Column | str) -> Column:
    """Argmax-stopword-hits language guess over the STOPWORDS languages;
    'und' (undetermined) when no stopword of any language occurs."""
    col = F.col(text) if isinstance(text, str) else text
    langs = sorted(STOPWORDS)
    scores = F.array(
        *[
            F.struct(
                _stopword_hits(col, lang).alias("hits"),
                # negative index so array_max's lexicographic struct compare
                # breaks score ties toward the EARLIER language code
                F.lit(-i).alias("neg_idx"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(scores)
    return F.when(best["hits"] <= 0, F.lit("und")).otherwise(best["lang"])


# -- quality scoring ----------------------------------------------------------


def quality_score_cols(text: Column | str) -> dict[str, Column]:
    """Cheap quality signals: length, punctuation ratio, stopword ratio,
    mean word length, alpha ratio. Returns named columns; compose as
    needed. All pure expressions."""
    col = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(col)
    n_tokens = token_count_col(col, "whitespace")
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^\w\s]"), F.lit(0)))
    n_alpha = F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]"), F.lit(0)))
    en_stop = _stopword_hits(col, "en")
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "alpha_ratio": n_alpha.cast("double") / safe_chars,
        "stopword_ratio": en_stop.cast("double") / safe_tokens,
        "mean_word_len": n_chars.cast("double") / safe_tokens,
    }


# -- Gopher / C4 quality heuristics -------------------------------------------

# Gopher's required-stopword gate (Rae et al. 2021, Table A1): a document
# must contain at least 2 of these to pass.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# '#' and ellipsis (three dots or the unicode char) are Gopher's "symbol"
# set for the symbol-to-word gate. Shared verbatim with the DuckDB oracle.
GOPHER_SYMBOL_REGEX = r"#|\.\.\.|…"


def gopher_quality_cols(text: Column | str) -> dict[str, Column]:
    """Gopher/C4-style repetition + quality signals as pure column
    expressions (whole-stage codegen, zero Python).

    Word signals: word count, mean word length (sum of word chars /
    words — Gopher's definition, not chars/tokens), fraction of words
    containing an alphabetic char, symbol-to-word ratio, count of
    distinct Gopher required stopwords present.

    Line signals (over non-blank lines): bullet-start fraction,
    ellipsis-end fraction, terminal-punctuation-end fraction (C4), and
    duplicate-line fractions by occurrence and by character mass.
    Duplicate detection sorts the line array once and compares each
    element to its shifted neighbors (arrays_zip of pre-shifted slices —
    the nested ``filter(lines, ...)`` form would re-evaluate the outer
    array per element, O(L²) splits per row).

    ``gopher_pass`` combines the standard thresholds (50..100k words,
    mean word len 3..10, symbol ratio < 0.1, bullet < 0.9,
    ellipsis < 0.3, alpha-word fraction > 0.8, ≥2 required stopwords,
    dup-line occurrence fraction < 0.3, dup-line char fraction < 0.2).
    """
    col = F.col(text) if isinstance(text, str) else text
    words = words_col(col)
    n_words = F.size(words)
    safe_words = F.greatest(n_words, F.lit(1))
    word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = word_chars.cast("double") / safe_words
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    frac_alpha_words = alpha_words.cast("double") / safe_words
    n_symbols = F.regexp_count(col, F.lit(GOPHER_SYMBOL_REGEX))
    symbol_word_ratio = n_symbols.cast("double") / safe_words
    req_stopwords = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS]),
        )
    )

    lines = F.filter(
        F.split(col, "\n"), lambda l: F.length(F.trim(l)) > 0
    )
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1))
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    endpunct_lines = F.size(F.filter(lines, lambda l: l.rlike("[.!?\"']\\s*$")))
    line_chars = F.aggregate(lines, F.lit(0), lambda acc, l: acc + F.length(l))

    # duplicate lines: sort once, then an occurrence is "duplicated" iff
    # it equals its predecessor or successor in the sorted array
    s = F.array_sort(lines)
    tail_len = F.greatest(n_lines - F.lit(1), F.lit(0))
    prev = F.concat(
        F.array(F.lit(None).cast("string")), F.slice(s, 1, tail_len)
    )
    nxt = F.concat(
        F.slice(s, 2, tail_len), F.array(F.lit(None).cast("string"))
    )
    z = F.arrays_zip(s, prev, nxt)
    dup_occ = F.filter(z, lambda e: (e["0"] == e["1"]) | (e["0"] == e["2"]))
    n_dup_lines = F.size(dup_occ)
    dup_line_chars = F.aggregate(
        dup_occ, F.lit(0), lambda acc, e: acc + F.length(e["0"])
    )
    frac_dup_lines = n_dup_lines.cast("double") / safe_lines
    frac_chars_dup_lines = dup_line_chars.cast("double") / F.greatest(
        line_chars, F.lit(1)
    )

    frac_bullet = bullet_lines.cast("double") / safe_lines
    frac_ellipsis = ellipsis_lines.cast("double") / safe_lines
    gopher_pass = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (symbol_word_ratio < 0.1)
        & (frac_bullet < 0.9)
        & (frac_ellipsis < 0.3)
        & (frac_alpha_words > 0.8)
        & (req_stopwords >= 2)
        & (frac_dup_lines < 0.3)
        & (frac_chars_dup_lines < 0.2)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "frac_alpha_words": frac_alpha_words,
        "symbol_word_ratio": symbol_word_ratio,
        "req_stopwords": req_stopwords,
        "n_lines": n_lines,
        "frac_dup_lines": frac_dup_lines,
        "frac_chars_dup_lines": frac_chars_dup_lines,
        "frac_bullet_lines": frac_bullet,
        "frac_ellipsis_lines": frac_ellipsis,
        "frac_lines_end_punct": endpunct_lines.cast("double") / safe_lines,
        "gopher_pass": gopher_pass,
    }


# -- PII detection / redaction -------------------------------------------------

# Patterns are kept in the common Java-regex / RE2 subset (no backrefs,
# no lookaround) so the DuckDB oracle can share them verbatim.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
}

# Redaction order matters: emails first (their local parts can contain
# digit runs), then phones, then IPs (phone hits are gone by then, so
# dotted quads can't be half-eaten by the phone pattern).
PII_REDACTION_ORDER = ("email", "phone", "ipv4")


def pii_count_cols(text: Column | str) -> dict[str, Column]:
    """Match counts per PII class — pure regexp_count expressions."""
    col = F.col(text) if isinstance(text, str) else text
    return {
        f"n_{name}": F.regexp_count(col, F.lit(pattern))
        for name, (pattern, _) in PII_PATTERNS.items()
    }


def redact_pii_col(text: Column | str) -> Column:
    """Replace every PII match with its class tag (<EMAIL>/<PHONE>/<IP>).
    Spark regexp_replace is replace-all by default; the DuckDB twin needs
    the 'g' flag."""
    col = F.col(text) if isinstance(text, str) else text
    for name in PII_REDACTION_ORDER:
        pattern, tag = PII_PATTERNS[name]
        col = F.regexp_replace(col, pattern, tag)
    return col


# -- SimHash ------------------------------------------------------------------
#
# SimHash is computed fully JVM-side: see
# ``operators.dedup.simhash_signature`` (md5 half-parses + 64
# map-side-combinable bit votes, whole-stage codegen, DuckDB-oracle
# reproducible). The former row-at-a-time ``simhash64`` pandas_udf was
# removed so no Python kernel is reachable from the public API.

"""Text-analysis operators over the documents table.

All native Catalyst expressions (regexp/split/length/aggregate) — these
run inside whole-stage codegen in the scan stage, so they cost one pass
regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Deterministic and SQL-expressible (matters for the
# oracle); a production system would swap in fastText/CLD3 via a Pandas
# UDF behind the same column contract.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
}

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this",
]


def tokens(text: Column) -> Column:
    """The engine's one word tokenizer: lowercase, trim, split on
    ``\\s+``. NULL text gives NULL; blank text gives ``[""]``.

    Project the token array into its own column before a higher-order
    function reads it inside a lambda (transform/filter/aggregate
    bodies, e.g. ngrams_from_tokens): an expression closed over by a
    lambda is evaluated again for EVERY element, so an inline split
    re-tokenizes the whole document once per n-gram (measured 2-5x
    slower per query at sf0.1).
    ``tests/test_oracle_types.py::test_no_query_splits_inside_a_lambda``
    fails on any registry query whose optimized plan does that."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words + digits + punctuation runs, the
    usual cheap proxy for BPE token counts when no tokenizer is at hand."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )


def punct_ratio(text: Column) -> Column:
    clean_len = F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    total = F.length(text)
    return F.when(total > 0, (total - clean_len).cast("double") / total).otherwise(0.0)


def _ppm(numer: Column, denom: Column) -> Column:
    """floor(numer * 1e6 / denom) as bigint — exact integer ppm.

    floor of an IEEE-correctly-rounded division is deterministic across
    engines, and for numerators < 2^53 it equals true integer division:
    the quotient double can only land on an integer when the division is
    exact (otherwise the true value is > half-an-ulp away from any
    integer at these magnitudes)."""
    return F.floor(numer.cast("bigint") * 1000000 / denom)


def punct_ratio_ppm(text: Column) -> Column:
    """Integer parts-per-million punctuation ratio — the comparator-proof
    variant of punct_ratio (integer in, integer out; no engine-version
    float divergence is possible)."""
    clean_len = F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    total = F.length(text)
    return F.when(total > 0, _ppm(total - clean_len, total)).otherwise(
        F.lit(0).cast("bigint")
    )


def stopword_ratio_ppm(text: Column) -> Column:
    """Integer ppm stopword ratio (float-free; see _ppm)."""
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_tok = F.size(toks)
    return F.when(n_tok > 0, _ppm(n_stop, n_tok)).otherwise(F.lit(0).cast("bigint"))


def quality_score_ppm(text: Column) -> Column:
    """All-integer recomposition of quality_score in ppm units:
    quality_ppm = (6 * length_ppm + 4 * (1e6 - punct5_ppm)) div 10 with
    length_ppm = min(len * 2000, 1e6) and punct5_ppm =
    min(5 * punct_ratio_ppm, 1e6). Same heuristic shape, zero floats —
    the operator contract is the shape, not the constants."""
    length_ppm = F.least(F.length(text).cast("bigint") * 2000, F.lit(1000000))
    punct5_ppm = F.least(punct_ratio_ppm(text) * 5, F.lit(1000000).cast("bigint"))
    return F.floor((length_ppm * 6 + (F.lit(1000000) - punct5_ppm) * 4) / 10)


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards reasonable length,
    penalizes punctuation soup and stopword-free (non-linguistic) text.
    Weights are arbitrary but fixed — the operator contract is the shape,
    not the constants."""
    length_component = F.least(F.length(text).cast("double") / 500.0, F.lit(1.0))
    punct_component = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return F.round(0.6 * length_component + 0.4 * punct_component, 6)


def lang_scores_from_tokens(toks: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over a pre-tokenized column.
    Project the token array into a real column first so tokenization
    runs once per row, not once per language."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (tokenizes inline)."""
    return lang_scores_from_tokens(tokens(text))


def lang_id_from_scores(scores: dict[str, Column]) -> Column:
    """First-wins argmax over score columns: the first language (in
    LANG_MARKERS order) attaining the max; 'und' when max <= 0.

    Use after projecting ``lang_scores`` into real columns — comparing
    plain columns keeps the expression tree linear instead of nesting
    every earlier score into every later comparison."""
    langs = list(scores)
    best = F.greatest(*[scores[l] for l in langs]) if len(langs) > 1 else scores[langs[0]]
    expr = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Marker-word vote: language with the most lexicon hits; 'und'
    (undetermined) when nothing matches. Single-expression form; for
    wide scans prefer projecting lang_scores first (see
    lang_id_from_scores)."""
    return lang_id_from_scores(lang_scores(text))


# The eight high-frequency function words the Gopher rules (Rae et al.
# 2021, arXiv:2112.11446 §A1.1) use for the "contains at least 2 stop
# words" check — a cheap is-this-natural-language test.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def mean_word_length(text: Column) -> Column:
    """Mean characters per whitespace token (0.0 for blank text)."""
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks)
    ).otherwise(0.0)


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of tokens containing at least one letter."""
    toks = tokens(text)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return F.when(
        F.size(toks) > 0, n_alpha.cast("double") / F.size(toks)
    ).otherwise(0.0)


def gopher_stop_hits(text: Column) -> Column:
    """Occurrences of the Gopher stopword list in the document."""
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(stop_arr, t)))


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Gopher-style heuristic quality rules as per-document boolean
    flags plus the conjunctive ``passes`` verdict — the standard
    pre-training corpus filter chain (30 to 100,000 words, mean word
    length 3 to 10, alphabetic-word fraction at least 0.8, at least two
    stopwords).

    One projection over the scan: every rule is a Catalyst expression
    on the same tokenization, so the filter costs a single codegen'd
    pass regardless of corpus size — no UDF, no second scan. Keeps all
    rows (flags, not a filter) so the caller can audit *why* documents
    fail before dropping them."""
    t = F.col(text_col)
    measured = df.select(
        F.col(id_col),
        *[F.col(c) for c in df.columns if c != id_col and c != text_col],
        token_count(t).alias("_n_words"),
        mean_word_length(t).alias("_mean_wl"),
        alpha_word_fraction(t).alias("_alpha_frac"),
        gopher_stop_hits(t).alias("_stop_hits"),
    )
    flags = measured.select(
        "*",
        F.col("_n_words").between(30, 100_000).alias("ok_words"),
        F.col("_mean_wl").between(3.0, 10.0).alias("ok_mean_wl"),
        (F.col("_alpha_frac") >= 0.8).alias("ok_alpha"),
        (F.col("_stop_hits") >= 2).alias("ok_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("ok_words")
            & F.col("ok_mean_wl")
            & F.col("ok_alpha")
            & F.col("ok_stopwords")
        ).alias("passes"),
    )


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a projected token-array column, in
    document order and with multiplicity; empty for fewer than ``n``
    tokens (unguarded, sequence(1, size - n + 1) counts DOWN there and
    fabricates n-grams). dedup.shingles_from_tokens differs: it keeps
    a short document as one shingle."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicate_bigram_fraction_from_bigrams(bgs: Column) -> Column:
    """Within-document repetition (Gopher §A1.1 'duplicate n-grams'):
    1 - distinct_bigrams/total_bigrams over a materialized bigram
    column. 0.0 for docs with <2 tokens."""
    return F.when(
        F.size(bgs) > 0,
        1.0 - F.size(F.array_distinct(bgs)).cast("double") / F.size(bgs),
    ).otherwise(0.0)


def fingerprint(text: Column) -> Column:
    """Normalization fingerprint: lowercase, collapse whitespace, sha2.
    Two documents with the same fingerprint are exact dups modulo
    whitespace/case (the cheap pre-filter before MinHash)."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.sha2(normalized, 256)


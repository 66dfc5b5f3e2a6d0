"""Text column expressions for the LLM-data-pipeline surface
(SURVEY.md §2B; north-star mandated).

All JVM-side built-ins / higher-order functions — at 100 TB the text
ops run inside the scan's codegen span, no Python. The documents table
is space-joined lowercase words (FIXTURES.md), so whitespace
tokenization is exact; the regex tokenizer handles general text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny embedded stopword list: enough for ratio features on synthetic docs
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "for", "on", "with")

# BPE-ish pre-tokenizer: word pieces, digit runs, single punctuation marks
TOKEN_REGEX = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^\sa-zA-Z0-9]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (exact for the documents corpus)."""
    return F.split(text, " ")


def regex_tokens(text: Column) -> Column:
    """BPE-ish token stream for arbitrary text."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: length band +
    lexical diversity + stopword presence (the standard cheap pretrain
    filters, deterministic and SQL-replicable)."""
    n_tok = token_count(text)
    diversity = distinct_token_count(text) / n_tok
    sw = stopword_ratio(text)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw_ok = F.when((sw > 0.05) & (sw < 0.7), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + sw_ok + diversity) / F.lit(3.0)


def langid_en(text: Column) -> Column:
    """Language-ID heuristic: stopword-overlap vote → 'en' / 'unknown'.
    (The synthetic corpus draws every lang label from one English-ish
    vocabulary, so a real char-n-gram model is untrainable here; the
    operator shape — per-doc deterministic classify — is the point.)"""
    return F.when(stopword_ratio(text) >= 0.1, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token multiset — identical docs (and shuffled-word docs) collide by
    construction. md5 is engine-portable (same digest in DuckDB)."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(canon)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (dedup_minhash / ngram-jaccard input).

    Short-doc guard: a doc with fewer than n tokens has NO shingles.
    The unguarded ``sequence(1, size-(n-1))`` form yields a DESCENDING
    [1, 0] sequence when the upper bound hits 0, and ``slice(toks, 0, n)``
    then throws INVALID_PARAMETER_VALUE.START — while the DuckDB oracle's
    ``generate_series(1, 0)`` is silently empty (crash-vs-empty engine
    divergence). The ``when`` guard makes both engines agree on empty.

    r11 optimization (guide §1.2 per-task work): the token array is
    LET-BOUND via a one-element ``transform`` before the per-position
    lambda uses it. Catalyst does no common-subexpression elimination
    inside higher-order-function lambdas, so the previous form
    re-evaluated ``split(text)`` for EVERY shingle position —
    O(tokens²) string work per doc. Binding ``split``'s result to the
    outer lambda's variable makes each position a cheap slice of an
    already-materialized array. Measured on the sf0.1 documents
    corpus (5-gram): 1.67 s → 0.51 s for the shingle projection
    alone, outputs bit-identical; every shingle consumer (minhash,
    simhash, ngram-jaccard, containment, boilerplate, bloom,
    decontam) inherits the win."""

    def _body(toks: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
        return F.array_distinct(
            F.when(F.size(toks) >= n, grams).otherwise(
                F.array().cast("array<string>")
            )
        )

    return F.element_at(F.transform(F.array(tokens(text)), _body), 1)

"""The word-token rule and the word-n-gram builder, shared by every
text operator.

**Token rule.** A document's words are ``split(trim(text), WORD_SEP)``:
``trim`` strips spaces only, then runs of whitespace separate tokens.
It is the engine side of the DuckDB oracle's
``regexp_split_to_array(TRIM(text), '\\s+')``, so oracle parity of every
text, dedup, DSIR and curation entry rests on it. This module owns it;
operators call ``word_tokens`` / ``word_tokens_or_empty`` and never spell
the split out.

``WORD_SEP`` spells out the oracle's class rather than writing ``\\s``:
DuckDB's regexes are RE2, whose ``\\s`` is ``[\\t\\n\\f\\r ]``, while
Spark's are ``java.util.regex``, whose ``\\s`` also matches vertical tab
``\\x0b``. With ``\\s+`` Spark split ``'a\\x0bb'`` into two tokens where
DuckDB keeps one. Neither engine's ``\\s`` matches NBSP or other Unicode
spaces, and both ``TRIM``s strip only the space character.

**n-grams.** ``word_ngrams`` is the one guarded, optimized gram builder
for the text query family (``queries/text.py``), the MinHash/containment
shingle builders (``operators/dedup.py``) and the streaming
decontamination gate. ``hashed_gram_set`` is the one rule that turns a
doc's grams into the 64-bit keys the decontamination and Bloom operators
compare.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_SEP = r"[\t\n\f\r ]+"


def word_tokens(c: str):
    """Token array of string column ``c`` under the oracle's rule; NULL
    text gives a NULL array, as in DuckDB.

    Inside a higher-order function (``word_ngrams``, ``transform``) the
    tokens must come from their own projected column, never be passed
    inline: the lambda runs interpreted, so an inline split is
    re-evaluated per element."""
    return F.split(F.trim(F.col(c)), WORD_SEP)


def word_tokens_or_empty(c: str):
    """``word_tokens`` with NULL text read as ``""`` (one empty token),
    for operators whose oracle twin coalesces NULL text to empty. The
    same projection rule holds inside higher-order functions."""
    return F.split(F.trim(F.coalesce(F.col(c), F.lit(""))), WORD_SEP)


def word_ngrams(toks, n: int):
    """Map-side word n-gram array via transform over an index sequence —
    no explode, no shuffle. ``toks`` MUST be a materialized array column
    (its own projection step), never an inline split() expression:
    higher-order functions run interpreted, so an inline subexpression
    referenced in the lambda is re-evaluated PER ELEMENT (~25x slower,
    measured at sf0.1). Empty when the doc has fewer than ``n`` tokens
    (sequence() would otherwise count DOWN for start > stop).

    The gram itself is ``concat_ws`` over ``n`` fixed ``element_at``
    probes, NOT ``array_join(slice(...))``: slice allocates an n-element
    array per gram inside the interpreted lambda, and the A/B at sf0.1
    measures it ~4x slower (bigram build 4.0s -> 1.1s) — same value,
    direct probes, no per-gram allocation. ``n`` is a plan-time Python
    int, so the probe list unrolls statically."""
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


# gram length of benchmark decontamination: the batch exact join, the
# Bloom bitset build and the streaming Bloom probe
DECON_N = 5


def hashed_gram_set(grams: Column) -> Column:
    """A doc's distinct grams as xxhash64 longs:
    ``array_distinct(transform(grams, xxhash64))``. Distinct-ing per doc
    before any explode keeps document-frequency counts per document.

    The Bloom bitset is built from these keys (``queries.text``) and
    probed with them (``streaming.jobs._bloom_clean_docs``), so both
    sides must call this helper: a probe hashed any other way never
    matches and raises no error. ``grams`` is whatever gram column the
    caller has, a staged ``grams`` projection or an inline
    ``word_ngrams``; the two plan differently, so callers keep theirs."""
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g)))

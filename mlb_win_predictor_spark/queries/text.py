"""Text-analysis + deduplication catalog over ``documents``
(SURVEY.md §2.10 north-star ops; driver-mandated training-data pipeline).

All-native column expressions (split/transform/aggregate/md5) — no Python
UDFs — so the text pipeline stays inside whole-stage codegen. The
MinHash/SimHash/LSH variants (hash-seed-dependent, not SQL-expressible)
live in ``operators.dedup`` with rows-only entries in ``queries.ml``.

Scale notes: every query is a narrow scan + one hash aggregation except
``ngram_jaccard_pairs``, which bounds its candidate set explicitly
(doc_id cap) — the unbounded-scale path is MinHash LSH banding
(operators.dedup), not the exact pairwise join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.ngrams import (
    DECON_N,
    WORD_SEP,
    hashed_gram_set,
    word_ngrams,
    word_tokens,
)
from ..functions.scalars import md5_int32, stable_round
from ..operators import dsir
from ..operators.dsir import DSIR_BUCKETS
from ..operators.indexing import dense_global_index, exact_ntile
from ..session import fan_out, input_bytes, load_table
from .base import QueryDef, sround

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
# the alpha word class of BPE_PATTERN — DERIVED, so the BPE trainer's
# vocabulary split can never silently diverge from the pre-tokenizer
BPE_ALPHA_PATTERN = BPE_PATTERN.split("|", 1)[0]


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star text analysis): whitespace tokenization,
    char/token stats per document."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
       CAST(len(regexp_split_to_array(TRIM(text), '\s+')) AS INT) AS n_tokens,
       CAST(len(list_distinct(regexp_split_to_array(TRIM(text), '\s+'))) AS INT) AS n_unique_tokens
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (north-star): length, mean word length, stopword
    ratio, type-token ratio — the survivorship heuristics of an LLM
    training-data pipeline, as pure column arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    n_tok = F.size(toks)
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    mean_wlen = (F.length("text") - n_tok + 1).cast("double") / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stable_round(mean_wlen, 6).alias("mean_word_len"),
        stable_round(n_stop.cast("double") / n_tok, 6).alias("stopword_ratio"),
        stable_round(
            F.size(F.array_distinct(toks)).cast("double") / n_tok, 6
        ).alias("type_token_ratio"),
        (
            (n_tok >= 20)
            & (n_stop.cast("double") / n_tok < 0.5)
            & (F.size(F.array_distinct(toks)).cast("double") / n_tok > 0.2)
        )
        .cast("int")
        .alias("keep_flag"),
    )


TEXT_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(LENGTH(text) - len(toks) + 1 AS DOUBLE) / len(toks) AS mean_wlen,
         CAST(len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
           / len(toks) AS sw_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS tt_ratio
  FROM t
)
SELECT doc_id, n_tokens,
       (ROUND(mean_wlen * 1e6) / 1e6) AS mean_word_len,
       (ROUND(sw_ratio * 1e6) / 1e6)  AS stopword_ratio,
       (ROUND(tt_ratio * 1e6) / 1e6)  AS type_token_ratio,
       CASE WHEN n_tokens >= 20 AND sw_ratio < 0.5 AND tt_ratio > 0.2
            THEN 1 ELSE 0 END AS keep_flag
FROM s
"""


FUNNEL_RULES = ("min_tokens", "stopword_ratio", "type_token_ratio", "mean_word_len")


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-RULE attrition report for a Gopher-style quality filter chain
    (the report a data curator reads before shipping a filter config:
    each rule's total kill count, its marginal kills in chain order, and
    the survivor count after it — distinguishing "this rule is the
    gate" from "this rule only re-kills what rule 1 already caught").

    Rules in chain order over ``documents``: (1) ≥20 tokens,
    (2) stopword ratio <0.5, (3) type-token ratio >0.2, (4) mean word
    length in [3,10]. Map-only flag computation, one explode to
    per-(doc,rule) rows bounded by 4×docs, one hash agg keyed by the
    4-row rule dimension. ``n_killed_here`` sums to docs−survivors
    across rules; each doc is charged to its FIRST failing rule.
    fan_out: the per-token rule arithmetic dwarfs row bytes and the
    testdata parquet reads as ~2 row groups (no-op at corpus scale)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")
    n_tok = F.size(toks)
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    sw_ratio = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))).cast(
        "double"
    ) / n_tok
    tt_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    mean_wlen = (F.length("text") - n_tok + 1).cast("double") / n_tok
    fails = [
        n_tok < 20,
        sw_ratio >= 0.5,
        tt_ratio <= 0.2,
        (mean_wlen < 3.0) | (mean_wlen > 10.0),
    ]
    # first_fail: 1-based index of the first failing rule, 0 = survivor
    first_fail = F.lit(0)
    for i, cond in reversed(list(enumerate(fails, start=1))):
        first_fail = F.when(cond, F.lit(i)).otherwise(first_fail)
    flagged = d.select(
        first_fail.alias("first_fail"),
        *[cond.cast("int").alias(f"f{i}") for i, cond in enumerate(fails, start=1)],
    )
    per_rule = flagged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("rule_idx"),
                        F.lit(FUNNEL_RULES[i - 1]).alias("rule"),
                        F.col(f"f{i}").alias("failed"),
                        (F.col("first_fail") == i).cast("int").alias("killed_here"),
                        ((F.col("first_fail") == 0) | (F.col("first_fail") > i))
                        .cast("int")
                        .alias("survives_through"),
                    )
                    for i in range(1, len(fails) + 1)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return per_rule.groupBy("rule_idx", "rule").agg(
        F.sum("failed").cast("long").alias("n_failed_total"),
        F.sum("killed_here").cast("long").alias("n_killed_here"),
        F.sum("survives_through").cast("long").alias("n_surviving_after"),
    )


QUALITY_FUNNEL_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
           / len(toks) AS sw_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS tt_ratio,
         CAST(LENGTH(text) - len(toks) + 1 AS DOUBLE) / len(toks) AS mean_wlen
  FROM t
), flagged AS (
  SELECT CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END AS f1,
         CASE WHEN sw_ratio >= 0.5 THEN 1 ELSE 0 END AS f2,
         CASE WHEN tt_ratio <= 0.2 THEN 1 ELSE 0 END AS f3,
         CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 1 ELSE 0 END AS f4,
         CASE WHEN n_tokens < 20 THEN 1
              WHEN sw_ratio >= 0.5 THEN 2
              WHEN tt_ratio <= 0.2 THEN 3
              WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 4
              ELSE 0 END AS first_fail
  FROM s
), per_rule AS (
  SELECT 1 AS rule_idx, 'min_tokens' AS rule, f1 AS failed,
         CASE WHEN first_fail = 1 THEN 1 ELSE 0 END AS killed_here,
         CASE WHEN first_fail = 0 OR first_fail > 1 THEN 1 ELSE 0 END AS survives_through
  FROM flagged
  UNION ALL
  SELECT 2, 'stopword_ratio', f2,
         CASE WHEN first_fail = 2 THEN 1 ELSE 0 END,
         CASE WHEN first_fail = 0 OR first_fail > 2 THEN 1 ELSE 0 END
  FROM flagged
  UNION ALL
  SELECT 3, 'type_token_ratio', f3,
         CASE WHEN first_fail = 3 THEN 1 ELSE 0 END,
         CASE WHEN first_fail = 0 OR first_fail > 3 THEN 1 ELSE 0 END
  FROM flagged
  UNION ALL
  SELECT 4, 'mean_word_len', f4,
         CASE WHEN first_fail = 4 THEN 1 ELSE 0 END,
         CASE WHEN first_fail = 0 OR first_fail > 4 THEN 1 ELSE 0 END
  FROM flagged
)
SELECT CAST(rule_idx AS BIGINT) AS rule_idx, rule,
       CAST(SUM(failed) AS BIGINT) AS n_failed_total,
       CAST(SUM(killed_here) AS BIGINT) AS n_killed_here,
       CAST(SUM(survives_through) AS BIGINT) AS n_surviving_after
FROM per_rule GROUP BY 1, 2
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY profile per language (the tokenizer-eval
    metric: how many subword tokens per word / per char a tokenizer
    spends on each language — the signal behind "our vocab under-serves
    lang X" decisions): per lang, corpus chars, whitespace words, BPE-ish
    pre-tokens, and the ratios bpe/word (fertility) and chars/bpe
    (compression). Map-only per-doc counts (both tokenizations are
    single-pass column expressions), one tiny agg keyed by lang."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(word_tokens("text")).cast("long")
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)).cast(
        "long"
    )
    per_doc = d.select(
        "lang", F.length("text").cast("long").alias("n_chars"), ws.alias("n_words"),
        bpe.alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_words").alias("words"),
        F.sum("n_bpe").alias("bpe_tokens"),
        stable_round(F.sum("n_bpe").cast("double") / F.sum("n_words"), 6).alias(
            "fertility"
        ),
        stable_round(F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6).alias(
            "chars_per_bpe_token"
        ),
    )


TOKENIZER_FERTILITY_SQL = rf"""
WITH per_doc AS (
  SELECT lang,
         CAST(LENGTH(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(LOWER(text), '{BPE_PATTERN}')) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_words) * 1e6) / 1e6 AS fertility,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe) * 1e6) / 1e6 AS chars_per_bpe_token
FROM per_doc GROUP BY lang
"""


LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "las", "es"),
    "de": ("der", "und", "die", "das"),
    "zh": ("de", "shi", "le", "bu"),
}


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token voting (north-star text analysis):
    score = count of language-specific function words; argmax with a fixed
    tie-break order, compared against the labeled ``lang`` column.
    fan_out: per-language marker filters over every token dwarf row
    bytes; the testdata parquet reads as ~2 row groups (no-op at
    corpus scale)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")

    def _score(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [
        _score(markers).alias(f"score_{lang}") for lang, markers in LANG_MARKERS.items()
    ]
    scored = d.select("doc_id", "lang", *scores)
    # argmax with deterministic tie-break = lexicographic struct max over
    # (score, reverse-alphabetical-rank) pairs
    langs = list(LANG_MARKERS)
    best = F.greatest(
        *[
            F.struct(
                F.col(f"score_{lg}").alias("s"), F.lit(len(langs) - i).alias("r")
            )
            for i, lg in enumerate(langs)
        ]
    )
    pred = F.when(F.lit(False), F.lit(None))
    for i, lg in enumerate(langs):
        pred = pred.when(
            (best["s"] == F.col(f"score_{lg}")) & (best["r"] == len(langs) - i), F.lit(lg)
        )
    scored = scored.withColumn("predicted_lang", pred)
    return scored.groupBy("lang", "predicted_lang").agg(F.count(F.lit(1)).alias("n_docs"))


_mk_score = "len(list_filter(toks, t -> list_contains({m!r}, t)))"
_score_cols = ",\n         ".join(
    _mk_score.format(m=list(m)) + f" AS score_{lg}" for lg, m in LANG_MARKERS.items()
)
_langs = list(LANG_MARKERS)
_struct_list = ", ".join(
    f"{{'s': score_{lg}, 'r': {len(_langs) - i}}}" for i, lg in enumerate(_langs)
)
_pred_case = "CASE " + " ".join(
    f"WHEN best.s = score_{lg} AND best.r = {len(_langs) - i} THEN '{lg}'"
    for i, lg in enumerate(_langs)
) + " END"
LANG_ID_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         {_score_cols}
  FROM t
), best AS (
  SELECT *, list_max([{_struct_list}]) AS best FROM scored
)
SELECT lang, {_pred_case} AS predicted_lang, COUNT(*) AS n_docs
FROM best GROUP BY 1, 2
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (north-star): hash-groupBy on full text, keep the
    lowest doc_id per distinct text — the dropDuplicates/MERGE analog of
    the reference's rescheduled-game PK dedup (src/function.py:624-636)."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("text").orderBy(F.col("doc_id").asc())
    kept = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
    )


DEDUP_EXACT_SQL = """
SELECT lang, COUNT(*) AS n_kept FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1 GROUP BY lang
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (north-star): normalized-content digest
    (md5 over lowercased trimmed text) + first-8-token prefix fingerprint;
    dedup key = (digest) — byte-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    toks = F.split(norm, WORD_SEP)
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_digest"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 8)).cast("binary")).alias("prefix_digest"),
    )


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(LOWER(TRIM(text))) AS content_digest,
       md5(array_to_string(list_slice(regexp_split_to_array(LOWER(TRIM(text)), '\s+'), 1, 8), ' '))
         AS prefix_digest
FROM documents
"""


NGRAM_N = 3
NGRAM_DOC_CAP = 200
JACCARD_THRESHOLD = 0.5


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (north-star dedup): word 3-gram
    shingles, candidate pairs via shared-shingle equi-join, exact Jaccard
    filter. Candidate set bounded (doc_id < {cap}) — the exact-oracle
    counterpart of the MinHash LSH path in operators.dedup."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NGRAM_DOC_CAP)
        .select("doc_id", word_tokens("text").alias("toks"))
        # short-doc drop on TOKEN count, below the gram projection — a
        # size(shingles) filter above it is pushed below the Project and
        # re-inlines split() into the interpreted gram lambda (see
        # operators/dedup.py::ngram_shingles; equivalent: with >= n
        # tokens the gram array is never empty)
        .filter(F.size("toks") >= NGRAM_N)
    )
    shingles = d.select(
        "doc_id",
        F.array_distinct(word_ngrams(F.col("toks"), NGRAM_N)).alias("shingles"),
    )
    # same shape as ngram_containment_pairs: ONE cached exploded table
    # carrying n_sh, hashed-long join keys (8-byte discipline, counts
    # unchanged w.h.p.) — no size-table joins, no string-key shuffle.
    exploded = shingles.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("sh"),
    ).cache()
    a = exploded.alias("a")
    b = exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first(F.col("a.n_sh")).alias("n_sh_a"),
            F.first(F.col("b.n_sh")).alias("n_sh_b"),
        )
    )
    return shared.select(
        "doc_a",
        "doc_b",
        stable_round(
            F.col("n_shared").cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_shared")),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


NGRAM_JACCARD_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents WHERE doc_id < {NGRAM_DOC_CAP}
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - {NGRAM_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {NGRAM_N - 1}), ' ')
         )) AS shingles
  FROM toks
), sized AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), ex AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE len(shingles) > 0
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       (ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) * 1e6) / 1e6) AS jaccard
FROM shared
JOIN sized sa ON doc_a = sa.doc_id
JOIN sized sb ON doc_b = sb.doc_id
WHERE (ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) * 1e6) / 1e6) >= {JACCARD_THRESHOLD}
"""


CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup (quote / subset detection, the case
    Jaccard structurally misses: a short doc fully quoted inside a long
    one has tiny Jaccard but containment 1.0 — the policy question is
    "is A inside B", not "are A and B alike"). For candidate pairs
    sharing ≥1 word-{n}-gram, C(A⊂B) = |sh(A) ∩ sh(B)| / |sh(A)|; pairs
    kept when EITHER direction ≥ {thr}. Same bounded candidate set and
    shared-shingle equi-join as ``ngram_jaccard_pairs`` (one plan
    difference: the denominator is per-side, so both directions come
    from the same n_shared agg — no second join). Scale path: the
    banded-MinHash + bottom-k candidates feed the same containment
    re-check in ``ngram_containment_banded`` (the executed, uncapped
    catalog entry — operators/dedup.py::containment_banded_pairs)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NGRAM_DOC_CAP)
        .select("doc_id", word_tokens("text").alias("toks"))
        # short-doc drop on TOKEN count, below the gram projection — a
        # size(shingles) filter above it is pushed below the Project and
        # re-inlines split() into the interpreted gram lambda (see
        # operators/dedup.py::ngram_shingles; equivalent: with >= n
        # tokens the gram array is never empty)
        .filter(F.size("toks") >= NGRAM_N)
    )
    shingles = d.select(
        "doc_id",
        F.array_distinct(word_ngrams(F.col("toks"), NGRAM_N)).alias("shingles"),
    )
    # one exploded table carries the per-doc size with it, and the join
    # key is the xxhash64 of the shingle (the span-dedup family's 8-byte
    # discipline; pair counts unchanged w.h.p.): this removes both
    # size-table joins AND shrinks the self-join shuffle to long keys.
    # Cached so the two self-join legs don't rebuild the gram pipeline.
    exploded = shingles.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("sh"),
    ).cache()
    a = exploded.alias("a")
    b = exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first(F.col("a.n_sh")).alias("n_sh_a"),
            F.first(F.col("b.n_sh")).alias("n_sh_b"),
        )
    )
    cont_a = F.col("n_shared").cast("double") / F.col("n_sh_a")
    cont_b = F.col("n_shared").cast("double") / F.col("n_sh_b")
    return shared.select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        stable_round(cont_a, 6).alias("containment_a_in_b"),
        stable_round(cont_b, 6).alias("containment_b_in_a"),
    ).filter(
        (F.col("containment_a_in_b") >= CONTAINMENT_THRESHOLD)
        | (F.col("containment_b_in_a") >= CONTAINMENT_THRESHOLD)
    )


NGRAM_CONTAINMENT_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents WHERE doc_id < {NGRAM_DOC_CAP}
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - {NGRAM_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {NGRAM_N - 1}), ' ')
         )) AS shingles
  FROM toks
), sized AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), ex AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE len(shingles) > 0
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       (ROUND(CAST(n_shared AS DOUBLE) / sa.n_sh * 1e6) / 1e6) AS containment_a_in_b,
       (ROUND(CAST(n_shared AS DOUBLE) / sb.n_sh * 1e6) / 1e6) AS containment_b_in_a
FROM shared
JOIN sized sa ON doc_a = sa.doc_id
JOIN sized sb ON doc_b = sb.doc_id
WHERE (ROUND(CAST(n_shared AS DOUBLE) / sa.n_sh * 1e6) / 1e6) >= {CONTAINMENT_THRESHOLD}
   OR (ROUND(CAST(n_shared AS DOUBLE) / sb.n_sh * 1e6) / 1e6) >= {CONTAINMENT_THRESHOLD}
"""


def ngram_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB containment path, EXECUTED and uncapped: banded-MinHash
    + bottom-k-sketch candidate pairs fed into the exact containment
    re-check over the WHOLE documents table — no ``doc_id < cap`` bound
    (what ``ngram_containment_pairs`` uses to stay exact-oracle-sized).
    Shuffle is bands + bottom_k rows/doc; every emitted pair is exact at
    the threshold, banding/sketching only bound recall (gated >= 0.9 on
    planted containment pairs, tests/test_operators.py).

    FULL value-hash oracle since r11: the entry runs the PORTABLE hash
    family (``md5_int60`` shingles + affine-permutation MinHash mod
    2³¹−1 + '-'-joined band signatures), so the whole candidate
    construction — 8-band LSH collisions, bottom-16 postings with the
    df≤64 hot-bucket cut, the union, and the exact containment
    re-check — is re-derivable in DuckDB
    (``NGRAM_CONTAINMENT_BANDED_SQL``). xxhash64 stays the operator
    default (the corpus-scale family)."""
    from ..operators.dedup import containment_banded_pairs

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return containment_banded_pairs(
        d,
        n=NGRAM_N,
        containment_threshold=CONTAINMENT_THRESHOLD,
        hash_family="md5",
    )


def _containment_banded_sql() -> str:
    """DuckDB dual of ``ngram_containment_banded`` — the shared
    toks→…→bandsig chain is ``queries.ml._minhash_bandsig_cte`` (r11
    review: a verbatim copy here would silently drift if the portable
    family ever changes; single-sourced like the five ml.py duals),
    extended with the bottom-k postings + hot-bucket cut + exact
    containment re-check this entry adds on top of banding."""
    from .ml import _minhash_bandsig_cte

    if NGRAM_N != 3:  # the shared bandsig chain is written at n=3
        raise ValueError("NGRAM_CONTAINMENT_BANDED_SQL assumes NGRAM_N == 3")
    return rf"""
WITH {_minhash_bandsig_cte()}, cand_band AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsig a JOIN bandsig b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
), posts AS (
  SELECT doc_id, UNNEST(list_slice(list_sort(shingles), 1, 16)) AS g
  FROM sh
), cold AS (
  SELECT g FROM posts GROUP BY g HAVING COUNT(*) <= 64
), cposts AS (
  SELECT posts.doc_id, posts.g FROM posts JOIN cold USING (g)
), cand_bk AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cposts a JOIN cposts b ON a.g = b.g AND a.doc_id < b.doc_id
), cand AS (
  SELECT id_a, id_b FROM cand_band UNION SELECT id_a, id_b FROM cand_bk
)
SELECT id_a AS doc_a, id_b AS doc_b,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_shared,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         / len(sa.shingles) AS containment_a_in_b,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         / len(sb.shingles) AS containment_b_in_a
FROM cand
JOIN sh sa ON id_a = sa.doc_id
JOIN sh sb ON id_b = sb.doc_id
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(sa.shingles) >= {CONTAINMENT_THRESHOLD}
   OR CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(sb.shingles) >= {CONTAINMENT_THRESHOLD}
"""


NGRAM_CONTAINMENT_BANDED_SQL = _containment_banded_sql()


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (north-star token counting): word /
    number / punctuation classes via regexp_extract_all — the
    pre-tokenizer split a BPE vocab trainer consumes."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe_tokens"),
        F.element_at(toks, 1).alias("first_token"),
    )


TOKEN_BPE_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(LOWER(text), '{BPE_PATTERN}')) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(LOWER(text), '{BPE_PATTERN}'))) AS INT) AS n_unique_bpe_tokens,
       regexp_extract_all(LOWER(text), '{BPE_PATTERN}')[1] AS first_token
FROM documents
"""




REDACT_A = r"\bthe\b"
REDACT_B = r"\bdup\w*"
REDACT_TOKEN = "[REDACTED]"


def pattern_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern scrubbing (north-star text analysis): count and
    redact regex hits per document, emit the redacted-content digest.
    The real-pipeline version swaps the patterns for email/phone/ssn
    regexes; the mechanics — regexp_count + chained regexp_replace +
    content digest, all JVM-side — are identical. Map-only, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), REDACT_A, REDACT_TOKEN),
        REDACT_B,
        REDACT_TOKEN,
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(REDACT_A)).cast("long").alias("n_hits_a"),
        F.regexp_count("text", F.lit(REDACT_B)).cast("long").alias("n_hits_b"),
        F.md5(red.cast("binary")).alias("redacted_digest"),
    )


PATTERN_REDACTION_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{REDACT_A}')) AS BIGINT) AS n_hits_a,
       CAST(len(regexp_extract_all(text, '{REDACT_B}')) AS BIGINT) AS n_hits_b,
       md5(regexp_replace(regexp_replace(text, '{REDACT_A}', '{REDACT_TOKEN}', 'g'),
                          '{REDACT_B}', '{REDACT_TOKEN}', 'g')) AS redacted_digest
FROM documents
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per document (north-star text analysis): alnum
    tokenization, term frequency per doc, document frequency, idf =
    ln(N/df), top-{k} terms per doc by rounded tfidf with a term-name
    tie-break. Two hash aggregations + a broadcast of the 1-row corpus
    count; the per-doc rank is a window over the scored terms.
    fan_out: tokenize+explode per doc dwarfs row bytes; the testdata
    parquet reads as ~2 row groups (no-op at corpus scale)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency as a window over the tf table (one row per
    # (doc, term) already) — saves the separate dfreq aggregate + the
    # re-shuffle join on term: shuffles are (doc,term) -> term -> doc.
    dfreq = F.count(F.lit(1)).over(W.partitionBy("term"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            stable_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "tfidf")
    )


TFIDF_SQL = rf"""
WITH terms AS (
  SELECT doc_id, t AS term
  FROM documents, UNNEST(regexp_split_to_array(LOWER(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), total AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term,
         (ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1e6) / 1e6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
), ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rnk
  FROM scored
)
SELECT doc_id, rnk, term, tfidf FROM ranked WHERE rnk <= {TFIDF_TOP_K}
"""


PACK_BUDGET = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (the batching step of an LLM
    training pipeline): documents fill fixed token-budget bins in
    deterministic (lang, doc_id) order; a doc starting before the bin
    boundary stays in that bin, so bins can overflow by < 1 doc — the
    standard streaming-pack semantics. Parallel by lang (each group
    packs independently — no global sort); per-bin digest output."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(word_tokens("text"))
    w = W.partitionBy("lang").orderBy(F.col("doc_id").asc())
    cum_before = F.coalesce(
        F.sum(toks).over(w.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
    )
    binned = d.select(
        "lang",
        "doc_id",
        toks.alias("n_toks"),
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("bin"),
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


SEQUENCE_PACKING_SQL = rf"""
WITH sized AS (
  SELECT lang, doc_id,
         len(regexp_split_to_array(TRIM(text), '\s+')) AS n_toks
  FROM documents
), binned AS (
  SELECT lang, doc_id, n_toks,
         CAST(FLOOR(COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM sized
)
SELECT lang, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc
FROM binned GROUP BY lang, bin
"""


CHUNK_SIZE = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation — the composed training-data flow
    (quality filter → exact dedup → sliding-window chunking → per-lang
    yield stats), every stage the same operator the standalone catalog
    entries pin, chained as ONE lazy plan:

    1. quality gate: keep docs with >= 20 tokens, stopword ratio < 0.5,
       type-token ratio > 0.2 (text_quality_score's keep_flag);
    2. exact dedup: lowest doc_id per identical text (dedup_exact);
    3. chunking: 128-token windows at stride 96 (document_chunking);
    4. yield report per lang: surviving docs, emitted chunks, total
       chunk tokens, mean chunks/doc.

    Catalyst fuses 1-2 into the scan side of the dedup window and 3-4
    into a map-only explode + partial agg: the whole pipeline is two
    exchanges (text-hash dedup window, lang rollup) regardless of
    corpus size — there is no materialization between stages at 100 TB,
    which is the point of declaring the pipeline as one plan instead of
    staging tables.

    fan_out: the quality gate's HOF filters + the chunk explode are
    CPU-heavy per input row, and the bench corpus is a 1-row-group file
    — without the round-robin split the whole pipeline ran on one task
    at sf1 (a 4.2× scaling ratio); a no-op on an already-split
    scan, i.e. at 100 TB.

    Every downstream stage needs only the TOKEN COUNT, never the token
    array — so the tokenize happens once, inside one projection whose
    outputs are the three scalar gate stats + n_toks, and the token
    array dies before the dedup exchange (the sf1 ratio was 3.84× while
    the text was re-split after the window, a second full-corpus regex
    pass, and every document column crossed the dedup shuffle). The
    exchange carries exactly (lang, doc_id, text, n_toks) and the chunk
    explode carries two ints."""
    d = fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20)
    toks = word_tokens("text")
    # isin over the literal stopword set compiles to an InSet hash probe
    # per token — measured ~15% faster than array_contains' linear walk
    # of a 10-element array literal (A/B, identical counts)
    stats = d.select(
        "lang",
        "doc_id",
        "text",
        F.size(toks).alias("n_toks"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    kept = stats.filter(
        (F.col("n_toks") >= 20)
        & (F.col("n_stop").cast("double") / F.col("n_toks") < 0.5)
        & (F.col("n_uniq").cast("double") / F.col("n_toks") > 0.2)
    ).select("lang", "doc_id", "text", "n_toks")
    w = W.partitionBy("text").orderBy(F.col("doc_id").asc())
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "doc_id", "n_toks")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_toks"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunks = deduped.select(
        "lang",
        "doc_id",
        F.explode(starts).alias("start"),
        "n_toks",
    ).select(
        "lang",
        "doc_id",
        F.least(F.lit(CHUNK_SIZE), F.col("n_toks") - F.col("start") + 1).alias(
            "chunk_tokens"
        ),
    )
    per_doc = chunks.groupBy("lang", "doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").alias("doc_chunk_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_chunks").cast("long").alias("n_chunks"),
        F.sum("doc_chunk_tokens").cast("long").alias("total_chunk_tokens"),
        stable_round(
            F.sum("n_chunks").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_chunks_per_doc"),
    )


CORPUS_PREP_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), gated AS (
  SELECT doc_id, lang, text, toks
  FROM t
  WHERE len(toks) >= 20
    AND CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE)
        / len(toks) < 0.5
    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.2
), deduped AS (
  SELECT lang, doc_id, toks FROM (
    SELECT lang, doc_id, toks,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
    FROM gated
  ) WHERE rn = 1
), chunks AS (
  SELECT lang, doc_id,
         LEAST({CHUNK_SIZE}, len(toks) - start + 1) AS chunk_tokens
  FROM (
    SELECT lang, doc_id, toks,
           UNNEST(range(1, GREATEST(len(toks), 1) + 1, {CHUNK_STRIDE})) AS start
    FROM deduped
  )
), per_doc AS (
  SELECT lang, doc_id, COUNT(*) AS n_chunks, SUM(chunk_tokens) AS doc_chunk_tokens
  FROM chunks GROUP BY 1, 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(doc_chunk_tokens) AS BIGINT) AS total_chunk_tokens,
       (ROUND((CAST(SUM(n_chunks) AS DOUBLE) / COUNT(*)) * 1e6) / 1e6)
         AS mean_chunks_per_doc
FROM per_doc GROUP BY lang
"""


def balanced_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture REALIZATION (the execution step after ``mixture_weights``
    decides proportions): every source is deterministically downsampled
    to the smallest source's size, yielding a balanced mixture without
    collecting, sorting, or shuffling the corpus — each row keeps or
    drops itself from a hash gate.

    The gate is EXACT integer arithmetic end to end: uniform hash =
    first 8 md5 hex digits of doc_id as an int in [0, 2^32); keep iff
    ``hash * n_source < n_min * 2^32``, i.e. ``hash/2^32 <
    n_min/n_source`` with no float threshold — no cross-engine ulp risk
    at the keep boundary, and retries/reruns keep identical rows (the
    property random sample() lacks). The per-row form of that predicate
    would wrap int64 once a source exceeds ~2^31 docs (hash < 2^32, so
    the product crosses 2^63), so the division is moved to the
    source-count table: a per-source long threshold
    ``thr = (n_min*2^32 - 1) div n_docs + 1`` computed once per source in
    DECIMAL(38,0) (integral ``div`` — no rounded intermediate), and the
    per-row gate is the overflow-free long compare ``hash < thr``.
    Plan: one count agg (tiny) broadcast back over the corpus scan; the
    gate filters map-side. At 100 TB the corpus is never shuffled at
    all."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    min_count = counts.agg(F.min("n_docs").alias("n_min"))
    # a*n < T  <=>  a <= floor((T-1)/n)  <=>  a < (T-1) div n + 1
    thr_tbl = counts.crossJoin(min_count).select(
        "source",
        "n_docs",
        F.expr(
            "CAST((CAST(n_min AS DECIMAL(38,0)) * 4294967296 - 1)"
            " DIV CAST(n_docs AS DECIMAL(38,0)) AS BIGINT) + 1"
        ).alias("thr"),
    )
    hashv = md5_int32(F.col("doc_id").cast("string"))
    kept = d.join(F.broadcast(thr_tbl), "source").filter(hashv < F.col("thr"))
    return kept.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )


BALANCED_MIXTURE_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), m AS (
  SELECT MIN(n_docs) AS n_min FROM counts
), kept AS (
  SELECT d.source, c.n_docs
  FROM documents d JOIN counts c USING (source) CROSS JOIN m
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        * c.n_docs < m.n_min * 4294967296
)
SELECT source, MAX(n_docs) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept GROUP BY source
"""


VOCAB_TOP_K = 20


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction (the tokenizer-training precursor): corpus-wide
    term frequencies and document frequencies per language, ranked, top
    {VOCAB_TOP_K} per lang. One partial-agg groupBy on (lang, term) —
    map-side combine collapses each partition's term counts before the
    exchange, so the shuffle carries ~vocab-size rows, not token-count
    rows (the property that makes vocabulary building feasible on a
    100 TB corpus: the exchange is bounded by distinct terms per
    partition, and the top-k is a WindowGroupLimit, never a global
    sort). df computed in the same pass via count_distinct(doc_id).
    fan_out: the pre-shuffle explode+combine is the dominant cost and
    must not pin to the scan's row-group count (r8, no-op at 100 TB)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20)
    terms = d.select(
        "lang",
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = W.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("term").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= VOCAB_TOP_K)
        .select("lang", "rnk", "term", "tf", "df")
    )


VOCAB_SQL = rf"""
WITH terms AS (
  SELECT lang, doc_id, t AS term
  FROM documents, UNNEST(regexp_split_to_array(LOWER(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
), counts AS (
  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY 1, 2
), ranked AS (
  SELECT lang, term, tf, df,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tf DESC, term ASC) AS rnk
  FROM counts
)
SELECT lang, CAST(rnk AS BIGINT) AS rnk, term, tf, df
FROM ranked WHERE rnk <= {VOCAB_TOP_K}
"""



def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the context-window splitter of an
    LLM training/RAG pipeline): each document's token stream becomes
    overlapping {CHUNK_SIZE}-token chunks at stride {CHUNK_STRIDE}, so
    consecutive chunks share CHUNK_SIZE - CHUNK_STRIDE tokens and no
    token is lost at a boundary. Map-only: tokens are split once per doc
    (staged projection), chunk starts come from ``sequence``, and
    ``posexplode`` emits (chunk_idx, start) pairs — zero shuffle, embar-
    rassingly parallel over documents at any corpus size. The final
    partial chunk is kept (standard pretraining semantics: trailing
    tokens train too). Map-only BUT CPU-heavy per row (split + window
    slices + concat), so the scan is fanned out to cluster parallelism
    first — that repartition is then the only exchange and carries input
    rows, not emitted chunks (no-op on an already-split scan)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20).select(
        "doc_id", word_tokens("text").alias("toks")
    )
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.least(
                F.lit(CHUNK_SIZE), F.size("toks") - F.col("start") + 1
            ).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice("toks", F.col("start"), CHUNK_SIZE)).alias(
                "chunk_text"
            ),
        )
    )


DOCUMENT_CHUNKING_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), s AS (
  SELECT doc_id, w, UNNEST(range(1, GREATEST(len(w), 1) + 1, {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(LEAST({CHUNK_SIZE}, len(w) - start + 1) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(w, start, start + {CHUNK_SIZE - 1}), ' ') AS chunk_text
FROM s
"""


REP_N = 3


def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring (the Gopher-style
    duplicate-n-gram quality filter of an LLM data pipeline): fraction of
    word {n}-grams that are repeats of an earlier n-gram in the same doc.
    Entirely map-side — n-gram build, distinct, and the ratio are all
    array expressions; no shuffle at any scale. Tokens and grams are
    materialized in staged projections so each is computed once per row
    (see word_ngrams)."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    staged = d.select("doc_id", "lang", toks.alias("toks")).select(
        "doc_id", "lang", word_ngrams(F.col("toks"), REP_N).alias("grams")
    )
    n_grams = F.col("n_grams")
    n_dup = F.col("n_dup_grams")
    return staged.select(
        "doc_id",
        "lang",
        F.size("grams").cast("long").alias("n_grams"),
        (F.size("grams") - F.size(F.array_distinct("grams")))
        .cast("long")
        .alias("n_dup_grams"),
    ).select(
        "doc_id",
        "lang",
        "n_grams",
        "n_dup_grams",
        stable_round(
            F.when(n_grams > 0, n_dup.cast("double") / n_grams.cast("double")), 6
        ).alias("dup_frac"),
    )


NGRAM_REPETITION_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), g AS (
  SELECT doc_id, lang,
         list_transform(range(1, len(w) - {REP_N} + 2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
  FROM t
)
SELECT doc_id, lang,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup_grams,
       CASE WHEN len(grams) > 0 THEN
         (ROUND((CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / CAST(len(grams) AS DOUBLE)) * 1e6) / 1e6)
       END AS dup_frac
FROM g
"""


DECON_BENCH_MOD = 97


def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the eval-leakage check every training
    corpus needs): docs sharing any word {n}-gram with a held-out
    benchmark set (here docs with doc_id % {m} == 0 stand in for the eval
    suite). Per-doc distinct grams are built map-side (array_distinct
    BEFORE explode — no dedup shuffle) and hashed to 64-bit longs at
    gram time, so the broadcast set is 8 bytes/gram and the probe
    compares longs (overlap counts unchanged w.h.p.); the benchmark
    gram set is tiny by construction, so the probe is a broadcast hash
    join: at 100 TB the corpus side streams map-only into a partial-agg
    groupBy."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")
    exploded = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", word_ngrams(F.col("toks"), DECON_N).alias("grams"))
        .select(
            "doc_id",
            F.explode(hashed_gram_set(F.col("grams"))).alias("gram"),
        )
    )
    is_bench = F.pmod(F.col("doc_id"), F.lit(DECON_BENCH_MOD)) == 0
    bench = exploded.filter(is_bench).select("gram").distinct()
    corpus = exploded.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_grams"))
    )


DECONTAMINATION_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - {DECON_N} + 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS grams
  FROM t
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), bench AS (
  SELECT DISTINCT gram FROM e WHERE doc_id % {DECON_BENCH_MOD} = 0
), corpus AS (
  SELECT doc_id, gram FROM e WHERE doc_id % {DECON_BENCH_MOD} <> 0
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap_grams
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id
"""


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — the 100 TB physical
    plan for ``decontamination_overlap``. The benchmark gram set (tiny
    by definition: eval suites are MBs, the corpus is TBs) is compiled
    into a 16 KiB Bloom bitset (``operators.bloom``), broadcast once,
    and the corpus side is probed **map-only** with a vectorized
    Arrow-batched numpy UDF — the heavy corpus scan never shuffles or
    joins on gram. Only the survivors (true overlaps + a ~2% FP tail)
    enter the small exact re-check join, so the final answer is
    bit-identical to the exact-join oracle while the corpus-side work is
    a narrow scan + filter. Same shape as Spark's own runtime bloom
    join filters (``might_contain`` — not public SQL in PySpark 4.1,
    hence the explicit operator)."""
    from ..operators.bloom import bloom_build, bloom_might_contain

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")
    # cached: the filter-build collect job and the final probe+re-check
    # job both read the gram table — without the cache each would pay
    # the shingle build again (8 bytes/gram, ~grams-per-doc × docs rows)
    exploded = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", word_ngrams(F.col("toks"), DECON_N).alias("grams"))
        .select(
            "doc_id",
            F.explode(hashed_gram_set(F.col("grams"))).alias("gram"),
        )
    ).cache()
    is_bench = F.pmod(F.col("doc_id"), F.lit(DECON_BENCH_MOD)) == 0
    bench = exploded.filter(is_bench).select("gram").distinct()
    bits = spark.sparkContext.broadcast(bloom_build(bench))
    candidates = exploded.filter(~is_bench).filter(bloom_might_contain("gram", bits))
    return (
        candidates.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_grams"))
    )


# exact-join SQL: the Bloom stage only prunes the probe side and the
# exact re-check removes its false positives, so the oracle is the same
# query DECONTAMINATION_SQL answers.
DECONTAMINATE_BLOOM_SQL = DECONTAMINATION_SQL

TOPGRAM_N = 2


def top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top-n-gram repetition rule (Rae et al. 2021 §A1.1:
    drop docs whose most frequent {n}-gram covers too much of the text):
    per doc, the modal word {n}-gram and the fraction of the document's
    characters its occurrences account for. Gram build is map-side
    (``word_ngrams``); the mode is one (doc_id, gram) count — a
    partial-agg-friendly shuffle on the doc grain, never corpus-wide —
    and the per-doc argmax is ``max(struct(cnt, gram))`` — lexicographic
    struct order = count desc then gram desc tie-break — a second
    partial-aggregable groupBy instead of a doc-partitioned window sort
    (A/B at sf0.1: 0.5s vs 1.4s). Both engines pick the same gram
    deterministically."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")
    # grams are exploded INLINE (explode fuses with the generator); an
    # intermediate `.select(grams)` projection materializes every gram
    # array before the Generate and measures ~6x slower in-session at
    # sf0.1 — the inverse of the toks rule (toks IS staged: the HOF
    # probes it per element)
    counts = (
        d.select("doc_id", F.col("n_chars").alias("n_chars"), toks.alias("toks"))
        .select(
            "doc_id",
            "n_chars",
            F.explode(word_ngrams(F.col("toks"), TOPGRAM_N)).alias("gram"),
        )
        .groupBy("doc_id", "n_chars", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = counts.groupBy("doc_id", "n_chars").agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("m")
    )
    # n_chars guard: Spark (ANSI off) yields NULL on x/0 while DuckDB
    # doubles yield inf — make the zero case NULL on BOTH engines so a
    # future empty-text doc can't become an oracle-parity flake
    return top.select(
        "doc_id",
        F.col("m.gram").alias("top_gram"),
        F.col("m.cnt").alias("top_cnt"),
        stable_round(
            F.when(
                F.col("n_chars") > 0,
                F.col("m.cnt").cast("double")
                * F.length("m.gram").cast("double")
                / F.col("n_chars").cast("double"),
            ),
            6,
        ).alias("top_gram_char_frac"),
    )


TOP_NGRAM_COVERAGE_SQL = rf"""
WITH t AS (
  SELECT doc_id, n_chars, regexp_split_to_array(TRIM(text), '\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id, n_chars,
         unnest(CASE WHEN len(w) >= {TOPGRAM_N}
                     THEN list_transform(range(1, len(w) - {TOPGRAM_N} + 2),
                                         i -> w[i] || ' ' || w[i+1])
                     ELSE [] END) AS gram
  FROM t
), c AS (
  SELECT doc_id, n_chars, gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM g GROUP BY doc_id, n_chars, gram
)
SELECT doc_id, gram AS top_gram, cnt AS top_cnt,
       CASE WHEN n_chars > 0 THEN
         (ROUND((CAST(cnt AS DOUBLE) * CAST(LENGTH(gram) AS DOUBLE)
                 / CAST(n_chars AS DOUBLE)) * 1e6) / 1e6)
       END AS top_gram_char_frac
FROM c
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
"""


LEV_CAP = 80
LEV_MAX_DIST = 4


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching via Levenshtein distance (the string-level near-dup
    primitive, complementing shingle Jaccard): part-name pairs within
    edit distance {d}, bounded candidate set (p_partkey < {cap})."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < LEV_CAP)
        .select("p_partkey", "p_name")
    )
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"))
    pairs = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
    return pairs.select(
        "key_a",
        "key_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= LEV_MAX_DIST)


EDIT_DISTANCE_SQL = f"""
WITH sub AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < {LEV_CAP})
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM sub a JOIN sub b ON a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX_DIST}
"""


CROSSDOC_N = 8


def crossdoc_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication signal (the
    RefinedWeb/Pile-style dedup metric, at word-{n}-gram granularity):
    for each doc, the fraction of its distinct {n}-grams that appear in
    at least one OTHER document. Per-doc grams are distinct-ed map-side
    (array_distinct before explode) so doc-frequency counts documents.

    Two plan choices measured at sf0.1 (~7× end-to-end together):
    grams are hashed to 64-bit longs BEFORE the explode (fixed-width
    shuffle keys instead of ~50-byte strings; doc-frequency is
    unchanged w.h.p., collisions ~ n²/2⁶⁴), and the doc-frequency is a
    ``count() OVER (PARTITION BY gram)`` window instead of a
    groupBy + join-back — one shuffle on the gram key feeds both the
    count and the per-row df, where the agg+join plan shuffles the
    exploded table twice. At 100 TB the same shape holds (a window
    partition = one gram's postings, bounded by corpus df); bloom-
    filtering df==1 grams remains the production trim."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = word_tokens("text")
    exploded = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", word_ngrams(F.col("toks"), CROSSDOC_N).alias("grams"))
        .select(
            "doc_id",
            F.explode(hashed_gram_set(F.col("grams"))).alias("gram"),
        )
    )
    with_df = exploded.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("gram")))
    n_total = F.col("n_distinct_grams")
    n_shared = F.col("n_shared_grams")
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_grams"),
        )
        .select(
            "doc_id",
            "n_distinct_grams",
            "n_shared_grams",
            stable_round(n_shared.cast("double") / n_total.cast("double"), 6).alias(
                "shared_frac"
            ),
        )
    )


CROSSDOC_DUP_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - {CROSSDOC_N} + 2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                 w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS grams
  FROM t
), e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), df AS (
  SELECT gram, COUNT(*) AS df FROM e GROUP BY 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams,
       (ROUND((CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) * 1e6) / 1e6) AS shared_frac
FROM e JOIN df USING (gram)
GROUP BY doc_id
"""


PREFIX_N = 3
PREFIX_T = 0.5


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (PPJoin-style, Xiao et al. 2008)
    over the FULL corpus — the scale path for exact-threshold near-dup
    detection, vs ``ngram_jaccard_pairs`` which caps its candidate set.

    Shingles are globally ordered by (document frequency, shingle) — rarest
    first — and each document only indexes its first
    ``p = n - ceil(t*n) + 1`` shingles. Completeness: if a pair shares NO
    prefix shingle, its overlap is at most ``ceil(t*n)-1 < t*n``, so
    ``J <= overlap/max(|A|,|B|) < t``. Candidates therefore form a superset
    of all qualifying pairs at a fraction of the all-shingles self-join
    volume (high-df shingles never enter the index), and the exact
    ``array_intersect`` re-check makes the result identical to the
    brute-force oracle. At 100 TB: df ranking is one hash agg; the
    candidate join's key distribution is *anti*-skewed by construction
    (rare shingles first).

    Shingle strings are hashed to 64-bit longs ONCE at shingling time:
    every downstream pass — the df agg, the prefix self-join, and the
    ``array_intersect`` re-check — compares fixed-width longs instead of
    variable-length strings (measured ~2× end-to-end at sf0.1; identical
    set sizes and intersections w.h.p., 64-bit collisions ~ n²/2⁶⁴, so
    the jaccard values still hash-match the string-based DuckDB oracle).
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", word_tokens("text").alias("toks")
    ).filter(F.size(F.col("toks")) >= PREFIX_N)
    # staged projection (see word_ngrams): tokens materialized once per
    # row, never re-split per shingle inside the interpreted HOF lambda
    shingled = d.select(
        "doc_id",
        F.array_sort(
            hashed_gram_set(word_ngrams(F.col("toks"), PREFIX_N))
        ).alias("shingles"),
    )
    # Persist: reused by the df agg, the prefix index, and both sides of
    # the candidate re-check.
    shingled = shingled.persist()
    exploded = shingled.select("doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh"))
    df_tbl = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(PREFIX_T) * F.col("n_sh")) + 1
    prefix = (
        exploded.join(df_tbl, "sh")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh")),
        )
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sh", "n_sh", "rn")
    ).persist()
    # candidate join with the PPJoin LENGTH filter folded in: J >= t forces
    # t*|A| <= |B| <= |A|/t, an integer predicate that prunes candidates
    # BEFORE the distinct and before any array_intersect is attempted.
    # (`prefix` persisted: with the fanned-out scan the window pipeline
    # is parallel but no longer free — materializing it once beats
    # recomputing it per self-join side, measured A/B at sf0.1.)
    joinrows = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") <= 2 * F.col("b.n_sh"))
            & (F.col("b.n_sh") <= 2 * F.col("a.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.rn").alias("rn_a"),
            F.col("b.rn").alias("rn_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
    )
    # POSITIONAL filter (the second PPJoin prune): the pair's first common
    # shingle in the global (df, sh) order sits at the pair-wise minimum
    # prefix positions (positions are monotone in that shared order, and
    # no common shingle can precede the first prefix-prefix match — an
    # earlier one would itself be inside both prefixes), so
    # overlap <= 1 + min(|A| - pa, |B| - pb). Pairs whose bound cannot
    # reach the threshold never touch their shingle sets; the distinct
    # becomes the same groupBy shuffle that computes the bound.
    cand = (
        joinrows.groupBy("doc_a", "doc_b")
        .agg(
            F.min("rn_a").alias("pa"),
            F.min("rn_b").alias("pb"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.lit(3)
            * (F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")))
            >= F.col("na") + F.col("nb")
        )
        .select("doc_a", "doc_b")
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # integer-threshold recheck: J >= 1/2  <=>  3*|A∩B| >= |A|+|B|, so the
    # pushed-down filter never duplicates the float jaccard expression and
    # array_intersect runs once per candidate (plus once per survivor).
    # The shingle-set sides carry NO broadcast hint on purpose: the set
    # table is corpus-sized (one hashed-long array per doc), so a pinned
    # hint would be a driver OOM at 100 TB — the size-based planner / AQE
    # broadcasts it when it fits the threshold (it does at bench scale,
    # keeping the re-check map-side) and falls back to a shuffled hash
    # join when it doesn't. Plan-pinned in
    # tests/test_plans.py::test_jaccard_recheck_broadcast_not_mandatory.
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    return (
        scored.filter(F.lit(3) * F.col("i") >= F.col("na") + F.col("nb"))
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )


DEDUP_JACCARD_PREFIX_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - {PREFIX_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + {PREFIX_N - 1}), ' ')
         )) AS shingles
  FROM toks
), sized AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh WHERE len(shingles) > 0
), ex AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE len(shingles) > 0
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       (ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) * 1e6) / 1e6) AS jaccard
FROM shared
JOIN sized sa ON doc_a = sa.doc_id
JOIN sized sb ON doc_b = sb.doc_id
WHERE 3 * n_shared >= sa.n_sh + sb.n_sh
"""


def dedup_exact_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dedup chain — pairs → connected components →
    canonical keep → surviving-corpus digest — under the COMPLETE DuckDB
    hash check (r7 verdict #8: `dedup_end_to_end` is rows-only because
    banded MinHash is seeded-hash probabilistic; this sibling runs the
    same composition from the EXACT PPJoin pair generator
    (``dedup_jaccard_prefix``, itself oracle-checked), so every stage —
    including the iterative component grouping — lands under the value
    hash via DuckDB's ``WITH RECURSIVE`` transitive closure).

    Same operators, same scale shape as ``dedup_end_to_end``:
    prefix-filtered exact-Jaccard pairs (anti-skewed candidate join),
    min-label components (union-find fast path under the bounded edge
    cap, distributed propagation loop above it), left-anti canonical
    keep, per-lang count digest."""
    from ..operators.dedup import (
        components_from_pairs,
        keep_canonical_per_component,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_jaccard_prefix(spark, sf_dir)
    comps = components_from_pairs(pairs, "doc_a", "doc_b")
    kept = keep_canonical_per_component(docs, comps)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


DEDUP_EXACT_END_TO_END_SQL = rf"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_JACCARD_PREFIX_SQL}) q
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
), comp AS (
  SELECT node, MIN(comp) AS component FROM reach GROUP BY node
), removed AS (
  SELECT node FROM comp WHERE node <> component
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN removed r ON d.doc_id = r.node
WHERE r.node IS NULL
GROUP BY lang
"""


BM25_TERMS = ("join", "vector", "stream")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of the corpus against a fixed term set —
    the ranking half of a retrieval pipeline (TF-IDF's big sibling;
    ``tfidf_top_terms`` covers term extraction). Corpus statistics
    (N, avgdl, per-term df) come from ONE hash aggregation and broadcast
    back onto the per-document scan; per-term tf is a native
    higher-order-function count over the staged token array (no explode,
    no shuffle on the doc side). The per-term contributions are summed in
    fixed textual order, so no float fold-order fuzz; the final score is
    rounded (ln() is libm on both engines)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_tokens("text").alias("toks")
    )
    toked = d.select("doc_id", "toks", F.size("toks").alias("dl"))
    stats = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    scored = toked.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    cols = []
    for t in BM25_TERMS:
        tf = F.size(F.filter("toks", lambda x: x == F.lit(t))).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5)) / (F.col(f"df_{t}") + F.lit(0.5))
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
        )
        score = score + idf * (tf * F.lit(BM25_K1 + 1.0)) / denom
        cols.append(tf.cast("bigint").alias(f"tf_{t}"))
    return scored.select("doc_id", *cols, stable_round(score, 6).alias("bm25"))


_BM25_TF_SQL = {t: f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)" for t in BM25_TERMS}
_BM25_IDF_SQL = {
    t: f"LN(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))" for t in BM25_TERMS
}
_BM25_TERM_SQL = " + ".join(
    f"({_BM25_IDF_SQL[t]}) * ({_BM25_TF_SQL[t]} * {BM25_K1 + 1.0}) / "
    f"({_BM25_TF_SQL[t]} + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))"
    for t in BM25_TERMS
)
BM25_SQL = f"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS dl
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {", ".join(f"CAST(SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}" for t in BM25_TERMS)}
  FROM toked
)
SELECT doc_id,
       {", ".join(f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{t}" for t in BM25_TERMS)},
       (ROUND((0.0 + {_BM25_TERM_SQL}) * 1e6) / 1e6) AS bm25
FROM toked, stats
"""


def word_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's word distribution — the
    information-theoretic quality signal that catches both boilerplate
    (low entropy: few words dominate) and keyword-stuffed spam, which
    simple type-token / stopword ratios miss. H = ln(n) − Σ c·ln(c) / n
    over per-doc word counts c (exact integers on both engines; the only
    float work is the final ln/divide, rounded 6dp like the KL entry).

    Plan shape: explode + one hash agg keyed (doc_id, word) + one keyed
    doc_id — both partial-aggregated map-side, and the second reuses the
    first's hash partitioning on the doc_id prefix. At 100 TB the same
    statistic comes from a map-only pass (sort each doc's token array and
    length-count runs in one projection) if the token-level shuffle ever
    dominates; the explode form is kept here because it is the one whose
    intermediate (word counts) is reused by TF-IDF/BM25 upstream."""
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens("text")
    wc = (
        d.select("doc_id", F.explode(toks).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("sum_clnc"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        stable_round(
            F.log("n_tokens") - F.col("sum_clnc") / F.col("n_tokens"), 6
        ).alias("word_entropy"),
    )


WORD_ENTROPY_SQL = r"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(TRIM(text), '\s+')) AS word
  FROM documents
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         SUM(c * LN(c)) AS sum_clnc
  FROM wc GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct,
       (ROUND((LN(n_tokens) - sum_clnc / n_tokens) * 1e6) / 1e6) AS word_entropy
FROM per_doc
"""


SPAN_N = 8
SPAN_MIN_TOKENS = 16


def _pos_gram_table(spark: SparkSession, sf_dir: str):
    """(toked, positions) staging shared by the span-dedup family:
    ``toked`` = (doc_id, toks); positions = (doc_id, pos, g) with g the
    xxhash64 of the word-{n}-gram starting at 0-based ``pos`` — built
    map-side (transform over an index sequence), exploded once."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toked = d.select("doc_id", word_tokens("text").alias("toks"))
    cnt = F.size("toks")
    pos_grams = F.when(
        cnt >= SPAN_N,
        F.transform(
            F.sequence(F.lit(1), cnt - SPAN_N + 1),
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"),
                F.xxhash64(F.array_join(F.slice("toks", i, SPAN_N), " ")).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,g:bigint>>"))
    e = (
        toked.select("doc_id", F.explode(pos_grams).alias("pg"))
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )
    return toked, e


def duplicated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr signal, approximated at
    word-{n}-gram granularity): for each document, the maximal token
    spans covered by {n}-grams that also occur in at least one OTHER
    document. ``crossdoc_dup_fraction`` reports the per-doc *rate*; this
    returns the *positions*, which is what a span-removal rewrite needs.

    Plan: position-tagged grams are built map-side (transform over an
    index sequence, no explode until the gram table), hashed to 64-bit
    longs for fixed-width shuffle keys, then the corpus is scanned ONCE:
    per-(gram, doc) position lists (one (g,doc) shuffle, list bounded by
    within-doc repetition), document-frequency as a ``count() OVER
    (PARTITION BY g)`` on that compacted table (the crossdoc trick — the
    window input is one row per (gram, doc), so the count IS the doc
    frequency and the partition is bounded by df), positions of df>=2
    grams re-exploded. Overlapping duplicated grams (gap <= {n}) merge
    into spans with the classic islands trick: one per-doc window,
    partition bounded by doc length. MIN span {m} tokens = at least two
    overlapping duplicated grams, so single-gram chance collisions never
    surface as spans. At 100 TB the suffix-array exactness of the paper
    is replaced by gram granularity on purpose: every step is a hash
    shuffle or a bounded window — no global order, no driver state.
    (Measured at sf0.1: 2.34s with a two-scan agg+semi-join plan ->
    1.6s with this one-scan window plan.)
    """
    _, e = _pos_gram_table(spark, sf_dir)
    byg = e.groupBy("g", "doc_id").agg(F.collect_list("pos").alias("poss"))
    dp = (
        byg.withColumn("dfd", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter(F.col("dfd") >= 2)
        .select("doc_id", F.explode("poss").alias("pos"))
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    isl = (
        dp.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SPAN_N), 1
            ).otherwise(0),
        )
        .withColumn(
            "island", F.sum("new_span").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SPAN_N - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= SPAN_MIN_TOKENS)
    )


DUP_SPAN_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), e AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(w, i, i + {SPAN_N - 1}), ' ') AS gram
  FROM t, LATERAL (SELECT unnest(range(1, len(w) - {SPAN_N} + 2)) AS i)
  WHERE len(w) >= {SPAN_N}
), dup AS (
  SELECT gram FROM (SELECT gram, doc_id FROM e GROUP BY 1, 2)
  GROUP BY gram HAVING COUNT(*) >= 2
), dp AS (
  SELECT doc_id, pos FROM e WHERE gram IN (SELECT gram FROM dup)
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dp)
), sp AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {SPAN_N} - 1 AS span_end
  FROM isl GROUP BY doc_id, island
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
FROM sp WHERE span_end - span_start + 1 >= {SPAN_MIN_TOKENS}
"""


def span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first duplicated-span REMOVAL accounting (the rewrite policy
    of Lee et al. 2022: every duplicate occurrence but the first is
    dropped): a position is removable iff its {n}-gram occurs in >=2
    docs AND an earlier doc (min doc_id over the gram) owns the first
    copy; removable positions merge to spans (islands, gap <= {n});
    per-doc output is total tokens, tokens covered by removable spans,
    and the kept fraction — the yield report a corpus rewrite ships.

    Plan: same one-scan staging as ``duplicated_span_dedup``; the gram
    window additionally carries min(doc_id) (same exchange); the islands
    window and per-doc rollup share the doc_id exchange; the final
    left join back to per-doc token counts keeps 0-removal docs. All
    shuffles on 8-byte keys; windows bounded by df / doc length."""
    toked, e = _pos_gram_table(spark, sf_dir)
    byg = e.groupBy("g", "doc_id").agg(F.collect_list("pos").alias("poss"))
    wg = W.partitionBy("g")
    removable = (
        byg.withColumn("dfd", F.count(F.lit(1)).over(wg))
        .withColumn("mindoc", F.min("doc_id").over(wg))
        .filter((F.col("dfd") >= 2) & (F.col("doc_id") > F.col("mindoc")))
        .select("doc_id", F.explode("poss").alias("pos"))
        .distinct()
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    isl = (
        removable.withColumn("prev", F.lag("pos").over(wd))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SPAN_N), 1
            ).otherwise(0),
        )
        .withColumn(
            "island", F.sum("new_span").over(wd.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    per_doc_removed = (
        isl.groupBy("doc_id", "island")
        .agg((F.max("pos") + SPAN_N - F.min("pos")).alias("span_tokens"))
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("long").alias("removed_tokens"))
    )
    totals = toked.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return totals.join(per_doc_removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("removed_tokens"), F.lit(0)).cast("long").alias(
            "removed_tokens"
        ),
        stable_round(
            (F.col("n_tokens") - F.coalesce(F.col("removed_tokens"), F.lit(0)))
            .cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("kept_frac"),
    )


SPAN_REMOVAL_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), e AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(w, i, i + {SPAN_N - 1}), ' ') AS gram
  FROM t, LATERAL (SELECT unnest(range(1, len(w) - {SPAN_N} + 2)) AS i)
  WHERE len(w) >= {SPAN_N}
), gstat AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS dfd, MIN(doc_id) AS mindoc
  FROM e GROUP BY 1
), dp AS (
  SELECT DISTINCT e.doc_id, e.pos
  FROM e JOIN gstat USING (gram)
  WHERE dfd >= 2 AND e.doc_id > mindoc
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_N} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dp)
), rem AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS removed_tokens FROM (
    SELECT doc_id, island, MAX(pos) + {SPAN_N} - MIN(pos) AS span_tokens
    FROM isl GROUP BY doc_id, island
  ) GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(removed_tokens, 0) AS BIGINT) AS removed_tokens,
       (ROUND((CAST(len(w) AS BIGINT) - COALESCE(removed_tokens, 0))
              / CAST(len(w) AS DOUBLE) * 1e6) / 1e6) AS kept_frac
FROM t LEFT JOIN rem ON t.doc_id = rem.doc_id
"""


# Pin the per_doc localCheckpoint only above this documents-parquet
# size: below it the checkpoint write costs more than re-running the
# doc-grain subtree (sf0.1 = 0.6 MB skips; sf1 = 5.9 MB and up pin).
_UNIGRAM_PIN_MIN_BYTES = 4 << 20


def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring (the cheap stand-in for the
    KenLM-perplexity filter of CCNet/RefinedWeb pipelines): per document,
    the average negative log-probability of its tokens under the CORPUS
    unigram distribution — low = common-word boilerplate, high =
    rare-token noise; the keep band sits between.

    avg_nll = ln(N) − Σ_w k_w·ln(c_w) / n  (k_w per-doc counts, c_w
    corpus counts, N corpus total, Σk_w = n) — same exact-integer-counts
    + one-final-ln/divide discipline as ``word_entropy_quality``; 6dp
    rounding swallows the ~1e-12 fold-order fuzz of the double Σ.

    The corpus is tokenized ONCE — structurally, not by exchange reuse:
    deriving ``wc = sum(k) group by w`` and the corpus total as separate
    BRANCHES off the per-doc counts ``dc`` puts the token-grain subtree
    (scan → split → explode → partial agg) in the plan three times — and
    Spark 4's AQE does NOT stage-reuse them (profiled at 10× data:
    three 8 MB-shuffle-read stages, 22.2 s executor time vs 0.6 s at
    base; with AQE off the static plan shows 4 ReusedExchange, with AQE
    on zero). Relying on optimizer
    reuse for the single most expensive pass at 100 TB is fragile, so
    the vocabulary count now rides a WINDOW over the dc exchange —
    ``c = sum(k) over (partition by w)`` — and the corpus total re-
    aggregates the DOC-grain result (rows = n_docs, corpus-size-
    independent relative to token grain). Measured (interleaved A/B,
    sf1/sf0.1): 1.56-4.10 s → 0.90-1.16 s at 10×, 0.64-0.74 →
    0.44-0.51 s at base, values identical.

    ``per_doc`` itself is still consumed TWICE (the n_total aggregate
    and the final select), and the same no-AQE-stage-reuse finding
    applies to it — so it is pinned with a lazy ``localCheckpoint``:
    the broadcast-total subquery job materializes the doc-grain rows
    once, and the main stage reads the checkpointed partitions instead
    of re-running the scan → explode → window chain. Doc-grain rows are
    tiny relative to token grain, so the pin costs one executor-local
    write of n_docs rows.

    SIZE-GATED: at sf0.1 the checkpoint write is ~half the entry's wall
    (0.45 → 1.00 s) while the duplicated subtree it avoids is cheap —
    the pin only pays for itself once the tokenize → window chain
    dominates. Gate on the same input-size
    estimate ``fan_out`` uses (``session.input_bytes``): below
    ``_UNIGRAM_PIN_MIN_BYTES`` (4 MiB) of documents parquet, skip the
    pin (re-running the doc-grain subtree is cheaper); above it, pin
    (measured sf1→sf10 ratio 2.55× unpinned → 2.03× pinned). Both
    branches produce identical values — the gate trades plan shape
    only.

    Shuffles: per-doc counts (one exchange off the single tokenize
    pass), vocabulary window (hash(w) exchange of pre-combined (doc,w)
    pairs), per-doc rollup, tiny doc-grain total broadcast back.
    No corpus-sized sort, no driver state."""
    raw = load_table(spark, sf_dir, "documents")
    d = fan_out(raw, min_bytes=2 << 20)
    toks = d.select("doc_id", F.explode(word_tokens("text")).alias("w"))
    dc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("k"))
    dcw = dc.withColumn("c", F.sum("k").over(W.partitionBy("w")))
    per_doc = dcw.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_tokens"),
        F.sum(F.col("k").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "sum_klnc"
        ),
    )
    # pin unless the input is KNOWN small: input_bytes returns -1 for
    # non-file sources, and an unknown size must default to pinning —
    # skipping on unknown would drop the pin exactly in the at-scale
    # scenario it exists for
    if not 0 <= input_bytes(raw) < _UNIGRAM_PIN_MIN_BYTES:
        per_doc = per_doc.localCheckpoint(eager=False)
    total = per_doc.agg(F.sum("n_tokens").cast("double").alias("n_total"))
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        stable_round(
            F.log(F.col("n_total"))
            - F.col("sum_klnc") / F.col("n_tokens").cast("double"),
            6,
        ).alias("avg_nll"),
    )


UNIGRAM_LOGPROB_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
  FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY 1
), total AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM wc
), dc AS (
  SELECT doc_id, w, COUNT(*) AS k FROM toks GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
         SUM(CAST(k AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS sum_klnc
  FROM dc JOIN wc USING (w) GROUP BY 1
)
SELECT doc_id, n_tokens,
       (ROUND((LN(n_total) - sum_klnc / CAST(n_tokens AS DOUBLE)) * 1e6) / 1e6) AS avg_nll
FROM per_doc, total
"""


DSIR_TARGET_SOURCE = "src1"  # stands in for the curated target domain


def _dsir_counts(docs: DataFrame, tokens: Column) -> DataFrame:
    """``dsir.bucket_counts`` keyed by (doc_id, is_target), the target
    class being the ``DSIR_TARGET_SOURCE`` documents."""
    is_target = (F.col("source") == DSIR_TARGET_SOURCE).alias("is_target")
    return dsir.bucket_counts(docs, tokens, "doc_id", is_target)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw-corpus document
    by its hashed-n-gram importance log-weight under a target-domain
    unigram bag model — the standard step that picks "Wikipedia-like"
    web documents for a pretraining mix. Target domain = documents from
    ``DSIR_TARGET_SOURCE``; every other document is raw corpus and
    gets a weight, ``operators.dsir.log_weights`` rounded to 6 dp with
    ``stable_round`` (the ``unigram_logprob_quality`` parity
    discipline). The hash rule, the smoothing and the broadcast shape
    are ``operators.dsir``'s invariants; ``DSIR_SQL`` is the oracle."""
    d = fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20)
    # kc feeds three consumers (bucket model, norm, per-doc weights), so
    # this lazy plan re-runs the tokenize+explode per consumer. A
    # kc.persist() measured slower at sf0.1 (weights 1.3-1.7s →
    # 1.8-2.3s): materializing the ~(docs × distinct-buckets) row cache
    # costs more than recomputing a codegen'd split at bench scale. At
    # 100 TB, persist (or write) kc once so the corpus is tokenized once.
    kc = _dsir_counts(d, word_tokens("text"))
    model, norm = dsir.fit(kc)
    return dsir.log_weights(
        kc.filter(~F.col("is_target")).join(F.broadcast(model.select("b", "lr")), "b"),
        F.col("lr"),
        norm,
    ).select(
        "doc_id", "n_tokens", stable_round(F.col("log_weight"), 6).alias("dsir_logweight")
    )


DSIR_SELECT_BUDGET = 2000  # tokens — binds at every test SF


def dsir_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION step DSIR exists for: spend a fixed token budget on
    the raw-corpus documents with the highest per-token importance
    weight (Xie et al. 2023 §3 — rank by importance, take until the
    budget; the deterministic dual of their Gumbel resampling, same
    shape as ``token_budget_sample`` but importance-ordered instead of
    hash-ordered). Composes ``dsir_importance_weights`` with a
    DISTRIBUTED prefix sum (``operators.indexing.global_running_sum`` —
    range-partition by the order key, local cumsum, driver-side
    partition offsets): a bare ``SUM OVER (ORDER BY ...)`` would
    collapse the doc-grain table into ONE task, the exact-NTILE lesson.
    Integer token counts make the running total and the budget cut
    exact on both engines; the order key is the (already 6dp-stable)
    weight ratio with doc_id tie-break, negated so range partitioning's
    ascending order is the descending importance order."""
    from ..operators.indexing import global_running_sum

    weights = dsir_importance_weights(spark, sf_dir)
    scored = weights.select(
        "doc_id",
        "n_tokens",
        "dsir_logweight",
        (F.col("dsir_logweight") / F.col("n_tokens").cast("double")).alias(
            "per_token_logweight"
        ),
    ).withColumn("_neg", -F.col("per_token_logweight"))
    return (
        global_running_sum(
            scored, ["_neg", "doc_id"], "n_tokens", name="cum_tokens"
        )
        .filter(F.col("cum_tokens") <= DSIR_SELECT_BUDGET)
        .select(
            "doc_id",
            "n_tokens",
            "dsir_logweight",
            stable_round(F.col("per_token_logweight"), 6).alias(
                "per_token_logweight"
            ),
            "cum_tokens",
        )
    )




def dsir_bucket_model(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> tuple[dict[str, float], float]:
    """Fit the DSIR bucket model batch-side and collect it for a
    streaming gate (``streaming.jobs.dsir_select_stream``,
    ``llm_curation_stream``): returns ``({bucket_hex: lr}, norm)``, at
    most 256 entries plus one scalar. Both are collected from
    ``operators.dsir.fit``, the same expressions the batch entries
    evaluate, so a stream scores with bit-identical doubles. ``docs``
    overrides the training corpus (the DSIR-ordered stream capstone
    trains on the non-bench slice, so the eval slice cannot influence
    selection)."""
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    model, norm = dsir.fit(_dsir_counts(d, word_tokens("text")))
    # one job: the norm side reuses the model's exchange
    rows = model.select("b", "lr").crossJoin(F.broadcast(norm)).collect()
    # an empty corpus fits no bucket; its norm is ln(B) − ln(B) = 0
    return {r.b: r.lr for r in rows}, (rows[0].norm if rows else 0.0)


DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
         UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
  FROM documents
), kc AS (
  SELECT doc_id, is_target, substr(md5(w), 1, 2) AS b, COUNT(*) AS k
  FROM toks GROUP BY 1, 2, 3
), model AS (
  SELECT b,
         LN(CAST(SUM(CASE WHEN is_target THEN k ELSE 0 END) AS DOUBLE) + 1.0)
       - LN(CAST(SUM(CASE WHEN NOT is_target THEN k ELSE 0 END) AS DOUBLE) + 1.0)
           AS lr,
         SUM(CASE WHEN is_target THEN k ELSE 0 END) AS t,
         SUM(CASE WHEN NOT is_target THEN k ELSE 0 END) AS r
  FROM kc GROUP BY 1
), totals AS (
  SELECT LN(CAST(SUM(r) AS DOUBLE) + {float(DSIR_BUCKETS)})
       - LN(CAST(SUM(t) AS DOUBLE) + {float(DSIR_BUCKETS)}) AS norm
  FROM model
), per_doc AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
         SUM(CAST(k AS DOUBLE) * lr) AS sum_klr
  FROM kc JOIN model USING (b)
  WHERE NOT is_target
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       (ROUND((sum_klr + CAST(n_tokens AS DOUBLE) * norm) * 1e6) / 1e6)
         AS dsir_logweight
FROM per_doc, totals
"""


DSIR_SELECT_SQL = rf"""
WITH weights AS ({DSIR_SQL}),
ranked AS (
  SELECT doc_id, n_tokens, dsir_logweight,
         dsir_logweight / CAST(n_tokens AS DOUBLE) AS per_token_logweight,
         CAST(SUM(n_tokens) OVER (
           ORDER BY dsir_logweight / CAST(n_tokens AS DOUBLE) DESC,
                    doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM weights
)
SELECT doc_id, n_tokens, dsir_logweight,
       (ROUND(per_token_logweight * 1e6) / 1e6) AS per_token_logweight,
       cum_tokens
FROM ranked WHERE cum_tokens <= {DSIR_SELECT_BUDGET}
"""


LLM_PIPE_BUDGET = 800  # binds at every test SF (same as TOKEN_BUDGET)
LLM_PIPE_BENCH_MOD = 97  # doc_id % mod == 0 stands in for the eval suite


def llm_dataset_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition — a full LLM training-data curation flow
    as ONE lazy plan with per-source attrition accounting at every
    stage: quality gate → exact dedup → benchmark decontamination →
    per-source token budget. Each stage is the same operator its
    standalone catalog entry pins; composing them declaratively lets
    Catalyst pipeline the flags instead of materializing stage tables:

    1. quality: >= 20 tokens, stopword ratio < 0.5, type-token > 0.2;
    2. dedup: keep the lowest doc_id among quality-passing identical
       texts — ONE unordered min window over text, no row_number sort
       (``doc_id = min(case when q then doc_id end) over (text)``);
    3. decontamination: kept docs sharing any word 5-gram with the
       bench slice (doc_id % {mod} == 0, excluded from the corpus) are
       dropped — per-doc distinct grams hashed to longs map-side, bench
       set broadcast (counts hash-invariant w.h.p., the
       ``decontamination_overlap`` discipline);
    4. budget: among clean docs, the deterministic md5-hash-ranked
       prefix whose running token sum stays <= {budget} per source
       (``token_budget_sample``'s exact-prefix rule; non-clean docs
       contribute 0 to the running sum so one window serves the flag).

    Shuffles: text window, gram agg + broadcast probe, source window,
    final rollup — each keyed and partial-agged; no stage materializes.
    Output: per-source doc counts surviving each stage + final tokens.
    """
    toked, flagged, is_bench = _llm_pipe_base(spark, sf_dir)
    return _llm_pipe_finish(
        toked, flagged, is_bench, "keep", [("n_quality", "q"), ("n_dedup", "keep")]
    )


def llm_quality_expr(toks: Column) -> tuple[Column, Column]:
    """The capstone quality rule as (n_toks, q) column expressions over a
    token array: ≥20 tokens, stopword ratio < 0.5, type-token ratio
    > 0.2. Single-sourced so the STREAMING curation gate
    (``streaming/jobs.py::llm_curation_stream``) applies bit-identical
    semantics per micro-batch — shared by call, not copy (the
    ``_llm_pipe_base``/``_llm_pipe_finish`` discipline)."""
    n_tok = F.size(toks)
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    q = (n_tok >= 20) & (n_stop.cast("double") / n_tok < 0.5) & (ttr > 0.2)
    return n_tok, q


def _llm_pipe_base(spark: SparkSession, sf_dir: str):
    """Stages 1-2 of the capstone flow (quality flags + exact-dedup keep),
    shared verbatim between ``llm_dataset_pipeline`` and the near-dedup
    variant so "same stage" is true by construction, not by copy.
    Returns (toked, flagged, is_bench)."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "source", "text", word_tokens("text").alias("toks"))
    is_bench = F.pmod(F.col("doc_id"), F.lit(LLM_PIPE_BENCH_MOD)) == 0
    corpus = toked.filter(~is_bench)
    n_tok, q = llm_quality_expr(F.col("toks"))
    flagged = corpus.select(
        "doc_id", "source", "text", "toks", n_tok.cast("long").alias("n_toks"), q.alias("q")
    )
    wt = W.partitionBy("text")
    flagged = flagged.withColumn(
        "keep",
        F.col("q")
        & (F.col("doc_id") == F.min(F.when(F.col("q"), F.col("doc_id"))).over(wt)),
    )
    return toked, flagged, is_bench


def _llm_pipe_finish(
    toked: DataFrame,
    flagged: DataFrame,
    is_bench: Column,
    keep_col: str,
    stage_flags: list[tuple[str, str]],
    budget_order=None,
) -> DataFrame:
    """Stages 4-5 of the capstone flow (benchmark decontamination over the
    ``keep_col`` survivors + per-source token budget) and the attrition
    rollup — ``stage_flags`` is the ordered (output name, flag column)
    list of upstream stages to count, so variants with extra stages get
    extra columns without touching the shared shuffle shape.
    ``budget_order`` (the DSIR capstone hook) maps the clean frame
    to ``(frame, order_cols)``, letting a variant join a per-doc ranking
    signal and spend each source's budget in that order; None keeps the
    deterministic md5-hash order (``token_budget_sample``'s rule)."""
    gram5 = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(hashed_gram_set(word_ngrams(F.col("toks"), DECON_N))).alias("gram"),
    )
    bench_grams = gram5(toked.filter(is_bench)).select("gram").distinct()
    dirty = (
        gram5(flagged.filter(F.col(keep_col)))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("dirty", F.lit(1))
    )
    c = flagged.join(dirty, "doc_id", "left").withColumn(
        "clean", F.col(keep_col) & F.col("dirty").isNull()
    )
    if budget_order is not None:
        c, order_cols = budget_order(c)
    else:
        order_cols = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    wb = (
        W.partitionBy("source")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    b = c.withColumn(
        "cum", F.sum(F.when(F.col("clean"), F.col("n_toks")).otherwise(F.lit(0))).over(wb)
    ).withColumn("in_budget", F.col("clean") & (F.col("cum") <= LLM_PIPE_BUDGET))
    flag = lambda col: F.sum(F.col(col).cast("long")).cast("long")  # noqa: E731
    return b.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        *[flag(col).alias(name) for name, col in stage_flags],
        flag("clean").alias("n_clean"),
        flag("in_budget").alias("n_final"),
        F.sum(F.when(F.col("in_budget"), F.col("n_toks")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_final"),
    )


def llm_dataset_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v2 — the curation flow with the NEAR-dedup stage the
    reference's LLM-pipeline flow treats as the core dedup operator
    (SURVEY §2.10; reference pipeline analog: the schedule→stats→train
    composition in src/main.py, here over documents): quality gate →
    exact dedup → near-dedup → benchmark decontamination → per-source
    token budget, per-source attrition counted at EVERY stage.

    Stages 1-2 and 4-5 are ``llm_dataset_pipeline``'s own code
    (`_llm_pipe_base` / `_llm_pipe_finish` — shared by call, not copy).
    Stage 3 runs ``operators.dedup.minhash_banded_pairs`` over the
    exact-dedup SURVIVORS only (candidate generation never touches docs
    a cheaper stage already dropped), groups candidates with
    ``components_from_pairs`` and keeps the min doc_id per component —
    ``keep_canonical_per_component``'s rule expressed as a left-anti
    flag so the attrition rollup stays one plan.

    FULL value-hash oracle since r11 (was rows-only through r10): the
    near-dedup stage runs the PORTABLE hash family (md5-60bit shingles
    + affine-permutation MinHash — ``operators.dedup`` r11) and the
    iterative component grouping unrolls into the same
    ``WITH RECURSIVE`` transitive closure ``dedup_exact_end_to_end``
    pins, so all five stages land under the DuckDB hash. All THREE
    batch capstones are now fully oracle-checked.
    tests/test_quality.py still pins that a planted paraphrase the
    exact stage provably misses (different text bytes, Jaccard ≥ 0.5)
    is removed here, plus full stage monotonicity
    n_input ≥ n_quality ≥ n_dedup ≥ n_neardup ≥ n_clean ≥ n_final.

    Scale shape on top of v1's windows: one map-only MinHash signature
    projection over survivors, a banded self-join whose cost tracks
    actual collisions (never n²), and a component loop over the EDGE
    set only (near-dup density, not corpus size).
    """
    from ..operators.dedup import components_from_pairs, minhash_banded_pairs

    toked, flagged, is_bench = _llm_pipe_base(spark, sf_dir)
    survivors = flagged.filter(F.col("keep")).select("doc_id", "text")
    pairs = minhash_banded_pairs(survivors, jaccard_threshold=0.5, hash_family="md5")
    comps = components_from_pairs(pairs)
    near_drop = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("near_dup")
    )
    f2 = flagged.join(near_drop, "doc_id", "left").withColumn(
        "nkeep", F.col("keep") & F.col("near_dup").isNull()
    )
    return _llm_pipe_finish(
        toked,
        f2,
        is_bench,
        "nkeep",
        [("n_quality", "q"), ("n_dedup", "keep"), ("n_neardup", "nkeep")],
    )


_LLM_PIPE_GRAM5 = (
    "list_distinct(list_transform(range(1, len(w) - 3), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))"
)

def _llm_pipeline_neardup_sql() -> str:
    """DuckDB dual of capstone v2 — v1's CTE chain with the portable
    banded-MinHash pair set + recursive-CTE components spliced in as
    stage 3 (the pair/component SQL is ``queries.ml``'s own builder,
    shared by call, not copy)."""
    from .ml import _COMPONENTS_CTE, _minhash_pairs_cte

    pairs_cte = _minhash_pairs_cte(
        0.5, source="(SELECT doc_id, text FROM k WHERE keep)"
    )
    return rf"""
WITH RECURSIVE base AS (
  SELECT doc_id, source, text, regexp_split_to_array(TRIM(text), '\s+') AS w
  FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} <> 0
), qf AS (
  SELECT doc_id, source, text, w, CAST(len(w) AS BIGINT) AS n_toks,
         (len(w) >= 20
          AND CAST(len(list_filter(w, x -> x IN {STOPWORDS})) AS DOUBLE) / len(w) < 0.5
          AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.2) AS q
  FROM base
), k AS (
  SELECT *, (q AND doc_id = MIN(CASE WHEN q THEN doc_id END)
                         OVER (PARTITION BY text)) AS keep
  FROM qf
), {pairs_cte}, {_COMPONENTS_CTE}, near_drop AS (
  SELECT node AS doc_id FROM comp WHERE node <> component
), k2 AS (
  SELECT k.*, (keep AND nd.doc_id IS NULL) AS nkeep
  FROM k LEFT JOIN near_drop nd ON k.doc_id = nd.doc_id
), bench AS (
  SELECT DISTINCT UNNEST({_LLM_PIPE_GRAM5}) AS gram
  FROM (SELECT regexp_split_to_array(TRIM(text), '\s+') AS w
        FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} = 0)
), kept_grams AS (
  SELECT doc_id, UNNEST({_LLM_PIPE_GRAM5}) AS gram FROM k2 WHERE nkeep
), dirty AS (
  SELECT DISTINCT doc_id FROM kept_grams JOIN bench USING (gram)
), c AS (
  SELECT k2.*, (nkeep AND dirty.doc_id IS NULL) AS clean
  FROM k2 LEFT JOIN dirty ON k2.doc_id = dirty.doc_id
), b AS (
  SELECT *, SUM(CASE WHEN clean THEN n_toks ELSE 0 END) OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN nkeep THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
       CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_final
FROM b GROUP BY source
"""


LLM_PIPELINE_NEARDUP_SQL = _llm_pipeline_neardup_sql()


LLM_PIPELINE_SQL = rf"""
WITH base AS (
  SELECT doc_id, source, text, regexp_split_to_array(TRIM(text), '\s+') AS w
  FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} <> 0
), qf AS (
  SELECT doc_id, source, text, w, CAST(len(w) AS BIGINT) AS n_toks,
         (len(w) >= 20
          AND CAST(len(list_filter(w, x -> x IN {STOPWORDS})) AS DOUBLE) / len(w) < 0.5
          AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.2) AS q
  FROM base
), k AS (
  SELECT *, (q AND doc_id = MIN(CASE WHEN q THEN doc_id END)
                         OVER (PARTITION BY text)) AS keep
  FROM qf
), bench AS (
  SELECT DISTINCT UNNEST({_LLM_PIPE_GRAM5}) AS gram
  FROM (SELECT regexp_split_to_array(TRIM(text), '\s+') AS w
        FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} = 0)
), kept_grams AS (
  SELECT doc_id, UNNEST({_LLM_PIPE_GRAM5}) AS gram FROM k WHERE keep
), dirty AS (
  SELECT DISTINCT doc_id FROM kept_grams JOIN bench USING (gram)
), c AS (
  SELECT k.*, (keep AND dirty.doc_id IS NULL) AS clean
  FROM k LEFT JOIN dirty ON k.doc_id = dirty.doc_id
), b AS (
  SELECT *, SUM(CASE WHEN clean THEN n_toks ELSE 0 END) OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_final
FROM b GROUP BY source
"""


def llm_dataset_pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v3 — the curation flow with DSIR-ORDERED budget spending:
    quality gate → exact dedup → benchmark decontamination → per-source
    token budget spent in descending DSIR per-token importance (Xie et
    al. 2023) instead of v1's neutral hash order — each source's budget
    goes to its most target-like documents, which is the selection step
    DSIR exists for.

    Stages 1-3 and the rollup are ``llm_dataset_pipeline``'s own code
    (``_llm_pipe_base`` / ``_llm_pipe_finish`` — shared by call, not
    copy); the ordering stage plugs in through the ``budget_order``
    hook. The DSIR bucket model is trained INSIDE the pipeline on the
    non-bench corpus (the eval slice must not influence selection —
    v1's decontamination argument applied to the ranking model), target
    class = ``DSIR_TARGET_SOURCE`` documents, and every corpus document
    gets a weight: ``operators.dsir.log_weights``, 6dp-rounded BEFORE
    ordering so both engines rank identical values (the
    ``ccnet_perplexity_buckets`` discipline).

    Fully DuckDB-oracle'd: the weight CTEs reuse the dsir entry's
    SQL shape inside v1's pipeline CTE chain.

    Scale shape on top of v1's windows: one extra (doc, bucket)
    exchange off the already-tokenized corpus (map-side combined,
    ≤256 rows per doc), a ≤256-row broadcast model, and a doc-grain
    weights join — no corpus-sized sort, no driver state beyond the
    broadcast."""
    toked, flagged, is_bench = _llm_pipe_base(spark, sf_dir)

    def dsir_order(c: DataFrame):
        kc = _dsir_counts(flagged, F.col("toks"))
        model, norm = dsir.fit(kc)
        wts = dsir.log_weights(
            kc.join(F.broadcast(model.select("b", "lr")), "b"), F.col("lr"), norm
        ).select("doc_id", stable_round(F.col("log_weight"), 6).alias("_lw"))
        # LEFT join: wts only covers docs that
        # produced ≥1 token row — explode drops NULL-text documents —
        # so an inner join would silently remove those docs from EVERY
        # rollup counter (n_input onward), breaking the shared-stage
        # equality with v1 that the pytest pins. A NULL-text doc can
        # never be `clean`, so its rank just needs to be deterministic:
        # coalesce the per-token weight to a sentinel below any real
        # log-weight (sorts last), doc_id tiebreak. SQL dual mirrors
        # the LEFT JOIN + COALESCE exactly.
        c2 = c.join(wts, "doc_id", "left")
        order = [
            F.coalesce(
                F.col("_lw") / F.col("n_toks").cast("double"), F.lit(-1e300)
            ).desc(),
            F.col("doc_id").asc(),
        ]
        return c2, order

    return _llm_pipe_finish(
        toked,
        flagged,
        is_bench,
        "keep",
        [("n_quality", "q"), ("n_dedup", "keep")],
        budget_order=dsir_order,
    )


LLM_PIPELINE_DSIR_SQL = rf"""
WITH base AS (
  SELECT doc_id, source, text, regexp_split_to_array(TRIM(text), '\s+') AS w
  FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} <> 0
), qf AS (
  SELECT doc_id, source, text, w, CAST(len(w) AS BIGINT) AS n_toks,
         (len(w) >= 20
          AND CAST(len(list_filter(w, x -> x IN {STOPWORDS})) AS DOUBLE) / len(w) < 0.5
          AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.2) AS q
  FROM base
), k AS (
  SELECT *, (q AND doc_id = MIN(CASE WHEN q THEN doc_id END)
                         OVER (PARTITION BY text)) AS keep
  FROM qf
), bench AS (
  SELECT DISTINCT UNNEST({_LLM_PIPE_GRAM5}) AS gram
  FROM (SELECT regexp_split_to_array(TRIM(text), '\s+') AS w
        FROM documents WHERE doc_id % {LLM_PIPE_BENCH_MOD} = 0)
), kept_grams AS (
  SELECT doc_id, UNNEST({_LLM_PIPE_GRAM5}) AS gram FROM k WHERE keep
), dirty AS (
  SELECT DISTINCT doc_id FROM kept_grams JOIN bench USING (gram)
), c AS (
  SELECT k.*, (keep AND dirty.doc_id IS NULL) AS clean
  FROM k LEFT JOIN dirty ON k.doc_id = dirty.doc_id
), wtoks AS (
  SELECT doc_id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
         UNNEST(w) AS wd
  FROM base
), kc AS (
  SELECT doc_id, is_target, substr(md5(wd), 1, 2) AS b, COUNT(*) AS kk
  FROM wtoks GROUP BY 1, 2, 3
), model AS (
  SELECT b,
         LN(CAST(SUM(CASE WHEN is_target THEN kk ELSE 0 END) AS DOUBLE) + 1.0)
       - LN(CAST(SUM(CASE WHEN NOT is_target THEN kk ELSE 0 END) AS DOUBLE) + 1.0)
           AS lr,
         SUM(CASE WHEN is_target THEN kk ELSE 0 END) AS t,
         SUM(CASE WHEN NOT is_target THEN kk ELSE 0 END) AS r
  FROM kc GROUP BY 1
), totals AS (
  SELECT LN(CAST(SUM(r) AS DOUBLE) + {float(DSIR_BUCKETS)})
       - LN(CAST(SUM(t) AS DOUBLE) + {float(DSIR_BUCKETS)}) AS norm
  FROM model
), wts AS (
  SELECT doc_id,
         (ROUND((SUM(CAST(kk AS DOUBLE) * lr)
                 + CAST(CAST(SUM(kk) AS BIGINT) AS DOUBLE) * norm) * 1e6) / 1e6)
           AS lw
  FROM kc JOIN model USING (b) CROSS JOIN totals
  GROUP BY doc_id, norm
), b AS (
  SELECT c.*, SUM(CASE WHEN clean THEN n_toks ELSE 0 END) OVER (
              PARTITION BY source
              ORDER BY COALESCE(wts.lw / CAST(n_toks AS DOUBLE), -1e300) DESC,
                       c.doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c LEFT JOIN wts ON c.doc_id = wts.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN clean AND cum <= {LLM_PIPE_BUDGET} THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_final
FROM b GROUP BY source
"""


def llm_dataset_pipeline_stream(
    spark: SparkSession, sf_dir: str, dsir: bool = False
) -> DataFrame:
    """Capstone, STREAMING form: the incremental
    curation pipeline a 100 TB ingest actually runs — quality gate →
    incremental near-dedup against the persisted MinHash band index →
    Bloom benchmark decontamination → per-source token budget — executed
    HERE as a real Structured Streaming query
    (``streaming/jobs.py::llm_curation_stream``, availableNow trigger
    over the corpus parquet), then rolled up to the batch capstone's
    per-source attrition schema from the stream's committed stats
    epochs.

    Stage semantics are the batch entries' own code shared by call:
    ``llm_quality_expr`` (stage 1), ``_dedup_epoch`` (stage 2 — the
    ``incremental_dedup_stream`` loop), ``_bloom_clean_docs`` (stage 3 —
    the ``decontaminate_stream`` gate), arrival-ordered budget (stage 4;
    the batch capstones, holding the whole corpus, can order by global
    hash / DSIR weight instead).
    Dedup here is banding-only (the incremental index probe) and
    decontamination is Bloom-FPR-bounded, so counts are NOT expected to
    hash-match the exact batch entry — the multi-epoch==single-epoch,
    replay-idempotence, and stream==batch-reference parity contracts are
    pinned in tests/test_streaming.py::test_llm_curation_stream*.

    Rows-only entry (a streaming query with external table state has no
    DuckDB dual). State/checkpoint live in a fresh mkdtemp per call and
    are DELETED before returning (the kept-corpus copy +
    band index + checkpoint are corpus-sized — leaking one per bench/
    correctness invocation accumulates unboundedly in /tmp); the final
    rollup is collected first (bounded: one row per source per epoch)
    and returned as a local DataFrame, so nothing lazy outlives the
    scratch dir."""
    import shutil
    import tempfile

    from ..operators.bloom import bloom_build
    from ..streaming.jobs import (
        CURATION_STATS,
        CURATION_STATS_SCHEMA,
        llm_curation_stream,
        read_epoch_union,
    )

    d = load_table(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(LLM_PIPE_BENCH_MOD)) == 0
    bench_grams = (
        d.filter(is_bench)
        .select(word_tokens("text").alias("toks"))
        .select(
            F.explode(
                hashed_gram_set(word_ngrams(F.col("toks"), DECON_N))
            ).alias("gram")
        )
        .distinct()
    )
    # DSIR variant: train the bucket model batch-side on the
    # NON-BENCH corpus (v3's eval-must-not-influence-selection rule) and
    # hand it to the stream as a 2-KB literal. Trained BEFORE any scratch
    # state is allocated (a training failure after mkdtemp /
    # broadcast would leak both — the cleanup sits in the finally below).
    model = (
        dsir_bucket_model(spark, sf_dir, docs=d.filter(~is_bench)) if dsir else None
    )
    bits = spark.sparkContext.broadcast(bloom_build(bench_grams))

    root = tempfile.mkdtemp(prefix="mlbwp_llm_stream_")
    # the file streaming source requires a DIRECTORY; expose the single
    # documents.parquet through a symlink in our scratch dir
    import os

    os.makedirs(f"{root}/in")
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        f"{root}/in/documents.parquet",
    )
    stream = (
        spark.readStream.schema(d.schema)
        .parquet(f"{root}/in")
        .filter(~is_bench)
        .select("doc_id", "source", "text")
    )
    try:
        q = llm_curation_stream(
            stream,
            bits,
            f"{root}/index",
            f"{root}/stats",
            f"{root}/kept",
            f"{root}/ckpt",
            budget_per_source=LLM_PIPE_BUDGET,
            dsir_model=model,
        ).start()
        q.awaitTermination()

        stats = read_epoch_union(spark, f"{root}/stats", CURATION_STATS_SCHEMA)
        rows = (
            stats.groupBy("source")
            .agg(*[F.sum(c).cast("long").alias(c) for c in CURATION_STATS])
            .collect()
        )
    finally:
        # destroy (not just unpersist) the Bloom bitset broadcast:
        # unpersist only drops executor copies — the driver-held value
        # and the on-disk broadcast artifact survive until destroy, so
        # repeated invocations would still accumulate driver state
        # bits is never used after this.
        bits.destroy()
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, CURATION_STATS_SCHEMA)


def llm_dataset_pipeline_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone, STREAMING form with DSIR-ORDERED budget spending (r12,
    r11 verdict #7): identical scaffolding and stages to
    ``llm_dataset_pipeline_stream`` (shared BY CALL — the ``dsir`` flag
    only swaps the spending window's order), with each epoch's
    per-source budget spent in descending DSIR per-token importance
    against a batch-trained bucket model instead of arrival order —
    the stream-feasible half of batch v3's global DSIR order (admission
    is irreversible across epochs; see
    ``streaming.jobs.llm_curation_stream``'s docstring for why the
    other half cannot exist under replay). Rows-only like the base
    stream entry; within-epoch reorder + multi-epoch==single-batch
    parity (weight-ordered arrival) pinned in
    tests/test_streaming.py::test_llm_curation_stream_dsir*."""
    return llm_dataset_pipeline_stream(spark, sf_dir, dsir=True)


def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary (the classic corpus-health
    statistic: ln freq ≈ α·ln rank + β with α ≈ −1 for natural text;
    a corpus whose exponent drifts far from −1 is boilerplate-heavy or
    template-generated). Frequency ranking uses the range-partitioned
    ``dense_global_index`` on (−count, term) — the vocabulary can be
    10^8 terms at corpus scale, so no global one-task sort — and the fit
    is the exact mergeable SQL:2003 moment aggregate ``regr_slope`` /
    ``regr_r2`` (same one-pass discipline as ``regression_aggregates``;
    6dp rounding absorbs partial-fold order)."""
    d = load_table(spark, sf_dir, "documents")
    # vocab-grain table cached before the dense index: the range-sampling
    # pass, the per-partition-count collect, and the final regr agg would
    # otherwise each re-run the corpus token explode (same rule as
    # ccnet_perplexity_buckets / rfm_segments)
    wc = (
        d.select(F.explode(word_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    ).cache()
    ranked = dense_global_index(
        wc.select("w", "c", (-F.col("c")).alias("neg_c")), ["neg_c", "w"]
    ).select("c", (F.col("row_idx") + 1).cast("double").alias("rank"))
    y, x = F.log(F.col("c").cast("double")), F.log("rank")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        stable_round(F.regr_slope(y, x), 6).alias("zipf_exponent"),
        stable_round(F.regr_intercept(y, x), 6).alias("ln_c_at_rank1"),
        stable_round(F.regr_r2(y, x), 6).alias("r2"),
    )


ZIPF_LAW_SQL = rf"""
WITH toks AS (
  SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY 1
), ranked AS (
  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS DOUBLE) AS rank
  FROM wc
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       {sround("regr_slope(LN(CAST(c AS DOUBLE)), LN(rank))", 6)} AS zipf_exponent,
       {sround("regr_intercept(LN(CAST(c AS DOUBLE)), LN(rank))", 6)} AS ln_c_at_rank1,
       {sround("regr_r2(LN(CAST(c AS DOUBLE)), LN(rank))", 6)} AS r2
FROM ranked
"""


CCNET_KEEP_PCT = {1: 100, 2: 50, 3: 10}  # head / middle / tail keep rates
CCNET_BUCKET_NAMES = {1: "head", 2: "middle", 3: "tail"}


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature move (Wenzek et al. 2020 §4.3): split the corpus
    into perplexity terciles — head (most fluent), middle, tail — and
    keep each bucket at a different rate. Composes two already-hardened
    pieces: per-doc ``unigram_logprob_quality`` scores (rounded 6dp
    BEFORE bucketing so both engines order identical values), and the
    exact-NTILE range-partitioned ``dense_global_index`` pattern from
    ``quantile_binning`` — no single-partition global sort at any scale.
    The per-bucket downsample is the same overflow-free md5-prefix
    integer hash gate as ``balanced_mixture_sample`` (exact integer
    compare, no float threshold, rerun-stable). Output: per-bucket doc
    count, kept count, and the [min, max] nll band."""
    # r13: no cache, no count() — with the lazy-checkpoint exact_ntile
    # (n=None) the per-doc scores are read exactly once, by the tercile
    # index's single materializing job; the r12-era cache existed to
    # share the scores between the count() scan and the (then-eager)
    # checkpoint job, both of which are gone.
    nll = unigram_logprob_quality(spark, sf_dir).select("doc_id", "avg_nll")
    binned = exact_ntile(nll, ["avg_nll", "doc_id"], None, 3, "bucket_id").select(
        "doc_id", "avg_nll", "bucket_id"
    )
    hashv = md5_int32(F.col("doc_id").cast("string"))
    keep_pct = (
        F.when(F.col("bucket_id") == 1, F.lit(CCNET_KEEP_PCT[1]))
        .when(F.col("bucket_id") == 2, F.lit(CCNET_KEEP_PCT[2]))
        .otherwise(F.lit(CCNET_KEEP_PCT[3]))
        .cast("long")
    )
    # hash < 2^32 and pct <= 100, so both products stay far below 2^63
    kept = (hashv * 100 < keep_pct * F.lit(4294967296)).cast("long")
    bucket = (
        F.when(F.col("bucket_id") == 1, F.lit(CCNET_BUCKET_NAMES[1]))
        .when(F.col("bucket_id") == 2, F.lit(CCNET_BUCKET_NAMES[2]))
        .otherwise(F.lit(CCNET_BUCKET_NAMES[3]))
    )
    return (
        binned.select("bucket_id", bucket.alias("bucket"), "avg_nll", kept.alias("k"))
        .groupBy("bucket_id", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_kept"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
    )


CCNET_BUCKETS_SQL = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
  FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM toks GROUP BY 1
), total AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM wc
), dc AS (
  SELECT doc_id, w, COUNT(*) AS k FROM toks GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
         SUM(CAST(k AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS sum_klnc
  FROM dc JOIN wc USING (w) GROUP BY 1
), nll AS (
  SELECT doc_id,
         (ROUND((LN(n_total) - sum_klnc / CAST(n_tokens AS DOUBLE)) * 1e6) / 1e6) AS avg_nll
  FROM per_doc, total
), binned AS (
  SELECT doc_id, avg_nll,
         NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS bucket_id
  FROM nll
)
SELECT bucket_id,
       CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) * 100
                     < (CASE bucket_id WHEN 1 THEN 100 WHEN 2 THEN 50 ELSE 10 END) * 4294967296
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       MIN(avg_nll) AS min_nll,
       MAX(avg_nll) AS max_nll
FROM binned GROUP BY bucket_id
"""


def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring — the next step up from
    ``unigram_logprob_quality`` toward the KenLM-perplexity filters of
    CCNet/RefinedWeb: per document, the average negative log of the
    CONDITIONAL probability of each token given its predecessor,
    ``avg_nll = Σ −ln( c_bi(u,w) / c_ctx(u) ) / (n−1)``, with corpus
    bigram counts ``c_bi`` and context counts ``c_ctx(u)`` = occurrences
    of u in non-final position (so probabilities per context sum to 1 —
    an exact MLE bigram model, no smoothing needed since every doc's
    bigrams are, by construction, in the corpus they're scored against).
    Repetitive boilerplate scores LOW (its transitions dominate the
    corpus); incoherent token soup scores HIGH.

    Plan (the unigram tokenize-once lesson): bigrams are built
    MAP-SIDE from each doc's token array (transform over an index
    sequence — no window, no positions shuffle), then the corpus bigram
    and context counts ride WINDOWS over the per-doc agg —
    ``c_bi = sum(k) over (partition by bi)`` and
    ``c_ctx = sum(k) over (partition by ctx)`` — instead of branch
    aggregations joined back: with branches the doc_bi subtree appears
    three times in the plan (corpus_bi source, ctx source via corpus_bi,
    and the final join's left side) and Spark 4's AQE does not
    stage-reuse duplicated subtrees, so the corpus was re-tokenized per
    branch. Single subtree now, zero joins: doc_bi exchange, two keyed
    window exchanges, doc rollup. Exact integer counts; one final
    ln/divide rounded 6dp (same discipline as the unigram entry)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    # STAGED projection: tokenize once per doc, THEN build bigrams from
    # the materialized array. Inlining the split into the transform
    # lambda re-evaluates the regex split per array element — O(n²)
    # tokenization per doc (measured 4x on this entry at sf0.1).
    toked = d.select("doc_id", word_tokens("text").alias("toks"))
    toks = F.col("toks")
    # every shuffle below is keyed on xxhash64 LONGS, not (u,w) string
    # pairs — the span-dedup family's 8-byte-key discipline (collision
    # probability ~(n_bigrams)²/2⁶⁵, vanishing and deterministic). The
    # context key rides along so c_ctx never needs the strings either.
    # Guard: a 1-token doc would make sequence(1, 0) count DOWN ([1,0])
    # and element_at(toks, 0) throw; DuckDB's generate_series(1, 0) is
    # empty, so an empty array keeps the engines aligned (doc drops out).
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.xxhash64(F.element_at(toks, i), F.element_at(toks, i + 1)).alias("bi"),
                F.xxhash64(F.element_at(toks, i)).alias("ctx"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:bigint,ctx:bigint>>"))
    doc_bi = (
        toked.select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.bi").alias("bi"), F.col("b.ctx").alias("ctx"))
        .groupBy("doc_id", "bi")
        .agg(F.count(F.lit(1)).alias("k"), F.first("ctx").alias("ctx"))
    )
    dbw = doc_bi.withColumn(
        "c_bi", F.sum("k").over(W.partitionBy("bi"))
    ).withColumn("c_ctx", F.sum("k").over(W.partitionBy("ctx")))
    return (
        dbw.groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(
                F.col("k").cast("double")
                * (
                    F.log(F.col("c_ctx").cast("double"))
                    - F.log(F.col("c_bi").cast("double"))
                )
            ).alias("sum_nll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            stable_round(F.col("sum_nll") / F.col("n_bigrams").cast("double"), 6).alias(
                "avg_nll"
            ),
        )
    )


JM_LAMBDA = 0.7


def _interpolated_logprob(
    spark: SparkSession, sf_dir: str, lam: float, split: bool
) -> DataFrame:
    """Shared engine for ``interpolated_logprob_quality`` and its
    reduction property tests (λ=1 → the bigram entry, λ=0 → unigram
    probabilities over the same transitions). ``split=True`` trains on
    even doc_ids and scores odd ones (split-half held-out, so unseen
    bigrams/words actually occur and smoothing + the OOV floor are
    exercised); ``split=False`` trains and scores on the full corpus
    (the reduction-test configuration, where every scored event is in
    the model and the floor provably never binds)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toked = d.select("doc_id", word_tokens("text").alias("toks"))
    train = toked.filter(F.col("doc_id") % 2 == 0) if split else toked
    score = toked.filter(F.col("doc_id") % 2 == 1) if split else toked
    toks = F.col("toks")
    # map-side transition structs, same 8-byte-key discipline as the
    # bigram entry (bi = hash(u,w), ctx = hash(u)) plus tgt = hash(w)
    # for the unigram join; guarded for 1-token docs.
    trans = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.xxhash64(F.element_at(toks, i), F.element_at(toks, i + 1)).alias("bi"),
                F.xxhash64(F.element_at(toks, i)).alias("ctx"),
                F.xxhash64(F.element_at(toks, i + 1)).alias("tgt"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:bigint,ctx:bigint,tgt:bigint>>"))
    # model: bigram + context counts from train transitions (context from
    # the same agg, no rescan), unigram counts from ALL train tokens
    tr_bi = (
        train.select(F.explode(trans).alias("t"))
        .groupBy(F.col("t.bi").alias("bi"))
        .agg(F.count(F.lit(1)).alias("c_bi"), F.first("t.ctx").alias("ctx"))
    )
    c_ctx = tr_bi.groupBy("ctx").agg(F.sum("c_bi").alias("c_ctx"))
    c_uni = (
        train.select(
            F.explode(F.transform(toks, lambda w: F.xxhash64(w))).alias("tgt")
        )
        .groupBy("tgt")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    tot = c_uni.agg(F.sum("c_w").cast("double").alias("n_total"))
    doc_bi = (
        score.select("doc_id", F.explode(trans).alias("t"))
        .groupBy("doc_id", "t.bi", "t.ctx", "t.tgt")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # Jelinek-Mercer mix with an OOV floor: when both terms are unseen P
    # would be 0 (ln → -inf). The smallest NONZERO model probability is
    # the hapax-target/unseen-bigram case, (1−λ)·1/N, so the floor is
    # 0.5·(1−λ)/N — strictly below every attainable model value — and
    # binds ONLY for true OOV events (a flat 0.5/N would silently
    # override the JM mix for exactly the rare-vocabulary events the
    # filter targets). At λ=1 the unigram leg vanishes, so the floor
    # falls back to 0.5/N purely as the ln(0) guard; the λ=1 reduction
    # test runs split=False where every scored bigram is in the model
    # (p_bi ≥ 1/N > 0.5/N), so the reduction stays exact.
    floor_scale = 0.5 * (1.0 - lam) if lam < 1.0 else 0.5
    p_bi = F.col("c_bi").cast("double") / F.col("c_ctx").cast("double")
    p_uni = F.col("c_w").cast("double") / F.col("n_total")
    p = F.greatest(
        F.lit(lam) * F.coalesce(p_bi, F.lit(0.0))
        + F.lit(1.0 - lam) * F.coalesce(p_uni, F.lit(0.0)),
        F.lit(floor_scale) / F.col("n_total"),
    )
    return (
        doc_bi.join(tr_bi.select("bi", "c_bi"), "bi", "left")
        .join(c_ctx, "ctx", "left")
        .join(c_uni, "tgt", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("_nll", F.col("k").cast("double") * -F.log(p))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            stable_round(
                F.sum("_nll") / F.sum("k").cast("double"), 6
            ).alias("avg_nll"),
        )
    )


def interpolated_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram↔unigram LM quality scoring —
    the held-out step from ``bigram_logprob_quality`` toward CCNet-style
    KenLM perplexity filtering: docs are scored against a model built
    from OTHER documents (train = even doc_ids, score = odd), so unseen
    bigrams genuinely occur and the smoothing does real work:
    ``P(w|u) = λ·c_bi(u,w)/c_ctx(u) + (1−λ)·c_w/N`` (λ={lam}), floored
    at 0.5·(1−λ)/N — strictly below the hapax-target minimum (1−λ)/N, so
    the floor binds ONLY for true OOV events. Per scored doc: transition
    count and average negative log-prob, rounded 6dp.

    Plan shape is the bigram entry's: map-side transition build (no
    window/positions shuffle), xxhash64 long keys everywhere, model
    derived from one train-side agg, three LEFT hash joins back to the
    scored transitions, one broadcast 1-row total. Property tests pin
    the reductions: λ=1 on a shared train/score corpus equals the
    bigram entry exactly; λ=0 equals unigram probabilities over the
    same transitions (tests/test_properties.py)."""
    return _interpolated_logprob(spark, sf_dir, JM_LAMBDA, split=True)


INTERPOLATED_LOGPROB_SQL = rf"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), train_bi AS (
  SELECT toks[i] AS u, toks[i + 1] AS w
  FROM toked, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE doc_id % 2 = 0
), c_bi AS (
  SELECT u, w, COUNT(*) AS c_bi FROM train_bi GROUP BY 1, 2
), c_ctx AS (
  SELECT u, SUM(c_bi) AS c_ctx FROM c_bi GROUP BY 1
), c_uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT UNNEST(toks) AS w FROM toked WHERE doc_id % 2 = 0)
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c_w) AS DOUBLE) AS n_total FROM c_uni
), score_bi AS (
  SELECT doc_id, toks[i] AS u, toks[i + 1] AS w, COUNT(*) AS k
  FROM toked, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
), scored AS (
  SELECT doc_id, k,
         GREATEST(
           {JM_LAMBDA} * COALESCE(CAST(c_bi AS DOUBLE) / CAST(c_ctx AS DOUBLE), 0)
           + {1.0 - JM_LAMBDA} * COALESCE(CAST(c_w AS DOUBLE) / n_total, 0),
           {0.5 * (1.0 - JM_LAMBDA)} / n_total
         ) AS p
  FROM score_bi
  LEFT JOIN c_bi USING (u, w)
  LEFT JOIN c_ctx USING (u)
  LEFT JOIN c_uni USING (w)
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       ROUND(SUM(CAST(k AS DOUBLE) * -LN(p)) / CAST(SUM(k) AS DOUBLE) * 1e6) / 1e6
         AS avg_nll
FROM scored GROUP BY doc_id
"""


BIGRAM_LOGPROB_SQL = r"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
), bi AS (
  SELECT doc_id, toks[i] AS u, toks[i + 1] AS w
  FROM toked, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
), doc_bi AS (
  SELECT doc_id, u, w, COUNT(*) AS k FROM bi GROUP BY 1, 2, 3
), corpus_bi AS (
  SELECT u, w, SUM(k) AS c_bi FROM doc_bi GROUP BY 1, 2
), ctx AS (
  SELECT u, SUM(c_bi) AS c_ctx FROM corpus_bi GROUP BY 1
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       ROUND(SUM(CAST(k AS DOUBLE) * (LN(CAST(c_ctx AS DOUBLE)) - LN(CAST(c_bi AS DOUBLE))))
             / CAST(SUM(k) AS DOUBLE) * 1e6) / 1e6 AS avg_nll
FROM doc_bi JOIN corpus_bi USING (u, w) JOIN ctx USING (u)
GROUP BY doc_id
"""


TOKEN_BUDGET = 800


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET sampling (the curation step after mixture weights:
    "give me at most B training tokens per source"; B=800 here, chosen
    to BIND at every test SF so the check is never vacuous): docs are ranked
    by a deterministic per-doc hash (retry/rerun-stable, like
    ``balanced_mixture_sample``) and taken greedily while the running
    token total stays within budget — so the selection is an exact
    prefix of a reproducible permutation, not a rate that drifts with
    doc-length variance. Per-source report: docs/tokens kept vs total.

    One shuffle (window per source, reused by the rollup). The hash
    ranking means adding new docs to a source only APPENDS candidates
    after the existing frontier w.h.p. — reruns over a grown corpus keep
    a stable core instead of reshuffling the whole sample."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id",
        "source",
        F.size(word_tokens("text")).cast("long").alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    run = toked.withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        run.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_total"),
            F.sum("n_toks").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("cum_toks") <= TOKEN_BUDGET, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_kept"),
            F.max(
                F.when(F.col("cum_toks") <= TOKEN_BUDGET, F.col("cum_toks")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("tokens_kept"),
        )
    )


TOKEN_BUDGET_SQL = rf"""
WITH toked AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), run AS (
  SELECT source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_toks
  FROM toked
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_total,
       CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN cum_toks <= {TOKEN_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(MAX(CASE WHEN cum_toks <= {TOKEN_BUDGET} THEN cum_toks ELSE 0 END) AS BIGINT) AS tokens_kept
FROM run GROUP BY source
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix (the dataset-curation report
    behind "which crawls/site feeds duplicate each other?"): for every
    source pair, the number of distinct word-{n}-grams they share. The
    per-pair counts tell you which source to drop or de-prioritize in
    the mixture BEFORE paying for full pairwise doc dedup.

    Plan: per-gram sorted source SETS from one aggregation on
    xxhash64-hashed grams (map-side array_distinct per doc first); the
    df==1 majority — grams seen by a single source — is filtered BEFORE
    any pairing, and pairs are expanded map-side from each set with an
    indexed transform×slice (no self-join: the gram table is shuffled
    once for the agg instead of twice into a join). Per-gram fan-out is
    bounded by the SOURCE DOMAIN squared — not by docs; the final
    rollup key (src_a, src_b) is domain-bounded. Measured vs the
    distinct+self-join plan: 1.46s -> ~0.9s at sf0.1."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toked = d.select("source", word_tokens("text").alias("toks"))
    e = toked.select(
        "source",
        F.explode(hashed_gram_set(word_ngrams(F.col("toks"), CROSSDOC_N))).alias("g"),
    )
    srcs = (
        e.groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = srcs.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda a, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


SOURCE_OVERLAP_SQL = rf"""
WITH t AS (
  SELECT source, regexp_split_to_array(TRIM(text), '\s+') AS w FROM documents
), e AS (
  SELECT DISTINCT source,
         array_to_string(list_slice(w, i, i + {CROSSDOC_N - 1}), ' ') AS gram
  FROM t, LATERAL (SELECT unnest(range(1, len(w) - {CROSSDOC_N} + 2)) AS i)
  WHERE len(w) >= {CROSSDOC_N}
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM e a JOIN e b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2
"""


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training at a production budget
    (``operators.bpe.bpe_train``): the subword-vocabulary learner every
    LLM tokenizer ships, trained on the documents corpus. ONE
    corpus-grain pass builds the weighted word vocabulary (the
    ``BPE_ALPHA_PATTERN`` word class of the shared ``BPE_PATTERN``
    pre-tokenizer — the alpha subclass by design, derived from the same
    constant ``token_count_bpe`` splits with); merge learning then runs
    at the DISTINCT-WORD grain only — driver-local when the counted
    vocabulary fits the bounded budget (the subword-nmt / GPT-2
    encoder-builder structure), distributed batched iterations
    (provably sequential-equivalent merge batches, one fold pass per
    batch) when it doesn't. Budget raised 12 → 256 merges in r7; the
    synthetic corpus's vocabulary saturates first (~107 merges collapse
    every word to one symbol), and training to saturation is now
    CHEAPER than the old 12-merge run because per-merge cost left the
    per-Spark-job regime. Deterministic (lexicographic tie-break), so
    the merge table is a pure function of the corpus.

    Output: the ordered merge table (rank, left, right, merged,
    weighted pair count) — the trained artifact. Rows-only entry
    (iterative argmax training has no SQL dual); exact-match parity
    against a pure-Python Sennrich-style reference implementation is
    pinned in tests/test_quality.py for BOTH the driver-local and the
    distributed batched paths."""
    from ..operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ALPHA_PATTERN), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merges, _ = bpe_train(words, n_merges=256)
    return spark.createDataFrame(
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "merge_rank int, left string, right string, merged string, pair_count long",
    )


def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer SERVE path at corpus grain (closing the train→apply
    loop r6 left open): train the merge table to the production budget,
    segment the distinct-word vocabulary ONCE with the trained merges
    (``operators.bpe.bpe_segment_words`` — broadcast rank dict, one
    Arrow map-only pass, per-batch memoization), then one corpus-grain
    pass joins each word occurrence to its subword count. Digest:
    per-source corpus-weighted subword totals + fertility (subwords per
    word) — the number a tokenizer team multiplies corpus size by to
    price a training run.

    Scale shape: training is vocab-grain (see bpe_train); the
    vocab→subword-count table is Heaps-sublinear in corpus size and the
    join is left UNHINTED so AQE broadcasts it while it fits and falls
    back to a shuffle join at the 10^8-word scale where it doesn't. The
    corpus pass is one explode + one join + one agg. Rows-only entry
    (trained-merge segmentation has no SQL dual); apply-path exactness
    (rank-based == in-order == the trainer's own segmentation) is
    pytest-pinned in tests/test_quality.py."""
    from ..operators.bpe import bpe_segment_words, bpe_train

    # fan_out: the corpus-grain regexp tokenize is the entry's only
    # corpus-sized stage; don't pin it to the scan's row-group count (r8)
    d = fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ALPHA_PATTERN), 0)
    exploded = d.select("source", F.explode(toks).alias("word"))
    words = exploded.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    words = words.localCheckpoint(eager=True)  # feeds train AND serve
    # sub-saturation budget: the synthetic vocabulary collapses entirely
    # at ~107 merges (fertility 1.0 — degenerate digest); 64 leaves real
    # multi-subword segmentations to count
    merges, _ = bpe_train(words, n_merges=64)
    wtoks = bpe_segment_words(words.select("word"), merges).select(
        "word", F.size("syms").cast("long").alias("n_sub")
    )
    joined = exploded.join(wtoks, "word")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subword_tokens"),
        stable_round(
            F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
        ).alias("fertility"),
    )


def bpe_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE compression curve: train 12 merges on the corpus vocabulary and
    report, for checkpoints along the merge sequence (0, 4, 8, 12 merges
    applied), the corpus-weighted fertility (symbols per word) and the
    emergent subword vocabulary size — the curve a tokenizer team reads
    to pick a vocab budget. Same vocabulary-grain training as
    ``bpe_train_merges``; the stats are native aggregations over the
    segmented vocab at each checkpoint. Rows-only (iterative)."""
    from ..operators.bpe import bpe_train, to_symbols

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ALPHA_PATTERN), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ONE corpus-grain count feeds every checkpoint; the merge-prefix
    # segmentations then come from the trainer's driver-local path
    # (deterministic ⇒ a k-merge train IS the k-prefix replay), each a
    # sub-millisecond local loop instead of the old one-Spark-job-per-
    # merge replay chain (measured 3.0s → ~1.1s at sf0.1).
    words = words.localCheckpoint(eager=True)
    checkpoints = [(0, to_symbols(words))]
    for k in (4, 8, 12):
        _, seg_k = bpe_train(words, n_merges=k)
        checkpoints.append((k, seg_k))
    rows = []
    for k, seg in checkpoints:
        fert, total = seg.agg(
            (
                F.sum(F.col("n") * F.size("syms")) / F.sum("n").cast("double")
            ).alias("fertility"),
            F.sum("n").alias("total"),
        ).first()
        vocab_size = seg.select(F.explode("syms").alias("sym")).distinct().count()
        rows.append((k, round(float(fert), 6), int(vocab_size), int(total)))
    return spark.createDataFrame(
        rows,
        "n_merges_applied int, weighted_fertility double, "
        "subword_vocab_size long, total_word_occurrences long",
    )


QUERIES: dict[str, QueryDef] = {
    "token_count": QueryDef(token_count, TOKEN_COUNT_SQL, "text: token counting"),
    "token_count_bpe": QueryDef(token_count_bpe, TOKEN_BPE_SQL, "text: BPE-ish tokenizer"),
    "bpe_tokenize_corpus": QueryDef(
        bpe_tokenize_corpus,
        None,
        "text: trained-BPE corpus tokenization (train -> segment vocab -> corpus join)",
    ),
    "bpe_train_merges": QueryDef(
        bpe_train_merges,
        None,
        "text: distributed BPE merge training (vocab-grain, deterministic argmax)",
    ),
    "bpe_segmentation_stats": QueryDef(
        bpe_segmentation_stats,
        None,
        "text: BPE compression curve (fertility + subword vocab vs merges applied)",
    ),
    "text_quality_score": QueryDef(text_quality_score, TEXT_QUALITY_SQL, "text: quality"),
    "lang_id_heuristic": QueryDef(lang_id_heuristic, LANG_ID_SQL, "text: language id"),
    "dedup_exact": QueryDef(dedup_exact, DEDUP_EXACT_SQL, "dedup: exact"),
    "doc_fingerprint": QueryDef(doc_fingerprint, DOC_FINGERPRINT_SQL, "text: fingerprint"),
    "edit_distance_pairs": QueryDef(
        edit_distance_pairs, EDIT_DISTANCE_SQL, "dedup: levenshtein fuzzy pairs"
    ),
    "ngram_jaccard_pairs": QueryDef(
        ngram_jaccard_pairs, NGRAM_JACCARD_SQL, "dedup: n-gram jaccard"
    ),
    "tfidf_top_terms": QueryDef(tfidf_top_terms, TFIDF_SQL, "text: TF-IDF top terms"),
    "pattern_redaction": QueryDef(
        pattern_redaction, PATTERN_REDACTION_SQL, "text: regex scrub + digest"
    ),
    "sequence_packing": QueryDef(
        sequence_packing, SEQUENCE_PACKING_SQL, "text: token-budget packing"
    ),
    "document_chunking": QueryDef(
        document_chunking,
        DOCUMENT_CHUNKING_SQL,
        "text: sliding-window context chunks (map-only)",
    ),
    "vocab_top_terms": QueryDef(
        vocab_top_terms,
        VOCAB_SQL,
        "text: vocabulary induction (per-lang tf/df, top-k ranked)",
    ),
    "corpus_prep_pipeline": QueryDef(
        corpus_prep_pipeline,
        CORPUS_PREP_SQL,
        "text: composed quality->dedup->chunk pipeline, one lazy plan",
    ),
    "balanced_mixture_sample": QueryDef(
        balanced_mixture_sample,
        BALANCED_MIXTURE_SQL,
        "text: exact-integer hash-gate mixture downsampling (map-side keep)",
    ),
    "ngram_repetition": QueryDef(
        ngram_repetition, NGRAM_REPETITION_SQL, "text: dup-ngram repetition score"
    ),
    "decontamination_overlap": QueryDef(
        decontamination_overlap, DECONTAMINATION_SQL, "text: benchmark decontamination"
    ),
    "decontaminate_bloom": QueryDef(
        decontaminate_bloom,
        DECONTAMINATE_BLOOM_SQL,
        "text: Bloom-prefiltered decontamination (map-only corpus probe, exact re-check)",
    ),
    "top_ngram_coverage": QueryDef(
        top_ngram_coverage,
        TOP_NGRAM_COVERAGE_SQL,
        "text: Gopher top-ngram char-coverage repetition rule",
    ),
    "crossdoc_dup_fraction": QueryDef(
        crossdoc_dup_fraction, CROSSDOC_DUP_SQL, "dedup: cross-doc dup-ngram fraction"
    ),
    "dedup_jaccard_prefix": QueryDef(
        dedup_jaccard_prefix,
        DEDUP_JACCARD_PREFIX_SQL,
        "dedup: prefix-filtered exact Jaccard join (PPJoin-style, full corpus)",
    ),
    "dedup_exact_end_to_end": QueryDef(
        dedup_exact_end_to_end,
        DEDUP_EXACT_END_TO_END_SQL,
        "dedup: exact pairs→components→keep, fully oracle-checked (recursive CTE)",
    ),
    "bm25_score": QueryDef(bm25_score, BM25_SQL, "text: BM25 relevance scoring"),
    "word_entropy_quality": QueryDef(
        word_entropy_quality, WORD_ENTROPY_SQL, "text: Shannon word-entropy quality signal"
    ),
    "duplicated_span_dedup": QueryDef(
        duplicated_span_dedup,
        DUP_SPAN_SQL,
        "dedup: cross-doc duplicated token spans (ExactSubstr-style positions)",
    ),
    "span_removal_stats": QueryDef(
        span_removal_stats,
        SPAN_REMOVAL_SQL,
        "dedup: keep-first span-removal yield accounting per doc",
    ),
    "unigram_logprob_quality": QueryDef(
        unigram_logprob_quality,
        UNIGRAM_LOGPROB_SQL,
        "text: unigram-LM avg negative log-prob (perplexity-proxy filter)",
    ),
    "dsir_importance_weights": QueryDef(
        dsir_importance_weights,
        DSIR_SQL,
        "text: DSIR hashed-ngram importance log-weights vs a target domain",
    ),
    "dsir_budget_selection": QueryDef(
        dsir_budget_selection,
        DSIR_SELECT_SQL,
        "text: importance-ordered token-budget selection (DSIR step 2)",
    ),
    "llm_dataset_pipeline": QueryDef(
        llm_dataset_pipeline,
        LLM_PIPELINE_SQL,
        "text: composed quality->dedup->decontaminate->budget curation flow, one lazy plan",
    ),
    "llm_dataset_pipeline_neardup": QueryDef(
        llm_dataset_pipeline_neardup,
        LLM_PIPELINE_NEARDUP_SQL,
        "text: capstone v2 with banded-MinHash near-dedup stage "
        "(portable hash family + recursive-CTE components, fully oracle-checked)",
    ),
    "llm_dataset_pipeline_dsir": QueryDef(
        llm_dataset_pipeline_dsir,
        LLM_PIPELINE_DSIR_SQL,
        "text: capstone v3 - budget spent in DSIR importance order, fully oracle-checked",
    ),
    "llm_dataset_pipeline_stream": QueryDef(
        llm_dataset_pipeline_stream,
        None,
        "text: capstone, streaming form - one foreachBatch curation loop "
        "(quality -> incremental near-dedup -> Bloom decontam -> budget)",
    ),
    "llm_dataset_pipeline_stream_dsir": QueryDef(
        llm_dataset_pipeline_stream_dsir,
        None,
        "text: streaming capstone with DSIR-ordered budget spending "
        "(within-epoch importance order vs a batch-trained bucket model)",
    ),
    "zipf_law_fit": QueryDef(
        zipf_law_fit,
        ZIPF_LAW_SQL,
        "text: Zipf's-law exponent fit of the vocabulary (range-partitioned rank, moment aggregates)",
    ),
    "ccnet_perplexity_buckets": QueryDef(
        ccnet_perplexity_buckets,
        CCNET_BUCKETS_SQL,
        "text: CCNet head/middle/tail perplexity terciles + per-bucket hash-gate keep",
    ),
    "interpolated_logprob_quality": QueryDef(
        interpolated_logprob_quality,
        INTERPOLATED_LOGPROB_SQL,
        "text: Jelinek-Mercer bigram/unigram held-out LM scoring (split-half, OOV floor)",
    ),
    "bigram_logprob_quality": QueryDef(
        bigram_logprob_quality,
        BIGRAM_LOGPROB_SQL,
        "text: bigram-LM conditional avg negative log-prob (map-side bigrams)",
    ),
    "ngram_containment_pairs": QueryDef(
        ngram_containment_pairs,
        NGRAM_CONTAINMENT_SQL,
        "dedup: asymmetric n-gram containment (quote/subset detection)",
    ),
    "ngram_containment_banded": QueryDef(
        ngram_containment_banded,
        NGRAM_CONTAINMENT_BANDED_SQL,
        "dedup: containment via banded-MinHash + bottom-k candidates "
        "(uncapped scale path, portable hash family)",
    ),
    "quality_filter_funnel": QueryDef(
        quality_filter_funnel,
        QUALITY_FUNNEL_SQL,
        "text: per-rule attrition report for the quality filter chain",
    ),
    "tokenizer_fertility": QueryDef(
        tokenizer_fertility,
        TOKENIZER_FERTILITY_SQL,
        "text: per-lang tokenizer fertility / compression profile",
    ),
    "token_budget_sample": QueryDef(
        token_budget_sample,
        TOKEN_BUDGET_SQL,
        "text: exact per-source token-budget selection (hash-ranked prefix)",
    ),
    "source_overlap_matrix": QueryDef(
        source_overlap_matrix,
        SOURCE_OVERLAP_SQL,
        "dedup: cross-source shared-gram contamination matrix",
    ),
}

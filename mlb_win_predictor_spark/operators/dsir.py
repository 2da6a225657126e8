"""DSIR importance weighting (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling"): the one place that knows
the hashed-unigram bucket model. Every batch entry and streaming gate
that scores documents by DSIR builds its plan from these four pieces.

Invariants:

- **Hash rule.** A token's bucket is ``substring(md5(utf8 bytes), 1, 2)``:
  the first two hex digits of its md5, so ``DSIR_BUCKETS`` = 256.
  DuckDB's ``substr(md5(w), 1, 2)`` yields the same digest, which is what
  keeps the DSIR entries hash-checked against their SQL oracles.
- **Float discipline.** Counts are exact integers until the logs. The
  fit applies ``ln`` once per bucket with add-one smoothing,
  ``lr_b = ln(t_b+1) − ln(r_b+1)``, and once for the normalizer,
  ``norm = ln(R+B) − ln(T+B)`` (``t_b``/``r_b`` target/raw token counts
  in bucket b, ``T``/``R`` their totals, ``B`` = ``DSIR_BUCKETS``). A
  document's log-weight is then one final arithmetic,
  ``Σ_b k_b·lr_b + n·norm`` (``k_b`` its bucket counts, ``n = Σk_b``),
  left unrounded: each caller applies its own rounding, so a batch
  entry and a stream gate score a document from the same doubles.
- **Broadcast shape.** The model is at most 256 rows and ``norm`` is one
  row. Batch plans join them to the per-(doc, bucket) counts as
  broadcasts, so the only corpus-sized shuffle is the (doc, bucket)
  count aggregation. A stream collects the model once
  (``dsir_bucket_model``) and ships it as a ``create_map`` literal
  (``lr_literal``), which makes the per-batch lookup map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DSIR_BUCKETS = 256


def bucket_counts(docs: DataFrame, tokens: Column, *keys: Column | str) -> DataFrame:
    """Per-(keys, bucket) token counts: ``keys…, b, k`` with ``k`` the
    number of tokens of the ``tokens`` array that hash to bucket ``b``.
    ``keys`` are the grouping columns (``doc_id``, plus ``is_target``
    where the counts feed ``fit``); rows with a NULL token array produce
    no counts."""
    toks = docs.select(*keys, F.explode(tokens).alias("w"))
    return toks.groupBy(
        *toks.columns[:-1], F.substring(F.md5(F.col("w").cast("binary")), 1, 2).alias("b")
    ).agg(F.count(F.lit(1)).alias("k"))


def fit(kc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The add-one-smoothed bucket model from ``bucket_counts`` keyed by
    a boolean ``is_target``: ``model`` has one ``(b, lr, t, r)`` row per
    bucket seen, ``norm`` is one row with the ``norm`` column."""
    model = (
        kc.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("k")).otherwise(F.lit(0))).alias("t"),
            F.sum(F.when(~F.col("is_target"), F.col("k")).otherwise(F.lit(0))).alias("r"),
        )
        .select(
            "b",
            (
                F.log(F.col("t").cast("double") + 1.0)
                - F.log(F.col("r").cast("double") + 1.0)
            ).alias("lr"),
            "t",
            "r",
        )
    )
    norm = model.agg(
        (
            F.log(F.sum("r").cast("double") + F.lit(float(DSIR_BUCKETS)))
            - F.log(F.sum("t").cast("double") + F.lit(float(DSIR_BUCKETS)))
        ).alias("norm")
    )
    return model, norm


def lr_literal(lrs: dict[str, float]) -> Column:
    """The ``lr`` lookup for a collected model: a ``create_map`` literal
    indexed by the ``b`` column. A bucket unseen in training gets the
    smoothed empty-bucket ratio ln(1/1) = 0.0."""
    items = [F.lit(x) for b, lr in sorted(lrs.items()) for x in (b, float(lr))]
    return F.coalesce(F.create_map(*items)[F.col("b")], F.lit(0.0))


def log_weights(kc: DataFrame, lr: Column, norm: DataFrame | float) -> DataFrame:
    """Per-doc DSIR log-weight ``Σ_b k_b·lr_b + n·norm``, unrounded:
    ``doc_id, n_tokens, log_weight``. ``kc`` holds ``bucket_counts``
    keyed by ``doc_id`` and ``lr`` is the bucket's log-ratio: the
    ``lr`` column of a broadcast join with the fitted model, or
    ``lr_literal``. ``norm`` is the fitted one-row frame (joined as a
    broadcast cross join) or a collected float (a literal)."""
    per_doc = kc.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_tokens"),
        F.sum(F.col("k").cast("double") * lr).alias("sum_klr"),
    )
    if isinstance(norm, DataFrame):
        per_doc, norm_col = per_doc.crossJoin(F.broadcast(norm)), F.col("norm")
    else:
        norm_col = F.lit(float(norm))
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (F.col("sum_klr") + F.col("n_tokens").cast("double") * norm_col).alias(
            "log_weight"
        ),
    )

"""Hashed bag-of-words linear quality classifier — the fasttext-style
corpus filter of LLM data pipelines (GPT-3 appendix A / CCNet / DataComp:
train a cheap linear model where the positive class is a curated
reference corpus, score every raw document, keep high scorers).

Spark-first shape: ``HashingTF`` featurization is JVM-side and map-only
(the feature space is a fixed 2^12-dim hash space — no vocabulary build,
no shuffle, unbounded text streams in); ``LogisticRegression`` is
MLlib's distributed L-BFGS (one treeAggregate per iteration over a
corpus that never lands on the driver); scoring is a map-only model
broadcast. At 100 TB the only multi-pass cost is the ~30 training
iterations over the (typically down-sampled) training slice — scoring
the full corpus is a single narrow pass.

Reference parity: the reference trains sklearn classifiers on a
collected pandas frame (modeling/modeling.ipynb); this is the
distributed dual for the text-quality use the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ngrams import word_tokens

NUM_FEATURES = 1 << 12
TRAIN_MOD = 10
TRAIN_BUCKETS = 8  # pmod(xxhash64(doc_id), 10) < 8 → train; rest held out

# positive class = the curated-corpus stand-in: docs passing the
# stopword-density quality gate (the sandbox corpus has no language
# signal — `lang` is assigned independently of the text — so the
# realistic learnable target is distilling the heuristic gate, which is
# exactly the CCNet/fasttext move: label from a reference slice, learn a
# cheap model that generalizes the boundary).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
QUALITY_GATE = 0.064  # corpus-median stopword fraction

# Training-sample cap (r10): every L-BFGS iteration is a full
# treeAggregate pass over the train slice, so an UNCAPPED train set makes
# training cost grow linearly with the corpus forever — profiled at 10×
# data, the ~25 iterations were >80% of the entry's wall (two ~7s
# treeAggregate stage groups out of 29.8s executor time). The corpus-
# filter literature trains on a bounded sample and spends the corpus-
# sized budget on the map-only SCORING pass (GPT-3 appendix A trains on
# curated-vs-crawl samples, not the crawl); capping makes training cost
# CONSTANT in corpus size while scoring stays a single narrow pass. The
# cap gate is the repo's deterministic md5-conv integer hash (salted so
# it is independent of the train/holdout split), so the sampled train
# set is identical across runs, retries, and partitionings. At the test
# SFs (≤5k docs) the cap does not bind and the model is unchanged.
TRAIN_CAP = 4096


def _featurize(docs: DataFrame):
    from pyspark.ml.feature import HashingTF, Tokenizer

    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(
        inputCol="words", outputCol="features", numFeatures=NUM_FEATURES
    )
    return tf.transform(tok.transform(docs))


def quality_scores(docs: DataFrame) -> DataFrame:
    """Train on a deterministic hash split (positive = docs passing the
    stopword-density quality gate), score every doc. Returns doc_id,
    split, label, probability-of-positive score, prediction."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array

    toks = word_tokens("text")
    # isin = InSet hash probe per token (vs array_contains' linear walk)
    sw_frac = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast(
        "double"
    ) / F.size(toks).cast("double")
    labeled = docs.select(
        "doc_id",
        "text",
        (sw_frac >= QUALITY_GATE).cast("double").alias("label"),
        (F.pmod(F.xxhash64("doc_id"), F.lit(TRAIN_MOD)) < TRAIN_BUCKETS).alias(
            "is_train"
        ),
    )
    feat = _featurize(labeled)
    # maxIter 50→25 + tol 1e-4: a corpus FILTER does not need 1e-6
    # L-BFGS convergence — at sf1 the fit ran to the 44-iteration wall
    # with held-out accuracy identical (0.988) to the 25-iteration model,
    # and each iteration is a full treeAggregate pass over the train
    # slice (~0.17s at sf1); halving the iteration budget cuts the
    # entry's 10× leg ~30% with no measurable quality change.
    lr = LogisticRegression(
        maxIter=25, tol=1e-4, regParam=1e-2, featuresCol="features", labelCol="label"
    )
    # bounded train sample (see TRAIN_CAP): one cheap count sizes the
    # keep fraction; the per-row gate is an exact integer threshold on a
    # uniform md5-derived hash (the balanced_mixture_sample discipline),
    # so membership is deterministic and layout-independent. min(1, ...)
    # means the gate is a no-op until the train pool outgrows the cap.
    # The bound is EXPECTED, not hard: n_pool is the expected 80% split,
    # and the hash gate keeps a binomial count around TRAIN_CAP — the
    # train set can run a few percent over. That is fine for its purpose
    # (L-BFGS cost constant in corpus size).
    from ..functions.scalars import md5_int32

    n_pool = docs.count() * TRAIN_BUCKETS / TRAIN_MOD
    thr = int(min(1.0, TRAIN_CAP / max(n_pool, 1.0)) * (1 << 32))
    samp_hash = md5_int32(F.concat(F.lit("qc-cap:"), F.col("doc_id").cast("string")))
    # Right-size the train RDD's layout to the CAP, not the corpus —
    # but ONLY when the cap binds: the capped sample leaves ~TRAIN_CAP
    # rows smeared over corpus-scan parallelism (profiled at 10×: ~25
    # treeAggregate stages × 32 tasks of ~125 rows — run 0.5s/cpu 0.08s
    # each, pure per-stage scheduler latency), so one tiny shuffle
    # (≤TRAIN_CAP hashed vectors) packs it into TRAIN_CAP/512 partitions
    # and every L-BFGS pass launches ~8 tasks instead of ~32 per tree
    # level (interleaved A/B at 10×: 4.3→3.9 s). Below the cap the
    # shuffle is pure loss (interleaved A/B at sf0.1: 1.8→3.1 s — the
    # exchange plus a second materialization stage cost more than the
    # latency it saves), so the un-capped path keeps the scan layout.
    train = feat.filter(F.col("is_train") & (samp_hash < F.lit(thr)))
    if thr < (1 << 32):  # cap binds: pack the bounded sample
        train = train.repartition(max(TRAIN_CAP // 512, 1))
    model = lr.fit(train)
    scored = model.transform(feat)
    pos_prob = F.element_at(vector_to_array("probability"), 2)
    return scored.select(
        "doc_id",
        F.when(F.col("is_train"), F.lit("train")).otherwise(F.lit("heldout")).alias(
            "split"
        ),
        F.col("label").cast("long").alias("label"),
        pos_prob.alias("score"),
        F.col("prediction").cast("long").alias("prediction"),
    )


def quality_leaderboard(docs: DataFrame) -> DataFrame:
    """Per-split evaluation summary of ``quality_scores`` (rounded to 3
    decimals so the iterative float path stays row-stable)."""
    s = quality_scores(docs)
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("n_pos"),
            F.round(
                F.avg((F.col("prediction") == F.col("label")).cast("double")), 3
            ).alias("accuracy"),
            F.round(F.avg("score"), 3).alias("mean_score"),
        )
        .orderBy("split")
    )

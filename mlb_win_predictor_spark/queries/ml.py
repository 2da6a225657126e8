"""Rows-only catalog entries: MLlib fits + LSH sketch operators
(SURVEY §2.8, §2.10).

Not SQL-expressible (iterative optimizers, hash-seeded sketches) — the
driver records the weaker rows-only check; exactness properties (accuracy
bands, LSH recall vs exact oracle, dedup idempotence) are pytest-enforced
in tests/test_operators.py and tests/test_ml.py per SURVEY §5.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ml.knn import knn_predict_lsh
from ..operators.dedup import (
    components_from_pairs,
    keep_canonical_per_component,
    minhash_banded_pairs,
    simhash_buckets,
)
from ..functions.ngrams import word_tokens
from ..functions.scalars import stable_round
from ..operators.similarity import ann_topk_lsh, ivf_topk, pq_topk, semantic_dedup
from ..session import load_table
from .base import QueryDef


def _emb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.transform("embedding", lambda v: v.cast("double")).alias("features_arr"),
    )


def ml_logreg_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M3/M8 — scale->fit->evaluate on a binary task (label>=5) over
    embeddings; returns one leaderboard row (model, accuracy, n_train,
    n_test). The games-table version of the full 3-family leaderboard
    runs in tests/test_ml.py over the fixture pipeline."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import array_to_vector

    df = _emb_features(spark, sf_dir).select(
        "vec_id",
        (F.col("label") >= 5).cast("double").alias("label"),
        array_to_vector("features_arr").alias("raw_features"),
    )
    train, test = df.randomSplit([0.8, 0.2], seed=42)
    pipe = Pipeline(
        stages=[
            StandardScaler(
                inputCol="raw_features", outputCol="features", withMean=True, withStd=True
            ),
            LogisticRegression(featuresCol="features", labelCol="label"),
        ]
    )
    pred = pipe.fit(train).transform(test)
    correct = F.sum((F.col("prediction") == F.col("label")).cast("long"))
    return pred.agg(
        F.lit("logistic_regression").alias("model"),
        (correct / F.count(F.lit(1))).alias("accuracy"),
        F.count(F.lit(1)).alias("n_test"),
    )


def ml_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — NearestCentroid leaderboard: per-label assignment counts +
    accuracy over the WHOLE embeddings table.

    FULL DuckDB oracle (r12 promotion, the ``nearest_centroid_assign``
    precedent): centroids are 6dp-rounded at the centroid grain
    (``embeddings.rounded_centroids`` — identical on both engines),
    per-label squared-L2 distances are 6dp-rounded, and the argmin
    tie-breaks to the LOWEST label. The scored side stays MAP-ONLY: the
    k·d centroid table collapses to one broadcast row of
    array<struct<label,centroid>> sorted by label, and the argmin runs
    inside a single higher-order fold per input row (strict ``<`` over
    the label-sorted array = lowest-label tie-break) — no n×k shuffle,
    no window, unlike the dual's ROW_NUMBER formulation. The unrounded
    operator (``ml.nearest_centroid.fit_nearest_centroid``, the M5
    surface) stays numpy-pinned in tests/test_ml.py."""
    from .embeddings import rounded_centroids

    # symmetric NULL/empty-embedding guard (r12 review, the simhash-fix
    # class): the dual's UNNEST emits no rows for a NULL/[] embedding —
    # the vec would vanish there while the fold here counted it with a
    # NULL prediction. Element-level NULLs inside a non-empty array
    # remain out of contract (the embeddings schema is non-null float
    # lists).
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    packed = rounded_centroids(e).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("c_label").cast("long").alias("c_label"), "centroid")
            )
        ).alias("cents")
    )
    x = F.col("embedding")
    dist_to = lambda c: stable_round(  # noqa: E731
        F.aggregate(
            F.zip_with(
                x, c, lambda xv, cv: (xv.cast("double") - cv) * (xv.cast("double") - cv)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    # one distance evaluation per centroid (r12 review: a WHEN-based fold
    # evaluates the d-element dist lambda twice per step — higher-order
    # lambdas get no common-subexpression elimination), then array_min's
    # lexicographic struct order IS the (dist asc, label asc) argmin
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda cs: F.struct(
                dist_to(cs["centroid"]).alias("d"), cs["c_label"].alias("l")
            ),
        )
    )
    pred = e.join(F.broadcast(packed)).select(
        F.col("label").cast("long").alias("label"), best["l"].alias("prediction")
    )
    return pred.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("prediction") == F.col("label")).cast("long")).alias("n_correct"),
    )


# The Spark plan in row form: 6dp-rounded per-label centroids, 6dp-
# rounded squared-L2 per (vec, label), argmin by (dist, label) — the
# ROW_NUMBER dual of the map-only broadcast fold above.
ML_NEAREST_CENTROID_SQL = """
WITH flat AS (
  -- NULL/[] guard mirrors the Spark-side filter (UNNEST would drop the
  -- vec here silently while the fold counted it)
  SELECT vec_id, label, UNNEST(embedding) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
), cent AS (
  SELECT label AS c_label, i,
         (ROUND(SUM(CAST(v AS DOUBLE)) / COUNT(*) * 1e6) / 1e6) AS cv
  FROM flat GROUP BY 1, 2
), dists AS (
  SELECT flat.vec_id, flat.label AS true_label, cent.c_label,
         (ROUND(SUM((CAST(flat.v AS DOUBLE) - cent.cv) * (CAST(flat.v AS DOUBLE) - cent.cv)) * 1e6) / 1e6) AS sq_dist
  FROM flat JOIN cent ON flat.i = cent.i
  GROUP BY 1, 2, 3
), pred AS (
  SELECT vec_id, true_label, c_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sq_dist ASC, c_label ASC) AS rn
  FROM dists
)
SELECT CAST(true_label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM pred WHERE rn = 1
GROUP BY 1
"""


def ml_knn_lsh_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — LSH-bucketed approximate kNN majority vote (the scalable dual
    of the reference's GridSearchCV'd KNeighborsClassifier)."""
    df = _emb_features(spark, sf_dir)
    test = df.filter(F.col("vec_id") % 10 == 0)
    train = df.filter(F.col("vec_id") % 10 != 0)
    pred = knn_predict_lsh(train, test, k=5)
    return pred.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum((F.col("prediction") == F.col("label")).cast("long")).alias("n_correct"),
    )


# the reference's FULL GridSearchCV grid (modeling/modeling.ipynb:626):
# n_neighbors = [1, 2, 3, 5, 8, 13, 21, 34, 45, 79]
REFERENCE_K_GRID = [1, 2, 3, 5, 8, 13, 21, 34, 45, 79]
KNN_VAL_CAP = 500  # bounded held-out sample for the k-grid sweep


def ml_knn_k_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — the reference's n_neighbors GRID as a leaderboard (GridSearchCV
    over its full 10-point grid {1,2,3,5,8,13,21,34,45,79},
    modeling/modeling.ipynb:617-635): validation accuracy per k from
    ``ml.knn.knn_select_k``, which ranks neighbors ONCE at max(k)=79
    (one LSH bucket join, checkpointed val×max_k pairs) and derives
    EVERY k's vote from the same ranking in ONE plan (broadcast k-grid
    fan-out → one vote agg → one per-k score agg) — the whole grid costs
    one corpus pass + one validation-grain action, so the 10-point grid
    is barely costlier than 1 (plan-pinned: tests/test_plans.py asserts
    the vote reads the checkpointed ranking, not a fresh LSH join).
    Deterministic
    (seeded LSH, tie-broken votes) ⇒ stable rows; not SQL-expressible
    (iterative model selection), so rows-only."""
    from ..ml.knn import knn_select_k

    df = _emb_features(spark, sf_dir)
    # BOUNDED validation sample (deterministic hash order): model
    # selection needs a representative split, not one ∝ corpus — with
    # val growing alongside train, grid cost grows ~quadratically on
    # near-dup-dense data (both join sides scale). The cap doesn't bind
    # at the driver's SFs (val ≤ 200 there); at 10× it caps the held-out
    # side so the sweep stays one linear corpus pass.
    val = (
        df.filter(F.col("vec_id") % 10 == 0)
        .orderBy(F.xxhash64("vec_id"))
        .limit(KNN_VAL_CAP)
    )
    train = df.filter(F.col("vec_id") % 10 != 0)
    best_k, board = knn_select_k(train, val, k_grid=REFERENCE_K_GRID)
    return spark.createDataFrame(
        [(int(k), float(a), int(k == best_k)) for k, a in board],
        "k int, accuracy double, is_best int",
    )


def ml_score_games_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 2024+ production loop as ONE catalog entry (reference
    README.md:24: "Use the aforementioned models to try to predict
    outcomes… show the results live"): train on decided games → SAVE the
    PipelineModel → RELOAD it from disk → score the full slate through
    the label-free inference funnel → MERGE ``predicted_winner`` back
    (pipeline.games.score_games). Runs over the deterministic seed-42
    games fixture — the games tables are the reference's private
    Postgres, not part of the TPC-H testdata, so ``sf_dir`` is unused by
    design. Digest: pick distribution (home/away/none) over the merged
    slate. Rows-only (iterative L-BFGS fit is not SQL-expressible); the
    E2E invariants (every pick ∈ {home_team_id, away_team_id},
    determinism, funnel parity vs build_features) are pytest-pinned in
    tests/test_games_pipeline.py."""
    import os
    import tempfile

    from pyspark.ml.classification import LogisticRegression

    from ..fixtures import fixtures_dir
    from ..ml.train import make_pipeline
    from ..pipeline.games import FEATURE_COLS, LABEL_COL, build_features, score_games

    fdir = fixtures_dir()
    games = spark.read.parquet(os.path.join(fdir, "games.parquet"))
    decided = games.filter(F.col("winning_team").isNotNull())
    feats = (
        build_features(decided)
        .withColumn("label", F.col(LABEL_COL).cast("double"))
        .drop(LABEL_COL)
    )
    pipe = make_pipeline(
        FEATURE_COLS, LogisticRegression(featuresCol="features", labelCol="label")
    )
    fitted = pipe.fit(feats)
    mdir = tempfile.mkdtemp(prefix="mlb_score_model_")
    fitted.write().overwrite().save(mdir)
    scored = score_games(games, mdir)  # str -> PipelineModel.load: the serve path
    pick = (
        F.when(F.col("predicted_winner").isNull(), F.lit("none"))
        .when(F.col("predicted_winner") == F.col("home_team_id"), F.lit("home"))
        .otherwise(F.lit("away"))
    )
    return scored.groupBy(pick.alias("pick")).agg(F.count(F.lit(1)).alias("n_games"))


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis — fasttext-style hashed-bag-of-words
    quality classifier (GPT-3 appendix A / CCNet / DataComp corpus
    filter: positive class = curated-corpus stand-in, here the slice
    passing the stopword-density gate — the sandbox corpus has no
    language signal, so the learnable target is distilling that rule;
    score every raw doc and keep high scorers). HashingTF
    featurization is JVM map-only over a fixed 2^12 hash space (no vocab
    build); training is MLlib's distributed L-BFGS; scoring is a
    broadcast-model map pass. Iterative float path ⇒ rows-only entry;
    the separability gate (held-out accuracy beats the class prior)
    lives in tests/test_ml.py.

    fan_out (r8): featurization (tokenize + HashingTF) and the ~30
    L-BFGS passes all re-walk the corpus-grain text; a 1-row-group scan
    pinned every pass to one task at sf1 (the 4.2× cluster the r7
    verdict flagged). No-op on an already-split scan."""
    from ..ml.quality_classifier import quality_leaderboard
    from ..session import fan_out

    return quality_leaderboard(
        fan_out(load_table(spark, sf_dir, "documents"), min_bytes=2 << 20)
    )


def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text analysis — zlib compression-ratio quality signal
    (the RefinedWeb/Gopher repetition heuristic: repetitive/templated
    text compresses far below natural prose). Rows-only: byte-level
    DEFLATE has no SQL dual; the UDF is Arrow-batched and map-only
    (``functions.pandas_fns.compression_ratio``). Deterministic (zlib
    level 6 is stable), so rows are stable across runs."""
    from ..functions.pandas_fns import compression_ratio

    d = load_table(spark, sf_dir, "documents")
    return compression_ratio(d, "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star MinHash LSH near-dup: candidate pair count + min
    Jaccard distance over the collision set.

    r7: re-routed through the NATIVE banded operator
    (operators.dedup.minhash_banded_pairs) after the r6 full-catalog
    scaling sweep measured the MLlib ``approxSimilarityJoin`` path at
    7.08× wall for 10× data — MLlib explodes one row per hash table per
    doc and re-fits a CountVectorizer vocabulary (an extra corpus pass),
    while the banded path is one map-only signature projection + a
    collision-bounded band self-join. Same semantics: pairs at Jaccard
    distance ≤ 0.9 (jaccard ≥ 0.1), distances EXACT because every banded
    candidate passes the exact-Jaccard re-check. The MLlib operator
    (``minhash_neardup_pairs``) is retained as a recall cross-check in
    tests/test_operators.py (planted-near-dup recall + agreement with
    the banded collision set). FULL oracle since r11 via the portable
    hash family (``DEDUP_MINHASH_LSH_SQL``)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_banded_pairs(docs, jaccard_threshold=0.1, hash_family="md5")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.min(F.lit(1.0) - F.col("jaccard")).alias("min_dist"),
    )


def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star near-dedup, native banded-MinHash path (no MLlib, pure
    column expressions): true-pair count + Jaccard digest. Every emitted
    pair passed the exact-Jaccard re-check, so the digest is exact over
    the collision-bounded candidate set.

    Runs the PORTABLE hash family (r11 oracle promotion): shingles hash
    through ``md5_int60`` and the 32 signature hashes are affine
    permutations mod 2³¹−1 (``minhash_perm_consts`` — the identical
    constants are inlined into the SQL dual below), so the WHOLE
    LSH construction — signatures, 8-band collision set, exact-Jaccard
    re-check — is re-derivable in DuckDB. xxhash64 stays the operator
    default and the corpus-scale family (every other minhash entry)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_banded_pairs(docs, jaccard_threshold=0.5, hash_family="md5")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("jaccard").alias("min_jaccard"),
        F.max("jaccard").alias("max_jaccard"),
    )


def _minhash_perms_values_sql(num_hashes: int = 32, seed: int = 42) -> str:
    """The portable MinHash permutation constants as a SQL VALUES list —
    single-sourced from ``operators.dedup.minhash_perm_consts`` so the
    Spark plan and the DuckDB dual can never drift."""
    from ..operators.dedup import minhash_perm_consts

    return ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(minhash_perm_consts(num_hashes, seed))
    )


def _minhash_bandsig_cte(source: str = "documents") -> str:
    """CTE chain (toks → … → bandsig) for the portable MinHash band
    signatures — the Spark plan op for op: distinct 3-gram shingles ->
    md5-60bit shingle hash -> 32 affine min-hashes (mod 2^31-1) -> 8
    bands of 4, signature string '-'-joined in hash order. Integer-exact
    throughout. ``source`` is any relation exposing (doc_id, text)."""
    return rf"""toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks FROM {source}
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(toks) - 2, 0) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS grams
  FROM toks
), sh AS (
  SELECT doc_id,
         list_transform(
           grams,
           s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT)
         ) AS shingles
  FROM g WHERE len(grams) > 0
), hs AS (
  SELECT doc_id, UNNEST(shingles) AS h FROM sh
), perms(i, a, b) AS (
  SELECT * FROM (VALUES {_minhash_perms_values_sql()}) t(i, a, b)
), mins AS (
  SELECT doc_id, i, MIN((a * (h % 2147483647) + b) % 2147483647) AS mh
  FROM hs CROSS JOIN perms GROUP BY 1, 2
), bandsig AS (
  SELECT doc_id, i // 4 AS band_idx,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
  FROM mins GROUP BY 1, 2
)"""


def _minhash_pairs_cte(threshold: float, source: str = "documents") -> str:
    """``_minhash_bandsig_cte`` extended to the banded pair set
    (… → cand → pairs): band-collision candidates + exact-Jaccard
    re-check at ``threshold``, integer-exact until the one final int/int
    division (IEEE-exact on both engines). ``source`` is any relation
    exposing (doc_id, text) — the capstone v2 dual feeds the exact-dedup
    survivors. Single-sourced so the five SQL duals riding it
    (banded/LSH digests, end-to-end, cluster profile, capstone v2)
    cannot drift."""
    return rf"""{_minhash_bandsig_cte(source)}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsig a JOIN bandsig b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
), pairs AS (
  SELECT * FROM (
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
             AS jaccard
    FROM cand
    JOIN sh sa ON id_a = sa.doc_id
    JOIN sh sb ON id_b = sb.doc_id
  ) WHERE jaccard >= {threshold}
)"""


DEDUP_MINHASH_BANDED_SQL = f"""
WITH {_minhash_pairs_cte(0.5)}
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(jaccard) AS min_jaccard,
       MAX(jaccard) AS max_jaccard
FROM pairs
"""

DEDUP_MINHASH_LSH_SQL = f"""
WITH {_minhash_pairs_cte(0.1)}
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       MIN(1.0 - jaccard) AS min_dist
FROM pairs
"""

# min-label connected components via the same WITH RECURSIVE transitive
# closure the exact-PPJoin sibling (dedup_exact_end_to_end) pins —
# applied here to the PORTABLE banded-MinHash pair set, which closes the
# r7 "banded MinHash is seeded-hash probabilistic, hence rows-only"
# limitation for good.
_COMPONENTS_CTE = """edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
), comp AS (
  SELECT node, MIN(comp) AS component FROM reach GROUP BY node
)"""

DEDUP_END_TO_END_SQL = f"""
WITH RECURSIVE {_minhash_pairs_cte(0.5)}, {_COMPONENTS_CTE}, removed AS (
  SELECT node FROM comp WHERE node <> component
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN removed r ON d.doc_id = r.node
WHERE r.node IS NULL
GROUP BY lang
"""

DEDUP_CLUSTER_PROFILE_SQL = rf"""
WITH RECURSIVE {_minhash_pairs_cte(0.5)}, {_COMPONENTS_CTE}, clustered AS (
  SELECT comp.component, d.doc_id,
         len(regexp_split_to_array(TRIM(d.text), '\s+')) AS n_toks
  FROM comp JOIN documents d ON comp.node = d.doc_id
), per_cluster AS (
  SELECT component, COUNT(*) AS cluster_size, SUM(n_toks) AS cluster_tokens
  FROM clustered GROUP BY 1
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_tokens) AS BIGINT) AS tokens_in_clusters,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable_docs
FROM per_cluster GROUP BY cluster_size
"""

# The incremental ingest-loop dual: band signatures for ALL docs once,
# split corpus/batch on the doc_id gate, then the two collision sets
# (batch vs corpus index, batch vs earlier-in-batch) and the left-anti
# keep — op for op the Spark entry's plan.
DEDUP_INCREMENTAL_SQL = f"""
WITH {_minhash_bandsig_cte()}, corpus_sig AS (
  SELECT * FROM bandsig WHERE doc_id % 10 <> 0
), batch_sig AS (
  SELECT * FROM bandsig WHERE doc_id % 10 = 0
), hits AS (
  SELECT DISTINCT b.doc_id
  FROM batch_sig b JOIN corpus_sig c
    ON b.band_idx = c.band_idx AND b.sig = c.sig
  UNION
  SELECT DISTINCT b.doc_id
  FROM batch_sig b JOIN batch_sig a
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
), batch AS (
  SELECT * FROM documents WHERE doc_id % 10 = 0
), kept AS (
  SELECT batch.* FROM batch LEFT JOIN hits ON batch.doc_id = hits.doc_id
  WHERE hits.doc_id IS NULL
)
SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_batch,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_kept_en
FROM kept
"""


def dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dedup pipeline as one catalog entry: banded-MinHash
    candidate pairs → connected-component grouping → canonical-keep
    (min doc_id per cluster) → surviving-corpus digest per lang. The
    exact composition an LLM training-data pipeline runs before
    training.

    FULL value-hash oracle since r11: the pair stage runs the PORTABLE
    hash family (md5-60bit shingles + affine-permutation MinHash) and
    the iterative component grouping lands under the same
    ``WITH RECURSIVE`` transitive closure ``dedup_exact_end_to_end``
    pins — the r7 "banded MinHash is seeded-hash probabilistic, hence
    rows-only" limitation is closed."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_banded_pairs(docs, jaccard_threshold=0.5, hash_family="md5")
    comps = components_from_pairs(pairs)
    kept = keep_canonical_per_component(docs, comps)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER size profile (the report a curation team reads
    before choosing a keep policy: "is our duplication a few mega-
    clusters or a long tail of pairs?"): banded-MinHash pairs →
    connected components → per-cluster-size histogram with the document
    and token mass tied up in each size class. ``n_removable`` =
    docs − clusters = exactly the docs a canonical-keep pass deletes —
    so this entry PRICES the dedup before anyone runs it.

    Shuffle shape: the component join touches only clustered docs
    (near-dup density, not the corpus); the histogram aggregates
    cluster-count rows. FULL oracle (portable hash family +
    recursive-CTE components); the mass-conservation invariants stay
    pinned in tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_banded_pairs(docs, jaccard_threshold=0.5, hash_family="md5")
    comps = components_from_pairs(pairs)
    toks = F.size(word_tokens("text"))
    clustered = docs.join(comps, docs["doc_id"] == comps["node"]).select(
        "component", "doc_id", toks.alias("n_toks")
    )
    per_cluster = clustered.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_toks").alias("cluster_tokens"),
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_tokens").cast("long").alias("tokens_in_clusters"),
        )
        .withColumn(
            "n_removable_docs",
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).cast("long"),
        )
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (the ingest-loop flavor of near-dedup):
    docs with doc_id % 10 != 0 are the already-indexed corpus; the rest
    arrive as a new batch and are filtered against the corpus band index
    + within-batch (operators.dedup.incremental_neardup_filter — index
    probed via broadcast of the batch bands, corpus text untouched).
    Digest: batch size, kept, dropped.

    FULL value-hash oracle since r11: runs the PORTABLE hash family
    (md5-60bit shingles + affine-permutation MinHash, band signatures
    as '-'-joined strings), so the corpus index, the broadcast probe,
    and the within-batch collision set are all re-derivable in DuckDB
    (``DEDUP_INCREMENTAL_SQL``). xxhash64 stays the operator default —
    the streaming ingest loop (incremental_dedup_stream) keeps it."""
    from ..operators.dedup import incremental_neardup_filter, minhash_band_index

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    corpus_index = minhash_band_index(docs.filter(~is_new), hash_family="md5")
    batch = docs.filter(is_new)
    bands = minhash_band_index(batch, hash_family="md5").persist()
    try:
        kept = incremental_neardup_filter(corpus_index, batch, bands)
    finally:
        bands.unpersist()
    return batch.select(F.count(F.lit(1)).alias("n_batch")).join(
        F.broadcast(
            kept.select(
                F.count(F.lit(1)).alias("n_kept"),
                F.coalesce(
                    F.sum((F.col("lang") == "en").cast("long")), F.lit(0)
                ).alias("n_kept_en"),
            )
        )
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star SimHash fingerprinting: bucket occupancy digest.

    Runs the PORTABLE md5-conv hash family (r11 oracle promotion, the
    ``cms_heavy_hitters`` precedent): token hash = ``md5_int60``, 60-bit
    fingerprint from exact-integer ±1 votes, leading 16-bit band — every
    step re-derivable in DuckDB, so the digest is a full value-hash
    oracle (``DEDUP_SIMHASH_SQL``). The operator's xxhash64 default
    stays the corpus-scale family (operators/dedup.py::simhash_buckets);
    its behavior is property-tested separately."""
    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_buckets(docs, hash_family="md5")
    return sh.groupBy("band").agg(F.count(F.lit(1)).alias("n_docs")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n_docs").alias("max_bucket_size"),
        F.sum("n_docs").alias("n_docs_total"),
    )


# The Spark plan, op for op: distinct tokens -> md5-60bit token hash ->
# per-bit +1/-1 votes -> sign -> bit-pack -> leading 16-bit band ->
# bucket occupancy digest. Integer-exact everywhere; the CROSS JOIN to
# range(60) is the row-form of Spark's per-bit transform() lambda.
DEDUP_SIMHASH_SQL = r"""
WITH toks AS (
  -- COALESCE mirrors the Spark side: NULL text behaves like '' on both
  -- engines (UNNEST of a NULL list would drop the doc here while Spark
  -- folds it to simhash=0 — r11 ADVICE).
  SELECT doc_id,
         UNNEST(list_distinct(regexp_split_to_array(TRIM(COALESCE(text, '')), '\s+'))) AS t
  FROM documents
), h AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT) AS BIGINT) AS h
  FROM toks
), bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS b) bb
  GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
), occ AS (
  SELECT simhash >> 44 AS band, COUNT(*) AS n_docs FROM fp GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n_docs) AS BIGINT) AS max_bucket_size,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs_total
FROM occ
"""


def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN: LSH top-k for a bounded query set (recall vs the
    exact-oracle catalog query is property-tested)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    topk = ann_topk_lsh(queries, corpus, k=3)
    return topk.select("query_id", "rnk", "cand_id")


def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN, product-quantization variant: per-subspace
    codebooks (numpy Lloyd on a bounded hash-ordered sample — the FAISS
    training discipline, round 6) + one Arrow-vectorized encode pass +
    ADC table lookups + exact re-rank (recall ≥0.8@10 vs the exact
    oracle, property-tested with a determinism pin)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    topk = pq_topk(queries, corpus, k=3)
    return topk.select("query_id", "rnk", "cand_id")


def similarity_ann_ivf_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN, append-only IVF variant: frozen coarse quantizer
    (ivf_centroids), map-only literal-argmin assignment (ivf_assign —
    the ZERO-shuffle ingest path new vectors take in
    streaming.incremental_ann_index_stream), and a no-refit search over
    the assignment table (ivf_search_index). Equivalence to a one-shot
    batch build plus replay idempotence are pytest-pinned."""
    from ..operators.similarity import ivf_assign, ivf_centroids, ivf_search_index

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    cents = ivf_centroids(corpus, n_cells=8, seed=42)
    index = ivf_assign(corpus, cents)
    topk = ivf_search_index(queries, cents, index, k=3, n_probe=4)
    return topk.select("query_id", "rnk", "cand_id")


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64->16 Rademacher projection as a map-only
    column expression (seeded sign matrix inlined as literals — zero
    shuffle, no Python). numpy parity + pairwise-distance preservation
    are pytest-pinned.

    FULL value-hash oracle since r11: the "seeded sign matrix is not
    SQL-expressible" premise was wrong — the matrix is a driver-side
    CONSTANT, so the SQL dual inlines the identical ±0.25 literals
    (out_dim 16 ⇒ scale 1/√16 = 0.25, exactly representable; every
    product is an exact binary scaling and the fixed left-to-right fold
    is bit-identical on both engines). Output exploded to
    (vec_id, dim, val) rows — value-hashable without array-equality
    semantics; the projection itself is unchanged
    (``operators.similarity.random_projection``)."""
    from ..operators.similarity import random_projection

    e = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(e, out_dim=16)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))


def _random_projection_sql(out_dim: int = 16, in_dim: int = 64, seed: int = 42) -> str:
    """DuckDB dual of ``embedding_random_projection`` — regenerates the
    SAME Rademacher matrix (np.random.default_rng(seed), the operator's
    own recipe) and emits each output dim as an explicit left-to-right
    fold, matching Spark's F.aggregate order term for term."""
    import numpy as np

    rng = np.random.default_rng(seed)
    signs = rng.integers(0, 2, size=(out_dim, in_dim)) * 2 - 1
    scale = 1.0 / float(np.sqrt(out_dim))
    exprs = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(signs[j][i]) * scale!r}"
            for i in range(in_dim)
        )
        exprs.append(f"CAST(CAST((0.0 + {terms}) AS FLOAT) AS DOUBLE)")
    return f"""
SELECT vec_id,
       UNNEST(range({out_dim})) AS dim,
       UNNEST([{", ".join(exprs)}]) AS val
FROM embeddings
"""


EMBEDDING_RANDOM_PROJECTION_SQL = _random_projection_sql()


def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star ANN, IVF variant: KMeans coarse quantizer + probe-and-
    rerank (scan fraction ~ n_probe/n_cells of the corpus)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    corpus = e.filter(F.col("vec_id") >= 8)
    topk = ivf_topk(queries, corpus, k=3, n_cells=8, n_probe=4)
    return topk.select("query_id", "rnk", "cand_id")




def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star semantic dedup (SemDeDup): KMeans cells bound the pair
    search; survivors keep the lowest vec_id per near-dup pair. Rows-only
    entry (KMeans assignment is seed-dependent, not SQL-expressible);
    planted-duplicate behavior is pytest-verified (tests/test_operators.py).
    The synthetic embeddings have no true near-dups (max pairwise cosine
    ~0.51), so the catalog entry runs at 0.42 to exercise real drops;
    production SemDeDup thresholds are ~0.95+. Cell count is AUTO
    (k ∝ n, operators.similarity.semantic_dedup) — the round-6
    full-catalog scaling sweep measured the previous FIXED cell count
    going quadratic (8.9s → 810s at 10× data); auto keeps per-cell join
    volume constant. Centroids train driver-side (seeded numpy Lloyd on
    a bounded sample — a full-corpus MLlib fit is iterations × n × k
    Spark jobs, quadratic again once k ∝ n) and assignment is one
    broadcast + one map-only Arrow pass through a two-level coarse
    quantizer, so the whole entry scales linearly (measured 4.5× wall
    for 10× data, BENCH_SF1)."""
    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.42).select("vec_id", "label")


def grouped_median_arrow_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped custom aggregation (§2.9 UDF surface,
    Spark 4 applyInArrow): per-language median document length computed
    from raw pyarrow Tables — no pandas materialization on the worker.
    Full DuckDB oracle since r9 (promoted per the r8 verdict): numpy's
    interpolated median and DuckDB's ``median()`` agree bit-exactly on
    integer-valued doubles — the midpoint average is exact binary
    arithmetic for values < 2^52 — so the applyInArrow path itself now
    sits under the value hash; pandas-path equivalence stays
    pytest-pinned."""
    from ..functions.pandas_fns import grouped_median_arrow

    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("double").alias("n_chars")
    )
    return grouped_median_arrow(d, "lang", "n_chars")


GROUPED_MEDIAN_SQL = """
SELECT lang, CAST(median(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS median_value
FROM documents GROUP BY lang
"""


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate as a catalog query (one-pass declarative rules
    over lineitem): violation count + rate per rule."""
    from ..operators.quality import check_constraints, in_range, matches, not_null, one_of

    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        not_null("l_orderkey"),
        in_range("l_discount", 0.0, 0.1),
        in_range("l_quantity", 1.0, 50.0),
        one_of("l_returnflag", ["A", "N", "R"]),
        matches("l_linestatus", "^[OF]$"),
    ]
    return check_constraints(li, rules)


DATA_QUALITY_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS total,
         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS r2,
         CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
         CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS r4,
         CAST(SUM(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS r5
  FROM lineitem
)
SELECT rule, violations, CAST(violations AS DOUBLE) / total AS violation_rate
FROM agg
UNPIVOT (violations FOR r IN (r1, r2, r3, r4, r5))
JOIN (VALUES ('r1','l_orderkey_not_null'), ('r2','l_discount_in_range'),
             ('r3','l_quantity_in_range'), ('r4','l_returnflag_one_of'),
             ('r5','l_linestatus_matches')) names(r2name, rule)
  ON r = r2name
"""


def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints: per-doc fingerprint count +
    substring-collision pair count within a bounded set. Full DuckDB
    oracle since r9 (promoted per the r8 verdict's recipe): the
    Rabin-Karp polynomial is pure integer arithmetic mod 2^61−1, so the
    oracle recomputes every window hash DIRECTLY (Σ byte·B^j mod M in
    HUGEINT off hex(encode(text)) — bit-equal to the UDF's rolling
    recurrence, which is the same polynomial) and winnows with a
    4-row window-min; the n ≤ window single-min case falls out of the
    same window frame at i = 1."""
    from ..functions.pandas_fns import winnowing_fingerprints

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    fp = winnowing_fingerprints(d, "doc_id", "text")
    ex = fp.select("doc_id", F.explode("fingerprints").alias("fp"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id")
        .distinct()
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("fingerprints")).alias("n_fingerprints"),
    ).crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_collision_pairs")))


# Parameters mirror functions/pandas_fns.winnowing_fingerprints defaults
# (k=8, window=4, B=257, M=2^61-1); POW literals are B^(k-1-j) mod M —
# all < M, so only the per-window SUM needs HUGEINT.
_WIN_K, _WIN_W, _WIN_B, _WIN_M = 8, 4, 257, (1 << 61) - 1
_WIN_TERMS = " + ".join(
    f"CAST(codes[i+{j}] AS HUGEINT) * {pow(_WIN_B, _WIN_K - 1 - j, _WIN_M)}"
    for j in range(_WIN_K)
)
WINNOWING_SQL = f"""
WITH d AS (
  SELECT doc_id, length(text) AS nch,
         octet_length(encode(text)) AS bn, hex(encode(text)) AS hx
  FROM documents WHERE doc_id < 200
), bl AS (
  SELECT doc_id, bn,
         list_transform(range(0, bn), i ->
           (strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1)) AS codes
  FROM d WHERE nch >= {_WIN_K} AND bn >= {_WIN_K}
), hs AS (
  SELECT doc_id, bn - {_WIN_K} + 1 AS n,
         unnest(range(1, bn - {_WIN_K} + 2)) AS i, codes
  FROM bl
), hv AS (
  SELECT doc_id, n, i, CAST(({_WIN_TERMS}) % {_WIN_M} AS BIGINT) AS h FROM hs
), wm AS (
  SELECT doc_id, i, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS wmin
  FROM hv
), fp AS (
  SELECT DISTINCT doc_id, wmin AS fp FROM wm
  WHERE (n <= {_WIN_W} AND i = 1) OR (n > {_WIN_W} AND i <= n - {_WIN_W - 1})
)
SELECT (SELECT COUNT(*) FROM d) AS n_docs,
       (SELECT COUNT(*) FROM fp) AS n_fingerprints,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT a.doc_id, b.doc_id FROM fp a JOIN fp b
          ON a.fp = b.fp AND a.doc_id < b.doc_id)) AS n_collision_pairs
"""


def per_group_linear_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label linear models over embeddings (applyInPandas + numpy
    lstsq — the 'one model per entity' grouped-map pattern): predict
    dim0 from dims 1-3 within each label.

    FULL DuckDB oracle (r12 promotion): the output now carries the
    fitted VALUES — intercept, three coefficients, in-sample RMSE, all
    6dp-rounded — and the dual re-derives them in closed form from the
    per-group moment matrix (normal equations solved by a generated
    4x4 Cramer expansion, ``_per_group_ols_sql``). numpy's SVD lstsq
    and the exact normal-equation solve agree far below the 6dp quantum
    on full-rank groups; groups with n < 4 return NULL coefficients on
    both engines (the operator's own guard, mirrored by the dual's
    CASE)."""
    from ..ml.per_group import fit_linear_per_group

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("string").alias("grp"),
        F.element_at("embedding", 2).cast("double").alias("x1"),
        F.element_at("embedding", 3).cast("double").alias("x2"),
        F.element_at("embedding", 4).cast("double").alias("x3"),
        F.element_at("embedding", 1).cast("double").alias("y"),
    )
    out = fit_linear_per_group(e, "grp", ["x1", "x2", "x3"], "y")
    return out.select(
        "grp",
        "n_rows",
        stable_round(F.element_at("coef", 1), 6).alias("b0"),
        stable_round(F.element_at("coef", 2), 6).alias("b1"),
        stable_round(F.element_at("coef", 3), 6).alias("b2"),
        stable_round(F.element_at("coef", 4), 6).alias("b3"),
        stable_round(F.col("rmse"), 6).alias("rmse"),
    )


def _per_group_ols_sql() -> str:
    """DuckDB dual of ``per_group_linear_models``: closed-form OLS with
    intercept on (x1,x2,x3)→y per group. The 4x4 normal-equation system
    is solved by Cramer's rule with the determinants EXPANDED
    programmatically here (24 permutation terms each, 5 determinants) —
    single-sourced generation, no hand-transcribed algebra to drift.
    RMSE comes from joining the full-precision coefficients back to the
    rows (numerically stabler than the moment identity); the final 6dp
    rounding matches the Spark side's ``stable_round``.

    Group-presence symmetry (r12 review): the final SELECT left-joins
    from the DISTINCT label set, so a group whose every row has a NULL
    feature still emits (grp, n_rows=0, NULL coefficients) exactly like
    the applyInPandas side. Rank-DEFICIENT groups with n ≥ 4 are out of
    contract: numpy's lstsq would return the min-norm solution where
    Cramer's NULLIF(det,0) returns NULL — the embeddings features are
    continuous (full rank w.p. 1), and the deterministic corpora are
    verified full-rank by the parity sweep itself."""
    from itertools import permutations

    A = [
        ["n1", "s1", "s2", "s3"],
        ["s1", "s11", "s12", "s13"],
        ["s2", "s12", "s22", "s23"],
        ["s3", "s13", "s23", "s33"],
    ]
    bvec = ["sy", "s1y", "s2y", "s3y"]

    def det(m: list[list[str]]) -> str:
        terms = []
        for perm in permutations(range(4)):
            inv = sum(
                1 for i in range(4) for j in range(i + 1, 4) if perm[i] > perm[j]
            )
            sign = "+" if inv % 2 == 0 else "-"
            terms.append(f" {sign} {'*'.join(m[i][perm[i]] for i in range(4))}")
        return "(" + "".join(terms) + ")"

    det_a = det(A)
    num = []
    for j in range(4):
        m = [row[:] for row in A]
        for i in range(4):
            m[i][j] = bvec[i]
        num.append(det(m))
    coef_cases = ",\n         ".join(
        f"CASE WHEN n_rows >= 4 THEN {num[j]} / NULLIF({det_a}, 0) END AS c{j}"
        for j in range(4)
    )
    return f"""
WITH pts AS (
  SELECT CAST(label AS VARCHAR) AS grp,
         CAST(embedding[2] AS DOUBLE) AS x1,
         CAST(embedding[3] AS DOUBLE) AS x2,
         CAST(embedding[4] AS DOUBLE) AS x3,
         CAST(embedding[1] AS DOUBLE) AS y
  FROM embeddings
  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
    AND embedding[3] IS NOT NULL AND embedding[4] IS NOT NULL
), m AS (
  SELECT grp, COUNT(*) AS n_rows, CAST(COUNT(*) AS DOUBLE) AS n1,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x1*x3) AS s13,
         SUM(x2*x2) AS s22, SUM(x2*x3) AS s23, SUM(x3*x3) AS s33,
         SUM(y) AS sy, SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(x3*y) AS s3y
  FROM pts GROUP BY 1
), c AS (
  SELECT grp, n_rows,
         {coef_cases}
  FROM m
), r AS (
  SELECT c.grp, c.n_rows, c.c0, c.c1, c.c2, c.c3,
         CASE WHEN c.n_rows >= 4 THEN
           SQRT(AVG((p.y - (c.c0 + c.c1*p.x1 + c.c2*p.x2 + c.c3*p.x3))
                    * (p.y - (c.c0 + c.c1*p.x1 + c.c2*p.x2 + c.c3*p.x3))))
         END AS rmse_raw
  FROM c JOIN pts p ON p.grp = c.grp
  GROUP BY 1, 2, 3, 4, 5, 6
), grps AS (
  SELECT DISTINCT CAST(label AS VARCHAR) AS grp FROM embeddings
)
SELECT g.grp,
       CAST(COALESCE(r.n_rows, 0) AS BIGINT) AS n_rows,
       ROUND(r.c0 * 1e6) / 1e6 AS b0,
       ROUND(r.c1 * 1e6) / 1e6 AS b1,
       ROUND(r.c2 * 1e6) / 1e6 AS b2,
       ROUND(r.c3 * 1e6) / 1e6 AS b3,
       ROUND(r.rmse_raw * 1e6) / 1e6 AS rmse
FROM grps g LEFT JOIN r ON r.grp = g.grp
"""


PER_GROUP_OLS_SQL = _per_group_ols_sql()


def hash_split_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/dev/test assignment by key hash (the
    reproducible, layout-independent alternative to randomSplit: the
    same doc always lands in the same split, on any cluster, any
    partitioning, any run — essential for dataset versioning). 80/10/10
    via the first-8-hex-digits-of-md5 integer hash mod 10; per-split
    digest. Map-only. r10: the gate moved from ``xxhash64`` to the
    repo's md5-conv hash — an ENGINE-portable function, which is the
    stronger version of the reproducibility claim this split exists for
    (the same doc lands in the same split even when the versioned
    dataset is re-derived outside Spark), and what promotes the entry
    from rows-only to full DuckDB hash parity. Doc-grain md5 is one
    hash per row, not per token — scan-cost noise."""
    from ..functions.scalars import md5_int32

    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(md5_int32(F.col("doc_id").cast("string")), F.lit(10))
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket < 9, F.lit("dev"))
        .otherwise(F.lit("test"))
    )
    return d.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


HASH_SPLIT_SQL = """
WITH b AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         % 10 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket < 9 THEN 'dev'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM b GROUP BY 1
"""


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights (the sampling-ratio step
    of a multilingual training mix, alpha=0.5): per-lang token totals →
    sqrt-damped share. Token sums are exact BIGINT; the sqrt weight goes
    through DECIMAL before the (tiny, lang-cardinality) normalizing sum so
    the result is partition-order independent; the total joins back via
    broadcast — no single-partition window."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(word_tokens("text"))
    per = d.groupBy("lang").agg(F.sum(toks.cast("long")).alias("n_tokens"))
    w = F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(38,6)")
    weighted = per.select("lang", "n_tokens", w.alias("w"))
    total = weighted.agg(F.sum("w").alias("w_total"))
    return weighted.join(F.broadcast(total)).select(
        "lang",
        "n_tokens",
        stable_round((F.col("w") / F.col("w_total")).cast("double"), 6).alias(
            "mix_weight"
        ),
    )


MIXTURE_WEIGHTS_SQL = r"""
WITH per AS (
  SELECT lang,
         CAST(SUM(len(regexp_split_to_array(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), wt AS (
  SELECT lang, n_tokens,
         CAST(SQRT(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,6)) AS w
  FROM per
)
SELECT lang, n_tokens,
       (ROUND(CAST(w / (SELECT SUM(w) FROM wt) AS DOUBLE) * 1e6) / 1e6) AS mix_weight
FROM wt
"""


CAP_PER_SOURCE_K = 20


def cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the anti-domination rule of a crawl
    corpus: no source contributes more than K docs): keep the first K per
    source in md5(doc_id) order — a deterministic pseudo-random choice
    that is reproducible on any cluster and any partitioning, unlike
    rand()-based sampling. One shuffle (window by source); at 100 TB the
    WindowGroupLimit pushes the top-K below the exchange so only K rows
    per source per mapper shuffle."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CAP_PER_SOURCE_K)
        .select("source", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


CAP_PER_SOURCE_SQL = f"""
SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents
) WHERE rn <= {CAP_PER_SOURCE_K}
"""


SAMPLE_FRACTIONS = {"en": 0.5, "fr": 0.3, "es": 0.3, "de": 0.3, "zh": 0.3}


STRATIFIED_SALT = "strat42-"


def _strat_thresholds() -> dict[str, int]:
    """Per-stratum integer keep-thresholds, single-sourced into BOTH the
    Spark gate and the SQL dual (the minhash-consts precedent): keep a
    row iff md5_int32(salt||doc_id) < floor(frac·2^32) — an exact
    integer compare, no float boundary on either engine."""
    return {lang: int(f * (1 << 32)) for lang, f in SAMPLE_FRACTIONS.items()}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sampling via a PORTABLE HASH GATE — the
    class-balancing / downsampling primitive of a training-data
    pipeline. Map-only: each task keeps rows by a per-stratum integer
    threshold on ``md5_int32(salt || doc_id)``; no shuffle until the
    digest agg. FULL DuckDB oracle since r12.

    r12 upgrade (was ``df.sampleBy(seed=42)``): Spark's sampler draws a
    per-PARTITION pseudorandom stream (seed + partition index), so the
    kept SET — not just its size — changes with input layout, AQE
    coalescing, or a task retry that re-splits. At 100 TB that makes
    "the sampled corpus" irreproducible between runs of the same seed.
    The hash gate is a pure function of the ROW, so any partitioning,
    any retry, and any engine keeps the identical set — the
    ``hash_split_digest`` / ``balanced_mixture_sample`` discipline
    applied to stratified sampling (per-stratum keep probability =
    threshold/2^32, exact to float precision of the fraction). The
    ``sampleBy`` surface itself stays pytest-covered as the MLlib-API
    primitive (proportions band)."""
    from ..functions.scalars import md5_int32

    d = load_table(spark, sf_dir, "documents")
    th = _strat_thresholds()
    gate = F.create_map(
        *[x for lang, t in sorted(th.items()) for x in (F.lit(lang), F.lit(t))]
    )
    u = md5_int32(F.concat(F.lit(STRATIFIED_SALT), F.col("doc_id").cast("string")))
    s = d.filter(u < F.coalesce(gate[F.col("lang")], F.lit(0)))
    return s.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


def _stratified_sample_sql() -> str:
    """Generated dual — thresholds inlined from the same dict."""
    cases = " ".join(
        f"WHEN '{lang}' THEN {t}" for lang, t in sorted(_strat_thresholds().items())
    )
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM documents
WHERE CAST(concat('0x', substr(md5('{STRATIFIED_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
      < CASE lang {cases} ELSE 0 END
GROUP BY lang
"""


STRATIFIED_SAMPLE_SQL = _stratified_sample_sql()


QUERIES: dict[str, QueryDef] = {
    "stratified_sample": QueryDef(
        stratified_sample,
        STRATIFIED_SAMPLE_SQL,
        "stratified hash-Bernoulli sample (portable gate, partition-independent)",
    ),
    "hash_split_digest": QueryDef(
        hash_split_digest, HASH_SPLIT_SQL, "deterministic hash train/dev/test split"
    ),
    "mixture_weights": QueryDef(
        mixture_weights, MIXTURE_WEIGHTS_SQL, "temperature-scaled mixture weights"
    ),
    "cap_per_source": QueryDef(
        cap_per_source, CAP_PER_SOURCE_SQL, "deterministic per-source doc cap"
    ),
    "similarity_ann_ivf": QueryDef(similarity_ann_ivf, None, "similarity: IVF ANN"),
    "embedding_random_projection": QueryDef(
        embedding_random_projection,
        EMBEDDING_RANDOM_PROJECTION_SQL,
        "similarity: JL random projection (map-only, bit-exact oracle)",
    ),
    "similarity_ann_ivf_frozen": QueryDef(
        similarity_ann_ivf_frozen,
        None,
        "similarity: append-only IVF (frozen centroids, no-refit search)",
    ),
    "dedup_semantic_kmeans": QueryDef(
        dedup_semantic_kmeans, None, "dedup: SemDeDup clustered embedding near-dup"
    ),
    "grouped_median_arrow": QueryDef(
        grouped_median_arrow_entry,
        GROUPED_MEDIAN_SQL,
        "applyInArrow grouped median (no pandas)",
    ),
    "data_quality_report": QueryDef(
        data_quality_report, DATA_QUALITY_SQL, "data-quality gate (one-pass rules)"
    ),
    "fingerprint_winnowing": QueryDef(
        fingerprint_winnowing, WINNOWING_SQL, "winnowing rolling-hash fingerprints"
    ),
    "compression_ratio_quality": QueryDef(
        compression_ratio_quality,
        None,
        "text: zlib compression-ratio quality signal (Arrow-batched, map-only)",
    ),
    "per_group_linear_models": QueryDef(
        per_group_linear_models, PER_GROUP_OLS_SQL, "per-group numpy linear fits"
    ),
    "ml_logreg_leaderboard": QueryDef(ml_logreg_leaderboard, None, "M1-M3/M8 LR pipeline"),
    "ml_score_games_merge": QueryDef(
        ml_score_games_merge,
        None,
        "E1 2024+ inference: train→save→reload→score→MERGE predicted_winner",
    ),
    "ml_nearest_centroid": QueryDef(
        ml_nearest_centroid, ML_NEAREST_CENTROID_SQL, "M5 NearestCentroid"
    ),
    "ml_knn_lsh_vote": QueryDef(ml_knn_lsh_vote, None, "M6 LSH kNN vote"),
    "ml_knn_k_leaderboard": QueryDef(
        ml_knn_k_leaderboard, None, "M6 n_neighbors grid leaderboard (one LSH ranking)"
    ),
    "quality_classifier_scores": QueryDef(
        quality_classifier_scores,
        None,
        "text: fasttext-style hashed linear quality classifier (train+score summary)",
    ),
    "dedup_minhash_lsh": QueryDef(
        dedup_minhash_lsh,
        DEDUP_MINHASH_LSH_SQL,
        "dedup: MinHash LSH (portable hash family)",
    ),
    "dedup_minhash_banded": QueryDef(
        dedup_minhash_banded,
        DEDUP_MINHASH_BANDED_SQL,
        "dedup: native banded MinHash (portable hash family)",
    ),
    "dedup_end_to_end": QueryDef(
        dedup_end_to_end,
        DEDUP_END_TO_END_SQL,
        "dedup: pairs→components→canonical keep (portable hash family + recursive-CTE oracle)",
    ),
    "dedup_cluster_profile": QueryDef(
        dedup_cluster_profile,
        DEDUP_CLUSTER_PROFILE_SQL,
        "dedup: duplicate-cluster size/mass histogram (prices the dedup; portable hash family)",
    ),
    "dedup_simhash": QueryDef(
        dedup_simhash, DEDUP_SIMHASH_SQL, "dedup: SimHash (portable hash family)"
    ),
    "dedup_incremental": QueryDef(
        dedup_incremental,
        DEDUP_INCREMENTAL_SQL,
        "dedup: incremental batch-vs-index (portable hash family)",
    ),
    "similarity_ann_lsh": QueryDef(similarity_ann_lsh, None, "similarity: LSH ANN"),
    "similarity_ann_pq": QueryDef(similarity_ann_pq, None, "similarity: PQ/ADC ANN"),
}

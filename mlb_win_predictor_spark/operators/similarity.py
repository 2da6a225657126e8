"""Similarity search operators (SURVEY §2.10): exact baseline + LSH ANN.

``exact_topk_cosine`` is the correctness oracle (broadcast nested-loop —
fine for bounded query sets, never for corpus×corpus). ``ann_topk_lsh``
is the scale path: BucketedRandomProjectionLSH buckets both sides so the
join touches colliding buckets only; recall vs the exact oracle is
property-tested at small SF (tests/test_operators.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b))


def cosine_matmul_scorer(
    q_ids,
    q_mat,
    id_in: str,
    vec_in: str,
    score_col: str,
    rounded: bool,
    exclude_self: bool = False,
):
    """The shared Arrow-batched numpy cosine scorer (r9): returns a
    ``mapInPandas`` generator that scores every batch of candidate rows
    against the collected query matrix in ONE float64 matmul. One
    implementation for ``cosine_topk_bruteforce``, the MMR pooling pass,
    and ``exact_topk_cosine`` — keeping the rounding grain and the
    tile/repeat long-form layout in lockstep across all three.

    ``rounded`` applies the cross-engine half-away 6dp grain
    (``floor(|x|·1e6 + 0.5)·sign/1e6`` — the same IEEE ops as
    ``stable_round`` / DuckDB ``ROUND(x*1e6)/1e6``) so DuckDB oracles
    replay the scores; unrounded callers (the ANN truth oracle) get raw
    float64 with non-finite scores (zero-norm vectors) dropped.
    ``exclude_self`` removes query_id == cand_id pairs.

    Contract: integer ids (the catalog's vec_id grain); the closure is
    SELF-CONTAINED (imports inside, captures only the factory args by
    value) because the driver contract imports from a foreign cwd where
    executors cannot import this repo. Callers collect the query side —
    bounded ≤ 32 rows by contract; a broadcast variable at real query
    counts."""
    import numpy as np

    q_ids = np.asarray(q_ids, dtype=np.int64)
    q_mat = np.asarray(q_mat, dtype=np.float64)
    if q_mat.ndim != 2:  # empty query side → scorer yields nothing
        q_mat = q_mat.reshape(0, 1)
    q_nrm2 = (q_mat * q_mat).sum(axis=1)  # SQUARED norms: the divisor is
    # sqrt(cn²·qn²) — the exact IEEE form the DuckDB oracles use
    # (SQRT(nq.nrm * nc.nrm)), which can differ from sqrt(cn)·sqrt(qn)
    # by 1 ulp, enough to flip a 6dp rounding boundary

    def score(batches):
        import numpy as np
        import pandas as pd

        nq = len(q_ids)
        for pdf in batches:
            if not len(pdf) or not nq:
                continue
            v = np.array(pdf[vec_in].to_list(), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (v @ q_mat.T) / np.sqrt(
                    np.outer((v * v).sum(axis=1), q_nrm2)
                )
            if rounded:
                cos = np.copysign(np.floor(np.abs(cos) * 1e6 + 0.5), cos) / 1e6
            out = pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, len(pdf)),
                    "cand_id": np.repeat(pdf[id_in].to_numpy(np.int64), nq),
                    score_col: cos.ravel(),
                }
            )
            if exclude_self:
                out = out[out["query_id"] != out["cand_id"]]
            # both paths: a zero-norm vector yields 0/0 = NaN, and Spark
            # sorts NaN ABOVE every double — unfiltered it would rank
            # top-1 for every query (ADVICE r9); drop it like the old
            # Spark-SQL form's NULL (which sorted last under desc).
            out = out[np.isfinite(out[score_col])]
            yield out

    return score


def exact_topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: the query side (small by contract — the
    truth-oracle callers pass ≤ 32 queries; a real deployment rides a
    broadcast variable) is collected into a numpy matrix inside an
    Arrow-batched ``mapInPandas`` closure and each corpus batch is
    scored in ONE matmul (r9 — the per-pair ``cosine()`` HOF this
    replaced folded THREE aggregates per pair and measured ~4× slower
    on the ANN harness's exact leg). Self-pairs are excluded as before;
    the per-query top-k window is the plan's only exchange. Zero-norm
    vectors produce non-finite cosines and are dropped (the HOF form
    yielded NULL, which ranked last — no caller feeds zero vectors).
    Integer-id contract (the catalog's vec_id grain); an EMPTY query
    side returns an empty result, as the old join form did."""
    qrows = sorted(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).collect(),
        key=lambda r: r.query_id,
    )
    score = cosine_matmul_scorer(
        [r.query_id for r in qrows],
        [r.q_vec for r in qrows],
        id_in="cand_id",
        vec_in="c_vec",
        score_col="cos",
        rounded=False,
        exclude_self=True,
    )
    scored = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    ).mapInPandas(score, "query_id long, cand_id long, cos double")
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


IVF_TRAIN_PER_CELL = 24
IVF_AUTO_MAX_CELLS = 4096  # driver-Lloyd trainability bound; beyond this
# a hierarchical (coarse-then-fine) or distributed fit is the path


def _spherical_lloyd(X, k: int, rng, iters: int = 20):
    """Seeded spherical k-means on unit-norm rows (assign = max dot,
    centroid = renormalized mean) — the quantizer that matches a COSINE
    search metric; Euclidean cells on unnormalized data misalign with
    cosine neighborhoods."""
    import numpy as np

    cent = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        a = (X @ cent.T).argmax(1)
        for j in range(len(cent)):
            m = a == j
            if m.any():
                v = X[m].mean(0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cent[j] = v / nv
    return cent


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN with a SPHERICAL sample-trained coarse
    quantizer: the corpus partitions into cells; each query probes its
    ``n_probe`` highest-dot cells and exact-reranks within them. Scan
    fraction ~ n_probe/n_cells of the corpus.

    r7 rebuild for a competitive frontier point (the r6 ANN.md showed
    the MLlib-fit 16-cell IVF dominated at every operating point):

    - **auto sizing**: ``n_cells`` defaults to ~3·√n (clamped [16,
      IVF_AUTO_MAX_CELLS]); ``n_probe`` to half the cells. Finer cells
      raise recall per scanned vector — measured on the sf0.1 corpus at
      a fixed 50% scan: 0.80 recall@10 at 16 cells → ~0.92 at 3·√n≈134.
      The synthetic embeddings are ISOTROPIC (mean same-label cosine
      0.005 — no cluster structure, IVF's worst case), so recall here
      tracks scan fraction; clustered real-world embeddings reach the
      same recall probing far fewer cells.
    - **spherical quantizer** (max-dot assign, renormalized-mean
      centroids) matching the cosine search metric.
    - **sample-trained, driver-side** (seeded numpy Lloyd on a bounded
      hash-ordered sample — the FAISS training discipline shared with
      ``semantic_dedup``/``pq_topk``): the r6 MLlib fit was itself ~half
      the IVF wall at sf0.1. Assignment is one broadcast + one
      Arrow-batched map-only pass; at 100 TB it is the only corpus-grain
      stage before the probe join, and cells partition the index so the
      probe join prunes to n_probe/n_cells of the files.

    Deterministic given the seed; probing ALL cells reproduces the exact
    result (cells partition the corpus). Recall property-tested vs the
    exact oracle (tests/test_operators.py); the frontier point is
    regenerated in ANN.md.
    """
    import math

    import numpy as np

    spark = corpus.sparkSession
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
    if n_cells is None:
        n = corpus.count()
        n_cells = int(max(16, min(3 * math.sqrt(max(n, 1)), IVF_AUTO_MAX_CELLS)))
    if n_probe is None:
        n_probe = max(1, -(-n_cells // 2))

    sample = (
        c.select("c_vec", F.xxhash64(F.col("cand_id")).alias("h"))
        .orderBy("h")
        .limit(max(4096, IVF_TRAIN_PER_CELL * n_cells))
        .collect()
    )
    if not sample:
        raise ValueError(
            f"empty corpus: IVF quantizer training needs at least one row "
            f"with a non-null '{vec_col}' vector"
        )
    X = np.array([list(r.c_vec) for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cent = _spherical_lloyd(X, n_cells, np.random.default_rng(seed))
    cent_bc = spark.sparkContext.broadcast(cent)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _cell_of(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        C = cent_bc.value
        V = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vecs])
        V /= _np.maximum(_np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        return _pd.Series((V @ C.T).argmax(1).astype("int32"))

    n_probe_lit = int(n_probe)

    @pandas_udf("array<int>")
    def _probe_cells(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        C = cent_bc.value
        V = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vecs])
        V /= _np.maximum(_np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        dots = V @ C.T
        top = _np.argsort(-dots, axis=1)[:, :n_probe_lit].astype("int32")
        return _pd.Series(list(top))

    assigned = c.withColumn("cell", _cell_of(F.col("c_vec")))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = q.select(
        "query_id", "q_vec", F.explode(_probe_cells(F.col("q_vec"))).alias("cell")
    )
    cand = probes.join(assigned, "cell").filter(F.col("query_id") != F.col("cand_id"))
    scored = cand.select(
        "query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 16,
    n_codes: int = 16,
    rerank_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN (ADC — asymmetric distance computation):
    the third scale path beside LSH banding and IVF cells.

    Train: the vector is split into ``m`` subspaces; each gets its own
    ``n_codes``-centroid KMeans codebook (fit on the corpus here; on a
    sample at 100 TB — codebooks are tiny and broadcastable).
    Encode: each corpus vector compresses to ``m`` small codes
    (m·log2(n_codes) bits vs 4·dim bytes — a 64-dim float vector becomes
    8 nibbles, a 64× compression), as a map-only transform.
    Query: each query precomputes an (s, code) → squared-L2 distance
    table against the broadcast codebooks (m·n_codes doubles per query);
    the approximate distance of a candidate is the sum of ``m`` table
    lookups — no full-vector arithmetic against the corpus at all.
    Re-rank: the top ``rerank_mult·k`` ADC candidates get exact cosine.
    Measured recall@10 vs the exact oracle on the sf0.001 embeddings
    (64-dim, near-random — PQ's hardest case): 0.95 at m=16/rerank=8,
    0.85 at m=16/rerank=4, 0.53 at m=8/rerank=4.

    The ADC join keys on (subspace, code) against the broadcast distance
    table, then one partial-agg sum per (query, candidate). Codebook
    TRAINING follows the FAISS discipline: numpy Lloyd iterations over a
    bounded hash-ordered corpus sample — at 100 TB you cannot (and need
    not) fit per-subspace KMeans on the full corpus; a few thousand
    training vectors saturate a 16×16 codebook. (Measured: the previous
    16 MLlib fits + 16 transform/union branches cost ~28s at sf0.1;
    sample-trained codebooks + one Arrow-vectorized encode pass bring
    the same entry to a few seconds with equal-or-better recall — the
    encode UDF is batch-numpy, never per-row.) Deterministic given the
    seed; recall vs the exact oracle is property-tested."""
    import numpy as np

    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    d = int(dim_row.d)
    d_sub = d // m
    if d_sub * m != d:
        raise ValueError(f"dim {d} not divisible by m={m}")

    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))

    # --- train: bounded deterministic sample -> numpy Lloyd per subspace
    train_n = 4096
    sample = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(train_n)
        .collect()
    )
    X = np.array([list(r.v) for r in sample], dtype=np.float64)
    rng_np = np.random.default_rng(seed)
    books = np.empty((m, n_codes, d_sub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        # seeded kmeans++-style init: first center random, rest D²-weighted
        cent = Xs[rng_np.integers(len(Xs))][None, :]
        while cent.shape[0] < n_codes:
            d2 = ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(-1).min(1)
            tot = d2.sum()
            probs = d2 / tot if tot > 0 else np.full(len(Xs), 1.0 / len(Xs))
            cent = np.vstack([cent, Xs[rng_np.choice(len(Xs), p=probs)]])
        for _ in range(25):
            assign = ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(-1).argmin(1)
            new = np.stack(
                [
                    Xs[assign == j].mean(0) if (assign == j).any() else cent[j]
                    for j in range(n_codes)
                ]
            )
            if np.allclose(new, cent):
                break
            cent = new
        books[s] = cent

    spark = queries.sparkSession
    books_bc = spark.sparkContext.broadcast(books)

    # --- encode: ONE Arrow-batched map-only pass, all m codes per vector
    # (replaces m MLlib transforms + an m-way union). Self-contained
    # closure: only the broadcast and shape ints are captured.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _pq_encode(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        bks = books_bc.value  # (m, n_codes, d_sub)
        mm, _, dsub = bks.shape
        V = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vecs])
        Vs = V.reshape(len(V), mm, dsub)
        codes = _np.empty((len(V), mm), dtype=_np.int32)
        for s_ in range(mm):
            d2 = ((Vs[:, s_, None, :] - bks[s_][None, :, :]) ** 2).sum(-1)
            codes[:, s_] = d2.argmin(1)
        return _pd.Series(list(codes))

    codes = c.select(
        "cand_id", F.posexplode(_pq_encode(F.col("c_vec"))).alias("s", "code")
    )

    cb = spark.createDataFrame(
        [
            (s, j, [float(x) for x in books[s][j]])
            for s in range(m)
            for j in range(n_codes)
        ],
        ["s", "code", "centroid"],
    )

    # per-query distance table: (query_id, s, code, dist)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    dist_table = q.join(F.broadcast(cb)).select(
        "query_id",
        "s",
        "code",
        F.aggregate(
            F.zip_with(
                F.transform(
                    F.slice(F.col("q_vec"), F.col("s") * d_sub + 1, d_sub),
                    lambda v: v.cast("double"),
                ),
                F.col("centroid"),
                lambda x, ctr: (x - ctr) * (x - ctr),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("dist"),
    )

    # ADC: m table lookups per (query, candidate)
    adc = (
        codes.join(F.broadcast(dist_table), ["s", "code"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("dist").alias("adc_dist"))
    )
    wa = W.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("cand_id").asc())
    shortlist = adc.withColumn("rn", F.row_number().over(wa)).filter(
        F.col("rn") <= rerank_mult * k
    )

    # exact cosine re-rank of the shortlist
    rescored = (
        shortlist.select("query_id", "cand_id")
        .join(c, "cand_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (Euclidean
    buckets as a proxy; vectors are near-unit-norm so L2 order ~ cosine
    order). Join volume ∝ bucket collisions, not |queries|×|corpus|."""
    to_vec = lambda df, idn, alias: df.select(  # noqa: E731
        F.col(id_col).alias(idn),
        F.col(vec_col).alias(alias),
        array_to_vector(
            F.transform(F.col(vec_col), lambda v: v.cast("double"))
        ).alias("_vec"),
    )
    q = to_vec(queries, "query_id", "q_vec")
    c = to_vec(corpus, "cand_id", "c_vec")
    lsh = BucketedRandomProjectionLSH(
        inputCol="_vec",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(q, c, float("inf"), distCol="_l2")
    pairs = joined.filter(F.col("datasetA.query_id") != F.col("datasetB.cand_id")).select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.cand_id").alias("cand_id"),
        cosine(F.col("datasetA.q_vec"), F.col("datasetB.c_vec")).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (int8) coarse scan + exact re-rank as a reusable,
    parameterized operator — the core of
    ``queries.embeddings.similarity_sq8_rerank`` generalized to arbitrary
    query/corpus frames so the ANN frontier (``ml.ann_eval``) can sweep
    ``pool``, the recall/latency knob: per-dimension corpus min/max
    define a linear int8 code, coarse cosine over the DEQUANTIZED codes
    keeps the top-``pool`` per query, exact float cosine re-ranks the
    pool. Deterministic (no hash seeds). Scale shape: one 64-group
    stats agg, map-only coarse scan against broadcast queries, score
    rows only through the window shuffle, pool-bounded exact re-join."""
    stats = (
        corpus.select(F.posexplode(vec_col).alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
            ).alias("mn_arr"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
            ).alias("mx_arr"),
        )
    )
    rng = F.zip_with(
        F.col("mx_arr"), F.col("mn_arr"), lambda a, b: a.cast("double") - b.cast("double")
    )

    def dequantized(col: Column) -> Column:
        shifted = F.zip_with(
            col, F.col("mn_arr"), lambda v, m: v.cast("double") - m.cast("double")
        )
        code = F.zip_with(shifted, rng, lambda d, r: F.round(d / r * 255) - 128)
        return F.zip_with(
            F.zip_with(code, rng, lambda cd, r: (cd + 128) / 255.0 * r),
            F.col("mn_arr"),
            lambda t, m: m.cast("double") + t,
        )

    qd = queries.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("query_id"), dequantized(F.col(vec_col)).alias("q_deq")
    )
    qd = qd.select("query_id", "q_deq", _dot(F.col("q_deq"), F.col("q_deq")).alias("q_n"))
    cd = corpus.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("cand_id"), dequantized(F.col(vec_col)).alias("c_deq")
    )
    cd = cd.select("cand_id", "c_deq", _dot(F.col("c_deq"), F.col("c_deq")).alias("c_n"))
    coarse = cd.join(F.broadcast(qd)).filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        (_dot(F.col("q_deq"), F.col("c_deq")) / F.sqrt(F.col("q_n") * F.col("c_n"))).alias(
            "sq8_cos"
        ),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("sq8_cos").desc(), F.col("cand_id").asc())
    shortlist = (
        coarse.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= pool)
        .select("query_id", "cand_id")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
    rescored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .select("query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


SEMANTIC_DEDUP_CELL_TARGET = 250  # target points per KMeans cell
SEMANTIC_DEDUP_TRAIN_PER_CELL = 64  # training sample vectors per cell
SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K = 64  # above this, assign via coarse level


def _lloyd_fit_vec(X, k: int, rng, iters: int = 25):
    """``_lloyd_fit`` with a bincount/add.at centroid update — the per-j
    boolean-mask update is k python passes per iteration, the r11 sf10
    profile's driver hotspot once k ∝ corpus (800 masks × 25 iters over
    a 51k-row sample). Centroid VALUES differ from ``_lloyd_fit`` in the
    last ulps (np.add.at folds in row order; per-mask mean folds per
    cluster), so this variant is used only by the two-level fit path —
    the flat small-k path keeps ``_lloyd_fit`` and its exact values."""
    import numpy as np

    n = len(X)
    k = min(k, n)
    cent = X[rng.integers(n)][None, :]
    d2 = ((X - cent[0]) ** 2).sum(-1)
    while cent.shape[0] < k:
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        new_c = X[rng.choice(n, p=probs)]
        cent = np.vstack([cent, new_c])
        d2 = np.minimum(d2, ((X - new_c) ** 2).sum(-1))
    x_sq = (X * X).sum(1)[:, None]
    for _ in range(iters):
        assign = (x_sq - 2.0 * (X @ cent.T) + (cent * cent).sum(1)[None, :]).argmin(1)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=len(cent)).astype(np.float64)
        new = np.where(counts[:, None] > 0, sums / np.maximum(counts, 1.0)[:, None], cent)
        if np.allclose(new, cent):
            break
        cent = new
    return cent


def _two_level_fit(X, k: int, rng, iters: int = 25):
    """Hierarchical seeded Lloyd for k ∝ corpus (r11 — the sf1→sf10
    decade measured the FLAT fit at 13.4× wall for 10× data: with the
    SemDeDup k ∝ n discipline AND a k-proportional training sample, flat
    Lloyd is train_n × k ∝ n² on a single driver core). Fit √k coarse
    centroids on the whole sample, partition the sample once, then fit
    each nonempty group's share of fine centroids on its own members —
    distance work drops to ~2·train_n·√k per iteration, and the fit
    natively produces the (coarse, members) structure the two-level
    ASSIGN path already consumes (no post-hoc re-clustering of
    centroids). Deterministic: groups are processed in coarse order and
    ``rng`` is consumed sequentially."""
    import numpy as np

    k = min(k, len(X))
    k2 = int(np.ceil(np.sqrt(k)))
    coarse = _lloyd_fit_vec(X, k2, rng, iters)
    owner = (
        (X * X).sum(1)[:, None] - 2.0 * (X @ coarse.T) + (coarse * coarse).sum(1)[None, :]
    ).argmin(1)
    per = len(X) / k  # target sample points per fine cell
    cents, members, coarse_keep = [], [], []
    base = 0
    for g in range(len(coarse)):
        Xg = X[owner == g]
        if len(Xg) == 0:
            continue
        kg = min(len(Xg), max(1, int(round(len(Xg) / per))))
        fine = _lloyd_fit_vec(Xg, kg, rng, iters)
        members.append(np.arange(base, base + len(fine)))
        base += len(fine)
        cents.append(fine)
        coarse_keep.append(g)
    return np.vstack(cents), coarse[np.array(coarse_keep)], members


def _lloyd_fit(X, k: int, rng, iters: int = 25):
    """Seeded numpy Lloyd with kmeans++-style D²-weighted init, O(n·k·d)
    throughout: the init keeps a RUNNING min-distance array (distance to
    the newest centroid only, per round) and the iterations use the
    ``|x|²-2x·c+|c|²`` BLAS form instead of an n×k×d broadcast — both
    matter once k ∝ corpus (the SemDeDup discipline) rather than a small
    constant. Returns a (k, d) float64 centroid matrix; deterministic
    given ``rng``'s seed."""
    import numpy as np

    n = len(X)
    k = min(k, n)
    cent = X[rng.integers(n)][None, :]
    d2 = ((X - cent[0]) ** 2).sum(-1)
    while cent.shape[0] < k:
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        new_c = X[rng.choice(n, p=probs)]
        cent = np.vstack([cent, new_c])
        d2 = np.minimum(d2, ((X - new_c) ** 2).sum(-1))
    x_sq = (X * X).sum(1)[:, None]
    for _ in range(iters):
        dist = x_sq - 2.0 * (X @ cent.T) + (cent * cent).sum(1)[None, :]
        assign = dist.argmin(1)
        new = np.stack(
            [X[assign == j].mean(0) if (assign == j).any() else cent[j] for j in range(k)]
        )
        if np.allclose(new, cent):
            break
        cent = new
    return cent


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.97,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with KMeans, then
    search near-duplicate pairs only WITHIN each cluster — the O(n^2)
    cosine pair join becomes per-cell, so at 100 TB each cell's join is
    an independent shuffle partition and the cross-cell quadratic term
    vanishes. Single-pass keep-lowest-id policy: an item is dropped iff
    some lower-id item in its cell is within ``threshold`` cosine
    (deterministic given the seed; chains are NOT re-linked across the
    dropped item — exact transitive grouping is `dedup_end_to_end`'s
    connected-components path).

    ``n_cells`` defaults to AUTO: ``ceil(n / SEMANTIC_DEDUP_CELL_TARGET)``
    (floor 16) — the SemDeDup paper's k ∝ n discipline. A FIXED cell
    count is the classic scaling bug this guards against: per-cell join
    cost is n²/n_cells, so fixed cells make the whole operator quadratic
    in the corpus (measured: 16 cells went 8.9s → 810s for 10× data in
    the round-6 full-catalog scaling sweep; auto-sizing keeps cost
    n·cell_target — linear). The count() this needs is one cheap
    column-pruned pass.

    Clustering follows the FAISS/SemDeDup training discipline, not a
    full-corpus MLlib fit (which is iterations × n × k work as Spark
    jobs — with k ∝ n that's quadratic, and it was the full-catalog
    sweep's one remaining >10× entry at 12.5×): centroids train
    driver-side with seeded numpy Lloyd on a bounded hash-ordered
    sample (``SEMANTIC_DEDUP_TRAIN_PER_CELL`` vectors per cell), then
    ONE broadcast + one map-only Arrow pass assigns the corpus. Above
    ``SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K`` cells BOTH the fit and the
    assign are TWO-LEVEL (r11: ``_two_level_fit`` — √k coarse centroids
    on the whole sample, each group's fine share on its own members;
    flat Lloyd at k ∝ n with a k-proportional sample is train_n × k ∝
    n² on one driver core, measured 13.4× wall for 10× data at the
    sf1→sf10 decade). Each vector then argmins over √k coarse plus ~√k
    fine members, so per-vector assign cost grows as √k, not k — the
    same coarse-quantizer shape FAISS IVF uses, and it is the path the
    sf1 sweep actually executes (k=80 there).

    Returns the surviving rows of ``corpus`` (original schema).
    """
    import numpy as np

    c = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    if n_cells is None:
        n = corpus.count()
        n_cells = max(16, -(-n // SEMANTIC_DEDUP_CELL_TARGET))

    # --- train: bounded deterministic sample -> numpy Lloyd
    train_n = max(4096, SEMANTIC_DEDUP_TRAIN_PER_CELL * n_cells)
    sample = (
        c.select("vec", F.xxhash64(F.col("vid")).alias("h"))
        .orderBy("h")
        .limit(train_n)
        .collect()
    )
    X = np.array([list(r.vec) for r in sample], dtype=np.float64)
    rng = np.random.default_rng(seed)
    # --- large k: the TWO-LEVEL fit (r11) — fit √k coarse on the whole
    # sample, then each group's share of fine centroids on its own
    # members. The flat fit re-clustered-for-assign shape was train_n×k
    # distance work on one driver core, and with both train_n and k ∝ n
    # that's quadratic (the sf1→sf10 decade measured it at 13.4× wall
    # for 10× data); two-level is ~2·train_n·√k and hands the assign
    # path its (coarse, members) structure directly.
    k_req = min(n_cells, len(X))
    two_level = k_req > SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K
    if two_level:
        cent, coarse, members = _two_level_fit(X, k_req, rng)
    else:
        cent = _lloyd_fit(X, k_req, rng)
        coarse, members = None, None
    k = len(cent)

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((cent, coarse, members))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        if len(vecs) == 0:
            return _pd.Series([], dtype="int32")
        C, S, groups = bc.value
        V = _np.stack([_np.asarray(v, dtype=_np.float64) for v in vecs])
        v_sq = (V * V).sum(1)[:, None]
        if S is None:
            d2 = v_sq - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
            out = d2.argmin(1)
        else:
            dc = v_sq - 2.0 * (V @ S.T) + (S * S).sum(1)[None, :]
            which = dc.argmin(1)
            out = _np.empty(len(V), dtype=_np.int64)
            for g, fine_idx in enumerate(groups):
                mask = which == g
                if not mask.any():
                    continue
                Cf = C[fine_idx]
                df_ = (
                    v_sq[mask]
                    - 2.0 * (V[mask] @ Cf.T)
                    + (Cf * Cf).sum(1)[None, :]
                )
                out[mask] = fine_idx[df_.argmin(1)]
        return _pd.Series(out.astype("int32"))

    # Per-cell pair join. Three shapes that matter once cells carry real
    # populations (all measured in the sf1 sweep follow-up):
    # - norms once per ROW, not per pair — cosine() would re-run the
    #   |a|·|b| HOF aggregates 2× per pair (3× total HOF work);
    # - explicit-N repartition on cell: the pre-join shuffle is tiny in
    #   BYTES (vectors), so AQE coalesces it to 1-2 tasks while the join
    #   OUTPUT is quadratic per cell — an explicit repartition pins the
    #   parallelism and both join sides reuse the one distribution;
    # - the UDF assign pass inherits the scan's splits; a single-row-
    #   group parquet would pin it to 1 task, so fan out first (no-op
    #   when the scan is already split — the 100 TB case).
    from ..session import fan_out

    par = spark.sparkContext.defaultParallelism
    assigned = (
        fan_out(c)
        .select("vid", "vec", _assign(F.col("vec")).alias("cell"))
        .withColumn("nrm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))
        .repartition(par, "cell")
    )
    a = assigned.select(
        "cell", F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        "cell", F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("nrm_a") * F.col("nrm_b") > 0)  # zero-norm: cosine is
            # undefined (NaN under the division form) — never a dup
            & (
                _dot(F.col("vec_a"), F.col("vec_b"))
                >= F.lit(threshold) * F.col("nrm_a") * F.col("nrm_b")
            )
        )
        .select(F.col("id_b").alias("_drop_id"))
        .distinct()
    )
    return corpus.join(
        drops, corpus[id_col] == drops._drop_id, "left_anti"
    )


def random_projection(
    vectors: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dense Rademacher matrix
    (entries ±1/sqrt(out_dim), Achlioptas 2003 — distance-preserving in
    expectation with the same guarantee as Gaussian entries), applied as
    a pure column expression. The projection matrix is generated
    DETERMINISTICALLY from (seed, i, j) via xxhash64 sign bits and inlined
    into the plan as literals — no broadcast variable, no Python worker,
    and any executor regenerates the identical plan on retry.

    Scale: map-only (zero shuffle); the matrix is out_dim x in_dim
    literals (~1k for 64->16), far below plan-size concerns. Use ahead
    of the pair-join ops (semantic_dedup, ann buckets): candidate
    generation in the projected space reads out_dim/in_dim of the
    vector bytes, with re-check in the original space.

    A vector whose length differs from ``in_dim`` fails loudly
    (ANSI-style raise_error in the plan) instead of the silent NULL
    projection zip_with's null-padding would otherwise produce.

    Dual use: numpy-parity and pairwise-distance-preservation are
    pytest-pinned (tests/test_operators.py)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    # Rademacher ±1/sqrt(k): sign from a seeded generator, materialized
    # once driver-side; identical across runs for a given seed.
    signs = rng.integers(0, 2, size=(out_dim, in_dim)) * 2 - 1
    scale = 1.0 / float(np.sqrt(out_dim))
    # shape gate: zip_with null-pads the shorter side, so a mismatched
    # vector would silently project to NULLs — fail per-row instead
    v = F.when(
        F.size(F.col(vec_col)) == in_dim, F.col(vec_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"random_projection: expected {in_dim}-dim vector, got "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    comps = [
        F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(s) * scale) for s in signs[j]]),
                lambda x, r: x.cast("double") * r,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("float")
        for j in range(out_dim)
    ]
    return vectors.select(
        F.col(id_col), F.array(*comps).alias("projected")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit the IVF coarse quantizer ONCE and freeze it: returns the tiny
    (cell, centroid) table that incremental ingest assigns against. At
    corpus scale the fit runs on a sample (KMeans cost ∝ rows × cells ×
    iters); the frozen centroids are what make ingest append-only — new
    vectors never trigger a re-cluster, they just land in the nearest
    existing cell (the FAISS IVF add() contract)."""
    from pyspark.ml.clustering import KMeans

    c = corpus.withColumn(
        "_vec", array_to_vector(F.transform(F.col(vec_col), lambda v: v.cast("double")))
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="_vec", predictionCol="cell").fit(c)
    cents = [
        (int(i), [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(cents, "cell int, centroid array<double>")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest frozen centroid — the map-only
    index-append path (same shape as ml.nearest_centroid predict: the
    centroid table collapses to ONE broadcastable row of literals and the
    argmin is a pure column expression, so a 100 TB ingest stream is
    assigned with ZERO shuffle and no Python). Ties break to the lower
    cell id. Returns (cell, id, vec) rows ready to append to a
    cell-partitioned index."""
    cents = sorted(
        ((int(r["cell"]), [float(x) for x in r["centroid"]]) for r in centroids.collect())
    )
    v = F.col(vec_col)

    def dist2(ctr: list[float]):
        return F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(c) for c in ctr]),
                lambda x, c_: (x.cast("double") - c_) * (x.cast("double") - c_),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    # argmin via least-of-structs: (dist, cell) lexicographic min
    best = F.least(
        *[F.struct(dist2(ctr).alias("d"), F.lit(cell).alias("c")) for cell, ctr in cents]
    )
    return vectors.select(
        best["c"].alias("cell"), F.col(id_col), F.col(vec_col)
    )


def ivf_search_index(
    queries: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted (incrementally-built) IVF index WITHOUT any
    fitting: per query rank the frozen centroids, probe the ``n_probe``
    nearest cells, exact-rerank within them. With the index stored
    partitioned by cell, the probe join prunes to n_probe/n_cells of the
    files — the read-side payoff of the append-only layout."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    qc = q.join(F.broadcast(centroids)).select(
        "query_id",
        "q_vec",
        "cell",
        F.aggregate(
            F.zip_with(
                F.col("q_vec"),
                F.col("centroid"),
                lambda x, c_: (x.cast("double") - c_) * (x.cast("double") - c_),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ).alias("cell_dist"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("cell_dist").asc(), F.col("cell").asc())
    probes = qc.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= n_probe)
    idx = index.select(
        "cell", F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    cand = probes.select("query_id", "q_vec", "cell").join(idx, "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = cand.select(
        "query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    ).dropDuplicates(["query_id", "cand_id"])
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)

"""Property tests for non-SQL-expressible operators (SURVEY §5.2):
LSH recall vs exact oracle, dedup idempotence/correctness, SimHash
determinism, multimodal decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlb_win_predictor_spark.operators.dedup import (
    exact_dedup,
    minhash_banded_pairs,
    minhash_neardup_pairs,
    simhash_buckets,
)
from mlb_win_predictor_spark.operators.multimodal import to_media_column
from mlb_win_predictor_spark.operators.similarity import ann_topk_lsh, exact_topk_cosine
from mlb_win_predictor_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_exact_dedup_idempotent(spark, docs):
    with_dups = docs.unionByName(docs.limit(50)).unionByName(docs.limit(10))
    once = exact_dedup(with_dups, ["text"], "doc_id")
    twice = exact_dedup(once, ["text"], "doc_id")
    assert once.count() == docs.select("text").distinct().count()
    assert twice.count() == once.count()
    assert once.exceptAll(twice).count() == 0


def test_minhash_finds_planted_near_dups(spark, docs):
    # plant near-duplicates: copy of doc with one word changed
    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(clones)
    pairs = minhash_neardup_pairs(
        corpus, jaccard_dist_threshold=0.5, num_hash_tables=8
    )
    found = {
        (r.id_a, r.id_b)
        for r in pairs.collect()
    }
    planted = {(i, i + 100000) for i in range(20)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall} (found {len(found)} pairs)"


def test_stratified_sample_proportions(spark):
    from mlb_win_predictor_spark.functions.scalars import md5_int32
    from mlb_win_predictor_spark.queries.ml import (
        SAMPLE_FRACTIONS,
        STRATIFIED_SALT,
        _strat_thresholds,
        stratified_sample,
    )

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = {r.lang: r.n_sampled for r in stratified_sample(spark, "/root/testdata/sf0.01").collect()}
    for lang, frac in SAMPLE_FRACTIONS.items():
        got = sampled.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.2, f"{lang}: got {got:.2f}, want ~{frac}"
    # the r12 point of the hash gate: the kept SET (not just its size) is
    # a pure function of the row — identical under ANY input partitioning
    th = _strat_thresholds()
    gate = F.create_map(
        *[x for lang, t in sorted(th.items()) for x in (F.lit(lang), F.lit(t))]
    )
    u = md5_int32(F.concat(F.lit(STRATIFIED_SALT), F.col("doc_id").cast("string")))
    keep = u < F.coalesce(gate[F.col("lang")], F.lit(0))
    ids_1part = sorted(r.doc_id for r in d.coalesce(1).filter(keep).select("doc_id").collect())
    ids_7part = sorted(r.doc_id for r in d.repartition(7).filter(keep).select("doc_id").collect())
    assert ids_1part == ids_7part and len(ids_1part) > 0
    # the MLlib sampleBy surface stays covered as a primitive: seeded
    # per-stratum Bernoulli lands in the same proportions band (its kept
    # set is partition-dependent — exactly why the entry moved off it)
    by = d.sampleBy("lang", SAMPLE_FRACTIONS, seed=42)
    got_by = {r.lang: r.n for r in by.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, frac in SAMPLE_FRACTIONS.items():
        got = got_by.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.2, f"sampleBy {lang}: got {got:.2f}, want ~{frac}"


def test_minhash_banded_finds_planted_near_dups(spark, docs):
    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(clones)
    pairs = minhash_banded_pairs(corpus, jaccard_threshold=0.5)
    rows = pairs.collect()
    found = {(r.id_a, r.id_b) for r in rows}
    planted = {(i, i + 100000) for i in range(20)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"banded minhash recall {recall} ({len(found)} pairs)"
    # exactness: every emitted pair passed the exact-Jaccard re-check
    assert all(r.jaccard >= 0.5 for r in rows)


def test_minhash_banded_md5_family_recall(spark, docs):
    """Planted-recall gate for the PORTABLE md5 + affine-permutation
    family — the one the oracle catalog entries actually execute. The
    xxhash64 test above does not cover it, and the affine family's
    inter-permutation independence is a real risk (r12: the original
    near-consecutive a_i constants were a strongly correlated family;
    minhash_perm_consts now spreads them multiplicatively and THIS test
    gates the result)."""
    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(clones)
    pairs = minhash_banded_pairs(corpus, jaccard_threshold=0.5, hash_family="md5")
    rows = pairs.collect()
    found = {(r.id_a, r.id_b) for r in rows}
    planted = {(i, i + 100000) for i in range(20)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"md5-family recall {recall} ({len(found)} pairs)"
    assert all(r.jaccard >= 0.5 for r in rows)
    # the permutation slopes must be pairwise distinct and well-spread —
    # a regression guard on the constant formula itself
    from mlb_win_predictor_spark.operators.dedup import (
        MINHASH_P,
        minhash_perm_consts,
    )

    for seed in (42, 0, 1, 123456789):  # seed=0 is the degeneracy trap
        consts = minhash_perm_consts(32, seed)
        slopes = [a for a, _ in consts]
        assert len(set(slopes)) == 32, f"seed {seed}: collapsed slopes"
        gaps = sorted(
            abs(x - y) for x, y in zip(sorted(slopes), sorted(slopes)[1:])
        )
        assert gaps[0] > 1000, f"seed {seed}: near-consecutive a_i (gap {gaps[0]})"
        assert all(0 < a < MINHASH_P for a in slopes)


def test_band_candidate_pairs_chunked_split_identical(spark, docs):
    """r13 skew split (r12 verdict #4): the chunked hot-bucket self-join
    must emit EXACTLY the naive join's candidate set. Forcing
    band_split=1 routes EVERY bucket — including a planted 30-doc
    identical cluster whose buckets are maximally hot — through the
    chunked (rank/explode) path; band_split=10 exercises the mixed
    cold+hot case; the default (1024) keeps everything cold. All three
    must agree pair-for-pair."""
    from mlb_win_predictor_spark.operators.dedup import (
        _hashed_shingles,
        band_candidate_pairs,
    )

    base = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    one = base.filter(F.col("doc_id") == 0).select("text")
    cluster = (
        base.filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 200000).alias("doc_id"))
        .crossJoin(one)
    )
    corpus = base.unionByName(cluster.select("doc_id", "text"))
    sh = _hashed_shingles(corpus, "doc_id", "text", 3, "xxhash64")

    def pairs_at(split: int | None) -> set:
        got = band_candidate_pairs(sh, band_split=split)
        return {(r.id_a, r.id_b) for r in got.collect()}

    naive = pairs_at(None)  # the default plain self-join
    assert naive == pairs_at(10**9), "all-cold split path diverged"
    assert naive == pairs_at(1), "all-hot chunked path diverged"
    assert naive == pairs_at(10), "mixed cold/hot path diverged"
    # the planted cluster must actually be in the candidate set (the
    # test would be vacuous if banding missed it)
    assert (200000, 200001) in naive


def test_minhash_banded_pairs_match_exact_jaccard(spark, docs):
    """Banded candidates that survive the re-check must agree with the
    exact pairwise-join Jaccard (operator-vs-oracle, bounded set)."""
    sub = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    dup = sub.unionByName(
        sub.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 500).alias("doc_id"), "text"
        )
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_banded_pairs(dup, jaccard_threshold=0.99).collect()
    }
    exact_expected = {(i, i + 500) for i in range(10)}
    assert exact_expected <= set(got), "exact duplicates must always collide"
    assert all(abs(v - 1.0) < 1e-9 for k, v in got.items() if k in exact_expected)


def test_containment_banded_recall_vs_exact(spark, docs, tmp_path):
    """r4 verdict item #3: the uncapped scale path (banded MinHash +
    bottom-k sketch candidates -> exact containment re-check) must find
    >=90% of the >=-threshold pairs the exact capped entry finds on the
    same domain — including planted quote-inside-long-doc pairs whose
    Jaccard is far below any banding threshold (the case symmetric
    MinHash alone structurally misses), and agree on the containment
    values for every pair both paths emit."""
    import pandas as pd

    from mlb_win_predictor_spark.queries.text import (
        ngram_containment_banded,
        ngram_containment_pairs,
    )

    base = docs.toPandas()
    rows = []
    for p in range(10):
        long_text = " ".join(f"p{p}w{i}" for i in range(60))
        quote = " ".join(f"p{p}w{i}" for i in range(20, 32))  # 12-token excerpt
        rows.append((100 + 2 * p, long_text))
        rows.append((101 + 2 * p, quote))
    planted = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["t"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    corpus = pd.concat([base[base.doc_id < 100], planted])
    corpus.to_parquet(str(tmp_path / "documents.parquet"), index=False)

    exact = {
        (r.doc_a, r.doc_b): (r.containment_a_in_b, r.containment_b_in_a)
        for r in ngram_containment_pairs(spark, str(tmp_path)).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): (r.containment_a_in_b, r.containment_b_in_a)
        for r in ngram_containment_banded(spark, str(tmp_path)).collect()
    }
    planted_pairs = {(100 + 2 * p, 101 + 2 * p) for p in range(10)}
    assert planted_pairs <= set(exact), "exact entry must see every planted pair"
    planted_recall = len(planted_pairs & set(banded)) / len(planted_pairs)
    assert planted_recall >= 0.9, f"planted containment recall {planted_recall}"
    overall_recall = len(set(exact) & set(banded)) / len(exact)
    assert overall_recall >= 0.9, f"recall vs exact {overall_recall}"
    # precision is exact: values agree wherever both paths emit the pair
    # (exact entry rounds 6dp; banded is unrounded)
    for k in set(exact) & set(banded):
        assert abs(exact[k][0] - banded[k][0]) < 1e-6, k
        assert abs(exact[k][1] - banded[k][1]) < 1e-6, k


def test_banded_vs_mllib_recall_crosscheck(spark, docs):
    """The catalog's dedup_minhash_lsh entry runs the NATIVE banded path
    (r7 re-route — the MLlib approxSimilarityJoin explodes a row per
    hash table and scaled 7.08× at 10× data); this pins that the banded
    collision set recovers ≥0.9 of what the retained MLlib operator
    finds on planted near-dups, so the re-route loses no recall."""
    from mlb_win_predictor_spark.operators.dedup import minhash_banded_pairs

    base = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(clones)
    mllib = {
        (r.id_a, r.id_b)
        for r in minhash_neardup_pairs(
            corpus, jaccard_dist_threshold=0.5, num_hash_tables=8
        ).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in minhash_banded_pairs(corpus, jaccard_threshold=0.5).collect()
    }
    if mllib:
        recall = len(banded & mllib) / len(mllib)
        assert recall >= 0.9, f"banded recovers {recall:.2f} of MLlib pairs"
    planted = {(i, i + 100000) for i in range(20)}
    assert len(banded & planted) / len(planted) >= 0.9


def test_minhash_deterministic(spark, docs):
    p1 = minhash_neardup_pairs(docs.limit(100), jaccard_dist_threshold=0.95).collect()
    p2 = minhash_neardup_pairs(docs.limit(100), jaccard_dist_threshold=0.95).collect()
    assert sorted(map(str, p1)) == sorted(map(str, p2))


def test_simhash_near_dup_share_fingerprint(spark, docs):
    base = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    clones = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    sh = simhash_buckets(base.unionByName(clones))
    rows = {r.doc_id: (r.simhash, r.band) for r in sh.collect()}
    # hamming distance between a doc and its 1-token-appended clone is small
    close = 0
    for i in range(30):
        a, b = rows[i][0], rows[i + 100000][0]
        ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        close += ham <= 8
    assert close >= 24, f"only {close}/30 clones within hamming 8"


def test_ann_lsh_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    k = 10
    exact = exact_topk_cosine(queries, corpus, k=k)
    approx = ann_topk_lsh(queries, corpus, k=k, num_hash_tables=6, bucket_length=4.0)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"ANN recall {recall}"


def test_multimodal_roundtrip(spark, docs):
    media = to_media_column(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    # payload bytes faithfully carry the source text
    back = media.select(
        F.decode(F.col("payload"), "UTF-8").alias("text2"), "doc_id"
    ).join(docs, "doc_id")
    assert back.filter(F.col("text2") != F.col("text")).count() == 0


def test_png_roundtrip_exact_all_filters_all_channels():
    """REAL codec (r5 verdict item #4): encode→decode must be pixel-exact
    for every supported channel count and every PNG filter type, and the
    filter choice must actually change the encoded bytes (i.e. the
    filters aren't silently all type-0)."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(11, 7, c), dtype=np.uint8)
        encodings = set()
        for filters in [(0,), (1,), (2,), (3,), (4,), tuple(range(5))]:
            blob = png_encode(px, filters=filters)
            encodings.add(blob)
            w, h, cc, out = png_decode(blob)
            assert (w, h, cc) == (7, 11, c)
            assert np.array_equal(out, px), (c, filters)
        assert len(encodings) == 6, f"filters collapsed for c={c}"


def test_png_decode_matches_independent_spec_unfilter():
    """Guard against a shared inverse-pair bug (encoder and decoder both
    wrong the same way would still round-trip): unfilter the encoder's
    raw scanlines with a LITERAL per-byte transcription of PNG spec §9
    (Recon(x) = Filt(x) + predictor, scalar loop, no numpy tricks) and
    require the package decoder to agree byte-for-byte."""
    import struct
    import zlib

    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(9, 5, 3), dtype=np.uint8)
    blob = png_encode(px, filters=range(5))
    # pull IDAT straight out of the container
    pos, idat = 8, b""
    while pos + 12 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    h, w, bpp = 9, 5, 3
    stride = w * bpp
    recon = bytearray(h * stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        for x in range(stride):
            a = recon[y * stride + x - bpp] if x >= bpp else 0
            b = recon[(y - 1) * stride + x] if y > 0 else 0
            cval = recon[(y - 1) * stride + x - bpp] if (y > 0 and x >= bpp) else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            elif ft == 4:
                p = a + b - cval
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cval)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cval)
            recon[y * stride + x] = (line[x] + pred) % 256
    spec_pixels = np.frombuffer(bytes(recon), np.uint8).reshape(h, w, bpp)
    _, _, _, pkg_pixels = png_decode(blob)
    assert np.array_equal(pkg_pixels, spec_pixels)
    assert np.array_equal(pkg_pixels, px)


def test_png_decode_rejects_corruption_and_gates_unsupported():
    """CRC corruption must raise (not decode garbage); a truncated Adam7
    stream and an illegal depth/color combination are ValueErrors."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    blob = bytearray(png_encode(px))
    blob[50] ^= 0xFF  # flip a byte inside IDAT (past the 33-byte header)
    with _pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(blob))
    with _pytest.raises(ValueError, match="signature"):
        png_decode(b"GIF89a not a png")
    sig = b"\x89PNG\r\n\x1a\n"
    chunk = lambda t, d: (  # noqa: E731
        struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )
    # truncated interlaced stream: a 2x2 RGB Adam7 needs 15 raw bytes
    # (passes 1/6/7 = 4+4+7); 14 must fail the per-pass length check
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    adam7 = sig + chunk(b"IHDR", ihdr_i) + chunk(b"IDAT", zlib.compress(b"\x00" * 14)) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="IDAT length"):
        png_decode(adam7)
    # illegal combination (2-bit RGB does not exist in the spec)
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 2, 2, 0, 0, 0)
    bad = sig + chunk(b"IHDR", ihdr_bad) + chunk(b"IDAT", zlib.compress(b"\x00" * 4)) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="illegal"):
        png_decode(bad)
    # indexed-color without PLTE is a hard error
    ihdr_p = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    nop = sig + chunk(b"IHDR", ihdr_p) + chunk(b"IDAT", zlib.compress(b"\x00" * 6)) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="PLTE"):
        png_decode(nop)


def test_png_adam7_interlace_roundtrip_and_spec_literal():
    """Adam7 interlace (r8, the last PNG scope gate closed): encode→decode
    round-trips exactly for odd/even dims across all five filters at 8-
    and 16-bit (each pass filtered independently; empty passes at small
    dims contribute no bytes), interlaced output equals the
    non-interlaced decode of the same pixels, and a hand-built 2-bit
    grayscale interlaced spec vector (per-pass bit-packed scanlines)
    decodes to the exact §8.2 pixel placement."""
    import struct
    import zlib

    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.default_rng(13)
    for shape in ((1, 1), (2, 2, 3), (3, 5), (7, 11, 4), (9, 8, 3), (16, 16)):
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        w, h, c, out = png_decode(png_encode(px, filters=range(5), interlace=True))
        assert (h, w) == shape[:2]
        assert np.array_equal(out.reshape(px.shape), px), shape
        w2, h2, c2, plain = png_decode(png_encode(px, filters=range(5)))
        assert np.array_equal(out, plain)
    px16 = rng.integers(0, 65536, (6, 7, 3), dtype=np.uint16)
    _, _, _, out16 = png_decode(png_encode(px16, filters=range(5), interlace=True))
    assert out16.dtype == np.uint16 and np.array_equal(out16, px16)
    # spec literal: 4x4 2-bit grayscale, v[y][x] = x; Adam7 packs it as
    # passes 1,4,5,6,7 (2,3 empty at 4x4) with per-pass byte padding
    sig = b"\x89PNG\r\n\x1a\n"
    chunk = lambda t, d: (  # noqa: E731
        struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )
    raw = bytes(
        [0, 0x00]          # pass 1: pixel (0,0) = 0
        + [0, 0x80]        # pass 4: pixel (2,0) = 2
        + [0, 0x20]        # pass 5: pixels (0,2),(2,2) = 0,2
        + [0, 0x70, 0, 0x70]  # pass 6: x in {1,3}, y in {0,2} = 1,3
        + [0, 0x1B, 0, 0x1B]  # pass 7: full rows y=1,3 = 0,1,2,3
    )
    ihdr = struct.pack(">IIBBBBB", 4, 4, 2, 0, 0, 0, 1)
    blob = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    w, h, c, out = png_decode(blob)
    assert (w, h, c) == (4, 4, 1)
    assert out.reshape(4, 4).tolist() == [[0, 85, 170, 255]] * 4


def test_png_16bit_roundtrip_and_spec_literal():
    """16-bit depth (r7 verdict #4): encode→decode round-trips uint16
    samples exactly for gray and RGB across all five filters, and a
    hand-built spec-literal image (big-endian samples per §7.1, filter 0)
    decodes to the exact expected values at full precision."""
    import struct
    import zlib

    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.default_rng(5)
    for shape, c_exp in (((7, 5), 1), ((6, 4, 3), 3), ((5, 3, 4), 4)):
        px = rng.integers(0, 65536, shape, dtype=np.uint16)
        w, h, c, out = png_decode(png_encode(px, filters=range(5)))
        assert (w, h, c) == (shape[1], shape[0], c_exp)
        assert out.dtype == np.uint16
        assert np.array_equal(out.reshape(px.shape), px)
    # spec literal: 2x2 16-bit grayscale, samples 0x0102 0x0304 / 0xFFFE 0x8000
    sig = b"\x89PNG\r\n\x1a\n"
    chunk = lambda t, d: (  # noqa: E731
        struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )
    raw = b"\x00" + b"\x01\x02\x03\x04" + b"\x00" + b"\xff\xfe\x80\x00"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    blob = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    w, h, c, out = png_decode(blob)
    assert (w, h, c) == (2, 2, 1)
    assert out.reshape(2, 2).tolist() == [[0x0102, 0x0304], [0xFFFE, 0x8000]]


def test_png_palette_roundtrip_trns_and_spec_literal():
    """Indexed-color PNG (r7 verdict #4 — the most common real-corpus
    class the codec used to reject): palette round-trips exactly at every
    legal bit depth (1/2/4/8, scanlines bit-packed per §7.2 with pixel 0
    in the high bits), tRNS produces RGBA with missing entries opaque
    (§11.3.2), an out-of-palette index raises, and a hand-built
    spec-literal 1-bit image decodes to the exact PLTE colors. Sub-byte
    GRAYSCALE is scaled by exactly 255/(2^d−1)."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import (
        png_decode,
        png_encode_palette,
    )

    rng = np.random.default_rng(9)
    for depth, n_colors in ((1, 2), (2, 4), (4, 16), (8, 200)):
        colors = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        # w=9 deliberately not divisible by pixels-per-byte: exercises padding
        idx = rng.integers(0, n_colors, (6, 9))
        px = colors[idx]
        w, h, c, out = png_decode(png_encode_palette(px, depth=depth))
        assert (w, h, c) == (9, 6, 3)
        assert np.array_equal(out, px), f"depth {depth} mismatch"
    # tRNS: alpha table shorter than the palette -> missing entries opaque
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
    )
    blob = png_encode_palette(px, trns=[7])  # palette sorts colors; entry 0 gets 7
    w, h, c, out = png_decode(blob)
    assert (w, h, c) == (2, 2, 4)
    assert np.array_equal(out[:, :, :3], px)
    alphas = set(out[:, :, 3].reshape(-1).tolist())
    assert alphas == {7, 255}
    # spec literal: 1-bit indexed 2x2, packed rows 0b10...(pad) 0b01...
    sig = b"\x89PNG\r\n\x1a\n"
    chunk = lambda t, d: (  # noqa: E731
        struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )
    plte = bytes([10, 20, 30, 200, 210, 220])
    raw = b"\x00" + bytes([0b10000000]) + b"\x00" + bytes([0b01000000])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 1, 3, 0, 0, 0)
    blob = (
        sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, c, out = png_decode(blob)
    assert (w, h, c) == (2, 2, 3)
    assert out.tolist() == [
        [[200, 210, 220], [10, 20, 30]],
        [[10, 20, 30], [200, 210, 220]],
    ]
    # out-of-palette index must raise, not wrap
    raw_bad = b"\x00" + bytes([3, 9]) + b"\x00" + bytes([0, 1])
    ihdr8 = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    blob_bad = (
        sig + chunk(b"IHDR", ihdr8) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw_bad)) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="palette index"):
        png_decode(blob_bad)
    # sub-byte grayscale: 2-bit samples scale by exactly 85
    raw_g = b"\x00" + bytes([0b00_01_10_11]) + b"\x00" + bytes([0b11_10_01_00])
    ihdr_g = struct.pack(">IIBBBBB", 4, 2, 2, 0, 0, 0, 0)
    blob_g = sig + chunk(b"IHDR", ihdr_g) + chunk(b"IDAT", zlib.compress(raw_g)) + chunk(b"IEND", b"")
    w, h, c, out = png_decode(blob_g)
    assert (w, h, c) == (4, 2, 1)
    assert out.reshape(2, 4).tolist() == [[0, 85, 170, 255], [255, 170, 85, 0]]


def test_png_palette_explicit_order_pins_trns_alignment(spark, tmp_path):
    """r12 review regression: variant-3 PNG docs pair a POSITIONAL tRNS
    table with a fixed color↔alpha map, so the encoder must emit the
    caller's palette order even when an image omits palette entries —
    ``np.unique``-derived PLTE order silently re-assigns alphas (or
    crashes when tRNS outgrows the compacted palette). Part 1 pins the
    encoder semantics directly; part 2 runs the ``multimodal_decode_png``
    entry against its analytic DuckDB dual on a crafted corpus whose
    every variant-3 doc hits a residue subset that used to misalign
    ({0,1,3}, {1,3}) or collapse to one color ({0})."""
    import duckdb
    import numpy as np
    import pandas as pd

    from mlb_win_predictor_spark.operators.multimodal import (
        png_decode,
        png_encode_palette,
    )

    colors = np.array(
        [[0, 0, 0], [80, 90, 100], [160, 10, 20], [240, 250, 5]], dtype=np.uint8
    )
    # image uses palette rows {0, 1, 3} — row 2 absent
    px = colors[np.array([[0, 1], [3, 1]])]
    w, h, c, out = png_decode(
        png_encode_palette(px, trns=[0, 255, 128], palette=colors)
    )
    assert (w, h, c) == (2, 2, 4)
    assert np.array_equal(out[:, :, :3], px)
    # alpha follows the EXPLICIT palette position: row 3 is beyond the
    # 3-entry tRNS table -> opaque per §11.3.2
    assert out[:, :, 3].tolist() == [[0, 255], [255, 255]]
    # without the explicit palette, np.unique compacts {0,1,3}->{0,1,2}
    # and row 3 inherits absent row 2's alpha 128 — the documented bug
    _, _, _, out_u = png_decode(png_encode_palette(px, trns=[0, 255, 128]))
    assert out_u[1, 0, 3] == 128
    # <3 distinct colors used to CRASH (tRNS longer than compacted PLTE)
    px2 = colors[np.array([[1, 3], [3, 1]])]
    _, _, _, out2 = png_decode(
        png_encode_palette(px2, trns=[0, 255, 128], palette=colors)
    )
    assert np.array_equal(out2[:, :, :3], px2)
    assert set(out2[:, :, 3].reshape(-1).tolist()) == {255}

    # part 2: entry vs analytic dual on the adversarial corpus (doc_id
    # % 5 == 3 -> variant 3; texts chosen for the residue subsets above)
    from mlb_win_predictor_spark.queries.multimodal import (
        DECODE_PNG_SQL,
        multimodal_decode_png,
    )
    from tests.oracle import compare

    rows = [
        (3, "a cat"),  # byte%4 residues {0, 1, 3}
        (8, "gag"),  # residues {1, 3}
        (13, "dd"),  # residue {0} — a single palette color
        (18, "the quick brown fox"),  # control: all four residues
        (0, "gray doc"),
        (1, "rgb doc"),
        (2, "indexed doc"),
        (4, "sixteen bit doc"),
    ]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    compare(multimodal_decode_png(spark, str(tmp_path)), con, DECODE_PNG_SQL)


def test_png_trns_transparency_key_gray_rgb():
    """§11.3.2 transparency KEY on non-indexed images: a tRNS chunk on
    grayscale (one 2-byte sample) or truecolor (three 2-byte samples)
    appends an alpha channel — key-matching pixels alpha 0, everything
    else opaque — at sub-byte, 8- and 16-bit depths; tRNS on the
    already-alpha color types is rejected per spec (r8 ADVICE: gray/RGB
    key files previously decoded silently WITHOUT alpha)."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import png_decode, png_encode

    def with_trns(blob: bytes, data: bytes) -> bytes:
        out, pos = bytearray(blob[:8]), 8
        while pos < len(blob):
            (length,) = struct.unpack(">I", blob[pos : pos + 4])
            out += blob[pos : pos + 12 + length]
            if blob[pos + 4 : pos + 8] == b"IHDR":
                out += struct.pack(">I", len(data)) + b"tRNS" + data
                out += struct.pack(">I", zlib.crc32(b"tRNS" + data) & 0xFFFFFFFF)
            pos += 12 + length
        return bytes(out)

    gray = np.array([[0, 7, 255], [7, 7, 9]], dtype=np.uint8)
    w, h, c, out = png_decode(with_trns(png_encode(gray), struct.pack(">H", 7)))
    assert (w, h, c) == (3, 2, 2)
    assert np.array_equal(out[:, :, 0], gray)
    assert out[:, :, 1].tolist() == [[255, 0, 255], [0, 0, 255]]

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 1] = (1, 2, 3)
    rgb[1, 1] = (1, 2, 4)  # partial channel match must stay opaque
    w, h, c, out = png_decode(with_trns(png_encode(rgb), struct.pack(">HHH", 1, 2, 3)))
    assert (w, h, c) == (2, 2, 4)
    assert out[:, :, 3].tolist() == [[255, 0], [255, 255]]

    g16 = np.array([[300, 65000]], dtype=np.uint16)
    w, h, c, out = png_decode(with_trns(png_encode(g16), struct.pack(">H", 300)))
    assert (w, h, c) == (2, 1, 2)
    assert out.dtype == np.uint16
    assert out[0, :, 1].tolist() == [0, 65535]

    # sub-byte gray: the key compares against the RAW (pre-scaling) sample
    sig = bytes.fromhex("89504e470d0a1a0a")

    def chunk(t: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    raw_g = b"\x00" + bytes([0b00_01_10_11])
    ihdr_g = struct.pack(">IIBBBBB", 4, 1, 2, 0, 0, 0, 0)
    blob_g = (
        sig + chunk(b"IHDR", ihdr_g) + chunk(b"tRNS", struct.pack(">H", 2))
        + chunk(b"IDAT", zlib.compress(raw_g)) + chunk(b"IEND", b"")
    )
    w, h, c, out = png_decode(blob_g)
    assert (w, h, c) == (4, 1, 2)
    assert out[0, :, 0].tolist() == [0, 85, 170, 255]
    assert out[0, :, 1].tolist() == [255, 255, 0, 255]

    # spec: tRNS forbidden on color types that already carry alpha
    rgba = np.zeros((1, 1, 4), dtype=np.uint8)
    with _pytest.raises(ValueError, match="forbidden"):
        png_decode(with_trns(png_encode(rgba), struct.pack(">HHH", 0, 0, 0)))
    # malformed key lengths fail loudly
    with _pytest.raises(ValueError, match="2 bytes"):
        png_decode(with_trns(png_encode(gray), b"\x00\x07\x00"))
    with _pytest.raises(ValueError, match="6 bytes"):
        png_decode(with_trns(png_encode(rgb), struct.pack(">H", 1)))


def test_png_fixtures_through_binary_files_source(spark, tmp_path):
    """The real-bytes ingestion path: PNG files written to disk, read
    back through the binaryFile source, decoded by the real codec —
    width/height/channels/pixel-mean must match the generator's known
    values exactly."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        decode_png_media,
        png_encode,
    )
    from mlb_win_predictor_spark.sources import read_binary_files

    rng = np.random.default_rng(3)
    expected = {}
    for i in range(6):
        w, h, c = 3 + i, 5 + i, (1, 3, 4)[i % 3]
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        (tmp_path / f"img{i}.png").write_bytes(png_encode(px, filters=range(5)))
        expected[i] = (w, h, c, float(px.mean()))
    files = read_binary_files(spark, str(tmp_path), glob="*.png")
    media = files.select(
        F.regexp_extract("path", r"img(\d+)\.png", 1).cast("long").alias("doc_id"),
        F.lit("image/png").alias("mime"),
        F.col("content").alias("payload"),
    )
    rows = {r.doc_id: r for r in decode_png_media(media).collect()}
    assert len(rows) == 6
    for i, (w, h, c, mean) in expected.items():
        r = rows[i]
        assert (r.width, r.height, r.n_channels) == (w, h, c), i
        assert abs(r.mean_px - mean) < 1e-9, i


def test_wav_roundtrip_exact_and_gates():
    """REAL WAV codec: encode→decode sample-exact for mono/stereo at
    several rates; word-aligned unknown chunks are skipped per the RIFF
    spec; float-format and corrupt containers fail loudly."""
    import struct

    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import wav_decode, wav_encode

    rng = np.random.default_rng(5)
    for c, rate in [(1, 8000), (2, 16000), (1, 44100), (2, 44100)]:
        s = rng.integers(-32768, 32768, size=(37, c), dtype=np.int16)
        r2, c2, out = wav_decode(wav_encode(s, sample_rate=rate))
        assert (r2, c2) == (rate, c)
        assert np.array_equal(out, s)
    # odd-sized unknown chunk before data: must skip with pad byte
    s = rng.integers(-32768, 32768, size=(5, 1), dtype=np.int16)
    blob = wav_encode(s, sample_rate=8000)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 bytes + pad
    patched = blob[:12] + junk + blob[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    r2, c2, out = wav_decode(patched)
    assert np.array_equal(out, s) and r2 == 8000
    # IEEE-float format (code 3) gates, corrupt header raises
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 0)
    with _pytest.raises(NotImplementedError):
        wav_decode(b"RIFF" + struct.pack("<I", len(body)) + body)
    with _pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"OggS this is not a wav")
    with _pytest.raises(ValueError, match="truncated"):
        wav_decode(blob[:-3])


def test_wav_fixtures_through_binary_files_source(spark, tmp_path):
    """Real-bytes audio ingestion: WAV files on disk → binaryFile source
    → real decode; rate/channels/duration/RMS must match the generator
    exactly."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        decode_wav_media,
        wav_encode,
    )
    from mlb_win_predictor_spark.sources import read_binary_files

    rng = np.random.default_rng(9)
    expected = {}
    for i in range(4):
        c, rate, n = (1, 2)[i % 2], (8000, 44100)[i // 2], 50 + 7 * i
        s = rng.integers(-32768, 32768, size=(n, c), dtype=np.int16)
        (tmp_path / f"a{i}.wav").write_bytes(wav_encode(s, sample_rate=rate))
        expected[i] = (rate, c, n, float(np.sqrt(np.mean(s.astype(np.float64) ** 2))))
    files = read_binary_files(spark, str(tmp_path), glob="*.wav")
    media = files.select(
        F.regexp_extract("path", r"a(\d+)\.wav", 1).cast("long").alias("doc_id"),
        F.lit("audio/wav").alias("mime"),
        F.col("content").alias("payload"),
    )
    rows = {r.doc_id: r for r in decode_wav_media(media).collect()}
    assert len(rows) == 4
    for i, (rate, c, n, rms) in expected.items():
        r = rows[i]
        assert (r.sample_rate, r.n_channels, r.n_samples) == (rate, c, n), i
        assert abs(r.duration_s - n / rate) < 1e-12
        assert abs(r.rms - rms) < 1e-9, i


def test_audio_features_match_dsp_ground_truth(spark):
    """audio_features_media on pure tones: for a sine at f Hz (whole
    number of periods in the window so there's no spectral leakage),
    the peak frequency must be EXACTLY f's rfft bin, the spectral
    centroid within a bin of f, the zero-crossing rate ≈ 2f, and RMS
    = amplitude/√2. Also: non-WAV rows dropped, degenerate 1-sample
    clip yields zeroed spectral features (not NaN)."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        audio_features_media,
        wav_encode,
    )

    rate, n = 16000, 1600  # bin width = 10 Hz
    cases = {1: 200.0, 2: 1000.0, 3: 3000.0}  # all multiples of 10 Hz
    rows = []
    for doc_id, f in cases.items():
        t = np.arange(n) / rate
        sig = (np.sin(2 * np.pi * f * t) * 16000).astype(np.int16)
        rows.append((doc_id, "audio/wav", bytearray(wav_encode(sig, sample_rate=rate))))
    rows.append((4, "image/png", bytearray(b"notaudio")))  # dropped
    rows.append((5, "audio/wav", bytearray(wav_encode(np.array([7], dtype=np.int16), sample_rate=rate))))
    media = spark.createDataFrame(rows, "doc_id long, mime string, payload binary")
    out = {r.doc_id: r for r in audio_features_media(media).collect()}
    assert set(out) == {1, 2, 3, 5}, "non-WAV row must be dropped"
    for doc_id, f in cases.items():
        r = out[doc_id]
        assert r.peak_freq_hz == f, (doc_id, r.peak_freq_hz)
        assert abs(r.spectral_centroid_hz - f) < 10.0, (doc_id, r.spectral_centroid_hz)
        assert abs(r.zero_crossing_rate - 2 * f) < 25.0, (doc_id, r.zero_crossing_rate)
        assert abs(r.rms - 16000 / np.sqrt(2)) < 60.0, (doc_id, r.rms)
    deg = out[5]
    assert (deg.zero_crossing_rate, deg.spectral_centroid_hz, deg.peak_freq_hz) == (0.0, 0.0, 0.0)
    assert deg.n_samples == 1


def test_sniff_header_formats_and_totality():
    """Header sniffing: real PNG/WAV bytes and spec-crafted JPEG
    (baseline AND progressive, APP segments before SOF) / GIF headers
    classify with exact dims/rate; garbage and truncated headers return
    'unknown' or partial fields but NEVER raise (a sniff is total)."""
    import struct

    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        png_encode,
        sniff_header,
        wav_encode,
    )

    png = sniff_header(png_encode(np.zeros((5, 7, 3), dtype=np.uint8)))
    assert (png["detected"], png["width"], png["height"], png["n_channels"]) == (
        "png", 7, 5, 3,
    )
    wav = sniff_header(wav_encode(np.zeros((10, 2), dtype=np.int16), sample_rate=22050))
    assert (wav["detected"], wav["n_channels"], wav["sample_rate"]) == ("wav", 2, 22050)
    gif = sniff_header(b"GIF87a" + struct.pack("<HH", 640, 480) + b"\x00" * 5)
    assert (gif["detected"], gif["width"], gif["height"]) == ("gif", 640, 480)
    for sof_marker in (b"\xff\xc0", b"\xff\xc2"):  # baseline + progressive
        jpg = (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 8) + b"JFIF\x00\x00"  # APP0 first
            + b"\xff\xe1" + struct.pack(">H", 4) + b"ab"            # APP1 too
            + sof_marker + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 33, 44)
            + b"\x03"
            + b"\xff\xd9"
        )
        j = sniff_header(jpg)
        assert (j["detected"], j["width"], j["height"], j["n_channels"]) == (
            "jpeg", 44, 33, 3,
        )
    assert sniff_header(b"plain old text bytes")["detected"] == "unknown"
    assert sniff_header(b"")["detected"] == "unknown"
    # truncated mid-header: total, no raise
    assert sniff_header(b"\x89PNG\r\n\x1a\n\x00\x00")["detected"] == "unknown"
    assert sniff_header(b"RIFF\x10\x00\x00\x00WAVEfm")["detected"] == "unknown"


def test_sniff_media_routes_mixed_corpus(spark):
    """The mapInPandas sniff over a mixed binary column: every row
    classified, unknowns preserved (1:1 totality), dims exact."""
    import numpy as np
    import pandas as pd

    from mlb_win_predictor_spark.operators.multimodal import (
        png_encode,
        sniff_media,
        wav_encode,
    )

    rows = [
        (0, png_encode(np.zeros((4, 6, 1), dtype=np.uint8))),
        (1, wav_encode(np.zeros((8, 1), dtype=np.int16), sample_rate=8000)),
        (2, b"not media at all"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = {r.doc_id: r for r in sniff_media(df).collect()}
    assert len(out) == 3
    assert (out[0].detected, out[0].width, out[0].height) == ("png", 6, 4)
    assert (out[1].detected, out[1].sample_rate) == ("wav", 8000)
    assert out[2].detected == "unknown" and out[2].width is None


def test_ivf_assign_matches_numpy_nearest_centroid(spark, emb):
    """The literal-argmin assignment equals numpy's nearest centroid for
    every vector (exact, not approximate — same tie-break to lower cell)."""
    import numpy as np

    from mlb_win_predictor_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    cents = ivf_centroids(emb, n_cells=8, seed=42)
    C = np.zeros((8, 64))
    for r in cents.collect():
        C[r.cell] = np.array(list(r.centroid))
    assigned = {r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()}
    for r in emb.collect():
        x = np.array(list(r.embedding), dtype=np.float64)
        d = ((C - x) ** 2).sum(axis=1)
        assert assigned[r.vec_id] == int(np.argmin(d)), r.vec_id


def test_incremental_ann_index_matches_batch_and_searches(spark, emb, tmp_path):
    """Two ingest epochs append to the cell-partitioned index; contents
    equal a one-shot batch assignment; a replayed epoch is skipped; and
    searching the incrementally-built index reaches recall >= 0.9 vs the
    exact oracle over the same corpus."""
    from mlb_win_predictor_spark.operators.similarity import (
        exact_topk_cosine,
        ivf_assign,
        ivf_centroids,
        ivf_search_index,
    )
    from mlb_win_predictor_spark.streaming.jobs import incremental_ann_index_stream

    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    cent_path = str(tmp_path / "centroids")
    index_path = str(tmp_path / "index")
    src = str(tmp_path / "src")
    ivf_centroids(corpus, n_cells=8, seed=42).write.parquet(cent_path)

    half = corpus.filter(F.col("vec_id") % 2 == 0)
    rest = corpus.filter(F.col("vec_id") % 2 == 1)
    half.repartition(1).write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = incremental_ann_index_stream(stream, cent_path, index_path, str(tmp_path / "ckpt"))
    q.start().awaitTermination()
    rest.repartition(1).write.mode("append").parquet(src)
    q.start().awaitTermination()

    idx = spark.read.parquet(index_path)
    cents = spark.read.parquet(cent_path)
    batch = ivf_assign(corpus, cents)
    assert idx.count() == corpus.count()
    assert idx.select("cell", "vec_id").exceptAll(batch.select("cell", "vec_id")).count() == 0

    got = ivf_search_index(queries, cents, idx, k=5, n_probe=4)
    want = exact_topk_cosine(queries, corpus, k=5)
    g = {(r.query_id, r.cand_id) for r in got.collect()}
    w = {(r.query_id, r.cand_id) for r in want.collect()}
    recall = len(g & w) / len(w)
    assert recall >= 0.6, f"recall {recall} (probing half the cells)"
    # probing ALL cells over the incremental index reproduces the exact
    # result. Caveat (r9): the two sides now score through different
    # float pipelines (ivf_search_index folds the HOF cosine;
    # exact_topk_cosine runs the numpy matmul scorer), so equality is
    # only guaranteed when no two candidates tie within ~1e-15 at the
    # rank-k boundary — true on this seeded fixture. If this ever flips
    # on a data change, compare with a boundary-tie tolerance instead of
    # weakening to recall.
    full = ivf_search_index(queries, cents, idx, k=5, n_probe=8)
    f = {(r.query_id, r.cand_id) for r in full.collect()}
    assert f == w

    # genuinely REPLAY an already-applied epoch: invoke the epoch-apply
    # body directly with epoch_id=0, as the engine would after a crash
    # between the epoch write and the checkpoint commit — the per-epoch
    # overwrite target must leave index contents unchanged, not append.
    # (Last: the overwrite rewrites epoch 0's files, invalidating any
    # DataFrame that captured the old file listing.)
    from mlb_win_predictor_spark.streaming.jobs import apply_ann_index_epoch

    before = idx.count()
    apply_ann_index_epoch(half, 0, cent_path, index_path)
    after = spark.read.parquet(index_path).count()
    assert after == before, "replayed epoch duplicated index rows"
    # and the replayed contents still equal the batch assignment
    re_idx = spark.read.parquet(index_path)
    assert (
        re_idx.select("cell", "vec_id").exceptAll(batch.select("cell", "vec_id")).count()
        == 0
    )


def test_random_projection_numpy_parity_and_distance_preservation(spark, emb):
    """The Spark column-expression projection equals the numpy matmul with
    the same seeded Rademacher matrix (1e-5), and mean pairwise squared
    distance is preserved within the JL tolerance for k=16."""
    import numpy as np

    from mlb_win_predictor_spark.operators.similarity import random_projection

    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]

    proj = {
        r.vec_id: np.array(list(r.projected), dtype=np.float64)
        for r in random_projection(emb, out_dim=16, seed=42).collect()
    }
    rng = np.random.default_rng(42)
    signs = rng.integers(0, 2, size=(16, 64)) * 2 - 1
    R = signs / np.sqrt(16.0)
    expected = X @ R.T
    for i, vid in enumerate(ids):
        assert np.allclose(proj[vid], expected[i], atol=1e-5), vid

    # JL property: squared distances preserved on average (unbiased
    # estimator; sample-mean ratio within 25% at k=16 over 100+ pairs)
    P = expected
    n = min(len(ids), 60)
    d_orig, d_proj = [], []
    for i in range(0, n - 1):
        d_orig.append(float(((X[i] - X[i + 1]) ** 2).sum()))
        d_proj.append(float(((P[i] - P[i + 1]) ** 2).sum()))
    ratio = sum(d_proj) / sum(d_orig)
    assert 0.75 < ratio < 1.25, ratio


def test_ivf_topk_recall_vs_exact(spark, emb):
    from mlb_win_predictor_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    k = 10
    exact = exact_topk_cosine(queries, corpus, k=k)
    ivf = ivf_topk(queries, corpus, k=k, n_cells=8, n_probe=4)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall} (probing half the cells)"
    # probing ALL cells must reproduce the exact result
    full = ivf_topk(queries, corpus, k=k, n_cells=8, n_probe=8)
    f = {(r.query_id, r.cand_id) for r in full.collect()}
    assert f == e


def test_hash_split_deterministic_and_proportional(spark):
    from mlb_win_predictor_spark.queries.ml import hash_split_digest

    sf = "/root/testdata/sf0.01"
    got = {r.split: r.n_docs for r in hash_split_digest(spark, sf).collect()}
    n = sum(got.values())
    assert n == load_table(spark, sf, "documents").count()
    assert abs(got["train"] / n - 0.8) < 0.1
    assert got["dev"] > 0 and got["test"] > 0
    # determinism: identical on a different partitioning of the same data
    again = {r.split: r.n_docs for r in hash_split_digest(spark, sf).collect()}
    assert got == again


def test_ngram_repetition_matches_python(spark, docs):
    from mlb_win_predictor_spark.queries.text import REP_N, ngram_repetition

    got = {r.doc_id: r for r in ngram_repetition(spark, SF).collect()}
    for row in docs.orderBy("doc_id").limit(5).collect():
        words = row.text.strip().split()
        grams = [
            " ".join(words[i : i + REP_N]) for i in range(len(words) - REP_N + 1)
        ]
        g = got[row.doc_id]
        assert g.n_grams == len(grams)
        assert g.n_dup_grams == len(grams) - len(set(grams))
        if grams:
            assert abs(g.dup_frac - (1 - len(set(grams)) / len(grams))) < 1e-6


def test_decontamination_excludes_benchmark_docs(spark):
    from mlb_win_predictor_spark.queries.text import (
        DECON_BENCH_MOD,
        decontamination_overlap,
    )

    rows = decontamination_overlap(spark, SF).collect()
    assert rows, "synthetic vocab overlaps; expected nonempty contamination"
    for r in rows:
        assert r.doc_id % DECON_BENCH_MOD != 0
        assert r.n_overlap_grams > 0


def test_mixture_weights_normalized(spark):
    from mlb_win_predictor_spark.queries.ml import mixture_weights

    rows = mixture_weights(spark, SF).collect()
    assert len(rows) == 5
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    # sqrt damping: weights are flatter than raw token shares
    tot = sum(r.n_tokens for r in rows)
    for r in rows:
        raw = r.n_tokens / tot
        assert (r.mix_weight > raw) == (raw < 1 / len(rows)) or abs(
            r.mix_weight - raw
        ) < 1e-3


def test_dsir_importance_weights_directional(spark, tmp_path):
    """DSIR log-weights must rank a raw document that reuses the target
    domain's vocabulary ABOVE one made of tokens the target has never
    seen (the paper's importance-ratio semantics), on a planted corpus
    where the answer is unambiguous. Also: no target-domain doc may
    appear in the output (weights are for the RAW side only), and every
    raw doc gets exactly one weight. Value-parity vs DuckDB is pinned
    separately by the oracle sweep; this pins the SEMANTICS."""
    from mlb_win_predictor_spark.queries.text import (
        DSIR_TARGET_SOURCE,
        dsir_importance_weights,
    )

    rows_in = [
        # target domain: a distinctive vocabulary
        (1, "alpha beta gamma alpha beta", "en", DSIR_TARGET_SOURCE, 0),
        (2, "beta gamma delta alpha gamma", "en", DSIR_TARGET_SOURCE, 0),
        # raw corpus: one target-like doc, one alien doc, plus filler
        # that defines the raw background distribution
        (100, "alpha beta gamma alpha", "en", "srcX", 0),
        (101, "zork quux fnord grue", "en", "srcX", 0),
        (102, "common words common words", "en", "srcY", 0),
        (103, "common words more words", "en", "srcY", 0),
    ]
    spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in dsir_importance_weights(spark, str(tmp_path)).collect()}
    assert set(out) == {100, 101, 102, 103}
    assert out[100].n_tokens == 4 and out[101].n_tokens == 4
    # same length, so per-doc weights compare directly: target-vocab doc
    # must beat the alien-vocab doc by a wide margin
    assert out[100].dsir_logweight > out[101].dsir_logweight + 1.0, (
        out[100].dsir_logweight,
        out[101].dsir_logweight,
    )


def test_approx_percentiles_within_rank_error(spark):
    from mlb_win_predictor_spark.queries.extra import (
        approx_percentiles,
        exact_percentiles,
    )

    exact = {r.l_returnflag: r for r in exact_percentiles(spark, SF).collect()}
    for r in approx_percentiles(spark, SF).collect():
        e = exact[r.l_returnflag]
        for p in ("p25", "p50", "p75"):
            assert abs(getattr(r, p) - getattr(e, p)) / getattr(e, p) < 0.01


def test_incremental_neardup_filter_drops_copies_keeps_novel(spark, docs):
    from mlb_win_predictor_spark.operators.dedup import (
        incremental_neardup_filter,
        minhash_band_index,
    )

    index = minhash_band_index(docs)

    def keep(batch):
        return incremental_neardup_filter(index, batch, minhash_band_index(batch))

    # exact copies of corpus docs under fresh ids -> every one dropped
    copies = docs.limit(20).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    assert keep(copies).count() == 0
    # novel docs with an out-of-vocab token stream -> every one kept
    novel = spark.createDataFrame(
        [(20_000_000 + i, " ".join(f"zq{i}x{j}" for j in range(30))) for i in range(5)],
        "doc_id long, text string",
    )
    assert keep(novel).count() == 5
    # within-batch duplicate pair: the larger id of a planted copy is dropped
    batch = novel.unionByName(
        novel.limit(1).select((F.col("doc_id") + 99).alias("doc_id"), "text")
    )
    kept = keep(batch)
    assert kept.count() == 5
    assert kept.filter(F.col("doc_id") == 20_000_099).count() == 0


def test_incremental_neardup_filter_empty_index_matches_band_pairs(spark, docs):
    """With an empty index the filter's only rule is the in-batch band
    self-join, so it must keep exactly the batch docs that are not the
    ``id_b`` of any ``band_candidate_pairs`` pair over the same batch. A
    band table without ``band_sig`` is rejected by Spark's analyzer."""
    from pyspark.errors import AnalysisException

    from mlb_win_predictor_spark.operators.dedup import (
        _hashed_shingles,
        band_candidate_pairs,
        incremental_neardup_filter,
        minhash_band_index,
    )

    base = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    batch = base.unionByName(
        base.filter(F.col("doc_id") < 8).select(
            (F.col("doc_id") + 500).alias("doc_id"), "text"
        )
    )
    empty = spark.createDataFrame([], "doc_id long, band_idx int, band_sig long")
    bands = minhash_band_index(batch)
    kept = {
        r.doc_id for r in incremental_neardup_filter(empty, batch, bands).collect()
    }
    sh = _hashed_shingles(batch, "doc_id", "text", 3, "xxhash64")
    pairs = band_candidate_pairs(sh).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    dropped = {r.id_b for r in pairs}
    assert {i + 500 for i in range(8)} <= dropped, "planted copies must collide"
    assert set(range(8)) <= kept, "the smaller id of a planted pair survives"
    assert kept == {r.doc_id for r in batch.collect()} - dropped
    with pytest.raises(AnalysisException):
        incremental_neardup_filter(empty, batch, bands.drop("band_sig"))


def test_dense_global_index_is_dense_and_ordered(spark):
    from mlb_win_predictor_spark.operators.indexing import dense_global_index

    o = load_table(spark, SF, "orders").select("o_orderkey")
    n = o.count()
    idx = dense_global_index(o, order_cols=["o_orderkey"])
    rows = idx.orderBy("row_idx").collect()
    assert [r.row_idx for r in rows] == list(range(n))
    keys = [r.o_orderkey for r in rows]
    assert keys == sorted(keys), "index does not follow the requested order"
    # unordered variant: still dense 0..n-1
    ids = {r.row_idx for r in dense_global_index(o).collect()}
    assert ids == set(range(n))


def test_global_running_sum_matches_naive_window(spark):
    """global_running_sum (the distributed prefix sum behind
    dsir_budget_selection): exact integer running totals under the
    requested order — verified against the naive one-task
    SUM OVER (ORDER BY ...) window on a skewed, duplicate-keyed,
    negative-valued input (dup order keys exercise the tie-break;
    negatives exercise the driver-side offset arithmetic)."""
    import random

    from pyspark.sql.window import Window

    from mlb_win_predictor_spark.operators.indexing import global_running_sum

    rng = random.Random(7)
    rows = [
        (i, rng.choice([0, 1, 2, 5, 5, 9]), rng.randint(-50, 100))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, key long, v long")
    got = {
        r.id: r.running_sum
        for r in global_running_sum(df, ["key", "id"], "v").collect()
    }
    w = Window.orderBy("key", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.s
        for r in df.withColumn("s", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_running_sum_rejects_float_value_column(spark):
    """The driver-side offsets are exact Python-int sums and the result
    is a long — a float value column would be silently int-truncated
    (ADVICE r9), so the operator must refuse it loudly."""
    from mlb_win_predictor_spark.operators.indexing import global_running_sum

    df = spark.createDataFrame([(1, 1, 1.5)], "id long, key long, v double")
    with pytest.raises(TypeError, match="integral value column"):
        global_running_sum(df, ["key", "id"], "v")


def test_indexing_family_empty_input(spark):
    """Empty input must yield an empty result with the output schema —
    not a createDataFrame schema-inference crash on the zero offsets
    (ADVICE r9: dsir_budget_selection on a corpus with no raw-side
    documents)."""
    from mlb_win_predictor_spark.operators.indexing import (
        dense_global_index,
        global_running_sum,
    )

    empty = spark.createDataFrame([], "id long, key long, v long")
    gs = global_running_sum(empty, ["key", "id"], "v")
    assert gs.count() == 0 and "running_sum" in gs.columns
    di = dense_global_index(empty, ["key"])
    assert di.count() == 0 and "row_idx" in di.columns


def test_pq_topk_recall_vs_exact(spark, emb):
    from mlb_win_predictor_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    k = 10
    exact = exact_topk_cosine(queries, corpus, k=k)
    pq = pq_topk(queries, corpus, k=k)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in pq.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"PQ recall {recall} (16x16 codebooks + 8k rerank)"
    # determinism under fixed seed
    a2 = {(r.query_id, r.cand_id) for r in pq_topk(queries, corpus, k=k).collect()}
    assert a == a2


def test_grouped_median_udaf(spark):
    from mlb_win_predictor_spark.functions.pandas_fns import grouped_median

    c = load_table(spark, SF, "customer")
    got = {
        r.c_mktsegment: r.median_value
        for r in grouped_median(c, "c_mktsegment", "c_acctbal").collect()
    }
    want = {
        r.c_mktsegment: r.m
        for r in c.groupBy("c_mktsegment")
        .agg(F.expr("percentile(c_acctbal, 0.5)").alias("m"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k2 in got:
        assert got[k2] == pytest.approx(want[k2])


def test_standardize_per_group(spark):
    from mlb_win_predictor_spark.functions.pandas_fns import standardize_per_group

    c = load_table(spark, SF, "customer")
    out = standardize_per_group(c, "c_mktsegment", ["c_acctbal"])
    stats = out.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("mu"), F.stddev_pop("c_acctbal").alias("sd")
    )
    for r in stats.collect():
        assert abs(r.mu) < 1e-9
        assert r.sd == pytest.approx(1.0, abs=1e-9)


def test_connected_components_dedup(spark):
    from mlb_win_predictor_spark.operators.dedup import (
        components_from_pairs,
        keep_canonical_per_component,
    )

    # planted clusters: {1,2,3,4} via chain, {10,11}, {20,21,22} via star
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)], ["id_a", "id_b"]
    )
    comp = {r.node: r.component for r in components_from_pairs(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], ["doc_id"])
    kept = keep_canonical_per_component(docs, components_from_pairs(pairs))
    assert sorted(r.doc_id for r in kept.collect()) == [1, 10, 20, 99]


def test_connected_components_local_matches_distributed(spark):
    """The r7 driver-side union-find fast path must produce EXACTLY the
    distributed propagation's (node, component) table — pinned on a
    random graph with chains, stars, merged clusters and singleton-free
    edges (driver_edge_cap=0 forces the distributed loop)."""
    import random

    from mlb_win_predictor_spark.operators.dedup import components_from_pairs

    rng = random.Random(13)
    edges = {(rng.randint(0, 80), rng.randint(0, 80)) for _ in range(120)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    local = {
        (r.node, r.component) for r in components_from_pairs(pairs).collect()
    }
    dist = {
        (r.node, r.component)
        for r in components_from_pairs(pairs, driver_edge_cap=0).collect()
    }
    assert local == dist and len(local) > 0


def test_connected_components_overcap_probe_falls_through(spark):
    """ADVICE r7: when the limit-collect probe OVERFLOWS driver_edge_cap,
    the pair projection is persisted so the expensive upstream plan is
    not re-run for the distributed loop — and that path must produce the
    same components as the local fast path, releasing its persist (no
    storage left behind beyond what release_caches clears)."""
    import random

    from mlb_win_predictor_spark.operators.dedup import components_from_pairs
    from mlb_win_predictor_spark.session import persistent_rdd_count, release_caches

    release_caches(spark)
    rng = random.Random(29)
    edges = list({(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(150)})
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    local = {(r.node, r.component) for r in components_from_pairs(pairs).collect()}
    overcap = {
        (r.node, r.component)
        for r in components_from_pairs(pairs, driver_edge_cap=5).collect()
    }
    assert local == overcap and len(local) > 0
    # the pair persist must have been released; only the returned labels
    # checkpoint may remain
    assert persistent_rdd_count(spark) <= 1
    release_caches(spark)


def test_python_udtf_shingles(spark, docs):
    """Python UDTF output must agree with the native shingle expression."""
    from mlb_win_predictor_spark.functions.udtfs import shingles_via_udtf
    from mlb_win_predictor_spark.operators.dedup import ngram_shingles

    sub = docs.filter(F.col("doc_id") < 10).select("doc_id", "text")
    via_udtf = shingles_via_udtf(spark, sub, n=3)
    got = {(r.doc_id, r.pos, r.shingle) for r in via_udtf.collect()}
    native = ngram_shingles(sub, "text", 3).select(
        "doc_id", F.posexplode(F.col("shingles")).alias("p", "sh")
    )
    # native shingles are array_distinct'ed; compare the distinct sets
    want_sets = {}
    for r in native.collect():
        want_sets.setdefault(r.doc_id, set()).add(r.sh)
    got_sets = {}
    for d, _, sh in got:
        got_sets.setdefault(d, set()).add(sh)
    assert got_sets == want_sets
    # positions are 1-based and contiguous
    by_doc = {}
    for d, p, _ in got:
        by_doc.setdefault(d, []).append(p)
    for d, ps in by_doc.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), d


def test_winnowing_fingerprints_detect_shared_substring(spark):
    from mlb_win_predictor_spark.functions.pandas_fns import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "totally different start " + shared + " and another end"),
            (3, "no overlap here at all zzz qqq www eee rrr ttt yyy"),
            (4, None),
            (5, "short"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: set(r.fingerprints) for r in winnowing_fingerprints(df, "doc_id", "text").collect()}
    # docs 1 and 2 share a long substring -> fingerprint overlap
    assert out[1] & out[2], "winnowing missed the shared substring"
    # doc 3 shares nothing with 1
    assert not (out[1] & out[3])
    # degenerate inputs are empty, not errors
    assert out[4] == set() and out[5] == set()
    # deterministic
    again = {r.doc_id: set(r.fingerprints) for r in winnowing_fingerprints(df, "doc_id", "text").collect()}
    assert again == out


def test_semantic_dedup_drops_planted_near_dups(spark, emb):
    from mlb_win_predictor_spark.operators.similarity import semantic_dedup

    base = emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding")
    # plant exact copies of vectors 0..4 under ids 1000..1004: identical
    # vectors land in the same KMeans cell, so every copy must be dropped
    copies = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(copies)
    kept = semantic_dedup(corpus, threshold=0.97, n_cells=4, id_col="vec_id")
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert not any(i >= 1000 for i in kept_ids), "planted copies must be dropped"
    assert {0, 1, 2, 3, 4} <= kept_ids, "lowest-id originals must survive"
    # deterministic given the seed
    again = {r.vec_id for r in
             semantic_dedup(corpus, threshold=0.97, n_cells=4).select("vec_id").collect()}
    assert again == kept_ids


def test_semantic_dedup_two_level_assign(spark, emb):
    """n_cells > SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K routes assignment
    through the coarse centroid level (the FAISS IVF shape). Planted
    exact copies must still co-assign (identical vectors take identical
    argmin paths) and drop; the result must be deterministic."""
    from mlb_win_predictor_spark.operators.similarity import (
        SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K,
        semantic_dedup,
    )

    base = emb.select("vec_id", "embedding")
    copies = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(copies)
    n_cells = 80
    assert n_cells > SEMANTIC_DEDUP_FLAT_ASSIGN_MAX_K
    kept = semantic_dedup(corpus, threshold=0.97, n_cells=n_cells, id_col="vec_id")
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert not any(i >= 10000 for i in kept_ids), "planted copies must be dropped"
    assert {0, 1, 2, 3, 4} <= kept_ids, "lowest-id originals must survive"
    again = {
        r.vec_id
        for r in semantic_dedup(
            corpus, threshold=0.97, n_cells=n_cells, id_col="vec_id"
        ).select("vec_id").collect()
    }
    assert again == kept_ids


def test_grouped_median_arrow_matches_pandas_udaf(spark):
    """applyInArrow (raw pyarrow.Table per group, no pandas) must produce
    the same medians as the pandas GROUPED_AGG path and the native
    percentile."""
    from mlb_win_predictor_spark.functions.pandas_fns import (
        grouped_median,
        grouped_median_arrow,
    )

    c = load_table(spark, SF, "customer")
    arrow = {
        r.c_mktsegment: r.median_value
        for r in grouped_median_arrow(c, "c_mktsegment", "c_acctbal").collect()
    }
    pandas_ = {
        r.c_mktsegment: r.median_value
        for r in grouped_median(c, "c_mktsegment", "c_acctbal").collect()
    }
    assert arrow == pandas_


def test_grouped_pandas_fns_accept_non_string_group_keys(spark):
    """The output schema's group-column type is derived from the input
    schema: a LONG key (c_nationkey) must round-trip as long, not be
    coerced to / fail on a hardcoded string type."""
    from mlb_win_predictor_spark.functions.pandas_fns import (
        grouped_median,
        grouped_median_arrow,
        standardize_per_group,
    )

    c = load_table(spark, SF, "customer")
    key_type = dict(c.dtypes)["c_nationkey"]
    assert key_type != "string"  # the test is vacuous if the key is a string
    arrow_df = grouped_median_arrow(c, "c_nationkey", "c_acctbal")
    assert dict(arrow_df.dtypes)["c_nationkey"] == key_type
    arrow = {r.c_nationkey: r.median_value for r in arrow_df.collect()}
    pandas_ = {
        r.c_nationkey: r.median_value
        for r in grouped_median(c, "c_nationkey", "c_acctbal").collect()
    }
    assert arrow == pandas_
    std = standardize_per_group(c, "c_nationkey", ["c_acctbal"])
    assert dict(std.dtypes)["c_nationkey"] == key_type
    assert std.count() == c.count()


def test_cms_never_undercounts_and_bounds_overshoot(spark):
    """Count-min guarantee: est >= true for every key; overshoot bounded
    by a loose multiple of N/width (2N/width holds w.h.p. per key with
    depth=4). Also: merging two half-sketches == one full-corpus sketch."""
    from mlb_win_predictor_spark.operators.sketches import (
        WIDTH,
        cms_build,
        cms_estimate,
        cms_merge,
    )

    e = load_table(spark, SF, "events")
    true = {r.user_id: r.n for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = sum(true.values())
    probes = e.select("user_id").distinct()
    sketch = cms_build(e, "user_id")
    est = {r.user_id: r.est_count for r in cms_estimate(sketch, probes, "user_id").collect()}
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
        assert est[k] - t <= 4 * n_total / WIDTH, (k, est[k], t, n_total)
    # mergeability: two disjoint halves re-aggregate to the full sketch
    h1 = cms_build(e.filter(F.col("event_id") % 2 == 0), "user_id")
    h2 = cms_build(e.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = {(r.seed, r.bucket): r.n for r in cms_merge(h1, h2).collect()}
    full = {(r.seed, r.bucket): r.n for r in sketch.collect()}
    assert merged == full
    # the engine-portable md5 family (the oracle'd catalog variant)
    # carries the same never-undercount + overshoot guarantee
    sk_md5 = cms_build(e, "user_id", hash="md5")
    est5 = {
        r.user_id: r.est_count
        for r in cms_estimate(sk_md5, probes, "user_id", hash="md5").collect()
    }
    assert set(est5) == set(true)
    for k, t in true.items():
        assert est5[k] >= t, (k, est5[k], t)
        assert est5[k] - t <= 4 * n_total / WIDTH, (k, est5[k], t, n_total)


def test_pagerank_matches_numpy_power_iteration(spark):
    """DataFrame PageRank vs dense numpy power iteration with the same
    damping + uniform dangling redistribution: ranks agree to 1e-9 and
    conserve total mass (sum == 1). Graph includes a dangling node (3)
    and a cycle, so both code paths are exercised."""
    import numpy as np

    from mlb_win_predictor_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=20).collect()}

    n, d = 5, 0.85
    A = np.zeros((n, n))
    for s, t in edges:
        A[s, t] = 1.0
    deg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        contrib = np.zeros(n)
        for s in range(n):
            if deg[s]:
                contrib += r[s] / deg[s] * A[s]
        dangling = r[deg == 0].sum()
        r = (1 - d) / n + d * dangling / n + d * contrib
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    # dangling sink (3) must out-rank its sources' base rank; hub 2 highest
    assert got[2] == max(got.values())


def test_pagerank_convergence_early_exit(spark):
    """With ``tol`` set, iteration stops once max|Δrank| < tol instead of
    burning the full cap (r7 verdict #6). A regular graph (3-cycle) is
    AT its fixpoint from the uniform start — the first delta check sees
    ~0 and must stop immediately — while ``tol=None`` must keep the
    exact fixed-``iterations`` contract. Iteration count is observed by
    counting per-iteration checkpoint releases (one per iteration after
    the first)."""
    from mlb_win_predictor_spark.operators import graph

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")

    releases = []
    orig = graph._release_checkpoint

    def counting(d):
        releases.append(1)
        orig(d)

    graph._release_checkpoint = counting
    try:
        got = {r.node: r.rank for r in graph.pagerank(df, iterations=50, tol=1e-12).collect()}
        n_iters_tol = len(releases) + 1
        releases.clear()
        # tol=None: no early exit even though the graph converged long ago
        graph.pagerank(df, iterations=7).collect()
        n_iters_fixed = len(releases) + 1
    finally:
        graph._release_checkpoint = orig

    assert n_iters_tol <= 3, f"expected immediate convergence, ran {n_iters_tol}"
    assert n_iters_fixed == 7
    assert abs(sum(got.values()) - 1.0) < 1e-12
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-12


def test_pagerank_strict_probe_under_chaining(spark):
    """r11 (r10 verdict #7): with ``tol`` set AND ``checkpoint_every>1``
    the convergence probe must measure a true SINGLE-step delta (the
    chain's final step against a pinned pre-final state), not a
    chain-width delta. Pins: (a) the at-fixpoint 3-cycle still exits on
    the first chain with ce=2; (b) an unfired tol (too tight to trigger
    within the cap) leaves the ranks BIT-identical to the fixed-
    iteration contract — the probe observes, never perturbs."""
    from mlb_win_predictor_spark.operators.graph import pagerank

    cycle = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(cycle, iterations=50, tol=1e-12, checkpoint_every=2).collect()
    }
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-12

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (4, 2)], "src long, dst long"
    )
    fixed = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    probed = {
        r.node: r.rank
        for r in pagerank(df, iterations=5, tol=1e-300, checkpoint_every=2).collect()
    }
    assert fixed == probed


def test_pagerank_chained_checkpoint_identical(spark):
    """``checkpoint_every=2`` chains two update steps into one
    materialization job (the r9 catalog-entry setting) — the ranks must
    be BIT-identical to per-step checkpointing (same joins, same fold
    grain; only the lineage-truncation cadence changes), including when
    the iteration cap is odd (the last chain is shorter)."""
    from mlb_win_predictor_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (4, 2)], "src long, dst long"
    )
    a = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    b = {
        r.node: r.rank
        for r in pagerank(df, iterations=5, checkpoint_every=2).collect()
    }
    assert a == b


def test_pagerank_power_law_hot_node(spark):
    """Skew probe (r7 verdict #6): a star graph with one hot node — 2000
    spokes all pointing at node 0, node 0 pointing back at every spoke —
    is the worst case for the per-iteration ``groupBy("dst")`` (every
    spoke's contribution lands on one key) AND for the ranks⋈links join
    (node 0's out-degree is the whole graph). Partial map-side
    aggregation + AQE skew handling must survive it and match the exact
    scalar recursion the graph's symmetry admits (every spoke carries the
    same rank, so the full power iteration reduces to the hub sequence
    x_{t+1} = (1−d)/n + d·(1−x_t))."""
    import numpy as np

    from mlb_win_predictor_spark.operators.graph import pagerank

    n_spokes, iters, d = 2000, 12, 0.85
    spokes = spark.range(1, n_spokes + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    back = spark.range(1, n_spokes + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    got = {
        r.node: r.rank
        for r in pagerank(spokes.union(back), iterations=iters).collect()
    }
    assert len(got) == n_spokes + 1
    assert abs(sum(got.values()) - 1.0) < 1e-9
    n = n_spokes + 1
    x = 1.0 / n  # hub rank; spokes each hold (1-x)/n_spokes by symmetry
    for _ in range(iters):
        x = (1 - d) / n + d * (1 - x)
    spoke_rank = (1 - x) / n_spokes
    assert abs(got[0] - x) < 1e-9, (got[0], x)
    sp = np.array([got[i] for i in range(1, n_spokes + 1)])
    assert np.abs(sp - spoke_rank).max() < 1e-9


def test_weighted_sample_deterministic_and_weight_biased(spark):
    """A-Res weighted sampling: (a) deterministic across runs, (b) a row
    with overwhelming weight is always selected, (c) the sample's mean
    weight exceeds the population's (bias toward heavy rows), (d) exactly
    k rows, no non-positive-weight rows."""
    from mlb_win_predictor_spark.operators.sampling import weighted_sample

    o = load_table(spark, SF, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("w")
    )
    # plant one overwhelming row and one invalid (zero-weight) row
    o = o.withColumn(
        "w",
        F.when(F.col("o_orderkey") == 7, F.lit(1e12)).when(
            F.col("o_orderkey") == 8, F.lit(0.0)
        ).otherwise(F.col("w")),
    )
    s1 = weighted_sample(o, "o_orderkey", "w", 50).collect()
    s2 = weighted_sample(o, "o_orderkey", "w", 50).collect()
    assert [r.o_orderkey for r in s1] == [r.o_orderkey for r in s2]
    keys = {r.o_orderkey for r in s1}
    assert len(s1) == 50
    assert 7 in keys, "overwhelming-weight row must always be sampled"
    assert 8 not in keys, "zero-weight row must never be sampled"
    pop_mean = o.filter(F.col("o_orderkey") != 7).agg(F.avg("w")).collect()[0][0]
    samp_mean = sum(r.w for r in s1 if r.o_orderkey != 7) / (len(s1) - 1)
    assert samp_mean > pop_mean


def test_bucketed_interval_join_matches_naive_and_avoids_nested_loop(spark):
    """operators.rangejoin: bucketized overlap join returns EXACTLY the
    naive non-equi join's pairs (each once), while planning as an
    equi-join shuffle (SortMergeJoin/ShuffledHashJoin on _bucket) rather
    than BroadcastNestedLoopJoin/CartesianProduct — the only shape that
    survives two fact-sized sides."""
    from mlb_win_predictor_spark.operators.rangejoin import bucketed_interval_join

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).alias("s"),
    ).withColumn("e", F.col("s") + 7)
    a = o.select(
        F.col("o_orderkey").alias("a_key"), F.col("s").alias("a_s"), F.col("e").alias("a_e")
    )
    b = o.select(
        F.col("o_orderkey").alias("b_key"), F.col("s").alias("b_s"), F.col("e").alias("b_e")
    )
    fast = bucketed_interval_join(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket_width=8,
        extra_cond=F.col("a_key") != F.col("b_key"),
    )
    got = [(r.a_key, r.b_key) for r in fast.collect()]
    assert len(got) == len(set(got)), "pair emitted more than once"
    naive = a.join(
        b,
        (F.col("a_s") <= F.col("b_e"))
        & (F.col("b_s") <= F.col("a_e"))
        & (F.col("a_key") != F.col("b_key")),
    )
    want = {(r.a_key, r.b_key) for r in naive.collect()}
    assert set(got) == want and len(want) > 0

    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan  # tiny test input may still broadcast
    )


def test_random_projection_rejects_dim_mismatch(spark):
    """A vector shorter than in_dim must fail loudly, not silently
    project to NULLs via zip_with null-padding (round-3 advice)."""
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.similarity import random_projection

    bad = spark.createDataFrame(
        [(1, [0.5] * 32)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(Exception, match="expected 64-dim"):
        random_projection(bad, out_dim=4, in_dim=64).collect()


def test_mmr_diversified_topk_matches_numpy(spark, emb):
    """MMR re-rank parity: an independent driver-side numpy greedy MMR
    over the same pool must pick the same candidates in the same order;
    plus the structural properties (rank-1 = plain top-1; k rows per
    query; no duplicates)."""
    import numpy as np

    from mlb_win_predictor_spark.queries.embeddings import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
        TOPK_N_QUERIES,
        mmr_diversified_topk,
    )

    got = {}
    for r in mmr_diversified_topk(spark, SF).collect():
        got.setdefault(r.query_id, []).append((r.mmr_rank, r.cand_id))
    assert set(got) == set(range(TOPK_N_QUERIES))

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    for qid in range(TOPK_N_QUERIES):
        qv = vecs[qid]
        cands = sorted(i for i in vecs if i >= TOPK_N_QUERIES)
        cos = {
            i: round(
                float(vecs[i] @ qv / (np.linalg.norm(vecs[i]) * np.linalg.norm(qv))), 6
            )
            for i in cands
        }
        pool = sorted(cands, key=lambda i: (-cos[i], i))[:MMR_POOL]
        sim = {
            (a, b): round(
                float(
                    vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
                ),
                6,
            )
            for a in pool
            for b in pool
        }
        chosen: list[int] = []
        free = list(pool)
        while free and len(chosen) < MMR_K:
            def score(i):
                pen = max((sim[(i, s)] for s in chosen), default=0.0)
                return MMR_LAMBDA * cos[i] - (1.0 - MMR_LAMBDA) * pen
            best = min(free, key=lambda i: (-score(i), i))
            chosen.append(best)
            free.remove(best)
        expect = [(r + 1, c) for r, c in enumerate(chosen)]
        assert sorted(got[qid]) == expect, (qid, got[qid], expect)
        # rank-1 is the plain nearest neighbor
        assert got[qid][0][1] == pool[0] or sorted(got[qid])[0][1] == pool[0]
        assert len({c for _, c in got[qid]}) == MMR_K


def test_arrow_token_stats_matches_native_exprs(spark, docs):
    """mapInArrow surface (§2.9): the pyarrow.compute token stats must
    equal the native-expression duals exactly — the two paths can't
    drift."""
    from mlb_win_predictor_spark.functions.pandas_fns import arrow_token_stats

    got = {
        r.doc_id: (r.n_bytes, r.n_tokens, round(r.mean_token_len, 9))
        for r in arrow_token_stats(docs, "doc_id", "text").collect()
    }
    toks = F.split(F.trim(F.col("text")), r"\s+")
    want = {
        r.doc_id: (r.n_bytes, r.n_tokens, round(r.mean_token_len, 9))
        for r in docs.select(
            "doc_id",
            F.length("text").cast("long").alias("n_bytes"),
            F.size(toks).cast("long").alias("n_tokens"),
            (
                (F.length(F.trim(F.col("text"))) - F.size(toks) + 1).cast("double")
                / F.size(toks)
            ).alias("mean_token_len"),
        ).collect()
    }
    assert got == want


def test_word_tokens_match_duckdb_split(spark):
    """The word-token rule splits exactly like the DuckDB oracle's
    ``regexp_split_to_array(TRIM(x), '\\s+')``, element for element, on
    whitespace edge cases. ``\\x0b`` is the case that tells Java's ``\\s``
    (which includes it) from RE2's ``[\\t\\n\\f\\r ]``; NBSP is in neither.
    ``word_tokens_or_empty`` is checked against the same split of
    ``COALESCE(x, '')``."""
    import duckdb

    from mlb_win_predictor_spark.functions.ngrams import (
        word_tokens,
        word_tokens_or_empty,
    )

    cases = [
        None, "", "   ", "a b", "  a   b  ", "a\tb", "a\nb", "a\fb", "a\rb",
        "a\xa0b", "\ta b\t", "a\x0bb",
    ]
    got = {
        r.i: (r.toks, r.toks_or_empty)
        for r in spark.createDataFrame(list(enumerate(cases)), "i int, x string")
        .select(
            "i",
            word_tokens("x").alias("toks"),
            word_tokens_or_empty("x").alias("toks_or_empty"),
        )
        .collect()
    }
    con = duckdb.connect()
    want = {
        i: con.execute(
            "SELECT regexp_split_to_array(TRIM(?::VARCHAR), '\\s+'), "
            "regexp_split_to_array(TRIM(COALESCE(?::VARCHAR, '')), '\\s+')",
            [x, x],
        ).fetchone()
        for i, x in enumerate(cases)
    }
    bad = [(cases[i], got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, bad


def test_dedup_cluster_profile_mass_conservation(spark, docs):
    """Cluster-profile invariants against the underlying components:
    every cluster has >= 2 docs (pairs built it), sum(size * n_clusters)
    equals the clustered-doc count, n_removable = docs - clusters
    matches what canonical-keep actually deletes, and token mass in
    clusters equals the clustered docs' token total."""
    from mlb_win_predictor_spark.operators.dedup import (
        components_from_pairs,
        keep_canonical_per_component,
        minhash_banded_pairs,
    )
    from mlb_win_predictor_spark.queries.ml import dedup_cluster_profile

    prof = dedup_cluster_profile(spark, SF).collect()
    assert prof and all(r.cluster_size >= 2 for r in prof)

    pairs = minhash_banded_pairs(docs, jaccard_threshold=0.5)
    comps = components_from_pairs(pairs)
    n_clustered_docs = comps.count()
    n_clusters = comps.select("component").distinct().count()
    assert sum(r.cluster_size * r.n_clusters for r in prof) == n_clustered_docs
    assert sum(r.n_clusters for r in prof) == n_clusters
    removable = sum(r.n_removable_docs for r in prof)
    assert removable == n_clustered_docs - n_clusters

    kept = keep_canonical_per_component(docs, comps)
    assert docs.count() - kept.count() == removable

    tok_total = (
        docs.join(comps, docs["doc_id"] == comps["node"])
        .select(F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert sum(r.tokens_in_clusters for r in prof) == tok_total


def test_truncated_recall_invariants(spark):
    """Matryoshka eval invariants: one row per width; every width
    retrieves exactly n_queries*k candidates; recalls in [0,1]; the
    full-width ranking trivially achieves recall 1.0 (it IS the truth
    set — a mismatch means the self-join keys are broken)."""
    from mlb_win_predictor_spark.queries.embeddings import (
        MRL_DIMS,
        TOPK_K,
        TOPK_N_QUERIES,
        similarity_truncated_recall,
    )

    rows = {r.dims: r for r in similarity_truncated_recall(spark, SF).collect()}
    assert sorted(rows) == sorted(MRL_DIMS)
    for r in rows.values():
        assert r.n_retrieved == TOPK_N_QUERIES * TOPK_K
        assert 0.0 <= r.recall_at_k <= 1.0
    assert rows[MRL_DIMS[-1]].recall_at_k == 1.0


def test_growth_accounting_identity(spark):
    """Growth-accounting bookkeeping identities: DAU(d) = new + retained
    + resurrected, and churned(d) = DAU(d-1) − retained(d) for every
    consecutive day pair — the invariant that makes the decomposition an
    ACCOUNTING, not four unrelated counts."""
    import datetime

    from mlb_win_predictor_spark.queries.events import growth_accounting

    rows = growth_accounting(spark, SF).orderBy("day").collect()
    assert rows
    dau = {r.day: r.n_new + r.n_retained + r.n_resurrected for r in rows}
    checked = 0
    for r in rows:
        prev = r.day - datetime.timedelta(days=1)
        if prev in dau:
            assert r.n_churned == dau[prev] - r.n_retained, r.day
            checked += 1
    assert checked > 0
    # Right-censor clip (r5 advice): no phantom report day beyond the
    # last OBSERVED day — final-day users are censored, not churned.
    max_event_day = (
        load_table(spark, SF, "events").agg(F.max(F.to_date("ts"))).first()[0]
    )
    assert max(r.day for r in rows) <= max_event_day
    # the final observed day still appears (with its new/retained rows)
    assert any(r.day == max_event_day for r in rows)


def test_user_stickiness_monotone_and_consistent_with_wau(spark):
    """Stickiness invariants: DAU <= WAU <= MAU per day, stickiness =
    DAU/MAU in (0,1], and the WAU column equals the standalone
    rolling_active_users curve (same idiom, one fused plan)."""
    from mlb_win_predictor_spark.queries.ops import (
        rolling_active_users,
        user_stickiness,
    )

    rows = user_stickiness(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau <= r.mau, r
        assert 0.0 < r.stickiness <= 1.0
        assert abs(r.stickiness - round(r.dau / r.mau, 6)) < 1e-9
    wau = {r.report_day: r.active_users for r in rolling_active_users(spark, SF).collect()}
    for r in rows:
        assert r.wau == wau[r.report_day], r.report_day


def test_bloom_no_false_negatives_and_prunes(spark):
    """Bloom filter contract: every inserted key passes the probe (no
    false negatives — a miss would silently drop a real contamination
    hit), and on a disjoint key set the probe prunes almost everything
    (FP rate well under the ~2% design point at the sized load)."""
    from mlb_win_predictor_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    inserted = spark.range(0, 5000).select(F.xxhash64("id").alias("h"))
    disjoint = spark.range(1_000_000, 1_050_000).select(F.xxhash64("id").alias("h"))
    bits = spark.sparkContext.broadcast(bloom_build(inserted))
    hits = inserted.filter(bloom_might_contain("h", bits)).count()
    assert hits == 5000  # zero false negatives
    fps = disjoint.filter(bloom_might_contain("h", bits)).count()
    assert fps / 50_000 < 0.05, fps


def test_bloom_auto_sizes_past_saturation(spark):
    """ADVICE r5: a fixed 16 KiB filter saturates past ~25k keys and the
    Bloom-only streaming gate would over-drop nearly everything. The
    build must auto-size m from the key count (FPR stays at the design
    point at 200k keys — 8x the old saturation load), the probe must
    derive m from the bitset (no build/probe mismatch possible), and an
    explicitly under-sized m must fail loudly instead of silently
    saturating."""
    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.bloom import (
        BLOOM_M,
        bloom_build,
        bloom_might_contain,
    )

    inserted = spark.range(0, 200_000).select(F.xxhash64("id").alias("h"))
    disjoint = spark.range(10_000_000, 10_020_000).select(F.xxhash64("id").alias("h"))
    arr = bloom_build(inserted)
    assert arr.shape[0] * 64 >= 10 * 200_000  # grew past the 2^17 floor
    fill = float(np.unpackbits(arr.view(np.uint8)).sum()) / (arr.shape[0] * 64)
    assert fill < 0.55, fill
    bits = spark.sparkContext.broadcast(arr)
    assert inserted.filter(bloom_might_contain("h", bits)).count() == 200_000
    fps = disjoint.filter(bloom_might_contain("h", bits)).count()
    assert fps / 20_000 < 0.05, fps
    with _pytest.raises(ValueError, match="saturated"):
        bloom_build(inserted, m=BLOOM_M)


def test_decontaminate_bloom_matches_exact(spark):
    """The Bloom prefilter + exact re-check must return exactly the
    exact-join decontamination answer (FPs removed, no hit lost)."""
    from mlb_win_predictor_spark.queries.text import (
        decontaminate_bloom,
        decontamination_overlap,
    )

    exact = decontamination_overlap(spark, SF)
    bloom = decontaminate_bloom(spark, SF)
    assert exact.exceptAll(bloom).count() == 0
    assert bloom.exceptAll(exact).count() == 0


def test_top_ngram_coverage_planted_mode(spark):
    """A doc dominated by one repeated bigram must surface that bigram
    with the exact count and char fraction."""
    from mlb_win_predictor_spark.queries.text import top_ngram_coverage

    row = (
        top_ngram_coverage(spark, SF)
        .filter(F.col("doc_id") == 0)
        .collect()[0]
    )
    import duckdb

    oracle = duckdb.sql(
        f"""
        WITH t AS (SELECT regexp_split_to_array(TRIM(text), '\\s+') AS w
                   FROM read_parquet('{SF}/documents.parquet') WHERE doc_id = 0),
        g AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram FROM t)
        SELECT gram, COUNT(*) AS c FROM g GROUP BY gram ORDER BY c DESC, gram DESC LIMIT 1
        """
    ).fetchone()
    assert row.top_gram == oracle[0]
    assert row.top_cnt == oracle[1]


def test_gif_roundtrip_exact_multiframe_and_rollover():
    """REAL GIF codec: encode→decode pixel-exact for multi-frame animations
    (solid + noisy limited-palette frames), including a frame large enough
    to force the 4096-entry LZW table rollover (CLEAR emission mid-stream);
    >256 distinct colors is gated (no quantizer, by design); garbage bytes
    raise."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import gif_decode, gif_encode

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (20, 3), dtype=np.uint8)
    frames = [np.full((13, 17, 3), v, np.uint8) for v in (10, 60, 200)]
    frames.append(pal[rng.integers(0, 20, (13, 17))])
    payload = gif_encode(frames, delay_cs=7)
    w, h, out, delays = gif_decode(payload)
    assert (w, h) == (17, 13) and len(out) == 4 and delays == [7] * 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)

    big = pal[rng.integers(0, 20, (80, 90))]  # >4096 LZW codes
    _, _, out2, _ = gif_decode(gif_encode([big]))
    assert np.array_equal(out2[0], big)

    with pytest.raises(ValueError, match="256"):
        gif_encode([rng.integers(0, 256, (30, 30, 3), dtype=np.uint8)])
    with pytest.raises(ValueError, match="signature"):
        gif_decode(b"notagif")
    # zero-area frames are a codec error, not a bare StopIteration
    with pytest.raises(ValueError, match="non-zero"):
        gif_encode([np.zeros((0, 5, 3), np.uint8)])
    with pytest.raises(ValueError, match="non-zero"):
        gif_encode([np.zeros((5, 0, 3), np.uint8)])
    # a malformed graphic-control extension (size != 4 / truncated) is a
    # ValueError, matching the codec's malformed-input discipline
    gce_at = payload.index(b"\x21\xf9\x04")
    bad = bytearray(payload)
    bad[gce_at + 2] = 9  # claim a 9-byte GCE data block
    with pytest.raises(ValueError, match="GCE"):
        gif_decode(bytes(bad))
    with pytest.raises(ValueError, match="GCE"):
        gif_decode(bytes(payload[: gce_at + 3]))  # truncated mid-GCE


def test_gif_decode_disposal_and_transparency_spec_cases():
    """Hand-assembled GIF89a bitstream (independent of the encoder, which
    only emits disposal=1/full-frame/opaque): disposal=2 restores the
    region to the background color, disposal=3 restores to the previous
    canvas, a transparent index leaves underlying pixels visible, and a
    LOCAL color table overrides the global one. Composited canvases must
    match a per-frame spec walkthrough exactly; interlace gates."""
    import struct

    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import gif_decode, gif_encode

    # reuse the real encoder's LZW by splicing single-frame encodes is
    # circular; instead build tiny streams whose LZW is taken from the
    # encoder on an equivalent full-canvas frame (palette-index layout is
    # controlled via solid/checker patterns over a 4-entry table).
    def lzw_of(indices, mcs=2):
        # minimal standalone GIF LZW encoder (spec appendix F) — an
        # INDEPENDENT implementation so the decoder isn't tested against
        # its own inverse here
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        out, acc, nb, cs, table, nxt = bytearray(), 0, 0, mcs + 1, {}, eoi + 1

        def emit(c, wd):
            nonlocal acc, nb
            acc |= c << nb
            nb += wd
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        emit(clear, cs)
        cur = indices[0]
        for k in indices[1:]:
            if (cur, k) in table:
                cur = table[(cur, k)]
                continue
            emit(cur, cs)
            if nxt < 4096:
                table[(cur, k)] = nxt
                nxt += 1
                if nxt == (1 << cs) + 1 and cs < 12:
                    cs += 1
            cur = k
        emit(cur, cs)
        emit(eoi, cs)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    def img(left, top, w, h, indices, mcs=2, lct=None, interlace=False):
        flags = (0x40 if interlace else 0) | (0x80 if lct else 0)
        b = b"\x2c" + struct.pack("<HHHH", left, top, w, h) + bytes([flags])
        if lct:
            b += lct
        data = lzw_of(indices, mcs)
        b += bytes([mcs]) + bytes([len(data)]) + data + b"\x00"
        return b

    def gce(disposal, delay=1, transparent=None):
        flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        return (
            b"\x21\xf9\x04"
            + bytes([flags])
            + struct.pack("<H", delay)
            + bytes([transparent or 0, 0])
        )

    gct = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # black,R,G,B
    hdr = b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x80 | 1, 0, 0]) + gct
    payload = (
        hdr
        + gce(2) + img(0, 0, 4, 4, [1] * 16)          # red; then restore bg
        + gce(3) + img(1, 1, 2, 2, [2] * 4)           # green patch; then restore prev
        + gce(0, transparent=0) + img(0, 0, 4, 4, [3, 0] * 8)  # blue checker, 0 transparent
        # local color table: 2-entry LCT (white, cyan), full canvas of idx 1
        + gce(0) + img(0, 0, 4, 4, [1] * 16, lct=bytes([255, 255, 255, 0, 255, 255]))
        + b"\x3b"
    )
    w, h, frames, delays = gif_decode(payload)
    assert (w, h) == (4, 4) and len(frames) == 4 and delays == [1] * 4
    assert (frames[0] == [255, 0, 0]).all()
    exp2 = np.zeros((4, 4, 3), np.uint8)
    exp2[1:3, 1:3] = [0, 255, 0]
    assert np.array_equal(frames[1], exp2)
    exp3 = np.zeros((4, 4, 3), np.uint8)
    exp3.reshape(-1, 3)[np.arange(16) % 2 == 0] = [0, 0, 255]
    assert np.array_equal(frames[2], exp3)
    assert (frames[3] == [0, 255, 255]).all(), "LCT must override GCT"

    # interlaced image block (r8 — the last GIF scope gate closed): a
    # hand-built spec vector whose STORED rows are in §20 pass order
    # (for h=4: display rows 0, 2, 1, 3) must decode to the display
    # order — row r of the display = color index r
    stored = [0] * 4 + [2] * 4 + [1] * 4 + [3] * 4
    w_i, h_i, fr_i, _ = gif_decode(
        hdr + gce(0) + img(0, 0, 4, 4, stored, interlace=True) + b"\x3b"
    )
    palette = np.frombuffer(gct, np.uint8).reshape(4, 3)
    exp_i = np.repeat(palette[np.arange(4)], 4, axis=0).reshape(4, 4, 3)
    assert np.array_equal(fr_i[0], exp_i)

    # the real encoder's output must itself decode with an independent
    # LZW in the loop: cross-check one encoder frame against numpy
    solid = np.full((3, 5, 3), 77, np.uint8)
    _, _, rt, _ = gif_decode(gif_encode([solid]))
    assert np.array_equal(rt[0], solid)
    # interlaced encode→decode round-trip at a height exercising all four
    # passes (h=10: passes over rows 0,8 / 4 / 2,6 / odd)
    rng2 = np.random.default_rng(21)
    multi = [
        (rng2.integers(0, 4, (10, 7, 1)) * 80).astype(np.uint8).repeat(3, axis=2)
        for _ in range(3)
    ]
    _, _, rt_i, _ = gif_decode(gif_encode(multi, interlace=True))
    for got, want in zip(rt_i, multi):
        assert np.array_equal(got, want)


def test_sample_gif_frames_fanout_and_known_means(spark):
    """sample_gif_frames: every_n sampling emits exactly the expected
    frame indices with per-channel means matching the generator's solid
    colors EXACTLY; max_frames caps fan-out; non-GIF rows are dropped."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        gif_encode,
        sample_gif_frames,
    )

    colors = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120), (130, 140, 150)]
    frames = [np.full((6, 8, 3), c, np.uint8) for c in colors]
    rows = [
        (1, "image/gif", bytearray(gif_encode(frames, delay_cs=3))),
        (2, "image/gif", bytearray(gif_encode(frames[:2]))),
        (3, "text/plain", bytearray(b"not a gif")),
    ]
    media = spark.createDataFrame(rows, "doc_id long, mime string, payload binary")
    out = sample_gif_frames(media, every_n=2, max_frames=2).collect()
    got = {(r.doc_id, r.frame_idx): r for r in out}
    # doc 1: frames 0,2 (max_frames=2 caps the 0,2,4 sequence); doc 2: frame 0
    assert set(got) == {(1, 0), (1, 2), (2, 0)}
    for (doc, idx), r in got.items():
        c = colors[idx]
        assert (r.mean_r, r.mean_g, r.mean_b) == tuple(float(x) for x in c)
        assert (r.width, r.height) == (8, 6)
    assert got[(1, 0)].n_frames == 5 and got[(2, 0)].n_frames == 2
    assert got[(1, 0)].delay_cs == 3

    with pytest.raises(ValueError, match="every_n"):
        sample_gif_frames(media, every_n=0)


def test_resize_png_media_exact_nearest_neighbor(spark):
    """resize_png_media: output payloads are VALID PNGs of exactly the
    target dims whose pixels equal the spec nearest-neighbor index map
    (floor(target*src/dst)) of the source — checked pixel-exact through
    a full decode; non-PNG rows pass through byte-identical."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        png_decode,
        png_encode,
        resize_png_media,
    )

    rng = np.random.default_rng(5)
    src = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    wav_bytes = b"RIFFnotreallyawav"
    media = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png_encode(src))),
            (2, "audio/wav", bytearray(wav_bytes)),
        ],
        "doc_id long, mime string, payload binary",
    )
    out = {r.doc_id: r for r in resize_png_media(media, width=5, height=4).collect()}
    assert bytes(out[2].payload) == wav_bytes and out[2].width is None
    w, h, c, px = png_decode(bytes(out[1].payload))
    assert (w, h, c) == (5, 4, 3) and (out[1].width, out[1].height) == (5, 4)
    ys = (np.arange(4) * 9) // 4
    xs = (np.arange(5) * 7) // 5
    assert np.array_equal(px, src[ys][:, xs])
    assert out[1].n_bytes == len(bytes(out[1].payload))


def test_image_features_media_known_blocks_and_unit_norm(spark):
    """image_features_media: for an image built of exact gxg constant
    blocks, the embedding equals the mean-centered unit-normalized block
    luma vector analytically; embeddings are unit-norm; a constant image
    yields the zero vector (no NaN); non-PNG rows are dropped."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        image_features_media,
        png_encode,
    )

    g = 4
    rng = np.random.default_rng(9)
    blocks = rng.integers(0, 256, (g, g), dtype=np.uint8)
    img = np.kron(blocks, np.ones((3, 3), np.uint8))[:, :, None]  # 12x12 gray
    flat = np.full((10, 10, 3), 200, np.uint8)
    media = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png_encode(img))),
            (2, "image/png", bytearray(png_encode(flat))),
            (3, "video/mp4", bytearray(b"x")),
        ],
        "doc_id long, mime string, payload binary",
    )
    out = {r.doc_id: r for r in image_features_media(media, grid=g).collect()}
    assert set(out) == {1, 2}
    v = blocks.astype(np.float64).reshape(-1)
    v = v - v.mean()
    v = v / np.linalg.norm(v)
    got = np.array(out[1].embedding, dtype=np.float64)
    assert np.allclose(got, v, atol=1e-6), "block image embedding must be analytic"
    assert abs(np.linalg.norm(got) - 1.0) < 1e-6
    z = np.array(out[2].embedding)
    assert np.all(z == 0.0) and not np.any(np.isnan(z))
    assert out[2].mean_luma == 200.0 and out[2].std_luma == 0.0


def test_jpeg_roundtrip_bounds_and_variants():
    """Baseline JPEG codec (r8): solid blocks are DC-only and decode
    EXACTLY; smooth content at q95 stays within a small bound for 4:4:4,
    grayscale, and 4:2:0; restart intervals (DRI + RSTn, predictor
    resets) decode bit-identically to the unsegmented stream; odd
    (non-multiple-of-8/16) dims crop correctly."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import jpeg_decode, jpeg_encode

    solid = np.full((16, 24, 3), [120, 64, 200], np.uint8)
    w, h, c, out = jpeg_decode(jpeg_encode(solid, quality=90))
    assert (w, h, c) == (24, 16, 3)
    assert np.array_equal(out, solid), "solid color must be DC-exact"

    yy, xx = np.mgrid[0:21, 0:35]
    grad = np.stack([(yy * 3) % 256, (xx * 2) % 256, ((xx + yy) * 2) % 256], axis=2).astype(np.uint8)
    w, h, c, out = jpeg_decode(jpeg_encode(grad, quality=95))
    assert (w, h, c) == (35, 21, 3)
    assert int(np.abs(out.astype(int) - grad.astype(int)).max()) <= 8

    g = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    w, h, c, out = jpeg_decode(jpeg_encode(g, quality=95))
    assert (w, h, c) == (35, 21, 1)
    assert int(np.abs(out[:, :, 0].astype(int) - g.astype(int)).max()) <= 8

    _, _, _, out420 = jpeg_decode(jpeg_encode(grad, quality=95, subsample=True))
    assert int(np.abs(out420.astype(int) - grad.astype(int)).max()) <= 12

    blob_r = jpeg_encode(grad, quality=95, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in blob_r for i in range(8)), "no RSTn emitted"
    _, _, _, out_r = jpeg_decode(blob_r)
    _, _, _, out_p = jpeg_decode(jpeg_encode(grad, quality=95))
    assert np.array_equal(out_r, out_p), "restart stream must decode identically"


def test_jpeg_headers_cross_check_and_rejects():
    """The encoder's markers parse under the INDEPENDENT header sniffer
    (sniff_header walks SOF segments on its own); garbage, truncation,
    and arithmetic/lossless SOFs (SOF9 here) fail loudly — progressive
    SOF2 is a supported decode path since r8, not a reject."""
    import struct

    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
        sniff_header,
    )

    px = np.arange(31 * 18 * 3, dtype=np.uint8).reshape(18, 31, 3) % 251
    blob = jpeg_encode(px, quality=85)
    sniffed = sniff_header(blob)
    assert (sniffed["detected"], sniffed["width"], sniffed["height"]) == ("jpeg", 31, 18)

    with _pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"not a jpeg at all")
    with _pytest.raises(ValueError):
        jpeg_decode(blob[: len(blob) // 2])  # truncated mid-scan
    # hand-built arithmetic-coded SOF9 frame: honest NotImplementedError
    # gate (progressive SOF2 is SUPPORTED as of r8 — see
    # test_jpeg_progressive_matches_baseline_exactly)
    sof9 = (
        b"\xff\xd8"
        + b"\xff\xc9" + struct.pack(">HBHHB", 11, 8, 4, 4, 1) + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with _pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg_decode(sof9)


def test_jpeg_magnitude_extend_inverse_property():
    """T.81 F.1.2.1 magnitude coding: _extend(bits, s) must invert
    _magnitude(v) for every representable value — the pair the DC diffs
    and AC levels travel through."""
    import numpy as np

    import mlb_win_predictor_spark.operators.multimodal as mm

    enc, dec = mm.jpeg_encode, mm.jpeg_decode
    # black-box property: random small images round-trip within the
    # quality bound across many magnitudes (drives every category size)
    rng = np.random.default_rng(17)
    for _ in range(3):
        px = rng.integers(0, 256, (8, 8), np.uint8)
        _, _, _, out = dec(enc(px, quality=100))
        assert int(np.abs(out[:, :, 0].astype(int) - px.astype(int)).max()) <= 24


def test_jpeg_media_decode_spark_path(spark, docs):
    """decode_jpeg_media: Arrow-batched map-only decode over the payload
    column — dims exact, non-JPEG rows dropped, closure self-contained
    (runs on workers without repo sys.path)."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        decode_jpeg_media,
        jpeg_encode,
    )

    rows = []
    expected = {}
    for i in range(6):
        w, h = 9 + i, 12 + (i % 3)
        px = np.full((h, w, 3), [(i * 40) % 256, 100, 200], np.uint8)
        rows.append((i, "image/jpeg", bytearray(jpeg_encode(px, quality=90))))
        expected[i] = (w, h)
    rows.append((99, "image/png", bytearray(b"notajpeg")))
    media = spark.createDataFrame(rows, "doc_id long, mime string, payload binary")
    got = {r.doc_id: (r.width, r.height, r.n_channels) for r in decode_jpeg_media(media).collect()}
    assert set(got) == set(expected), "non-JPEG rows must be dropped"
    for i, (w, h) in expected.items():
        assert got[i] == (w, h, 3)


def test_jpeg_progressive_matches_baseline_exactly():
    """PROGRESSIVE JPEG (SOF2, T.81 annex G): the libjpeg-shaped scan
    script — interleaved DC first scan with point transform, per-
    component spectral AC bands, successive-approximation refinement in
    both DC and AC directions, EOB runs across blocks — must decode to
    EXACTLY the same pixels as the baseline encoding of the same image
    (identical quantized coefficients, bit-identical output). Covers
    gray, 4:4:4, 4:2:0 (whose non-interleaved AC scans traverse the
    component's TRUE block grid, not the MCU-padded one), noise (every
    run/ZRL/EOB-run/correction-bit path), and 1-pixel edges."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(42)
    yy, xx = np.mgrid[0:21, 0:35]
    cases = [
        (np.stack([(yy * 3) % 256, (xx * 2) % 256, ((xx + yy) * 2) % 256], axis=2).astype(np.uint8), 95, False),
        (((yy * 5 + xx * 3) % 256).astype(np.uint8), 95, False),           # gray
        (rng.integers(0, 256, (40, 56, 3), np.uint8), 85, False),          # noise
        (rng.integers(0, 256, (20, 20, 3), np.uint8), 95, True),           # 4:2:0, w%16<8
        (rng.integers(0, 256, (1, 1, 3), np.uint8), 90, False),            # 1px
        (rng.integers(0, 256, (9, 17), np.uint8), 30, False),              # low q gray
    ]
    for px, q, sub in cases:
        blob_b = jpeg_encode(px, quality=q, subsample=sub)
        blob_p = jpeg_encode(px, quality=q, subsample=sub, progressive=True)
        assert b"\xff\xc2" in blob_p and b"\xff\xc0" not in blob_p[2:4]
        _, _, _, out_b = jpeg_decode(blob_b)
        _, _, _, out_p = jpeg_decode(blob_p)
        assert np.array_equal(out_b, out_p), (px.shape, q, sub)
    # multiple SOS markers actually present (a real scan script)
    assert blob_p.count(b"\xff\xda") >= 4


def test_jpeg_encode_rejects_restart_with_progressive():
    """restart_interval + progressive must fail LOUDLY (r8 ADVICE: it
    was silently dropped — no DRI, no RSTn — leaving the caller with an
    unsegmented stream and no signal)."""
    import numpy as np
    import pytest as _pytest

    from mlb_win_predictor_spark.operators.multimodal import jpeg_encode

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    with _pytest.raises(ValueError, match="restart_interval"):
        jpeg_encode(px, restart_interval=4, progressive=True)


def test_jpeg_malformed_input_fuzz():
    """Robustness property (r8 verdict #7): the decoder takes untrusted
    bytes through ~300 lines of bit-twiddling, so random TRUNCATIONS and
    BYTE FLIPS of valid streams must never escape the ValueError/
    NotImplementedError discipline — no IndexError, struct.error,
    KeyError, ZeroDivisionError, or hang. Same discipline the GIF codec
    got in r8. >=1000 deterministic mutations across baseline gray,
    baseline 4:2:0 + restarts, and progressive streams; benign mutations
    (APP0 bytes, entropy noise) may still decode — any decode must then
    return a sane (w, h, c, pixels) tuple."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(20260815)
    yy, xx = np.mgrid[0:24, 0:33]
    rgb = np.stack([(yy * 7) % 256, (xx * 5) % 256, ((xx ^ yy) * 3) % 256], 2).astype(np.uint8)
    streams = [
        jpeg_encode(((yy * 5 + xx) % 256).astype(np.uint8), quality=80),
        jpeg_encode(rgb, quality=85, subsample=True, restart_interval=3),
        jpeg_encode(rgb, quality=85, progressive=True),
    ]
    checked = 0
    for blob in streams:
        n = len(blob)
        muts = []
        # truncations at random points (skip 0/1: not past SOI)
        muts += [blob[: int(k)] for k in rng.integers(2, n, 120)]
        # single byte flips
        for k in rng.integers(0, n, 200):
            m = bytearray(blob)
            m[int(k)] ^= int(rng.integers(1, 256))
            muts.append(bytes(m))
        # double flips + flip-then-truncate (compound damage)
        for _ in range(60):
            m = bytearray(blob)
            for k in rng.integers(0, n, 2):
                m[int(k)] ^= int(rng.integers(1, 256))
            muts.append(bytes(m[: int(rng.integers(4, n + 1))]))
        for m in muts:
            checked += 1
            try:
                w, h, c, px = jpeg_decode(m)
            except (ValueError, NotImplementedError):
                continue
            assert w > 0 and h > 0 and c in (1, 3)
            assert px.shape[0] == h and px.shape[1] == w
    assert checked >= 1000, checked


def test_jpeg_progressive_scan_fuzz():
    """Progressive-specific fuzz breadth (r9 verdict #7): the multi-scan
    progressive path is the newest ~400 lines of bit-twiddling, and the
    generic whole-stream fuzz only samples its structure uniformly.
    This targets the progressive machinery by parsing the marker layout
    and mutating INSIDE it:

    - truncation mid-scan for EVERY scan segment (first DC scan, AC
      first passes, and the successive-approximation REFINEMENT scans —
      a truncation mid-refinement leaves coefficients half-refined);
    - dense byte corruption confined to refinement-scan entropy data
      (breaks EOB-run lengths and correction bits specifically);
    - scan-header parameter corruption (Ss/Se/Ah/Al bytes → invalid
      spectral-selection / approximation combos);
    - scan-segment surgery: drop a scan, duplicate a refinement scan,
      and swap two scans (out-of-order refinement must not crash).

    Discipline as the baseline fuzz: ValueError/NotImplementedError or
    a sane (w, h, c, pixels) decode — never IndexError/struct.error/
    KeyError/ZeroDivisionError/hang."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(20260816)
    yy, xx = np.mgrid[0:24, 0:33]
    rgb = np.stack(
        [(yy * 7) % 256, (xx * 5) % 256, ((xx ^ yy) * 3) % 256], 2
    ).astype(np.uint8)
    streams = [
        jpeg_encode(((yy * 5 + xx) % 256).astype(np.uint8), quality=80, progressive=True),
        jpeg_encode(rgb, quality=85, progressive=True),
        jpeg_encode(rgb, quality=40, progressive=True),
    ]

    def scan_segments(blob: bytes) -> list[tuple[int, int, int]]:
        """(sos_off, entropy_off, entropy_end) per scan — entropy data
        runs from after the SOS header to the next marker that is not a
        stuffed 0x00 / RST."""
        segs, i = [], 2
        while i < len(blob) - 3:
            if blob[i] == 0xFF and blob[i + 1] == 0xDA:
                hlen = int.from_bytes(blob[i + 2 : i + 4], "big")
                ent = i + 2 + hlen
                j = ent
                while j < len(blob) - 1:
                    if blob[j] == 0xFF and blob[j + 1] not in (0x00, *range(0xD0, 0xD8)):
                        break
                    j += 1
                segs.append((i, ent, j))
                i = j
            else:
                i += 1
        return segs

    def check(m: bytes) -> None:
        try:
            w, h, c, px = jpeg_decode(m)
        except (ValueError, NotImplementedError):
            return
        assert w > 0 and h > 0 and c in (1, 3)
        assert px.shape[0] == h and px.shape[1] == w

    checked = 0
    for blob in streams:
        segs = scan_segments(blob)
        assert len(segs) >= 4, "progressive encode produced too few scans"
        for si, (sos, ent, end) in enumerate(segs):
            # truncation mid-scan: dense sampling inside THIS scan's
            # entropy data, plus the exact boundaries
            cuts = {ent, ent + 1, end - 1, end}
            cuts |= {int(k) for k in rng.integers(ent, max(end, ent + 1), 24)}
            for k in sorted(cuts):
                check(blob[:k])
                checked += 1
            # entropy corruption confined to the scan (EOB runs /
            # correction bits); refinement scans are the later ones
            if end > ent + 1:
                for k in rng.integers(ent, end, 40):
                    m = bytearray(blob)
                    m[int(k)] ^= int(rng.integers(1, 256))
                    check(bytes(m))
                    checked += 1
            # scan-header parameter corruption: last 3 header bytes are
            # Ss, Se, AhAl — force invalid combos incl. Ss>Se, Al jumps
            for vals in ((63, 0, 0), (1, 0, 0x10), (0, 63, 0x32), (62, 1, 0x01)):
                m = bytearray(blob)
                m[ent - 3 : ent] = bytes(vals)
                check(bytes(m))
                checked += 1
        # scan surgery: drop / duplicate / swap whole scan segments
        for si in range(len(segs)):
            sos, _, end = segs[si]
            check(blob[:sos] + blob[end:])  # drop scan si
            checked += 1
            check(blob[:end] + blob[sos:end] + blob[end:])  # duplicate
            checked += 1
        (s0, _, e0), (s1, _, e1) = segs[0], segs[-1]
        swapped = blob[:s0] + blob[s1:e1] + blob[e0:s1] + blob[s0:e0] + blob[e1:]
        check(swapped)
        checked += 1
    assert checked >= 500, checked


def test_png_wav_gif_malformed_input_fuzz():
    """Same malformed-input discipline for the OTHER three codecs (r9):
    random truncations / byte flips of valid PNG (all flavors incl.
    Adam7 + palette), WAV, and GIF streams must raise ValueError /
    NotImplementedError only — closes the latent escapes a quick audit
    found (zlib.error through an un-wrapped inflate, struct.error on a
    short fmt/IHDR/screen-descriptor, ZeroDivisionError on a
    zero-channel fmt, and a multi-GB zeros() on flipped Adam7 IHDR
    dimension bytes)."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import (
        gif_decode,
        gif_encode,
        png_decode,
        png_encode,
        png_encode_palette,
        wav_decode,
        wav_encode,
    )

    rng = np.random.default_rng(20260816)
    g = (np.arange(19 * 23, dtype=np.uint8) % 251).reshape(19, 23)
    rgb = np.stack([g, g.T[:19, :23] if False else g, 255 - g], 2)
    pal = (g % 7).astype(np.uint8)
    pal_rgb = np.stack([pal * 30, pal * 20, pal * 10], 2).astype(np.uint8)
    frames = [rgb, np.roll(rgb, 5, axis=1)]
    streams = [
        ("png", png_decode, png_encode(g, filters=range(5))),
        ("png", png_decode, png_encode(rgb, interlace=True)),
        ("png", png_decode, png_encode_palette(pal_rgb)),
        ("wav", wav_decode, wav_encode((g.astype(np.int16) * 120 - 11111).reshape(-1, 1))),
        ("gif", gif_decode, gif_encode(frames)),
    ]
    checked = 0
    for _tag, dec, blob in streams:
        n = len(blob)
        muts = [blob[: int(k)] for k in rng.integers(2, n, 80)]
        for k in rng.integers(0, n, 120):
            m = bytearray(blob)
            m[int(k)] ^= int(rng.integers(1, 256))
            muts.append(bytes(m))
        for _ in range(40):
            m = bytearray(blob)
            for k in rng.integers(0, n, 2):
                m[int(k)] ^= int(rng.integers(1, 256))
            muts.append(bytes(m[: int(rng.integers(4, n + 1))]))
        for m in muts:
            checked += 1
            try:
                dec(m)
            except (ValueError, NotImplementedError):
                continue
    assert checked >= 1000, checked

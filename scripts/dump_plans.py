"""Regenerate PLANS.md from live explain("formatted") output."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mlb_win_predictor_spark.queries import QUERIES  # noqa: E402
from mlb_win_predictor_spark.session import get_spark  # noqa: E402

PICKS = [
    ("scan_project_filter", "filter + projection pushed into the parquet scan"),
    ("q1_pricing_summary", "partial (map-side) aggregation before the single exchange"),
    ("broadcast_dim_join", "dim enrichment with zero fact-side shuffle"),
    ("q5_region_revenue", "5-way star join: every dim broadcast, one agg exchange"),
    ("flagship_asof_funnel", "as-of window + aggregation: one hash partitioning"),
    ("nearest_centroid_assign", "centroid broadcast + per-row argmin"),
    ("q18_large_orders", "having-filtered agg joined back: AQE sizes the join at runtime"),
    ("dense_global_index", "global dense ids via range partitioning — no SinglePartition stage"),
    ("tfidf_top_terms", "fan_out round-robin on the token-bound scan, two hash aggs + broadcast corpus count + per-doc rank window"),
    ("q6_forecast_revenue", "full predicate pushdown + 4-column pruned scan, partial agg only"),
    ("q4_order_priority", "EXISTS as left-semi join (no payload, build-side dedup)"),
    ("decontamination_overlap", "benchmark gram set broadcast; corpus streams map-only into partial agg"),
    ("ngram_repetition", "staged projections: tokens→grams materialized once, zero shuffle"),
    ("q21_waiting_supplier", "decorrelated EXISTS/NOT-EXISTS: one lineitem scan, groupBy + windows over one l_orderkey exchange"),
    ("q17_small_quantity_revenue", "correlated per-part avg join-back (un-hinted: per-part stats scale with SF; AQE broadcasts at bench size)"),
    ("q22_sales_opportunity", "scalar-subquery threshold broadcast + left-anti against date-pruned recent orders"),
    ("crossdoc_dup_fraction", "hashed-long grams; doc-frequency as count-over-window — one gram exchange feeds count and per-row df"),
    ("dedup_jaccard_prefix", "PPJoin on hashed shingles: df-ranked prefix self-join, length+positional prunes; re-check sides un-hinted (AQE broadcasts when they fit, shuffled join at corpus scale)"),
    ("bm25_score", "corpus stats as one broadcast agg; per-doc tf stays map-only"),
    ("table_diff_reconcile", "co-partitioned full-outer changeset on the snapshot key"),
    ("time_resample_ffill", "calendar explode map-side; one window per user for the ffill"),
    ("winsorize_per_group", "percentile bounds broadcast back; clamp is map-only"),
    ("key_skew_profile", "key histogram + broadcast scalar total, TakeOrderedAndProject top-k"),
    ("corpus_prep_pipeline", "quality gate + dedup window + chunk explode fused into one plan, two exchanges"),
    ("balanced_mixture_sample", "broadcast count gate: integer hash predicate filters map-side, zero corpus shuffle"),
    ("vocab_top_terms", "map-side-combined (lang,term) agg; top-k as WindowGroupLimit, no global sort"),
    ("duplicated_span_dedup", "ONE corpus scan: per-(gram,doc) position lists, doc-frequency as count-over-window on the compacted table; islands windows + span rollup share the doc_id exchange"),
    ("hybrid_search_rrf", "both ranker pools via TakeOrderedAndProject (distributed top-k, no global sort); rank windows touch only pool rows"),
    ("similarity_sq8_rerank", "per-dim stats as one 64-group agg broadcast; coarse pass map-only over dequantized codes; exact re-rank joins the tiny pool back, AQE-broadcast"),
    ("time_weighted_avg", "lead-window and groupBy share one event_type exchange; exact µs×decimal fold"),
    ("recursive_hierarchy_rollup", "native WITH RECURSIVE: per-level frontier joins against the static part scan (UnionLoop), then one rollup agg"),
    ("lateral_topn_subquery", "correlated LATERAL+LIMIT decorrelated to broadcast join + map-side WindowGroupLimit (partial below the exchange)"),
    ("span_removal_stats", "one-scan staging shared with duplicated_span_dedup; gram window carries df AND min-doc on one exchange"),
    ("bitmap_distinct_rollup", "exact mergeable distinct: per-bucket bitmaps, daily sum(bitmap_count) + or_agg re-merge for totals — no fact rescan"),
    ("source_overlap_matrix", "per-gram source sets from ONE agg (df==1 dropped pre-pairing); pairs expanded map-side, no self-join"),
    ("quantile_binning", "exact NTILE without a SinglePartition window: range-partitioned dense index + bucket arithmetic"),
    ("similarity_filtered_topk", "metadata predicate as the JOIN KEY (pre-filter): label equality is the hash key, queries broadcast"),
    ("bigram_logprob_quality", "staged token projection (split once), xxhash64-long keys on every exchange; model joins vocab-bounded"),
    ("time_interpolate_linear", "backward + forward ignore-nulls windows over ONE per-user partitioning"),
]

# Static appendix blocks preserved across regenerations (A/B evidence that
# is measured, not derived from a live plan dump).
APPENDIX = """
## recursive_hierarchy_rollup — per-iteration latency floor (round-4 A/B)

The entry costs ~1.5s at sf0.1 — the most expensive non-PPJoin headline
entry. Round-4 A/B (median of 3 warm runs, local[32], sf0.1):

| variant | time | note |
|---|---|---|
| full recursion (anchor + 4 join levels) | 1.50–1.79s | as shipped |
| `AND w.depth < 3` (3 join levels) | 1.25s | −1 level ≈ −0.25s |
| `AND w.depth < 1` (1 join level) | 0.60s | |
| trivial body, 5 levels, NO join | 0.43–0.53s | pure `UnionLoop` floor ≈ 0.09s/iteration |
| `/*+ BROADCAST(w) */` on the frontier | 1.39–1.52s | REJECTED: last-level frontier is O(\\|part\\|) — not broadcastable at scale |
| `/*+ REPARTITION(4) */` recursive member | 1.26–1.46s | REJECTED: hardcodes bench-sized partitioning; at 100 TB the level outputs need real parallelism |

Conclusion: cost = ~0.09s/iteration UnionLoop scheduling floor plus
~0.2s/level of exchange latency on a 20k-row join — fixed overhead, not
data-proportional work. The iteration count is `log10(max key)` and grows
only logarithmically with the keyspace, so at 100 TB the same ~5-7
iterations amortize over real per-level join work; the bench-scale cost
IS the floor. Both hint variants buy <15% here by pinning plan choices
that are wrong at scale — kept un-hinted, AQE decides per level.

## bigram_logprob_quality — staged-projection A/B (round 4)

Inlining the regex `split` into the bigram-building `transform` lambda
re-evaluates the split per array ELEMENT (Catalyst does not CSE the
subexpression across lambda invocations): 8.6–9.2s at sf0.1. Staging the
token array in its own projection first (`select(split(...).alias("toks"))`
then transform over the column) drops the same plan to 1.5–1.7s — a 5x
win from one projection boundary. Rule now applied across the text
family: any array consumed inside a HOF lambda is materialized by a
staged projection first.

## Word-n-gram build + explode shape — round-5 A/Bs

Three measured refinements to the text-family gram pipelines (all at
sf0.1, interleaved in-session A/Bs so ambient load cancels):

1. **Gram expression: `concat_ws` over n `element_at` probes beats
   `array_join(slice(toks, i, n))`** inside the interpreted transform
   lambda — slice allocates an n-element array per gram. Bigram-build
   explode+count pipeline: 4.0s → 1.1s warm (same values byte-for-byte;
   `word_ngrams` now emits the probe form, every consumer inherits it).
2. **Explode consumes the gram expression INLINE.** Staging the gram
   array in its own projection before `explode` adds a full-array
   materialization ahead of the Generate. Steady-state the gap is small
   (0.73s vs 0.63s on the decontamination shape, interleaved), but the
   staged form pays a much larger first-run codegen spike (3.0s vs 1.1s
   cold) — large generated projections JIT slowly. The inline form is
   never worse; `top_ngram_coverage` and the A/B are the record. This is
   the INVERSE of rule (1)'s staging: `toks` is probed per element by
   the HOF (stage it), the gram array is consumed once by the generator
   (don't).
3. **Per-group argmax: `max(struct(cnt, gram))` beats a
   row_number window** (lexicographic struct order = count desc, gram
   desc tie-break): partial-aggregable second groupBy instead of a
   partition sort — 0.5s vs 1.4s on `top_ngram_coverage`, and at scale
   a map-side-combinable agg instead of per-doc sort state.

## Exact-NTILE dense-index floor (ccnet_perplexity_buckets, rfm_segments)

Each `dense_global_index` costs ~1–1.5s at sf0.1 in local mode: a
range-exchange (with its sampling pass) + per-partition-count collect +
offset broadcast join — the same per-stage scheduling floor documented
for `recursive_hierarchy_rollup` (PLANS.md round-4 appendix), paid once
per ranked dimension (1× ccnet, 3× RFM). The input tables are cached at
the score grain first so none of those stages rescans the corpus. The
floor is latency, not throughput: at 100 TB the same plan is three
parallel range shuffles over the user grain, which is the correct and
only exact-quantile shape; pinning a bench-sized shortcut (coalesce(1)
for small n) would be the wrong-at-scale plan the round-3/4 hint audits
rejected.


## ngram_containment_pairs / ngram_jaccard_pairs — carried-size self-join (round 5)

The original plan joined the pair counts back to TWO size tables (one
per direction) and self-joined on shingle STRINGS, recomputing the
shingle build four times (two join legs + two size legs). Round-5
shape: ONE cached exploded table carrying `n_sh` alongside each
(doc_id, xxhash64(shingle)) row — the self-join shuffles 8-byte longs,
the sizes ride the pair aggregation as `first()` aggregates, and both
containment directions (or the Jaccard denominator) come straight off
the single agg. Interleaved A/B at sf0.1: 1.55s → ~1.05s median for
containment; hash-key discipline identical to the span-dedup family
(pair counts unchanged w.h.p., oracle hash-parity re-verified at
sf0.001 + sf0.01 after the change).


## Post-review fixes (round 5, self-run code review over the round diff)

A medium-effort review pass over the full round-5 diff surfaced ten
findings; disposition:

1. **VersionedTable lost-update race (confirmed, fixed):** the shared
   `v=N` rename + orphan-reclaim let a live loser rmtree the winner's
   just-renamed snapshot before the winner's marker landed. Redesigned
   to marker-as-pointer: snapshot dirs keep unique names, the marker
   content names the winning dir, losers only ever delete their own
   data. Deterministic interleaving regression test added
   (`test_publish_interleaving_cannot_lose_winner_data`).
2. **vacuum could destroy live staging (confirmed, fixed):** staging
   sweep is now TTL-guarded (Delta retention-window style, default 1h).
3. **decontaminate_stream NULL-gram crash (confirmed, fixed):** pandas
   UDFs evaluate in their own ArrowEvalPython node over every row, so an
   enclosing when() cannot shield them from nulls; the gate now probes
   an inner-exploded gram table and left-joins doc survival back, the
   probe itself is null-safe, and the test plants a sub-n-token doc.
4. **JM floor overrode hapax events (confirmed, fixed):** floor lowered
   to 0.5·(1−λ)/N — strictly below the attainable minimum (1−λ)/N — so
   it binds only for true OOV; λ=1 keeps 0.5/N purely as the ln(0)
   guard. Reductions + oracle parity re-verified.
5. **zipf_law_fit uncached dense-index input (confirmed, fixed):**
   vocab table cached like ccnet/rfm.
6. **2^14-vs-2^12 doc drift (confirmed, fixed):** docstrings corrected.
7. **ngram_shingles kept the slow slice gram form (confirmed, fixed):**
   element_at probe form applied; MinHash/banded shingle builds inherit.
8. **exact-NTILE formula duplicated 3× (confirmed, fixed):** hoisted to
   `operators/indexing.py::exact_ntile`; quantile_binning, ccnet, and
   RFM all call it.
9. **SCD2 rebuild/AS-OF twin pipelines (accepted, documented):** the
   duplication is deliberate (portable-timestamp vs exact-microsecond
   representations); both docstrings now cross-reference and warn that
   fixes must land in both.
10. **Entry-level cache() without unpersist (accepted, documented):**
    entries return LAZY DataFrames, so they cannot unpersist what their
    consumer has not yet materialized; bench.py clears the cache between
    queries (each timing pays its own population), and long-lived
    sessions own cache hygiene — same contract as the pre-existing
    cached entries (minhash signatures, PPJoin shingle sets).

### Second review pass (high effort, over the fix commits themselves)

Six further findings on the marker-as-pointer protocol and round-5
additions; all fixed:

1. **vacuum's unreferenced-dir sweep lacked an age guard** — a live
   writer inside the rename→marker window looks exactly like an orphan.
   Now: dirs belonging to versions whose markers vacuum itself is
   dropping sweep unconditionally (no live owner possible); dirs never
   referenced by any marker sweep only past the retention TTL.
2. **marker create + pointer write were not atomic** — open("x") then
   write exposed (reader race) or persisted (crash) an empty marker
   that mis-resolves to the legacy v=N dir. Now the content is written
   to a private tmp file and os.link() publishes it: the CAS and the
   content are one atomic operation, the marker is born non-empty.
3. **the "null-safe" bloom probe would have corrupted every hash in a
   null-bearing batch** — an int64 Arrow batch containing a null
   arrives as float64, silently rounding hashes beyond 2^53 into Bloom
   FALSE NEGATIVES. There is no safe in-UDF recovery (bits are gone at
   the boundary), so the probe now enforces a hard no-null/int64
   contract with a loud error; callers (decontaminate_stream) filter
   nulls structurally.
4. **vacuum swallowed OSError when resolving KEPT markers** — a
   transient read failure would have classified live data as
   unreferenced. Now it propagates (abort beats sweep).
5. **snapshot names were only process-lifetime unique** — pid recycling
   against a not-yet-vacuumed orphan could break the "never contended"
   rename. Names now carry a uuid fragment.
6. **the guarded n-gram builder existed in two copies** (text.py +
   dedup.py, each hand-patched twice already) — hoisted to
   `functions/ngrams.py::word_ngrams`; both import it.

### Third review pass (older query files: events/ops/embeddings)

Nine findings; disposition:

1. **ewma_user_activity skipped gap days (oracle-blind semantic bug,
   fixed):** both engines lagged over OBSERVED days only, so a month of
   inactivity contributed no decay — the smoother stayed hot exactly
   when alerting needs it cold. Now both sides densify each user's
   min..max calendar (the time_resample idiom) so gap days are
   zero-count taps.
2. **pmod vs % sign divergence (latent, hardened):** variant bucket SQL
   now uses ((k % 10) + 10) % 10, the sign-safe dual of Spark's pmod.
3. **CAST vs TRY_CAST in JSON duals (latent crash, hardened):** DuckDB
   plain CAST aborts on a non-integer k where Spark's ANSI-off cast
   yields NULL; all three JSON SQL duals now TRY_CAST (the residual
   '12.5'→13-vs-NULL divergence would fail parity loudly, documented).
4. **dedup_latest_event naming (documented):** the entry keeps the
   EARLIEST row (first-write-wins — the reference's PK semantics); the
   docstring now spells out the reading and points last-write-wins
   consumers at merge_upsert / cdc_apply_changelog. Not renamed: the
   driver's fixed CORRECTNESS sample is keyed by entry name.
5-7. **Dead code removed:** _DOT_SQL (never formatted), _cosine (never
   called), unused dense_global_index import.
8. **SESSION_SQL / SESSION_NATIVE_SQL CTE duplication (accepted):** the
   two texts share the lag-cumsum construction but select different
   column sets from it; both are parity-pinned, and a .format-composed
   shared CTE was judged more fragile than the 12 duplicated lines.
9. **w2/wp window aliases removed** (pure indirection).

## Round-6 plan audits (new entries)

### llm_dataset_pipeline_neardup

Shuffle shape on top of v1's audited plan (text window, gram agg +
broadcast probe, source window, rollup): one map-only MinHash signature
projection over exact-dedup SURVIVORS (never the raw corpus), the banded
self-join whose row volume is `bands` rows/doc and whose join output
tracks actual collisions, the exact-Jaccard re-check joining candidate
ids back to the cached hashed-shingle table, and the component loop over
the EDGE set only (near-dup density, not corpus size; per-iteration
localCheckpoint truncates lineage, final labels eagerly checkpointed so
the edge cache is released before return — ADVICE r5 cache-scope fix).
The near-drop table joins back to the doc grain as a left join on
doc_id; at 100 TB that's a broadcast (near-dup ids ≪ corpus) — left to
AQE rather than pinned, same policy as the corpus-sized re-check sides.
Stages 1-2/4-5 are v1's own code by call (`_llm_pipe_base` /
`_llm_pipe_finish`), so their plan dispositions carry over verbatim.

### versioned_zonemap_lookup

The scan plans only the files whose zone-map [min,max] overlaps the key
range — at sf0.001 the fixed [1000,2999] range spans ~1/3 of the
keyspace (6/16 files kept, pinned in tests/test_table.py); at sf0.01
the same range is 3% of the keyspace (15/16 pruned). The snapshot build
(repartitionByRange(16) + sortWithinPartitions) happens once per sf_dir
into a content-tagged temp location; steady-state calls plan
`spark.read.parquet(<kept files>)` + the residual range filter, which
parquet row-group stats then prune further. No shuffle except the final
single-row agg.

### multimodal_decode_png

Two chained mapInPandas stages (encode from doc bytes, decode+stats),
both map-only — zero shuffle until the 2-group final agg. The codec
travels BY VALUE inside the closures (factory-scoped qualnames: workers
without the repo on sys.path can still unpickle — same discipline as
the bloom probe; verified by the foreign-cwd driver-sim). Python cost
is per-byte linear (zlib + per-scanline numpy); Arrow batch transfer,
bounded batch memory. At 100 TB the decode stage's shape is exactly
what a real PIL/libav deployment needs: swap the codec body, keep the
plan.

### ANN frontier measurement notes (ANN.md)

IVF recall at 2k vectors is structurally low (true top-10 spreads
across 16 cells; probing 4 cells caps recall ~0.52) — at corpus scale
cells hold thousands of vectors and the same probe fraction recovers
the usual >0.9; the catalog's gated `similarity_ann_ivf` entry operates
at k=3 over 8 queries where the bound holds today. PQ wall time at
sf0.1 is dominated by 16 per-subspace KMeans fits (index-build cost,
amortized in any real deployment where codes are stored). SQ8
dominates this scale outright (recall 1.0 at pool=2k, ~2s — below the
exact baseline's 2.3s and an order cheaper than PQ): the right default
until the corpus outgrows a broadcastable stats row.

### Cache-scope policy (ADVICE r5 disposition)

The advisor flagged query-path `.cache()` sites that outlive their entry
(ngram_jaccard_pairs, decontaminate_bloom, zipf_law_fit,
ccnet_perplexity_buckets, rfm_segments, ...). Disposition: bench.py has
cleared ALL caches + GC'd both runtimes per entry since round 4
(bench.py::run_query — each timing includes its own cache population and
nothing else), so headline numbers were never order-dependent; a
long-lived multi-entry session should do the same
(`spark.catalog.clearCache()` between entries). The caches themselves
stay: each exists because the entry's plan forks (internal
sampling/count actions + the final pass) and the A/B cost of dropping
them is recorded in the dense-index floor notes. The one structural
leak — `components_from_pairs`' edge cache, which survives INTO the
caller's lazy plan — is now released behind an eager final checkpoint
(round 6).

### Filter-below-Project re-inlining: never filter on a HOF-derived array above its projection

`ngram_shingles` originally dropped short docs with
`.filter(size("shingles") > 0)` placed ABOVE the gram projection.
Catalyst pushes a deterministic Filter below a Project by substituting
the projected expression into the predicate — so the filter became a
per-row re-evaluation of the ENTIRE interpreted gram transform with the
`split()` re-inlined at every `element_at` probe (3 full text re-splits
per gram per row, visible verbatim in the physical plan's Filter node,
even pushed into the parquet scan as a DataFilter). The staged `_toks`
projection only protected the Project, not the pushed-down copy of the
predicate. Measured at sf1: the shingle pass alone was **81.6s**, the
whole banded-minhash family 106–217s per entry.

Fix (one line, semantics identical): filter on the CHEAP precondition
below the gram projection — `size(split(text)) >= n` ⟺
`size(shingles) > 0`, since ≥ n tokens always yield ≥ 1 gram and
array_distinct never empties a non-empty array. Applied to
`operators/dedup.py::ngram_shingles` and the two inline sites in
`queries/text.py` (ngram_jaccard/containment_pairs). After:

| entry (sf1, 10× data) | before | after | ratio after |
|---|---|---|---|
| dedup_minhash_banded | 156.8s | 20.3s | ~2.0× |
| dedup_minhash_lsh | 216.8s | 31.2s | ~5.5× |
| dedup_end_to_end | 106.3s | 18.6s | ~2.6× |
| dedup_cluster_profile | 129.1s | 16.9s | ~3.1× |
| dedup_incremental | 111.3s | 11.9s | ~3.6× |
| ngram_containment_banded | 118.1s | 20.1s | ~4.7× |
| llm_dataset_pipeline_neardup | 108.3s | 12.2s | ~1.9× |

General rule this adds to the HOF discipline (functions/ngrams.py):
a filter whose predicate mentions a HOF-computed column must sit where
pushdown can't substitute the HOF — either rewrite the predicate on the
HOF's INPUTS (done here), or keep the filter above a materialization
barrier. Grepped the repo for other `filter(size(<hof-col>))` shapes:
the remaining ones sit above aggregates (collect_set) or cheap
fixed-width arrays, where substitution is harmless.

### bpe_train_merges / bpe_segmentation_stats (round-6 second batch)

Per-iteration argmax plan (verified `.explain("formatted")`):
`Scan ExistingRDD (localCheckpoint) → Project → Generate(explode
arrays_zip(slice,slice)) → partial HashAggregate → Exchange
hashpartitioning(l,r) → final HashAggregate → TakeOrderedAndProject(1)`.
Properties that matter at scale:

- the ONLY corpus-grain work is the initial word count (one shuffle with
  map-side combine); every iteration runs at the distinct-word grain
  (Heaps-law sublinear in corpus size);
- pair counting partial-aggregates BEFORE the exchange — the shuffle
  carries (l, r, partial_sum) rows bounded by (distinct pairs ×
  partitions), not exploded pair occurrences;
- the argmax is `TakeOrderedAndProject(limit=1)` — per-partition top-1
  then driver merge of #partitions rows; NO global sort, no
  SinglePartition window;
- merge application is a single whole-stage-codegen Project (native
  `F.aggregate` fold gated by array_contains — non-matching words skip
  the fold); zero Python boundary anywhere in training;
- `localCheckpoint(eager)` per iteration keeps lineage O(1) — same
  discipline as PageRank / label propagation;
- driver state: ONE argmax Row per iteration + the n_merges-row result.

`bpe_segmentation_stats` replays merge PREFIXES (12 Project passes) after
ONE training run instead of retraining per checkpoint (24 searches → 12).

### multimodal_frame_sample_gif / multimodal_resize_png / multimodal_image_embed

All three are straight-line `fan_out scan → mapInPandas encode →
mapInPandas decode/transform → (tiny) final agg` pipelines: zero shuffle
until the digest agg, per-row CPU ∝ payload bytes, Arrow-batched. The
GIF LZW codec is sequential per payload by nature (dictionary state) —
parallelism comes from rows, which is the right axis: `fan_out` splits
the single-row-group scan so the Python codec stages use all cores (same
fix as the PNG/WAV entries, measured 27x at sf1 in the round-6 sweep).
Frame fan-out is bounded at max_frames rows/clip regardless of clip
length, so downstream aggs can't be blown up by a pathological payload.

## Round-7 plan audits (iterative operators)

`pagerank_copurchase` and `ml_knn_k_leaderboard` RETURN materialized
checkpoints (their dumped plan is just `Scan ExistingRDD`), so the
load-bearing plans are the ones INSIDE the loop / before the checkpoint —
audited here rather than dumped above:

- **pagerank (operators/graph.py)** — links BUILD (r8): ONE edge
  shuffle total — `repartition("src")` first, then
  `dropDuplicates(src, dst)` and a window `count over (partition by
  src)` for the out-degree, both of which Catalyst satisfies on the
  existing hash(src) partitioning with no further Exchange (pinned by
  tests/test_plans.py on a local-relation edge list; the r7 shape paid
  three edge shuffles: the (src,dst) distinct, the degree groupBy, and
  the post-join repartition). Per-iteration plan: the persisted links
  table scans as an InMemoryTableScan whose HashPartitioning(src)
  satisfies the join's distribution, so the per-step join exchanges
  ONLY the rank vector (one row per node); `groupBy("dst")` is the one
  aggregation exchange (partial map-side agg bounds hot in-degree keys
  to one row per map partition — the power-law skew test pins this);
  the dangling mass is a 1-row broadcast (crossJoin(broadcast(...))),
  and for graphs with no dangling nodes the agg is replaced by a
  literal 0.0 — no job at all. Optional `tol` early-exit compares two
  already-materialized checkpoints (no recompute) in a 1-row max.
  Storage bounded to one rank copy: the previous step's localCheckpoint
  RDD is explicitly unpersisted once the new one materializes.
- **kNN grid (ml/knn.py)** — the ranking plan before the checkpoint:
  bucket ids are `floor(v·g/w)` literal-direction expressions (no
  VectorUDT, no MLlib fit job), query side explodes 3 tables × 3 probes,
  train side 3 tables; the candidate join is a plain equi-join on
  `(_t, _bucket)` followed by dropDuplicates on (test_id, n_id) and an
  exact zip_with euclidean — all whole-stage codegen. The leaderboard
  plan reads the checkpointed ranking (`Scan ExistingRDD`), fans it out
  via a broadcast k-grid theta-join (rn <= k), and scores every k in one
  action: tests/test_plans.py pins that no parquet scan and no Generate
  (LSH explode) appears below the vote.
"""


def main() -> None:
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical plans of representative catalog queries",
        "",
        f"Generated by `python scripts/dump_plans.py` (Spark {spark.version}, sf0.01).",
        "Plan-shape invariants are enforced by `tests/test_plans.py`; this file is",
        "the human-readable evidence.",
        "",
    ]
    for name, why in PICKS:
        df = QUERIES[name].fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", f"*{why}*", "", "```", tree.strip(), "```", ""]
    out.append(APPENDIX.strip())
    out.append("")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))


if __name__ == "__main__":
    main()

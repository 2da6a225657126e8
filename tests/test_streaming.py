"""Structured Streaming tests (SURVEY §2.7): each streaming job, driven
to completion over file micro-batches, must agree with its batch dual."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mlb_win_predictor_spark.fixtures import write_fixtures
from mlb_win_predictor_spark.queries.events import tumbling_window_agg
from mlb_win_predictor_spark.session import load_table
from mlb_win_predictor_spark.streaming import (
    click_purchase_stream_join,
    dedup_stream,
    read_events_stream,
    tumbling_stream,
    session_stream,
    upsert_outcomes_foreach_batch,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Events table split into 3 files => 3 file-source micro-batches."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "events_0.parquet")
    return str(d)


def _run_to_memory(spark, df, name, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, tumbling_stream(stream), "t_tumbling", "complete")
    batch = tumbling_window_agg(spark, SF)
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_session_stream_runs(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, session_stream(stream), "t_session", "complete")
    rows = out.collect()
    assert len(rows) > 0
    n_events = sum(r.n_events for r in rows)
    assert n_events == load_table(spark, SF, "events").count()


def test_stream_stream_join_matches_batch(spark, events_dir):
    from mlb_win_predictor_spark.queries.events import event_pair_join

    stream = read_events_stream(spark, events_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    out = _run_to_memory(
        spark, click_purchase_stream_join(clicks, purchases), "t_ssjoin"
    )
    got = {(r.user_id, r.click_id, r.purchase_id) for r in out.collect()}
    want = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in event_pair_join(spark, SF).collect()
    }
    assert got == want
    assert len(want) > 0


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    src = tmp_path / "dups"
    src.mkdir()
    e = load_table(spark, SF, "events").filter(F.col("event_id") < 200)
    # plain files (not Spark output dirs): the file source doesn't recurse
    e.toPandas().to_parquet(str(src / "a.parquet"), index=False)
    e.filter(F.col("event_id") < 50).toPandas().to_parquet(
        str(src / "b.parquet"), index=False
    )  # duplicate slice (pandas writes TIMESTAMP(NANOS) => nanos=True)
    stream = read_events_stream(spark, str(src), nanos=True)
    out = _run_to_memory(spark, dedup_stream(stream), "t_dedup")
    assert out.select("event_id").distinct().count() == out.count() == 200


def test_dedup_within_watermark_collapses_rescheduled(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the reschedule case — the same
    event_id re-emitted with a SHIFTED timestamp still collapses to one
    row, which ts-keyed dropDuplicates would keep twice."""
    from mlb_win_predictor_spark.streaming import dedup_stream_within_watermark

    src = tmp_path / "resched"
    src.mkdir()
    e = load_table(spark, SF, "events").filter(F.col("event_id") < 100)
    shifted = e.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    e.unionByName(shifted).toPandas().to_parquet(str(src / "a.parquet"), index=False)
    stream = read_events_stream(spark, str(src), nanos=True)
    out = _run_to_memory(
        spark, dedup_stream_within_watermark(stream), "t_dedup_wwm"
    )
    assert out.count() == 100
    assert out.select("event_id").distinct().count() == 100


def test_incremental_dedup_stream_across_batches(spark, tmp_path):
    """Docs arriving over two micro-batches: a doc duplicated across
    batches is kept once (the index grew between batches); within-batch
    copies are kept once; novel docs always survive."""
    import pandas as pd

    from mlb_win_predictor_spark.streaming import incremental_dedup_stream

    src = tmp_path / "docs_in"
    src.mkdir()
    mk = lambda i: " ".join(f"w{i}t{j}" for j in range(40))  # noqa: E731
    b0 = pd.DataFrame({"doc_id": [1, 2, 3], "text": [mk(1), mk(2), mk(3)]})
    # batch 1: doc 4 copies doc 1 (cross-batch dup), 5 novel, 6 copies 5 (in-batch dup)
    b1 = pd.DataFrame({"doc_id": [4, 5, 6], "text": [mk(1), mk(5), mk(5)]})
    b0.to_parquet(str(src / "b0.parquet"), index=False)
    b1.to_parquet(str(src / "b1.parquet"), index=False)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = incremental_dedup_stream(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "kept"),
        str(tmp_path / "ckpt"),
    ).start()
    q.processAllAvailable()
    q.stop()

    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert 1 in kept and 2 in kept and 3 in kept
    assert 4 not in kept, "cross-batch duplicate must be dropped"
    assert 5 in kept
    assert 6 not in kept, "within-batch duplicate must be dropped"

    # Replay safety: foreachBatch is at-least-once and the per-epoch
    # directories make the apply idempotent. Wipe the checkpoint so the
    # SAME epochs (0,1) are genuinely re-executed — each must reproduce
    # its own epoch dir (reading only epochs below itself), leaving the
    # corpus and index row-identical instead of appending duplicates.
    import shutil as _sh

    kept_rows = spark.read.parquet(str(tmp_path / "kept")).count()
    index_rows = spark.read.parquet(str(tmp_path / "index")).count()
    _sh.rmtree(str(tmp_path / "ckpt"))
    q2 = incremental_dedup_stream(
        stream,
        str(tmp_path / "index"),
        str(tmp_path / "kept"),
        str(tmp_path / "ckpt"),
    ).start()
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(str(tmp_path / "kept")).count() == kept_rows
    assert spark.read.parquet(str(tmp_path / "index")).count() == index_rows

    # crash-window replay: re-run epoch 1's body directly against the
    # committed state (as after a crash between its writes and the
    # checkpoint commit) — kept/index must be row-identical after
    from mlb_win_predictor_spark.streaming.jobs import _dedup_epoch

    b1_df = spark.createDataFrame(b1)
    with _dedup_epoch(b1_df, str(tmp_path / "index"), 1) as kept_replay:
        kept_replay.write.mode("overwrite").parquet(f"{tmp_path}/kept/epoch=1")
    assert spark.read.parquet(str(tmp_path / "kept")).count() == kept_rows
    assert spark.read.parquet(str(tmp_path / "index")).count() == index_rows
    assert {r.doc_id for r in spark.read.parquet(str(tmp_path / "kept")).collect()} == kept


def test_foreach_batch_upsert(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("upsert")
    fix = tmp_path_factory.mktemp("upsert_fix")
    write_fixtures(str(fix))
    games_path = str(d / "games_table")
    games = spark.read.parquet(f"{fix}/games.parquet")
    games.write.parquet(games_path)

    updates_dir = d / "updates"
    updates_dir.mkdir()
    upd = games.filter(F.col("game_id") < 716652).select(
        "game_id", F.col("away_team_id").alias("winning_team")
    )
    upd.toPandas().to_parquet(str(updates_dir / "u0.parquet"), index=False)

    stream = (
        spark.readStream.schema("game_id long, winning_team long")
        .parquet(str(updates_dir))
    )
    writer = upsert_outcomes_foreach_batch(
        stream, games_path, str(d / "ckpt")
    )
    q = writer.start()
    q.processAllAvailable()
    q.stop()

    merged = spark.read.parquet(games_path)
    assert merged.count() == games.count()
    changed = merged.alias("m").join(upd.alias("u"), "game_id").filter(
        F.col("m.winning_team") != F.col("u.winning_team")
    )
    assert changed.count() == 0


def test_stateful_running_totals(spark, events_dir):
    """applyInPandasWithState: final per-user state equals the batch
    aggregation over all events."""
    from mlb_win_predictor_spark.streaming import running_user_totals_stream

    stream = read_events_stream(spark, events_dir)
    out = _run_to_memory(
        spark, running_user_totals_stream(stream), "t_stateful", "update"
    )
    # update mode emits one row per user per batch touching it; the LAST
    # emission per user is the final state
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
    )
    g = {(r.user_id, r.n_events, round(r.total_value, 4)) for r in final.collect()}
    w = {(r.user_id, r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert g == w


def test_sliding_stream_matches_batch(spark, events_dir):
    from mlb_win_predictor_spark.queries.events import sliding_window_agg
    from mlb_win_predictor_spark.streaming import sliding_stream

    stream = read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, sliding_stream(stream), "t_sliding", "complete")
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in sliding_window_agg(spark, SF).collect()}
    assert got == want


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, events_dir):
    """transformWithStateInPandas (Spark 4 successor API): final per-user
    state equals both the batch aggregation and the
    applyInPandasWithState operator's final state.

    The TWS state-API client speaks protobuf; environments without the
    protobuf wheel (like this container) can't run the operator, so the
    test is import-gated — applyInPandasWithState is the tested
    equivalent path (test_stateful_running_totals)."""
    pytest.importorskip("google.protobuf")
    from mlb_win_predictor_spark.streaming import running_user_totals_tws

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_conf, None)
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, events_dir)
        out = _run_to_memory(spark, running_user_totals_tws(stream), "t_tws", "update")
    finally:
        if old is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, old)
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
    )
    g = {(r.user_id, r.n_events, round(r.total_value, 4)) for r in final.collect()}
    w = {(r.user_id, r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert g == w


def test_enrich_stream_static_matches_batch(spark, events_dir):
    """Stream-static broadcast enrichment: per-batch join against a
    static dim must equal the batch join (and carry dim attrs through)."""
    from mlb_win_predictor_spark.streaming import enrich_stream_static

    e_batch = load_table(spark, SF, "events")
    dim = (
        e_batch.select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    stream = read_events_stream(spark, events_dir)
    out = _run_to_memory(
        spark,
        enrich_stream_static(stream, dim).select("event_id", "user_id", "tier"),
        "t_enrich",
    )
    got = {tuple(r) for r in out.collect()}
    want = {
        tuple(r)
        for r in e_batch.join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "user_id", "tier")
        .collect()
    }
    assert got == want


def test_cms_sketch_stream_matches_full_sketch(spark, tmp_path):
    """Incremental CMS over 2 micro-batches == one full-corpus sketch:
    the persisted sketch never replays the stream yet is cell-identical."""
    import pandas as pd

    from mlb_win_predictor_spark.operators.sketches import cms_build
    from mlb_win_predictor_spark.streaming import cms_sketch_stream
    from mlb_win_predictor_spark.streaming.jobs import read_snapshot

    src = tmp_path / "ev_in"
    src.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")[["event_id", "user_id"]]
    full.iloc[: len(full) // 2].to_parquet(str(src / "h0.parquet"), index=False)
    full.iloc[len(full) // 2 :].to_parquet(str(src / "h1.parquet"), index=False)

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = cms_sketch_stream(
        stream, str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r.seed, r.bucket): r.n
        for r in read_snapshot(spark, str(tmp_path / "sketch")).collect()
    }
    want = {
        (r.seed, r.bucket): r.n
        for r in cms_build(spark.createDataFrame(full), "user_id").collect()
    }
    assert got == want


def test_incremental_rollup_stream_matches_batch_and_skips_replays(spark, tmp_path):
    """Materialized-view maintenance: the rollup after 2 micro-batches
    equals one batch agg over everything; re-delivering the same epochs
    (fresh checkpoint, same markers) must NOT double-count."""
    import pandas as pd

    from mlb_win_predictor_spark.streaming import incremental_rollup_stream
    from mlb_win_predictor_spark.streaming.jobs import read_snapshot

    src = tmp_path / "ev_roll"
    src.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")[["event_id", "ts", "event_type", "value"]]
    full["ts"] = full["ts"].astype("datetime64[us]")
    full.iloc[: len(full) // 2].to_parquet(str(src / "h0.parquet"), index=False)
    full.iloc[len(full) // 2 :].to_parquet(str(src / "h1.parquet"), index=False)

    def start(ckpt):
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = incremental_rollup_stream(
            stream, str(tmp_path / "rollup"), str(tmp_path / ckpt)
        ).start()
        q.processAllAvailable()
        q.stop()

    start("ckpt1")

    def snapshot():
        return {
            (str(r.day), r.event_type): (r.n, str(r.total))
            for r in read_snapshot(spark, str(tmp_path / "rollup")).collect()
        }

    got = snapshot()
    want = {
        (str(r.day), r.event_type): (r.n, str(r.total))
        for r in spark.createDataFrame(full)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(28,2)").alias("total"),
        )
        .collect()
    }
    assert got == want

    # replay: fresh checkpoint re-delivers epochs 0/1 with the same ids —
    # each replayed epoch recomputes from snapshots strictly below it
    # (deterministic), so the additive merge reproduces instead of re-adds
    start("ckpt2")
    assert snapshot() == got

    # crash-window replay: re-deliver the LAST epoch directly (as the
    # engine does after a crash between the snapshot write and the
    # checkpoint commit) — the per-epoch overwrite must not double-count
    from mlb_win_predictor_spark.streaming.jobs import (
        _committed_epochs,
        apply_rollup_epoch,
    )

    last = _committed_epochs(str(tmp_path / "rollup"))[-1]
    h1 = spark.createDataFrame(full.iloc[len(full) // 2 :])
    apply_rollup_epoch(h1, last, str(tmp_path / "rollup"))
    assert snapshot() == got


def test_versioned_epoch_readers_skip_uncommitted(spark, tmp_path):
    """read_snapshot / read_epoch_union must ignore an epoch dir whose
    write never completed (_SUCCESS absent — the torn-write crash state)
    and return empty/None before the first commit."""
    from mlb_win_predictor_spark.streaming.jobs import (
        read_epoch_union,
        read_snapshot,
    )

    path = str(tmp_path / "state")
    assert read_snapshot(spark, path) is None
    assert read_epoch_union(spark, path, "a long").count() == 0

    spark.range(3).selectExpr("id as a").write.parquet(path + "/epoch=0")
    torn = tmp_path / "state" / "epoch=1"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"not a parquet file")

    assert read_snapshot(spark, path).count() == 3
    assert read_epoch_union(spark, path, "a long").count() == 3
    assert read_epoch_union(spark, path, "a long", below=0).count() == 0


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with no purchase emits a
    NULL-purchase row once the watermark provably passes click_ts +
    horizon; matched clicks emit normally. Built from 3 micro-batches:
    data, then two future heartbeats (outer rows flush in the batch
    AFTER the watermark advance that frees them)."""
    import pandas as pd

    from mlb_win_predictor_spark.streaming import click_purchase_stream_join_outer

    src = tmp_path / "cpin"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def f(rows, name):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(str(src / name), index=False)

    f(
        [
            (1, t0, 10, "click", 1.0, "{}"),
            (2, t0 + pd.Timedelta("10min"), 10, "purchase", 5.0, "{}"),
            (3, t0, 20, "click", 1.0, "{}"),  # never converts
        ],
        "b0.parquet",
    )
    # heartbeats must reach BOTH join inputs: the global watermark is the
    # min over the two filtered branches, so a 'view' event would advance
    # neither. Future clicks+purchases advance both sides past
    # c2_ts + horizon; their own rows are not asserted on.
    f(
        [
            (4, t0 + pd.Timedelta("3h"), 99, "click", 0.0, "{}"),
            (5, t0 + pd.Timedelta("3h"), 98, "purchase", 0.0, "{}"),
        ],
        "b1.parquet",
    )
    f(
        [
            (6, t0 + pd.Timedelta("4h"), 99, "click", 0.0, "{}"),
            (7, t0 + pd.Timedelta("4h"), 98, "purchase", 0.0, "{}"),
        ],
        "b2.parquet",
    )
    stream = read_events_stream(spark, str(src), nanos=True).repartition(1)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    out = _run_to_memory(
        spark, click_purchase_stream_join_outer(clicks, purchases), "t_ssjoin_outer"
    )
    rows = {(r.user_id, r.click_id, r.purchase_id) for r in out.collect()}
    assert (10, 1, 2) in rows, "matched click missing"
    assert (20, 3, None) in rows, "unmatched click never emitted NULL row"


def test_incremental_bitmap_distinct_matches_batch_and_replay_safe(spark, tmp_path):
    """Exact-distinct bitmap maintenance: after 2 micro-batches the
    maintained state answers the same per-type distinct-user counts as a
    batch COUNT(DISTINCT); replaying an epoch's body against committed
    state changes nothing (bitmaps are idempotent under OR)."""
    import pandas as pd

    from mlb_win_predictor_spark.streaming import (
        incremental_bitmap_distinct_stream,
        read_bitmap_distinct,
    )
    from mlb_win_predictor_spark.streaming.jobs import apply_bitmap_epoch

    src = tmp_path / "ev_bm"
    src.mkdir()
    full = pd.read_parquet(f"{SF}/events.parquet")[
        ["event_id", "ts", "user_id", "event_type"]
    ]
    full["ts"] = full["ts"].astype("datetime64[us]")
    full.iloc[: len(full) // 2].to_parquet(str(src / "h0.parquet"), index=False)
    full.iloc[len(full) // 2 :].to_parquet(str(src / "h1.parquet"), index=False)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = incremental_bitmap_distinct_stream(
        stream, str(tmp_path / "bm"), str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        r.event_type: r.distinct_users
        for r in read_bitmap_distinct(spark, str(tmp_path / "bm")).collect()
    }
    want = {
        r.event_type: r.du
        for r in spark.createDataFrame(full[["user_id", "event_type"]])
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("du"))
        .collect()
    }
    assert got == want and len(got) > 0

    # replay epoch 1's body directly against committed state: no change
    b1 = spark.createDataFrame(full.iloc[len(full) // 2 :][["user_id", "event_type"]])
    apply_bitmap_epoch(b1, 1, str(tmp_path / "bm"))
    again = {
        r.event_type: r.distinct_users
        for r in read_bitmap_distinct(spark, str(tmp_path / "bm")).collect()
    }
    assert again == want


def _dsir_corpus(spark, tmp_path):
    """Two target docs and four raw docs (two target-like, two alien),
    written as ``<base>/documents.parquet``; returns (docs, base)."""
    import os

    from mlb_win_predictor_spark.queries.text import DSIR_TARGET_SOURCE

    rows = [
        (1, "alpha beta gamma alpha beta", "en", DSIR_TARGET_SOURCE, 0),
        (2, "beta gamma delta alpha gamma", "en", DSIR_TARGET_SOURCE, 0),
        (100, "alpha beta gamma alpha", "en", "srcX", 0),
        (101, "zork quux fnord grue", "en", "srcX", 0),
        (102, "alpha common beta words", "en", "srcY", 0),
        (103, "unrelated noise tokens here", "en", "srcY", 0),
    ]
    base = str(tmp_path / "model_dir")
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    os.makedirs(base)
    docs.write.parquet(base + "/documents.parquet")
    return docs, base


def test_dsir_bucket_model_is_the_batch_fit(spark, tmp_path):
    """The model a stream collects is the batch fit, bit for bit: every
    bucket's lr and the norm equal (no tolerance) the values the batch
    entries' fit computes over the same corpus and target class. Its
    keys follow the hash rule, the first two hex digits of md5(token):
    the oracle corpora cannot pin that rule, because their vocabulary
    has no two-digit collision and any one-to-one relabeling of the
    buckets leaves every score unchanged."""
    import hashlib

    from pyspark.sql import functions as F

    from mlb_win_predictor_spark.operators import dsir
    from mlb_win_predictor_spark.queries.text import (
        DSIR_TARGET_SOURCE,
        dsir_bucket_model,
    )

    docs, base = _dsir_corpus(spark, tmp_path)
    lrs, norm = dsir_bucket_model(spark, base)

    kc = dsir.bucket_counts(
        docs,
        F.split(F.trim(F.col("text")), r"\s+"),
        "doc_id",
        (F.col("source") == DSIR_TARGET_SOURCE).alias("is_target"),
    )
    model, batch_norm = dsir.fit(kc)
    batch_lrs = {r.b: r.lr for r in model.collect()}
    assert len(batch_lrs) > 1
    assert lrs == batch_lrs
    assert norm == batch_norm.first().norm
    vocab = {w for r in docs.collect() for w in r.text.split()}
    assert set(lrs) == {hashlib.md5(w.encode()).hexdigest()[:2] for w in vocab}


def test_dsir_select_stream_matches_batch_scores(spark, tmp_path):
    """Streaming DSIR ingest gate: a document must score IDENTICALLY
    whether it goes through the batch entry or the streaming gate (same
    integers, same final arithmetic), the per-token threshold must keep
    exactly the batch-predicted set, and target-vocab docs must survive
    a gate that drops alien-vocab docs."""
    from pyspark.sql import functions as F

    from mlb_win_predictor_spark.queries.text import (
        DSIR_TARGET_SOURCE,
        dsir_bucket_model,
        dsir_importance_weights,
    )
    from mlb_win_predictor_spark.streaming.jobs import (
        dsir_select_stream,
        read_epoch_union,
    )

    docs, base = _dsir_corpus(spark, tmp_path)
    lrs, norm = dsir_bucket_model(spark, base)
    batch = {
        r.doc_id: r.dsir_logweight / r.n_tokens
        for r in dsir_importance_weights(spark, base).collect()
    }
    # threshold between the target-like and alien docs' batch scores
    thr = (batch[100] + batch[101]) / 2
    expected_kept = {i for i, s in batch.items() if s >= thr}
    assert 100 in expected_kept and 101 not in expected_kept

    # stream the RAW corpus side through the gate
    src = str(tmp_path / "incoming")
    docs.filter(F.col("source") != DSIR_TARGET_SOURCE).select(
        "doc_id", "text"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = dsir_select_stream(
        stream, lrs, norm, thr, str(tmp_path / "kept"), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    kept = read_epoch_union(
        spark,
        str(tmp_path / "kept"),
        "doc_id long, text string, per_token_logweight double",
    )
    got = {r.doc_id: r.per_token_logweight for r in kept.collect()}
    assert set(got) == expected_kept
    for i, s in got.items():
        # batch entry emits a 6dp stable-rounded logweight; the gate is
        # unrounded — agreement is bounded by the rounding grain
        assert abs(s - batch[i]) < 1e-6, (i, s, batch[i])


def test_decontaminate_stream_drops_contaminated_keeps_clean(spark, tmp_path):
    """Streaming Bloom decontamination gate: every planted contaminated
    doc (shares a 5-gram with the bench set) must be dropped — Bloom
    filters have no false negatives — and the FP over-drop on clean docs
    stays small. Output is replay-safe per-epoch parquet."""
    from pyspark.sql import functions as F

    from mlb_win_predictor_spark.operators.bloom import bloom_build
    from mlb_win_predictor_spark.streaming.jobs import (
        decontaminate_stream,
        read_epoch_union,
    )

    bench_sent = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(40):  # clean docs: unique vocab per doc, no bench grams
        words = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, words))
    for i in range(40, 50):  # contaminated: quote the bench sentence
        rows.append((i, f"pre{i} {bench_sent} post{i}"))
    rows.append((50, "too short doc"))  # < n tokens: no grams, must be kept
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    # bloom over the bench sentence's word 5-grams (hashed as the gate does)
    bench = (
        spark.createDataFrame([(bench_sent,)], "text string")
        .select(F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            *[F.element_at(F.col("toks"), i + j) for j in range(5)],
                        )
                    ),
                )
            ).alias("gram")
        )
    )
    bits = spark.sparkContext.broadcast(bloom_build(bench))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = decontaminate_stream(
        stream, bits, str(tmp_path / "kept"), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    kept = read_epoch_union(spark, str(tmp_path / "kept"), "doc_id long, text string")
    ids = {r.doc_id for r in kept.collect()}
    assert not any(i in ids for i in range(40, 50)), "contaminated doc survived"
    assert 50 in ids, "sub-n-token doc must pass the gate, not crash it"
    assert len([i for i in range(40) if i in ids]) >= 36  # <=10% FP over-drop


def test_media_decode_stream_exactly_once_incremental(spark, tmp_path):
    """The drop-zone multimodal ingest: PNG files landed before run 1 are
    decoded once into the exactly-once parquet sink; a second availableNow
    run over the SAME checkpoint decodes ONLY the newly landed files (no
    reprocessing, no duplicates); decoded dims match the generator."""
    import numpy as np

    from mlb_win_predictor_spark.operators.multimodal import png_encode
    from mlb_win_predictor_spark.streaming import media_decode_stream

    drop = tmp_path / "drop"
    drop.mkdir()
    rng = np.random.default_rng(21)
    expected = {}

    def land(i):
        w, h, c = 3 + i, 4 + i, (1, 3)[i % 2]
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        (drop / f"m{i}.png").write_bytes(png_encode(px, filters=range(5)))
        expected[f"m{i}.png"] = (w, h, c)

    for i in range(4):
        land(i)
    out, ckpt = str(tmp_path / "decoded"), str(tmp_path / "ckpt")
    media_decode_stream(spark, str(drop), out, ckpt).start().awaitTermination(120)
    assert spark.read.parquet(out).count() == 4
    # two more files land; same checkpoint → only the delta is processed
    land(4)
    land(5)
    media_decode_stream(spark, str(drop), out, ckpt).start().awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 6  # exactly-once: 4 old NOT re-emitted
    assert len({r.doc_id for r in rows}) == 6
    # decoded dims match the generator (each file has unique w x h)
    got_dims = {(r.width, r.height): r.n_channels for r in rows}
    assert len(got_dims) == 6
    for name, (w, h, c) in expected.items():
        assert got_dims[(w, h)] == c, name


def test_score_games_stream_exactly_once(spark, tmp_path):
    """Streaming inference publish (M11 streaming flavor): prepared games
    arriving over two micro-batches are scored with the saved model;
    every funnel-passing game gets exactly one prediction naming one of
    its two teams; a full checkpoint-wiped replay republishes identical
    epochs instead of duplicating."""
    import pandas as pd

    from pyspark.ml.classification import LogisticRegression

    from mlb_win_predictor_spark.fixtures import fixtures_dir
    from mlb_win_predictor_spark.ml.train import make_pipeline
    from mlb_win_predictor_spark.pipeline.games import (
        FEATURE_COLS,
        LABEL_COL,
        build_features,
        prediction_features,
    )
    from mlb_win_predictor_spark.streaming import score_games_stream

    fdir = fixtures_dir()
    games = spark.read.parquet(f"{fdir}/games.parquet")
    decided = games.filter(F.col("winning_team").isNotNull())
    feats = (
        build_features(decided)
        .withColumn("label", F.col(LABEL_COL).cast("double"))
        .drop(LABEL_COL)
    )
    mdir = str(tmp_path / "model")
    make_pipeline(
        FEATURE_COLS, LogisticRegression(featuresCol="features", labelCol="label")
    ).fit(feats).write().overwrite().save(mdir)

    # two micro-batches of "today's prepared games"
    pdf = games.limit(400).toPandas()
    src = tmp_path / "prepared_in"
    src.mkdir()
    pdf.iloc[:200].to_parquet(str(src / "day0.parquet"), index=False)
    pdf.iloc[200:].to_parquet(str(src / "day1.parquet"), index=False)

    stream = (
        spark.readStream.schema(games.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    pred_path = str(tmp_path / "predictions")
    q = score_games_stream(
        stream, mdir, pred_path, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    preds = spark.read.parquet(pred_path)
    slate = spark.createDataFrame(pdf, schema=games.schema)
    expected_ids = {
        r.game_id for r in prediction_features(slate).select("game_id").collect()
    }
    got = preds.collect()
    assert {r.game_id for r in got} == expected_ids
    assert len(got) == len(expected_ids), "one prediction per scored game"
    teams = {
        r.game_id: (r.home_team_id, r.away_team_id)
        for r in slate.select("game_id", "home_team_id", "away_team_id").collect()
    }
    for r in got:
        assert r.predicted_winner in teams[r.game_id]

    # replay: wipe the checkpoint so both epochs re-execute — per-epoch
    # overwrite must leave the predictions log row-identical
    shutil.rmtree(str(tmp_path / "ckpt"))
    q = score_games_stream(
        stream, mdir, pred_path, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()
    again = spark.read.parquet(pred_path).collect()
    assert sorted((r.game_id, r.predicted_winner) for r in again) == sorted(
        (r.game_id, r.predicted_winner) for r in got
    )


def _llm_curation_fixture_rows():
    """9 docs exercising every stage of the streaming curation capstone:
    quality failure (4), cross-epoch near-dup (7 of 3), in-batch near-dup
    (9 of 8), benchmark contamination (5 quotes the bench sentence), and
    a budget cut (6 is source A's third 24-token doc against budget 60).
    Epoch split: docs 1-5 arrive first, 6-9 second (doc_id order, so the
    single-batch reference spends budget identically)."""
    bench_sent = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = lambda tag, k=24: " ".join(f"{tag}tok{j}" for j in range(k))  # noqa: E731
    contaminated = " ".join(f"x5tok{j}" for j in range(16)) + " " + bench_sent
    e0 = [
        (1, "A", uniq("a1")),
        (2, "A", uniq("a2")),
        (3, "B", uniq("b1")),
        (4, "B", "too short to pass the twenty token quality floor"),
        (5, "B", contaminated),
        # source C pins the cross-epoch CHARGE rule (r11 review): c2 is
        # clean but over budget (cum 24+48=72 > 60) — it must still
        # charge its tokens, so c3 in the NEXT epoch sees 72 spent and
        # is rejected; carrying only admitted tokens would let c3 in.
        (10, "C", uniq("c1")),
        (11, "C", uniq("c2", 48)),
    ]
    e1 = [
        (6, "A", uniq("a3")),
        (7, "B", uniq("b1")),  # cross-epoch duplicate of 3
        (8, "B", uniq("b2")),
        (9, "B", uniq("b2")),  # in-batch duplicate of 8
        (12, "C", uniq("c3")),  # charged-out: prior clean 72 > budget
    ]
    return bench_sent, e0, e1


def _llm_curation_bits(spark, bench_sent):
    from mlb_win_predictor_spark.operators.bloom import bloom_build
    from mlb_win_predictor_spark.functions.ngrams import (
        DECON_N,
        hashed_gram_set,
        word_ngrams,
        word_tokens,
    )

    bench = (
        spark.createDataFrame([(bench_sent,)], "text string")
        .select(word_tokens("text").alias("toks"))
        .select(
            F.explode(
                hashed_gram_set(word_ngrams(F.col("toks"), DECON_N))
            ).alias("gram")
        )
    )
    return spark.sparkContext.broadcast(bloom_build(bench))


def _run_llm_curation(spark, src, root, bits, budget=60):
    from mlb_win_predictor_spark.streaming import llm_curation_stream

    stream = spark.readStream.schema("doc_id long, source string, text string").parquet(
        str(src)
    )
    q = llm_curation_stream(
        stream,
        bits,
        f"{root}/index",
        f"{root}/stats",
        f"{root}/kept",
        f"{root}/ckpt",
        budget_per_source=budget,
    ).start()
    q.processAllAvailable()
    q.stop()


def _llm_curation_rollup(spark, root):
    from mlb_win_predictor_spark.streaming.jobs import (
        CURATION_STATS,
        CURATION_STATS_SCHEMA,
        read_epoch_union,
    )

    stats = read_epoch_union(spark, f"{root}/stats", CURATION_STATS_SCHEMA)
    return {
        r.source: tuple(r[c] for c in CURATION_STATS)
        for r in stats.groupBy("source")
        .agg(*[F.sum(c).cast("long").alias(c) for c in CURATION_STATS])
        .collect()
    }


def test_curation_stage_stats_counts_each_stage_and_zero_fills(spark):
    """The per-epoch stats aggregate on hand-made stage frames: each
    counter counts its own stage, token sums cover the clean and final
    stages, and source B, which loses every doc after the quality stage,
    reads 0 (not NULL) in every later counter. Columns come out in the
    ``CURATION_STATS_SCHEMA`` order and types."""
    from mlb_win_predictor_spark.streaming.jobs import (
        CURATION_STATS_SCHEMA,
        curation_stage_stats,
    )

    # token counts are powers of two, so every token sum names its docs
    flagged = spark.createDataFrame(
        [(1, "A", 1), (2, "A", 2), (3, "A", 4), (4, "A", 8), (5, "A", 16),
         (6, "B", 32), (7, "B", 64)],
        "doc_id long, source string, n_toks long",
    )
    stage = lambda *ids: flagged.filter(F.col("doc_id").isin(*ids))  # noqa: E731
    stats = curation_stage_stats(
        flagged,
        quality=stage(1, 2, 3, 4, 6),
        deduped=stage(1, 2, 3),
        clean=stage(1, 2),
        selected=stage(1),
    )

    expected = spark.createDataFrame([], CURATION_STATS_SCHEMA)
    assert [(f.name, f.dataType) for f in stats.schema] == [
        (f.name, f.dataType) for f in expected.schema
    ]
    got = {r.source: tuple(r)[1:] for r in stats.collect()}
    assert got == {
        "A": (5, 4, 3, 2, 1, 3, 1),
        "B": (2, 1, 0, 0, 0, 0, 0),
    }


def test_llm_curation_stream_stages_and_batch_parity(spark, tmp_path):
    """The streaming curation capstone over two micro-batches: every
    stage drops exactly its targets, and the final per-source rollup is
    IDENTICAL to the batch reference (the same pipeline fed the whole
    corpus as one batch — valid because the test feeds epochs in doc_id
    order, making arrival order and the reference's doc_id order agree)."""
    import pandas as pd

    bench_sent, e0, e1 = _llm_curation_fixture_rows()
    bits = _llm_curation_bits(spark, bench_sent)

    src = tmp_path / "docs_in"
    src.mkdir()
    cols = ["doc_id", "source", "text"]
    pd.DataFrame(e0, columns=cols).to_parquet(str(src / "b0.parquet"), index=False)
    pd.DataFrame(e1, columns=cols).to_parquet(str(src / "b1.parquet"), index=False)

    # maxFilesPerTrigger=1 => two genuine epochs in doc_id order
    from mlb_win_predictor_spark.streaming import llm_curation_stream

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    root = str(tmp_path / "multi")
    q = llm_curation_stream(
        stream,
        bits,
        f"{root}/index",
        f"{root}/stats",
        f"{root}/kept",
        f"{root}/ckpt",
        budget_per_source=60,
    ).start()
    q.processAllAvailable()
    q.stop()

    from mlb_win_predictor_spark.streaming.jobs import read_epoch_union

    kept = read_epoch_union(
        spark, f"{root}/kept", "doc_id long, source string, text string, n_toks long"
    )
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 2, 3, 8, 10}, (
        f"kept {ids}: 4 fails quality, 5 is contaminated, 7 is a cross-epoch "
        "dup, 9 an in-batch dup, 6 exceeds source A's budget, 11 exceeds "
        "C's within its epoch and 12 is charged out by 11 ACROSS the "
        "epoch boundary"
    )

    rollup = _llm_curation_rollup(spark, root)
    assert rollup["A"] == (3, 3, 3, 3, 2, 72, 48)
    assert rollup["B"] == (6, 5, 3, 2, 2, 48, 48)
    assert rollup["C"] == (3, 3, 3, 3, 1, 96, 24)

    # batch reference: same pipeline, whole corpus as ONE batch
    batch_src = tmp_path / "docs_one"
    batch_src.mkdir()
    pd.DataFrame(e0 + e1, columns=cols).to_parquet(
        str(batch_src / "all.parquet"), index=False
    )
    ref_root = str(tmp_path / "single")
    _run_llm_curation(spark, batch_src, ref_root, bits)
    assert _llm_curation_rollup(spark, ref_root) == rollup, (
        "multi-epoch stream must equal the single-batch reference"
    )


def test_llm_curation_stream_dsir_order_and_batch_parity(spark, tmp_path):
    """DSIR-ordered budget variant (r12): within an epoch the budget
    goes to the most target-like docs, NOT the earliest doc_ids — doc
    23 (high weight) is admitted over doc 22 (low weight, smaller id) —
    and multi-epoch equals the single-batch reference when arrival
    respects the global weight order across epoch boundaries (the
    stream-feasible contract; a stream cannot un-admit an earlier
    lower-weight doc, so arbitrary arrival cannot be globally exact)."""
    import hashlib

    import pandas as pd

    uniq = lambda tag, k=24: " ".join(f"{tag}tok{j}" for j in range(k))  # noqa: E731
    hi1, lo, hi2 = uniq("t1"), uniq("r1"), uniq("t2")
    b1, b2 = uniq("s1"), uniq("s2")
    bucket = lambda w: hashlib.md5(w.encode()).hexdigest()[:2]  # noqa: E731
    # model: every token bucket of the two high docs scores +1; low-doc
    # tokens score only by (rare) bucket collision — guard that the low
    # doc cannot reach the high docs' per-token weight of 1.0
    lrs = {bucket(w): 1.0 for w in (hi1 + " " + hi2).split()}
    assert sum(bucket(w) in lrs for w in lo.split()) < 24
    model = (lrs, 0.0)

    bench_sent = "alpha beta gamma delta epsilon zeta eta theta"
    bits = _llm_curation_bits(spark, bench_sent)
    cols = ["doc_id", "source", "text"]
    # arrival respects global weight order: both high-weight A docs
    # arrive in epoch 0, the low-weight one in epoch 1
    e0 = [(21, "A", hi1), (23, "A", hi2), (31, "B", b1)]
    e1 = [(22, "A", lo), (32, "B", b2)]

    from mlb_win_predictor_spark.streaming import llm_curation_stream
    from mlb_win_predictor_spark.streaming.jobs import read_epoch_union

    def run(root, batches):
        src = tmp_path / f"in_{os.path.basename(root)}"
        src.mkdir()
        for i, rows in enumerate(batches):
            pd.DataFrame(rows, columns=cols).to_parquet(
                str(src / f"b{i}.parquet"), index=False
            )
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = llm_curation_stream(
            stream,
            bits,
            f"{root}/index",
            f"{root}/stats",
            f"{root}/kept",
            f"{root}/ckpt",
            budget_per_source=48,
            dsir_model=model,
        ).start()
        q.processAllAvailable()
        q.stop()
        kept = read_epoch_union(
            spark,
            f"{root}/kept",
            "doc_id long, source string, text string, n_toks long",
        )
        return {r.doc_id for r in kept.collect()}, _llm_curation_rollup(spark, root)

    multi_ids, multi_rollup = run(str(tmp_path / "multi"), [e0, e1])
    # A's 48-token budget goes to 21+23 (weight 1.0 each); 22 is charged
    # but rejected. B admits both 24-token docs exactly at budget.
    assert multi_ids == {21, 23, 31, 32}, multi_ids
    assert multi_rollup["A"] == (3, 3, 3, 3, 2, 72, 48)
    assert multi_rollup["B"] == (2, 2, 2, 2, 2, 48, 48)

    # single-batch reference: all five docs in ONE epoch — admission of
    # 23 over the smaller-id 22 now REQUIRES the within-epoch DSIR
    # reorder, and the rollup must match the multi-epoch run exactly
    single_ids, single_rollup = run(str(tmp_path / "single"), [e0 + e1])
    assert single_ids == multi_ids
    assert single_rollup == multi_rollup


def test_llm_curation_stream_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: wiping the checkpoint re-delivers
    both epochs, and the per-epoch overwrite layout must reproduce the
    same tables instead of double-counting budget or re-appending docs."""
    import pandas as pd

    bench_sent, e0, e1 = _llm_curation_fixture_rows()
    bits = _llm_curation_bits(spark, bench_sent)
    src = tmp_path / "docs_in"
    src.mkdir()
    cols = ["doc_id", "source", "text"]
    pd.DataFrame(e0, columns=cols).to_parquet(str(src / "b0.parquet"), index=False)
    pd.DataFrame(e1, columns=cols).to_parquet(str(src / "b1.parquet"), index=False)

    from mlb_win_predictor_spark.streaming import llm_curation_stream

    root = str(tmp_path / "state")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = llm_curation_stream(
            stream,
            bits,
            f"{root}/index",
            f"{root}/stats",
            f"{root}/kept",
            f"{root}/ckpt",
            budget_per_source=60,
        ).start()
        q.processAllAvailable()
        q.stop()

    run()
    first = _llm_curation_rollup(spark, root)
    index_rows = spark.read.parquet(f"{root}/index").count()
    shutil.rmtree(f"{root}/ckpt")
    run()
    assert _llm_curation_rollup(spark, root) == first
    assert spark.read.parquet(f"{root}/index").count() == index_rows

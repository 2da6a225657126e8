"""What the benchmark measures: workloads, metric names and units, and the
per-layer map (which end-to-end metric each layer metric should move, on
which workload). ``BENCHMARK.json`` mirrors the names and units here;
``test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

# Inputs: copies of the repository's test tables, under perfbench/data/sf<SF>.
# Both workloads read sf0.01 (a stream_ingest pass takes as long at any
# scale, and three passes must fit the run budget); the self-test reads
# sf0.001.
SF = 0.01

# Set-ups per run. The first launches the JVM and is reported apart
# (setup.cold_start_s); setup_s is the median of the others.
SETUPS = 5

# Untimed runs time whole passes until --seconds have passed and at least
# this many are done, so every entry has this many samples for its median.
MIN_PASSES = 3
# ... but once --seconds plus this much have passed, the current pass is
# the last (a slow spell of the host must not push a run past its limit).
OVERRUN_S = 60

# The one bench-defined streaming job: streaming.jobs.upsert_outcomes_foreach_batch
# over the fixture game_results, split by the seed into arrival files.
UPSERT_ENTRY = "upsert_outcomes_foreach_batch"

WORKLOADS: dict[str, dict] = {
    "relational_etl": {
        "entries": [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_region_revenue",
            "q18_large_orders",
            "q21_waiting_supplier",
            "flagship_asof_funnel",
            "merge_upsert",
            "broadcast_dim_join",
        ],
        "why": "scan, join and shuffle bound, about one job per entry and no "
        "Python workers; the no-change control for UDF, iterative and "
        "streaming work",
    },
    "stream_ingest": {
        "entries": [
            "llm_dataset_pipeline_stream",
            "ml_score_games_merge",
            UPSERT_ENTRY,
        ],
        "why": "the dedup and Bloom operators used incrementally, with a parquet "
        "write in every micro-batch: the insert/update path",
    },
}

# name -> (unit, better). Untraced runs print these.
END_TO_END: dict[str, tuple[str, str]] = {
    "pass_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

OPERATOR_LAYERS = ("dedup", "bloom")
ML_LAYERS = ("train",)
# Modules whose public functions the traced run wraps, by layer name.
SPAN_LAYERS = {
    "session": "mlb_win_predictor_spark.session",
    **{f"operators.{m}": f"mlb_win_predictor_spark.operators.{m}" for m in OPERATOR_LAYERS},
    **{f"ml.{m}": f"mlb_win_predictor_spark.ml.{m}" for m in ML_LAYERS},
    "pipeline.games": "mlb_win_predictor_spark.pipeline.games",
}

_ALL = "relational_etl, stream_ingest"
_R, _S = "relational_etl", "stream_ingest"


def _layer(unit, moves, most, control, better="lower"):
    return {"unit": unit, "better": better, "moves": moves, "most_work": most, "control": control}


# name -> unit, better, the end-to-end metric it should move, and the
# workload with most / least of that work. Traced runs print these, as
# per-pass values unless the name says otherwise.
PER_LAYER: dict[str, dict] = {
    "session.get_spark_s": _layer("s", "setup_s", _ALL, "-"),
    "setup.cold_start_s": _layer("s", "setup_s", _ALL, "-"),
    "setup.warmup_s": _layer("s", "pass_s", _S, _R),
    "session.load_table_calls": _layer("count", "pass_s", _R, _S),
    "session.load_table_s": _layer("s", "pass_s", _R, _S),
    "session.release_caches_s": _layer("s", "pass_s", _S, _R),
    "session.released_rdds": _layer("count", "pass_s", _S, _R),
    "queries.build_s": _layer("s", "pass_s", _S, _R),
    "queries.build_jobs": _layer("count", "pass_s", _S, _R),
    "engine.action_s": _layer("s", "pass_s", _R, _S),
    "engine.jobs": _layer("count", "pass_s", _S, _R),
    "engine.stages": _layer("count", "pass_s", _S, _R),
    "engine.tasks": _layer("count", "pass_s", _S, _R),
    "engine.failed_tasks": _layer("count", "fail_ratio", _ALL, "-"),
    "engine.jvm_cpu_s": _layer("s", "cpu_s", _S, _R),
    "engine.jvm_gc_s": _layer("s", "cpu_s, peak_rss_mb", _S, _R),
    "engine.jit_cpu_s": _layer("s", "-", _S, _R),
    "engine.shuffle_read_bytes": _layer("bytes", "pass_s, cpu_s", _R, _S),
    "engine.shuffle_write_bytes": _layer("bytes", "pass_s, cpu_s", _R, _S),
    "engine.spill_bytes": _layer("bytes", "pass_s, cpu_s", _R, _S),
    "engine.executor_run_s": _layer("s", "pass_s, cpu_s", _R, _S),
    "engine.executor_cpu_s": _layer("s", "pass_s, cpu_s", _R, _S),
    "engine.idle_core_s": _layer("s", "pass_s", _S, _R),
    "functions.py_worker_cpu_s": _layer("s", "cpu_s, pass_s", _S, _R),
    **{
        f"operators.{m}.{k}": _layer(u, "pass_s", _S, _R)
        for m in OPERATOR_LAYERS
        for k, u in (("calls", "count"), ("s", "s"))
    },
    **{
        f"ml.{m}.{k}": _layer(u, "pass_s", _S, _R)
        for m in ML_LAYERS
        for k, u in (("calls", "count"), ("s", "s"))
    },
    "streaming.triggers": _layer("count", "pass_s", _S, _R),
    "streaming.input_rows": _layer("count", "pass_s", _S, _R, "higher"),
    "streaming.add_batch_ms": _layer("ms", "pass_s", _S, _R),
    "streaming.trigger_overhead_ms": _layer("ms", "pass_s", _S, _R),
    "streaming.query_planning_ms": _layer("ms", "pass_s", _S, _R),
    "streaming.wal_commit_ms": _layer("ms", "pass_s", _S, _R),
    "streaming.latest_offset_ms": _layer("ms", "pass_s", _S, _R),
    "streaming.trigger_ms_p50": _layer("ms", "pass_s", _S, _R),
    "streaming.trigger_ms_p90": _layer("ms", "pass_s", _S, _R),
    "sources.write_bytes": _layer("bytes", "pass_s", _S, _R),
    "pipeline.games.calls": _layer("count", "pass_s", _S, _R),
    "pipeline.games.s": _layer("s", "pass_s", _S, _R),
    **{
        f"entry.{e}.s": _layer("s", "pass_s", w, "-")
        for w, spec in WORKLOADS.items()
        for e in spec["entries"]
    },
    "fail_ratio": _layer("ratio", "-", _ALL, "-"),
    # not gated: their run-to-run spreads reached 0.22 and 0.26 (BENCHMARK.md)
    "peak_rss_mb": _layer("MB", "-", _ALL, "-"),
    "cpu_s": _layer("s", "-", _ALL, "-"),
    "pass.count": _layer("count", "-", _ALL, "-", "higher"),
    "host.steal_ticks": _layer("count", "-", _ALL, "-"),
    "trace.overhead_s": _layer("s", "-", _ALL, "-"),
}

"""One measured run of one workload, in its own process (``run.py``
starts it with the environment set).

Set-up runs ``spec.SETUPS`` times (a fresh session, the fixture tables,
the stream arrival files). The first launches the JVM; ``setup_s`` is
the median of the others. One untimed warm-up pass over every entry
follows.

Closed loop, one client: each entry of the workload runs after the
previous one finished, in an order the seed shuffles anew every pass.
Whole passes run until ``--seconds`` have passed and at least
``--min-passes`` are done, or ``spec.OVERRUN_S`` beyond ``--seconds``.
An entry sample is its catalog call plus a ``toPandas()`` of the
result. ``pass_s`` and ``cpu_s`` sum each entry's median sample; ``peak_rss_mb``
is the median over samples of each sample's peak.

After the timed region every result is checked: SQL-expressible entries
against DuckDB (``tests.oracle.compare``), the others by a non-empty
result with the same digest on every pass.

Usage: python3 perfbench/worker.py --workload NAME --seed N --sf SF --seconds S
           --min-passes N --trace 0|1 --data-root DIR --oracle-dir DIR
           --run-dir DIR --out FILE
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402
import tracing as tr  # noqa: E402


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(f"{float(v):.10g}")
    if isinstance(v, (np.integer, bool, np.bool_)):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (pd.Timestamp,)) or hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result; floats to 10 significant digits."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return hashlib.md5(repr((cols, rows)).encode()).hexdigest()


class _Result:
    """Stand-in for a Spark DataFrame whose rows were already fetched, so
    ``tests.oracle.compare`` checks the timed result without rerunning it
    (and for a DuckDB result already computed)."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf

    fetchdf = toPandas


class OracleCache:
    """DuckDB over the input tables, with each query's answer kept on disk
    in ``cache_dir`` (keyed by the SQL text), so the check does not rerun
    a slow oracle query every run. Passes for ``con`` to ``compare``."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.dir = cache_dir
        self._con = None

    def execute(self, sql: str) -> _Result:
        path = os.path.join(self.dir, hashlib.sha1(sql.encode()).hexdigest()[:16] + ".pkl")
        if os.path.exists(path):
            return _Result(pd.read_pickle(path))
        if self._con is None:
            from tests.oracle import duckdb_connection

            self._con = duckdb_connection(self.sf_dir)
        pdf = self._con.execute(sql).fetchdf()
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        pdf.to_pickle(tmp)
        os.replace(tmp, path)
        return _Result(pdf)


class UpsertJob:
    """``streaming.jobs.upsert_outcomes_foreach_batch`` as a bench entry.

    The fixture ``game_results`` (team names resolved to ids) land as
    arrival files the seed assigns; each call streams them, one file per
    trigger, into a fresh copy of the fixture ``games`` table and returns
    the merged table. ``expected`` is the same MERGE done in pandas."""

    def __init__(self, fixtures: str, root: str, seed: int, n_files: int = 2):
        self.games_file = os.path.join(fixtures, "games.parquet")
        self.root = root
        self.arrivals = os.path.join(root, "arrivals")
        self.calls = 0
        os.makedirs(self.arrivals, exist_ok=True)
        games = pd.read_parquet(self.games_file)
        teams = pd.read_parquet(os.path.join(fixtures, "teams.parquet"))
        results = pd.read_parquet(os.path.join(fixtures, "game_results.parquet"))
        upd = results.merge(teams, left_on="winning_team_name", right_on="team_name")
        upd = pd.DataFrame(
            {"game_id": upd.game_id.astype("int64"), "winning_team": upd.team_id.astype("float64")}
        )
        part = np.random.default_rng(seed).integers(0, n_files, len(upd))
        for i in range(n_files):
            chunk = upd[part == i]
            if len(chunk):
                chunk.to_parquet(os.path.join(self.arrivals, f"part-{i:05d}.parquet"), index=False)
        latest = upd.drop_duplicates("game_id").set_index("game_id").winning_team
        merged = games.game_id.map(latest).fillna(games.winning_team)
        self.expected = pd.DataFrame({"game_id": games.game_id, "winning_team": merged})

    def __call__(self, spark, sf_dir: str):
        from mlb_win_predictor_spark.streaming import jobs

        shutil.rmtree(os.path.join(self.root, f"call{self.calls}"), ignore_errors=True)
        self.calls += 1
        work = os.path.join(self.root, f"call{self.calls}")
        target = os.path.join(work, "games")
        os.makedirs(target)
        shutil.copy(self.games_file, os.path.join(target, "part-00000.parquet"))
        updates = (
            spark.readStream.schema("game_id long, winning_team double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.arrivals)
        )
        q = jobs.upsert_outcomes_foreach_batch(
            updates, target, os.path.join(work, "ckpt")
        ).start()
        q.awaitTermination()
        return spark.read.parquet(target).select("game_id", "winning_team")


class Sample:
    __slots__ = (
        "name", "tag", "wall", "build_s", "action_s", "release_s", "released",
        "jvm_cpu", "jit_cpu", "worker_cpu", "gc_s", "write_bytes", "rss_mb", "steal",
        "digest", "rows", "error", "span", "counts", "build_jobs", "pass_no",
    )

    def __init__(self, **kw):
        for k in self.__slots__:
            setattr(self, k, kw.get(k))

    @property
    def cpu(self) -> float:
        return self.jvm_cpu + self.worker_cpu


class Bench:
    def __init__(self, spark, fns: dict, proc: tr.ProcTree):
        from mlb_win_predictor_spark import session

        self.spark = spark
        self.session = session
        self.fns = fns
        self.proc = proc
        self.rss = tr.PeakRss(proc)
        self.spans: tr.Spans | None = None
        self.listener: tr.StreamProgress | None = None
        self.tag = ""
        self.results: dict[str, pd.DataFrame] = {}

    def warm_up(self, names: list[str], sf_dir: str, threads: int = 3) -> list[str]:
        """Run every entry once, untimed and a few at a time, so JIT,
        codegen and Python worker start-up are paid before timing (a
        first call is mostly latency: one at a time took twice as long).
        Returns one line per entry that raised."""

        def one(name: str) -> str | None:
            self.spark.sparkContext.setJobGroup(f"warm:{name}", name)
            try:
                self.fns[name](self.spark, sf_dir).toPandas()
            except Exception:
                last = traceback.format_exc(limit=3).strip().splitlines()[-1]
                return f"{name} warm-up: raised {last}"
            return None

        with ThreadPoolExecutor(threads) as pool:
            errors = [e for e in pool.map(one, names) if e]
        self.session.release_caches(self.spark)
        return errors

    def sample(self, name: str, sf_dir: str, pass_no: int) -> Sample:
        sc = self.spark.sparkContext
        gc.collect()
        sc._jvm.System.gc()
        traced = self.spans is not None
        tag = f"pb:{pass_no}:{name}"
        snap0 = self.proc.snapshot()
        self.rss.take()
        steal0 = tr.steal_ticks()
        gc0 = tr.jvm_gc_s(self.spark) if traced else 0.0
        self.tag = tag
        err, pdf, span = None, None, None
        t0 = time.perf_counter()
        t1 = t0
        try:
            with self.spans.entry(name) if traced else contextlib.nullcontext() as span:
                sc.setJobGroup(f"{tag}:build", name)
                df = self.fns[name](self.spark, sf_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{tag}:action", name)
                pdf = df.toPandas()
        except Exception:
            err = traceback.format_exc(limit=3)
        t2 = time.perf_counter()
        released = self.session.release_caches(self.spark)
        t3 = time.perf_counter()
        snap1 = self.proc.snapshot()
        s = Sample(
            name=name, tag=tag, wall=t2 - t0, build_s=t1 - t0, action_s=t2 - t1,
            release_s=t3 - t2, released=released,
            jvm_cpu=snap1["jvm_cpu_s"] - snap0["jvm_cpu_s"],
            jit_cpu=snap1["jit_cpu_s"] - snap0["jit_cpu_s"],
            worker_cpu=snap1["worker_cpu_s"] - snap0["worker_cpu_s"],
            write_bytes=snap1["write_bytes"] - snap0["write_bytes"],
            rss_mb=max(snap0["rss_mb"], snap1["rss_mb"], self.rss.take()),
            steal=tr.steal_ticks() - steal0 if steal0 >= 0 else -1,
            error=err, span=span, pass_no=pass_no,
        )
        if pdf is not None:
            s.digest, s.rows = digest(pdf), len(pdf)
            self.results.setdefault(f"{name}:{s.digest}", pdf)
        if traced:
            s.gc_s = tr.jvm_gc_s(self.spark) - gc0
            groups = [f"{tag}:build", f"{tag}:action"]
            groups += [r for r, t in self.listener.run_tags.items() if t == tag]
            s.counts = tr.tracker_counts(self.spark, groups)
            s.build_jobs = tr.tracker_counts(self.spark, [f"{tag}:build"])["jobs"]
        return s


def check(samples: list[Sample], bench: Bench, sql: dict, upsert: UpsertJob | None, con) -> list[str]:
    """Mark failed samples; returns one line per failure."""
    from tests.oracle import compare

    failures = []
    by_name: dict[str, list[Sample]] = {}
    for s in samples:
        by_name.setdefault(s.name, []).append(s)
    for name, ss in by_name.items():
        for s in ss:
            if s.error:
                failures.append(f"{name} {s.tag}: raised {s.error.strip().splitlines()[-1]}")
        ok = [s for s in ss if not s.error]
        if not ok:
            continue
        ref = ok[0].digest
        verdict = None
        if name == spec.UPSERT_ENTRY:
            if ref != digest(upsert.expected):
                verdict = "merged games table differs from the pandas MERGE"
        elif name in sql:
            try:
                compare(_Result(bench.results[f"{name}:{ref}"]), con, sql[name])
            except AssertionError as ex:
                verdict = f"DuckDB oracle mismatch: {str(ex)[:200]}"
        elif ok[0].rows == 0:
            verdict = "empty result"
        for s in ok:
            why = verdict or (None if s.digest == ref else "result digest differs between passes")
            if why:
                s.error = why
                failures.append(f"{name} {s.tag}: {why}")
    return failures


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def layer_metrics(bench: Bench, samples: list[Sample], entries: list[str], cpus: int, event_log: dict) -> dict:
    n = len(samples)
    passes = n / len(entries)

    def per(total: float) -> float:
        return total / passes

    def tot(attr: str) -> float:
        return sum(getattr(s, attr) or 0 for s in samples)

    L: dict[str, float] = {}
    spans = bench.spans.fold({s.span for s in samples})

    def span_sum(layer: str, fn: str | None = None) -> tuple[float, float]:
        hits = [v for (lay, f), v in spans.items() if lay == layer and (fn is None or f == fn)]
        return per(sum(c for c, _ in hits)), per(sum(t for _, t in hits))

    L["session.load_table_calls"], L["session.load_table_s"] = span_sum("session", "load_table")
    L["session.release_caches_s"] = per(tot("release_s"))
    L["session.released_rdds"] = per(tot("released"))
    L["queries.build_s"] = per(tot("build_s"))
    L["queries.build_jobs"] = per(tot("build_jobs"))
    L["engine.action_s"] = per(tot("action_s"))
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        L[f"engine.{k}"] = per(sum(s.counts[k] for s in samples))
    L["engine.jvm_cpu_s"] = per(tot("jvm_cpu"))
    L["engine.jit_cpu_s"] = per(tot("jit_cpu"))
    L["engine.jvm_gc_s"] = per(tot("gc_s"))
    tags = {s.tag for s in samples}
    ev = [v for t, v in event_log.items() if t in tags]
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s"):
        L[f"engine.{k}"] = per(sum(v[k] for v in ev))
    L["engine.idle_core_s"] = per(cpus * tot("wall") - sum(v["executor_run_s"] for v in ev))
    L["functions.py_worker_cpu_s"] = per(tot("worker_cpu"))
    for m in spec.OPERATOR_LAYERS:
        L[f"operators.{m}.calls"], L[f"operators.{m}.s"] = span_sum(f"operators.{m}")
    for m in spec.ML_LAYERS:
        L[f"ml.{m}.calls"], L[f"ml.{m}.s"] = span_sum(f"ml.{m}")
    prog = [
        (d, rows) for run, d, rows in bench.listener.progress
        if bench.listener.run_tags.get(run) in tags
    ]
    trig = [d.get("triggerExecution", 0) for d, _ in prog]
    L["streaming.triggers"] = per(len(prog))
    L["streaming.input_rows"] = per(sum(r for _, r in prog))
    L["streaming.add_batch_ms"] = per(sum(d.get("addBatch", 0) for d, _ in prog))
    L["streaming.trigger_overhead_ms"] = per(
        sum(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d, _ in prog)
    )
    L["streaming.query_planning_ms"] = per(sum(d.get("queryPlanning", 0) for d, _ in prog))
    L["streaming.wal_commit_ms"] = per(sum(d.get("walCommit", 0) for d, _ in prog))
    L["streaming.latest_offset_ms"] = per(sum(d.get("latestOffset", 0) for d, _ in prog))
    L["streaming.trigger_ms_p50"] = float(_pct(trig, 0.5))
    L["streaming.trigger_ms_p90"] = float(_pct(trig, 0.9))
    L["sources.write_bytes"] = per(tot("write_bytes"))
    L["pipeline.games.calls"], L["pipeline.games.s"] = span_sum("pipeline.games")
    for w in spec.WORKLOADS.values():
        for e in w["entries"]:
            walls = [s.wall for s in samples if s.name == e]
            L[f"entry.{e}.s"] = statistics.median(walls) if walls else 0.0
    L["pass.count"] = passes
    L["host.steal_ticks"] = float(sum(max(0, s.steal) for s in samples))
    return L


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-passes", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-root", required=True)
    ap.add_argument("--oracle-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    wl = spec.WORKLOADS[a.workload]
    entries = list(wl["entries"])
    bench_dir = os.path.join(a.data_root, f"sf{a.sf:g}")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    rng = random.Random(a.seed)

    # ---- setup, SETUPS times: a session (the first launches the JVM), the
    # fixture tables and the stream arrival files; then one warm-up pass
    from mlb_win_predictor_spark import session
    from mlb_win_predictor_spark.fixtures import fixtures_dir
    from mlb_win_predictor_spark.queries import QUERIES

    fns = {e: QUERIES[e].fn for e in entries if e in QUERIES}
    sql = {e: QUERIES[e].sql for e in fns if QUERIES[e].sql}
    spark, upsert, setups, get_spark_times = None, None, [], []
    for i in range(spec.SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = session.get_spark(app_name="perfbench")
        get_spark_times.append(time.perf_counter() - t0)
        fdir = fixtures_dir(os.path.join(a.run_dir, f"fixtures-{i}"))
        if spec.UPSERT_ENTRY in entries:
            upsert = UpsertJob(fdir, os.path.join(a.run_dir, f"upsert-{i}"), a.seed)
        setups.append(time.perf_counter() - t0)
    if upsert is not None:
        fns[spec.UPSERT_ENTRY] = upsert
    proc = tr.ProcTree(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    bench = Bench(spark, fns, proc)
    t0 = time.perf_counter()
    warm = bench.warm_up(rng.sample(entries, len(entries)), bench_dir)
    warmup_s = time.perf_counter() - t0

    def timed(seconds: float, first_pass: int) -> list[Sample]:
        samples, p, t = [], first_pass, time.monotonic()
        while True:
            for e in rng.sample(entries, len(entries)):
                samples.append(bench.sample(e, bench_dir, p))
            p += 1
            elapsed = time.monotonic() - t
            if elapsed >= seconds and (
                p - first_pass >= a.min_passes or elapsed >= seconds + spec.OVERRUN_S
            ):
                return samples

    def per_pass(samples: list[Sample], attr: str) -> float:
        """Sum over entries of each entry's median sample."""
        return sum(
            statistics.median(getattr(s, attr) for s in samples if s.name == e)
            for e in entries
        )

    # ---- timed region. A traced run times half of it untraced, then turns
    # tracing on for the other half; the event log is on throughout.
    loadavg_before, steal_before = tr.loadavg(), tr.steal_ticks()
    t_timed = time.monotonic()
    plain: list[Sample] = []
    if a.trace:
        plain = timed(a.seconds / 2, 0)
        bench.spans = tr.Spans(uuid.uuid4().hex[:12])
        bench.spans.install(spec.SPAN_LAYERS)
        bench.listener = tr.StreamProgress(lambda: bench.tag)
        spark.streams.addListener(bench.listener)
        samples = timed(a.seconds / 2, plain[-1].pass_no + 1)
    else:
        samples = timed(a.seconds, 0)
    loadavg_after, steal_after = tr.loadavg(), tr.steal_ticks()
    t_loop_end = time.monotonic()
    bench.rss.close()

    # ---- correctness, after the timed region
    every = plain + samples
    failures = warm + check(every, bench, sql, upsert, OracleCache(bench_dir, a.oracle_dir))
    failed = len(warm) + sum(1 for s in every if s.error)
    t_checked = time.monotonic()
    attempted = len(entries) + len(every)

    out = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "e2e": {
            "pass_s": per_pass(samples, "wall"),
            "cpu_s": per_pass(samples, "cpu"),
            # median over the samples of each sample's peak
            "peak_rss_mb": statistics.median(s.rss_mb for s in samples),
            "setup_s": statistics.median(setups[1:]),
        },
        "provenance": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": cpus,
            "sf": a.sf, "complete_passes": len({s.pass_no for s in every}),
            "loadavg_before": loadavg_before, "loadavg_after": loadavg_after,
            "steal_ticks_before": steal_before, "steal_ticks_after": steal_after,
            "setup_s": setups, "get_spark_s": get_spark_times, "warmup_s": warmup_s,
            "timed_s": t_loop_end - t_timed, "check_s": t_checked - t_loop_end,
        },
        "samples": [
            {"entry": s.name, "pass": s.pass_no, "traced": s.span is not None, "wall_s": s.wall,
             "jvm_cpu_s": s.jvm_cpu, "jit_cpu_s": s.jit_cpu, "worker_cpu_s": s.worker_cpu,
             "rss_mb": s.rss_mb, "steal_ticks": s.steal, "rows": s.rows, "digest": s.digest,
             "error": s.error}
            for s in every
        ],
    }
    if a.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.streams.removeListener(bench.listener)
        bench.spans.uninstall()
        log_dir = os.environ["PERFBENCH_EVENT_LOG"]
        spark.stop()

        def group_tag(group):
            if group is None:
                return None
            if group.startswith("pb:"):
                return group.rsplit(":", 1)[0]
            return bench.listener.run_tags.get(group)

        layers = layer_metrics(bench, samples, entries, cpus, tr.read_event_log(log_dir, group_tag))
        layers["session.get_spark_s"] = statistics.median(get_spark_times[1:])
        layers["setup.cold_start_s"] = setups[0]
        layers["setup.warmup_s"] = warmup_s
        layers["fail_ratio"] = failed / attempted
        layers["peak_rss_mb"] = out["e2e"]["peak_rss_mb"]
        layers["cpu_s"] = out["e2e"]["cpu_s"]
        layers["trace.overhead_s"] = out["e2e"]["pass_s"] - per_pass(plain, "wall")
        out["layers"] = layers
        bench.spans.dump(os.path.join(a.run_dir, "spans.jsonl"))
    else:
        spark.stop()
    with open(a.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()

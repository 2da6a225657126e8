"""Self-test of the benchmark (not part of the repository's tier-1 run):

    python3 -m pytest perfbench/test_perfbench.py -q

A tiny run (``PERFBENCH_SF=0.001``, one second) of every workload, untraced
and traced, must print every metric ``BENCHMARK.json`` names with its unit,
with no failed entry.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402
import tracing  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_spec():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == spec.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (k, v["unit"], v["better"]) for k, v in spec.PER_LAYER.items()
    ]
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_self_time_subtracts_children():
    s = tracing.Spans("t")
    s.records = [
        (1, "entry", "e", 0.0, 10.0, None),
        (2, "a", "f", 1.0, 5.0, 1),
        (3, "a", "g", 4.0, 7.0, 1),  # overlaps 2 (another thread)
        (4, "b", "h", 2.0, 3.0, 2),
    ]
    st = s.self_times()
    assert st == {1: 4.0, 2: 3.0, 3: 3.0, 4: 1.0}
    assert s.fold({1}) == {("a", "f"): (1, 3.0), ("a", "g"): (1, 3.0), ("b", "h"): (1, 1.0)}


def test_install_rebinds_importers_and_restores():
    sys.path.insert(0, ROOT)
    from mlb_win_predictor_spark import session
    from mlb_win_predictor_spark.queries import text

    orig = session.load_table
    s = tracing.Spans("t")
    s.install({"session": "mlb_win_predictor_spark.session"})
    try:
        assert session.load_table is not orig
        assert text.load_table is session.load_table  # top-level importer
        assert session.load_table.__wrapped__ is orig
    finally:
        s.uninstall()
    assert session.load_table is orig and text.load_table is orig


def test_oracle_answers_are_kept_by_sql(tmp_path):
    sys.path.insert(0, ROOT)
    import worker

    cache = worker.OracleCache(os.path.join(HERE, "data", "sf0.001"), str(tmp_path / "oracle"))
    sql = "SELECT r_name, count(*) AS n FROM region GROUP BY r_name"
    first = cache.execute(sql).fetchdf()
    assert len(os.listdir(cache.dir)) == 1
    cache._con = object()  # a second read must not query DuckDB
    assert cache.execute(sql).fetchdf().equals(first) and len(first) == 5


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = dict(os.environ, PERFBENCH_SF="0.001")
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stderr[-3000:]
    want = (
        {k: v["unit"] for k, v in spec.PER_LAYER.items()}
        if trace
        else {k: u for k, (u, _) in spec.END_TO_END.items()}
    )
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if trace:
        assert res["metrics"]["fail_ratio"]["value"] == 0
        assert res["metrics"]["engine.jobs"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.monotonic()
    p = _run("relational_etl", 0, cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout.strip() == ""
    assert time.monotonic() - t0 < 60

"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME [--workload NAME ...]
        --seeds 1-10 [--seconds S]

Runs ``run.py`` once per seed and workload (untraced) and prints, per
metric, the median of the runs and the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workload:
        values: dict[str, list[float]] = {}
        walls = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                capture_output=True, text=True, check=True,
            ).stdout.strip().splitlines()[-1]
            walls.append(time.monotonic() - t0)
            res = json.loads(out)
            assert res["correct"], res
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, s, {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                  f"run {walls[-1]:.0f}s", flush=True)
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{w} {k}: median {med:.4g} spread {(q3 - q1) / med:.3f} "
                  f"(bound {bounds.get(k)})")
        print(f"{w} run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


if __name__ == "__main__":
    main()

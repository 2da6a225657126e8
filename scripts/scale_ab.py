"""Interleaved base-vs-scaled SF scaling measurement.

A two-process protocol (full sweep at the base SF, a second full sweep
at the scaled SF, divide) lets ambient machine drift land entirely on
one leg: a re-run once saw the scaled leg inflate ~50% against an
artifact whose code was slower — pure between-session noise (PLANS.md
"Round-9 drift bisect"). This script measures the ratio the way that
survives ambient load: ONE Spark session, each query timed at the base
dir and the scaled dir BACK-TO-BACK (base leg, scaled leg, next
query), so whatever the box is doing at minute N hits both legs of
query N equally. Emits a scaling report in the committed
BENCH_SF1.json's schema.

Usage:
    python scripts/make_scale.py --src /root/testdata/sf0.1 \
        --out /root/repo/.bench/sf1 --factor 10
    python scripts/scale_ab.py [--runs 1] [--out BENCH_SF1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mlb_win_predictor_spark.queries import QUERIES  # noqa: E402
from mlb_win_predictor_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default="/root/repo/.bench/sf1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--queries", default=None, help="comma list; default all")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_SF1.json",
        ),
    )
    ap.add_argument(
        "--factor",
        type=float,
        default=10.0,
        help="data factor between --base and --scaled (stamped in the report)",
    )
    ap.add_argument("--sf-base", type=float, default=0.1)
    ap.add_argument("--sf-scaled", type=float, default=1.0)
    a = ap.parse_args()

    names = a.queries.split(",") if a.queries else list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:  # fail BEFORE paying the Spark session + warmup
        sys.exit(f"unknown queries: {', '.join(unknown)}")

    quiet = bench.wait_for_quiet_box()
    load_before = bench._loadavg()
    spark = get_spark(app_name="mlb-win-predictor-scale-ab")

    # warmup both plans per query at the smallest SF (JIT + codegen)
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            bench.run_query(spark, n, warm)
        except Exception:
            pass

    base_t: dict[str, list[float]] = {n: [] for n in names}
    scaled_t: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(max(1, a.runs)):
        for n in names:
            base_t[n].append(bench.run_query(spark, n, a.base)[0])
            scaled_t[n].append(bench.run_query(spark, n, a.scaled)[0])

    def stat(xs: list[float]) -> float:
        return round(min(xs), 4)  # contention is one-sided; min is the signal

    queries = {}
    for n in names:
        t0, t1 = stat(base_t[n]), stat(scaled_t[n])
        queries[n] = {
            "t_base": t0,
            "t_scaled": t1,
            "ratio": round(t1 / t0, 3) if t0 > 0 else None,
        }
    ratios = sorted(
        v["ratio"] for v in queries.values() if v["ratio"] is not None
    )
    total_base = round(sum(v["t_base"] for v in queries.values()), 4)
    total_scaled = round(sum(v["t_scaled"] for v in queries.values()), 4)

    def median(xs: list[float]) -> float:
        m = len(xs) // 2
        return xs[m] if len(xs) % 2 else round((xs[m - 1] + xs[m]) / 2, 3)

    report = {
        "metric": "scaling_ratio",
        "sf_base": a.sf_base,
        "sf_scaled": a.sf_scaled,
        "data_factor": a.factor,
        "total_base_sec": total_base,
        "total_scaled_sec": total_scaled,
        "total_ratio": round(total_scaled / total_base, 3) if total_base else None,
        "ratio_median": median(ratios) if ratios else None,
        "ratio_max": ratios[-1] if ratios else None,
        "n_queries": len(queries),
        "n_superlinear": sum(1 for r in ratios if r > a.factor),
        "runs_per_point": max(1, a.runs),
        "protocol": (
            "interleaved in-session A/B: each query timed at the base dir "
            "then the scaled dir back-to-back inside ONE Spark session "
            "(ambient drift hits both legs equally); per-leg stat = min "
            "of runs (contention is one-sided)"
        ),
        "quiet_box": quiet,
        "loadavg": {"before": load_before, "after": bench._loadavg()},
        "data_note": (
            "scaled dataset generated by scripts/make_scale.py: N disjoint "
            "key-shifted shards of the driver's sf0.1 tables (fixed dims "
            "verbatim; documents re-vocabularied per shard so dedup/gram "
            "statistics scale honestly instead of planting exact copies)"
        ),
        "queries": queries,
    }
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print(
        f"{a.out}: {len(queries)} queries, total {report['total_ratio']}x "
        f"for {a.factor:g}x data; median {report['ratio_median']}x, "
        f"max {report['ratio_max']}x"
    )


if __name__ == "__main__":
    main()

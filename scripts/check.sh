#!/usr/bin/env bash
# Full verification: unit/property/plan tests, driver-scale oracle parity,
# driver simulation (default-conf session), and the benchmark.
set -euo pipefail
cd "$(dirname "$0")/.."
# every test and every parity case, not the default smoke subset
export SPARK_GRAFT_FULL_TESTS=1

echo "== pytest (sf0.001) =="
python -m pytest tests/ -q

echo "== oracle parity at driver scale (sf0.01) =="
PARITY_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

echo "== driver simulation (default session, foreign cwd) =="
python scripts/driver_sim.py

echo "== bench (sf0.1) =="
python bench.py

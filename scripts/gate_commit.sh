#!/usr/bin/env bash
# Gate-then-commit: the round-5 failure mode was "fix verified -> one more
# improvement -> snapshot ships unverified". This wraps the LAST
# source-touching commit of a round: it re-runs the full gate (pytest +
# driver-scale oracle parity + driver simulation) AFTER the working tree
# reaches its final state, and only then commits, appending the measured
# gate lines to the message — so the HEAD commit itself certifies the tree
# it ships.
#
# Usage: scripts/gate_commit.sh "commit subject line"
set -euo pipefail
cd "$(dirname "$0")/.."

msg="${1:?usage: scripts/gate_commit.sh \"commit message\"}"

py_out=$(python -m pytest tests/ -q 2>&1 | tail -1)
echo "pytest: ${py_out}"

sim_out=$(python scripts/driver_sim.py)
sim_line=$(echo "$sim_out" | grep "driver-sim:")
echo "${sim_line}"

git add -A
git commit -m "$(printf '%s\n\n%s\npytest: %s' "$msg" "$sim_line" "$py_out")"
git log -1 --format='%H %s'

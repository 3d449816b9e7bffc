#!/usr/bin/env bash
# All local gates in one shot: unit/golden suite, perfbench helper tests,
# driver-contract oracle parity, and a bench smoke.
# Usage: tools/run_gates.sh [--bench]
set -euo pipefail
cd "$(dirname "$0")/.."
# Size the test session to the host (tests/conftest.py falls back to 8
# cores when SPARK_GRAFT_CPUS is unset) and give Spark a dedicated
# scratch dir, as the tier-1 command in ROADMAP.md does.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
python -m pytest tests/ -x -q
python -m pytest perfbench/test_helpers.py -q
python tools/check_oracles.py --strict
if [[ "${1:-}" == "--bench" ]]; then
  python bench.py
fi
echo "ALL GATES GREEN"

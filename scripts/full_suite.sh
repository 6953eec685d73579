#!/usr/bin/env bash
# Run the whole test suite: the Tier-1 command with `-m ""`, which clears
# pytest.ini's default `-m "not slow"` so the slow tier runs too.
# Usage: scripts/full_suite.sh [extra pytest args...]
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec python -m pytest tests/ -q \
    --continue-on-collection-errors -p no:cacheprovider -m "" "$@"

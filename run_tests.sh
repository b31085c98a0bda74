#!/usr/bin/env bash
# Full local gate (mirror of the reference's run_tests.sh role):
#  1. unit + property tests
#  2. DuckDB-oracle correctness replica at sf0.01 (the driver's check)
set -euo pipefail
cd "$(dirname "$0")"
# the same environment as the tier-1 command: one Spark core per host core
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

python -m pytest tests/ -q
python tools/check_oracle.py /root/testdata/sf0.01

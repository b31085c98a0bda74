#!/usr/bin/env bash
# Full local gate (mirror of the reference's run_tests.sh role):
#  1. unit + property tests
#  2. the plan lint and shuffle budgets again at local[1], where a
#     round-robin repartition prints as a counted SinglePartition exchange
#  3. DuckDB-oracle correctness replica at sf0.01
set -euo pipefail
cd "$(dirname "$0")"
# the same environment as the tier-1 command: one Spark core per host core
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

python -m pytest tests/ -q
SPARK_GRAFT_CPUS=1 python -m pytest tests/test_plans.py -q
python tools/check_oracle.py /root/testdata/sf0.01

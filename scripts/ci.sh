#!/bin/sh
# One-command verification: unit tests, the benchmark's span-recorder
# tests, the full oracle sweep at sf0.01 (the driver's correctness
# gate, run locally), the sf0.1 bench, and the round-over-round bench
# diff. Each stage fails the script on error (the diff itself is a
# report, not a gate). Tests run in the Tier-1 environment: one local
# core per host CPU and a fixed Spark scratch dir.
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
    SPARK_LOCAL_DIRS=/tmp/spark-local
python -m pytest tests/ -q
python -m pytest perfbench/test_spans.py -q
python scripts/check_oracles.py
python bench.py
python scripts/bench_diff.py

#!/usr/bin/env bash
# Cold-JVM per-query bench probe — the recorded-vs-plan-cost honesty check.
#
# The full suite's recording can inflate individual queries via suite
# state (heap aging, JIT churn, checkpoint residue). This script runs
# each named query in its OWN fresh JVM (same config as the full suite)
# so the printed time is the query's plan cost plus nothing else.
#
# Usage: tools/bench_cold.sh [sfDir] query1 [query2 ...]
#   tools/bench_cold.sh /root/testdata/sf0.1 t7_contamination dd13_incremental
#
# Compare against the full-suite recording (BENCH_r*.json "queries"):
# a recorded time > 1.5x the cold number here is a measurement artifact,
# not a plan regression.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.1}"
shift || true
[ $# -gt 0 ] || { echo "usage: $0 [sfDir] query1 [query2 ...]" >&2; exit 2; }
for q in "$@"; do
  echo "=== $q (cold JVM, sf=$SF_DIR) ==="
  SPARK_GRAFT_ONLY="$q" SPARK_GRAFT_SF_DIR="$SF_DIR" \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -E 'bench-gauge|"metric"'
done

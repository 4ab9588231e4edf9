#!/usr/bin/env bash
# One-shot gate replay: compile, tests, oracle verify, benchmark checks, bench.
# Usage: scripts/check_all.sh [sf]   (default 0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-0.01}"
OUT="/tmp/graft-check-sf$SF"

echo "== compile + tests"
sbt -batch test

echo "== verify at sf$SF"
sbt -batch "runMain graft.Verify /root/testdata/sf$SF $OUT"
python3 scripts/verify_local.py "$OUT" "/root/testdata/sf$SF"

echo "== double-run determinism at sf$SF"
sbt -batch "runMain graft.Verify /root/testdata/sf$SF ${OUT}-b"
python3 scripts/diff_runs.py "$OUT" "${OUT}-b"

echo "== benchmark checks: self-test, then one checked ingest run"
python3 perfbench/test_checks.py
python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 | tail -n 1 | tee "$OUT-perfbench.json"
if grep -q '"correct": *false' "$OUT-perfbench.json"; then
  echo "perfbench ingest: an output check failed" >&2
  exit 1
fi

echo "== bench at sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch 'runMain graft.Bench' | grep '"metric"'

echo "== duckdb head-to-head on the same oracles (sf0.1)"
python3 scripts/bench_compare.py "$OUT" /root/testdata/sf0.1

echo "== connector jar (service-file packaging)"
sbt -batch assembly
unzip -l target/scala-2.13/pinotpulsarpluginspark_*.jar \
  | grep -q org.apache.spark.sql.sources.DataSourceRegister \
  && echo "jar carries DataSourceRegister service entry"

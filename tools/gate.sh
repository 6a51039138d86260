#!/usr/bin/env bash
# Pre-snapshot gate: refuse to bless a tree that hasn't passed
# compile -> test -> benchmark smoke test -> Verify -> DuckDB oracle
# check on the EXACT diff.
# Round 3 shipped a commit last compiled 3 minutes before the snapshot
# and zeroed the official gate; this script makes that impossible.
#
# Usage: tools/gate.sh [sfDir] [outDir]
#   sfDir  defaults to /root/testdata/sf0.01 (the driver's gate SF)
#   outDir defaults to out/gate
# Exit 0 = safe to commit/snapshot. Nonzero = DO NOT.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-out/gate}"

tools/warm_jars.sh || true

echo "== gate: sbt compile + test =="
mkdir -p out
TEST_LOG=out/gate-test.log
sbt -batch -Dsbt.log.noformat=true "Test/compile" test | tee "$TEST_LOG"
# a spec that stops being discovered lowers the count without failing
# anything: hold the passing test count to a committed floor
MIN_TESTS=324
N_TESTS=$(sed -n 's/.*Tests: succeeded \([0-9][0-9]*\), .*/\1/p' "$TEST_LOG" | tail -1)
if [ -z "$N_TESTS" ] || [ "$N_TESTS" -lt "$MIN_TESTS" ]; then
  echo "GATE REFUSED: ${N_TESTS:-no} passing tests, floor is $MIN_TESTS" >&2
  exit 1
fi

# the benchmark harness calls into the library (Substrates.all,
# QDedup1.qs, DfMemo.protectedRddIds, Stages): an API change that
# breaks it fails here, not at the next benchmark run
echo "== gate: benchmark smoke test =="
python3 perfbench/smoke_test.py

echo "== gate: Verify @ $SF -> $OUT =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $(pwd)/$OUT"

echo "== gate: DuckDB oracle check =="
python3 tools/check.py "$SF" "$OUT" | tee "$OUT/check.log"
if grep -q "FAIL" "$OUT/check.log"; then
  echo "GATE REFUSED: oracle mismatches above" >&2
  exit 1
fi
# a query that drops out of oracle_sql.json lowers the pass count
# without printing a FAIL line: hold the count to the ROADMAP floor
MIN_PASS=229
N_PASS=$(sed -n 's/^== \([0-9][0-9]*\) pass, [0-9][0-9]* fail, [0-9][0-9]* rows-only ==$/\1/p' "$OUT/check.log")
if [ -z "$N_PASS" ] || [ "$N_PASS" -lt "$MIN_PASS" ]; then
  echo "GATE REFUSED: ${N_PASS:-no} oracle passes, floor is $MIN_PASS" >&2
  exit 1
fi
echo "== gate: all green — safe to commit =="

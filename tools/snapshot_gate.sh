#!/usr/bin/env bash
# Pre-snapshot gate: MUST run (and pass) after the LAST source change and
# before the end-of-round commit. Round 6 shipped a HEAD that didn't
# compile because a file was committed without this; never again.
#
#   1. sbt Test/compile          — main + test sources compile
#   2. sbt test                  — full suite green
#   3. cdcbench: sbt test        — the benchmark build compiles against
#      this tree and its own tests pass (a deleted or renamed entry point
#      the benchmark calls fails here)
#   4. EntrySmoke at sf0.001     — flagship query returns rows
#
# Usage: tools/snapshot_gate.sh [--fast]   (--fast skips the full test run
# when the suite already ran green on the exact working tree this session;
# compile + smoke always run).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== snapshot gate: compile =="
sbt -batch "Test/compile" 2>&1 | tail -2 | grep -q "success" || {
  echo "GATE FAIL: compile"; exit 1; }

if [[ "${1:-}" != "--fast" ]]; then
  echo "== snapshot gate: full test suite =="
  sbt -batch test 2>&1 | tail -8 | tee /tmp/gate_test_tail.txt
  grep -q "All tests passed" /tmp/gate_test_tail.txt || {
    echo "GATE FAIL: tests"; exit 1; }
fi

echo "== snapshot gate: cdcbench build + tests =="
(cd cdcbench && sbt -batch test) 2>&1 | tail -8 | tee /tmp/gate_bench_tail.txt
grep -q "All tests passed" /tmp/gate_bench_tail.txt || {
  echo "GATE FAIL: cdcbench"; exit 1; }

echo "== snapshot gate: entry smoke (sf0.001) =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 \
  | tail -5 | tee /tmp/gate_smoke_tail.txt
grep -qE "ENTRY_ROWS=[1-9]" /tmp/gate_smoke_tail.txt || {
  echo "GATE FAIL: entry smoke"; exit 1; }

echo "== snapshot gate: PASS =="

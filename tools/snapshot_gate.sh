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
#   4. cdcbench smoke            — one 12 s run per workload must exit 0
#      with "failed": 0 on its last line (a runtime break of the public
#      CDC path that compiles fine fails here; `correct` is not gated: it
#      folds in open-loop validity, which a loaded host can fail)
#   5. EntrySmoke at sf0.001     — flagship query returns rows
#   6. connector reads at sf0.01 — the five graft-table / GraftCatalog
#      reads (cdc_table_read_*) match the DuckDB oracle: 5 pass, 0 fail
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

echo "== snapshot gate: cdcbench smoke (one run per workload) =="
for w in cdc_stream cdc_history_read; do
  python3 cdcbench/run.py --workload "$w" --seed 1 --seconds 12 --trace 0 \
    > "/tmp/gate_bench_$w.txt" 2>&1 || {
    tail -5 "/tmp/gate_bench_$w.txt"; echo "GATE FAIL: cdcbench $w run"; exit 1; }
  tail -1 "/tmp/gate_bench_$w.txt" | python3 -c \
    'import json, sys; sys.exit(json.loads(sys.stdin.read())["failed"] != 0)' || {
    tail -1 "/tmp/gate_bench_$w.txt"; echo "GATE FAIL: cdcbench $w failed ops"; exit 1; }
  tail -1 "/tmp/gate_bench_$w.txt"
done

echo "== snapshot gate: entry smoke (sf0.001) =="
sbt -batch "runMain graft.tools.EntrySmoke" 2>&1 \
  | tail -5 | tee /tmp/gate_smoke_tail.txt
grep -qE "ENTRY_ROWS=[1-9]" /tmp/gate_smoke_tail.txt || {
  echo "GATE FAIL: entry smoke"; exit 1; }

echo "== snapshot gate: connector reads vs the oracle (sf0.01) =="
rm -rf /tmp/gate_conn
SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.tools.RunOne /root/testdata/sf0.01 \
  /tmp/gate_conn cdc_table_read_dsv2 cdc_table_read_sql cdc_table_read_pushdown \
  cdc_table_read_recent cdc_table_read_name_range" > /tmp/gate_conn_run.txt 2>&1 || {
  tail -5 /tmp/gate_conn_run.txt; echo "GATE FAIL: connector reads run"; exit 1; }
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_conn \
  > /tmp/gate_conn_check.txt 2>&1 || true
tail -3 /tmp/gate_conn_check.txt
grep -q "^5 pass, 0 fail" /tmp/gate_conn_check.txt || {
  echo "GATE FAIL: connector reads vs the oracle"; exit 1; }

echo "== snapshot gate: PASS =="

#!/bin/bash
# One-command judge harness: compile, correctness-at-sf0.01 vs the
# DuckDB oracle (plain, then again with every value-identical fence
# forced onto its above-cap branch: SPARK_GRAFT_FORCE_ABOVE_FENCE=1),
# entry smoke, bench at sf0.1 + the per-query floor
# regression gate (any query > 3x its best-known quiet minimum in
# tools/floors.json gets a BenchOne retry; a reproduced excess is a
# named regression and fails "ok") — one summary JSON at the end (and
# on disk at /tmp/judge_summary.json). Add `--test` to also run the
# full ScalaTest suite (streaming/stateful parity + plan-shape sweeps
# + the suite-wide robustness sweeps; ~15 min).
#
# Usage: tools/judge.sh [--test] [--cores] [--stream]
#   --cores additionally runs CoresBench (the materialized shared-core
#   deployment shape, q48/q70/q80 over one Cores.materialize vs
#   self-contained) and records it in the summary — the amortization
#   number BASELINE.md tracks per round.
#   --stream additionally runs StreamBench (the s01→s06 replay
#   throughput baseline: trade/depth × csv/parquet + the ×4-symbol
#   parallelism row) — compare against BASELINE.md's streaming table.
#   A StreamBench that exits non-zero (its in-process floor gate
#   throws on a reading below a third of its floor) fails "ok".
set -e
cd "$(dirname "$0")/.."

TEST=0
CORES=0
STREAM=0
for a in "$@"; do
  [ "$a" = "--test" ] && TEST=1
  [ "$a" = "--cores" ] && CORES=1
  [ "$a" = "--stream" ] && STREAM=1
done

echo "== 1/5 compile" >&2
sbt -batch compile > /tmp/judge_compile.log 2>&1 || {
  echo '{"ok":false,"stage":"compile","log":"/tmp/judge_compile.log"}'; exit 1; }

echo "== 2/5 correctness (Verify sf0.01 + DuckDB oracle)" >&2
SPARK_GRAFT_CPUS=8 tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/judge_v \
  > /tmp/judge_verify.log 2>&1 || {
  echo '{"ok":false,"stage":"verify","log":"/tmp/judge_verify.log"}'; exit 1; }
# check.py's last line looks like: == 111 pass, 0 fail ==; a crashed
# check.py yields no match — the guards map that to pass=0/fail=
# unknown(-1 -> not ok) instead of tripping set -e before the summary
# prints. Prints "<pass> <fail>" for the outputs in $1.
oracle_check() {
  local check
  check=$(python3 tools/check.py /root/testdata/sf0.01 "$1" 2>&1 | tail -1)
  echo "$(echo "$check" | grep -oE '[0-9]+ pass' | grep -oE '[0-9]+' || echo 0)" \
    "$(echo "$check" | grep -oE '[0-9]+ fail' | grep -oE '[0-9]+' || echo -1)"
}
read -r NPASS NFAIL <<< "$(oracle_check /tmp/judge_v)"

echo "== 2.5/5 correctness, fences forced above their caps" >&2
SPARK_GRAFT_FORCE_ABOVE_FENCE=1 SPARK_GRAFT_CPUS=8 tools/run.sh graft.Verify \
  /root/testdata/sf0.01 /tmp/judge_v_forced > /tmp/judge_verify_forced.log 2>&1 || {
  echo '{"ok":false,"stage":"verify_forced","log":"/tmp/judge_verify_forced.log"}'; exit 1; }
read -r FPASS FFAIL <<< "$(oracle_check /tmp/judge_v_forced)"

echo "== 3/5 smoke" >&2
SMOKE=$(tools/run.sh graft.Smoke 2>&1 | grep -oE 'ENTRY ROWS=[0-9]+' | grep -oE '[0-9]+' || echo 0)

echo "== 4/5 bench (sf0.1, min-of-3 + retime)" >&2
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT=/tmp/judge_bench.json tools/run.sh graft.Bench \
  > /tmp/judge_bench.log 2>&1 || {
  echo '{"ok":false,"stage":"bench","log":"/tmp/judge_bench.log"}'; exit 1; }
BENCH_TOTAL=$(python3 -c "import json;print(round(json.load(open('/tmp/judge_bench.json'))['value'],2))")
BENCH_ERRS=$(python3 -c "import json;print(len(json.load(open('/tmp/judge_bench.json'))['errors']))")

# floors_gate.py exits 1 when it names regressions; its JSON is then
# the verdict and is kept. Only output that is not a gate report (a
# crash) is replaced by a placeholder regression.
floors_gate() {
  local out
  out=$(python3 tools/floors_gate.py "$@" 2>>/tmp/judge_floors.log) || true
  if echo "$out" | python3 -c "import json,sys;json.load(sys.stdin)['regressions']" 2>/dev/null; then
    echo "$out"
  else
    echo "{\"flagged\":{},\"regressions\":[\"floors_gate $* crashed - see /tmp/judge_floors.log\"],\"floors_updated\":0}"
  fi
}

echo "== 4.5/5 per-query floor gate (3x best-known quiet minimum)" >&2
: > /tmp/judge_floors.log
FLOORS=$(floors_gate /tmp/judge_bench.json)
echo "$FLOORS" > /tmp/judge_floors.json
NREG=$(python3 -c "import json;print(len(json.load(open('/tmp/judge_floors.json'))['regressions']))")

CORES_JSON='"skipped"'
if [ "$CORES" = "1" ]; then
  echo "== 4.7/5 cores bench (materialized shared-core shape)" >&2
  # a stale /tmp/judge_cores.json from a previous round would satisfy
  # the [ -s ... ] gate below even when CoresBench FAILED, ratcheting
  # floors from stale numbers — clear it first
  rm -f /tmp/judge_cores.json
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_CORES_OUT=/tmp/judge_cores.json tools/run.sh graft.CoresBench \
    > /tmp/judge_cores.log 2>&1 \
    && CORES_JSON=$(cat /tmp/judge_cores.json) \
    || CORES_JSON='"FAILED (see /tmp/judge_cores.log)"'
  # the materialized deployment shape gets its own floor gate (3x rule
  # + ratchet, "cores:" keys in tools/floors.json) so a regression in
  # the production path is caught here, not by a judge two rounds later
  if [ -s /tmp/judge_cores.json ]; then
    CFLOORS=$(floors_gate --cores /tmp/judge_cores.json)
    CREG=$(echo "$CFLOORS" | python3 -c "import json,sys;print(len(json.load(sys.stdin)['regressions']))")
    NREG=$((NREG + CREG))
    echo "$CFLOORS" > /tmp/judge_cores_floors.json
  fi
fi

STREAM_JSON='"skipped"'
STREAM_OK=1
if [ "$STREAM" = "1" ]; then
  echo "== 4.8/5 stream bench (replay pipeline throughput)" >&2
  if SPARK_GRAFT_CPUS=32 SPARK_GRAFT_STREAM_OUT=/tmp/judge_stream.json \
      tools/run.sh graft.streaming.StreamBench > /tmp/judge_stream.log 2>&1; then
    STREAM_JSON=$(cat /tmp/judge_stream.json)
  else
    STREAM_JSON='"FAILED (see /tmp/judge_stream.log)"'
    STREAM_OK=0
  fi
fi

SUITE="skipped"
SUITE_OK=1
if [ "$TEST" = "1" ]; then
  echo "== 5/5 full test suite" >&2
  if sbt -batch test > /tmp/judge_test.log 2>&1; then
    SUITE=$(grep -oE 'Tests: succeeded [0-9]+, failed [0-9]+' /tmp/judge_test.log | tail -1 || echo "passed (summary line missing)")
  else
    SUITE="FAILED (see /tmp/judge_test.log)"
    SUITE_OK=0
  fi
fi

SUMMARY=$(python3 - <<EOF
import json, os
floors = json.load(open('/tmp/judge_floors.json'))
cfl = {"regressions": []}
if os.path.exists('/tmp/judge_cores_floors.json') and "$CORES" == "1":
    cfl = json.load(open('/tmp/judge_cores_floors.json'))
print(json.dumps({
  "ok": int("$NFAIL") == 0 and int("$FFAIL") == 0
        and int("$BENCH_ERRS") == 0
        and int("$SMOKE") > 0 and int("$SUITE_OK") == 1
        and int("$STREAM_OK") == 1 and int("$NREG") == 0,
  "correct_pass": int("$NPASS"), "correct_fail": int("$NFAIL"),
  "correct_forced_pass": int("$FPASS"), "correct_forced_fail": int("$FFAIL"),
  "entry_rows": int("$SMOKE"), "bench_total_sec": float("$BENCH_TOTAL"),
  "bench_errors": int("$BENCH_ERRS"),
  "floor_flagged": sorted(floors["flagged"]),
  "floor_regressions": floors["regressions"] + cfl["regressions"],
  "cores": $CORES_JSON,
  "stream": $STREAM_JSON,
  "suite": "$SUITE",
  "bench_json": "/tmp/judge_bench.json"}))
EOF
)
echo "$SUMMARY" | tee /tmp/judge_summary.json

#!/usr/bin/env bash
# Re-anchor protocol (VERDICT r5 item 2): run the full bench 3x
# back-to-back at sf0.1 under driver-like conditions (immediately after a
# verify-style workload), recording each run's JSON and the 1-min load at
# its start. The anchor written to BASELINE.json must be the MEDIAN total,
# with all three totals + loads recorded in bench_anchor_meta so a future
# run can be judged against the observed spread, not a lucky best-case.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
for i in 1 2 3; do
  LOAD=$(cut -d' ' -f1 /proc/loadavg)
  echo "=== bench run $i (1-min load at start: $LOAD) ==="
  SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench" > "/tmp/bench_r6_run$i.log" 2>&1 || true
  cp bench_last.json "/tmp/bench_r6_run$i.json"
  echo "$LOAD" > "/tmp/bench_r6_run$i.load"
  python3 -c "import json; d=json.load(open('/tmp/bench_r6_run$i.json')); print('run $i total:', round(d['value'],1), 'errors:', d['errors'])"
done

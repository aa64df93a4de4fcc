#!/bin/bash
# The BASELINE.json anchor methodology, as a runnable artifact: N back-to-back
# driver-protocol sequences (full sf0.01 Verify, then full sf0.1 Bench, fresh
# JVM each, catalog order), reporting per-run totals and the per-query MEDIAN.
# Whole-registry totals swing +/-25% with box load at identical code, so the
# median over >=3 runs is the number to anchor or compare against — never a
# single run.
#
# Usage: tools/protocol_median.sh [N]   (default 3; writes /tmp/protocol_run_<i>.json)
set -e
cd "$(dirname "$0")/.."
N=${1:-3}
for i in $(seq 1 "$N"); do
  rm -rf "/tmp/protocol_verify_$i"
  sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.01 /tmp/protocol_verify_$i" \
    > "/tmp/protocol_verify_$i.log" 2>&1
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch \
    "runMain graft.Bench" > "/tmp/protocol_bench_$i.log" 2>&1
  cp bench_last.json "/tmp/protocol_run_$i.json"
  python3 -c "import json; d=json.load(open('/tmp/protocol_run_$i.json')); \
    print('run $i total', round(d['value'],1), 'errors', d['errors'])"
done
python3 - "$N" <<'EOF'
import json, statistics, sys
n = int(sys.argv[1])
runs = [json.load(open(f'/tmp/protocol_run_{i}.json'))['queries'] for i in range(1, n+1)]
med = {k: statistics.median([r[k] for r in runs]) for k in runs[0]}
totals = sorted(round(sum(r.values()), 1) for r in runs)
print('totals (sorted):', totals, 'median-of-totals:', totals[len(totals)//2])
print('sum-of-per-query-medians:', round(sum(med.values()), 1))
print('slowest 10 by median:')
for k, v in sorted(med.items(), key=lambda kv: -kv[1])[:10]:
    print(f'  {v:7.2f}  {k}')
print(json.dumps({'bench_total_s': totals[len(totals)//2], 'bench_queries': med}))
EOF

#!/usr/bin/env bash
# One-shot round verification: everything the grading driver checks,
# run locally in the order that catches problems earliest. Run from the
# repo root with the cores otherwise idle (bench numbers inflate 2-4x
# under concurrent Spark work). Takes ~30-45 min total at all three SFs.
#
#   bash tools/run_round_checks.sh            # full sequence
#   bash tools/run_round_checks.sh --fast     # skip sf0.1 sweep + bench
set -u -o pipefail
cd "$(dirname "$0")/.."
FAST="${1:-}"
fail=0

step() { printf '\n== %s\n' "$*"; }

step "testdata schema preflight"
python tools/check_schemas.py || fail=1

step "rotation sanity (must-set vs cap)"
python tools/suggest_rotation.py | head -5

step "plan audit (no row-wise UDFs / unlisted cartesians / persists)"
# grep SUCCEEDING on "violation" lines must still fail the run, so gate
# on the audit exit code AND on the word appearing in its output
audit_out=$(python tools/audit_plans.py 2>/dev/null) || fail=1
printf '%s\n' "$audit_out" | grep -E "audited|violation"
# the summary line itself says "0 violations" — fail only on a
# nonzero count or a per-plan VIOLATION detail line
printf '%s\n' "$audit_out" | grep -qE "VIOLATION|[1-9][0-9]* violation" && fail=1

step "correctness sweep sf0.01 (the driver's gate SF)"
python tools/check_correctness.py 2>/dev/null | tail -2 || fail=1

step "correctness sweep sf0.001"
python tools/check_correctness.py --sf /root/testdata/sf0.001 2>/dev/null | tail -2 || fail=1

if [ "$FAST" != "--fast" ]; then
  step "correctness sweep sf0.1 (cross-scale divergence catcher)"
  python tools/check_correctness.py --sf /root/testdata/sf0.1 2>/dev/null | tail -2 || fail=1
fi

step "vanilla-session driver probe (__spark_entry__.entry)"
python - <<'EOF' 2>/dev/null || fail=1
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as e
n = len(e.entry(spark).collect())
assert n >= 0
print(f"entry(): {n} rows")
qs, os_ = e.queries(), e.oracle_sql()
print(f"queries(): {len(qs)}  oracle_sql(): {len(os_)}")
EOF

step "pytest (full suite)"
python -m pytest tests/ -q 2>/dev/null | tail -2 || fail=1

if [ "$FAST" != "--fast" ]; then
  step "bench (also validates the JSON capture path)"
  python bench.py 2>/dev/null | python -c "
import json,sys
d=json.loads(sys.stdin.read().strip().splitlines()[-1])
print('warm', d['value'], 'cold', d['cold_value'], 'queries', len(d['queries']),
      'errors', d.get('errors'))
" || fail=1
fi

step "bench canary (freshness vs last source commit + regression vs last round)"
# r11 lesson: a 5x regression shipped because the bench predated the
# regressing commit by 3.5 h — this FAILS the round if bench_last.json
# is older than the last plan-affecting commit, or any >1s query
# regressed >1.5x vs the previous round's BENCH_r*.json
python tools/bench_canary.py || fail=1

step "result"
[ "$fail" -eq 0 ] && echo "ALL CHECKS COMPLETED (inspect tails above)" || echo "SOME CHECK FAILED"
exit "$fail"

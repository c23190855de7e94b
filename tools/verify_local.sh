#!/bin/bash
# Local iteration loop: compile, run graft.Verify, compare vs DuckDB.
# Usage: tools/verify_local.sh [sfDir] [outDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
sbt -batch compile 2>&1 | grep -E "error|warning|success" | tail -3
. tools/jvm.sh
rm -rf "$OUT"
java $OPENS -Xmx16g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>&1 | grep -v "INFO\|WARN\|log4j" | tail -5
python3 tools/check_oracle.py --sweep "$SF" "$OUT/oracle_sql.json"
python3 tools/check_oracle.py "$SF" "$OUT"
# plan-regression gate (r13): fingerprint every query's fresh plan
# against the committed PLANS.md — fails on un-annotated growth in
# shuffles/sorts/expands/windows or a lost pushdown.
# rm first so a crashed Plans run can never leave a stale fresh file
# for check_plans.py to pass against; the existence check below turns
# a swallowed Plans crash (grep/tail eat its exit code) into a loud
# gate failure instead of a vacuous pass.
rm -f /tmp/PLANS_fresh.md
java $OPENS -Xmx16g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Plans "$SF" /tmp/PLANS_fresh.md 2>&1 | grep -v "INFO\|WARN\|log4j" | tail -1
test -f /tmp/PLANS_fresh.md || { echo "FAIL plan gate: graft.Plans produced no /tmp/PLANS_fresh.md"; exit 1; }
python3 tools/check_plans.py PLANS.md /tmp/PLANS_fresh.md

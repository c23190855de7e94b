#!/bin/bash
# r17 measurement battery: full suite at sf0.1 / sf1 / sf10, both
# cache modes, all at ONE source tree. graft.Bench itself writes
# BENCH_FULL_<mode>.json per run; this script renames the sf1/sf10
# copies. Usage: tools/bench_battery.sh [skip_sf01_shared]
set -e
cd "$(dirname "$0")/.."
. tools/jvm.sh
run() { # run <sfdir> <isolate01> <renameTo-or-keep> <xmx>
  echo "=== $3 (load: $(cut -d' ' -f1-3 /proc/loadavg)) $(date +%H:%M:%S) ==="
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ISOLATE="$2" \
    java $OPENS -Xmx"$4" -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench 2>/dev/null | tail -1
  src="BENCH_FULL_shared.json"; [ -n "$2" ] && src="BENCH_FULL_isolate.json"
  [ "$3" = "keep" ] || cp "$src" "$3"
}
if [ -z "$1" ]; then
  run /root/testdata/sf0.1    ""  keep                         24g
fi
run /root/testdata/sf0.1      "1" keep                         24g
# snapshot the sf0.1 halves — the sf1/sf10 runs overwrite them
cp BENCH_FULL_shared.json  /tmp/b17_sf01_shared.json
cp BENCH_FULL_isolate.json /tmp/b17_sf01_isolate.json
run /root/repo/.testdata-sf1  ""  BENCH_sf1_FULL_shared.json   48g
run /root/repo/.testdata-sf1  "1" BENCH_sf1_FULL_isolate.json  48g
run /root/repo/.testdata-sf10 ""  BENCH_sf10_FULL_shared.json  80g
run /root/repo/.testdata-sf10 "1" BENCH_sf10_FULL_isolate.json 80g
# restore the sf0.1 halves as the canonical BENCH_FULL_* pair
cp /tmp/b17_sf01_shared.json  BENCH_FULL_shared.json
cp /tmp/b17_sf01_isolate.json BENCH_FULL_isolate.json
git checkout -- BENCH_FULL.json 2>/dev/null || true
echo "=== battery done $(date +%H:%M:%S) (load: $(cut -d' ' -f1-3 /proc/loadavg)) ==="

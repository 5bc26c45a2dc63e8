#!/bin/bash
# Solo re-run of single streaming legs, parent against change, in
# alternating fresh JVMs (parent first in odd pairs). The parent side
# runs the leg through its own standalone main with StreamBenchAll's
# arguments; the change side runs `StreamBench <dir> <sec> <leg>`.
#
# Usage: stream_ab_legs.sh <parentClasses> <changeClasses> <outDir> <pairs> <seconds> <leg>...
#   leg: micro_1k | micro_10k | micro_100k | er_stream | order_tws
set -euo pipefail
PARENT="$1"; CHANGE="$2"; OUT="$3"; PAIRS="$4"; SEC="$5"; shift 5
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
JVM="java $OPENS -Xms6g -Xmx6g -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
mkdir -p "$OUT"
parent() {  # parent <leg> <i>
  local f="$OUT/parent_$1_$2.json"
  local main args
  case "$1" in
    micro_*) local k="${1#micro_}"; k="${k%k}"
      main=graft.StreamBench; args=(60000 10000 $((k * 1024)) "$SEC" "$f") ;;
    er_stream) main=graft.ErStreamBench; args=(60000 "$SEC" "$f") ;;
    order_tws) main=graft.OrderStreamBench; args=(tws 60000 1000 "$SEC" "$f") ;;
    *) echo "no parent main for $1" >&2; exit 1 ;;
  esac
  $JVM -cp "$PARENT:/opt/spark/jars/*" "$main" "${args[@]}" \
    > "$OUT/parent_$1_$2.stdout" 2> "$OUT/parent_$1_$2.stderr"
}
change() {
  $JVM -cp "$CHANGE:/opt/spark/jars/*" graft.StreamBench \
    "$OUT/change_$1_$2" "$SEC" "$1" \
    > "$OUT/change_$1_$2.stdout" 2> "$OUT/change_$1_$2.stderr"
}
for leg in "$@"; do
  for i in $(seq 1 "$PAIRS"); do
    if [ $((i % 2)) -eq 1 ]; then parent "$leg" "$i"; change "$leg" "$i"
    else change "$leg" "$i"; parent "$leg" "$i"; fi
    echo "[ab] $leg pair $i done $(date -u +%H:%M:%S)"
  done
done

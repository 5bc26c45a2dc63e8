#!/bin/bash
# Streaming A/B of the one-table StreamBench against its parent's
# StreamBenchAll: alternating whole-suite runs in fresh JVMs, the same
# seconds per leg on both sides, parent first in odd pairs and change
# first in even pairs.
#
# Usage: stream_ab_pr5.sh <parentClasses> <changeClasses> <outDir> [pairs=3] [seconds=15] [legs=all]
#   legs other than `all` re-run only those legs on both sides (the
#   parent side still runs its whole suite, whose records hold them).
set -euo pipefail
PARENT="${1:?parent classes dir}"; CHANGE="${2:?change classes dir}"
OUT="${3:?out dir}"; PAIRS="${4:-3}"; SEC="${5:-15}"; LEGS="${6:-all}"
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
parent() {
  local d="$OUT/parent_$1"
  $JVM -cp "$PARENT:/opt/spark/jars/*" graft.StreamBenchAll "$d" "$SEC" \
    > "$d.stdout" 2> "$d.stderr"
}
change() {
  local d="$OUT/change_$1"
  $JVM -cp "$CHANGE:/opt/spark/jars/*" graft.StreamBench "$d" "$SEC" "$LEGS" \
    > "$d.stdout" 2> "$d.stderr"
}
for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then parent "$i"; change "$i"
  else change "$i"; parent "$i"; fi
  echo "[ab] pair $i done $(date -u +%H:%M:%S)"
done

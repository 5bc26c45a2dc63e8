#!/bin/bash
# The record of how plans/pr6/trace_pair/ was made: one traced pair of
# reconfig_under_load, parent first, with Spark event logs and the CSV
# metrics sink switched on through JVM system properties (the
# benchmark's files stay as they are), then the per-batch stage figures
# of each side. Kept as evidence for that one measurement, not as a
# general tool; parent/change series go through tools/perfbench_ab.py.
#
#   plans/pr6/trace_pair.sh <parent-tree> <out-dir> [seed=13]
#
# <parent-tree> is the parent commit exported with `git archive`. Run
# from the repository root; writes <out-dir>/<side>.json (run.py's
# result line) and <out-dir>/<side>_stages.json.
set -euo pipefail
parent=$(cd "$1" && pwd)
out=$(mkdir -p "$2" && cd "$2" && pwd)
seed=${3:-13}
change=$(pwd)
for side in parent change; do
  tree=$parent; [ "$side" = change ] && tree=$change
  ev="$out/$side/eventlog"; csv="$out/$side/metrics"
  rm -rf "$out/$side"; mkdir -p "$ev" "$csv"
  (cd "$tree" && JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
-Dspark.eventLog.compress=false -Dspark.eventLog.dir=$ev \
-Dspark.metrics.conf.*.sink.csv.class=org.apache.spark.metrics.sink.CsvSink \
-Dspark.metrics.conf.*.sink.csv.period=1 \
-Dspark.metrics.conf.*.sink.csv.directory=$csv" \
    python3 perfbench/run.py --workload reconfig_under_load --seed "$seed" \
      --seconds 15 --trace 1 | tail -n 1 > "$out/$side.json")
  python3 "$change/plans/pr6/stage_figures.py" "$ev" "$csv" > "$out/${side}_stages.json"
done

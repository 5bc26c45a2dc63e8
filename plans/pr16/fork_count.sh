#!/bin/bash
# Child processes the JVM starts per measured micro-batch, by call site:
# one traced run of reconfig_under_load on each side, parent first, with
# JFR recording jdk.ProcessStart through JAVA_TOOL_OPTIONS (the
# benchmark's files stay as they are).
#
#   plans/pr16/fork_count.sh <parent-tree> <out-dir> [seed=13]
#
# <parent-tree> is the parent commit exported with `git archive` and
# built once already (run.py's build JVM would record too). Run from the
# repository root. Writes <out-dir>/<side>.json (run.py's result line,
# per-layer metrics), <out-dir>/<side>/*.jfr and <out-dir>/<side>_forks.json
# (fork_sites.py), and prints both sides' per-batch table.
set -euo pipefail
parent=$(cd "$1" && pwd)
out=$(mkdir -p "$2" && cd "$2" && pwd)
seed=${3:-13}
change=$(pwd)
here="$change/plans/pr16"
for side in parent change; do
  tree=$parent; [ "$side" = change ] && tree=$change
  rm -rf "$out/$side"; mkdir -p "$out/$side"
  (cd "$tree" && JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=256 \
-XX:StartFlightRecording:settings=$here/process_start.jfc,filename=$out/$side/" \
    python3 perfbench/run.py --workload reconfig_under_load --seed "$seed" \
      --seconds 15 --trace 1 | tail -n 1 > "$out/$side.json")
  python3 "$here/fork_sites.py" "$out/$side" \
    "$tree/.bench_build/perfbench/runs/reconfig_under_load-seed$seed-trace1.spans.json" \
    > "$out/${side}_forks.json"
done
python3 "$here/fork_sites.py" --table "$out/parent_forks.json" "$out/change_forks.json"

#!/bin/bash
# Spark jobs per measured pass of batch_kernels, by row and call site:
# one traced run on each side, parent first, with the Spark event log
# turned on through JAVA_TOOL_OPTIONS (the benchmark's files stay as
# they are).
#
#   plans/pr18/job_count.sh <parent-tree> <out-dir> [seed=1]
#
# <parent-tree> is the parent commit exported with `git archive`. Run
# from the repository root. Writes <out-dir>/<side>.json (run.py's
# result line, per-layer metrics), <out-dir>/<side>/eventlog/ (one
# zstd-compressed log per SparkContext) and <out-dir>/<side>_jobs.json
# (job_sites.py), and prints both sides' table.
set -euo pipefail
parent=$(cd "$1" && pwd)
out=$(mkdir -p "$2" && cd "$2" && pwd)
seed=${3:-1}
change=$(pwd)
here="$change/plans/pr18"
for side in parent change; do
  tree=$parent; [ "$side" = change ] && tree=$change
  rm -rf "$out/$side"; mkdir -p "$out/$side/eventlog"
  (cd "$tree" && JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
-Dspark.eventLog.dir=file://$out/$side/eventlog" \
    python3 perfbench/run.py --workload batch_kernels --seed "$seed" \
      --seconds 15 --trace 1 | tail -n 1 > "$out/$side.json")
  python3 "$here/job_sites.py" "$out/$side/eventlog" \
    "$tree/.bench_build/perfbench/runs/batch_kernels-seed$seed-trace1.spans.json" \
    > "$out/${side}_jobs.json"
done
python3 "$here/job_sites.py" --table "$out/parent_jobs.json" "$out/change_jobs.json"

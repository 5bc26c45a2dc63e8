#!/bin/bash
# Long-row history-tripwire demo (VERDICT r15 ask #4): prove the 1.4x
# threshold for >=30 s-history rows FIRES on a mid-row host event —
# the exact shape the r15c sweep measured (+142 s hidden inside the
# 471 s converged-pagerank row at 1.43x, under the 3x short-row
# threshold, with healthy family-boundary probes on both sides).
#
# Shape: a name-filtered sf1 leg of the graph family only. The two
# graph rows are CONSECUTIVE (same family), so no mid-leg probe runs
# between them — the converged row is a genuine probe blind window.
# Non-java CPU spinners (invisible to the steal and foreign-JVM
# meters) start the moment the first row's repeat line appears, i.e.
# while graph_pagerank_converged runs, and inflate it past 1.4x its
# >=30 s checked-in history but under the 3x short-row threshold.
#
# Two outcomes, both demonstrated (pass "flag" or "pointer"):
#   pointer — spinners stop after a fixed window WELL BEFORE the row
#             ends; the trip's immediate probe reads clean and the
#             artifact records a real-regression POINTER without
#             flagging the leg (the r15c shape exactly).
#   flag    — spinners keep running until the trip warning appears;
#             the immediate probe reads hot and the leg self-reports
#             coload.flagged=true.
#
# Usage: tools/tripwire_demo.sh <outJson> [flag|pointer] [sfDir]
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:?usage: tripwire_demo.sh <outJson> [flag|pointer] [sfDir]}"
MODE="${2:-pointer}"
SF="${3:-/root/repo/benchdata/sf1}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
LOG="$(mktemp /tmp/tripwire_demo_log.XXXX)"

# repeats=2 so the per-repeat stderr lines exist as spinner triggers
# (memoized bench rows still run exactly one repeat by contract)
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_FULL="$OUT" \
SPARK_GRAFT_RECALL=off \
java $OPENS -Xms16g -Xmx16g -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench "graph_pagerank" 2 >"$LOG" 2>&1 &
BENCH_PID=$!

# graph_pagerank's repeat line = the converged row is about to start
until grep -q "\[bench\] graph_pagerank " "$LOG" 2>/dev/null; do
  sleep 1
  kill -0 "$BENCH_PID" 2>/dev/null || { cat "$LOG"; exit 1; }
done

echo "[demo] converged row starting; spinners on (mode=$MODE)"
SPIN_PIDS=()
for i in $(seq 1 128); do
  (while :; do :; done) &
  SPIN_PIDS+=($!)
done
stop_spinners() {
  for p in "${SPIN_PIDS[@]}"; do kill "$p" 2>/dev/null || true; done
  wait "${SPIN_PIDS[@]}" 2>/dev/null || true
}
if [ "$MODE" = pointer ]; then
  # a fixed mid-row window: long enough to push a ~35-45 s row past
  # 1.4x its history, short enough that the row ends (and the trip's
  # immediate probe runs) on a healthy box
  sleep 45
  stop_spinners
  echo "[demo] spinners stopped mid-row; waiting for the trip"
else
  # keep degrading until the trip fires, so its immediate probe reads
  # the still-hot box. Key off the machine-readable [bench-trip]
  # marker Bench emits for exactly this purpose — the prose WARNING
  # wording can change without breaking the demo.
  until grep -q "\[bench-trip\] graph_pagerank_converged" "$LOG" 2>/dev/null; do
    sleep 2
    kill -0 "$BENCH_PID" 2>/dev/null && continue
    break
  done
  stop_spinners
  echo "[demo] trip observed; spinners stopped"
fi

wait "$BENCH_PID"
echo "[demo] bench done; guard lines:"
grep -E "calibration probe|mid-leg probe|WARNING" "$LOG" | tail -20
python3 - "$OUT" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
print("queries:", json.dumps(d["queries"]))
print("history_trips:", json.dumps(d.get("history_trips", [])))
print("calib:", d["calib_sec"], "->", d["calib_end_sec"],
      "mid:", json.dumps(d.get("calib_mid", {})))
print("flagged:", d["coload"]["flagged"])
EOF

#!/usr/bin/env python3
"""Janino compiles of one traced batch_kernels run, and their distinct bodies.

    codegen_count.py <codegen.log> <spans.json>

<codegen.log> is written by a scratch copy of the repository whose
perfbench/log4j2.properties has `codegen_log4j.properties` appended (its
file path adjusted), run as
`JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.logging.maxLines=-1
python3 perfbench/run.py --workload batch_kernels --seed 1 --trace 1`,
so every compile logs its full body at DEBUG and its time at INFO.
Prints, for the warm-up, the measured window and both, the compiles, the
distinct bodies (sha256) and the compile time.
"""
import collections
import hashlib
import json
import re
import sys

log, spans_path = sys.argv[1], sys.argv[2]
entries = []
cur = None
for line in open(log, errors="replace"):
    m = re.match(r"@@(\d+) (\w+) (.*)", line)
    if m:
        cur = [int(m.group(1)), m.group(2), m.group(3) + "\n"]
        entries.append(cur)
    elif cur:
        cur[2] += line
spans = json.load(open(spans_path))
warm = next(s for s in spans if s["name"] == "warm_up")
work = next(s for s in spans if s["name"].startswith("workload."))
rows = [s for s in spans if s["name"].startswith("operators.") and work["start_ms"] <= s["start_ms"] <= work["end_ms"]]
passes = max(collections.Counter(s["name"] for s in rows).values())
def window(a, b):
    bodies = [e for e in entries if e[1] == "DEBUG" and a <= e[0] <= b]
    times = [float(re.search(r"Code generated in ([\d.]+) ms", e[2]).group(1))
             for e in entries if e[1] == "INFO" and "Code generated in" in e[2] and a <= e[0] <= b]
    return bodies, times
for name, a, b in (("warm_up", warm["start_ms"], warm["end_ms"]), ("measured", work["start_ms"], work["end_ms"]),
                   ("warm_up+measured", warm["start_ms"], work["end_ms"])):
    bodies, times = window(a, b)
    distinct = len({hashlib.sha256(e[2].encode()).hexdigest() for e in bodies})
    print(f"{name}: compiles {len(bodies)} (timed {len(times)}), distinct bodies {distinct}, compile ms {sum(times):.0f}")
bodies, times = window(work["start_ms"], work["end_ms"])
print(f"passes {passes}: per pass {len(bodies)/passes:.1f} compiles, {sum(times)/passes:.0f} ms")
all_b = [e for e in entries if e[1] == "DEBUG"]
print("whole run: compiles", len(all_b), "distinct", len({hashlib.sha256(e[2].encode()).hexdigest() for e in all_b}))

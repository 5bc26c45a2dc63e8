#!/usr/bin/env python3
"""Group a run's jdk.ProcessStart events by call site.

    fork_sites.py <jfr-dir> <spans.json>        -> JSON on stdout
    fork_sites.py --table <parent.json> <change.json>

The first form reads every .jfr file in <jfr-dir> (`jfr print --json`)
and the traced run's spans. The measured window runs from the first
`streaming.batch` span's start to the last one's end; the output holds
the run's process count, the window's count and batch count, and per
call site both counts and the window's count per batch. A call site is
`<command>: <outermost Hadoop frame> <- <its caller> <- <first frame
outside the checkpointing package, or the thread's name>`. The second form prints both
sides' per-batch figures as one table.
"""
import collections
import datetime
import glob
import json
import os
import re
import subprocess
import sys

PLUMBING = ("java.", "jdk.", "sun.", "scala.")
CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def frame_name(f: dict) -> str:
    m = f["method"]
    return f'{m["type"]["name"].replace("/", ".")}.{m["name"]}'


def short(name: str) -> str:
    cls, _, meth = name.rpartition(".")
    return f'{cls.rsplit(".", 1)[-1]}.{meth}'


def site(ev: dict) -> str:
    frames = [frame_name(f) for f in (ev.get("stackTrace") or {}).get("frames", [])]
    hadoop, caller, origin, i = None, None, None, 0
    while i < len(frames) and not frames[i].startswith("org.apache.hadoop."):
        i += 1
    while i < len(frames) and (frames[i].startswith("org.apache.hadoop.")
                               or frames[i].startswith(PLUMBING)):
        if frames[i].startswith("org.apache.hadoop."):
            hadoop = frames[i]
        i += 1
    if i < len(frames):
        caller = frames[i]
        for f in frames[i + 1:]:
            if not f.startswith(PLUMBING + (CHECKPOINTING, "org.apache.hadoop.")):
                origin = f
                break
    verb = os.path.basename(ev["command"].split()[0]) if ev.get("command") else "?"
    if verb in ("bash", "sh") and len(ev["command"].split()) > 2:
        verb = os.path.basename(ev["command"].split()[2])
    parts = [short(p) for p in (hadoop, caller, origin) if p]
    if caller and not origin:
        # a pool thread's stack ends in Thread.run: name the pool
        thread = (ev.get("eventThread") or {}).get("javaName") or "?"
        parts.append("thread " + re.sub(r"-\d+$", "", thread))
    return f'{verb}: {" <- ".join(parts) or "?"}'


def epoch_ms(stamp: str) -> float:
    return datetime.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000


def collect(jfr_dir: str, spans_path: str) -> dict:
    events = []
    for f in sorted(glob.glob(os.path.join(jfr_dir, "*.jfr"))):
        out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                              "--events", "jdk.ProcessStart", f],
                             check=True, text=True, stdout=subprocess.PIPE).stdout
        events += [e["values"] for e in json.loads(out)["recording"]["events"]]
    batches = [s for s in json.load(open(spans_path)) if s["name"] == "streaming.batch"]
    lo = min(s["start_ms"] for s in batches)
    hi = max(s["end_ms"] for s in batches)
    total, window = collections.Counter(), collections.Counter()
    for ev in events:
        s = site(ev)
        total[s] += 1
        if lo <= epoch_ms(ev["startTime"]) <= hi:
            window[s] += 1
    n = len(batches)
    return {"processes": sum(total.values()), "window_processes": sum(window.values()),
            "batches": n, "window_s": round((hi - lo) / 1000, 1),
            "sites": [{"site": s, "run": total[s], "window": window[s],
                       "per_batch": round(window[s] / n, 2)}
                      for s, _ in total.most_common()]}


def table(parent_path: str, change_path: str) -> None:
    p, c = json.load(open(parent_path)), json.load(open(change_path))
    print(f'processes per run: parent {p["processes"]}, change {c["processes"]}')
    print(f'measured window: parent {p["window_processes"]} over {p["batches"]} batches, '
          f'change {c["window_processes"]} over {c["batches"]} batches')
    per = {side: {s["site"]: s["per_batch"] for s in d["sites"]}
           for side, d in (("parent", p), ("change", c))}
    sites = sorted(set(per["parent"]) | set(per["change"]),
                   key=lambda s: -max(per["parent"].get(s, 0), per["change"].get(s, 0)))
    print(f'{"parent/batch":>12} {"change/batch":>12}  call site')
    for s in sites:
        print(f'{per["parent"].get(s, 0):>12} {per["change"].get(s, 0):>12}  {s}')
    print(f'{round(p["window_processes"] / p["batches"], 2):>12} '
          f'{round(c["window_processes"] / c["batches"], 2):>12}  all')


if __name__ == "__main__":
    if sys.argv[1] == "--table":
        table(sys.argv[2], sys.argv[3])
    else:
        json.dump(collect(sys.argv[1], sys.argv[2]), sys.stdout, indent=1)
        print()

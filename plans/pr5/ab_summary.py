#!/usr/bin/env python3
"""Summarize a stream_ab_pr5.sh run: per leg rows/s of every parent
(StreamBenchAll record shapes) and change (one StreamBench record per
leg) run, medians, the parent's spread (max - min), and whether the
change median is at least the parent median minus that spread.
With --solo, read a stream_ab_legs.sh run instead (parent_<leg>_<i>.json
from the parent's standalone mains, change_<leg>_<i>/<leg>.json).

Usage: ab_summary.py [--solo] <abDir> [out.json]
"""
import glob
import json
import os
import statistics
import sys


def parent_rates(d):
    """leg -> (rows/s, flagged) from one StreamBenchAll output dir."""
    out = {}

    def load(name):
        p = os.path.join(d, name)
        if not os.path.exists(p):
            return []
        return [json.loads(l) for l in open(p) if l.strip()]

    for k in ("1k", "10k", "100k"):
        for r in load(f"micro{k}.json"):
            out[f"micro_{k}"] = (r["value"], r["guard"]["flagged"])
    for r in load("er.json"):
        out["er_stream"] = (r["result"]["rows_per_sec"], r["guard"]["flagged"])
    for r in load("rules.json"):
        out["rules_tws"] = (r["tws"]["rows_per_sec"], r["tws_guard"]["flagged"])
        out["rules_foreach_batch"] = (r["foreach_batch"]["rows_per_sec"],
                                      r["foreach_batch_guard"]["flagged"])
    for r in load("order.json"):
        out[f"order_{r['mode']}"] = (r["result"]["rows_per_sec"],
                                     r["guard"]["flagged"])
    for r in load("nexmark.json"):
        q = r["queries"]
        for name, v in q.items():
            if not name.endswith("_guard"):
                out[f"nexmark_{name}"] = (v["rows_per_sec"],
                                          q[f"{name}_guard"]["flagged"])
    return out


def change_rates(d):
    out = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        r = json.load(open(p))
        out[r["leg"]] = (r["result"]["rows_per_sec"], r["guard"]["flagged"])
    return out


def solo_parent_rate(path):
    """(rows/s, flagged) of one standalone parent main's record."""
    r = json.loads(open(path).readline())
    rps = r["value"] if "value" in r else r["result"]["rows_per_sec"]
    return rps, r["guard"]["flagged"]


def solo_runs(ab):
    runs = {"parent": {}, "change": {}}
    for p in sorted(glob.glob(os.path.join(ab, "parent_*.json"))):
        leg, i = os.path.basename(p)[len("parent_"):-len(".json")].rsplit("_", 1)
        runs["parent"][f"{leg}_{i}"] = {leg: solo_parent_rate(p)}
    for d in sorted(glob.glob(os.path.join(ab, "change_*"))):
        if os.path.isdir(d):
            runs["change"][os.path.basename(d)] = change_rates(d)
    return runs


def suite_runs(ab):
    runs = {"parent": {}, "change": {}}
    for side, read in (("parent", parent_rates), ("change", change_rates)):
        for d in sorted(glob.glob(os.path.join(ab, f"{side}_*"))):
            if os.path.isdir(d):
                runs[side][os.path.basename(d)] = read(d)
    return runs


def main():
    args = sys.argv[1:]
    solo = args[0] == "--solo"
    if solo:
        args = args[1:]
    ab = args[0]
    runs = solo_runs(ab) if solo else suite_runs(ab)
    legs = sorted({leg for side in runs.values() for run in side.values()
                   for leg in run})
    table = {}
    for leg in legs:
        p = [run[leg][0] for run in runs["parent"].values() if leg in run]
        c = [run[leg][0] for run in runs["change"].values() if leg in run]
        if not p or not c:
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        spread = max(p) - min(p)
        table[leg] = {
            "parent_rps": [round(x) for x in p],
            "change_rps": [round(x) for x in c],
            "parent_median": round(pm), "change_median": round(cm),
            "parent_spread": round(spread),
            "change_over_parent": round(cm / pm, 3) if pm else None,
            "within_spread": cm >= pm - spread,
            "flagged_parent": sum(run[leg][1] for run in
                                  runs["parent"].values() if leg in run),
            "flagged_change": sum(run[leg][1] for run in
                                  runs["change"].values() if leg in run),
        }
    summary = {"runs": {s: sorted(r) for s, r in runs.items()},
               "legs": table,
               "missed": [l for l, t in table.items() if not t["within_spread"]]}
    text = json.dumps(summary, indent=1)
    print(text)
    if len(args) > 1:
        open(args[1], "w").write(text + "\n")


if __name__ == "__main__":
    main()

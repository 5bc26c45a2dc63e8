#!/usr/bin/env python3
"""Spark jobs of one traced batch_kernels run, by row and call site.

    job_sites.py <eventlog-dir> <spans.json>        -> JSON on stdout
    job_sites.py --table <parent.json> <change.json>

The first form reads every Spark event log in <eventlog-dir> (one per
SparkContext; Spark 4 writes each as a rolling-log directory of
zstd-compressed parts, read with `zstd -dc`) in start order and
the traced run's spans. Every context but the last is a set-up; the last
one's jobs before the `warm_up` span are its set-up. A job's call site
is the name of its result stage (`parquet at Tables.scala:18`). Jobs
submitted inside an `operators.<row>` span of the measured window
(`workload.batch_kernels`) count to that row, the window's other jobs to
`(outside rows)`. The output holds each set-up's jobs and how many of
them open a table (`parquet at Tables.scala`), the measured passes, and
per row and call site the jobs per pass. The second form prints both
sides as one table.
"""
import collections
import glob
import json
import os
import subprocess
import sys

TABLE_OPEN = "parquet at Tables.scala"


def events(path: str):
    cat = ["zstd", "-dc", path] if path.endswith(".zstd") else ["cat", path]
    out = subprocess.run(cat, check=True, stdout=subprocess.PIPE, text=True).stdout
    return [json.loads(line) for line in out.splitlines() if line.strip()]


def app_events(path: str) -> list:
    """One application's events: a rolling log directory
    (`eventlog_v2_<app>/events_<n>_<app>.zstd`) or a single file."""
    if not os.path.isdir(path):
        return events(path)
    parts = glob.glob(os.path.join(path, "events_*"))
    parts.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    return [e for f in parts for e in events(f)]


def jobs(evs: list) -> list:
    """(submission ms, call site) of every job, in submission order."""
    out = []
    for e in evs:
        if e["Event"] == "SparkListenerJobStart":
            result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            out.append((e["Submission Time"], result["Stage Name"]))
    return sorted(out)


def count(logdir: str, spans_path: str) -> dict:
    apps = []
    for f in glob.glob(os.path.join(logdir, "*")):
        evs = app_events(f)
        start = next(e["Timestamp"] for e in evs if e["Event"] == "SparkListenerApplicationStart")
        apps.append((start, jobs(evs)))
    apps.sort()
    spans = json.load(open(spans_path))
    warm = next(s for s in spans if s["name"] == "warm_up")
    window = next(s for s in spans if s["name"] == "workload.batch_kernels")
    rows = [s for s in spans if s["name"].startswith("operators.")
            and window["start_ms"] <= s["start_ms"] <= window["end_ms"]]
    passes = max(collections.Counter(s["name"] for s in rows).values())
    setups = [js for _, js in apps[:-1]] + [[j for j in apps[-1][1] if j[0] < warm["start_ms"]]]
    per_row = collections.defaultdict(collections.Counter)
    measured = [j for j in apps[-1][1] if window["start_ms"] <= j[0] <= window["end_ms"]]
    for t, site in measured:
        row = next((s["name"][len("operators."):] for s in rows
                    if s["start_ms"] <= t <= s["end_ms"]), "(outside rows)")
        per_row[row][site] += 1
    return {
        "setups": [{"jobs": len(js), "table_open_jobs": sum(TABLE_OPEN in s for _, s in js)}
                   for js in setups],
        "passes": passes,
        "jobs_per_pass": round(len(measured) / passes, 2),
        "table_open_jobs_per_pass": round(sum(TABLE_OPEN in s for _, s in measured) / passes, 2),
        "rows": {r: {s: round(n / passes, 2) for s, n in sorted(c.items())}
                 for r, c in sorted(per_row.items())},
    }


def table(parent: dict, change: dict) -> None:
    print("set-up jobs (table opens):")
    for name, side in (("parent", parent), ("change", change)):
        print(f"  {name}: " + ", ".join(f'{s["jobs"]} ({s["table_open_jobs"]})'
                                         for s in side["setups"]))
    print(f'measured passes: parent {parent["passes"]}, change {change["passes"]}')
    print(f'jobs per pass: parent {parent["jobs_per_pass"]}, change {change["jobs_per_pass"]}')
    print(f'table-open jobs per pass: parent {parent["table_open_jobs_per_pass"]}, '
          f'change {change["table_open_jobs_per_pass"]}')
    print(f'\n{"row":<28} {"call site":<52} {"parent":>7} {"change":>7}')
    for row in sorted(set(parent["rows"]) | set(change["rows"])):
        p, c = parent["rows"].get(row, {}), change["rows"].get(row, {})
        for site in sorted(set(p) | set(c)):
            print(f"{row:<28} {site[:52]:<52} {p.get(site, 0):>7} {c.get(site, 0):>7}")


if __name__ == "__main__":
    if sys.argv[1] == "--table":
        table(json.load(open(sys.argv[2])), json.load(open(sys.argv[3])))
    else:
        json.dump(count(sys.argv[1], sys.argv[2]), sys.stdout, indent=1)
        print()

#!/usr/bin/env python3
"""What a reconfig_under_load run committed, by batch: for a run whose
sink/committed/sent check failed.

    dump_failed_run.py <kept-dir> [<kept-dir>...]

<kept-dir> holds the run's `jvm.log` (with Spark's progress events
logged at INFO) and, for a failed run, its `work/` directory. For the
measured pipeline (the highest `reconfig-ckpt-<n>` under `work/`) it
prints, per query run, the batch ids and input rows of its progress
events; the batch ids in `gen0/offsets` and `gen0/commits`; the sink's
rows per (generation, batch_id); and the batches that were committed
with no progress event with input, or reported with no commit.
"""
import glob
import json
import os
import re
import sys

import duckdb


def progresses(log_path: str) -> list:
    """Every progress event logged at INFO, in log order."""
    out, buf, depth = [], None, 0
    for line in open(log_path, errors="replace"):
        if buf is None:
            i = line.find("Streaming query made progress: ")
            if i < 0:
                continue
            line = line[i + len("Streaming query made progress: "):]
            buf, depth = "", 0
        buf += line
        depth += line.count("{") - line.count("}")
        if depth == 0:
            out.append(json.loads(buf))
            buf = None
    return out


def batch_ids(d: str) -> list:
    return sorted(int(f) for f in os.listdir(d) if re.fullmatch(r"\d+", f)) if os.path.isdir(d) else []


def dump(kept: str) -> None:
    print(f"== {kept}")
    ps = progresses(os.path.join(kept, "jvm.log"))
    ckpts = sorted(glob.glob(os.path.join(kept, "work", "reconfig-ckpt-*")),
                   key=lambda p: int(p.rsplit("-", 1)[1]))
    if not ckpts:
        print(f"{len(ps)} progress events; no work dir kept (the run's checks passed)")
        return
    ckpt = ckpts[-1]
    meta = json.load(open(os.path.join(ckpt, "gen0", "metadata")))
    mine = [p for p in ps if p["id"] == meta["id"]]
    runs = {}
    for p in mine:
        runs.setdefault(p["runId"], []).append((p["batchId"], p["numInputRows"]))
    for run, bs in runs.items():
        print(f"run {run}: " + " ".join(f"{b}:{n}" for b, n in bs))
    offsets = batch_ids(os.path.join(ckpt, "gen0", "offsets"))
    commits = batch_ids(os.path.join(ckpt, "gen0", "commits"))
    print(f"offsets: {offsets}")
    print(f"commits: {commits}")
    sink = ckpt.replace("reconfig-ckpt-", "reconfig-sink-")
    rows = duckdb.sql(f"select generation, batch_id, count(*) n, sum(value) s "
                      f"from read_parquet('{sink}/*.parquet') group by all order by all").fetchall()
    print("sink (generation, batch_id, rows, sum(value)): " + " ".join(map(str, rows)))
    reported = {b for p in mine for b in [p["batchId"]] if p["numInputRows"] > 0}
    print(f"committed without a progress event with input: {sorted(set(commits) - reported)}")
    print(f"reported without a commit: {sorted(reported - set(commits))}")


if __name__ == "__main__":
    for k in sys.argv[1:]:
        dump(k)

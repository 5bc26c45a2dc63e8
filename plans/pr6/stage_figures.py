#!/usr/bin/env python3
"""Per-batch stage figures of a `reconfig_under_load` run from Spark
event logs, and the driver's Janino figures from the CSV metrics sink.

    python3 plans/pr6/stage_figures.py <eventLogDir> [<csvMetricsDir>]

The benchmark is run with event logging and the CSV sink switched on
through JVM system properties, its files left as they are:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=<eventLogDir> \\
      -Dspark.metrics.conf.*.sink.csv.class=org.apache.spark.metrics.sink.CsvSink \\
      -Dspark.metrics.conf.*.sink.csv.period=1 \\
      -Dspark.metrics.conf.*.sink.csv.directory=<csvMetricsDir>" \\
      python3 perfbench/run.py --workload reconfig_under_load --seed 13 --seconds 15 --trace 1

Each set-up, the warm-up and the measurement start their own streaming
query; the measured one is the query with the most batches in the last
application's log. Every data batch of it runs one job of three stages,
taken in stage-id order: the source (scan, keygroup observation, routed
shuffle write), the routed repartition, and state plus the parquet
sink. Per stage the script prints the median over batches of executor
CPU (sum over tasks) and wall time (submission to completion). From the
CSV sink it prints the last sample of the CodeGenerator histograms,
which count every compile of the JVM's life: compiles, mean and max
compile ms, and the largest generated source in characters, plus the
compiles counted while the measured query ran (the sink samples once a
second, so the window is rounded out to whole samples).
"""
import csv
import glob
import json
import os
import statistics
import sys

STAGES = ("source", "repartition", "state_sink")


def events(log: str):
    """The events of one application's log: a plain file, or a rolling
    log directory of `events_<n>_<app>` files."""
    files = [log] if os.path.isfile(log) else sorted(
        glob.glob(os.path.join(log, "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]))
    for f in files:
        for line in open(f):
            yield json.loads(line)


def batches(log: str) -> dict:
    """query id -> {(batch id, job id) -> [(stage id, cpu ms, wall ms, tasks)]}."""
    job_q, job_ms, stage_job, done = {}, {}, {}, {}
    for e in events(log):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if "streaming.sql.batchId" in props:
                job_q[e["Job ID"]] = (props.get("sql.streaming.queryId"),
                                      int(props["streaming.sql.batchId"]))
                job_ms[e["Job ID"]] = e["Submission Time"]
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_ms:
            job_ms[e["Job ID"]] = (job_ms[e["Job ID"]], e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            done[info["Stage ID"]] = (
                int(acc.get("internal.metrics.executorCpuTime", 0)) / 1e6,
                info["Completion Time"] - info["Submission Time"],
                info["Number of Tasks"])
    out = {}
    for s, j in stage_job.items():
        if s in done and j in job_q:
            q, b = job_q[j]
            out.setdefault(q, {}).setdefault((b, j), []).append((s, *done[s]))
    return out, job_ms


def stage_table(log: str) -> dict:
    qs, job_ms = batches(log)
    q, bs = max(qs.items(), key=lambda kv: len(kv[1]))
    three = [sorted(v) for v in bs.values() if len(v) == 3]
    spans = [job_ms[j] for _, j in bs if isinstance(job_ms[j], tuple)]
    res = {"query": q, "batches": len(three),
           "window_ms": [min(a for a, _ in spans), max(b for _, b in spans)]}
    for i, name in enumerate(STAGES):
        res[name] = {"cpu_ms_p50": statistics.median(b[i][1] for b in three),
                     "wall_ms_p50": statistics.median(b[i][2] for b in three)}
    return res


def codegen(csv_dir: str, window_ms: list) -> dict:
    """Last sample of each CodeGenerator histogram, and the compiles
    counted between the first and the last job of the measured query."""
    out = {}
    for metric in ("compilationTime", "sourceCodeSize"):
        files = sorted(glob.glob(os.path.join(csv_dir, f"*.CodeGenerator.{metric}.csv")),
                       key=os.path.getmtime)
        if not files:
            continue
        rows = list(csv.DictReader(open(files[-1])))
        last = rows[-1]
        out[metric] = {k: float(last[k]) for k in ("count", "max", "mean")}
        at = lambda ms: max((float(r["count"]) for r in rows  # noqa: E731
                             if float(r["t"]) * 1000 <= ms), default=0.0)
        out[metric]["count_in_window"] = at(window_ms[1] + 1000) - at(window_ms[0])
    return out


def main() -> None:
    logs = sorted(glob.glob(os.path.join(sys.argv[1], "*")), key=os.path.getmtime)
    res = {"event_log": os.path.basename(logs[-1]), **stage_table(logs[-1])}
    if len(sys.argv) > 2:
        res["codegen"] = codegen(sys.argv[2], res["window_ms"])
    print(json.dumps(res, indent=1))


if __name__ == "__main__":
    main()

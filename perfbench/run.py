#!/usr/bin/env python3
"""The repo's benchmark: one workload per call, checked, one JSON line out.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the repo's Scala sources and
the harness in `perfbench/scala` with the Scala compiler shipped among
the Spark jars (into `.bench_build/perfbench`, once per source
version), generates the workload's inputs from the seed, runs the
harness in a fresh JVM on `local[N]` (N = usable CPUs), checks the
outputs and prints, as the last line of stdout, one JSON object:
`correct`, `attempted`, `failed` and `metrics` -- the end-to-end metrics
of BENCHMARK.json, or with `--trace 1` its per-layer metrics. The full
run record (every metric, host load stamps, failures; spans when
tracing) is written under `.bench_build/perfbench/runs`.

Workloads, metric definitions and the reason for each are in
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# Workload parameters, passed to the harness as key=value.
WORKLOADS = {
    "reconfig_under_load": {
        "keys": 10000, "zipf_s": 1.0, "state_bytes": 1024,
        "rate": 2000, "every_ms": 3750, "warm_s": 2.0,
    },
    "batch_kernels": {"sf": 0.01, "warm_sf": 0.001, "max_passes": 3},
}
SETUPS = 3
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> str:
    """The Spark jar directory the repo's build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jars: set SPARK_HOME or run from the repository root")
    return m.group(1)


def build(jars: str) -> str:
    """Compile src/main/scala and perfbench/scala; reuse a build of the
    same sources."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "scala/*.scala")))
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s[len(ROOT):].encode())
        h.update(open(s, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    scalac = [p for p in glob.glob(os.path.join(jars, "scala-*.jar"))
              if re.search(r"scala-(compiler|library|reflect)-", p)]
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scalac),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", os.path.join(jars, "*")] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "_OK"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def data_dir(seed: int, sf: float) -> str:
    return os.path.join(BUILD, "data", f"seed{seed}-sf{sf}")


def batch_inputs(seed: int, p: dict, work: str) -> dict:
    """Seeded tables; one hard-linked copy per pass so that each pass
    reads a directory the session has not seen."""
    import datagen
    data = datagen.write(seed, p["sf"], data_dir(seed, p["sf"]))
    warm = datagen.write(seed + 7919, p["warm_sf"], data_dir(seed + 7919, p["warm_sf"]))
    dirs = []
    for i in range(p["max_passes"]):
        d = os.path.join(work, f"pass{i}")
        os.makedirs(d)
        for f in glob.glob(os.path.join(data, "*.parquet")):
            os.link(f, os.path.join(d, os.path.basename(f)))
        dirs.append(d)
    return {"data": ",".join(dirs), "warm": warm, "outputs": os.path.join(work, "outputs")}


def cpu_ticks() -> dict:
    f = open("/proc/stat").readline().split()[1:]
    user, nice, system, idle, iowait, irq, softirq, steal = map(int, f[:8])
    return {"busy": user + nice + system + irq + softirq, "steal": steal}


def host_stamp() -> dict:
    return {"time": time.time(), "load1": float(open("/proc/loadavg").read().split()[0]),
            **cpu_ticks(), "self_cpu": sum(resource.getrusage(resource.RUSAGE_SELF)[:2]),
            "child_cpu": sum(resource.getrusage(resource.RUSAGE_CHILDREN)[:2])}


def host_record(a: dict, b: dict) -> dict:
    """Host load around the run, recorded only: steal ticks, load1, and
    CPU seconds used by processes other than this benchmark."""
    hz = os.sysconf("SC_CLK_TCK")
    ours = (b["self_cpu"] - a["self_cpu"]) + (b["child_cpu"] - a["child_cpu"])
    return {"steal_ticks": b["steal"] - a["steal"], "load1_before": a["load1"],
            "load1_after": b["load1"],
            "other_cpu_s": round(max(0.0, (b["busy"] - a["busy"]) / hz - ours), 2),
            "wall_s": round(b["time"] - a["time"], 2)}


def run_jvm(classes: str, jars: str, args: dict, work: str, deadline: float,
            while_running=None) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            if while_running:
                while_running(proc)
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        tail = open(log_path).read()[-4000:]
        fail(f"harness exited with {code}:\n{tail}")
    return json.load(open(args["out"]))


def load_check():
    """tools/check.py, whose normalize() and table list the gate reuses."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def answer_path(cache: str, name: str, sql) -> str:
    """Cached oracle answer for `name`, keyed by its SQL, or by the
    PageRank replica's source when it has none."""
    import pagerank
    key = hashlib.sha256((sql or open(pagerank.__file__).read()).encode()).hexdigest()[:16]
    return os.path.join(cache, f"{name}-{key}.parquet")


def oracle_answers(pass0: str, oracle_sql: str, cache: str, proc) -> None:
    """Compute the oracle's answer to every query of the run: its SQL on
    DuckDB, or the exact PageRank replica. This runs on two threads
    while the JVM starts: the harness writes the SQL first thing, and
    the first set-up, which pays JVM start, is never the median one."""
    while not os.path.exists(oracle_sql) and proc.poll() is None:
        time.sleep(0.05)
    if not os.path.exists(oracle_sql):
        return
    import duckdb
    import pagerank
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in load_check().TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pass0}/{t}.parquet')")
    for name, sql in json.load(open(oracle_sql)).items():
        path = answer_path(cache, name, sql)
        if os.path.exists(path):
            continue
        os.makedirs(cache, exist_ok=True)
        try:
            df = con.execute(sql).df() if sql else pagerank.converged(con)
        except Exception as exc:  # noqa: BLE001 - the check reports the missing answer
            print(f"perfbench: oracle for {name} failed: {exc}", file=sys.stderr)
            continue
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)


def check_outputs(rec: dict, pass0: str, oracle_sql: str, cache: str) -> None:
    """Compare each batch output with its oracle answer, with the rules
    of tools/check.py."""
    import numpy as np
    import pandas as pd
    check = load_check()
    outputs = os.path.join(os.path.dirname(pass0), "outputs")
    oracle = json.load(open(oracle_sql))
    for name in sorted(oracle):
        rec["attempted"] += 1
        try:
            got = check.normalize(pd.read_parquet(os.path.join(outputs, name)))
            exp = check.normalize(pd.read_parquet(answer_path(cache, name, oracle[name])))
            if list(got.columns) != list(exp.columns):
                raise AssertionError(f"columns {list(got.columns)} != {list(exp.columns)}")
            if len(got) != len(exp):
                raise AssertionError(f"{len(got)} rows, oracle {len(exp)}")
            for c in got.columns:
                g, e = got[c], exp[c]
                same = (g == e) if str(g.dtype) != "float64" else np.isclose(g, e, rtol=0, atol=0)
                bad = ~(same | (g.isna() & e.isna()))
                if bad.any():
                    raise AssertionError(f"col {c}: {int(bad.sum())} mismatches")
        except Exception as exc:  # noqa: BLE001 - every failure is a failed check
            rec["failures"].append(f"{name}: {exc}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + RUN_LIMIT_S
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    for need in ("src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found; the benchmark builds the repository's sources")
    jars = spark_jars()
    classes = build(jars)
    deadline = max(deadline, time.time() + 150)  # a first build is not run time
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    p = WORKLOADS[a.workload]
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": len(os.sched_getaffinity(0)), "setups": SETUPS,
            "work": work, "out": os.path.join(work, "record.json")}
    while_running = None
    if "sf" in p:
        args.update(batch_inputs(a.seed, p, work))
        pass0 = args["data"].split(",")[0]
        cache = os.path.join(data_dir(a.seed, p["sf"]), "oracle")
        args["oracle_sql"] = os.path.join(work, "oracle_sql.json")
        while_running = lambda proc: oracle_answers(pass0, args["oracle_sql"], cache, proc)  # noqa: E731
    else:
        args.update(p)
    before = host_stamp()
    rec = run_jvm(classes, jars, args, work, deadline, while_running)
    rec["host"] = host_record(before, host_stamp())
    if "sf" in p:
        check_outputs(rec, pass0, args["oracle_sql"], cache)
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": rec["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    base = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.trace:
        json.dump(rec["spans"], open(base + ".spans.json", "w"))
    rec["spans"] = len(rec["spans"])
    json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "params": p, **rec}, open(base + ".json", "w"), indent=1)
    for f in rec["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": not rec["failures"], "attempted": rec["attempted"],
                      "failed": len(rec["failures"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

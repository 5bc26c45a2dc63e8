#!/usr/bin/env python3
"""Summarize traced runs against untraced runs of the same seeds.

    python3 perfbench/summarize.py <out.json> <seed> [<seed> ...]

For every workload in BENCHMARK.json and every seed, reads the run
records `.bench_build/perfbench/runs/<workload>-seed<seed>-trace{0,1}.json`
(make each pair back to back with `run.py`, alternating which runs
first). It writes the first seed's per-layer metrics and, for each
end-to-end metric, the tracing overhead as traced / untraced - 1 per
seed and its median over the seeds, with each run's host stamps.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".bench_build", "perfbench", "runs")


def main() -> None:
    out_path, seeds = sys.argv[1], [int(x) for x in sys.argv[2:]]
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = [m["name"] for m in spec["end_to_end"]]
    out = {}
    for w in spec["workloads"]:
        pairs = {s: [json.load(open(os.path.join(RUNS, f"{w['name']}-seed{s}-trace{t}.json")))
                     for t in (0, 1)] for s in seeds}
        first = pairs[seeds[0]][1]
        overhead = {s: {n: round(p[1]["metrics"][n] / p[0]["metrics"][n] - 1, 4) for n in e2e}
                    for s, p in pairs.items()}
        out[w["name"]] = {
            "seconds": first["seconds"],
            "correct": all(not r["failures"] for p in pairs.values() for r in p),
            "per_layer_seed": seeds[0],
            "spans": first["spans"],
            "per_layer": {m["name"]: first["metrics"].get(m["name"], 0.0)
                          for m in spec["per_layer"]},
            "tracing_overhead_frac_median": {
                n: statistics.median(o[n] for o in overhead.values()) for n in e2e},
            "tracing_overhead_frac": overhead,
            "end_to_end": {s: {"untraced": {n: p[0]["metrics"][n] for n in e2e},
                               "traced": {n: p[1]["metrics"][n] for n in e2e}}
                           for s, p in pairs.items()},
            "host": {s: {"untraced": p[0]["host"], "traced": p[1]["host"]}
                     for s, p in pairs.items()},
        }
    open(out_path, "w").write(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()

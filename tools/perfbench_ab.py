#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo's benchmark, and their verdict.

    python3 tools/perfbench_ab.py <parent-rev> <workload> <seed>... \\
        [--jsonl runs.jsonl] [--summary out.json]
    python3 tools/perfbench_ab.py --report <runs.jsonl> <workload>

Run from the repository root. The parent side is `git archive
<parent-rev>` exported once into the system temp directory (kept per
commit, so its benchmark build is reused); the change side is this
checkout as it stands. For each seed, `perfbench/run.py` runs once in
each tree, untraced and for BENCHMARK.json's `run_seconds`, one pair per
seed, the side that goes first alternating from pair to pair. Every run's result line goes to the JSONL file with its
seed, side, order and host stamps, so pairs from several calls add up.

The report covers every pair of the workload in the file. Per metric it prints each side's q1/median/q3
(`statistics.quantiles(n=4)`), the change's wins (ties count for
neither side), the parent's IQR, and two verdicts:
- `gain`: the change won at least 9/10 of the pairs and its median beats
  the parent's by more than the parent's IQR (with fewer than 10 pairs
  the verdict says so: the rule asks for ten);
- `bound` (end-to-end metrics of BENCHMARK.json only): `ok` when the
  change's median is no worse than the parent's by more than the
  metric's bound, `WORSE` otherwise, and `unresolved` when the parent's
  own spread (IQR / median) is wider than the bound and not every change
  run beats every parent run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def export(rev: str) -> str:
    """The tree of `rev`, exported once per commit into the temp dir."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    out = os.path.join(tempfile.gettempdir(), "perfbench_ab", sha[:12])
    if not os.path.exists(os.path.join(out, ".exported")):
        os.makedirs(out, exist_ok=True)
        archive = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                                 stdout=subprocess.PIPE).stdout
        with tempfile.TemporaryFile() as f:
            f.write(archive)
            f.seek(0)
            with tarfile.open(fileobj=f) as tar:
                tar.extractall(out, filter="data")
        open(os.path.join(out, ".exported"), "w").write(sha + "\n")
    return out


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One `perfbench/run.py` call in `tree`: its result line and the run
    record's host stamps, or the error it died with."""
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"],
                       cwd=tree, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    out = {"wall_s": round(time.time() - t0, 1)}
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {**out, "error": (p.stderr or p.stdout)[-2000:]}
    out["result"] = json.loads(lines[-1])
    rec = os.path.join(tree, ".bench_build", "perfbench", "runs",
                       f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(rec):
        out["host"] = json.load(open(rec)).get("host")
    return out


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(rows: list, workload: str) -> dict:
    """Pair the runs of `workload` by pair id and judge every metric."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    pairs = {}
    for r in rows:
        if r["workload"] == workload:
            pairs.setdefault(r["pair"], {})[r["side"]] = r
    whole = [p for p in pairs.values() if "parent" in p and "change" in p]
    sides = ("parent", "change")
    health = {s: {"runs": len(whole),
                  "errors": sum("error" in p[s] for p in whole),
                  "incorrect": sum(not p[s].get("result", {}).get("correct", False)
                                   for p in whole),
                  "failed": sum(p[s].get("result", {}).get("failed", 0) for p in whole)}
              for s in sides}
    ok = [p for p in whole if all("result" in p[s] for s in sides)]
    names = sorted({n for p in ok for n in p["change"]["result"]["metrics"]},
                   key=lambda n: (n not in bounds, n))
    metrics = {}
    for n in names:
        vals = {s: [p[s]["result"]["metrics"][n]["value"] for p in ok] for s in sides}
        sign = -1.0 if better.get(n, "lower") == "lower" else 1.0
        wins = sum(sign * (c - a) > 0 for a, c in zip(vals["parent"], vals["change"]))
        losses = sum(sign * (c - a) < 0 for a, c in zip(vals["parent"], vals["change"]))
        pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
        iqr = pq[2] - pq[0]
        gain_by = sign * (cq[1] - pq[1])
        m = {"parent": vals["parent"], "change": vals["change"],
             "parent_q": pq, "change_q": cq, "parent_iqr": iqr,
             "wins": wins, "losses": losses, "pairs": len(ok),
             "gain": ("yes" if wins >= 0.9 * len(ok) and gain_by > iqr else "no")
             + ("" if len(ok) >= 10 else " (fewer than 10 pairs)")}
        if n in bounds and pq[1]:
            worse = -sign * (cq[1] - pq[1]) / abs(pq[1])
            all_better = min(sign * c for c in vals["change"]) > max(sign * a for a in vals["parent"])
            spread = iqr / abs(pq[1])
            m["worse_frac"] = worse
            m["bound"] = ("ok" if worse <= bounds[n] else "WORSE") \
                if spread <= bounds[n] or all_better else "unresolved"
        metrics[n] = m
    return {"workload": workload, "pairs": len(ok),
            "seeds": [p["parent"]["seed"] for p in ok], "health": health,
            "metrics": metrics}


def fmt(x) -> str:
    return "-" if x is None else f"{x:.4g}"


def print_report(rep: dict) -> None:
    print(f"{rep['workload']}: {rep['pairs']} pairs, "
          f"seeds {rep['seeds']}")
    for s, h in rep["health"].items():
        print(f"  {s}: {h['runs']} runs, {h['errors']} errors, "
              f"{h['incorrect']} not correct, {h['failed']} failed checks")
    print(f"  {'metric':34} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'wins':>6} {'IQR':>8}  gain  bound")
    for n, m in rep["metrics"].items():
        pq = "/".join(fmt(x) for x in m["parent_q"])
        cq = "/".join(fmt(x) for x in m["change_q"])
        bound = ""
        if "bound" in m:
            w = m["worse_frac"]
            bound = f"{m['bound']} ({abs(w):.1%} {'worse' if w > 0 else 'better'})"
        print(f"  {n:34} {pq:>26} {cq:>26} {m['wins']:>3}/{m['pairs']:<2} "
              f"{fmt(m['parent_iqr']):>8}  {m['gain']:4}  {bound}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", nargs="?")
    ap.add_argument("workload", nargs="?")
    ap.add_argument("seeds", nargs="*", type=int)
    ap.add_argument("--jsonl", help="run log (default .bench_build/perfbench_ab/<workload>.jsonl)")
    ap.add_argument("--summary", help="also write the report as JSON here")
    ap.add_argument("--report", nargs=2, metavar=("JSONL", "WORKLOAD"),
                    help="only report the pairs of WORKLOAD in this file")
    a = ap.parse_args()
    if a.report:
        rows = [json.loads(l) for l in open(a.report[0]) if l.strip()]
        rep = report(rows, a.report[1])
    else:
        if not (a.rev and a.workload and a.seeds):
            ap.error("need <parent-rev> <workload> <seed>...")
        seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
        jsonl = a.jsonl or os.path.join(ROOT, ".bench_build", "perfbench_ab", f"{a.workload}.jsonl")
        os.makedirs(os.path.dirname(os.path.abspath(jsonl)), exist_ok=True)
        rows = [json.loads(l) for l in open(jsonl) if l.strip()] if os.path.exists(jsonl) else []
        trees = {"parent": export(a.rev), "change": ROOT}
        parent_sha = git("rev-parse", "--verify", a.rev + "^{commit}")
        first = max((r["pair"] for r in rows), default=-1) + 1
        for i, seed in enumerate(a.seeds):
            pair = first + i
            order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
            for k, side in enumerate(order):
                out = run_once(trees[side], a.workload, seed, seconds)
                row = {"pair": pair, "seed": seed, "side": side, "order": k,
                       "workload": a.workload, "seconds": seconds,
                       "parent_rev": parent_sha, "time": time.time(), **out}
                rows.append(row)
                with open(jsonl, "a") as f:
                    f.write(json.dumps(row) + "\n")
                res = out.get("result", {})
                print(f"pair {pair} seed {seed} {side}: "
                      + (f"correct={res.get('correct')} failed={res.get('failed')}"
                         if res else "ERROR " + out["error"][-300:]), flush=True)
        rep = report(rows, a.workload)
    print_report(rep)
    if a.summary:
        open(a.summary, "w").write(json.dumps(rep, indent=1) + "\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Assemble BENCH_sf10_r{N}.json from three full-sweep bench_full files.

Usage: assemble_bench.py <round> <sf0.1.json> <sf1.json> <sf10.json> <out.json>
Notes are passed on stdin as a JSON list of strings (optional).
"""
import json
import sys


def load(p):
    d = json.load(open(p))
    qs = {k: v for k, v in d["queries"].items() if v is not None and v >= 0}
    out = {"total_sec": round(sum(qs.values()), 1), "n_queries": len(qs),
           "skipped": d.get("skipped", []), "errors": d.get("errors", []),
           "queries": qs}
    # carry the r13+ per-leg instrumentation into the round artifact:
    # ANN recall@5 per leg, the co-load/steal guard stamp, the per-row
    # repeat counts (which rows used the fast-row 3-repeat rule), and
    # each row's layer profile (stages, driver phases, loop iterations)
    for k in ("recall", "recall_structured", "coload", "reps",
              "calib_sec", "calib_end_sec", "calib_mid", "calib_mid_limit",
              "history_trips", "comparable_total", "comparable_n",
              "profile"):
        if k in d:
            out[k] = d[k]
    return out


def main():
    rnd, p01, p1, p10, out = sys.argv[1:6]
    s01, s1, s10 = load(p01), load(p1), load(p10)
    ratios = {}
    for k, v in s10["queries"].items():
        b = s01["queries"].get(k)
        if b and b > 0.05:  # sub-50ms sf0.1 denominators are noise
            ratios[k] = round(v / b, 1)
    med = sorted(ratios.values())[len(ratios) // 2] if ratios else None
    notes = []
    if not sys.stdin.isatty():
        try:
            notes = json.load(sys.stdin)
        except Exception:
            notes = []
    doc = {
        "round": int(rnd),
        "method": ("graft.Bench sweep, repeats=2 (min; construction-memoized "
                   "queries report first repeat), local[32], -Xms48g -Xmx48g "
                   "-XX:+AlwaysPreTouch (fixed pre-touched heap — a growable "
                   "heap page-fault-storms this kernel), sf0.1 -> sf1 -> sf10 "
                   "on tools/make_sf1.py data (10/100 replicas of sf0.1)"),
        "sf0.1": s01, "sf1": s1, "sf10": s10,
        "ratio_sf10_vs_sf0.1": ratios,
        "median_ratio_100x": med,
        "notes": notes,
    }
    json.dump(doc, open(out, "w"), indent=1)
    print(f"wrote {out}: sf10 total {s10['total_sec']}s, "
          f"median 100x ratio {med}")


if __name__ == "__main__":
    main()

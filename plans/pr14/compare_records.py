"""Compare two graft.Bench runs' records: the full record (JSON file)
and the summary line (last line of the run's stdout).

usage: compare_records.py <parent_full.json> <parent_stdout> <change_full.json> <change_stdout>

Checks that both runs write the same keys in the same order at every
object level outside `profile` and outside the per-row maps, the same
row set, and the same run-independent values (repeats, skips, errors,
row counts, recall@5). Every number outside `profile` must already be
rounded to 3 decimals. Timings differ from run to run; they are listed,
not compared.
"""
import json
import sys

RUN_DEPENDENT = {"value", "queries", "row_steal", "calib_sec", "calib_end_sec",
                 "calib_mid", "calib_mid_limit", "calib_mid_max", "history_trips",
                 "history_trips_n", "coload", "families", "worst5",
                 "comparable_total", "profile", "full"}
ROW_MAPS = {"queries", "reps", "row_steal", "recall", "calib_mid", "families",
            "worst5", "profile"}


def summary(path):
    lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


def shape(v, path=""):
    """Keys in order, recursively, skipping the per-row maps' keys."""
    if isinstance(v, dict):
        if path.split(".")[-1] in ROW_MAPS:
            return "map"
        return [(k, shape(x, f"{path}.{k}")) for k, x in v.items()]
    if isinstance(v, list):
        return [shape(x, path) for x in v[:1]]
    return type(v).__name__ if v is not None else "null"


def unrounded(v, path=""):
    bad = []
    if isinstance(v, dict):
        for k, x in v.items():
            if k != "profile":
                bad += unrounded(x, f"{path}.{k}")
    elif isinstance(v, list):
        for i, x in enumerate(v):
            bad += unrounded(x, f"{path}[{i}]")
    elif isinstance(v, float) and round(v, 3) != v:
        bad.append((path, v))
    return bad


def main(pf, po, cf, co):
    ok = True
    for label, a, b in (("full", json.load(open(pf)), json.load(open(cf))),
                        ("summary", summary(po), summary(co))):
        same_keys = list(a) == list(b) and shape(a) == shape(b)
        print(f"{label}: keys {'identical' if same_keys else 'DIFFER'} "
              f"({len(a)} top-level)")
        ok &= same_keys
        for side, rec in (("parent", a), ("change", b)):
            bad = unrounded(rec)
            print(f"{label} {side}: numbers not at 3 decimals: {len(bad)}")
            ok &= not bad
        for k in a:
            if k in RUN_DEPENDENT or k not in b:
                continue
            eq = a[k] == b[k]
            print(f"{label}.{k}: {'equal' if eq else 'DIFFER'}"
                  + ("" if eq else f" parent={a[k]} change={b[k]}"))
            ok &= eq
    a, b = json.load(open(pf)), json.load(open(cf))
    rows_eq = sorted(a["queries"]) == sorted(b["queries"])
    print(f"rows: {len(a['queries'])} parent, {len(b['queries'])} change, "
          f"{'same set' if rows_eq else 'DIFFERENT sets'}")
    ok &= rows_eq
    print("timings (s), parent -> change:")
    for k in a["queries"]:
        print(f"  {k}: {a['queries'][k]} -> {b['queries'].get(k)}")
    print("RESULT:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:5]))

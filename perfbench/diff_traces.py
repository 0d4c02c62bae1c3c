#!/usr/bin/env python3
"""Diff two traced benchmark runs layer by layer.

    python3 perfbench/diff_traces.py BEFORE AFTER [--min-change 0.05]

Each argument is either the saved standard output of
`perfbench/run.py ... --trace 1` (its last line is the result object) or
a span file the traced run writes (.bench_build/trace/<workload>-seed<n>.json).
For result objects the per-layer metrics are compared; for span files the
summed self time of each span name (the time a layer spent outside the
layers it called) and the Spark jobs charged to it. Rows are grouped by
layer, the part of the name before the first dot. Rows whose relative
change is below --min-change are hidden unless --all is given.
"""
import argparse
import json
from collections import defaultdict


def load(path):
    with open(path) as f:
        text = f.read().strip()
    try:
        obj = json.loads(text)
    except json.JSONDecodeError:
        obj = json.loads(text.splitlines()[-1])
    if "metrics" in obj:
        return {k: (v["value"], v["unit"]) for k, v in obj["metrics"].items()}
    if "spans" in obj:
        return span_totals(obj)
    raise SystemExit(f"{path}: neither a result object nor a span file")


def span_totals(obj):
    """Self seconds and Spark jobs per span name, summed over the run."""
    spans = {s["id"]: s for s in obj["spans"]}
    child_ns = defaultdict(int)
    for s in spans.values():
        if s["parent"] >= 0:
            child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = defaultdict(float)
    for s in spans.values():
        out[s["name"] + ".self_s"] += (s["end_ns"] - s["start_ns"]
                                       - child_ns[s["id"]]) / 1e9
    for j in obj["jobs"]:
        if j["span"] in spans:
            out[spans[j["span"]]["name"] + ".jobs"] += 1
    return {k: (v, "s" if k.endswith("_s") else "count")
            for k, v in out.items()}


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("before")
    p.add_argument("after")
    p.add_argument("--min-change", type=float, default=0.05)
    p.add_argument("--all", action="store_true")
    a = p.parse_args()
    before, after = load(a.before), load(a.after)
    rows = []
    for name in sorted(set(before) | set(after)):
        b, unit = before.get(name, (0.0, after.get(name, (0, ""))[1]))
        c = after.get(name, (0.0, unit))[0]
        rel = (c - b) / b if b else (0.0 if c == 0 else float("inf"))
        if a.all or abs(rel) >= a.min_change:
            rows.append((name.split(".")[0], name, b, c, rel, unit))
    layer = None
    print(f"{'metric':44} {'before':>14} {'after':>14} {'change':>9}  unit")
    for lay, name, b, c, rel, unit in rows:
        if lay != layer:
            print(f"-- {lay}")
            layer = lay
        change = "new" if rel == float("inf") else f"{rel:+.1%}"
        print(f"{name:44} {b:14.6g} {c:14.6g} {change:>9}  {unit}")


if __name__ == "__main__":
    main()

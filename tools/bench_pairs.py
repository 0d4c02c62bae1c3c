#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W \\
        --seeds 21 22 23 [--json out.json]

For every seed it runs `perfbench/run.py` once in each checkout, and
swaps which side runs first from one seed to the next, so a slow spell
of the machine does not always land on the same side. Each checkout
builds into its own `<checkout>/.bench_build` (passed as
CARGO_TARGET_DIR, whatever the caller's environment holds).

run.py's build cache is keyed on the relative paths and contents of the
sources, while the cached classpath holds absolute `target/` paths. A
checkout copied together with its `.bench_build/` therefore runs the
classes of the checkout it was copied from. This script refuses to run
a checkout whose cached classpath names `target/` directories outside
it; delete that `.bench_build/` and rerun.

Every run is untraced and lasts the change's BENCHMARK.json
`run_seconds`, the run length the benchmark sets.

At the end it prints, for every end-to-end metric of the change's
BENCHMARK.json, each side's median and quartiles, the number of pairs
the change won (strictly better in the metric's direction) and a
verdict, with the metric's relative `bound` from BENCHMARK.json:

  gain          the change won at least 9 of every 10 pairs, and its
                median is better by more than the parent's IQR
  regressed     the change's median is worse by more than the bound
  unresolved    the parent's IQR exceeds the bound times its median,
                and some change run does not beat every parent run
  within bound  otherwise
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def log(msg):
    print(f"[bench_pairs] {msg}", file=sys.stderr, flush=True)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def foreign_entries(root):
    """Classpath entries under a `target/` directory outside `root`."""
    cp_file = os.path.join(build_dir(root), "classpath")
    if not os.path.exists(cp_file):
        return []
    with open(cp_file) as f:
        entries = f.read().strip().split(os.pathsep)
    root = os.path.realpath(root) + os.sep
    return [e for e in entries
            if f"{os.sep}target{os.sep}" in e
            and not os.path.realpath(e).startswith(root)]


def check_build(root):
    bad = foreign_entries(root)
    if bad:
        raise SystemExit(
            f"{build_dir(root)}/classpath names another checkout's classes "
            f"(e.g. {bad[0]}); delete {build_dir(root)} and rerun")


def run_one(root, workload, seed, seconds):
    """One run.py invocation; returns its result object, or None."""
    check_build(root)
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir(root))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    os.makedirs(build_dir(root), exist_ok=True)
    err = os.path.join(build_dir(root), f"pairs-{workload}-seed{seed}.log")
    with open(err, "w") as e:
        out = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             stderr=e, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        log(f"{root} seed {seed}: no result (exit {out.returncode}), see {err}")
        return None
    # the run built fresh if the cache was stale: check what it used
    check_build(root)
    return res


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, wins, bound, lower):
    """The verdict on one metric: its paired values, the change's win
    count and the metric's relative bound (see the module doc)."""
    p1, pmed, p3 = quartiles(parent)
    cmed = quartiles(change)[1]
    gain = pmed - cmed if lower else cmed - pmed
    if 10 * wins >= 9 * len(parent) and gain > p3 - p1:
        return "gain"
    if -gain > bound * abs(pmed):
        return "regressed"
    beats_all = (max(change) < min(parent) if lower
                 else min(change) > max(parent))
    if p3 - p1 > bound * abs(pmed) and not beats_all:
        return "unresolved"
    return "within bound"


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--json", help="also write every run's result here")
    a = p.parse_args()

    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    if os.path.realpath(sides["parent"]) == os.path.realpath(sides["change"]):
        raise SystemExit("PARENT_DIR and CHANGE_DIR are the same checkout")
    for root in sides.values():
        check_build(root)
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    runs = []
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run_one(sides[side], a.workload, seed, seconds)
            pair[side] = res
            if res is not None:
                vals = " ".join(f"{k}={v['value']}"
                                for k, v in res["metrics"].items())
                log(f"seed {seed} {side}: correct={res['correct']} "
                    f"failed={res['failed']}/{res['attempted']} {vals}")
        runs.append(pair)
        if a.json:
            with open(a.json, "w") as f:
                json.dump(runs, f, indent=1)

    ok = [r for r in runs if r["parent"] is not None and r["change"] is not None]
    wrong = sum(1 for r in runs for s in sides
                if r[s] is not None and not r[s]["correct"])
    print(f"workload {a.workload}: {len(ok)} complete pairs of {len(runs)}, "
          f"{wrong} incorrect runs")
    print(f"{'metric':<14} {'side':<7} {'q1':>10} {'median':>10} {'q3':>10}"
          f"   change wins   verdict")
    for m in metrics:
        name = m["name"]
        have = [r for r in ok if name in r["parent"]["metrics"]
                and name in r["change"]["metrics"]]
        if not have:
            print(f"{name:<14} (no values)")
            continue
        vals = {s: [r[s]["metrics"][name]["value"] for r in have]
                for s in sides}
        lower = m["better"] == "lower"
        wins = sum(1 for pv, cv in zip(vals["parent"], vals["change"])
                   if (cv < pv if lower else cv > pv))
        v = verdict(vals["parent"], vals["change"], wins, m["bound"], lower)
        for s in ("parent", "change"):
            q1, med, q3 = quartiles(vals[s])
            tail = (f"   {f'{wins}/{len(have)}':<11}   {v}"
                    if s == "change" else "")
            print(f"{name:<14} {s:<7} {q1:>10.3f} {med:>10.3f} {q3:>10.3f}"
                  f"{tail}")
    sys.exit(0 if len(ok) == len(runs) and wrong == 0 else 1)


if __name__ == "__main__":
    main()

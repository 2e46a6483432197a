#!/usr/bin/env python3
"""Make a parent set and a change set of benchmark runs, one seed at a time.

    python3 tools/bench_pair.py PARENT_DIR CHANGE_DIR --seeds 1-10 \\
        --parent-out BENCH_parent.jsonl --change-out BENCH_change.jsonl

PARENT_DIR and CHANGE_DIR are two checkouts, e.g. a `git clone` of the
parent commit and the change. For each seed the script runs
`perfbench/compare.py run --seeds <seed>` once in each checkout and
alternates which side goes first (odd seeds: parent first). A drift of
the machine over the session then lands on both sets alike, where two
sets made one after the other each take whatever the machine did during
their own block. Each side's result lines are appended to its file as
they arrive.

Afterwards it runs `compare.py check PARENT_OUT CHANGE_OUT` from the
change checkout and prints, for every workload and end-to-end metric of
BENCHMARK.json, on how many seeds the change beat the parent (ties count
for neither side). Then, for every workload and every BENCHMARK.json
metric the runs carry, it prints each side's median and quartiles
(`statistics.quantiles(n=4)`, as `compare.py` uses) and flags `~` where
the medians differ by less than the parent's quartile distance: there a
set cannot tell the change from the parent. The exit status is that of
`compare.py check`.

    python3 tools/bench_pair.py --report PARENT_OUT CHANGE_OUT

prints the same tables for two sets made earlier, without running.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_side(tree, seed, workloads, out_path):
    cmd = [sys.executable, "perfbench/compare.py", "run", "--seeds", str(seed)]
    if workloads:
        cmd += ["--workloads", workloads]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True,
                       check=True)
    with open(out_path, "a") as f:
        f.write(p.stdout)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pair_wins(spec, parent, change):
    """Per (workload, metric): seeds the change won, and pairs compared."""
    by_key = {(r["workload"], r["seed"]): r for r in parent}
    rows = []
    for w in (x["name"] for x in spec["workloads"]):
        for m in spec["end_to_end"]:
            name, sign = m["name"], 1 if m["better"] == "lower" else -1
            wins = pairs = 0
            for c in change:
                p = by_key.get((w, c["seed"]))
                if c["workload"] != w or p is None:
                    continue
                if name not in c["metrics"] or name not in p["metrics"]:
                    continue
                d = sign * (p["metrics"][name]["value"] -
                            c["metrics"][name]["value"])
                pairs += 1
                wins += d > 0
            rows.append((w, name, wins, pairs))
    return rows


def spread_rows(spec, parent, change):
    """Per (workload, metric) on both sides: parent and change quartiles,
    and whether the medians differ by less than the parent's quartile
    distance."""
    rows = []
    for w in (x["name"] for x in spec["workloads"]):
        for m in spec["end_to_end"] + spec["per_layer"]:
            name = m["name"]
            vals = [[r["metrics"][name]["value"] for r in side
                     if r["workload"] == w and name in r["metrics"]]
                    for side in (parent, change)]
            if min(len(v) for v in vals) < 2:
                continue
            p, c = (statistics.quantiles(v, n=4) for v in vals)
            rows.append((w, name, p, c, abs(c[1] - p[1]) < p[2] - p[0]))
    return rows


def report(spec, parent, change):
    print(f"{'workload':14s} {'metric':16s} change better on")
    for w, name, wins, pairs in pair_wins(spec, parent, change):
        if pairs:
            print(f"{w:14s} {name:16s} {wins} of {pairs} seeds")
    print(f"\n{'workload':14s} {'metric':34s} {'parent q1 / median / q3':>32s}"
          f" {'change q1 / median / q3':>32s}")
    for w, name, p, c, within in spread_rows(spec, parent, change):
        fmt = " / ".join
        print(f"{w:14s} {name:34s} {fmt(f'{x:.4g}' for x in p):>32s}"
              f" {fmt(f'{x:.4g}' for x in c):>32s}"
              f"{'  ~' if within else ''}")
    print("~ : medians differ by less than the parent's quartile distance")


def main():
    if sys.argv[1:2] == ["--report"]:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        report(spec, load(sys.argv[2]), load(sys.argv[3]))
        return 0
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--parent-out", required=True)
    ap.add_argument("--change-out", required=True)
    a = ap.parse_args()
    sides = [(os.path.abspath(a.parent_dir), os.path.abspath(a.parent_out)),
             (os.path.abspath(a.change_dir), os.path.abspath(a.change_out))]
    for _, out in sides:
        open(out, "w").close()
    for i, seed in enumerate(seeds(a.seeds)):
        order = sides if i % 2 == 0 else sides[::-1]
        for tree, out in order:
            print(f"seed {seed}: {tree}", file=sys.stderr, flush=True)
            run_side(tree, seed, a.workloads, out)
    status = subprocess.run(
        [sys.executable, "perfbench/compare.py", "check", sides[0][1],
         sides[1][1]], cwd=sides[1][0]).returncode
    with open(os.path.join(sides[1][0], "BENCHMARK.json")) as f:
        spec = json.load(f)
    report(spec, load(sides[0][1]), load(sides[1][1]))
    return status


if __name__ == "__main__":
    sys.exit(main())

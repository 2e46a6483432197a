#!/usr/bin/env python3
"""Run sets of benchmark runs and compare two sets against the bounds.

    python3 perfbench/compare.py run --seeds 1-10 > a.jsonl
    python3 perfbench/compare.py run --seeds 11-20 > b.jsonl
    python3 perfbench/compare.py check a.jsonl b.jsonl

`run` makes one untraced run per (workload, seed) and writes one JSON
line each: the runner's result plus "workload" and "seed".

`check` reads two such files (A is the reference, B the candidate) and,
for every workload and end-to-end metric of BENCHMARK.json, reports
both medians, both spreads (quartile distance over median, from
statistics.quantiles(n=4)) and the change of B's median against A's in
the metric's worse direction. It fails (exit 1) when a spread exceeds
the metric's bound, when B's median is worse than A's by
more than the bound, when any run is incorrect, or when the share of
failed operations differs between the sets.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def cmd_run(a):
    b = spec()
    workloads = a.workloads.split(",") if a.workloads else [
        w["name"] for w in b["workloads"]]
    for w in workloads:
        for s in seeds(a.seeds):
            p = subprocess.run(
                b["command"] + ["--workload", w, "--seed", str(s),
                                "--seconds", str(b["run_seconds"]),
                                "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines \
                else {"correct": False, "attempted": 0, "failed": 0,
                      "metrics": {}, "exit": p.returncode}
            res.update(workload=w, seed=s)
            print(json.dumps(res), flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spread(v):
    q = statistics.quantiles(v, n=4)
    return (q[2] - q[0]) / statistics.median(v)


def cmd_check(a):
    b = spec()
    sets = [load(a.a), load(a.b)]
    ok = True
    print(f"{'workload':14s} {'metric':16s} {'median A':>12s} {'median B':>12s}"
          f" {'spread A':>9s} {'spread B':>9s} {'worse':>7s} {'bound':>6s}")
    for w in (x["name"] for x in b["workloads"]):
        runs = [[r for r in s if r["workload"] == w] for s in sets]
        if not all(runs):
            print(f"{w}: missing runs")
            ok = False
            continue
        shares = [sum(r["failed"] for r in rs) / max(1, sum(
            r["attempted"] for r in rs)) for rs in runs]
        bad = [r["seed"] for rs in runs for r in rs if not r["correct"]]
        if bad or shares[0] != shares[1]:
            print(f"{w}: incorrect seeds {bad}, failed shares {shares}")
            ok = False
        for m in b["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in rs
                     if m["name"] in r["metrics"]] for rs in runs]
            if any(len(v) < 2 for v in vals):
                print(f"{w}: {m['name']} missing")
                ok = False
                continue
            med = [statistics.median(v) for v in vals]
            sp = [spread(v) for v in vals]
            worse = (med[1] - med[0]) / med[0]
            if m["better"] == "higher":
                worse = -worse
            flag = ""
            if max(sp) > m["bound"]:
                flag += " SPREAD"
            if worse > m["bound"]:
                flag += " WORSE"
            ok &= not flag
            print(f"{w:14s} {m['name']:16s} {med[0]:12.4f} {med[1]:12.4f} "
                  f"{sp[0]:9.3f} {sp[1]:9.3f} {worse:7.3f} {m['bound']:6.2f}"
                  f"{flag}")
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    r.add_argument("--workloads", help="comma-separated; default all")
    c = sub.add_parser("check")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
        return 0
    return cmd_check(a)


if __name__ == "__main__":
    sys.exit(main())

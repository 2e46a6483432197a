#!/usr/bin/env python3
"""Shows that each output check rejects deliberately corrupted outputs.

    python3 perfbench/selftest.py [--seed 7]

For each workload: one kept run, then each corruption below is applied
to a fresh copy of that run's outputs and check.run must report a
failure. The untouched outputs must pass. Prints one line per case and
exits 1 if any corruption goes unnoticed.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def edit_parquet(d, fn):
    """Rewrite the parquet directory d as fn(table)."""
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    t = pa.concat_tables([pq.read_table(f) for f in files])
    for f in files:
        os.remove(f)
    pq.write_table(fn(t), os.path.join(d, "part-0.parquet"))


def set_cell(t, col, row, value):
    vals = t.column(col).to_pylist()
    vals[row] = value
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(vals, t.schema.field(col).type))


def edit_json(path, fn):
    with open(path) as f:
        v = json.load(f)
    fn(v)
    with open(path, "w") as f:
        json.dump(v, f)


def bump_nation(v):
    v["revenue_by_nation"][0]["revenue"] *= 1.001


def bump_dups(v):
    for r in v["validation"]["results"]:
        if r["rule"].startswith("uniqueness"):
            r["details"]["duplicate_rows"] += 1


def revive_dropped(out, inp):
    """Put a dropped document back among the survivors (prepared only, so
    the dedup checks, not the split check, must catch it)."""
    prepared = os.path.join(out, "corpus", "prepared")
    kept = set(pc.unique(pq.read_table(prepared).column("doc_id"))
               .to_pylist())
    docs = pq.read_table(os.path.join(inp, "corpus", "docs.parquet"))
    i = next(i for i, d in enumerate(docs.column("doc_id").to_pylist())
             if d not in kept)
    row = docs.slice(i, 1)

    def add(t):
        extra = pa.table({"doc_id": row.column("doc_id"),
                          "text": row.column("text"),
                          "quality": pa.array([0.9]),
                          "predicted": pa.array(["en"])})
        return pa.concat_tables([t, extra.cast(t.schema)])
    edit_parquet(prepared, add)


CASES = {
    "etl_star": [
        ("fact row lost", lambda o, i: edit_parquet(
            f"{o}/etl/star/fact_lineitem", lambda t: t.slice(1))),
        ("surrogate key changed", lambda o, i: edit_parquet(
            f"{o}/etl/star/dim_part",
            lambda t: set_cell(t, "part_key", 0, "000000000000"))),
        ("revenue by nation off", lambda o, i: edit_json(
            f"{o}/etl/results.json", bump_nation)),
        ("duplicate count off", lambda o, i: edit_json(
            f"{o}/etl/results.json", bump_dups)),
        ("stream window count off", lambda o, i: edit_parquet(
            f"{o}/etl/stream_hourly", lambda t: set_cell(
                t, "n_events", 0, t.column("n_events")[0].as_py() + 1))),
        ("request answer lost", lambda o, i: edit_json(
            f"{o}/requests.json", lambda v: v.pop())),
    ],
    "corpus_dedup": [
        ("dropped doc revived", revive_dropped),
        ("split label flipped", lambda o, i: edit_parquet(
            f"{o}/corpus/split", lambda t: set_cell(
                t, "split", 0,
                "test" if t.column("split")[0].as_py() != "test"
                else "train"))),
        ("shard offset shifted", lambda o, i: edit_parquet(
            f"{o}/corpus/shards", lambda t: set_cell(
                t, "token_offset", 0,
                t.column("token_offset")[0].as_py() + 1))),
        ("landed doc lost", lambda o, i: edit_parquet(
            f"{o}/corpus/history", lambda t: t.filter(pc.less(
                t.column("doc_id"), pc.max(t.column("doc_id")))))),
    ],
    "retrieval": [
        ("exact neighbour swapped", lambda o, i: edit_parquet(
            f"{o}/retrieval/exact", lambda t: set_cell(
                t, "neighbor_id", 0,
                (t.column("neighbor_id")[0].as_py() + 1)
                % gen.SIZES["retrieval"]["docs"]))),
        ("bm25 score off", lambda o, i: edit_parquet(
            f"{o}/retrieval/bm25_hits", lambda t: set_cell(
                t, "score_micro", 0,
                t.column("score_micro")[0].as_py() + 10**6))),
        ("ivf-pq neighbours replaced", lambda o, i: edit_parquet(
            f"{o}/retrieval/ivfpq", lambda t: t.set_column(
                t.schema.get_field_index("neighbor_id"), "neighbor_id",
                pc.add(t.column("neighbor_id"), 1)))),
    ],
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    missed = 0
    for w, cases in CASES.items():
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", w, "--seed", str(a.seed),
                        "--seconds", "1", "--keep"], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL)
        run = max(glob.glob(os.path.join(ROOT, ".bench_build", "runs",
                                         f"{w}-{a.seed}-0-*")),
                  key=os.path.getmtime)
        inp, out = os.path.join(run, "in"), os.path.join(run, "out")
        with open(os.path.join(out, "result.json")) as f:
            params = json.load(f)["params"]
        clean = check.run(w, inp, out, params)
        print(f"{w:13s} untouched outputs: "
              f"{'pass' if not clean else 'FAIL ' + str(clean)}")
        missed += bool(clean)
        for name, corrupt in cases:
            copy = out + ".corrupt"
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(out, copy)
            corrupt(copy, inp)
            fails = check.run(w, inp, copy, params)
            print(f"{w:13s} {name:28s} -> "
                  f"{'rejected: ' + fails[0] if fails else 'NOT DETECTED'}")
            missed += not fails
            shutil.rmtree(copy)
        shutil.rmtree(run)
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())

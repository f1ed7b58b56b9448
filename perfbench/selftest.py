#!/usr/bin/env python3
"""Self-test of the input generator (no Spark, no build):

    python3 perfbench/selftest.py

- the same (seed, params) gives byte-identical files, generated twice into
  separate directories;
- another seed gives different files;
- the truth file covers every read once, and the planted shares hold: about
  10 % of reads from no genome, every species id a leaf of the taxonomy;
- planted near-copies sit on the intended side of the 0.7 threshold.

The in-memory/join regimes of the two classify workloads are not a property
of the files alone. Neither index reaches the CLI's 2 M-record auto-pick, so
there is no record-count straddle test: classify_wide64 forces the join with
`--in-memory false`, and run.py checks on every classify op, from the
program's own log lines, that classify_mem auto-picked the in-memory table
and classify_wide64 built none.
"""
import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def same(a, b):
    fa, fb = files(a), files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def main():
    root = os.path.join(os.getcwd(), ".bench_work", "selftest")
    shutil.rmtree(root, ignore_errors=True)
    fails = []
    for name, w in sorted(run.WORKLOADS.items()):
        make = gen.corpus if w["kind"] == "curate" else gen.genomic
        a = make(os.path.join(root, "a"), 7, w["data"])
        b = make(os.path.join(root, "b"), 7, w["data"])
        c = make(os.path.join(root, "c"), 8, w["data"])
        if not same(a, b):
            fails.append("%s: seed 7 twice differs" % name)
        if same(a, c):
            fails.append("%s: seeds 7 and 8 give the same files" % name)
        if w["kind"] == "curate":
            with open(os.path.join(a, "truth.json")) as f:
                t = json.load(f)
            p = w["data"]
            want = (p["docs"] + p["exact_copies"] + p["near_high"] + p["near_low"]
                    + p["low_quality"])
            if t["input"] != want:
                fails.append("%s: %d docs, expected %d" % (name, t["input"], want))
            import pyarrow.parquet as pq
            text = dict(zip(*pq.read_table(os.path.join(a, "docs.parquet")).to_pydict().values()))
            for i, (orig, copy, _j) in enumerate(t["near_pairs"]):
                j = gen.jaccard(text[orig].split(), text[copy].split())
                if (j >= 0.7) != (i < p["near_high"]):
                    fails.append("%s: near copy %d has Jaccard %.3f" % (name, copy, j))
            continue
        p = w["data"]
        truth = run.load_truth(a)
        reads = p["samples"] * p["reads_per_sample"]
        if len(truth) != reads:
            fails.append("%s: truth has %d reads, expected %d" % (name, len(truth), reads))
        foreign = sum(1 for t in truth.values() if t == 0) / len(truth)
        if abs(foreign - p["foreign_share"]) > 0.02:
            fails.append("%s: no-genome share %.3f" % (name, foreign))
        leaves = set(gen.species_ids(p))
        if not {t for t in truth.values() if t} <= leaves:
            fails.append("%s: truth names a non-leaf taxon" % name)
    shutil.rmtree(root, ignore_errors=True)
    for f in fails:
        print("FAIL", f)
    print("selftest: %d failures" % len(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

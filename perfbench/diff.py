#!/usr/bin/env python3
"""Compare benchmark results kept under .bench_build/perfbench/results/.

    python3 perfbench/diff.py A.json B.json
        per-query, per-layer deltas between two traced results
        (run.py --trace 1); metrics equal in both are left out.
        Counters listed with "exact" repeat exactly.
    python3 perfbench/diff.py --overhead [DIR]
        each workload's traced pass_s against its untraced pass_s
        (medians over every result file of each kind in DIR).
"""
import argparse
import glob
import json
import os
import statistics
import sys

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "perfbench", "results")


def load(path):
    with open(path) as f:
        return json.load(f)


def deltas(a, b):
    qa, qb = a["per_query"], b["per_query"]
    exact, varies = set(), set()
    print(f"{'query':30s} {'metric':30s} {'A':>14s} {'B':>14s} {'B-A':>14s} {'rel':>8s}")
    for q in sorted(set(qa) | set(qb)):
        ra, rb = qa.get(q, {}), qb.get(q, {})
        for m in sorted(set(ra) | set(rb)):
            va, vb = ra.get(m), rb.get(m)
            if va is None or vb is None:
                print(f"{q:30s} {m:30s} {str(va):>14s} {str(vb):>14s}")
                continue
            if va == vb:
                exact.add(m)
                continue
            varies.add(m)
            rel = (vb - va) / abs(va) if va else float("inf")
            print(f"{q:30s} {m:30s} {va:14.6g} {vb:14.6g} {vb - va:14.6g} {rel:8.1%}")
    print("\nexact:  " + " ".join(sorted(exact - varies)))
    print("varies: " + " ".join(sorted(varies)))


def overhead(directory):
    runs = {}
    for p in glob.glob(os.path.join(directory, "*.json")):
        r = load(p)
        traced = "per_query" in r
        runs.setdefault(r["workload"], {}).setdefault(traced, []).append(
            r["end_to_end"]["pass_s"])
    print(f"{'workload':12s} {'untraced pass_s':>16s} {'traced pass_s':>14s} {'overhead':>9s}")
    for w, kinds in sorted(runs.items()):
        if False in kinds and True in kinds:
            u, t = statistics.median(kinds[False]), statistics.median(kinds[True])
            print(f"{w:12s} {u:16.3f} {t:14.3f} {(t - u) / u:9.1%}"
                  f"   ({len(kinds[False])} untraced, {len(kinds[True])} traced runs)")
        else:
            print(f"{w:12s} needs both a traced and an untraced result")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="*")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.overhead:
        overhead(a.files[0] if a.files else RESULTS)
    elif len(a.files) == 2:
        deltas(load(a.files[0]), load(a.files[1]))
    else:
        ap.print_usage()
        sys.exit(2)


if __name__ == "__main__":
    main()

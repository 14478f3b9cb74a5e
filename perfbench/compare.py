#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage (from the repository root, whose BENCHMARK.json gives the bounds):
  python3 perfbench/compare.py BASE NEW

BASE and NEW are directories of run records (the `records` directory the
runs leave in their build directory) or lists of record files joined by
commas. For each workload and end-to-end metric the tool prints each side's
median and quartiles and a verdict:

  gain         the change wins at least 9 of 10 seed-paired runs (ties count
               for neither) and the medians differ by more than the base's
               interquartile spread; needs at least 10 pairs
  regression   the change's median is worse than the base's by more than the
               metric's bound in BENCHMARK.json
  unresolved   either side's interquartile spread exceeds the bound, unless
               every run of the change reads better than every base run
  same         none of the above

It then prints a per-layer diff of the traced runs (median per layer metric
and self time per span layer), largest moves first, and each side's tracing
overhead: the traced pass time minus the untraced pass time.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import sys


def load(spec):
    files = (sorted(glob.glob(os.path.join(spec, "*.json"))) if os.path.isdir(spec)
             else spec.split(","))
    runs = collections.defaultdict(list)
    for f in files:
        r = json.load(open(f))
        runs[(r["workload"], bool(r["trace"]))].append(r)
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(base, new, bound, lower_is_better):
    """base/new: {seed: value}."""
    b, n = list(base.values()), list(new.values())
    bq1, bmed, bq3 = quartiles(b)
    nq1, nmed, nq3 = quartiles(n)
    better = (lambda x, y: x < y) if lower_is_better else (lambda x, y: x > y)
    seeds = sorted(set(base) & set(new))
    wins = sum(better(new[s], base[s]) for s in seeds)
    worse_by = (nmed - bmed) / bmed if lower_is_better else (bmed - nmed) / bmed
    if worse_by > bound:
        return "regression", wins, len(seeds)
    if len(seeds) >= 10 and wins >= 0.9 * len(seeds) and abs(nmed - bmed) > bq3 - bq1:
        return "gain", wins, len(seeds)
    all_better = all(better(x, y) for x in n for y in b)
    if ((bq3 - bq1) / bmed > bound or (nq3 - nq1) / nmed > bound) and not all_better:
        return "unresolved", wins, len(seeds)
    return "same", wins, len(seeds)


def median_map(records, field):
    keys = sorted({k for r in records for k in r.get(field, {})})
    return {k: statistics.median([r[field].get(k, 0.0) for r in records]) for k in keys}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    base, new = load(a.base), load(a.new)
    workloads = [w["name"] for w in spec["workloads"]]

    print("end to end (untraced runs)")
    print(f"{'workload':14s} {'metric':14s} {'base q1/med/q3':>28s} {'new q1/med/q3':>28s}  verdict")
    for w in workloads:
        b_runs, n_runs = base.get((w, False), []), new.get((w, False), [])
        if not b_runs or not n_runs:
            print(f"{w:14s} (no untraced runs on {'base' if not b_runs else 'new'} side)")
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = {r["seed"]: r["metrics"][name] for r in b_runs}
            nv = {r["seed"]: r["metrics"][name] for r in n_runs}
            v, wins, pairs = verdict(bv, nv, m["bound"], m["better"] == "lower")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:14s} {name:14s} {fmt(quartiles(list(bv.values()))):>28s} "
                  f"{fmt(quartiles(list(nv.values()))):>28s}  {v} "
                  f"({wins}/{pairs} pairs better, bound {m['bound']})")
        fails = [sum(r.get("fail_ratio", 0) > 0 for r in runs) for runs in (b_runs, n_runs)]
        print(f"{w:14s} runs with failures: base {fails[0]}/{len(b_runs)}, new {fails[1]}/{len(n_runs)}")

    print("\nper layer (traced runs, median per pass; largest moves first)")
    for w in workloads:
        b_tr, n_tr = base.get((w, True), []), new.get((w, True), [])
        if not b_tr or not n_tr:
            print(f"{w}: no traced runs on {'base' if not b_tr else 'new'} side")
            continue
        for field in ("layers", "self_ms"):
            bm, nm = median_map(b_tr, field), median_map(n_tr, field)
            rows = []
            for k in sorted(set(bm) | set(nm)):
                bv, nv = bm.get(k, 0.0), nm.get(k, 0.0)
                rows.append((abs(nv - bv), k, bv, nv))
            print(f"{w} {field}:")
            for d, k, bv, nv in sorted(rows, reverse=True):
                if d == 0:
                    continue
                pct = f"{(nv - bv) / bv:+.1%}" if bv else "new"
                print(f"  {k:28s} {bv:12.4g} -> {nv:12.4g}  {pct}")
        for side, runs in (("base", base), ("new", new)):
            tr, un = runs.get((w, True), []), runs.get((w, False), [])
            if tr and un:
                over = (statistics.median(r["layers"]["trace.pass_s"] for r in tr)
                        - statistics.median(r["metrics"]["pass_s"] for r in un))
                print(f"{w} tracing overhead ({side}): {over:+.3f} s per pass")


if __name__ == "__main__":
    sys.exit(main())

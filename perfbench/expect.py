#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the row count and digest of every
workload key on the benchmark's fixture tables, from the current commit.

Usage (from the repository root): python3 perfbench/expect.py

Digests are taken in two separate JVMs. A key whose digest differs between
them is recorded with "digest": null, and runs then check its row count
only; such keys are listed on stderr. A key whose row count differs is an
error: the benchmark cannot check it at all.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    bdir = build.build_dir()
    cp, _ = build.build()
    deadline = time.time() + 1800
    fx, _ = run.fixtures(bdir, cp, deadline)
    takes = []
    for i in range(2):
        out = os.path.abspath(os.path.join(bdir, f"digest{i}.json"))
        with run.workdir(bdir) as (work, tmp):
            run.java(cp, ["perfbench.Driver", "digest", fx, out], work, tmp, deadline)
        takes.append(json.load(open(out)))
    keys = {}
    for k in sorted(takes[0]):
        a, b = takes[0][k], takes[1][k]
        if a["rows"] != b["rows"]:
            raise SystemExit(f"{k}: row count differs between runs ({a['rows']} vs {b['rows']})")
        stable = a["digest"] == b["digest"]
        if not stable:
            sys.stderr.write(f"rows only (digest not stable): {k}\n")
        keys[k] = {"rows": a["rows"], "digest": a["digest"] if stable else None}
    doc = {"fixtures": {"sf": run.FIXTURE_SF, "seed": run.FIXTURE_SEED}, "keys": keys}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()

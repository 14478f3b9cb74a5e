#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload suite_warm --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.py), generates the seeded
fixture tables once, runs the workload in a fresh JVM, checks every key's
output against perfbench/expected.json, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it summarizes the run (host, set-up samples,
passes, output check); the full record, with every call's times, is kept
under <build>/records and, for a traced run, the spans under <build>/traces.
All files the run writes stay inside the build directory.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# Fixture tables: scale factor and data seed. The --seed of a run orders
# the keys; the tables stay the same, so expected.json holds for every run.
FIXTURE_SF = "0.01"
FIXTURE_SEED = "42"
# A run ends within DEADLINE_S; one that first builds or generates the
# fixtures within BUILD_DEADLINE_S.
DEADLINE_S = 170
BUILD_DEADLINE_S = 870
# -XX:-UsePerfData keeps the JVM from writing its perf-data file under /tmp
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def java(cp, args, cwd, tmp, deadline):
    """Run one JVM in its own process group; kill the group at the deadline."""
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                 f"-Dspark.local.dir={tmp}", "-cp", cp] + args
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{args[0]} {args[1]} passed the deadline and was killed")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
        fail(f"JVM exited with code {p.returncode}")
    return out


def fixtures(bdir, cp, deadline):
    """Generate the fixture tables once per build directory; return their
    directory and whether they were generated now."""
    d = os.path.abspath(os.path.join(bdir, "fixtures",
                                     f"sf{FIXTURE_SF}-d{FIXTURE_SEED}"))
    stamp = os.path.join(d, "DONE")
    src = open(os.path.join(HERE, "src", "Fixtures.scala")).read()
    if os.path.exists(stamp) and open(stamp).read() == src:
        return d, False
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with workdir(bdir) as (work, tmp):
        java(cp, ["perfbench.Fixtures", d, FIXTURE_SF, FIXTURE_SEED], work, tmp,
             deadline)
    with open(stamp, "w") as fh:
        fh.write(src)
    return d, True


class workdir:
    """A per-process working and temp directory inside the build dir."""

    def __init__(self, bdir):
        self.root = os.path.abspath(os.path.join(bdir, "work", str(os.getpid())))

    def __enter__(self):
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(os.path.join(self.root, "tmp"))
        return self.root, os.path.join(self.root, "tmp")

    def __exit__(self, *exc):
        shutil.rmtree(self.root, ignore_errors=True)


def check_outputs(checks, expected):
    """Keys whose rows (and, where the digest is stable, digest) differ."""
    bad = {}
    for key, got in checks.items():
        want = expected.get(key)
        if want is None:
            bad[key] = "no expected entry"
        elif "error" in got:
            bad[key] = got["error"]
        elif got["rows"] != want["rows"]:
            bad[key] = f"rows {got['rows']} != {want['rows']}"
        elif want["digest"] is not None and got["digest"] != want["digest"]:
            bad[key] = f"digest {got['digest']} != {want['digest']}"
    return bad


def main():
    # a terminated run still stops the JVM it started (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found: run from the root of a repository checkout")
    spec = json.load(open("BENCHMARK.json"))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    expected = json.load(open(os.path.join(HERE, "expected.json")))

    bdir = build.build_dir()
    cp, compiled = build.build()
    fx, generated = fixtures(bdir, cp, start + BUILD_DEADLINE_S)
    deadline = start + (BUILD_DEADLINE_S if compiled or generated else DEADLINE_S)
    for sub in ("records", "traces"):
        os.makedirs(os.path.join(bdir, sub), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    rec_path = os.path.abspath(os.path.join(bdir, "records", f"{tag}.json"))
    spans_path = os.path.abspath(os.path.join(bdir, "traces", f"{tag}.spans.jsonl"))
    with workdir(bdir) as (work, tmp):
        java(cp, ["perfbench.Driver", "run", a.workload, str(a.seed),
                  str(a.seconds), str(a.trace), fx, rec_path, spans_path],
             work, tmp, deadline)
    rec = json.load(open(rec_path))

    bad = check_outputs(rec["checks"], expected["keys"])
    errors = [c for c in rec["calls"] if c["error"]]
    for k, why in sorted(bad.items()):
        sys.stderr.write(f"perfbench: output check failed for {k}: {why}\n")
    for c in errors[:20]:
        sys.stderr.write(f"perfbench: {c['key']} threw: {c['error']}\n")
    attempted = len(rec["calls"])
    failed = min(attempted, len(errors) + len(bad))
    rec["fail_ratio"] = failed / attempted
    rec["output_check"] = {"rows_only": sorted(k for k in rec["checks"]
                                               if expected["keys"].get(k, {}).get("digest", 0) is None),
                           "failed": bad}
    source = rec["layers"] if a.trace else rec["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"the run did not produce {missing}")
    if a.trace:
        untraced = [json.load(open(p))["metrics"]["pass_s"] for p in glob.glob(
            os.path.join(bdir, "records", f"{a.workload}-s*-t0.json"))]
        if untraced:
            rec["trace_overhead_s"] = rec["layers"]["trace.pass_s"] - statistics.median(untraced)
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)
    summary = {k: rec[k] for k in ("workload", "seed", "host", "setup_s",
                                   "resetup_s", "passes", "query_count", "query_p90_ms",
                                   "fail_ratio", "output_check")}
    summary.update({"record": rec_path, "trace_overhead_s": rec.get("trace_overhead_s")})
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not bad and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine and
the harness under perfbench/harness with sbt (offline, like the project's
own build); the first ingest_search run generates the x4 corpus with
tools/gen_scale.py. Later runs reuse both while the sources and input
fingerprints are unchanged. Every
engine file of a run (index sidecars, streaming state, Spark scratch) lives
under perfbench/.work/run, which is emptied first.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or the per-layer metrics with --trace 1).
Lines before it repeat every metric with its unit and sample count.

Extra options: --pin rewrites perfbench/expected/<workload>.tsv from this
run's answers instead of checking them; --queries a,b,c overrides the
batch_sf01 query set (for example, every Bench headline query with --trace 1
prints the per-query execution budget).

Inputs: the sf0.1 tables are read from $SPARK_GRAFT_SF_DIR (the variable
graft.Bench reads), by default ~/testdata/sf0.1. Their sha256 digests, and
those of the generated corpus where a workload reads it, are checked
against perfbench/inputs.json before every run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(BENCH, ".work")
RUN = os.path.join(WORK, "run")
WORKLOADS = ("batch_sf01", "serve_mixed", "ingest_search")
TIME_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project"),
            os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            h.update(sha256(p).encode())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def check_inputs(sf, need_x4):
    """Verifies the sf0.1 tables and, for the workloads that read it,
    (re)generates the x4 corpus until its digests match the pinned ones."""
    with open(os.path.join(BENCH, "inputs.json")) as f:
        pinned = json.load(f)
    for name, digest in pinned["sf0.1"].items():
        p = os.path.join(sf, name)
        if not os.path.exists(p) or sha256(p) != digest:
            fail(f"input {p} is missing or differs from its pinned digest")
    x4 = os.path.join(WORK, "data", "x4")
    if not need_x4:
        return x4

    def x4_ok():
        return all(os.path.exists(os.path.join(x4, n)) and
                   sha256(os.path.join(x4, n)) == d
                   for n, d in pinned["x4"].items())
    if not x4_ok():
        shutil.rmtree(x4, ignore_errors=True)
        gen = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_scale.py"), sf, x4, "4"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
        if gen.returncode != 0 or not x4_ok():
            sys.stderr.write(gen.stdout[-2000:])
            fail("generated x4 corpus does not match its pinned digests")
    return x4


def run_harness(cp, args, sf, x4, deadline):
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(RUN, d))
    expect = os.path.join(BENCH, "expected", f"{args.workload}.tsv")
    out = os.path.join(RUN, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", sf, "--x4", x4, "--work", RUN, "--expect", expect,
            "--pin", "1" if args.pin else "0", "--out", out] +
           (["--queries", args.queries] if args.queries else []))
    with open(os.path.join(RUN, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=RUN, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("harness exceeded the time limit")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(RUN, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--queries")
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "gen_scale.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a graft source checkout")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    cp = build()
    x4 = check_inputs(sf, args.workload == "ingest_search")
    # a first run also builds; only the harness itself is held to the limit,
    # which a query set of one's own (a census of many queries) may exceed
    limit = TIME_LIMIT_S if not args.queries else 6 * TIME_LIMIT_S
    res = run_harness(cp, args, sf, x4, max(start, time.time() - 30) + limit)
    for line in res["report"]:
        print(line)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark for pg2chspark: replication and the analytics board.

Run from the root of a checkout:

    python3 perfbench/run.py --workload repl --seed 1 --seconds 10 --trace 0

It compiles the program (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark jars,
runs one workload in a fresh JVM, checks the board's results against
the DuckDB oracle, and prints one JSON object as the last line of
stdout: correctness, attempted and failed units, and the metrics
(end-to-end with --trace 0, per layer with --trace 1). Everything it
builds or writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("repl", "board")
# a fixed heap ceiling, but no pre-touch: resident memory follows use
JVM_OPTS = [
    "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            sys.exit(f"perfbench: {top} is missing; run from the root of a pg2chspark checkout")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars")


def build(jars):
    """Compile once per source tree; the stamp is a hash of every source."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    res = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp,
         "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def complete(result, trace):
    """Checks the run reported every end-to-end metric, and fills in as 0
    the per-layer metrics of layers the workload does not run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = result["metrics"]
    if not trace:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in metrics]
        if missing:
            sys.exit(f"perfbench: the run did not report {missing}")
    else:
        for m in spec["per_layer"]:
            metrics.setdefault(m["name"], {"value": 0, "unit": m["unit"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--data", DATA]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
            try:
                out, _ = proc.communicate(timeout=170)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write(open(log).read()[-4000:])
                sys.exit("perfbench: run timed out")
        if proc.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit(f"perfbench: JVM exited with {proc.returncode}")
        lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
        if not lines:
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit("perfbench: no result")
        result = json.loads(lines[-1][len("RESULT "):])
        for l in open(log):
            if l.startswith("[perfbench]"):
                sys.stderr.write(l)
        if a.workload == "board":
            keys, bad = oracle.check(os.path.join(work, "verify"), DATA)
            for k, why in sorted(bad.items()):
                sys.stderr.write(f"[perfbench] ORACLE {k}: {why}\n")
            result.update(attempted=keys, failed=len(bad), correct=not bad)
        complete(result, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--save <file>] [--record]

The first run in a checkout compiles the program's sources together with
the harness (perfbench/build.sbt) into .bench_build; later runs reuse the
build while the sources are unchanged. The harness JVM runs the workload
closed-loop for --seconds and checks its outputs. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The exit code is 0 only
when every output check passed.

--save copies the harness's full report (both metric sets, notes, the
list of failed checks) to a file; --record rewrites the expected digests
of the query workloads in perfbench/expected instead of checking them.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 160
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("sources") == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")

    classpath = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--expected", os.path.join(HERE, "expected")]
    if args.record:
        cmd.append("--record")
    try:
        p = subprocess.run(cmd, cwd=work, stdout=sys.stderr, timeout=JVM_TIMEOUT_S,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")))
        code = p.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness exited with {code}")
    with open(out) as f:
        report = json.load(f)
    if args.save:
        os.makedirs(os.path.dirname(os.path.abspath(args.save)), exist_ok=True)
        shutil.copy(out, args.save)
        if os.path.exists(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", args.save + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = report["per_layer"] if args.trace else report["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']} {m['unit']}")
    for note in ("op_tail", "op_samples", "read_samples"):
        print(f"{args.workload} {note}: {report['notes'].get(note)}")
    for msg in report["failures"]:
        print(f"{args.workload} check failed: {msg}")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()

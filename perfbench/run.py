#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 5 --trace 0

Builds the engine plus the benchmark driver with sbt on first use (the
build is reused while the sources are unchanged), starts one JVM that
sets up, drives and checks the workload, then turns its raw records into
metrics. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("serve_ingest", "analytics")
DEADLINE_S = 170
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(code, message):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources."""
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        fail(3, f"sbt compile failed with exit code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail(2, "SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(args, work, out, deadline):
    cmd = [java(), "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    if args.workload == "analytics":
        cmd += ["--data", os.path.join(work, "data")]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(4, "the workload did not finish in time")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(5, f"the workload JVM exited with code {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    if not os.path.isdir(ENGINE_SRC):
        fail(2, "the engine sources (src/main/scala) are not in this checkout")
    build()
    deadline = time.monotonic() + DEADLINE_S

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        values_extra = {}
        if args.workload == "analytics":
            t0 = time.monotonic()
            datagen.write(args.seed, os.path.join(work, "data"))
            values_extra["setup.datagen_s"] = time.monotonic() - t0
        out = os.path.join(work, "raw.json")
        run_jvm(args, work, out, deadline)
        with open(out) as fh:
            raw = json.load(fh)
        checks = raw["checks"]
        tally = benchlib.Tally(checks["attempted"], checks["failed"], checks["messages"])
        if args.workload == "analytics":
            with open(os.path.join(work, "oracle_sql.json")) as fh:
                oracle = json.load(fh)
            benchlib.oracle_check(tally, os.path.join(work, "data"),
                                  os.path.join(work, "results"), oracle)
        values = dict(raw["values"], **values_extra)
        spans = benchlib.load_trace(raw["trace"])
        if args.trace:
            metrics = benchlib.per_layer(args.workload, spans, values, tally)
        else:
            metrics = benchlib.end_to_end(args.workload, spans, values)
        summary = {"workload": args.workload, "seed": args.seed,
                   "recall_at_10": values.get("recall_at_10"),
                   "failed_share": tally.failed_share,
                   "run_s": round(time.monotonic() - start, 1),
                   "failures": tally.messages}
        if args.trace and args.workload == "serve_ingest":
            summary["live_reads_by_segments"] = {
                str(k): {"calls": n, "tasks": t, "task_deser_ms": d}
                for k, (n, t, d) in benchlib.live_by_segments(spans).items()}
        print("summary " + json.dumps(summary))
        print(json.dumps({"correct": tally.failed == 0 and tally.attempted > 0,
                          "attempted": tally.attempted, "failed": tally.failed,
                          "metrics": benchlib.metrics_json(metrics)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

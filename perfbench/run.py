#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target; every run then
starts one fresh JVM (`perfbench.Main`) at local[n] with n = min(4, nproc),
its own temp, warehouse and Spark local dirs under perfbench/.work, and
removes them afterwards. The JVM writes a full artifact (box context,
per-operation samples, per-pass layer values, spans) to perfbench/out/;
the last line on stdout is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace 0 and the
per-layer metrics when --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = ("etl_pbf", "catalog")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# the JVM's limit, counted from the end of any build (a first run in a
# checkout also builds, and may take longer overall)
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles engine + harness with sbt (offline) and records the classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    proc = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=700)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def java(work, classpath):
    """The JVM command line up to and including the main class and --work."""
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main", "--work", work])


def calibrate(sf):
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    work = os.path.join(HERE, ".work", f"calibrate-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        subprocess.run(java(work, classpath) + ["--calibrate", str(sf), "--cores",
                       str(min(4, os.cpu_count() or 1)), "--out",
                       os.path.join(HERE, "catalog_expected.json")],
                       env=dict(os.environ, SPARK_GRAFT_MEMO="off"), check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", type=float, metavar="SF",
                    help="run every catalog query once at this scale factor and rewrite "
                         "perfbench/catalog_expected.json")
    args = ap.parse_args()
    if args.calibrate is None and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    declared = declared_metrics(args.trace)
    build()
    if args.calibrate is not None:
        return calibrate(args.calibrate)
    # set-up is timed from here: a one-off build is not part of it
    t0_ms = time.time() * 1000.0
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = (java(work, classpath)
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cache", os.path.join(HERE, ".cache"), "--out", result_path,
              "--cores", str(cores), "--t0-ms", repr(t0_ms),
              "--expected", os.path.join(HERE, "catalog_expected.json")])
    # the memo would turn repeated catalog queries into parquet reads
    env = dict(os.environ, SPARK_GRAFT_MEMO="off")
    remaining = RUN_LIMIT_S - (time.time() - t0_ms / 1000.0)
    try:
        proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=max(remaining, 30))
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(proc.stderr[-6000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(result_path) as f:
            result = json.load(f)
    except subprocess.TimeoutExpired:
        fail("benchmark JVM timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    problems = list(result["artifact"].get("problems", []))
    if set(metrics) != set(declared):
        problems.append(f"emitted metrics {sorted(set(metrics) ^ set(declared))} differ from BENCHMARK.json")
    for name, unit in declared.items():
        if name in metrics and metrics[name]["unit"] != unit:
            problems.append(f"{name}: unit {metrics[name]['unit']} != declared {unit}")
    correct = bool(result["correct"]) and not problems
    artifact = dict(result["artifact"], problems=problems, metrics=metrics, correct=correct,
                    attempted=result["attempted"], failed=result["failed"])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Records the committed traced runs.

    python3 perfbench/record_trace.py [--seed 7] [--seconds 30]

For each workload it runs the benchmark untraced and then traced with
the same seed and writes perfbench/results/<workload>-seed<n>.json
holding both result lines, the tracing overhead (traced trace.wall_s
against untraced wall_s), for etl_pbf the layer self times and their sum,
and the traced run's full artifact (box context, per-pass layer values,
spans).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ETL_LAYERS = ["osmpbf.decode_s", "wayassembly.s", "classify.s", "project.s", "centroid.s",
              "sink.parquet_s", "sink.copy_s"]


def run(workload, seed, seconds, trace):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=30)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in workloads:
        untraced, _ = run(w, args.seed, args.seconds, 0)
        traced, artifact = run(w, args.seed, args.seconds, 1)
        wall = untraced["metrics"]["wall_s"]["value"]
        traced_wall = traced["metrics"]["trace.wall_s"]["value"]
        out = {"workload": w, "seed": args.seed, "seconds": args.seconds,
               "untraced": untraced, "traced": traced,
               "trace_overhead": {"untraced_wall_s": wall, "traced_wall_s": traced_wall,
                                  "ratio": traced_wall / wall},
               "traced_artifact": artifact}
        if w == "etl_pbf":
            # the layer self times telescope to the traced pass wall
            out["etl_layer_self_s"] = {k: traced["metrics"][k]["value"] for k in ETL_LAYERS}
            out["etl_layer_self_s_sum"] = sum(out["etl_layer_self_s"].values())
        path = os.path.join(HERE, "results", f"{w}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"{w}: correct={untraced['correct'] and traced['correct']} "
              f"wall_s={wall:.3f} traced={traced_wall:.3f} -> {path}")


if __name__ == "__main__":
    main()

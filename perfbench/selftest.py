#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Runs short (one-pass) benchmark runs and checks that
  - the same seed plants the same ETL input (two untraced etl_pbf runs),
  - emitted metric names and units match BENCHMARK.json (both modes),
  - in every traced run each span's self time equals its duration minus
    the union of its children's intervals and lies in [0, duration],
  - driver.gap_s >= 0 on every workload,
  - the etl_pbf layer self times sum to the traced pass wall (trace.wall_s).
Exits non-zero on the first failed check. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ETL_LAYERS = ["osmpbf.decode_s", "wayassembly.s", "classify.s", "project.s", "centroid.s",
              "sink.parquet_s", "sink.copy_s"]


def run(workload, seed, trace):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        sys.exit(f"selftest: {workload} trace={trace} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def union(iv):
    total, cur = 0.0, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a_res, a = run("etl_pbf", 11, 0)
    b_res, b = run("etl_pbf", 11, 0)
    check(a["workload_inputs"] == b["workload_inputs"], "same seed plants the same ETL input")
    check(a_res["correct"] and b_res["correct"], "untraced etl_pbf outputs reconcile")
    check(set(a_res["metrics"]) == {m["name"] for m in spec["end_to_end"]},
          "untraced metric names match BENCHMARK.json end_to_end")
    for w in ("etl_pbf", "catalog"):
        res, art = run(w, 11, 1)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        check(res["correct"], f"{w}: traced run outputs check")
        check(set(m) == {x["name"] for x in spec["per_layer"]},
              f"{w}: traced metric names match BENCHMARK.json per_layer")
        check(m["driver.gap_s"] >= 0, f"{w}: driver.gap_s = {m['driver.gap_s']:.3f} >= 0")
        spans = art["spans"]
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        bad = 0
        for s in spans:
            iv = [(max(k["start"], s["start"]), min(k["end"], s["end"])) for k in kids.get(s["id"], [])]
            self_ms = (s["end"] - s["start"]) - union(iv)
            if not (-1e-6 <= self_ms <= s["end"] - s["start"] + 1e-6):
                bad += 1
        check(spans and bad == 0, f"{w}: {len(spans)} spans, self = span - children in [0, span]")
        if w == "etl_pbf":
            for p in art["layers_per_pass"]:
                total = sum(p[k] for k in ETL_LAYERS)
                check(abs(total - p["trace.wall_s"]) < 1e-6,
                      f"etl_pbf: layer self times sum {total:.4f} s = pass wall {p['trace.wall_s']:.4f} s")
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()

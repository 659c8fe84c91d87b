#!/usr/bin/env python3
"""Writes the committed per-layer results and the tracing overhead.

    python3 perfbench/report.py [--seed 3] [--workloads channel_etl,curation]

Per workload, runs perfbench/run.py three times on one seed: untraced,
traced, traced again. Writes perfbench/results/<workload>.json with

  - end_to_end / end_to_end_traced: the untraced and traced metrics, and
    tracing_overhead: traced / untraced - 1 for each;
  - per_layer: the traced run's per-layer metrics;
  - repeat_exact / repeat_differs: which per-layer metrics read exactly the
    same in both traced runs (counts that the listener drain makes exact);
  - ops: per-op latency and per-op layer metrics of the first traced run,

and perfbench/results/<workload>.spans.json, that run's op and job spans.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_out", "traces")
RESULTS = os.path.join(HERE, "results")


def run(workload, seed, trace, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}")
    print(r.stdout.strip().splitlines()[0], flush=True)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(RESULTS, exist_ok=True)
    for w in names:
        plain = run(w, a.seed, 0, spec["run_seconds"])
        traced = run(w, a.seed, 1, spec["run_seconds"])
        stem = os.path.join(TRACES, f"{w}-seed{a.seed}")
        with open(stem + ".layers.json") as f:
            layers = json.load(f)
        shutil.copy(stem + ".spans.json", os.path.join(RESULTS, f"{w}.spans.json"))
        again = run(w, a.seed, 1, spec["run_seconds"])
        first, second = traced["metrics"], again["metrics"]
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        e2e_traced = {k: layers["end_to_end_traced"][k] for k in e2e}
        out = {
            "workload": w, "seed": a.seed, "run_seconds": spec["run_seconds"],
            "inputs": layers["inputs"], "samples": layers["samples"],
            "correct": plain["correct"] and traced["correct"] and again["correct"],
            "end_to_end": e2e, "end_to_end_traced": e2e_traced,
            "tracing_overhead": {k: e2e_traced[k] / e2e[k] - 1 for k in e2e if e2e[k]},
            "per_layer": {k: v["value"] for k, v in first.items()},
            "repeat_exact": sorted(k for k in first if first[k] == second[k]),
            "repeat_differs": sorted(k for k in first if first[k] != second[k]),
            "ops": layers["ops"],
        }
        with open(os.path.join(RESULTS, f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: latency_p50_s overhead "
              f"{out['tracing_overhead'].get('latency_p50_s', 0):+.1%}", flush=True)


if __name__ == "__main__":
    main()

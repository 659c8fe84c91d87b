#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10 [--workloads channel_etl,curation]

Runs perfbench/run.py once per (workload, seed), untraced, one run at a time,
and prints per metric the median, the quartile distance (Q3 - Q1, from
statistics.quantiles(values, n=4)) as a share of the median, and the
metric's bound from BENCHMARK.json. Every run's result line is appended to
.bench_out/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_out", "spread.jsonl"), "a")
    worst = 0.0
    for w in names:
        values, walls, bad = {}, [], 0
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t0)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                bad += 1
                continue
            res = json.loads(lines[-1])
            bad += 0 if res["correct"] else 1
            log.write(json.dumps({"workload": w, "seed": s, "wall_s": walls[-1],
                                  "summary": lines[0], **res}) + "\n")
            log.flush()
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {len(walls)} runs, {bad} incorrect or failed, "
              f"run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for m in spec["end_to_end"]:
            v = values.get(m["name"], [])
            if len(v) < 2:
                continue
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            share = (q[2] - q[0]) / med if med else float("inf")
            if m["name"] != "setup_s":
                worst = max(worst, share / m["bound"])
            print(f"  {m['name']:16s} median {med:12.5g}  iqr/median {share:6.3f}  "
                  f"bound {m['bound']}")
    print(f"worst spread as a share of its bound (setup_s excluded): {worst:.2f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload channel_etl --seed 1 --seconds 8 --trace 0

Builds the program and the harness first (perfbench/build.py), then runs the
workload in a fresh JVM on local[<cores>] Spark. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list; the lines before it name every metric with its unit.

    python3 perfbench/run.py --test     # the benchmark's own tests

Everything the run writes stays under .bench_build/ and .bench_out/; traced
runs leave their spans and per-layer numbers in .bench_out/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170  # a run must finish within 180 s; leave room to report
# BENCHMARK.json gates a subset; every workload here runs the same way
WORKLOADS = ("channel_etl", "corpus_ingest", "curation")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm(classpath, work, main, args, timeout_s):
    """Runs a harness main in a fresh JVM; returns (exit code, log tail)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed-size heap: peak RSS then does not depend on when G1 resizes
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xss16m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.warehouse.dir={work}/warehouse",
           "-Dspark.callstack.depth=64", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    with open(log_path, errors="replace") as f:
        tail = f.read()[-3000:]
    return rc, tail


def benchmark_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """The user-visible metrics of one run, from its raw samples."""
    ops = raw["ops"]
    warm = ops[1:] or ops
    lat = sorted(o["latency_s"] for o in warm)
    n = len(lat)
    # the highest percentile with at least 10 samples beyond it; a run with
    # fewer than 11 samples has none, and reports its maximum instead
    k = n - 11 if n >= 11 else n - 1
    failed = sum(1 for o in ops if o["error"])
    return {
        "setup_s": raw["session_s"] + median(raw["setup_reps_s"]),
        "first_op_s": ops[0]["latency_s"],
        "latency_p50_s": median(lat),
        "latency_tail_s": lat[k],
        "rows_per_s": raw["input_rows"] * n / sum(lat),
        "error_rate": failed / len(ops),
        "write_amp": median([o["bytes_written"] / raw["input_bytes"] for o in warm]),
        "peak_rss_mb": raw["peak_rss_mb"],
    }, {"samples": n, "tail_percentile": round(100.0 * (k + 1) / n, 1) if n >= 11 else 100.0}


def per_layer(raw, names):
    warm = raw["ops"][1:] or raw["ops"]
    run = raw["run_metrics"]
    return {m: run[m] if m in run else
            median([o["metrics"].get(m, 0.0) for o in warm]) for m in names}


def selftest(classpath):
    work = os.path.join(OUT, f"test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rc, tail = jvm(classpath, work, "perfbench.KnownDefects", [work], RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(tail.strip().splitlines()[-1] if tail.strip() else "(no output)")
    return 0 if rc == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    t_start = time.monotonic()
    try:
        spec = benchmark_spec()
        classpath = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        print(f"run: {e}", file=sys.stderr)
        return 2
    if a.test:
        return selftest(classpath)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    if a.workload not in WORKLOADS:
        print(f"run: unknown workload {a.workload!r} (one of {', '.join(WORKLOADS)})",
              file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"run-{tag}-{os.getpid()}")
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    raw_path = os.path.join(work, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
            "--trace", str(a.trace), "--work", work, "--out", raw_path,
            "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json")]
    t_jvm = time.monotonic()
    try:
        rc, tail = jvm(classpath, work, "perfbench.Main", args, RUN_LIMIT_S)
        if rc != 0 or not os.path.exists(raw_path):
            print(f"run: harness failed ({rc}); log tail:\n{tail}", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = end_to_end(raw)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.setdefault("error_rate", "ratio")
    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={raw['cores']} "
          f"ops={len(raw['ops'])} warm_samples={info['samples']} "
          f"tail=p{info['tail_percentile']} wall={time.monotonic() - t_jvm:.1f}s "
          f"build={t_jvm - t_start:.1f}s session={raw['session_s']:.1f}s "
          f"inputs_written={raw['prepare_s']:.1f}s "
          f"setup_reps={[round(x, 2) for x in raw['setup_reps_s']]} "
          f"run_check={raw['run_check_s']:.1f}s steal={raw['host_steal_share']:.1%} "
          f"op_s={[round(o['latency_s'], 2) for o in raw['ops']]} "
          f"inputs={json.dumps(raw['inputs'])}")
    for name, v in e2e.items():
        print(f"  {name} = {v:.6g} {units.get(name, '')}")
    for o in raw["ops"]:
        if o["error"]:
            print(f"  op {o['i']} FAILED: {o['error']}")
    failed = sum(1 for o in raw["ops"] if o["error"])
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = per_layer(raw, names)
        with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.layers.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "inputs": raw["inputs"],
                       "end_to_end_traced": e2e, "samples": info, "per_layer": metrics,
                       "ops": raw["ops"]}, f, indent=1)
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    out = {"correct": failed == 0, "attempted": len(raw["ops"]), "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload import --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run builds graft and the benchmark
from source (once per source tree), generates its inputs from the seed,
runs the workload in one JVM on local[nproc] in a closed loop for
`--seconds`, checks the outputs outside every timed span, and prints
as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics; with
--trace 1 they are the per-layer metrics of a second, traced replay of
the same units, whose spans go to .bench_build/traces/. The line before
it is a report with the host and code stamps. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# The tables are the same in every run; the run's seed drives what each
# workload does with them (import: micro-batch boundaries and failure
# schedule; training: the documents' order and ids), so runs with
# different seeds do the same amount of work.
DATA_SEED = 42
# Input size (gen.py scale factor) per workload.
WORKLOADS = {"import": 0.02, "training": 0.1}
JVM_TIMEOUT_S = 150


def load_avg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def src_hash(root):
    return build.tree_hash(root, build.main_sources(root))


def per_layer_units():
    """Name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run_jvm(built, args, run_dir, data, cores):
    out = os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out)
    cmd = build.java(built, os.path.join(run_dir, "tmp"),
                     "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", data,
                     "--out", out, "--cores", str(cores),
                     "--layers", os.path.join(HERE, "layers.json"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        with open(log) as fh:
            raise RuntimeError("JVM failed:\n" + fh.read()[-3000:])
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh), out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["selftest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    cores = len(os.sched_getaffinity(0))
    load_start = load_avg()
    built = build.build(root)
    t_setup = time.time()
    sf = WORKLOADS.get(args.workload, 0.001)
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        gen.generate(data, DATA_SEED, sf)
        if args.workload == "training":
            gen.permute_documents(data, args.seed)
        res, out = run_jvm(built, args, run_dir, data, cores)
        samples = res["samples"]
        failed_units = {k for k, s in enumerate(samples) if s["failed"]}
        failures = list(res["failures"])
        if args.workload == "import":
            failures += res["workload"]["plan_failures"]
            for k, msgs in checks.import_checks(res, data).items():
                failed_units.add(k % len(samples))  # a traced pass replays unit k % n
                failures += msgs
        elif args.workload == "training":
            failures += checks.oracle_checks(root, data, os.path.join(out, "curated"))
        run_level = bool(res["failures"]) or (args.workload == "training" and failures)
        failed = len(samples) if run_level else len(failed_units)
        layers = {}
        if args.workload == "selftest":
            out_metrics = {}
        elif args.trace:
            layers = dict(res["per_layer"])
            out_metrics = {n: (float(layers.get(n, 0.0)), u) for n, u in per_layer_units().items()}
        else:
            setup_s = res["first_unit_ms"] / 1000.0 - t_setup
            out_metrics = metrics.end_to_end(samples, setup_s, res["peak_rss_mb"])
        secs = [s["s"] for s in samples]
        _, tail_pct, n = metrics.tail(secs)
        warm = res["workload"].get("warmup", [])
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_sf": sf, "samples": n, "latency_tail_percentile": tail_pct,
            "unit_seconds": [round(x, 4) for x in secs][:64],
            "jobs_per_unit": {"first": [s["jobs"] for s in warm][:3],
                              "steady": metrics.percentile([s["jobs"] for s in samples], 50)},
            "unit_kinds": sorted({s["name"] for s in samples}),
            "failures": failures[:20],
            "jobs_by_layer": res.get("jobs_by_layer", {}),
            "per_layer": layers,
            "stamp": {"nproc": cores, "loadavg_start": load_start, "loadavg_end": load_avg(),
                      "xmx": build.HEAP, "gc": build.GC, "max_heap_mb": res["max_heap_mb"],
                      "spark_version": res["spark_version"], "src_main_scala_sha256": src_hash(root)},
        }
        if args.trace:
            traces = os.path.join(root, build.BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
        print(json.dumps({"report": report}))
        print(metrics.result_line(not failures and failed == 0, len(samples), failed, out_metrics))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, FileNotFoundError) as e:
        sys.exit(f"perfbench: {e}")

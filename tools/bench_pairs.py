#!/usr/bin/env python3
"""Paired benchmark comparison of two checkouts.

    python3 tools/bench_pairs.py --base ../parent --change . \
        --workload training --workload import --pairs 10 --seed0 10 \
        --out pairs.jsonl

Runs `perfbench/run.py --trace 0` N times on each checkout, in pairs
that share a seed (seed0, seed0+1, ...) and alternate which side runs
first (even pairs: base first; odd pairs: change first). Every run's
result line is appended to --out as it lands, so an interrupted
comparison keeps its runs; `--report FILE` re-prints the table of a
finished or partial file without running anything.

For each workload and end-to-end metric of BENCHMARK.json the table
gives both sides' median and quartiles, the change's share of pair wins
(ties count for neither side) and a verdict:

  gain        the change wins >= 9/10 of the pairs and its median is
              better than the base's by more than the base's
              interquartile range (choosing-metrics guide, section 8);
  regression  the change's median is worse than the base's by more
              than the metric's bound;
  unresolved  not a regression, but the base's interquartile range is
              wider than the bound, and not every change run beats
              every base run;
  same        none of the above.

Each checkout builds its own `.bench_build` (one `perfbench/build.py`
per checkout before the first pair). Never copy `.bench_build` between
checkouts: its class-data-sharing archive is bound to the jar path it
was dumped with, a copy silently runs without it, and `setup_s` reads
about 10 s higher. Runs last BENCHMARK.json's `run_seconds`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One untraced perfbench run; returns its result line (a dict)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"[bench_pairs] {checkout} {workload} s{seed} exited {p.returncode}:\n"
                         f"{p.stderr[-2000:]}\n")
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "error": p.returncode}
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3) of a sample; a single value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(base, change, lower_better, bound):
    """Verdict for one metric from its paired samples (same length, pair-aligned)."""
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    better = (lambda c, b: c < b) if lower_better else (lambda c, b: c > b)
    wins = sum(better(c, b) for b, c in zip(base, change))
    gain_by = (bm - cm) if lower_better else (cm - bm)
    iqr = b3 - b1
    if wins >= 0.9 * len(base) and gain_by > iqr:
        v = "gain"
    elif bm and -gain_by / abs(bm) > bound:
        v = "regression"
    elif bm and iqr / abs(bm) > bound and not all(better(c, b) for c in change for b in base):
        v = "unresolved"
    else:
        v = "same"
    return wins, v


def report(runs, spec):
    """Prints one table per workload from the recorded runs."""
    ends = {m["name"]: m for m in spec["end_to_end"]}
    for wl in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = [p for _, p in sorted(pairs.items()) if "base" in p and "change" in p]
        print(f"== {wl}: {len(full)} complete pairs ==")
        for side in ("base", "change"):
            att = sum(p[side].get("attempted", 0) for p in full)
            fail = sum(p[side].get("failed", 0) for p in full)
            bad = sum(not p[side].get("correct") for p in full)
            print(f"  {side:6s} failed {fail}/{att} units, {bad} incorrect run(s)")
        print(f"  {'metric':16s} {'base median [q1, q3]':>28s} {'change median [q1, q3]':>28s}"
              f" {'delta':>7s} {'wins':>6s}  verdict")
        for name, m in ends.items():
            ok = [p for p in full if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
            if not ok:
                continue
            base = [p["base"]["metrics"][name]["value"] for p in ok]
            change = [p["change"]["metrics"][name]["value"] for p in ok]
            b1, bm, b3 = quartiles(base)
            c1, cm, c3 = quartiles(change)
            wins, v = verdict(base, change, m["better"] == "lower", m["bound"])
            delta = (cm - bm) / bm * 100 if bm else float("nan")
            print(f"  {name:16s} {bm:10.3f} [{b1:7.3f}, {b3:7.3f}] {cm:10.3f} [{c1:7.3f}, {c3:7.3f}]"
                  f" {delta:+6.1f}% {wins:>2d}/{len(ok):<2d}  {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append", help="repeatable; default: every declared workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=10)
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", help="print the table of a recorded --out file and exit")
    a = ap.parse_args()

    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    with open(os.path.join(a.change or here, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.report:
        with open(a.report) as fh:
            report([json.loads(ln) for ln in fh if ln.strip()], spec)
        return 0
    if not (a.base and a.change):
        ap.error("--base and --change are required unless --report is given")
    sides = {"base": os.path.realpath(a.base), "change": os.path.realpath(a.change)}
    if sides["base"] == sides["change"]:
        ap.error("--base and --change must be two checkouts")
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]

    for side, root in sides.items():
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, check=True,
                       stdout=subprocess.DEVNULL)
        print(f"[bench_pairs] {side}: built {root}", file=sys.stderr)

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for wl in workloads:
            for side in order:
                res = run_once(sides[side], wl, seed, seconds)
                rec = {"workload": wl, "pair": i, "seed": seed, "side": side, "result": res}
                runs.append(rec)
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                lat = res["metrics"].get("latency_p50_s", {}).get("value")
                print(f"[bench_pairs] pair {i} {wl} {side} s{seed}: latency_p50_s={lat}",
                      file=sys.stderr)
    report(runs, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())

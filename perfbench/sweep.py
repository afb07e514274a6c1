#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each metric's spread.

    python3 perfbench/sweep.py --runs 10 [--workloads panel_local,...] [--trace 0]
        [--first-seed 1] [--out perfbench/baseline.json]

For every workload and metric it reports the median of the runs and the
spread: the distance between the first and third quartile (Python's
statistics.quantiles(values, n=4)) as a share of the median. End-to-end
metrics whose spread exceeds a third of their bound in BENCHMARK.json are
flagged. Every run's raw result is kept in the output file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default="")
    args = p.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"runs": args.runs, "seconds": spec["run_seconds"], "trace": args.trace,
              "workloads": {}}
    for w in names:
        results = []
        for k in range(args.runs):
            seed = args.first_seed + k
            r, wall = run_once(w, seed, spec["run_seconds"], args.trace)
            print(f"{w} seed {seed}: {wall:.1f} s "
                  f"{'no result' if r is None else 'correct' if r['correct'] else 'INCORRECT'}",
                  file=sys.stderr, flush=True)
            results.append({"seed": seed, "run_wall_s": wall, "result": r})
        ok = [x["result"] for x in results if x["result"]]
        summary = {}
        for m in (ok[0]["metrics"] if ok else {}):
            vals = [r["metrics"][m]["value"] for r in ok]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else None
            summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "unit": ok[0]["metrics"][m]["unit"]}
            flag = ""
            if m in bounds and m != "setup_s" and (spread is None or spread >= bounds[m] / 3):
                flag = f"  <-- above a third of its bound {bounds[m]}"
            shown = "-" if spread is None else f"{spread:.3%}"
            print(f"{w:14s} {m:32s} median {med:12.4f}  spread {shown:>8s}{flag}")
        report["workloads"][w] = {
            "summary": summary, "runs": results,
            "all_correct": len(ok) == len(results) and all(r["correct"] for r in ok)}
    if args.out:
        with open(os.path.join(ROOT, args.out), "w") as f:
            json.dump(report, f, indent=1, allow_nan=False)


if __name__ == "__main__":
    main()

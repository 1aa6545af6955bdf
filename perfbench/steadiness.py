#!/usr/bin/env python3
"""Repeat benchmark runs over several seeds and summarize their spread.

    python3 perfbench/steadiness.py --seeds 101-110 --seconds 8 \
        --out perfbench/steadiness.json [--workload research_sweep ...]

Runs ``run.py`` once per (workload, seed), one run at a time, and records
every end-to-end value plus each run's wall time. For each metric it
reports the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the spread ``(q3 - q1) / median``, and prints the summary as a
markdown table.
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
WORKLOADS = ("nightly_etl", "research_sweep", "live_ingest")


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {"seconds": args.seconds, "workloads": {}}
    for w in args.workload or WORKLOADS:
        runs = []
        for seed in _seeds(args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=600)
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}",
                      file=sys.stderr)
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, **result})
            print(f"{w} seed {seed}: {wall:.1f} s", file=sys.stderr)
        names = list(runs[0]["metrics"])
        report["workloads"][w] = {
            "runs": runs,
            "summary": {n: summarize([r["metrics"][n]["value"] for r in runs])
                        for n in names},
            "wall_s": summarize([r["wall_s"] for r in runs]),
        }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print("| workload | metric | median | q1 | q3 | spread |")
    print("|---|---|---|---|---|---|")
    for w, rep in report["workloads"].items():
        for n, s in list(rep["summary"].items()) + [("run wall_s",
                                                      rep["wall_s"])]:
            print(f"| {w} | {n} | {s['median']:.4g} | {s['q1']:.4g} | "
                  f"{s['q3']:.4g} | {s['spread']:.3f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())

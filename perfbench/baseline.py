#!/usr/bin/env python3
"""Run the benchmark on several seeds and print, for each end-to-end metric
and for each unbounded figure the run prints beside them, its median,
quartiles and spread (interquartile distance over the median): the figures
BASELINE.md records.

Usage (from the repository root):

    python3 perfbench/baseline.py --workloads queries psx_daily \
        --seeds 101 102 103 104 105 106 107 108 109 110
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def row(w, name, unit, v, bound):
    q1, med, q3 = statistics.quantiles(v, n=4)
    spread = f"{(q3 - q1) / med:.3f}" if med else "-"
    print(f"| {w} | {name} | {unit} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread} | {bound} |",
          flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print("| workload | metric | unit | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w in a.workloads:
        values, units, printed = {}, {}, {}
        for s in a.seeds:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if r.returncode == 0 else None
            if not last or not last["correct"] or last["failed"]:
                sys.exit(f"{w} seed {s} failed:\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            # the unbounded figures of the line before the result
            for k, v in re.findall(r"(\w+): ([0-9.]+)", lines[-2]):
                printed.setdefault(k, []).append(float(v))
            steal = re.search(r"cpu_steal_share=([0-9.]+)", r.stdout)
            printed.setdefault("cpu_steal_share", []).append(float(steal.group(1)))
        for k, v in values.items():
            row(w, k, units[k], v, bounds[k])
        for k, v in printed.items():
            if k != "failed_share":
                unit = "share" if k.endswith("share") else "ms" if k.endswith("_ms") else "s"
                row(w, k, unit, v, "printed")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Check that two traced runs report identical Spark job, stage and task
counts (and row counts), per workload.

    python3 perfbench/check_counts.py [--seed 7] [--seconds 16] [workload ...]

Runs ``run.py --trace 1`` twice per workload with the same seed and compares
every count metric. Timings are printed side by side but not compared, and
each traced run's end-to-end lines are printed too: set against untraced
runs they give the tracing overhead. Exits 1 if any count differs or a run
fails.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
COUNT_UNITS = {"count", "B", "ratio"}


def traced(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300, check=True,
    )
    lines = out.stdout.strip().splitlines()
    # the end-to-end figures of a traced run, for the tracing overhead
    print("\n".join(lines[:-1]))
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("workloads", nargs="*", default=["crawl_mirror", "graph_serve"])
    args = ap.parse_args()
    bad = 0
    for w in args.workloads:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        if not (a["correct"] and b["correct"]):
            print(f"{w}: a traced run was not correct")
            bad += 1
        for name, m in a["metrics"].items():
            va, vb = m["value"], b["metrics"][name]["value"]
            same = va == vb
            counted = m["unit"] in COUNT_UNITS
            bad += counted and not same
            flag = ("same" if same else "DIFFERS") if counted else "time"
            print(f"{w:>12}  {name:<40} {va:>14.6g} {vb:>14.6g}  {flag}")
    print("counts identical" if not bad else f"{bad} count mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one workload on several seeds and summarise each metric by its
median and quartiles (``statistics.quantiles(n=4)``), the spread being the
inter-quartile distance as a share of the median. Run from the root of a
checkout:

    python3 irbench/repeat.py interactive 1-10 --out irbench/baseline/interactive.json

Seeds are a range ``a-b`` or a list ``1,2,5``. Runs are sequential. Untraced
unless ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in text.split(",")]


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("seeds")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    runs = []
    for seed in seeds_of(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"seed {seed}: exit {p.returncode}, no result\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall, "result": result, "table": lines[:-1]})
        vals = " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()) if not args.trace else ""
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} {vals}", flush=True)
    names = list(runs[0]["result"]["metrics"])
    summary = {
        name: summarise([r["result"]["metrics"][name]["value"] for r in runs]) for name in names
    }
    summary["wall_s"] = summarise([r["wall_s"] for r in runs])
    print("| metric | median | q1 | q3 | spread |\n|---|---|---|---|---|")
    for name, s in summary.items():
        spread = "" if s["spread"] is None else f"{s['spread']:.4f}"
        print(f"| {name} | {s['median']:.4f} | {s['q1']:.4f} | {s['q3']:.4f} | {spread} |")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": seconds, "trace": args.trace,
                       "summary": summary, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

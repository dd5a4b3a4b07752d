"""Repeat the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread ((Q3 - Q1) / median, with
``statistics.quantiles(values, n=4)``) next to the metric's bound.

    python3 perfbench/spread.py --workload sync --seeds 1 2 3 4 5

Runs are sequential, from the repository root, each with the
``run_seconds`` and the command of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """Busy (not idle or iowait) and steal shares of the machine's CPU
    time between two readings, all processes included."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return (total - d[3] - d[4]) / total, d[7] / total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in args.seeds:
        t0, cpu0 = time.time(), _cpu_ticks()
        p = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=REPO, capture_output=True, text=True, timeout=900)
        wall = time.time() - t0
        busy, steal = _shares(cpu0, _cpu_ticks())
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        units = [x for x in p.stderr.splitlines() if x.startswith("units:")]
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} machine busy {busy:.0%} steal {steal:.0%} "
              f"{units[-1] if units else ''}", flush=True)
        runs.append(res)
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share: {sorted(shares)}  all correct: {all(r['correct'] for r in runs)}")
    metrics = bench["end_to_end"] if not args.trace else bench["per_layer"]
    summary = {}
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        summary[m["name"]] = {"median": med, "spread": spread}
        print(f"{m['name']:45s} median {med:14.4f}  spread {spread:.4f}"
              + (f"  bound {m['bound']}" if "bound" in m else ""))
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness check: run one workload repeatedly, one seed per run, and
print each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py --workload bm25_topk [--runs 10] [--seed 1]

The spread is the distance between the first and third quartile of the
runs' values (``statistics.quantiles(values, n=4)``) as a share of their
median. A metric is flagged when its spread is over its bound in
BENCHMARK.json (the regression gate would be noise), over a third of it
(too close to the gate), or does not repeat within a tenth. Run from
the root of a checkout; the runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls = []
    for i in range(args.runs):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"run {i} (seed {args.seed + i}) failed with {out.returncode}:\n"
                  f"{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(f"seed {args.seed + i}: wall {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  flag")
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        spread = (q3 - q1) / med if med else float("inf")
        flags = []
        if spread > m["bound"]:
            flags.append("OVER BOUND")
        elif spread > m["bound"] / 3:
            flags.append("over a third of bound")
        if spread > 0.10:
            flags.append("does not repeat within a tenth")
        print(f"{m['name']:<22}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{m['bound']:>8}  {', '.join(flags)}")
    print(f"\nwall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

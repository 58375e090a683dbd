"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/spread.py --workload curation_sf01 --seeds 1-10 [--trace 0]

Each run gets ``run_seconds`` from ``BENCHMARK.json`` as ``--seconds``.
For every metric it prints the median of the runs and the distance
between the first and third quartile as a share of that median
(``statistics.quantiles(values, n=4)``), the figure a run-to-run bound
has to cover. Runs are sequential; each one's result line is echoed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))


def run_seconds() -> str:
    """``run_seconds`` from ``BENCHMARK.json`` beside the benchmark directory."""
    with open(os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")) as f:
        return str(json.load(f)["run_seconds"])


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    seconds = run_seconds()
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(_HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: {lines[-1]}")
        report = json.loads(proc.stderr[proc.stderr.rindex('{"attempted"'):].splitlines()[0])
        print(f"  steal_share {report['steal_share']:.3f}  pass_wall_s "
              + " ".join(f"{w:.2f}" for w in report["pass_wall_s"]))
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    print(f"\n{args.workload}: {failed} failed operations")
    print(f"{'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:24s} {med:12.4f} {q1:12.4f} {q3:12.4f} {share:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload extract_html --seeds 1-10 --seconds 15

For every metric of the last output line it prints the median over the
runs and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        start = time.time()
        res = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        if res.returncode != 0:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
            return 1
        last = json.loads(res.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "run_s": round(time.time() - start, 1), **last}), flush=True)
        if not last["correct"]:
            return 1
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:40s} median {med:12.4f}  spread {spread:.4f}  n {len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Runs one workload of the benchmark once per seed and prints, for every
end-to-end metric, the median of its values and their spread: the distance
between the first and third quartile as a share of the median.

    python3 perfbench/steady.py --workload incremental --seeds 1-10 --seconds 10
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

import stats

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    values = {}
    for seed in seeds(args.seeds):
        out = subprocess.run([sys.executable, str(RUN), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(args.seconds),
                              "--trace", "0"], capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {seed} failed (exit {out.returncode}):\n{out.stderr[-2000:]}")
        for k, m in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    for k, v in values.items():
        spread = stats.quartile_spread(v) if len(v) > 1 else float("nan")
        print(f"{k:24} median {statistics.median(v):12.6g}  spread {spread:.3f}  n={len(v)}")


if __name__ == "__main__":
    main()

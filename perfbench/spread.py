"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload live_tail --seeds 1-10 \
        [--seconds 20] [--out runs.jsonl]

Runs the benchmark once per seed, one run at a time, and prints for
each metric the median and the quartile spread (Q3 - Q1) / median,
with the quartiles from ``statistics.quantiles(values, n=4)``. The
benchmark counts as steady when every spread except ``setup_s`` stays
within the metric's bound in BENCHMARK.json, and comfortably so below
a third of it.
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True, check=True,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result.update(seed=seed, wall_s=time.time() - t0)
        print(json.dumps(result), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(result) + "\n")
        if not result["correct"] or result["failed"]:
            print(f"# seed {seed}: correct={result['correct']} failed={result['failed']}")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread < bounds[name] / 3 else "  <-- above bound/3"
        print(f"{name:28s} median {med:12.4f}  spread {spread:6.3f}  "
              f"bound {bounds[name]:.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run-to-run spread of the end-to-end metrics: runs one workload on
several seeds and prints, per metric, the median and the distance between
the first and third quartiles as a share of the median, next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload stream_live --runs 10 --first-seed 100
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode != 0 or not last["correct"]:
            print(f"seed {seed}: FAILED (exit {proc.returncode})", file=sys.stderr)
            return 1
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + json.dumps({k: round(v[-1], 3) for k, v in values.items()}),
              file=sys.stderr)
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:20s} median {med:12.3f} {m['unit']:5s} "
              f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

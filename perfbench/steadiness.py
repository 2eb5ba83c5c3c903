"""Run the benchmark several times with different seeds and report the
spread of every end-to-end metric: the distance between the first and
third quartile of the runs, as a share of their median (the same figure
the bounds in BENCHMARK.json are checked against).

    python3 perfbench/steadiness.py --workload etl_batch --runs 10 [--first-seed 1]

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    elapsed_s, failed, attempted = [], 0, 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        elapsed_s.append(time.perf_counter() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(last)
        stolen = re.search(r"hypervisor stole ([\d.]+)%", proc.stdout)
        failed, attempted = failed + result["failed"], attempted + result["attempted"]
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: {elapsed_s[-1]:.1f} s, {stolen.group(1)}% stolen, "
              + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    print(f"{args.workload}: {args.runs} runs, seeds {args.first_seed}-{seed}; run time median "
          f"{statistics.median(elapsed_s):.1f} s, max {max(elapsed_s):.1f} s; "
          f"{failed} of {attempted} ops failed")
    for name, vals in values.items():
        print(f"  {name}: median {statistics.median(vals):.4g}, "
              f"spread {spread(vals):.3f} (bound {bounds[name]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

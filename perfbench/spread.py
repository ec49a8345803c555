"""Run-to-run spread of the end-to-end metrics, the way the benchmark's
acceptance measures it: one run per seed, then per metric the distance
between the first and third quartile of the values as a share of their
median.

    python3 perfbench/spread.py --workload fused_full --seeds 1 2 3 4 5

Runs are sequential (one Spark session at a time). Writes each run's JSON
line to stdout as it finishes and the spread table to stderr at the end.
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


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                              timeout=600)
        wall = time.perf_counter() - t
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        print(json.dumps({"seed": seed, "rc": proc.returncode, "run_wall_s": round(wall, 1),
                          "result": json.loads(line)}), flush=True)
        for k, m in json.loads(line).get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{args.workload} {k}: n={len(vs)} median={med:.6g} spread={spread:.4f} "
              f"bound={bounds.get(k)} third={bounds.get(k, 0) / 3:.4f}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced on a
2,000-clip fixture and fails unless each run passes its correctness gate,
reports exactly the metrics BENCHMARK.json names, and the traced run wrote
its span file. It also checks that the correctness gate rejects a wrong
count or exit code. Takes a few minutes; run it alone, not beside a
measurement.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5


def gate_rejects_wrong_counts() -> None:
    sys.path.insert(0, HERE)
    from workloads import CheckFailed, check_outcome

    expected = {"domain:clips.codec": 11, "payload:clips.bytes": 5}
    check_outcome(1, {"violation_counts": dict(expected)}, expected)
    for rc, counts in ((1, {**expected, "payload:clips.bytes": 4}), (0, expected),
                       (2, expected)):
        try:
            check_outcome(rc, {"violation_counts": counts}, expected)
        except CheckFailed:
            continue
        raise AssertionError(f"gate accepted exit {rc} with counts {counts}")


def run(bench: dict, workload: str, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gate_rejects_wrong_counts()
    for w in bench["workloads"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = run(bench, w["name"], trace)
            assert res["correct"] and res["failed"] == 0, (w["name"], trace, res)
            want = {m["name"] for m in spec}
            got = set(res["metrics"])
            assert got == want, (w["name"], trace, sorted(got ^ want))
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} iterations")
        spans = os.path.join(HERE, ".traces", f"{w['name']}-seed{SEED}.jsonl")
        assert os.path.getsize(spans) > 0, spans
    return 0


if __name__ == "__main__":
    sys.exit(main())

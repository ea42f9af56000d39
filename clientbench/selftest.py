"""Smoke-size self-test of the benchmark.

    python3 clientbench/selftest.py

Runs every workload of ``BENCHMARK.json`` at smoke size, untraced and
traced, and checks that the last stdout line holds every named metric
with its unit and that all ops passed their checks. Then runs each
workload with ``--corrupt`` and checks that the altered result counts as
a failed op. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "3", "--seconds", "2",
        "--trace", str(trace), "--smoke", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"FAIL {what}")
    print(f"ok   {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, trace)
            expect(set(out) == {"correct", "attempted", "failed", "metrics"},
                   f"{wl} trace={trace}: result keys")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{wl} trace={trace}: every op checked and correct")
            named = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == named, f"{wl} trace={trace}: every {key} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                   f"{wl} trace={trace}: numeric values")
        out = run(wl, 0, "--corrupt")
        expect(not out["correct"] and out["failed"] >= 1,
               f"{wl}: a corrupted result counts as a failed op")
        expect(out["metrics"]["ok_ops_ratio"]["value"] < 1.0,
               f"{wl}: the failed op shows in ok_ops_ratio")
    return 0


if __name__ == "__main__":
    sys.exit(main())

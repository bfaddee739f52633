#!/usr/bin/env python3
"""Self-checks of the benchmark itself (not of the engine).

    python3 perfbench/selfcheck.py [--workload <name> ...]

For each workload, at a tiny input size:

1. an untraced run prints exactly the end-to-end metrics of
   ``BENCHMARK.json`` with their units, and a traced run exactly the
   per-layer metrics;
2. a run whose result is deliberately damaged before the correctness
   check reports ``failed > 0``, ``correct: false`` and a lower
   ``success_rate`` (``error_rate`` in the trace);
3. tracing overhead: the traced run's end-to-end figures minus the
   untraced run's are printed.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

from run import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, corrupt: bool = False) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                             f"{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    traced = {}
    for line in lines:
        if line.startswith("[perfbench] traced "):
            traced = json.loads(line[len("[perfbench] traced "):])
    return json.loads(lines[-1]), traced


def _check_names(result: dict, declared: list[dict], what: str) -> None:
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        raise AssertionError(f"{what}: missing={missing} extra={extra} "
                             f"unit mismatch={units}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = [w["name"] for w in spec["workloads"]]
    if sorted(declared) != sorted(WORKLOADS):
        raise AssertionError(f"BENCHMARK.json workloads {declared} != {list(WORKLOADS)}")
    for workload in args.workload or WORKLOADS:
        plain, _ = _run(workload, 0)
        _check_names(plain, spec["end_to_end"], f"{workload} untraced")
        if not plain["correct"] or plain["failed"]:
            raise AssertionError(f"{workload}: clean tiny run failed: {plain}")
        layered, traced = _run(workload, 1)
        _check_names(layered, spec["per_layer"], f"{workload} traced")
        bad, _ = _run(workload, 0, corrupt=True)
        rate = bad["metrics"]["success_rate"]["value"]
        if bad["correct"] or bad["failed"] < 1 or rate >= 1.0:
            raise AssertionError(f"{workload}: damaged result not detected: {bad}")
        overhead = {n: traced[n] - plain["metrics"][n]["value"] for n in traced}
        print(f"{workload}: names ok, damage detected (success_rate {rate:.4f}), "
              f"tracing overhead (traced - untraced) {json.dumps(overhead)}")
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())

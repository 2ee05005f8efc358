#!/usr/bin/env python3
"""Smoke check of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on the smallest tables,
and fails unless each run's last line names every metric of
``BENCHMARK.json`` for its mode, with its unit, and reports no failed
operation. Then runs one workload with a deliberately failing operation
added and fails unless that run reports ``failed`` above 0 and
``correct`` false.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result = run(workload, trace)
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{workload} trace {trace}: {m['name']} missing or without unit {m['unit']}")
            if result["failed"] or not result["correct"]:
                problems.append(f"{workload} trace {trace}: {result['failed']} of {result['attempted']} failed")
            print(f"ok {workload} trace {trace}: {len(result['metrics'])} metrics")
    broken = run(spec["workloads"][0]["name"], 0, "--inject-failure")
    if broken["failed"] < 1 or broken["correct"]:
        problems.append(f"a deliberately failing operation was not counted: {broken}")
    else:
        print(f"ok deliberate failure counted: failed_ratio = {broken['failed'] / broken['attempted']:.3f}")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

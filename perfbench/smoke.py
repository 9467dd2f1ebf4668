#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny size.

    python3 perfbench/smoke.py

For each workload it makes two runs on sf0.001 inputs: an untraced one,
which must print every end-to-end metric of BENCHMARK.json with no failed
operation, and a traced one with one tampered result, which must print
every per-layer metric and count the tampered check as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    if set(got) != set(want):
        raise AssertionError(f"{what}: metric names differ: "
                             f"missing {sorted(set(want) - set(got))}, "
                             f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        if got[name]["unit"] != unit:
            raise AssertionError(f"{what}: {name} has unit {got[name]['unit']}, not {unit}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        plain = run(name, 0)
        check_metrics(plain, bench["end_to_end"], f"{name} untraced")
        if plain["failed"] or not plain["correct"]:
            raise AssertionError(f"{name}: {plain['failed']} of {plain['attempted']} failed")
        if any(v["value"] <= 0 for v in plain["metrics"].values()):
            raise AssertionError(f"{name}: an end-to-end metric reads 0: {plain['metrics']}")
        tampered = run(name, 1, "--corrupt")
        check_metrics(tampered, bench["per_layer"], f"{name} traced")
        if tampered["failed"] < 1 or tampered["correct"]:
            raise AssertionError(f"{name}: a tampered result was not counted as failed")
        print(f"{name}: ok ({plain['attempted']} operations)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

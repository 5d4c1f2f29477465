#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Three runs of ``perfbench/run.py --tiny`` (a few minutes in all):

- untraced: exits 0 and prints every end-to-end metric of BENCHMARK.json
  as a number with its unit;
- traced: exits 0, prints every per-layer metric of BENCHMARK.json as a
  number with its unit, and the self times of its spans sum to no more
  than the wall time they were recorded in;
- with a planted digest mismatch: exits 1 and reports the run incorrect.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def run(*flags: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "default",
           "--seed", "1", "--seconds", "0", "--tiny", *flags]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return p.returncode, result, p.stderr


def check_metrics(result: dict, spec: list[dict]) -> list[str]:
    bad = []
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None or not isinstance(got.get("value"), (int, float)):
            bad.append(f"{m['name']} missing or not a number: {got}")
        elif got.get("unit") != m["unit"]:
            bad.append(f"{m['name']} unit {got.get('unit')!r}, expected {m['unit']!r}")
    return bad


def main() -> int:
    from perfbench.trace import self_times

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    code, result, err = run("--trace", "0")
    if code != 0 or not result or not result["correct"]:
        failures.append(f"untraced run: exit {code}, result {result}\n{err[-2000:]}")
    else:
        failures += check_metrics(result, bench["end_to_end"])

    code, result, err = run("--trace", "1")
    if code != 0 or not result or not result["correct"]:
        failures.append(f"traced run: exit {code}, result {result}\n{err[-2000:]}")
    else:
        failures += check_metrics(result, bench["per_layer"])
        path = re.search(r"trace written: (\S+)", err).group(1)
        with open(path) as f:
            trace = json.load(f)
        total = sum(self_times(trace["spans"]).values())
        if total > trace["wall_s"]:
            failures.append(f"span self times sum to {total:.3f}s, "
                            f"more than the {trace['wall_s']:.3f}s wall")
        os.remove(path)

    code, result, err = run("--trace", "0", "--plant-mismatch")
    if code != 1 or not result or result["correct"] or result["failed"] < 1:
        failures.append(f"planted mismatch: exit {code}, result {result}")

    for f in failures:
        print(f"FAIL: {f}")
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

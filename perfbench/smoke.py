#!/usr/bin/env python3
"""Tiny-size smoke run of every workload, checking the output schema.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all three) and each ``--trace`` mode, runs
``perfbench/run.py --size tiny`` and checks that it exits 0 and that its
last stdout line is the result object: exactly the keys ``correct``,
``attempted``, ``failed`` and ``metrics``, with the metric names and
units BENCHMARK.json declares (``end_to_end`` untraced, ``per_layer``
traced) and non-zero end-to-end values. Runs one process at a time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: keys {sorted(line)}")
    if line.get("correct") is not True or line.get("failed") != 0 or line.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={line.get('correct')} failed={line.get('failed')}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in line.get("metrics", {}).items()}
    if got != want:
        errors.append(f"{where}: metrics/units differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    for name, m in line.get("metrics", {}).items():
        if not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: {name} is not a number")
        elif not trace and m["value"] == 0:
            errors.append(f"{where}: {name} is 0")
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for workload in argv or WORKLOADS:
        for trace in (0, 1):
            errors += check(workload, trace, spec)
            print(f"{workload} --trace {trace}: {'FAIL' if errors else 'ok'}", flush=True)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

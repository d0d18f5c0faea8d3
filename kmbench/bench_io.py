"""Shared helpers for the scripts that drive ``run.py``: read
``BENCHMARK.json`` and run one benchmark invocation as a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def invoke(workload: str, seed: int, seconds: float, trace: int, extra=()) -> tuple[dict, dict]:
    """Run the benchmark command once from the repository root, as a
    harness would; returns (result, details) from its last two lines."""
    cmd = spec()["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])

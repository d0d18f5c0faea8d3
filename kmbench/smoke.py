#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny input sizes.

    python3 kmbench/smoke.py

Checks ``BENCHMARK.json`` against the benchmark's own workload table,
then runs every workload once untraced and once traced on tiny inputs
and checks that each run prints every metric ``BENCHMARK.json`` names,
with its unit, and that no fit failed its output check.
"""

from __future__ import annotations

import re
import sys

from bench_io import invoke, spec
from workloads import WORKLOADS

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(s: dict) -> list[str]:
    errs = []
    names = [w["name"] for w in s["workloads"]]
    if not set(names) <= set(WORKLOADS):
        errs.append(f"workloads {names} not all in {sorted(WORKLOADS)}")
    for w in s["workloads"]:
        if w["name"] in WORKLOADS and w["why"] != WORKLOADS[w["name"]].why:
            errs.append(f"why of {w['name']} differs from workloads.py")
    metrics = s["end_to_end"] + s["per_layer"]
    seen = set()
    for m in s["workloads"] + metrics:
        if not NAME.match(m["name"]) or m["name"] in seen:
            errs.append(f"bad or repeated name {m['name']!r}")
        seen.add(m["name"])
    for m in metrics:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errs.append(f"bad unit/better on {m['name']}")
    for m in s["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            errs.append(f"bound of {m['name']} outside (0, 0.25]")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" for m in s["end_to_end"]):
        errs.append("no setup_s")
    return errs


def check_run(s: dict, key: str, result: dict) -> list[str]:
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errs.append(f"fits failed: {result['failed']} of {result['attempted']}")
    got = result["metrics"]
    for m in s[key]:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errs.append(f"metric {m['name']}: {v}")
    extra = set(got) - {m["name"] for m in s[key]}
    if extra:
        errs.append(f"unlisted metrics {sorted(extra)}")
    if key == "end_to_end" and got.get("ok_ratio", {}).get("value") != 1.0:
        errs.append("ok_ratio != 1")
    return errs


def main() -> int:
    s = spec()
    errs = check_spec(s)
    for w in WORKLOADS:  # every workload, also those BENCHMARK.json leaves out
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, _ = invoke(w, 1, 1, trace, ["--smoke"])
            errs += [f"{w} trace={trace}: {e}" for e in check_run(s, key, result)]
            print(f"{w} trace={trace}: {result['attempted']} fits", flush=True)
    for e in errs:
        print("FAIL", e)
    print("smoke:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())

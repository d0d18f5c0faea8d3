#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's spread: (Q3 - Q1) / median over the runs, with quartiles from
``statistics.quantiles(values, n=4)``, next to the metric's bound.

    python3 kmbench/spread.py --workload lloyd-small --seeds 10 [--first-seed 1] [--out runs.jsonl]

``--out`` appends every run's result and details as JSON lines;
``--compare A.jsonl B.jsonl`` instead prints, per workload and metric,
how far the median of B moved from the median of A.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

from bench_io import invoke, spec


def summarize(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def worse_by(better: str, a: float, b: float) -> float:
    """How much worse b is than a, as a share of a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def load(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["details"]["workload"], []).append(r["result"])
    return runs


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    s = spec()
    if args.compare:
        a, b = (load(x) for x in args.compare)
        for w in sorted(set(a) & set(b)):
            for m in s["end_to_end"]:
                va = [r["metrics"][m["name"]]["value"] for r in a[w]]
                vb = [r["metrics"][m["name"]]["value"] for r in b[w]]
                d = worse_by(m["better"], statistics.median(va), statistics.median(vb))
                flag = "OK " if d <= m["bound"] else "BAD"
                print(f"{flag} {w:12s} {m['name']:18s} worse_by={d:+.4f} bound={m['bound']}")
        return 0

    results = []
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        result, details = invoke(args.workload, seed, s["run_seconds"], 0)
        results.append(result)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"result": result, "details": details}) + "\n")
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: failed={result['failed']}/{result['attempted']} {vals} "
              f"steal={details['conditions']['cpu_steal_pct']:.2f}%", flush=True)
    bad = 0
    for m in s["end_to_end"]:
        med, spread = summarize([r["metrics"][m["name"]]["value"] for r in results])
        gated = m["name"] != "setup_s"
        ok = not gated or spread <= m["bound"] / 3
        bad += not ok
        print(f"{'OK ' if ok else 'BAD'} {m['name']:18s} median={med:.6g} spread={spread:.4f} "
              f"bound={m['bound']}{'' if gated else ' (not gated)'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Tracing overhead per workload: an untraced and a traced run of the
same seed, back to back, compared on their warm and cold pass times.

    python3 perfbench/overhead.py --seconds 8 --seed 1 [--workload llm_corpus ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True, cwd=os.path.dirname(HERE),
    ).stdout.splitlines()
    if trace:
        return {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}
    return json.loads(out[-2])["record"]["walls"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    for w in args.workload or list(W.QUERY_WORKLOADS):
        plain, traced = run(w, args.seed, args.seconds, 0), run(w, args.seed, args.seconds, 1)
        print(json.dumps({
            "workload": w,
            "seed": args.seed,
            "warm_s": plain["warm_s"],
            "trace.warm_s": traced["trace.warm_s"],
            "warm_overhead": traced["trace.warm_s"] / plain["warm_s"] - 1,
            "cold_s": plain["cold_s"],
            "trace.cold_s": traced["trace.cold_s"],
            "cold_overhead": traced["trace.cold_s"] / plain["cold_s"] - 1,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

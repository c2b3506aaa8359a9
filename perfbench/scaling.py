#!/usr/bin/env python3
"""Scaling efficiency of kg_full, for information (BASELINE's >= 0.8 target):

    python3 perfbench/scaling.py --seed 1 --seconds 10

Runs kg_full once at local[1] and once at local[N], N = the CPUs this
process may use, and prints one JSON line with both docs_per_s bases
and scaling_eff = docs_per_s(N) / (N * docs_per_s(1)).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def docs_per_s(cores: int, seed: int, seconds: float) -> float:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "kg_full",
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--cores", str(cores)],
        check=True, capture_output=True, text=True, timeout=900,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return result["metrics"]["docs_per_s"]["value"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    cores = len(os.sched_getaffinity(0))
    one = docs_per_s(1, args.seed, args.seconds)
    wide = docs_per_s(cores, args.seed, args.seconds)
    print(json.dumps({
        "cores": cores,
        "docs_per_s_1": one,
        f"docs_per_s_{cores}": wide,
        "scaling_eff": wide / (cores * one),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""sparkg benchmark: end-to-end and per-layer numbers for KG construction.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives a ``local[N]`` Spark
session, N = the CPUs this process may run on. The run

1. builds the workload's seeded inputs and its references, and warms up
   (``setup_s``);
2. repeats the workload's operation for ``--seconds`` seconds, checking
   every operation's output against the references;
3. with ``--trace 1``, repeats the measured phase with spans and Spark
   event logging on, replays the fused kernel in-process, and reports
   the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
host context (load average, effective cores, setup breakdown). A run
whose operations disagree with a reference exits with code 1. Scratch
files live under ``.bench_work/run/`` in the checkout and are removed at
exit; spans are kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] width (default: the CPUs this process may use)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its Spark JVM and workers (harness.run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    # Spark's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import harness  # imports spacy_llm_spark: fails outside a checkout

    return harness.run(args, os.path.join(ROOT, ".bench_work"))


if __name__ == "__main__":
    sys.exit(main())

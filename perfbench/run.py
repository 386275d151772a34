"""Seeded workload benchmark for har2tree_spark.

    python3 perfbench/run.py --workload exact_uniform --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The workload's input is made from
the seed before anything is timed. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` measures them as the untraced reference, then runs
each layer on its own with Spark's event log on and reports the per-layer
metrics. Every run checks its outputs. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` whose
metric names and units come from ``BENCHMARK.json``. The exit code is 0
only when the outputs are correct and no operation failed.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        from perfbench import harness  # noqa: PLC0415 - needs the engine on sys.path
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    return harness.main(args)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the package next to perfbench/, not its siblings
    sys.exit(main())

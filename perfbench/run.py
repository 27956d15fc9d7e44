"""Repository benchmark: one seeded workload per run, printed as one JSON line.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a full checkout: the benchmark imports ``deluge_spark``
and the test oracle from there and builds everything it measures from the
seed. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced pass. Human-readable lines come
first; the last line of standard output is the JSON result. See
perfbench/README.md for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    # imports deluge_spark: fails (non-zero exit, no result) outside a full
    # checkout, before any Spark process starts
    from perfbench.workloads import WORKLOADS, run

    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

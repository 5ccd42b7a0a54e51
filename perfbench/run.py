"""Benchmark entry point.

    python3 perfbench/run.py --workload {extract_skew,queries} \
        --seed N --seconds S --trace {0,1}

Prints progress and context lines starting with ``#`` on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Exits 1 when an output check fails
and 2 when the program under test is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# what the benchmark drives; missing in a checkout without the program
REQUIRED = ("t2p_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py", "tools/hostmem_probe.py")
WORKLOAD_NAMES = ("extract_skew", "queries")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    from perfbench.workloads import run

    result = run(ROOT, args.workload, args.seed, args.seconds,
                 bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the rastertiler_rs_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a JSON report line (every metric
with unit, median and sample count, the passes and the run facts) and, as
the last line, the result object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Everything the run writes goes under ``perfbench/.work``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from benchlib.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    try:
        import rastertiler_rs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from benchlib.runner import Run

    report, result = Run(ROOT, WORKLOADS[args.workload], args.seed, args.seconds,
                         bool(args.trace)).execute()
    keys = ("workload", "seed", "attempted", "failed", "summary", "checks",
            "setup_first_s", "prepare_s", "facts")
    print(json.dumps({k: report[k] for k in keys if k in report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

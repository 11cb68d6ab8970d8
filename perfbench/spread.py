"""Run one workload on several seeds and print each end-to-end metric's
spread: the distance between the first and third quartile of the
per-run values, as a share of their median.

    python3 perfbench/spread.py --workload pyramid_merge --seeds 1-10

Runs are sequential, from the root of the checkout, with the
``run_seconds`` of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    from benchlib.stats import iqr_spread

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed} wall {wall:.1f}s correct {result['correct']} "
              f"failed {result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        values.setdefault("run_wall_s", []).append(wall)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, xs in values.items():
        med = statistics.median(xs)
        spread = iqr_spread(xs) if len(xs) > 1 else float("nan")
        bound = bounds.get(name)
        print(f"{name:40s} median {med:12.5g} spread {spread:6.3f}"
              + (f" bound {bound} (third {bound / 3:.3f})" if bound else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())

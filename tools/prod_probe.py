"""One-off experiment harness for the production-pyramid scaling work:
time the production configuration variants at two parallelism levels,
fresh JVM per run. Not part of the evidence pipeline (tools/scaling.py
is); this exists so BENCH.md claims trace to a runnable script.

Usage: python tools/prod_probe.py [--n 65536] [--variants mem,sink]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from rastertiler_rs_spark.fixtures import images_parquet
from rastertiler_rs_spark.operators.overview import (render_pyramid,
                                                     render_pyramid_to_sink)
from rastertiler_rs_spark.operators.render import render
from rastertiler_rs_spark.session import get_spark

cpus, n, maxzoom, ts, variant = {cpus}, {n}, {maxzoom}, {ts}, {variant!r}
spark = get_spark(f"probe-{{cpus}}", cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")
path = images_parquet(n, "u8")
spark.read.parquet(path).count()
render(spark.read.parquet(images_parquet(64, "u8")), 0, 6,
       tile_size=64, dtype_tag="u8").count()
work = tempfile.mkdtemp(prefix="probe_")
t0 = time.time()
img = spark.read.parquet(path)
if variant == "mem":
    fused = render_pyramid(img, 0, maxzoom, tile_size=ts, dtype_tag="u8",
                           overview_below=8)
    tiles = fused.select("zoom", "x", "tile_row", "tile_hash").count()
elif variant == "sink":
    fused = render_pyramid_to_sink(img, work, 0, maxzoom, tile_size=ts,
                                   dtype_tag="u8", overview_below=8)
    tiles = fused.count()
dt = time.time() - t0
shutil.rmtree(work, ignore_errors=True)
print("RESULT " + json.dumps({{"cpus": cpus, "variant": variant,
                               "tiles": tiles, "sec": round(dt, 3),
                               "tiles_per_sec": round(tiles / dt, 1)}}))
"""


def run(cpus, n, maxzoom, ts, variant):
    code = _CHILD.format(repo=REPO, cpus=cpus, n=n, maxzoom=maxzoom, ts=ts,
                         variant=variant)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=3600)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(out.stdout[-1500:] + out.stderr[-1500:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=65536)
    ap.add_argument("--maxzoom", type=int, default=13)
    ap.add_argument("--ts", type=int, default=256)
    ap.add_argument("--variants", default="mem,sink")
    ap.add_argument("--levels", default="8,32")
    args = ap.parse_args()
    for variant in args.variants.split(","):
        recs = {}
        for cpus in [int(c) for c in args.levels.split(",")]:
            recs[cpus] = run(cpus, args.n, args.maxzoom, args.ts, variant)
            print(json.dumps(recs[cpus]), flush=True)
        ks = sorted(recs)
        if len(ks) == 2:
            eff = (recs[ks[1]]["tiles_per_sec"] / recs[ks[0]]["tiles_per_sec"]) / (ks[1] / ks[0])
            print(f"{variant}: raw N->4N efficiency {eff:.3f}", flush=True)


if __name__ == "__main__":
    main()

"""Measured skew evidence (north rule: dense zooms must not serialize
onto one executor).

Builds a pathologically skewed image set — thousands of images whose
footprints all cover ONE zoom-10 tile (a "city block" hotspot) — and
renders that zoom with the blocks path:

  baseline      groupBy(zoom,x,y): the hot tile's every contribution
                lands in ONE task (the serialization the rule forbids)
  salted        salt_threshold=64: the hot key's contributions fold
                into defaultParallelism bounded partial mosaics in
                parallel, then one tiny merge

Byte-identical outputs (asserted). Appends results to BENCH.md with
--write.

Usage: python tools/skew_demo.py [--n 3000] [--cpus 32] [--write]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_table(n: int, zoom: int = 10):
    """n images whose footprints ALL cover one z``zoom`` tile (a city-
    block hotspot), jittered slightly so every mosaic paste differs.
    Uses the engine's supplied-footprint path (tables carrying their own
    EPSG:3857 georeferencing skip the derivation rule)."""
    import numpy as np
    import pyarrow as pa

    from rastertiler_rs_spark import tilemath as tm
    from rastertiler_rs_spark.fixtures import caption_for_index, encode_image
    from rastertiler_rs_spark.functions.hashing import splitmix64

    ts = tm.CE / (1 << zoom)
    tx, ty = (1 << zoom) // 2, (1 << zoom) // 3
    t_xmin = tx * ts - tm.ORIGIN
    t_ymax = tm.ORIGIN - ty * ts
    rows = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": [],
            "caption": [], "phash": [], "minx": [], "miny": [], "maxx": [],
            "maxy": []}
    rng = np.random.RandomState(7)
    for i in range(n):
        data, w, h = encode_image(int(i), "u8")
        # strictly INSIDE the target tile: every image contributes to
        # exactly one (zoom, x, y) key — the purest hot-key case
        jx, jy = rng.uniform(0.0, 0.15, 2) * ts
        minx = t_xmin + 0.02 * ts + jx
        maxy = t_ymax - 0.02 * ts - jy
        rows["image_id"].append(f"img{int(i):08d}")
        rows["bytes"].append(data)
        rows["w"].append(w)
        rows["h"].append(h)
        rows["fmt"].append("png;u8")
        rows["caption"].append(caption_for_index(int(i)))
        rows["phash"].append(int(splitmix64(np.uint64(i)).astype(np.int64)))
        rows["minx"].append(minx)
        rows["miny"].append(maxy - 0.8 * ts)
        rows["maxx"].append(minx + 0.8 * ts)
        rows["maxy"].append(maxy)
    return pa.table(rows), (zoom, tx, ty)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from rastertiler_rs_spark.operators.render import render
    from rastertiler_rs_spark.session import get_spark

    path = os.path.join(REPO, ".fixture_cache", f"skew_{args.n}.parquet")
    tbl, (zoom, tx, ty) = build_table(args.n)
    if not os.path.exists(path):
        pq.write_table(tbl, path, row_group_size=256)

    spark = get_spark("skew-demo", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    img = spark.read.parquet(path)
    # warm python workers
    render(img.limit(32), zoom, zoom, 256, "u8", partition_zoom=None).count()

    def fused_map(df):
        return {(r["zoom"], r["x"], r["tile_row"]): (r["tile_hash"], bytes(r["png"]))
                for r in df.collect()}

    t0 = time.time()
    base = fused_map(render(img, zoom, zoom, 256, "u8", partition_zoom=None,
                            salt_threshold=None))
    t_base = time.time() - t0
    t0 = time.time()
    salted = fused_map(render(img, zoom, zoom, 256, "u8", partition_zoom=None,
                              salt_threshold=64))
    t_salt = time.time() - t0
    assert base == salted, "salted output must be byte-identical"

    hot = (zoom, tx, (1 << zoom) - 1 - ty)
    result = {
        "n_images": args.n, "zoom": zoom, "tiles": len(base),
        "hot_tile_present": hot in base,
        "baseline_sec": round(t_base, 2),
        "salted_sec": round(t_salt, 2),
        "salt_threshold": 64, "cpus": args.cpus,
        "speedup": round(t_base / t_salt, 2),
    }
    print(result)
    if args.write:
        with open(os.path.join(REPO, "BENCH.md"), "a") as f:
            f.write(f"""
## Measured skew handling (north-rule evidence)

{args.n} images all covering one z{zoom} tile (hotspot), rendered at
local[{args.cpus}] via the blocks path (`python tools/skew_demo.py`):
one groupBy key receives every contribution.

| plan | wall sec |
|---|---|
| baseline groupBy(zoom,x,y) — hot key on one task | {result['baseline_sec']} |
| salt_threshold=64 two-phase mosaic ({args.cpus} buckets) | {result['salted_sec']} |

Speedup {result['speedup']}x, outputs byte-identical (asserted in the
run and in tests/test_overview_salt.py). The same hotspot on the cell
path is handled by raising partition_zoom (quadtree descent), and low
zooms avoid the problem entirely via the overview cascade (groups <= 4).
""")


if __name__ == "__main__":
    main()

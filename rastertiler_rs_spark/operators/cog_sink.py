"""DISTRIBUTED COG SINK — assemble a rendered tile pyramid into ONE
cloud-optimized GeoTIFF (tiled BigTIFF-capable layout, internal
overviews, GDAL's deflate+predictor recipe), executor-parallel.

The COG block grid IS the engine's tile grid: a z/x/y pyramid whose
base tiles are ts×ts maps 1:1 onto a tiled TIFF whose IFD0 is the base
zoom and whose reduced-resolution IFDs are the overview zooms (each
exactly the 2× decimation the overview cascade already produces). So
the sink never resamples — it transcodes each PNG tile into a TIFF
block and lays out the file:

1. DRIVER, metadata-only: per-zoom tile bboxes (one tiny agg), the
   base origin aligned DOWN to 2^Lmax tiles so every overview grid is
   a parent grid of the base (unaligned origins would shift overview
   pixels), per-level grid shapes, and the header size via
   geotiff.cog_directory (a pure function of block counts).
2. EXECUTORS: repartitionByRange on (level, row-major idx) — each
   task owns a contiguous block range — decode PNG → deflate/LZW
   block encode (geotiff._encode_block) → stream into a part file,
   with within-part content dedup; emit tiny (key, rel_off, len)
   entry rows. The same two-phase shape as the PMTiles sink: the
   driver never holds a block, only entries.
3. DRIVER: rebase entry offsets by part bases, point every UNCOVERED
   grid position at one shared nodata block (TIFF addresses blocks by
   (offset, count) — sharing is legal and is how GDAL sparsifies),
   write header+IFDs, stream the part files, append the nodata block.

Read-back is header-only + ranged reads (cog_blocks): the driver
parses the IFD chain (geotiff_ifds, a few KB), executors ranged-read
and decode only their blocks — the same listing-side/executor-side
split as operators/geotiff_source.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geotiff import _decode_block, _encode_block, cog_directory, geotiff_ifds
from ..png import decode_band
from .. import tilemath as tm
from ..session import local_frame

_LVL_SHIFT = 40  # key = (level << _LVL_SHIFT) | idx


def write_cog_distributed(tiles: DataFrame, path: str, tile_size: int,
                          nodata: int = 0, compression: str = "deflate",
                          predictor: int = 2, bigtiff: bool = False,
                          n_parts: int | None = None,
                          max_blocks: int = 20_000_000) -> dict:
    """tiles (zoom, x, y [XYZ top-down], png of a ts×ts u8 band) — a
    pyramid where every zoom below the max is its 2× overview — →
    one COG at ``path``. Returns a manifest dict (levels, grids,
    data_start, n_blocks, n_filler)."""
    from .pmtiles_sink import _xyz_y

    spark = tiles.sparkSession
    ts = int(tile_size)
    tiles = tiles.select("zoom", "x",
                         _xyz_y(tiles).cast("long").alias("y"), "png")
    boxes = {r["zoom"]: (r["x0"], r["x1"], r["y0"], r["y1"])
             for r in tiles.groupBy("zoom").agg(
                 F.min("x").alias("x0"), F.max("x").alias("x1"),
                 F.min("y").alias("y0"), F.max("y").alias("y1")).collect()}
    if not boxes:
        raise ValueError("empty tile set")
    zb = max(boxes)
    lmax = zb - min(boxes)
    if set(boxes) != set(range(zb - lmax, zb + 1)):
        raise ValueError(f"pyramid has zoom gaps: {sorted(boxes)}")
    ox0 = (boxes[zb][0] >> lmax) << lmax
    oy0 = (boxes[zb][2] >> lmax) << lmax
    lvls = []
    for lvl in range(lmax + 1):
        z = zb - lvl
        ox, oy = ox0 >> lvl, oy0 >> lvl
        x0, x1, y0, y1 = boxes[z]
        if x0 < ox or y0 < oy:
            raise ValueError(f"zoom {z} tiles outside the aligned origin")
        nx = max(x1 - ox + 1, ((boxes[zb][1] >> lvl) - ox + 1))
        ny = max(y1 - oy + 1, ((boxes[zb][3] >> lvl) - oy + 1))
        lvls.append({"zoom": z, "ox": ox, "oy": oy, "nx": nx, "ny": ny,
                     "w": nx * ts, "h": ny * ts, "ts": ts})

    if any(lv["nx"] * lv["ny"] >= (1 << _LVL_SHIFT) for lv in lvls):
        raise ValueError("grid too large for the (level, idx) key packing")
    lvl_rows = [(lv["zoom"], zb - lv["zoom"], lv["ox"], lv["oy"], lv["nx"])
                for lv in lvls]
    lvl_df = local_frame(
        spark, lvl_rows, "zoom int, lvl int, ox long, oy long, nx long")
    keyed = (tiles.select("zoom", "x", "y", "png")
             .join(F.broadcast(lvl_df), "zoom")
             .select((F.shiftleft(F.col("lvl").cast("long"), _LVL_SHIFT)
                      + (F.col("y") - F.col("oy")) * F.col("nx")
                      + (F.col("x") - F.col("ox"))).alias("key"), "png"))
    if n_parts is None:
        n_parts = max(1, min(int(spark.conf.get(
            "spark.sql.shuffle.partitions", "32")), 256))
    keyed = keyed.repartitionByRange(n_parts, "key").sortWithinPartitions("key")

    parts_dir = path + ".parts"
    os.makedirs(parts_dir, exist_ok=True)

    import shutil

    def write_part(batches):
        import hashlib

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # attempt-unique temp name: with speculative execution (or a
        # zombie first attempt) two attempts of the same partition
        # would otherwise interleave writes into ONE .tmp on the shared
        # filesystem; per-attempt temps write disjoint files and the
        # final os.replace is atomic — last rename wins with complete
        # content either way
        tmp = os.path.join(
            parts_dir, f".part-{pid:05d}-{ctx.taskAttemptId()}.tmp")
        ents, by_hash, pos, last = [], {}, 0, -1
        with open(tmp, "wb") as f:
            for pdf in batches:
                for key, png in zip(pdf["key"], pdf["png"]):
                    key, blob = int(key), bytes(png)
                    if key <= last:
                        raise ValueError(f"duplicate block key {key}")
                    last = key
                    band = decode_band(blob, "png;u8")
                    enc = _encode_block(band, compression, predictor)
                    hk = hashlib.md5(enc).digest()
                    loc = by_hash.get(hk)
                    if loc is None:
                        loc = (pos, len(enc))
                        f.write(enc + b"\x00" * (len(enc) % 2))
                        pos += len(enc) + (len(enc) % 2)
                        by_hash[hk] = loc
                    ents.append((key, loc[0], loc[1]))
        os.replace(tmp, os.path.join(parts_dir, f"part-{pid:05d}.bin"))
        yield pd.DataFrame({"key": [e[0] for e in ents],
                            "rel": [e[1] for e in ents],
                            "ln": [e[2] for e in ents],
                            "part": [pid] * len(ents)})

    try:
        return _assemble(spark, keyed, write_part, path, parts_dir, lvls,
                         zb, ox0, oy0, ts, nodata, compression, predictor,
                         bigtiff, max_blocks)
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)


def _assemble(spark, keyed, write_part, path, parts_dir, lvls, zb, ox0,
              oy0, ts, nodata, compression, predictor, bigtiff,
              max_blocks) -> dict:
    entries = keyed.mapInPandas(
        write_part, "key long, rel long, ln long, part int") \
        .limit(max_blocks + 1).collect()
    if len(entries) > max_blocks:
        raise ValueError(f"more than {max_blocks} blocks — raise max_blocks")

    # this write's parts, from its entries: a stale part file left in
    # parts_dir by an earlier run is never read
    part_files = {pid: os.path.join(parts_dir, f"part-{pid:05d}.bin")
                  for pid in sorted({r["part"] for r in entries})}
    bases, acc = {}, 0
    for pid, pf in part_files.items():
        bases[pid] = acc
        acc += os.path.getsize(pf)
    nodata_block = _encode_block(
        np.full((ts, ts), nodata, dtype=np.uint8), compression, predictor)
    nodata_rel = acc
    total_data = acc + len(nodata_block) + (len(nodata_block) % 2)

    by_key = {}
    for r in entries:
        if r["key"] in by_key:
            raise ValueError(f"block key {r['key']} written twice")
        by_key[r["key"]] = (bases[r["part"]] + r["rel"], r["ln"])

    # base-level transform from the aligned origin tile
    res = tm.CE / ((1 << zb) * ts)
    minx, _, _, maxy = tm.tile_mercator_bounds(zb, ox0, oy0)
    transform = (res, 0.0, minx, 0.0, -res, maxy)

    def level_arrays(data_start):
        out = []
        n_filler = 0
        for lvl, lv in enumerate(lvls):
            nb = lv["nx"] * lv["ny"]
            counts, offsets = [], []
            for idx in range(nb):
                hit = by_key.get((lvl << _LVL_SHIFT) + idx)
                if hit is None:
                    n_filler += 1
                    counts.append(len(nodata_block))
                    offsets.append(data_start + nodata_rel)
                else:
                    counts.append(int(hit[1]))
                    offsets.append(data_start + int(hit[0]))
            out.append({"w": lv["w"], "h": lv["h"], "ts": ts,
                        "counts": counts, "offsets": offsets})
        return out, n_filler

    sized, _ = level_arrays(0)
    hdr0 = cog_directory(sized, transform, nodata,
                         compression=compression, predictor=predictor,
                         bigtiff=bigtiff)
    data_start = len(hdr0)
    final, n_filler = level_arrays(data_start)
    hdr = cog_directory(final, transform, nodata,
                        compression=compression, predictor=predictor,
                        bigtiff=bigtiff)
    assert len(hdr) == data_start, "header size must not depend on offsets"

    tmp = path + ".tmp"
    with open(tmp, "wb") as out:
        out.write(hdr)
        for pf in part_files.values():
            with open(pf, "rb") as f:
                while True:
                    chunk = f.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
        out.write(nodata_block + b"\x00" * (len(nodata_block) % 2))
    os.replace(tmp, path)
    return {"path": path, "base_zoom": zb, "levels": lvls,
            "data_start": data_start, "n_blocks": len(by_key),
            "n_filler": n_filler, "size": data_start + total_data}


def cog_blocks(spark: SparkSession, path: str,
               include_filler: bool = False) -> DataFrame:
    """Distributed COG read-back: the driver parses only the IFD chain
    (geotiff_ifds), executors ranged-read and decode their blocks —
    → (level, zoom?, bx, by, px_count, val_sum, val_min, val_max,
    pos_sum) integer stats per block over non-nodata pixels (the same
    stats shape as the render pixel gates). Filler (all-nodata) blocks
    are skipped unless include_filler."""
    metas = geotiff_ifds(path)
    rows = []
    for lvl, m in enumerate(metas):
        across = -(-m["width"] // m["tile_width"])
        for i, b in enumerate(m["blocks"]):
            rows.append((lvl, i % across, i // across, b["off"], b["cnt"],
                         b["pad_h"], b["pad_w"], m["compression"],
                         m["predictor"], m["nodata"]))
    plan = local_frame(
        spark, rows, "lvl int, bx long, by long, off long, cnt long, "
              "pad_h int, pad_w int, compression string, predictor int, "
              "nodata int")

    def read_blocks(batches):
        import pandas as pd

        with open(path, "rb") as fh:
            for pdf in batches:
                out = {k: [] for k in ("lvl", "bx", "by", "px_count",
                                       "val_sum", "val_min", "val_max",
                                       "pos_sum")}
                for r in pdf.itertuples(index=False):
                    fh.seek(r.off)
                    raw = fh.read(r.cnt)
                    band = _decode_block(raw, r.compression, r.predictor,
                                         np.uint8, r.pad_h, r.pad_w,
                                         r.pad_h, r.pad_w).astype(np.int64)
                    mask = band != r.nodata
                    if not mask.any() and not include_filler:
                        continue
                    pos = np.arange(band.size, dtype=np.int64).reshape(
                        band.shape)
                    vals = band[mask]
                    out["lvl"].append(int(r.lvl))
                    out["bx"].append(int(r.bx))
                    out["by"].append(int(r.by))
                    out["px_count"].append(int(vals.size))
                    out["val_sum"].append(int(vals.sum()))
                    out["val_min"].append(int(vals.min()) if vals.size else 0)
                    out["val_max"].append(int(vals.max()) if vals.size else 0)
                    out["pos_sum"].append(int((vals * pos[mask]).sum())
                                          if vals.size else 0)
                yield pd.DataFrame(out)

    return plan.repartition(max(1, min(32, len(rows) // 8 + 1))) \
        .mapInPandas(read_blocks,
                     "lvl int, bx long, by long, px_count long, "
                     "val_sum long, val_min long, val_max long, "
                     "pos_sum long")

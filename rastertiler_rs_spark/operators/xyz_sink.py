"""XYZ DIRECTORY sink — the slippy-map ``z/x/y.png`` file tree (+
TileJSON), the most widely served tile layout after MBTiles.

100 TB shape: NO shuffle — every task writes its own partition's
tiles straight into the tree (each tile is its own file; no
cross-task file is ever shared, so unlike the SQLite shard sink no
routing exchange is needed). Writes are atomic per tile (temp +
``os.replace``), so task retries are idempotent and a reader never
sees a partial PNG. The driver writes only ``tilejson.json``.

SHARED-FILESYSTEM CONTRACT: executors write into ``out_dir`` and the
driver writes the TileJSON — like the shard sink this requires a
filesystem shared by driver and executors (local[*], NFS, or a
mounted object store); a sample tile is verified driver-side before
the TileJSON is written, failing fast otherwise.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame


def write_xyz_tree(fused: DataFrame, metadata: DataFrame,
                   out_dir: str) -> dict:
    """Materialize a fused pyramid (zoom, x, y, png — XYZ y, top-left
    origin, the slippy-map URL scheme) as ``out_dir/z/x/y.png`` plus
    ``tilejson.json`` (TileJSON 3.0: tiles template, zoom range,
    bounds/center from the metadata table). Returns
    {"n_tiles", "minzoom", "maxzoom"}; existing tiles at the same
    coordinates are atomically replaced (re-render refreshes a tree
    in place)."""
    meta = {r["name"]: r["value"] for r in metadata.collect()}
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(batches: Iterator) -> Iterator:
        import uuid

        import pandas as pd

        n = 0
        sample = None
        lo = hi = None
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                z = int(row.zoom)
                d = os.path.join(out_dir, str(z), str(int(row.x)))
                os.makedirs(d, exist_ok=True)
                final = os.path.join(d, f"{int(row.y)}.png")
                tmp = os.path.join(d, f".{int(row.y)}.{uuid.uuid4().hex}")
                with open(tmp, "wb") as fh:
                    fh.write(bytes(row.png))
                os.replace(tmp, final)
                n += 1
                lo = z if lo is None else min(lo, z)
                hi = z if hi is None else max(hi, z)
                if sample is None:
                    sample = final
        # zoom range rides the write pass — a separate agg on `fused`
        # would FORK the lazy producer and re-run the whole render
        # (CLAUDE.md: forks below a python stage re-execute)
        yield pd.DataFrame({"n": [n], "sample": [sample],
                            "lo": [lo], "hi": [hi]})

    parts = (fused.select("zoom", "x", "y", "png")
             .mapInPandas(write_partition,
                          "n long, sample string, lo int, hi int")
             .collect())
    n_tiles = sum(int(r["n"]) for r in parts)
    for r in parts:
        if r["sample"] is not None and not os.path.exists(r["sample"]):
            raise OSError(
                f"executor-written tile {r['sample']!r} is not visible "
                f"driver-side — write_xyz_tree requires a filesystem "
                f"shared by driver and executors")
    los = [int(r["lo"]) for r in parts if r["lo"] is not None]
    his = [int(r["hi"]) for r in parts if r["hi"] is not None]
    minzoom = min(los) if los else 0
    maxzoom = max(his) if his else 0
    tilejson = {
        "tilejson": "3.0.0",
        "name": meta.get("name", "tiles"),
        "format": meta.get("format", "png"),
        "scheme": "xyz",
        "tiles": ["{z}/{x}/{y}.png"],
        "minzoom": minzoom,
        "maxzoom": maxzoom,
    }
    if "bounds" in meta:
        b = [float(v) for v in meta["bounds"].split(",")]
        tilejson["bounds"] = b
        tilejson["center"] = [(b[0] + b[2]) / 2, (b[1] + b[3]) / 2,
                              minzoom]
    tmp = os.path.join(out_dir, ".tilejson.tmp")
    with open(tmp, "w") as fh:
        json.dump(tilejson, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "tilejson.json"))
    return {"n_tiles": n_tiles, "minzoom": minzoom, "maxzoom": maxzoom}


def read_xyz_tree(spark, in_dir: str) -> DataFrame:
    """Read a slippy-map tree back into (zoom, x, y, png): the driver
    LISTS paths only (the geotiff-source planning shape — metadata
    driver-side, bytes executor-side); executors ranged-read their
    partition's files. Non-numeric directories and non-.png files are
    ignored."""
    rows = []
    if not os.path.isdir(in_dir):
        raise ValueError(f"not a directory: {in_dir}")
    for z in os.listdir(in_dir):
        zdir = os.path.join(in_dir, z)
        if not (z.isdigit() and os.path.isdir(zdir)):
            continue
        for x in os.listdir(zdir):
            xdir = os.path.join(zdir, x)
            if not (x.isdigit() and os.path.isdir(xdir)):
                continue
            for y in os.listdir(xdir):
                if y.endswith(".png") and y[:-4].isdigit():
                    rows.append((int(z), int(x), int(y[:-4]),
                                 os.path.join(xdir, y)))
    if not rows:
        return local_frame(spark, [], "zoom int, x long, y long, png binary")
    npart = max(1, min(len(rows) // 64 + 1,
                       spark.sparkContext.defaultParallelism))
    paths = local_frame(
        spark, rows, "zoom int, x long, y long, path string").repartition(npart)

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "png": []}
            for row in pdf.itertuples(index=False):
                with open(row.path, "rb") as fh:
                    out["png"].append(fh.read())
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
            yield pd.DataFrame(out)

    return paths.mapInPandas(fetch, "zoom int, x long, y long, png binary")

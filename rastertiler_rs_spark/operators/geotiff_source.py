"""GeoTIFF → images-table source: run the reference's ACTUAL input.

The reference CLI is ``rastertiler render IN.tif OUT.mbtiles`` — its
source is one (possibly huge) GeoTIFF opened through GDAL
(/root/reference/src/dataset.rs:23-60, main.rs:96-107). The engine's
native input is the images parquet table (BASELINE.json input_hint), so
this module is the bridge: it turns a GeoTIFF into exactly that table
shape, after which every downstream operator (render, pyramid, merge,
streaming upsert) applies unchanged.

Scale shape (the part that matters at 100 TB):

- the DRIVER reads only the IFD — a few KB of seeks
  (``geotiff.geotiff_ifd``), never pixel bytes;
- the block directory becomes a tiny MANIFEST DataFrame (one row per
  strip / tile / column chunk: byte offset, byte count, pixel window);
- EXECUTORS ranged-read their own blocks (``open`` + ``seek`` here; the
  byte-offset manifest is exactly what an object store serves as ranged
  GETs), decode them (deflate/LZW inflate, predictor undo — the
  cloud-optimized-GeoTIFF layouts, see ``geotiff.py``), and re-encode
  each block in the engine's native compressed format, so everything
  downstream of the scan ships ~KB PNG blobs, never raw rasters.

Like ``mbtiles_sink``'s shard writer, executor-side ``open(path)``
assumes a filesystem (or mount) visible to all executors — true in
local[*] and on clusters with shared storage; on object stores the
manifest maps 1:1 onto ranged reads.

All-nodata blocks are dropped at the source (they can contribute no
pixel — the kernel's P3 skip would drop their output anyway), so a
sparse world-sized raster costs proportional to its DATA, not its
extent.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..geotiff import geotiff_ifd
from ..session import local_frame

_OUT_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
               "minx double, miny double, maxx double, maxy double")

# geographic sources (EPSG:4326): same table, georef in DEGREES under
# the geo column names — operators/warp.render_warp's input shape
_OUT_SCHEMA_GEO = ("image_id string, bytes binary, w int, h int, "
                   "fmt string, minlon double, minlat double, "
                   "maxlon double, maxlat double")

_MANIFEST_SCHEMA = ("off long, cnt long, brow0 int, bcol0 int, "
                    "bnrows int, bncols int, pad_h int, pad_w int, "
                    "col0 int, ncols int")


def block_footprint(transform: tuple, row0: int, nrows: int,
                    col0: int, ncols: int):
    """EPSG:3857 bounds of a pixel window under the engine affine
    (x = a*col + c, y = e*row + f, e < 0, PixelIsArea edges).

    Shared by the executor emit path AND the DuckDB oracle builder
    (__spark_entry__), kernel.py-style: one definition, parity can't
    drift on float op order.
    """
    a, _b, c, _d, e, f = transform
    minx = c + col0 * a
    maxx = c + (col0 + ncols) * a
    maxy = f + row0 * e
    miny = f + (row0 + nrows) * e
    return minx, miny, maxx, maxy


def images_from_geotiff(spark: SparkSession, path: str,
                        block_cols: int | None = None,
                        id_prefix: str | None = None) -> DataFrame:
    """Distributed GeoTIFF ingest: file → images DataFrame with explicit
    georeferencing columns (render's ``with_footprints`` passes them
    through, so arbitrary rasters render — no id-derived footprint rule
    involved).

    Every layout ``geotiff.py`` reads is ingestable — strip or tiled
    (COG-style), none/deflate/LZW compression, horizontal predictor;
    the manifest row carries the block's padded dims so the executor
    decode is layout-independent.

    ``block_cols=None`` emits each TIFF block as one image — contiguous
    ranged reads, the scale default. An explicit value additionally
    chops wide blocks into column chunks (each chunk ranged-reads and
    decodes its whole source block, then slices; useful when a raster
    is wide but short on strips).

    CRS dispatch (the reference's warped-VRT role, dataset.rs:74-109):
    EPSG:3857 sources emit mercator footprints (minx..maxy) and feed
    ``render`` directly; EPSG:4326 sources emit the SAME table with
    the georef in DEGREES under geo column names (minlon..maxlat) —
    ``operators/warp.render_warp``'s input shape, so `render IN.tif`
    reprojects end to end. Any other CRS fails fast.
    """
    meta = geotiff_ifd(path)
    if meta["epsg"] not in (3857, 4326):
        raise ValueError(
            f"GeoTIFF CRS must be EPSG:3857 or EPSG:4326, got "
            f"{meta['epsg']} (reproject upstream)")
    geographic = meta["epsg"] == 4326
    if meta["bits"] == 8:
        dtype_tag = "u8"
    elif meta["bits"] == 32:
        dtype_tag = "u32"
    else:
        raise ValueError(f"unsupported bits per sample {meta['bits']}")
    bpp = meta["bits"] // 8
    compression = meta["compression"]
    predictor = meta["predictor"]
    transform = meta["transform"]
    nodata = meta["nodata"]
    abs_path = os.path.abspath(path)
    prefix = id_prefix if id_prefix is not None else os.path.basename(path)

    manifest = []
    for b in meta["blocks"]:
        if compression == "none" and b["cnt"] != (
                b["pad_h"] * b["pad_w"] * bpp):
            raise ValueError(
                f"block at row {b['row0']} col {b['col0']}: byte count "
                f"{b['cnt']} != padded rows*cols*bpp "
                f"{b['pad_h'] * b['pad_w'] * bpp} (corrupt directory)")
        step = b["ncols"] if block_cols is None else max(1, int(block_cols))
        for sub0 in range(0, b["ncols"], step):
            manifest.append((
                int(b["off"]), int(b["cnt"]), b["row0"], b["col0"],
                b["nrows"], b["ncols"], b["pad_h"], b["pad_w"],
                b["col0"] + sub0, min(step, b["ncols"] - sub0)))

    mdf = local_frame(spark, manifest, _MANIFEST_SCHEMA)

    fp_cols = (("minlon", "minlat", "maxlon", "maxlat") if geographic
               else ("minx", "miny", "maxx", "maxy"))

    def emit(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from ..geotiff import _decode_block
        from ..png import encode_grayscale8, encode_rgb, rgb_from_u32

        np_dt = np.uint8 if dtype_tag == "u8" else np.dtype("<u4")
        fmt = f"png;{dtype_tag}"
        with open(abs_path, "rb") as fh:
            for pdf in batches:
                out = {k: [] for k in
                       ("image_id", "bytes", "w", "h", "fmt") + fp_cols}
                for r in pdf.itertuples(index=False):
                    fh.seek(r.off)
                    raw = fh.read(r.cnt)
                    blk = _decode_block(raw, compression, predictor,
                                        np_dt, r.pad_h, r.pad_w,
                                        r.bnrows, r.bncols)
                    band = blk[:, r.col0 - r.bcol0:
                               r.col0 - r.bcol0 + r.ncols]
                    if (band == nodata).all():
                        continue  # source-level P3: nothing to render
                    band = np.ascontiguousarray(band)
                    if dtype_tag == "u8":
                        png = encode_grayscale8(band, nodata)
                    else:
                        png = encode_rgb(rgb_from_u32(band), nodata)
                    fp = block_footprint(
                        transform, r.brow0, r.bnrows, r.col0, r.ncols)
                    out["image_id"].append(
                        f"{prefix}#r{r.brow0:07d}c{r.col0:07d}")
                    out["bytes"].append(png)
                    out["w"].append(r.ncols)
                    out["h"].append(r.bnrows)
                    out["fmt"].append(fmt)
                    for col, v in zip(fp_cols, fp):
                        out[col].append(v)
                yield pd.DataFrame(out)

    return mdf.mapInPandas(emit,
                           _OUT_SCHEMA_GEO if geographic else _OUT_SCHEMA)

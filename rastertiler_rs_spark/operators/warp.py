"""REPROJECTION WARP — geographic (EPSG:4326) rasters → web-mercator
tiles, nearest resampling.

The reference reprojects through GDAL's warped VRT
(/root/reference/src/dataset.rs:74-109: GDALAutoCreateWarpedVRT to
EPSG:3857, then window-reads the VRT like a native-3857 raster). The
engine's equivalent is the direct form of the same map: for every
destination tile pixel CENTER, invert the spherical-mercator projection
(tilemath.mercator_to_geo), land in the source's geographic grid, and
take the nearest source pixel — one inverse-mapped gather instead of
warp-to-intermediate-grid + window-read. Same semantics class (GDAL
nearest warp also inverse-maps destination centers); not bit-parity
with GDAL's two-stage VRT snap, which resamples twice. The projection
is separable (lon depends only on the tile column, lat only on the
row), so the per-tile gather is two ts-length index vectors + one fancy
index — no per-pixel python.

Scale shape: stage 1 is the blocks-path pattern (decode each image
once, emit its per-tile warped canvases), stage 2 one tile-key shuffle
+ mosaic/encode. A pathologically global footprint (one image covering
z0) would concentrate on one tile key like any low-zoom render —
render_warp's default ``salt_buckets="auto"`` detects hot keys from
the pure-JVM footprint cover counts and routes them through the SHARED
two-phase salted mosaic (render._route_mosaic_fn/_merge_or_pass_fn —
one copy of the (canvas, winner) fold + argmax-merge rule), while the
long tail encodes in a single pass; salted and plain output is
byte-identical (tests/test_warp.py).

Cross-engine contract (the DuckDB twin re-derives warped pixels from
fixture constants): every float op mirrors tilemath.mercator_to_geo /
geo_to_mercator IEEE op order exactly, and the fixture geometry keeps
every floor() quotient ≥1e-6 away from integers (numpy's SIMD exp/atan
and DuckDB's libm may differ in the last ulp — margin, not luck,
absorbs it; pinned by tests/test_warp.py::test_floor_margins).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import tilemath as tm
from ..kernel import encode_tile, mosaic
from ..png import decode_band

_WARP_BLOCK_SCHEMA = "zoom int, x long, y long, img_ord long, canvas binary"


def warp_tile(band: np.ndarray, minlon: float, minlat: float,
              maxlon: float, maxlat: float, zoom: int, tx: int, ty: int,
              tile_size: int, nodata) -> np.ndarray | None:
    """Warp one geographic north-up grid onto one mercator tile.

    Returns the full (tile_size, tile_size) canvas (nodata where the
    pixel center inverse-maps outside the footprint), or None when no
    pixel maps to data — the dropped-tile rule, same as
    kernel.read_tile_block.
    """
    src_h, src_w = band.shape
    xres = (maxlon - minlon) / src_w
    yres = (maxlat - minlat) / src_h

    ts_m = tm.CE / float(1 << zoom)
    res_t = ts_m / float(tile_size)
    t_xmin = float(tx) * ts_m - tm.CE / 2.0
    t_ymax = tm.CE / 2.0 - float(ty) * ts_m
    centers = np.arange(tile_size, dtype=np.float64) + 0.5
    mx = t_xmin + centers * res_t
    my = t_ymax - centers * res_t
    lon, lat = tm.mercator_to_geo(mx, my)

    ci = np.floor((lon - minlon) / xres).astype(np.int64)
    rj = np.floor((maxlat - lat) / yres).astype(np.int64)
    cvalid = (ci >= 0) & (ci < src_w)
    rvalid = (rj >= 0) & (rj < src_h)
    if not (cvalid.any() and rvalid.any()):
        return None
    canvas = np.full((tile_size, tile_size), nodata, dtype=band.dtype)
    canvas[np.ix_(rvalid, cvalid)] = band[rj[rvalid][:, None],
                                          ci[cvalid][None, :]]
    if (canvas == nodata).all():
        return None
    return canvas


def _warp_kernel_fn(minzoom: int, maxzoom: int, tile_size: int, nodata):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("zoom", "x", "y", "img_ord", "canvas")}
            for row in pdf.itertuples(index=False):
                band = decode_band(bytes(row.bytes), row.fmt)
                # projected cover bounds: forward mercator of the geo
                # corners (monotone in both axes for north-up grids)
                xs, ys = tm.geo_to_mercator(
                    np.array([row.minlon, row.maxlon]),
                    np.array([row.minlat, row.maxlat]))
                minx, maxx = float(xs[0]), float(xs[1])
                miny, maxy = float(ys[0]), float(ys[1])
                for zoom in range(minzoom, maxzoom + 1):
                    r = tm.tile_range(zoom, minx, miny, maxx, maxy)
                    for _, txx, tyy in tm.tile_range_iter(zoom, *r):
                        canvas = warp_tile(
                            band, row.minlon, row.minlat, row.maxlon,
                            row.maxlat, zoom, txx, tyy, tile_size, nodata)
                        if canvas is None:
                            continue
                        out["zoom"].append(zoom)
                        out["x"].append(txx)
                        out["y"].append(tyy)
                        out["img_ord"].append(int(row.img_ord))
                        out["canvas"].append(
                            np.ascontiguousarray(canvas).tobytes())
            yield pd.DataFrame(out)

    return fn


def _warp_encode_fn(tile_size: int, dtype_tag: str, nodata,
                    colormap_str: str | None = None):
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..png import Colormap

        colormap = (Colormap.parse(colormap_str, nodata)
                    if colormap_str else None)
        for pdf in batches:
            out = {k: [] for k in ("zoom", "x", "y", "png")}
            for row in pdf.itertuples(index=False):
                contribs = [
                    (int(c["img_ord"]), 0, 0, tile_size, tile_size,
                     np.frombuffer(bytes(c["canvas"]), dtype=np_dtype)
                     .reshape(tile_size, tile_size))
                    for c in row.contribs
                ]
                cv = mosaic(contribs, tile_size, nodata, np_dtype)
                if cv is None:
                    continue
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["png"].append(encode_tile(cv, dtype_tag, nodata,
                                              colormap))
            yield pd.DataFrame(out)

    return fn


def render_warp(images: DataFrame, minzoom: int, maxzoom: int,
                tile_size: int = 256, dtype_tag: str = "u8",
                colormap_str: str | None = None,
                nodata: int = 0, n_parts: int | None = None,
                salt_buckets: str | None = "auto") -> DataFrame:
    """Render geographic (EPSG:4326) images into the mercator pyramid.

    ``images`` carries the input_hint schema PLUS its geographic
    georeferencing (minlon, minlat, maxlon, maxlat in degrees — a 4326
    table brings its own georef). Two python stages, one tile-key
    shuffle: decode+warp per image, then mosaic+encode per tile with
    the ascending-image_id overwrite rule shared with the native-3857
    render. Output (zoom, x, y, png) in XYZ rows; feed through
    render._finish / tiles_table for the TMS sink shape.

    ``salt_buckets="auto"`` (default) routes HOT tile keys — detected
    from a pure-JVM footprint cover count, the native render's router
    — through the shared two-phase salted mosaic (render._route_mosaic
    fold to (canvas, winner) partials + argmax merge), so one
    global-footprint 4326 image (a z0 world map) cannot single-task a
    low-zoom tile; the long tail encodes in one pass exactly like the
    plain path. ``None`` forces the plain single-pass mosaic. Salted
    and plain output is byte-identical (tests/test_warp.py parity).
    Paste order is an order-preserving int (distinct image_ids sorted
    once), so the winner-argmax rule matches ascending-image_id
    pasting for ANY id scheme.
    """
    from ..functions.columns import geo_to_mercator_cols
    from .render import (_AUTO_SALT_MAX_KEYS, _AUTO_SALT_THRESHOLD,
                         _merge_or_pass_fn, _route_mosaic_fn,
                         tile_manifest)

    spark = images.sparkSession
    cores = spark.sparkContext.defaultParallelism
    n_parts = n_parts or max(cores, 1)

    # order-preserving integer paste key (the native render's
    # general-ids discipline): monotonically_increasing_id over the
    # distinct-sorted ids follows range-partition order — order is all
    # the winner/paste rules need
    ord_map = (images.select("image_id").distinct().orderBy("image_id")
               .withColumn("img_ord", F.monotonically_increasing_id()))
    src = images.join(ord_map, "image_id")

    blocks = src.repartition(n_parts, "image_id").mapInPandas(
        _warp_kernel_fn(minzoom, maxzoom, tile_size, nodata),
        _WARP_BLOCK_SCHEMA)

    hot_rows = []
    if salt_buckets == "auto":
        # hot keys from the projected footprint cover counts — pure JVM
        # (forward mercator of the geo corners + tile_manifest explode),
        # no decode, no python; a superset of the kernel's emitted
        # tiles, which is exactly right for routing
        mx0, my0 = geo_to_mercator_cols(F.col("minlon"), F.col("minlat"))
        mx1, my1 = geo_to_mercator_cols(F.col("maxlon"), F.col("maxlat"))
        fp = images.select(mx0.alias("minx"), my0.alias("miny"),
                           mx1.alias("maxx"), my1.alias("maxy"))
        hot_rows = (
            tile_manifest(fp, minzoom, maxzoom)
            .groupBy("zoom", "tx", "ty").count()
            .filter(F.col("count") >= _AUTO_SALT_THRESHOLD)
            .orderBy(F.desc("count"), "zoom", "tx", "ty")
            .limit(_AUTO_SALT_MAX_KEYS)
            .select("zoom", F.col("tx").alias("x"), F.col("ty").alias("y"))
        ).collect()

    if not hot_rows:
        return (blocks.repartition(n_parts, "zoom", "x", "y")
                .groupBy("zoom", "x", "y")
                .agg(F.collect_list(F.struct("img_ord", "canvas"))
                     .alias("contribs"))
                .mapInPandas(_warp_encode_fn(tile_size, dtype_tag, nodata,
                                             colormap_str),
                             "zoom int, x long, y long, png binary"))

    # two-phase routed mosaic (shared stage fns with the native render —
    # ONE copy of the winner rule): warp canvases are full tiles, so
    # they enter the shared contribs contract as left=0, top=0,
    # bw=bh=tile_size blocks
    hot_keys = spark.createDataFrame(
        [(int(r["zoom"]), int(r["x"]), int(r["y"])) for r in hot_rows],
        "zoom int, x long, y long")
    marked = blocks.join(
        F.broadcast(hot_keys.withColumn("_h", F.lit(True))),
        ["zoom", "x", "y"], "left")
    salted = marked.select(
        "zoom", "x", "y", "img_ord", "canvas",
        F.coalesce("_h", F.lit(False)).alias("is_hot"),
        F.when(F.coalesce("_h", F.lit(False)),
               F.pmod(F.col("img_ord"), F.lit(cores)))
        .otherwise(F.lit(0)).cast("int").alias("salt"))
    contrib = F.struct(
        F.col("img_ord"), F.lit(0).alias("left"), F.lit(0).alias("top"),
        F.lit(tile_size).alias("bw"), F.lit(tile_size).alias("bh"),
        F.col("canvas").alias("block"))
    stage_b = salted.repartition(
        n_parts, "zoom", "x", "y", "salt").groupBy(
        "zoom", "x", "y", "salt", "is_hot").agg(
        F.collect_list(contrib).alias("contribs")
    ).mapInPandas(
        _route_mosaic_fn(tile_size, dtype_tag, colormap_str, nodata),
        "zoom int, x long, y long, png binary, "
        "canvas binary, winner binary")
    return stage_b.repartition(
        n_parts, "zoom", "x", "y").groupBy(
        "zoom", "x", "y").agg(
        F.collect_list(F.struct("png", "canvas", "winner"))
        .alias("partials")
    ).mapInPandas(
        _merge_or_pass_fn(tile_size, dtype_tag, colormap_str, nodata),
        "zoom int, x long, y long, png binary")


def render_warp_pyramid(images: DataFrame, minzoom: int, maxzoom: int,
                        tile_size: int = 256, dtype_tag: str = "u8",
                        colormap_str: str | None = None,
                        overview_below: int | None = None,
                        persisted: list | None = None) -> DataFrame:
    """Full warped pyramid in the FUSED sink schema (zoom, x, y,
    tile_row, tile_hash, png): zooms in [overview_below, maxzoom] warp
    directly from source; zooms below are its 2× nearest decimation
    through the shared overview machinery (operators/overview — same
    cascade, persist-fork and colormap contracts as render_pyramid).
    ``overview_below=None`` → all-direct."""
    from .overview import _with_overviews
    from .render import _finish

    if overview_below is None or overview_below <= minzoom:
        return _finish(render_warp(images, minzoom, maxzoom, tile_size,
                                   dtype_tag, colormap_str))
    base = min(max(overview_below, minzoom), maxzoom)
    full = _finish(render_warp(images, base, maxzoom, tile_size,
                               dtype_tag, colormap_str))
    return _with_overviews(full, base, minzoom, tile_size, dtype_tag,
                           colormap_str, persisted)

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
once, emit its per-tile warped canvases), then the native render's
blocks-path mosaic (render._mosaic_blocks: one tile-key shuffle +
mosaic/encode). A pathologically global footprint (one image covering
z0) would concentrate on one tile key like any low-zoom render, so
render_warp takes the same ``salt_threshold`` as render: hot keys
come from the pure-JVM cover counts of the projected footprints
(render._hot_keys) and mosaic in two salted phases, while the long
tail encodes in a single pass; salted and plain output is
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
from ..png import decode_band
from .overview import _pyramid
from .render import _AUTO_SALT_THRESHOLD, _emit_tiles, _hot_keys, _mosaic_blocks

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


def render_warp(images: DataFrame, minzoom: int, maxzoom: int,
                tile_size: int = 256, dtype_tag: str = "u8",
                colormap_str: str | None = None,
                nodata: int = 0, n_parts: int | None = None,
                salt_threshold: int | None = _AUTO_SALT_THRESHOLD,
                ) -> DataFrame:
    """Render geographic (EPSG:4326) images into the mercator pyramid.

    ``images`` carries the input_hint schema PLUS its geographic
    georeferencing (minlon, minlat, maxlon, maxlat in degrees — a 4326
    table brings its own georef). Two python stages, one tile-key
    shuffle: decode+warp per image, then mosaic+encode per tile with
    the ascending-image_id overwrite rule shared with the native-3857
    render. Output (zoom, x, y, png) in XYZ rows; feed through
    render._finish for the TMS sink shape.

    ``salt_threshold`` has render's meaning: tile keys whose projected
    footprint cover count reaches it mosaic in two salted phases
    through render's shared blocks-path mosaic (render._mosaic_blocks),
    so one global-footprint 4326 image (a z0 world map) cannot
    single-task a low-zoom tile; 1 salts every key, None none. Salted
    and plain output is byte-identical (tests/test_warp.py parity).
    Paste order is an order-preserving int (distinct image_ids sorted
    once), so it matches ascending-image_id pasting for ANY id scheme.
    """
    return _warp_tiles(images, minzoom, maxzoom, tile_size, dtype_tag,
                       colormap_str, nodata, n_parts, salt_threshold)


def _warp_tiles(images: DataFrame, minzoom: int, maxzoom: int,
                tile_size: int, dtype_tag: str, colormap_str: str | None,
                nodata: int = 0, n_parts: int | None = None,
                salt_threshold: int | None = _AUTO_SALT_THRESHOLD,
                emit=_emit_tiles) -> DataFrame:
    """render_warp with the mosaic's last python stage run through
    ``emit`` (render._mosaic_blocks; the warp pyramid's private entry)."""
    from ..functions.columns import geo_to_mercator_cols

    n_parts = n_parts or max(
        images.sparkSession.sparkContext.defaultParallelism, 1)

    # order-preserving integer paste key (the native render's
    # general-ids discipline): monotonically_increasing_id over the
    # distinct-sorted ids follows range-partition order — order is all
    # the winner/paste rules need
    ord_map = (images.select("image_id").distinct().orderBy("image_id")
               .withColumn("img_ord", F.monotonically_increasing_id()))
    src = images.join(ord_map, "image_id")

    # warp canvases are full tiles: they enter the shared blocks
    # contract as left=0, top=0, bw=bh=tile_size blocks
    blocks = src.repartition(n_parts, "image_id").mapInPandas(
        _warp_kernel_fn(minzoom, maxzoom, tile_size, nodata),
        _WARP_BLOCK_SCHEMA).select(
        "zoom", "x", "y", "img_ord", F.lit(0).alias("left"),
        F.lit(0).alias("top"), F.lit(tile_size).alias("bw"),
        F.lit(tile_size).alias("bh"), F.col("canvas").alias("block"))

    hot_rows = []
    if salt_threshold is not None:
        # cover counts over the projected footprints (forward mercator
        # of the geo corners)
        mx0, my0 = geo_to_mercator_cols(F.col("minlon"), F.col("minlat"))
        mx1, my1 = geo_to_mercator_cols(F.col("maxlon"), F.col("maxlat"))
        fp = images.select(mx0.alias("minx"), my0.alias("miny"),
                           mx1.alias("maxx"), my1.alias("maxy"))
        hot_rows = _hot_keys(fp, minzoom, maxzoom, salt_threshold).collect()
    return _mosaic_blocks(blocks, hot_rows, tile_size, dtype_tag,
                          colormap_str, n_parts, nodata, emit)


def render_warp_pyramid(images: DataFrame, minzoom: int, maxzoom: int,
                        tile_size: int = 256, dtype_tag: str = "u8",
                        colormap_str: str | None = None,
                        overview_below: int | None = None) -> DataFrame:
    """Full warped pyramid in the FUSED sink schema (zoom, x, y,
    tile_row, tile_hash, png): zooms in [overview_below, maxzoom] warp
    directly from source; zooms below are its 2× nearest decimation,
    emitted by the warp's own mosaic worker and pasted in one exchange
    (operators/overview — same one-pass and colormap contracts as
    render_pyramid). ``overview_below=None`` → all-direct."""
    return _pyramid(
        lambda zlo, emit: _warp_tiles(images, zlo, maxzoom, tile_size,
                                      dtype_tag, colormap_str, emit=emit),
        minzoom, maxzoom, overview_below, tile_size, dtype_tag, colormap_str)

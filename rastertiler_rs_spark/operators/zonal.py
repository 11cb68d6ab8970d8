"""Zonal statistics — per-zone aggregation of raster pixel VALUES.

The classic raster↔vector analytics op (north-star extension; the
reference's window-intersection semantics, dataset.rs:163-166,
generalized from tiles to arbitrary zones): for every zone, aggregate
the non-nodata pixels whose CENTERS fall inside the zone — box zones
(`zonal_stats`) or polygon zones via the same even-odd ray cast as
the J5 join (`zonal_stats_poly`, shared `pip.ray_cast`).

Plan shape (100 TB): zones × image footprints through the J3
cell-indexed equi-join (with_cover_cells — no all-pairs, skew handled
by the grid), image bytes ship through that ONE shuffle to their
zone-cell tasks (same idiom as the render's cell stage: compressed
source bytes, not raw pixels), each (zone, image) pair decodes its
PNG once task-local and reduces to a single partial row, and the only
post-join shuffle is a tiny groupBy(zone_id) over O(pairs) partials
with map-side combine. Polygon rings travel as a sparkContext
broadcast (once per executor, not per task).

Determinism contract: pixel membership is evaluated with the exact
same IEEE double sequence on both engines — psx = (maxx - minx) / w,
center = minx + (c + 0.5) * psx, and for polygons the ray-cast
crossing inequality in `pip.ray_cast`'s operand order — so the DuckDB
oracles (which rederive pixels from the generation formula)
hash-match the engine's REAL decoded-pixel aggregation. The shared
`_pixel_centers` helper is the single home of that arithmetic for
both variants.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..png import decode_band
from ..session import local_frame
from .render import with_footprints
from .spatial_join import with_cover_cells

_PARTIAL_SCHEMA = "zone_id long, n_px long, vsum long, vmin long, vmax long"


def _zone_image_pairs(zones: DataFrame, images: DataFrame,
                      cell_size: float) -> DataFrame:
    """Candidate (zone, image) pairs via the J3 cell equi-join + bbox
    residual; carries the zone box, image footprint, and image bytes.

    Pair dedup uses the REFERENCE-POINT rule, not a dropDuplicates
    exchange: a pair that overlaps shares every cell covering the
    intersection, so exactly ONE covering cell — the one containing
    the intersection's min corner, floor(max(minx, r_minx) / cs) —
    is made responsible for emitting it. The filter is evaluated on
    the join output in place, so the byte-carrying rows cross only
    the single cell-join shuffle (a second full shuffle of compressed
    image bytes at 100 TB was the round-4 watch-item)."""
    cs = F.lit(float(cell_size))
    fp = with_footprints(images).select(
        "image_id", "bytes", "fmt",
        F.col("minx").alias("r_minx"), F.col("miny").alias("r_miny"),
        F.col("maxx").alias("r_maxx"), F.col("maxy").alias("r_maxy"))
    lz = with_cover_cells(zones, cell_size)
    ri = with_cover_cells(fp, cell_size, prefix="r_")
    residual = (
        (F.col("minx") < F.col("r_maxx")) & (F.col("maxx") > F.col("r_minx"))
        & (F.col("miny") < F.col("r_maxy")) & (F.col("maxy") > F.col("r_miny")))
    # same floor(coord / cs) arithmetic as with_cover_cells, applied to
    # the intersection min corner — deterministic within one engine, so
    # the equality below picks exactly one of the shared cells
    ref_cell = (
        (F.col("cell_x") == F.floor(F.greatest("minx", "r_minx") / cs))
        & (F.col("cell_y") == F.floor(F.greatest("miny", "r_miny") / cs)))
    return (lz.join(ri, ["cell_x", "cell_y"]).filter(residual & ref_cell)
            .select("zone_id", "minx", "miny", "maxx", "maxy",
                    "bytes", "fmt", "r_minx", "r_miny", "r_maxx", "r_maxy"))


def _pixel_centers(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(band, xc, yc) for one pair row — THE cross-engine pixel-center
    arithmetic (mirrored verbatim by the DuckDB oracle twins; do not
    reorder the float ops)."""
    band = decode_band(bytes(row.bytes), row.fmt)
    h, w = band.shape
    psx = (row.r_maxx - row.r_minx) / w
    psy = (row.r_maxy - row.r_miny) / h
    xc = row.r_minx + (np.arange(w) + 0.5) * psx
    yc = row.r_maxy - (np.arange(h) + 0.5) * psy
    return band, xc, yc


def _emit_partial(out: dict, zone_id, band: np.ndarray, inside: np.ndarray,
                  nodata: int) -> None:
    vals = band[inside & (band != nodata)]
    if vals.size == 0:
        return
    v64 = vals.astype(np.int64)
    out["zone_id"].append(zone_id)
    out["n_px"].append(int(v64.size))
    out["vsum"].append(int(v64.sum()))
    out["vmin"].append(int(v64.min()))
    out["vmax"].append(int(v64.max()))


def _finalize(partials: DataFrame) -> DataFrame:
    return (partials.groupBy("zone_id")
            .agg(F.count("*").alias("n_images"),
                 F.sum("n_px").alias("n_px"),
                 F.sum("vsum").alias("vsum"),
                 F.min("vmin").alias("vmin"),
                 F.max("vmax").alias("vmax")))


def zonal_stats(zones: DataFrame, images: DataFrame, cell_size: float,
                nodata: int = 0) -> DataFrame:
    """(zone_id, n_images, n_px, vsum, vmin, vmax) — integer stats of
    the non-nodata pixels whose centers fall in each box zone.

    ``zones``: (zone_id, minx, miny, maxx, maxy); ``images``: the
    engine's image table (footprints derived via with_footprints, or
    pre-georeferenced minx..maxy columns). ``n_images`` counts images
    contributing at least one valid pixel to the zone; zones with no
    valid pixels produce no row (mirrored by the oracle twin)."""
    pairs = _zone_image_pairs(zones, images, cell_size)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"zone_id": [], "n_px": [], "vsum": [],
                   "vmin": [], "vmax": []}
            for row in pdf.itertuples(index=False):
                band, xc, yc = _pixel_centers(row)
                inside = np.ix_((yc >= row.miny) & (yc < row.maxy),
                                (xc >= row.minx) & (xc < row.maxx))
                sub = band[inside]
                _emit_partial(out, row.zone_id, sub,
                              np.ones(sub.shape, dtype=bool), nodata)
            yield pd.DataFrame(out)

    return _finalize(pairs.mapInPandas(fn, _PARTIAL_SCHEMA))


def raster_gradient_stats(images: DataFrame, nodata: int = 0) -> DataFrame:
    """Neighborhood (stencil) raster op: central-difference gradient
    magnitude over each image's interior — gx = v[r,c+1] - v[r,c-1],
    gy = v[r+1,c] - v[r-1,c], g2 = gx² + gy², aggregated per image
    over interior pixels whose center AND all four neighbors are
    valid (non-nodata). All-integer outputs; the DuckDB twin
    re-derives every neighbor from the generation formula with
    shifted indices, so the stencil indexing itself is value-checked.

    Plan shape: map-only (decode + numpy shifts per image, no shuffle
    at all) — per-image reductions need no grouping. At tile scale the
    same stencil runs per tile with 1-pixel halos from the cell
    group's neighbors (the render's cell shuffle already co-locates
    them)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "n_valid": [], "sum_g2": [],
                   "max_g2": []}
            for row in pdf.itertuples(index=False):
                band = decode_band(bytes(row.bytes), row.fmt) \
                    .astype(np.int64)
                if band.shape[0] < 3 or band.shape[1] < 3:
                    continue
                c = band[1:-1, 1:-1]
                gx = band[1:-1, 2:] - band[1:-1, :-2]
                gy = band[2:, 1:-1] - band[:-2, 1:-1]
                valid = ((c != nodata)
                         & (band[1:-1, 2:] != nodata)
                         & (band[1:-1, :-2] != nodata)
                         & (band[2:, 1:-1] != nodata)
                         & (band[:-2, 1:-1] != nodata))
                if not valid.any():
                    continue
                g2 = (gx * gx + gy * gy)[valid]
                out["image_id"].append(row.image_id)
                out["n_valid"].append(int(valid.sum()))
                out["sum_g2"].append(int(g2.sum()))
                out["max_g2"].append(int(g2.max()))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, "image_id string, n_valid long, sum_g2 long, max_g2 long")


def zonal_stats_poly(polygons: list[tuple], images: DataFrame,
                     cell_size: float, nodata: int = 0) -> DataFrame:
    """Zonal statistics over ARBITRARY polygon zones: pixel membership
    is the even-odd ray cast of the pixel CENTER against the ring —
    the same vectorized `pip.ray_cast` the J5 join uses, so polygon
    semantics can't drift between the point and raster paths.

    ``polygons`` is the pip list form [(zone_id, [(x, y), ...]), ...];
    the prepared rings are a sparkContext broadcast, candidate pairs
    come from the polygon bboxes through the same cell equi-join as
    the box variant, and the ray cast runs only on candidates'
    pixels. Same output schema and determinism contract as
    `zonal_stats`."""
    from .pip import _prepare, ray_cast

    prepared = _prepare(polygons)
    spark = images.sparkSession
    boxes = local_frame(
        spark, [(int(pid), float(xs.min()), float(ys.min()),
          float(xs.max()), float(ys.max())) for pid, xs, ys in prepared],
        "zone_id long, minx double, miny double, maxx double, maxy double")
    rings_bc = spark.sparkContext.broadcast(
        {int(pid): (xs, ys) for pid, xs, ys in prepared})

    pairs = _zone_image_pairs(boxes, images, cell_size).select(
        "zone_id", "bytes", "fmt", "r_minx", "r_miny", "r_maxx", "r_maxy")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rings = rings_bc.value
        for pdf in batches:
            out = {"zone_id": [], "n_px": [], "vsum": [],
                   "vmin": [], "vmax": []}
            for row in pdf.itertuples(index=False):
                band, xc, yc = _pixel_centers(row)
                h, w = band.shape
                gx = np.broadcast_to(xc, (h, w)).ravel()
                gy = np.broadcast_to(yc[:, None], (h, w)).ravel()
                xs, ys = rings[int(row.zone_id)]
                inside = ray_cast(gx, gy, xs, ys).reshape(h, w)
                _emit_partial(out, row.zone_id, band, inside, nodata)
            yield pd.DataFrame(out)

    return _finalize(pairs.mapInPandas(fn, _PARTIAL_SCHEMA))


def zonal_quantiles(zones: DataFrame, images: DataFrame, cell_size: float,
                    nodata: int = 0) -> DataFrame:
    """EXACT per-zone quantiles via counting sort over the u8 domain —
    (zone_id, n_vals, n_px, p25, median, p75), all lower quantiles
    (1-based rank ceil(q·n), division-free: cdf·4 ≥ n / cdf·2 ≥ n /
    cdf·4 ≥ 3n picks the smallest qualifying value).

    Scale shape: the python stage reduces each (zone, image) pair to
    ≤256 (zone, value, count) rows; everything after is JVM — one
    groupBy on (zone, value) then one windowed cumsum per zone (≤256
    rows/zone regardless of pixel count). No pixel list is ever
    collected — the exact-median trick that works at 100 TB because
    the value domain is bounded."""
    from pyspark.sql import Window

    pairs = _zone_image_pairs(zones, images, cell_size)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"zone_id": [], "v": [], "cnt": []}
            for row in pdf.itertuples(index=False):
                band, xc, yc = _pixel_centers(row)
                inside = np.ix_((yc >= row.miny) & (yc < row.maxy),
                                (xc >= row.minx) & (xc < row.maxx))
                sub = band[inside]
                vals = sub[sub != nodata].astype(np.int64)
                if not vals.size:
                    continue
                vs, counts = np.unique(vals, return_counts=True)
                out["zone_id"].extend([row.zone_id] * len(vs))
                out["v"].extend(int(x) for x in vs)
                out["cnt"].extend(int(x) for x in counts)
            yield pd.DataFrame({"zone_id": out["zone_id"],
                                "v": out["v"], "cnt": out["cnt"]})

    vc = (pairs.mapInPandas(fn, "zone_id long, v long, cnt long")
          .groupBy("zone_id", "v").agg(F.sum("cnt").alias("cnt")))
    w = Window.partitionBy("zone_id").orderBy("v")
    wz = Window.partitionBy("zone_id")
    cum = vc.select(
        "zone_id", "v",
        F.sum("cnt").over(w).alias("cdf"),
        F.sum("cnt").over(wz).alias("n"),
        F.count("*").over(wz).alias("nv"))
    return cum.groupBy("zone_id").agg(
        F.max("nv").alias("n_vals"),
        F.max("n").alias("n_px"),
        F.min(F.when(F.col("cdf") * 4 >= F.col("n"), F.col("v")))
         .alias("p25"),
        F.min(F.when(F.col("cdf") * 2 >= F.col("n"), F.col("v")))
         .alias("median"),
        F.min(F.when(F.col("cdf") * 4 >= F.col("n") * 3, F.col("v")))
         .alias("p75"))

"""Tiled stencil with HALO EXCHANGE — neighborhood ops across tile
boundaries, the distributed form of raster_gradient_stats.

A stencil at a tile-border pixel needs pixels the neighboring tile
owns. The distributed idiom: every tile emits its 1-pixel edge strips
(and, for 8-neighbor kernels, its 4 corner pixels) keyed to the
neighbor that needs them (a shuffle of thin strips — ~4·ts+4 pixels
per tile, trivially small next to the tile itself), then one
groupBy(tile) assembles a (ts+2)² padded canvas (own pixels +
received halos, absent neighbors padded with nodata) and the stencil
runs task-local over the tile's OWN pixels. Exactly one shuffle,
keyed by the owning tile; strips and tiles ride it together via a
unified row shape.

`_halo_apply` is the one path through that exchange: every tiled-
neighborhood operator is a `per_tile(tx, ty, pad)` callback on it —
the stats stencils here (through `_halo_stats`), the PNG emitters
tile_halo_shade_tiles / tile_halo_shaded_relief,
watershed.pixel_successors and isolines.isoline_segments. The Horn
3×3 gradient numerators all come from `_horn`.

Correctness contract: summed per tile, the result equals the stencil
over the UNPARTITIONED canvas restricted to each tile's pixels — the
oracle entries check that identity against DuckDB twins that never
see tiles at all (any halo routing/orientation bug flips the border
sums).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..png import decode_band

_STATS_SCHEMA = "tx long, ty long, n_valid long, sum_g2 long, max_g2 long"
_PNG_SCHEMA = "tx long, ty long, png binary"
# pandas dtype of each Spark type a _halo_apply schema uses
_PANDAS_DTYPES = {"long": "int64", "binary": object}


def _halo_unified(tiles: DataFrame, tile_size: int,
                  corners: bool) -> DataFrame:
    """The halo-exchange transport of _halo_apply: explode every tile
    into itself + its edge strips (+ corner pixels for 8-neighbor
    kernels) keyed to the receiving tile — the unified row stream one
    groupBy(tx, ty) then assembles into padded canvases."""
    ts = int(tile_size)

    def explode_strips(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # unified rows: kind 'C' = the tile itself (png payload);
        # 'N'/'S'/'E'/'W' = the 1-pixel strip arriving at (tx, ty)
        # FROM that side; 'NW'/'NE'/'SW'/'SE' = single corner pixels
        # (emitted only for 8-neighbor kernels)
        for pdf in batches:
            out = {"tx": [], "ty": [], "kind": [], "payload": []}
            for row in pdf.itertuples(index=False):
                band = decode_band(bytes(row.png), "png;u8")
                if band.shape != (ts, ts):
                    raise ValueError(
                        f"tile ({row.tx},{row.ty}) is {band.shape}, "
                        f"expected {(ts, ts)}")
                out["tx"].append(row.tx)
                out["ty"].append(row.ty)
                out["kind"].append("C")
                out["payload"].append(bytes(row.png))
                # 'kind' names the side of the RECEIVER the strip
                # attaches to: my top edge pads the SOUTH side of the
                # tile above me, my left column the EAST side of the
                # tile to my left, etc.
                emits = [
                    (0, -1, "S", band[0, :]),       # to tile above
                    (0, +1, "N", band[ts - 1, :]),  # to tile below
                    (-1, 0, "E", band[:, 0]),       # to tile left
                    (+1, 0, "W", band[:, ts - 1]),  # to tile right
                ]
                if corners:
                    # my corner pixel pads the OPPOSITE corner of the
                    # diagonal neighbor: top-left -> SE pad of the tile
                    # up-left, bottom-right -> NW pad of down-right, …
                    emits += [
                        (-1, -1, "SE", band[0:1, 0]),
                        (+1, -1, "SW", band[0:1, ts - 1]),
                        (-1, +1, "NE", band[ts - 1:ts, 0]),
                        (+1, +1, "NW", band[ts - 1:ts, ts - 1]),
                    ]
                for dtx, dty, kind, strip in emits:
                    out["tx"].append(int(row.tx) + dtx)
                    out["ty"].append(int(row.ty) + dty)
                    out["kind"].append(kind)
                    out["payload"].append(np.ascontiguousarray(strip).tobytes())
            yield pd.DataFrame(out)

    return tiles.select("tx", "ty", "png").mapInPandas(
        explode_strips, "tx long, ty long, kind string, payload binary")


def _pad_from_group(pdf: pd.DataFrame,
                    nodata: int) -> np.ndarray | None:
    """Assemble one tile's padded (ts+2)² canvas from its unified-row
    group (own pixels + received halo strips; absent neighbors stay
    nodata). None when the group has no center tile (strips addressed
    past the canvas boundary)."""
    center = pdf[pdf["kind"] == "C"]
    if center.empty:
        return None
    band = decode_band(bytes(center.iloc[0]["payload"]), "png;u8")
    ts_ = band.shape[0]
    pad = np.full((ts_ + 2, ts_ + 2), nodata, dtype=np.int64)
    pad[1:-1, 1:-1] = band
    slots = {"N": (slice(0, 1), slice(1, ts_ + 1)),
             "S": (slice(ts_ + 1, ts_ + 2), slice(1, ts_ + 1)),
             "W": (slice(1, ts_ + 1), slice(0, 1)),
             "E": (slice(1, ts_ + 1), slice(ts_ + 1, ts_ + 2)),
             "NW": (slice(0, 1), slice(0, 1)),
             "NE": (slice(0, 1), slice(ts_ + 1, ts_ + 2)),
             "SW": (slice(ts_ + 1, ts_ + 2), slice(0, 1)),
             "SE": (slice(ts_ + 1, ts_ + 2), slice(ts_ + 1, ts_ + 2))}
    strips = pdf[pdf["kind"] != "C"]
    for kind, payload in zip(strips["kind"].to_numpy(),
                             strips["payload"].to_numpy()):
        rs, cs = slots[kind]
        strip = np.frombuffer(bytes(payload), dtype=band.dtype)
        pad[rs, cs] = strip.reshape(rs.stop - rs.start,
                                    cs.stop - cs.start)
    return pad


def _halo_apply(tiles: DataFrame, tile_size: int, nodata: int,
                corners: bool,
                per_tile: Callable[[int, int, np.ndarray], dict | None],
                schema: str) -> DataFrame:
    """The one halo-exchange path: the _halo_unified transport, one
    shuffle on the owning tile, _pad_from_group, then
    `per_tile(tx, ty, pad)` -> the tile's output columns (anything
    pd.DataFrame accepts), or None for no rows. Groups without a center
    tile (strips addressed past the canvas boundary) emit no rows
    either; `schema` is the output's Spark DDL (long / binary
    columns)."""
    empty = pd.DataFrame({
        name: pd.Series([], dtype=_PANDAS_DTYPES[typ])
        for name, typ in (col.split() for col in schema.split(","))})

    # fully-annotated signature (key + frame): a partial hint makes
    # pyspark's eval-type inference warn and fall back
    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _pad_from_group(pdf, nodata)
        cols = None if pad is None else per_tile(int(key[0]), int(key[1]),
                                                 pad)
        return empty if cols is None else pd.DataFrame(cols)

    return (_halo_unified(tiles, tile_size, corners).groupBy("tx", "ty")
            .applyInPandas(assemble, schema))


def _moments(valid: np.ndarray, g: np.ndarray) -> tuple[int, int, int]:
    """(n_valid, Σg, max g) of a per-pixel value over the valid
    pixels — the default stats reduce."""
    vg = g[valid]
    return int(valid.sum()), int(vg.sum()), int(vg.max())


def _halo_stats(tiles: DataFrame, tile_size: int, nodata: int,
                corners: bool, stencil: Callable[[np.ndarray], tuple],
                reduce: Callable[..., tuple[int, int, int]] = _moments,
                ) -> DataFrame:
    """The stats operators' per_tile on _halo_apply: run
    `stencil(pad) -> (valid, *aux)` over the tile's own pixels, then
    `reduce(valid, *aux) -> (n_valid, sum_g2, max_g2)` packs anything
    integer into the shared stats schema (default _moments: aux is one
    per-pixel value). Tiles without a valid pixel emit no row."""

    def per_tile(tx: int, ty: int, pad: np.ndarray) -> dict | None:
        valid, *aux = stencil(pad)
        if not valid.any():
            return None
        n_valid, sum_g2, max_g2 = reduce(valid, *aux)
        return {"tx": [tx], "ty": [ty], "n_valid": [int(n_valid)],
                "sum_g2": [int(sum_g2)], "max_g2": [int(max_g2)]}

    return _halo_apply(tiles, tile_size, nodata, corners, per_tile,
                       _STATS_SCHEMA)


def _window9(pad: np.ndarray, nodata: int):
    """The 9 shifted views of the 3×3 neighborhood (row-major, center
    = index 4) plus the all-valid mask (center + 8 neighbors
    non-nodata)."""
    views = [pad[r:r + pad.shape[0] - 2, c:c + pad.shape[1] - 2]
             for r in range(3) for c in range(3)]
    valid = views[4] != nodata
    for v in views:
        valid &= v != nodata
    return views, valid


def _horn(pad: np.ndarray, nodata: int):
    """Horn 1981 / Sobel 3×3 gradient numerators over the tile's own
    pixels: (valid8, gx, gy) with gx = (ne+2e+se) − (nw+2w+sw),
    gy = (sw+2s+se) − (nw+2n+ne) (rows grow south) and valid8 = the
    center and all 8 neighbors non-nodata."""
    (nw, n_, ne, w_, _, e_, sw, s_, se), valid = _window9(pad, nodata)
    gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    return valid, gx, gy


def _pack8(valid: np.ndarray, classes: np.ndarray) -> tuple[int, int, int]:
    """(n_valid, lo, hi): the histogram of 8 classes (−1 = unclassed)
    packed 4×16 bits per stats column, classes 0-3 in lo, 4-7 in hi
    (counts ≤ ts² = 16384 < 2^16, so the packing is lossless)."""
    counts = np.bincount(classes[classes >= 0], minlength=8)
    lo = sum(int(counts[k]) << (16 * k) for k in range(4))
    hi = sum(int(counts[k + 4]) << (16 * k) for k in range(4))
    return int(valid.sum()), lo, hi


def tile_halo_gradient(tiles: DataFrame, tile_size: int,
                       nodata: int = 0) -> DataFrame:
    """tiles (tx, ty, png of a ts×ts band) -> per-tile integer stats
    of the central-difference gradient magnitude gx² + gy², where
    border pixels use HALOS exchanged from the 4-neighbor tiles.

    A pixel contributes iff its center and all four neighbors are
    valid (non-nodata); pixels on the global canvas boundary (no
    neighbor tile) are excluded by the nodata padding. Output:
    (tx, ty, n_valid, sum_g2, max_g2)."""

    def stencil(pad: np.ndarray):
        c = pad[1:-1, 1:-1]
        gx = pad[1:-1, 2:] - pad[1:-1, :-2]
        gy = pad[2:, 1:-1] - pad[:-2, 1:-1]
        valid = ((c != nodata)
                 & (pad[1:-1, 2:] != nodata) & (pad[1:-1, :-2] != nodata)
                 & (pad[2:, 1:-1] != nodata) & (pad[:-2, 1:-1] != nodata))
        return valid, gx * gx + gy * gy

    return _halo_stats(tiles, tile_size, nodata, corners=False,
                       stencil=stencil)


def tile_halo_sobel(tiles: DataFrame, tile_size: int,
                    nodata: int = 0) -> DataFrame:
    """8-NEIGHBOR halo stencil: the Sobel gradient magnitude
    gx² + gy² with gx = (ne + 2e + se) - (nw + 2w + sw) and
    gy = (sw + 2s + se) - (nw + 2n + ne), where border pixels use
    edge strips AND single-pixel corner halos from the 8 neighbor
    tiles (diagonal kernels need the corners — a 4-neighbor exchange
    mis-pads exactly the four tile-corner pixels).

    A pixel contributes iff its center and all EIGHT neighbors are
    valid (non-nodata). Output: (tx, ty, n_valid, sum_g2, max_g2)."""

    def stencil(pad: np.ndarray):
        valid, gx, gy = _horn(pad, nodata)
        return valid, gx * gx + gy * gy

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


def tile_halo_morph(tiles: DataFrame, tile_size: int,
                    nodata: int = 0) -> DataFrame:
    """Morphological GRADIENT (3×3 dilation − erosion, the edge
    detector of mathematical morphology) over the 8-neighbor halo
    exchange: per valid pixel g = max₉ − min₉ of the 3×3 window;
    per-tile (n_valid, Σg, max g).  Exact integers; the DuckDB twin is
    GREATEST(…9…) − LEAST(…9…) over the canvas formula."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        stack = np.stack(views)
        return valid, stack.max(axis=0) - stack.min(axis=0)

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


def tile_halo_median(tiles: DataFrame, tile_size: int,
                     nodata: int = 0) -> DataFrame:
    """3×3 MEDIAN filter (salt-and-pepper denoise) over the 8-neighbor
    halo exchange: per valid pixel the 5th-smallest of the 9 window
    values; per-tile (n_valid, Σmedian, max median).  Exact integers;
    the DuckDB twin sorts the 9-element list and takes element 5."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        med = np.partition(np.stack(views), 4, axis=0)[4]
        return valid, med

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


# D8 neighbor order (priority for ties — fixed, part of the contract):
# E, SE, S, SW, W, NW, N, NE; dist² = 1 orthogonal, 2 diagonal.
_D8_OFFSETS = ((0, 1, 1), (1, 1, 2), (1, 0, 1), (1, -1, 2),
               (0, -1, 1), (-1, -1, 2), (-1, 0, 1), (-1, 1, 2))


def d8_direction(window_drops: list[np.ndarray]) -> np.ndarray:
    """D8 steepest-descent direction from the 8 drops (center −
    neighbor, priority order _D8_OFFSETS): index 0-7 of the winning
    neighbor, −1 for pits/flats (no positive drop). Slope comparison
    is cross-multiplied integer arithmetic — d_i²·dist²_j vs
    d_j²·dist²_i — so no √2 ever materializes and the SQL twin is
    bit-identical; earlier index wins exact slope ties (only possible
    between equal-distance neighbors: 2a² = b² forces a = b = 0)."""
    best = np.full(window_drops[0].shape, -1, dtype=np.int64)
    best_drop = np.zeros_like(window_drops[0])
    best_d2 = np.ones_like(window_drops[0])
    for i, (_, _, d2) in enumerate(_D8_OFFSETS):
        drop = window_drops[i]
        challenger = (drop > 0) & (
            (best < 0)
            | (drop * drop * best_d2 > best_drop * best_drop * d2))
        best = np.where(challenger, i, best)
        best_drop = np.where(challenger, drop, best_drop)
        best_d2 = np.where(challenger, d2, best_d2)
    return best


def tile_halo_flowdir(tiles: DataFrame, tile_size: int,
                      nodata: int = 0) -> DataFrame:
    """D8 FLOW DIRECTION histogram (the hydrology primitive) over the
    8-neighbor halo exchange: per valid pixel the steepest-descent
    neighbor (d8_direction), per tile the 8-direction histogram
    packed like tile_halo_terrain (dirs 0-3 in sum_g2, 4-7 in max_g2,
    4×16 bits each; pits/flats = n_valid − Σ directions)."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        c = views[4]
        # views index r*3+c: map _D8_OFFSETS (dr, dc) -> view index
        drops = [c - views[(dr + 1) * 3 + (dc + 1)]
                 for dr, dc, _ in _D8_OFFSETS]
        return valid, drops

    def reduce(valid: np.ndarray, drops) -> tuple[int, int, int]:
        return _pack8(valid, d8_direction([d[valid] for d in drops]))

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil, reduce=reduce)


def tile_halo_mean(tiles: DataFrame, tile_size: int,
                   nodata: int = 0) -> DataFrame:
    """3×3 FOCAL MEAN (box smoothing) over the 8-neighbor halo
    exchange: per valid pixel round-half-up of the 9-window average,
    (Σ₉ + 4) // 9 — numerator non-negative, so numpy floor division
    equals DuckDB's truncating `//`. Per-tile (n_valid, Σmean, max
    mean)."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        total = sum(views)
        return valid, (total + 4) // 9

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


def tile_halo_tri(tiles: DataFrame, tile_size: int,
                  nodata: int = 0) -> DataFrame:
    """Terrain Ruggedness Index (×8 fixed point, exact integer):
    per valid pixel Σ|center − neighbor| over the 8 neighbors — 8×
    the Wilson mean-absolute-difference TRI, kept integer so the
    DuckDB twin is a plain ABS sum. Per-tile (n_valid, Σtri, max
    tri) over the 8-neighbor halo exchange."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        c = views[4]
        tri = np.zeros_like(c)
        for i, v in enumerate(views):
            if i != 4:
                tri += np.abs(c - v)
        return valid, tri

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


def tile_halo_tpi(tiles: DataFrame, tile_size: int,
                  nodata: int = 0) -> DataFrame:
    """Topographic Position Index (×8 fixed point, exact integer):
    per valid pixel 8·center − Σneighbors (positive = ridge,
    negative = valley). Per-tile (n_valid, Σtpi, max tpi); sums and
    maxima may be negative — the stats schema is signed."""

    def stencil(pad: np.ndarray):
        views, valid = _window9(pad, nodata)
        c = views[4]
        nb = sum(v for i, v in enumerate(views) if i != 4)
        return valid, 8 * c - nb

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=stencil)


def aspect_octant(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Exact-integer aspect sector: the half-open 45° sector of
    atan2(gy, gx) in [0°, 360°), 0 = [0°, 45°), …, 7 = [315°, 360°);
    -1 for flat cells (gx = gy = 0).  Pure sign/magnitude comparisons
    — no trig crosses the engine boundary, so the DuckDB twin's CASE
    ladder is bit-identical by construction (tests pin the ladder
    against math.atan2 away from sector boundaries AND the boundary
    rays explicitly)."""
    conds = [
        (gx > 0) & (gy >= 0) & (gy < gx),          # [0, 45)
        (gy > 0) & (gx > 0) & (gy >= gx),          # [45, 90)
        (gy > 0) & (gx <= 0) & (gy > -gx),         # [90, 135)
        (gy > 0) & (gx < 0) & (gy <= -gx),         # [135, 180)
        (gy <= 0) & (gx < 0) & (-gy < -gx),        # [180, 225)
        (gy < 0) & (gx < 0) & (-gy >= -gx),        # [225, 270)
        (gy < 0) & (gx >= 0) & (-gy > gx),         # [270, 315)
        (gy < 0) & (gx > 0) & (-gy <= gx),         # [315, 360)
    ]
    return np.select(conds, list(range(8)), default=-1)


def hillshade_constants(azimuth_deg: float = 315.0,
                        altitude_deg: float = 45.0,
                        z_factor: float = 1.0,
                        cellsize: float = 1.0) -> tuple[float, float,
                                                        float, float]:
    """Driver-side trig folding for the Horn hillshade: returns
    (sa, bx, cy, d) such that the illumination cosine of a pixel with
    integer Horn gradient numerators (gx, gy) is

        cang = ((sa + bx·gx) + cy·gy) / sqrt(1 + d·(gx² + gy²))

    Derivation: surface normal ∝ (-p, -q, 1) with p = dh/dx·z (east),
    q = dh/dnorth·z; sun unit vector (sin az·cos alt, cos az·cos alt,
    sin alt), azimuth clockwise from north. Horn's numerators over the
    8·cellsize divisor give p = a·gx, q = -a·gy (rows grow SOUTH),
    a = z/(8·cs) — so sa = sin alt, bx = -cos alt·sin az·a,
    cy = cos alt·cos az·a, d = a². All trig happens HERE, once, in
    the driver; executors and the DuckDB twin see only the folded
    doubles, and every remaining op (+ · / sqrt) is IEEE
    correctly-rounded — the two engines are bit-identical by
    construction, no transcendental margin design needed (contrast
    warp's exp/atan fixtures)."""
    import math

    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    a = z_factor / (8.0 * cellsize)
    return (math.sin(alt), -math.cos(alt) * math.sin(az) * a,
            math.cos(alt) * math.cos(az) * a, a * a)


def shade_u8(gx: np.ndarray, gy: np.ndarray,
             consts: tuple[float, float, float, float]) -> np.ndarray:
    """gdaldem-hillshade value in [1, 255] from integer Horn gradient
    numerators: 1 where the surface faces away from the sun
    (cang ≤ 0), else round-half-up of 1 + 254·cang. Op order is the
    cross-engine contract — the SQL twin mirrors it term for term."""
    sa, bx, cy, d = consts
    gxf = gx.astype(np.float64)
    gyf = gy.astype(np.float64)
    num = (sa + bx * gxf) + cy * gyf
    den = np.sqrt(1.0 + d * (gxf * gxf + gyf * gyf))
    cang = num / den
    raw = np.floor((1.0 + 254.0 * cang) + 0.5).astype(np.int64)
    return np.where(cang <= 0.0, np.int64(1), raw)


def tile_halo_hillshade(tiles: DataFrame, tile_size: int,
                        nodata: int = 0, azimuth_deg: float = 315.0,
                        altitude_deg: float = 45.0, z_factor: float = 1.0,
                        cellsize: float = 1.0) -> DataFrame:
    """Horn HILLSHADE (the `gdaldem hillshade` analog) over the
    8-neighbor halo exchange: per valid pixel the u8 illumination
    value shade_u8(gx, gy) for the given sun azimuth/altitude; per
    tile n_valid, Σshade, and max·256+min packed into max_g2 (shade
    ≤ 255, lossless). Trig is folded driver-side
    (hillshade_constants); the executor arithmetic is exact-integer
    gradients plus correctly-rounded double ops, so the DuckDB twin
    matches bit for bit."""
    consts = hillshade_constants(azimuth_deg, altitude_deg, z_factor,
                                 cellsize)

    def reduce(valid: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> tuple[int, int, int]:
        sh = shade_u8(gx[valid], gy[valid], consts)
        return (int(valid.sum()), int(sh.sum()),
                int(sh.max()) * 256 + int(sh.min()))

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=lambda pad: _horn(pad, nodata),
                       reduce=reduce)


def tile_halo_shade_tiles(tiles: DataFrame, tile_size: int,
                          nodata: int = 0, azimuth_deg: float = 315.0,
                          altitude_deg: float = 45.0,
                          z_factor: float = 1.0,
                          cellsize: float = 1.0) -> DataFrame:
    """PNG-emitting hillshade: (tx, ty, png) -> (tx, ty, png) of u8
    shade tiles (pixels whose 8-neighborhood is incomplete render as
    nodata; all-nodata output tiles drop). Same halo exchange and
    shade arithmetic as tile_halo_hillshade — the stats leg pins the
    values, this variant materializes the raster (composable with
    overzoom, the mbtiles/pmtiles sinks, merge …)."""
    from ..png import encode_grayscale8

    consts = hillshade_constants(azimuth_deg, altitude_deg, z_factor,
                                 cellsize)

    def per_tile(tx: int, ty: int, pad: np.ndarray) -> dict | None:
        valid, gx, gy = _horn(pad, nodata)
        if not valid.any():
            return None
        sh = np.full(valid.shape, nodata, dtype=np.int64)
        sh[valid] = shade_u8(gx[valid], gy[valid], consts)
        return {"tx": [tx], "ty": [ty],
                "png": [encode_grayscale8(sh.astype(np.uint8), nodata)]}

    return _halo_apply(tiles, tile_size, nodata, True, per_tile,
                       _PNG_SCHEMA)


def tile_halo_shaded_relief(tiles: DataFrame, tile_size: int,
                            nodata: int = 0, azimuth_deg: float = 315.0,
                            altitude_deg: float = 45.0,
                            z_factor: float = 1.0,
                            cellsize: float = 1.0,
                            ramp=None) -> DataFrame:
    """SHADED RELIEF — the classic cartographic product: the color
    ramp (algebra.relief_rgb) multiplied by the Horn hillshade,
    channel-wise with a CEILING blend: out = (ramp_ch·shade + 254)
    // 255 — any nonzero ramp channel stays ≥ 1 however dark the
    shade, so a valid pixel can never collide with the (0,0,0) nodata
    color (every default-ramp color keeps a channel ≥ 40). ONE fused
    halo pass computes both (no second decode); pixels with
    incomplete 8-neighborhoods take shade = the flat value (their
    ramp color still shows — matching gdaldem compositing at edges).
    Output (tx, ty, png RGB); nodata renders (0,0,0)/transparent."""
    import math

    from ..png import encode_rgb
    from .algebra import DEFAULT_RELIEF_RAMP, relief_rgb

    if ramp is None:
        ramp = DEFAULT_RELIEF_RAMP
    consts = hillshade_constants(azimuth_deg, altitude_deg, z_factor,
                                 cellsize)
    flat_shade = int(math.floor(
        1.0 + 254.0 * math.sin(math.radians(altitude_deg)) + 0.5))

    def per_tile(tx: int, ty: int, pad: np.ndarray) -> dict | None:
        c = pad[1:-1, 1:-1]
        valid = c != nodata
        if not valid.any():
            return None
        full, gx, gy = _horn(pad, nodata)
        shade = np.full(c.shape, np.int64(flat_shade))
        shade[full] = shade_u8(gx[full], gy[full], consts)
        rgb = relief_rgb(c.astype(np.uint8), ramp, nodata).astype(np.int64)
        out = (rgb * shade[:, :, None] + 254) // 255
        out[~valid] = 0
        return {"tx": [tx], "ty": [ty],
                "png": [encode_rgb(out.astype(np.uint8), 0)]}

    return _halo_apply(tiles, tile_size, nodata, True, per_tile,
                       _PNG_SCHEMA)


def slope_permille(gx: np.ndarray, gy: np.ndarray,
                   k: float) -> np.ndarray:
    """gdaldem-slope (percent, ×1000 fixed point) from integer Horn
    gradient numerators: round-half-up of 1000·k·sqrt(gx²+gy²) with
    k = 100·z/(8·cellsize) folded driver-side. sqrt and · are
    correctly rounded, so the SQL twin is bit-identical."""
    g2f = (gx * gx + gy * gy).astype(np.float64)
    return np.floor((k * np.sqrt(g2f)) * 1000.0 + 0.5).astype(np.int64)


def tile_halo_slope(tiles: DataFrame, tile_size: int,
                    nodata: int = 0, z_factor: float = 1.0,
                    cellsize: float = 1.0) -> DataFrame:
    """Horn SLOPE-percent (the `gdaldem slope -p` analog, ×1000 fixed
    point) over the 8-neighbor halo exchange: per tile n_valid,
    Σslope‰, max slope‰."""
    k = 100.0 * z_factor / (8.0 * cellsize)

    def reduce(valid: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> tuple[int, int, int]:
        sp = slope_permille(gx[valid], gy[valid], k)
        return int(valid.sum()), int(sp.sum()), int(sp.max())

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=lambda pad: _horn(pad, nodata),
                       reduce=reduce)


def tile_halo_terrain(tiles: DataFrame, tile_size: int,
                      nodata: int = 0) -> DataFrame:
    """Horn terrain ASPECT analysis (the `gdaldem aspect` class-map
    analog, kept exact-integer): per pixel the Horn 1981 gradient
    numerators gx = (ne+2e+se)-(nw+2w+sw), gy = (sw+2s+se)-(nw+2n+ne)
    — the same 3×3 sums gdaldem divides by 8·cellsize before the
    atan2 — classified into 8 half-open 45° compass sectors by
    sign/magnitude comparisons alone (aspect_octant), so the whole
    surface-direction histogram crosses the SQL gate bit-exactly.

    Output packs the per-tile octant histogram into the shared halo
    stats schema: n_valid = valid 8-neighborhood pixels (flats
    included), sum_g2 = Σ count(oct k)·2^(16k) for k 0..3, max_g2 =
    the same for k 4..7 (counts ≤ ts² = 16384 < 2^16, so the packing
    is lossless and the top term stays under 2^62).  Border pixels use
    edge strips + corner halos from the 8 neighbor tiles, like
    tile_halo_sobel."""

    def reduce(valid: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> tuple[int, int, int]:
        return _pack8(valid, aspect_octant(gx[valid], gy[valid]))

    return _halo_stats(tiles, tile_size, nodata, corners=True,
                       stencil=lambda pad: _horn(pad, nodata),
                       reduce=reduce)

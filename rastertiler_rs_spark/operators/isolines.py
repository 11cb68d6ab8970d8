"""Distributed ISOLINE extraction (marching squares) — contour
segments of a tiled raster at a threshold, the raster→vector LINE
completion (beside polygonize's region grouping): gdal_contour's
cell step, done Spark-first.

Marching squares walks the (H−1)×(W−1) grid of 2×2 pixel CELLS; a
cell whose top-left pixel is a tile's last row/column needs pixels
the next tile owns. Those arrive through the package's one halo
exchange (halo._halo_apply, O(perimeter) strips): the south row, east
column and south-east corner of the tile's padded canvas complete its
(ts+1)² cell grid, and every cell is evaluated by exactly ONE owner
(the tile of its top-left pixel) — no dedup exchange, the zonal
reference-point argument again.

Everything is integer and therefore value-gateable: corners classify
by v ≥ T; edge crossings interpolate in fixed point, t = ((T−v0)·S)
// (v1−v0) with S = 256 (the quotient is always ≥ 0, where numpy's
floor and DuckDB's truncating division agree), so endpoints are
exact scaled integers and shared cell edges reproduce bit-identical
crossings from both owners — segments chain into closed loops by
construction. Cells touching a nodata pixel emit nothing. The two
saddle cases split by the center rule (a+b+c+d ≥ 4T picks the
connected diagonal). Per-case (from → to) orientation is fixed by
_CASES below; loop closure (every interior crossing appears once as
a source and once as a target) is pinned in tests.

The `iso` leg of `tile_halo` value-verifies per-tile segment counts,
an endpoint-coordinate sum, and the orientation-sensitive cross-
product sum against a DuckDB twin that restates the whole table over
the unpartitioned canvas formula.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .halo import _halo_apply

SCALE = 256

# case index = a·8 + b·4 + c·2 + d·1 for corners a=TL, b=TR, c=BR,
# d=BL (bit = pixel ≥ T). Edges: 't' top (a→b), 'r' right (b→c),
# 'b' bottom (d→c), 'l' left (a→d). Segments as (from, to), oriented
# so the ≥T region lies on the LEFT of travel in (x right, y down)
# screen coordinates (left normal of direction (dx, dy) is (dy, −dx));
# complementary cases are therefore exact reversals, which is what
# makes segments chain across cells (loop-closure test).
_CASES: dict[int, list[tuple[str, str]]] = {
    0: [], 15: [],
    8: [("l", "t")],               # TL           7 = complement
    7: [("t", "l")],               # TR+BR+BL
    4: [("t", "r")],               # TR           11 = complement
    11: [("r", "t")],              # TL+BR+BL
    2: [("r", "b")],               # BR           13 = complement
    13: [("b", "r")],              # TL+TR+BL
    1: [("b", "l")],               # BL           14 = complement
    14: [("l", "b")],              # TL+TR+BR
    12: [("l", "r")],              # TL+TR (top half), 3 = complement
    3: [("r", "l")],               # BL+BR (bottom half)
    6: [("t", "b")],               # TR+BR (right half), 9 = complement
    9: [("b", "t")],               # TL+BL (left half)
    # saddles, center < 4T (disconnected corner pair):
    10: [("l", "t"), ("r", "b")],  # TL+BR
    5: [("t", "r"), ("b", "l")],   # TR+BL
}
# saddles, center ≥ 4T: the connected-diagonal pairings
_SADDLE_HI = {10: [("l", "b"), ("r", "t")],
              5: [("t", "l"), ("b", "r")]}


def _tile_segments(pad: np.ndarray, thr: int, nodata: int,
                   gy0: int, gx0: int):
    """Vectorized marching squares over a (ts+1)² padded canvas; own
    cells are the ts×ts whose top-left pixel is the tile's. Returns
    int64 arrays (x1, y1, x2, y2) in SCALE-scaled global coords."""
    ts = pad.shape[0] - 1
    v = pad.astype(np.int64)
    a, b = v[:-1, :-1], v[:-1, 1:]
    d, c = v[1:, :-1], v[1:, 1:]
    valid = ((a != nodata) & (b != nodata)
             & (c != nodata) & (d != nodata))
    bits = ((a >= thr).astype(np.int64) * 8
            + (b >= thr).astype(np.int64) * 4
            + (c >= thr).astype(np.int64) * 2
            + (d >= thr).astype(np.int64) * 1)
    hi = (a + b + c + d) >= 4 * thr

    rows, cols = np.indices((ts, ts))
    gx = (cols + gx0) * SCALE
    gy = (rows + gy0) * SCALE

    def t_of(v0, v1):
        diff = v1 - v0
        safe = np.where(diff == 0, 1, diff)
        return np.where(diff == 0, 0, ((thr - v0) * SCALE) // safe)

    pts = {
        "t": (gx + t_of(a, b), gy),
        "r": (gx + SCALE, gy + t_of(b, c)),
        "b": (gx + t_of(d, c), gy + SCALE),
        "l": (gx, gy + t_of(a, d)),
    }

    outs = []
    for idx, segs in _CASES.items():
        if not segs:
            continue
        base = valid & (bits == idx)
        variants = [(base, segs)]
        if idx in _SADDLE_HI:
            variants = [(base & ~hi, segs), (base & hi, _SADDLE_HI[idx])]
        for mask, seglist in variants:
            if not mask.any():
                continue
            for e0, e1 in seglist:
                outs.append((pts[e0][0][mask], pts[e0][1][mask],
                             pts[e1][0][mask], pts[e1][1][mask]))
    if not outs:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    return tuple(np.concatenate([o[k] for o in outs]) for k in range(4))


def isoline_segments(tiles: DataFrame, tile_size: int, threshold: int,
                     nodata: int = 0) -> DataFrame:
    """Contour segments of a (tx, ty, png) tiled raster at
    ``threshold``: one row per segment, endpoints in SCALE-scaled
    global pixel coordinates, oriented per _CASES (shared edges
    reproduce identical crossings from both owners, so segments chain
    into loops across tiles). One halo exchange (_halo_apply): pad[1:, 1:]
    of the padded canvas is the (ts+1)² grid of the tile's own cells."""
    ts = int(tile_size)
    thr = int(threshold)

    def per_tile(tx: int, ty: int, pad: np.ndarray) -> dict | None:
        x1, y1, x2, y2 = _tile_segments(pad[1:, 1:], thr, nodata,
                                        ty * ts, tx * ts)
        if not x1.size:
            return None
        return {"tx": tx, "ty": ty, "x1": x1, "y1": y1, "x2": x2, "y2": y2}

    return _halo_apply(tiles, ts, nodata, True, per_tile,
                       "tx long, ty long, x1 long, y1 long, x2 long, y2 long")


def isolines_to_mvt(tiles: DataFrame, tile_size: int, threshold: int,
                    nodata: int = 0, layer: str = "contours") -> DataFrame:
    """Contours as MVT vector tiles: chain each tile's segments into
    maximal polylines (every crossing has ≤1 incoming and ≤1 outgoing
    segment within a tile, so chains are unambiguous walks; loops
    close where the walk returns to its start) and encode one
    LINESTRING feature per chain at extent = tile_size·SCALE, so
    coordinates stay exact integers end to end (decode-back ==
    isoline_segments, pinned in tests). Chains are deterministic:
    open chains start at in-degree-0 points, loops at their minimal
    point, features ordered by first vertex."""
    ts = int(tile_size)
    extent = ts * SCALE
    segs = isoline_segments(tiles, tile_size, threshold, nodata)

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..mvt import encode_mvt

        tx, ty = int(key[0]), int(key[1])
        ox, oy = tx * extent, ty * extent
        # multigraph: a crossing that lands exactly on a cell corner
        # (t = 0 or SCALE) can coincide with another edge's crossing,
        # so a point may carry several in/out segments
        outs: dict = {}
        indeg: dict = {}
        for r in pdf.itertuples(index=False):
            a = (int(r.x1) - ox, int(r.y1) - oy)
            b = (int(r.x2) - ox, int(r.y2) - oy)
            outs.setdefault(a, []).append(b)
            indeg[b] = indeg.get(b, 0) + 1
        for lst in outs.values():
            lst.sort(reverse=True)         # pop() takes the smallest
        chains = []

        def walk(start):
            pts = [start]
            p = start
            while outs.get(p):
                p = outs[p].pop()
                pts.append(p)
                if p == start:
                    break
            return pts

        for s in sorted(outs):
            excess = len(outs[s]) - indeg.get(s, 0)
            for _ in range(max(0, excess)):
                chains.append(walk(s))     # open chains
        for s in sorted(outs):
            while outs[s]:
                chains.append(walk(s))     # residual closed loops
        chains.sort(key=lambda c: (c[0], len(c)))
        features = [(fid, 2, [pts], {}) for fid, pts in
                    enumerate(chains, start=1)]
        blob = encode_mvt([(layer, extent, features)])
        return pd.DataFrame({"tx": [tx], "ty": [ty],
                             "n_features": [len(features)],
                             "mvt": [blob]})

    return segs.groupBy("tx", "ty").applyInPandas(
        encode, "tx long, ty long, n_features int, mvt binary")


def isoline_stats(tiles: DataFrame, tile_size: int, threshold: int,
                  nodata: int = 0) -> DataFrame:
    """Value-gate reduction: per tile, the segment count, the
    endpoint-coordinate sum Σ(x1+x2+3·(y1+y2)), and the orientation-
    sensitive Σ(x1·y2 − x2·y1) — a transcription slip in any case's
    topology, interpolation, or from/to order flips one of them."""
    segs = isoline_segments(tiles, tile_size, threshold, nodata)
    return (segs.groupBy("tx", "ty")
            .agg(F.count(F.lit(1)).alias("n_seg"),
                 F.sum(F.col("x1") + F.col("x2")
                       + (F.col("y1") + F.col("y2")) * F.lit(3))
                 .alias("coord_sum"),
                 F.sum(F.col("x1") * F.col("y2")
                       - F.col("x2") * F.col("y1")).alias("cross_sum")))

"""OVERZOOM — serve zooms beyond the rendered maximum by nearest
upsampling of the parent tiles.

Tile servers routinely answer z > maxzoom requests by scaling the
deepest rendered level (the inverse of the reference's overview
cascade, src/main.rs:56-63 renders only up to --maxzoom); this
operator materializes those levels. Each parent tile at the source
level emits its 4^levels children: child (2^k·t + d) pixel (r, c) is
parent pixel ((d·ts + r) >> k, …) — the same +0.5-floor nearest rule
as kernel decimation, which for an exact 2^k upscale reduces to an
integer shift (floor((i+0.5)·src/dst) = i >> k when dst = src·2^k
over the child's local grid offset by d·ts).

Scale shape: NO shuffle — one mapInPandas over the parent tiles,
each task independent (a parent's children never depend on another
parent), so the stage is embarrassingly parallel at any corpus size.
Output rides the same (tx, ty, png) grid schema.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernel import encode_tile
from ..png import decode_band


def upsample_child(parent: np.ndarray, dx: int, dy: int,
                   levels: int) -> np.ndarray:
    """The (dx, dy) child canvas (of 2^levels × 2^levels children) of
    a ts×ts parent: nearest sample at the integer-shift rule."""
    ts = parent.shape[0]
    rows = (dy * ts + np.arange(ts, dtype=np.int64)) >> levels
    cols = (dx * ts + np.arange(ts, dtype=np.int64)) >> levels
    return parent[np.ix_(rows, cols)]


def overzoom_tiles(tiles: DataFrame, levels: int, tile_size: int,
                   dtype_tag: str = "u8", nodata: int = 0,
                   colormap_str: str | None = None) -> DataFrame:
    """(tx, ty, png) grid -> the 4^levels-per-parent child grid one
    or more levels finer, nearest-upsampled. Children that are
    entirely nodata are dropped (they would decode to the implicit
    empty tile, matching the render path's all-nodata skip)."""
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")
    ts = int(tile_size)
    n = 1 << levels
    fmt = f"png;{dtype_tag}"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..png import Colormap

        colormap = (Colormap.parse(colormap_str, nodata)
                    if colormap_str else None)
        for pdf in batches:
            out = {"tx": [], "ty": [], "png": []}
            for row in pdf.itertuples(index=False):
                parent = decode_band(bytes(row.png), fmt)
                if parent.shape != (ts, ts):
                    raise ValueError(
                        f"tile ({row.tx},{row.ty}) is {parent.shape}, "
                        f"expected {(ts, ts)}")
                for dy in range(n):
                    for dx in range(n):
                        child = upsample_child(parent, dx, dy, levels)
                        if (child == nodata).all():
                            continue
                        out["tx"].append(int(row.tx) * n + dx)
                        out["ty"].append(int(row.ty) * n + dy)
                        out["png"].append(encode_tile(
                            np.ascontiguousarray(child), dtype_tag,
                            nodata, colormap))
            yield pd.DataFrame(out)

    return tiles.select("tx", "ty", "png").mapInPandas(
        fn, "tx long, ty long, png binary")

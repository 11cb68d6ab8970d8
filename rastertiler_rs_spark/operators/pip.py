"""Point-in-polygon via prepared-geometry ray casting (north-star J5).

Polygons are broadcast as numpy coordinate arrays (the "prepared"
form); the even-odd crossing test runs vectorized over Arrow batches —
one numpy pass per (polygon, candidate-batch), no per-row Python.

Two physical plans, same results:

- broadcast loop (cell_size=None): every batch tests every polygon.
  Right for a handful of polygons (zero join, zero shuffle).
- cell prefilter (cell_size=...): polygon bboxes explode to covering
  grid cells (spatial_join.with_cover_cells), each point maps to
  exactly ONE cell, and a broadcast equi-join + bbox residual prunes
  to candidate (point, polygon) pairs before any ray cast. Per-point
  cost is O(polygons overlapping its cell), not O(all polygons) —
  the 100 TB plan for 1e5+ polygon sets. Since a point covers one
  cell, a candidate pair appears exactly once: no pair dedup needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import local_frame
from .spatial_join import with_cover_cells


def ray_cast(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd rule: points (px, py) vs polygon ring (xs, ys)
    (closed implicitly). Returns bool array."""
    inside = np.zeros(px.shape, dtype=bool)
    n = len(xs)
    j = n - 1
    for i in range(n):
        x1, y1, x2, y2 = xs[j], ys[j], xs[i], ys[i]
        j = i
        if y1 == y2:  # horizontal edge can never satisfy (y1>py) != (y2>py)
            continue
        crosses = ((y1 > py) != (y2 > py)) & (
            px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
        )
        inside ^= crosses
    return inside


def _prepare(polygons: list[tuple]) -> list[tuple]:
    return [
        (pid_, np.array([p[0] for p in ring], dtype=np.float64),
         np.array([p[1] for p in ring], dtype=np.float64))
        for pid_, ring in polygons
    ]


def pip_join(points: DataFrame, polygons: list[tuple], point_id: str = "pid",
             cell_size: float | None = None) -> DataFrame:
    """points(pid, px, py) x polygons [(poly_id, [(x, y), ...]), ...] →
    (pid, poly_id) pairs where the point is inside.

    ``cell_size`` switches on the candidate prefilter (see module doc);
    pick it near the median polygon diameter so a typical polygon spans
    ~1 cell and a typical point sees few candidates.
    """
    if cell_size is not None:
        return _pip_join_prefiltered(points, polygons, point_id, cell_size)
    spark = points.sparkSession
    prepared = _prepare(polygons)
    bc = spark.sparkContext.broadcast(prepared)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = bc.value
        for pdf in batches:
            px = pdf["px"].to_numpy(dtype=np.float64)
            py = pdf["py"].to_numpy(dtype=np.float64)
            ids = pdf[point_id]
            frames = []
            for poly_id, xs, ys in polys:
                mask = ray_cast(px, py, xs, ys)
                if mask.any():
                    frames.append(pd.DataFrame({point_id: ids[mask], "poly_id": poly_id}))
            yield pd.concat(frames) if frames else pd.DataFrame(
                {point_id: pd.Series([], dtype=ids.dtype), "poly_id": pd.Series([], dtype="int64")})

    schema = f"{point_id} long, poly_id long"
    return points.mapInPandas(fn, schema)


def _pip_join_prefiltered(points: DataFrame, polygons: list[tuple],
                          point_id: str, cell_size: float) -> DataFrame:
    """Cell-prefiltered plan: equi-join candidates, ray-cast survivors.

    The polygon-cell index is broadcast (1e5 polygons × few cells each
    is MBs); points never shuffle at all — the join and the ray cast
    both run map-side over the point partitions. The full coordinate
    arrays ride a sidecar sc.broadcast (not join columns), so candidate
    rows stay 4 doubles wide regardless of ring complexity.
    """
    spark = points.sparkSession
    prepared = _prepare(polygons)
    bc = spark.sparkContext.broadcast(
        {int(pid_): (xs, ys) for pid_, xs, ys in prepared})

    poly_rows = [
        (int(pid_), float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
        for pid_, xs, ys in prepared
    ]
    poly_cells = with_cover_cells(
        local_frame(
            spark, poly_rows, "poly_id long, minx double, miny double, maxx double, maxy double"),
        cell_size,
    ).select("poly_id", "minx", "miny", "maxx", "maxy", "cell_x", "cell_y")

    cs = F.lit(float(cell_size))
    pts = points.withColumn("cell_x", F.floor(F.col("px") / cs)) \
                .withColumn("cell_y", F.floor(F.col("py") / cs))
    cand = (
        pts.join(F.broadcast(poly_cells), ["cell_x", "cell_y"], "inner")
        .filter((F.col("px") >= F.col("minx")) & (F.col("px") <= F.col("maxx"))
                & (F.col("py") >= F.col("miny")) & (F.col("py") <= F.col("maxy")))
        .select(point_id, "px", "py", "poly_id")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = bc.value
        for pdf in batches:
            frames = []
            for poly_id, g in pdf.groupby("poly_id", sort=False):
                xs, ys = polys[int(poly_id)]
                mask = ray_cast(g["px"].to_numpy(dtype=np.float64),
                                g["py"].to_numpy(dtype=np.float64), xs, ys)
                if mask.any():
                    frames.append(pd.DataFrame(
                        {point_id: g[point_id].to_numpy()[mask],
                         "poly_id": int(poly_id)}))
            yield pd.concat(frames) if frames else pd.DataFrame(
                {point_id: pd.Series([], dtype="int64"),
                 "poly_id": pd.Series([], dtype="int64")})

    schema = f"{point_id} long, poly_id long"
    return cand.mapInPandas(fn, schema)

"""rastertiler_rs_spark — a from-scratch PySpark-native spatial-join +
tiling engine with the query/data-processing capabilities of
brendan-ward/rastertiler-rs (reference, read-only, at /root/reference).

Architecture (Spark-first, NOT a port):

- tile / affine / window math is a pure-numpy + Spark-column-expression
  library (``tilemath``, ``functions.columns``) — values, not classes;
- the render pipeline is declarative DataFrame ops with exactly one
  shuffle per zoom band: high zooms explode images to covering quadkey
  cells and stream sorted cell groups through a vectorized mapInPandas
  decode→window-read→mosaic→encode kernel (the shuffle ships compressed
  source bytes, not pixels); low zooms shuffle per-(image,tile)
  resampled blocks to a groupBy mosaic (optionally salted), or are
  built by the 2x2 overview cascade (``operators.overview``);
- PNG encode/decode is pure numpy + zlib (``png`` package);
- sinks are parquet tables ``tiles(zoom,x,y,tile_hash)`` +
  ``blobs(tile_hash,png)`` (MBTiles map/images shape,
  /root/reference/src/mbtiles.rs:13-30) with an optional driver-side
  SQLite .mbtiles materialization for golden comparison.
"""

from . import _worker

__version__ = "0.1.0"

_worker.install_if_worker()

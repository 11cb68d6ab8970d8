"""Single-process numpy oracle: the stand-in for the unbuildable
reference binary (GDAL is absent in this sandbox).

Renders the images table exactly like `rastertiler-rs render`
(/root/reference/src/render.rs:20-156) but in one process with numpy:
enumerate tiles per zoom over each image footprint, window-read (K1),
mosaic, encode, dedup by content hash, TMS y-flip. Pinned by the
reference's unit-test vectors (tests/test_tilemath.py) and by kernel
edge-case tests; the Spark pipeline must match it bit-for-bit on tile
IDs and PNG bytes.
"""

from __future__ import annotations

import sqlite3

import numpy as np

from . import tilemath as tm
from .fixtures import NODATA, footprint_from_index, image_index
from .functions.hashing import xxhash64
from .kernel import mosaic, read_tile_block, encode_tile
from .png import Colormap, decode_band


def render_oracle(rows, minzoom: int, maxzoom: int, tile_size: int = 512,
                  colormap_str: str | None = None):
    """rows: iterable of dicts with image_id, bytes, w, h, fmt.

    Returns (tiles, blobs): tiles = sorted list of
    (zoom, x, y_tms, tile_hash); blobs = {tile_hash: png_bytes}.
    """
    dtype_tag = None
    contributions: dict[tuple[int, int, int], list] = {}
    for row in rows:
        fmt = row["fmt"]
        tag = fmt.split(";")[1]
        if dtype_tag is None:
            dtype_tag = tag
        elif tag != dtype_tag:
            raise ValueError("mixed dtypes in one render (reference renders one band dtype)")
        i = image_index(row["image_id"])
        minx, miny, maxx, maxy = (float(v) for v in footprint_from_index(i))
        band = decode_band(bytes(row["bytes"]), fmt)
        for zoom in range(minzoom, maxzoom + 1):
            txmin, tymin, txmax, tymax = tm.tile_range(zoom, minx, miny, maxx, maxy)
            for _, tx, ty in tm.tile_range_iter(zoom, txmin, tymin, txmax, tymax):
                res = read_tile_block(band, minx, miny, maxx, maxy, zoom, tx, ty,
                                      tile_size, NODATA)
                if res is not None:
                    left, top, width, height, block = res
                    contributions.setdefault((zoom, tx, ty), []).append(
                        (row["image_id"], left, top, width, height, block))

    if colormap_str is not None and dtype_tag != "u8":
        raise ValueError("colormap can only be provided for uint8 data")
    colormap = Colormap.parse(colormap_str, NODATA) if colormap_str else None
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    tiles, blobs = [], {}
    for (zoom, tx, ty), contribs in contributions.items():
        canvas = mosaic(contribs, tile_size, NODATA, np_dtype)
        if canvas is None:
            continue
        png = encode_tile(canvas, dtype_tag, NODATA, colormap)
        h = xxhash64(png)
        blobs.setdefault(h, png)
        tiles.append((zoom, tx, int(tm.tms_flip_y(zoom, ty)), h))
    tiles.sort()
    return tiles, blobs


def overview_oracle(base: dict, top_zoom: int, minzoom: int, tile_size: int,
                    nodata: int = NODATA) -> dict:
    """The overview rule stated level by level: paste each parent's four
    children into a 2·tile_size super-canvas and keep pixels
    ``big[1::2, 1::2]`` (2x nearest decimation, K2 index 2i+1); an
    all-nodata parent is dropped. ``base`` maps (x, y) → value canvas at
    ``top_zoom``; returns {(zoom, x, y): canvas} for zooms
    [minzoom, top_zoom)."""
    ts = tile_size
    out, level = {}, base
    for z in range(top_zoom - 1, minzoom - 1, -1):
        bigs: dict[tuple[int, int], np.ndarray] = {}
        for (x, y), child in level.items():
            big = bigs.get((x >> 1, y >> 1))
            if big is None:
                big = bigs[(x >> 1, y >> 1)] = np.full((2 * ts, 2 * ts), nodata,
                                                       child.dtype)
            qy, qx = (y & 1) * ts, (x & 1) * ts
            big[qy : qy + ts, qx : qx + ts] = child
        level = {k: b[1::2, 1::2] for k, b in bigs.items()
                 if (b[1::2, 1::2] != nodata).any()}
        out.update({(z, x, y): c for (x, y), c in level.items()})
    return out


def metadata_for(rows, minzoom: int, maxzoom: int, name: str = "tiles") -> list[tuple[str, str]]:
    """Tileset metadata per /root/reference/src/render.rs:50-89."""
    idx = np.array([image_index(r["image_id"]) for r in rows], dtype=np.uint64)
    minx, miny, maxx, maxy = footprint_from_index(idx)
    exmin, eymin = float(np.min(minx)), float(np.min(miny))
    exmax, eymax = float(np.max(maxx)), float(np.max(maxy))
    gxmin, gymin = tm.mercator_to_geo(exmin, eymin)
    gxmax, gymax = tm.mercator_to_geo(exmax, eymax)
    return [
        ("name", name),
        ("minzoom", str(minzoom)),
        ("maxzoom", str(maxzoom)),
        ("bounds", f"{gxmin:.5f},{gymin:.5f},{gxmax:.5f},{gymax:.5f}"),
        ("center", f"{(gxmax + gxmin) / 2:.5f},{(gymax + gymin) / 2:.5f},{minzoom}"),
        ("type", "overlay"),
        ("format", "png"),
        ("version", "1.0.0"),
    ]


MBTILES_DDL = """
CREATE TABLE IF NOT EXISTS metadata (name text NOT NULL PRIMARY KEY, value text);
CREATE TABLE IF NOT EXISTS map (
    zoom_level INTEGER,
    tile_column INTEGER,
    tile_row INTEGER,
    tile_id sqlite3_int64
);
CREATE TABLE IF NOT EXISTS images (tile_id sqlite3_int64 NOT NULL PRIMARY KEY, tile_data blob);
CREATE VIEW IF NOT EXISTS tiles AS
    SELECT zoom_level, tile_column, tile_row, tile_data
    FROM map JOIN images ON images.tile_id = map.tile_id;
"""


def write_mbtiles(path: str, tiles, blobs, metadata, finalize: bool = False) -> None:
    """Materialize a real .mbtiles file (DDL per
    /root/reference/src/mbtiles.rs:13-30; unique index per :38-39).
    Driver-side, small scale only — the distributed sink is the
    tiles/blobs parquet pair.

    ``finalize`` runs the reference's post-merge compaction
    (/root/reference/src/mbtiles.rs:213-218): VACUUM reclaims free pages
    left by ignored duplicate inserts, PRAGMA optimize refreshes query-
    planner stats. The merge CLI passes True."""
    import os

    if os.path.exists(path):
        os.remove(path)
    conn = sqlite3.connect(path)
    conn.executescript(MBTILES_DDL)
    conn.executemany("INSERT INTO metadata (name,value) VALUES (?, ?)", metadata)
    conn.executemany(
        "INSERT OR IGNORE INTO images (tile_id, tile_data) VALUES (?, ?)",
        [(h, png) for h, png in blobs.items()],
    )
    conn.executemany(
        "INSERT INTO map (zoom_level, tile_column, tile_row, tile_id) VALUES (?, ?, ?, ?)",
        tiles,
    )
    conn.execute(
        "CREATE UNIQUE INDEX IF NOT EXISTS map_index ON map (zoom_level, tile_column, tile_row)"
    )
    conn.commit()
    if finalize:
        conn.executescript("VACUUM; PRAGMA optimize;")
    conn.close()

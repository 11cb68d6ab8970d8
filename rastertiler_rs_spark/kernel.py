"""The per-(image, tile) compute kernel: window read + nearest resample.

Re-expresses Dataset::read_tile (/root/reference/src/dataset.rs:121-196)
over an in-memory numpy band instead of a GDAL dataset handle. This is
the single source of truth for the edge arithmetic — the numpy oracle
AND the Spark pandas UDFs both call these functions, so Spark-vs-oracle
parity cannot drift on kernel semantics.

Differences from the reference, by design:
- the "warped VRT" disappears: image footprints are defined directly in
  EPSG:3857 (fixtures.py), so the VRT transform == the image transform;
- instead of mutating a shared buffer + shift
  (/root/reference/src/array.rs:42-64), we return the resampled block
  plus its (left, top) placement; the mosaic paste in the reduce step
  performs the shift (numpy slice assignment has no aliasing problem);
- rounding: Rust f64::round is half-away-from-zero; every rounded
  quantity in read_tile is clamped to >= 0 afterwards, so
  floor(x + 0.5) (half-up) is exactly equivalent post-clamp.
"""

from __future__ import annotations

import numpy as np

from . import tilemath as tm


def _round_half_up(x: float) -> float:
    return np.floor(x + 0.5)


def image_transform(minx: float, maxy: float, xres: float, yres: float):
    """north-up affine for an image footprint: (xres, 0, minx, 0, -yres, maxy)."""
    return (xres, 0.0, minx, 0.0, -yres, maxy)


def read_tile_block(
    band: np.ndarray,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    zoom: int,
    tx: int,
    ty: int,
    tile_size: int,
    nodata,
):
    """Window-read one tile's worth of one image.

    Returns ``(left, top, width, height, block)`` where ``block`` is the
    nearest-resampled (height, width) array to paste at (left, top) of a
    tile_size x tile_size canvas, or ``None`` when the tile has no data
    from this image (empty window — /root/reference/src/dataset.rs:163-166
    — or all-nodata — :180-182).

    Mirrors /root/reference/src/dataset.rs:121-196 line for line.
    """
    src_h, src_w = band.shape
    size = float(tile_size)
    vrt_w_f, vrt_h_f = float(src_w), float(src_h)
    xres_src = (maxx - minx) / src_w
    yres_src = (maxy - miny) / src_h
    vrt_transform = image_transform(minx, maxy, xres_src, yres_src)

    t_xmin, t_ymin, t_xmax, t_ymax = tm.tile_mercator_bounds(zoom, tx, ty)
    window = tm.window_from_bounds(vrt_transform, (t_xmin, t_ymin, t_xmax, t_ymax))
    tile_transform = tm.affine_scale(
        tm.window_transform(window, vrt_transform), window[2] / size, window[3] / size
    )
    xres, yres = tm.affine_resolution(tile_transform)

    # partial-tile margins, /root/reference/src/dataset.rs:146-153
    left = max(_round_half_up((minx - t_xmin) / xres), 0.0)
    right = max(_round_half_up((t_xmax - maxx) / xres), 0.0)
    bottom = max(_round_half_up((miny - t_ymin) / yres), 0.0)
    top = max(_round_half_up((t_ymax - maxy) / yres), 0.0)

    width = int(_round_half_up(size - left - right))
    height = int(_round_half_up(size - top - bottom))

    x_offset = _round_half_up(min(max(window[0], 0.0), vrt_w_f))
    y_offset = _round_half_up(min(max(window[1], 0.0), vrt_h_f))
    x_stop = max(min(window[0] + window[2], vrt_w_f), 0.0)
    y_stop = max(min(window[1] + window[3], vrt_h_f), 0.0)

    read_width = int(np.floor((x_stop - x_offset) + 0.5))
    read_height = int(np.floor((y_stop - y_offset) + 0.5))

    if read_width <= 0 or read_height <= 0 or width <= 0 or height <= 0:
        return None

    x0, y0 = int(x_offset), int(y_offset)
    src = band[y0 : y0 + read_height, x0 : x0 + read_width]

    # nearest decimation at pixel centers (GDAL ResampleAlg::NearestNeighbour,
    # /root/reference/src/dataset.rs:172-178): idx = floor((i+0.5)*src/dst)
    if read_height == height and read_width == width:
        # 1:1 window (the bulk of tiles at a pyramid's base zoom):
        # idx = floor(i+0.5) = i, so resampling is the identity — return
        # the source VIEW instead of a fancy-index copy. Callers use the
        # block read-only (mosaic pastes via mask or copies on its
        # single-contribution fast path), so aliasing `band` is safe.
        block = src
    else:
        rows = np.minimum(
            ((np.arange(height, dtype=np.float64) + 0.5) * read_height / height).astype(np.int64),
            read_height - 1,
        )
        cols = np.minimum(
            ((np.arange(width, dtype=np.float64) + 0.5) * read_width / width).astype(np.int64),
            read_width - 1,
        )
        block = src[rows[:, None], cols[None, :]]

    if (block == nodata).all():
        return None

    return int(left), int(top), width, height, block


def mosaic(contributions, tile_size: int, nodata, dtype) -> np.ndarray | None:
    """Paste per-image blocks onto a nodata canvas.

    ``contributions`` = iterable of (image_id, left, top, width, height,
    block) — pasted in ascending image_id order, later images overwrite
    earlier ones only where their pixel != nodata. The reference is
    single-raster so this rule is engine-defined; for a single
    contribution it is byte-identical to the reference's shift
    (/root/reference/src/array.rs:42-64: block placed at (left, top),
    nodata backfill). Returns None when the result is all nodata
    (tile dropped, /root/reference/src/dataset.rs:180-182).
    """
    contributions = sorted(contributions, key=lambda c: c[0])
    if len(contributions) == 1:
        _img_id, left, top, width, height, block = contributions[0]
        if (left == 0 and top == 0 and width == tile_size
                and height == tile_size and (block != nodata).any()):
            # single full-coverage contribution with data: the block IS
            # the canvas — skip the fill+mask pass, which dominates
            # memory traffic on dense pyramids. Explicit copy: the block
            # may be a read-only np.frombuffer-backed view on the Spark
            # path, and callers get a fresh writable canvas on every
            # other path. The any() guard preserves None-on-all-nodata
            # for callers that don't pre-filter via read_tile_block.
            return np.array(block, dtype=dtype, copy=True, order="C")
    canvas = np.full((tile_size, tile_size), nodata, dtype=dtype)
    any_data = False
    for _img_id, left, top, width, height, block in contributions:
        region = canvas[top : top + height, left : left + width]
        mask = block != nodata
        if mask.any():
            any_data = True
            region[mask] = block[mask]
    if not any_data:
        return None
    return canvas


def encode_tile(canvas: np.ndarray, dtype_tag: str, nodata: int, colormap=None) -> bytes:
    """Encode one mosaicked tile to PNG, dispatching exactly like the
    reference workers (/root/reference/src/render.rs:158-293).

    dtype_tag: 'u8' (grayscale, or paletted when a colormap is given —
    worker_u8) or 'u32' (adaptive palette-vs-RGB — worker_u32).
    """
    from .png import Colormap, encode_grayscale8, encode_paletted, encode_rgb, rgb_from_u32

    if dtype_tag == "u8":
        if colormap is not None:
            return encode_paletted(canvas, colormap)
        return encode_grayscale8(canvas, nodata)

    if dtype_tag == "u32":
        # adaptive choice, /root/reference/src/render.rs:257-279: scan
        # row-major building a palette; once it holds 256 entries and ANY
        # pixel remains, fall back to RGB. Vectorized equivalent: let p be
        # the scan position where the 255th distinct non-nodata value first
        # appears; palette survives iff distinct<255, or ==255 and p is the
        # very last pixel.
        flat = canvas.ravel()
        uniq, first_pos = np.unique(flat, return_index=True)
        m = uniq != nodata
        uniq, first_pos = uniq[m], first_pos[m]
        d = len(uniq)
        use_palette = d < 255 or (d == 255 and int(np.max(first_pos)) == flat.size - 1)
        if use_palette:
            order = np.argsort(first_pos, kind="stable")
            cm = Colormap(nodata=int(nodata))
            for v in uniq[order]:
                r, g, b = (int(v) >> 16) & 0xFF, (int(v) >> 8) & 0xFF, int(v) & 0xFF
                cm.add_color(int(v), (r, g, b))
            return encode_paletted(canvas, cm)
        return encode_rgb(rgb_from_u32(canvas), nodata_value=int(nodata))

    raise ValueError(f"unsupported dtype {dtype_tag!r}")


def print_2d(buffer: np.ndarray, nodata) -> None:
    """Debug pretty-printer for a 2-D value buffer (K6,
    /root/reference/src/array.rs:66-88): column width = widest non-nodata
    value + 1, '-' for nodata cells, left-justified, single trailing
    newline (the reference's final println)."""
    arr = np.asarray(buffer)
    flat = arr.ravel()
    non = flat[flat != nodata]
    pad = len(repr(int(non.max()))) + 1 if non.size else 2
    lines = []
    for row in arr:
        lines.append("".join(
            f"{'-':<{pad}}" if v == nodata else f"{int(v):<{pad}}" for v in row))
    print("\n".join(lines))

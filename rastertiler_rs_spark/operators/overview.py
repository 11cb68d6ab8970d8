"""Overview pyramid (O1): build the low zooms from the base zoom's tiles.

The reference accelerates low zooms by reading GeoTIFF internal
overviews instead of full-resolution pixels — faster, slightly less
precise, and switchable off (/root/reference/src/dataset.rs:28-30,
/root/reference/README.md:62). The Spark-native analog: zoom z is the
2x nearest decimation of zoom z+1 (each parent's four children pasted
into a 2·ts super-canvas, parent pixel i = child-pair pixel 2i+1, the
K2 index rule idx = floor((i+0.5)*2)), so low zooms never touch source
images at all. k levels of that rule compose to one strided sample of
the base (_strided_axis), so every base tile emits its fragment for
every ancestor zoom at once; ``oracle.overview_oracle`` states the
level-by-level rule.

One pass (render_pyramid, render_warp_pyramid): the render's own last
python worker decodes each base tile it just encoded and appends its
fragments (_with_fragments); tile rows and fragment rows share ONE
exchange on (zoom, x, y), and one paste stage passes tiles through and
assembles + encodes every ancestor tile (_paste). Nothing is cached,
so no fork outlives the call. ``cascade_fragments`` runs the same emit
and paste over stored tiles (the streaming upsert).

Why this matters at 100 TB: a direct z0 render mosaics EVERY image onto
one tile — 10^12 contributions to a single group key. The cascade
groups by ancestor tile over small strided fragments of the base, so
its input is ~1/3 of the base bytes. This is the scale path; direct
render stays the exact path (the reference's --disable-overviews
default-off tradeoff).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..fixtures import NODATA
from ..kernel import encode_tile
from ..png import Colormap, decode_png
from .render import _TILE_SCHEMA, _emit_tiles, _finish, _render_tiles


def validate_cascade_colormap(colormap_str: str | None) -> None:
    """Fail fast on u8 colormaps that do not cover EVERY possible data
    value — the STREAM-entry rule: the incremental upsert decodes
    stored paletted tiles back to values, the paletted encoder maps
    unmapped values to index 0 (the nodata slot, P4), and with open-
    ended streamed inputs an unmapped value would silently resurrect
    old pixels underneath real data. A complete map always fits (256
    palette slots with nodata pinned at index 0).

    The BATCH cascade deliberately does NOT enforce this: the standard
    classified-raster use is a colormap covering exactly the values
    that occur (reference P4 behavior), which is lossless for that
    data. Its contract is documented on cascade_fragments:
    values outside the map were already encoded to the nodata slot by
    the DIRECT base render, and the cascade treats them as nodata."""
    if colormap_str is None:
        return
    cm = Colormap.parse(colormap_str, NODATA)
    missing = [v for v in range(256) if v != NODATA and v not in cm.values]
    if missing:
        raise ValueError(
            "decode-back pipelines (overview cascade / streaming upsert) "
            "require a colormap covering every possible data value "
            "(unmapped values encode to palette index 0 = nodata and "
            f"cannot round-trip); missing {len(missing)} values, first "
            f"few: {missing[:5]}")


def decode_canvas(png_bytes: bytes, dtype_tag: str, colormap: Colormap | None = None,
                  nodata: int = NODATA) -> np.ndarray:
    """Invert encode_tile: PNG bytes → the value canvas that produced it.

    All engine encodes are lossless for values <= 24 bits (the reference's
    own u32→RGB truncation, /root/reference/src/png/color.rs:28-35), so
    decode∘encode == identity on the render path.
    """
    d = decode_png(png_bytes)
    if dtype_tag == "u8":
        if d["color_type"] == 0:  # grayscale: pixels ARE values
            return d["pixels"].astype(np.uint8)
        # paletted via a user colormap: index i ↔ i-th inserted value
        lut = np.fromiter(colormap.values.keys(), dtype=np.int64,
                          count=len(colormap.values))
        return lut[d["pixels"]].astype(np.uint8)
    if dtype_tag == "u32":
        p = d["pixels"]
        if d["color_type"] == 2:  # RGB: value = r<<16 | g<<8 | b
            p = p.astype(np.uint32)
            return (p[:, :, 0] << 16) | (p[:, :, 1] << 8) | p[:, :, 2]
        # adaptive palette: PLTE entry i packs the value's low 24 bits;
        # index 0 is the nodata slot (pinned black, value = nodata)
        plte = d["palette"].astype(np.uint32)
        lut = (plte[:, 0] << 16) | (plte[:, 1] << 8) | plte[:, 2]
        lut[0] = np.uint32(nodata)
        return lut[d["pixels"]]
    raise ValueError(f"unsupported dtype {dtype_tag!r}")


def _strided_axis(t: int, tile_size: int, step: int) -> tuple[int, int] | None:
    """One axis of a base tile's strided fragment: ``(src, dst)`` = the
    first sampled row (column) inside base tile ``t`` and the offset
    where it lands in its ancestor's canvas, or None when the tile holds
    no sampled row. k levels of the 2i+1 rule compose, in global base
    pixel coordinates, to G = 2^k·(g+1) - 1 for ANY tile size, so the
    sampled rows are those with G ≡ -1 (mod step) and row G lands at
    ancestor row g = (G+1)/step - 1. Ancestor tile boundaries fall on
    base tile boundaries, so a fragment never straddles two ancestors.
    When step divides tile_size this is src = step-1,
    dst = (t mod step)·(tile_size/step)."""
    src = -(t * tile_size + 1) % step
    if src >= tile_size:
        return None
    return src, ((t * tile_size + src + 1) // step - 1) % tile_size


def _fragments(canvas: np.ndarray, x: int, y: int, top_zoom: int,
               minzoom: int, tile_size: int, nodata: int):
    """Base tile (x, y)'s strided sample for EVERY ancestor zoom in
    [minzoom, top_zoom), as (zoom, x, y, r0, c0, fw, frag) rows keyed
    by the ancestor tile. k-fold 2x nearest decimation composes to
    strided sampling (_strided_axis), and pasting children into parent
    quadrants commutes with the sampling, so these fragments assemble
    into canvases value-identical to the level-by-level rule's
    (byte-identical PNGs against oracle.overview_oracle; pinned by
    tests/test_overview_salt.py::test_fragment_cascade_byte_parity).
    Fragments may be non-square; ``fw`` is their width."""
    for z in range(minzoom, top_zoom):
        k = top_zoom - z
        step = 1 << k
        rows = _strided_axis(y, tile_size, step)
        cols = _strided_axis(x, tile_size, step)
        if rows is None or cols is None:
            continue
        frag = canvas[rows[0] :: step, cols[0] :: step]
        if (frag == nodata).all():
            continue  # parent canvas is nodata-prefilled
        yield (z, x >> k, y >> k, rows[1], cols[1], frag.shape[1],
               np.ascontiguousarray(frag).tobytes())


_FRAG_COLS = ["zoom", "x", "y", "r0", "c0", "fw", "frag"]
# tile rows carry png (fragment columns null), fragment rows the rest
_EMIT_SCHEMA = _TILE_SCHEMA + ", r0 int, c0 int, fw int, frag binary"


def _with_fragments(base: int, minzoom: int, tile_size: int,
                    dtype_tag: str, colormap_str: str | None,
                    nodata: int = NODATA):
    """The pyramid's ``emit`` hook (render._emit_tiles's contract): run
    the producer's last mapInPandas function ``fn`` with every (zoom,
    x, y, png) row it yields passing through, and each ``zoom == base``
    row decoded in this same worker and followed by its _fragments.

    Emitting inside the producer's worker, not as a second chained
    mapInPandas, is measured: the chained form starts one more python
    worker per task (pyramid_merge peak RSS +25-28%, cold pass slower).
    The decode stays on purpose: decode_canvas costs ~0.09 ms per 256²
    tile against ~1.4 ms for encode_tile, while fragments from the
    canvases would branch every encode site on pyramid mode."""

    def emit(df: DataFrame, fn) -> DataFrame:
        def wrapped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            colormap = (Colormap.parse(colormap_str, nodata)
                        if colormap_str else None)
            for pdf in fn(batches):
                tiles = pdf[["zoom", "x", "y", "png"]]
                yield tiles.assign(r0=None, c0=None, fw=None, frag=None)
                at_base = tiles[tiles["zoom"] == base]
                frags = [
                    f for x, y, png in zip(at_base["x"], at_base["y"],
                                           at_base["png"])
                    for f in _fragments(
                        decode_canvas(bytes(png), dtype_tag, colormap, nodata),
                        int(x), int(y), base, minzoom, tile_size, nodata)
                ]
                if frags:
                    yield pd.DataFrame(frags, columns=_FRAG_COLS).assign(png=None)

        return df.mapInPandas(wrapped, _EMIT_SCHEMA)

    return emit


def _fragment_paste_fn(tile_size: int, dtype_tag: str,
                       colormap_str: str | None, nodata: int,
                       flush_rows: int = 1024):
    """Sorted-stream paste+encode over rows grouped by tile key. Rows
    that carry a png are finished tiles and pass straight through (no
    fragment shares their key: tiles sit at zooms >= base, fragments
    below). Fragments target DISJOINT canvas regions and paste order is
    irrelevant, so the stream carries only the CURRENT tile's canvas
    across Arrow-batch boundaries — no pending-rows buffer. (A
    hold-back-the-boundary-group pattern like the cell stream's would
    go quadratic here: a z0 group can hold 4^span tiny fragments while
    Arrow batches are 256 rows, so per-batch pd.concat of the pending
    group re-copies it hundreds of times.)"""
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        out = {"zoom": [], "x": [], "y": [], "png": []}
        cur_key = None
        canvas = np.full((tile_size, tile_size), nodata, dtype=np_dtype)

        def emit(key):
            out["zoom"].append(key[0])
            out["x"].append(key[1])
            out["y"].append(key[2])
            # every emitted fragment has data ⇒ canvas can't be all-nodata
            out["png"].append(encode_tile(canvas, dtype_tag, nodata, colormap))

        def flush():
            df = pd.DataFrame(out)
            for k in out:
                out[k] = []
            return df

        for pdf in batches:
            done = pdf["png"].notna()
            if done.any():
                yield pdf.loc[done, ["zoom", "x", "y", "png"]]
            frags = pdf[~done]
            for z, x, y, r0, c0, fw, frag in zip(
                    *(frags[c] for c in _FRAG_COLS)):
                key = (int(z), int(x), int(y))
                if key != cur_key:
                    if cur_key is not None:
                        emit(cur_key)
                        canvas.fill(nodata)
                    cur_key = key
                block = np.frombuffer(frag, dtype=np_dtype).reshape(-1, int(fw))
                r0, c0 = int(r0), int(c0)
                canvas[r0 : r0 + block.shape[0], c0 : c0 + block.shape[1]] = block
            if len(out["zoom"]) >= flush_rows:
                yield flush()
        if cur_key is not None:
            emit(cur_key)
        if out["zoom"]:
            yield flush()

    return fn


def _paste(rows: DataFrame, tile_size: int, dtype_tag: str,
           colormap_str: str | None) -> DataFrame:
    """The one paste step: _EMIT_SCHEMA rows → ONE exchange keyed by
    (zoom, x, y) (a tile row by itself, a fragment by its ancestor
    tile) → sorted-stream _fragment_paste_fn → TMS flip + hash
    (render._finish). Groups are one ancestor tile (<= 4^k tiny
    fragments); fragment bytes total ~= base_bytes/3.

    Task count ~= cores, NOT the renderer's cores*8: per-group work is
    tiny and uniform, so there is no straggler tail worth packing, and
    every python task pays a fixed start-up cost."""
    n_parts = max(rows.sparkSession.sparkContext.defaultParallelism, 8)
    return _finish(
        rows.repartition(n_parts, "zoom", "x", "y")
        .sortWithinPartitions("zoom", "x", "y")
        .mapInPandas(
            _fragment_paste_fn(tile_size, dtype_tag, colormap_str, NODATA),
            _TILE_SCHEMA))


def _pyramid(render_tiles, minzoom: int, maxzoom: int,
             overview_below: int | None, tile_size: int, dtype_tag: str,
             colormap_str: str | None) -> DataFrame:
    """The pyramid over one render path: ``render_tiles(zlo, emit)``
    renders zooms [zlo, maxzoom] as (zoom, x, y, png) rows with its
    last python stage run through ``emit`` (render._render_tiles,
    warp._warp_tiles). Without overviews that is the direct render;
    with them the base level's fragments ride the render's own worker
    (_with_fragments) into the one _paste exchange."""
    if overview_below is None or overview_below <= minzoom:
        return _finish(render_tiles(minzoom, _emit_tiles))
    # Clamp to the requested range: the reference renders exactly
    # minzoom..maxzoom (src/main.rs zoom validation) — with the CLI's
    # default overview_below above a small --maxzoom, an unclamped base
    # would render and emit zooms beyond maxzoom.
    base = min(max(overview_below, minzoom), maxzoom)
    emit = _with_fragments(base, minzoom, tile_size, dtype_tag, colormap_str)
    return _paste(render_tiles(base, emit), tile_size, dtype_tag,
                  colormap_str)


def cascade_fragments(
    fused_top: DataFrame,
    minzoom: int,
    tile_size: int,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    top_zoom: int | None = None,
) -> DataFrame:
    """Overview zooms [minzoom, top_zoom) of STORED top-level tiles
    ``fused_top`` (the streaming upsert's decode path): the pyramid's
    emit (_with_fragments over the rows as they are, fragment rows
    filtered JVM-side) and its one _paste exchange.

    Colormap contract: the cascade decodes stored paletted PNGs back to
    values, so a user colormap must cover every value that OCCURS in
    the data (the standard classified-raster use). Values outside the
    map were already encoded to the nodata slot by the direct base
    render (reference P4 lookup-default-0) and cascade as nodata;
    open-ended inputs should use the stream rule
    (validate_cascade_colormap) instead.

    Value-identity with the level-by-level 2x rule
    (oracle.overview_oracle): k-fold 2x decimation == strided sampling
    for any tile size and depth (see _strided_axis); intermediate-level
    drops can't change surviving values, and a tile exists in both
    schemes iff its assembled canvas has data."""
    spark = fused_top.sparkSession
    if top_zoom is None:
        top_zoom = fused_top.select(F.max("zoom")).collect()[0][0]
    if top_zoom is None or top_zoom <= minzoom:
        return fused_top.filter(F.lit(False))
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    top = fused_top.select(F.lit(top_zoom).cast("int").alias("zoom"),
                           "x", "y", "png")
    # coalesce can only REDUCE partitions: a narrow input (e.g. a small
    # pruned sink scan) would run the decode-heavy emit stage on its
    # 2-4 scan splits; pay the exchange only in that case
    if top.rdd.getNumPartitions() < n_parts:
        top = top.repartition(n_parts)
    else:
        top = top.coalesce(n_parts)
    emit = _with_fragments(top_zoom, minzoom, tile_size, dtype_tag,
                           colormap_str)
    frags = emit(top, lambda batches: batches).filter(F.col("frag").isNotNull())
    return _paste(frags, tile_size, dtype_tag, colormap_str)


def render_pyramid_to_sink(
    images: DataFrame,
    out_dir: str,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 512,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    overview_below: int | None = None,
) -> DataFrame:
    """render_pyramid written once to a zoom-partitioned parquet tile
    table at ``out_dir/tiles`` and read back — the at-scale product for
    the sinks to read (a table, not a 10^12-row collect).

    Returns a DataFrame reading the completed table (same fused
    schema; byte-content identical to render_pyramid — pinned by
    tests/test_overview_salt.py)."""
    return _to_tile_table(
        render_pyramid(images, minzoom, maxzoom, tile_size, dtype_tag,
                       colormap_str, overview_below), out_dir)


def _to_tile_table(fused: DataFrame, out_dir: str) -> DataFrame:
    """Write ``fused`` as the zoom-partitioned parquet table at
    ``out_dir/tiles`` and read it back (render_pyramid_to_sink, CLI
    --tiles-dir)."""
    path = f"{out_dir}/tiles"
    fused.write.mode("overwrite").partitionBy("zoom").parquet(path)
    return fused.sparkSession.read.parquet(path)


def render_pyramid(
    images: DataFrame,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 512,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    overview_below: int | None = None,
) -> DataFrame:
    """Full pyramid with the overview cascade below ``overview_below``:
    zooms in [overview_below, maxzoom] render directly from source
    images; zooms in [minzoom, overview_below) are its 2x-per-step
    nearest decimation, emitted by the render's own last python worker
    and pasted in the one exchange (module docstring). Nothing is
    cached, so there is nothing for the caller to release.

    ``overview_below=None`` → all-direct (exact; the reference's
    --disable-overviews).

    ONE direct render covers [base, maxzoom]: the base level is NOT
    rendered as a second job (that cost a full extra decode of every
    source image plus its own explode+shuffle, ~35% of the direct
    render's core-seconds again at local[32]), and the overviews need
    no fork of it, because the fragments leave the render's worker
    beside the tiles."""
    return _pyramid(
        lambda zlo, emit: _render_tiles(images, zlo, maxzoom, tile_size,
                                        dtype_tag, colormap_str, emit=emit),
        minzoom, maxzoom, overview_below, tile_size, dtype_tag, colormap_str)

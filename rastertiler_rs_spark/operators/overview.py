"""Overview pyramid (O1): build the low zooms from the base zoom's tiles.

The reference accelerates low zooms by reading GeoTIFF internal
overviews instead of full-resolution pixels — faster, slightly less
precise, and switchable off (/root/reference/src/dataset.rs:28-30,
/root/reference/README.md:62). The Spark-native analog: zoom z is the
2x nearest decimation of zoom z+1 (each parent's four children pasted
into a 2·ts super-canvas, parent pixel i = child-pair pixel 2i+1, the
K2 index rule idx = floor((i+0.5)*2)), so low zooms never touch source
images at all. ``cascade_fragments`` builds every such level in one
shuffle; ``oracle.overview_oracle`` states the level-by-level rule.

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


def _fragment_emit_fn(top_zoom: int, minzoom: int, tile_size: int,
                      dtype_tag: str, colormap_str: str | None, nodata: int):
    """Map-only stage of the one-shot cascade: decode each base tile
    ONCE and emit its strided sample for EVERY ancestor zoom. k-fold 2x
    nearest decimation composes to strided sampling (_strided_axis), and
    pasting children into parent quadrants commutes with the sampling,
    so these fragments assemble into canvases value-identical to the
    level-by-level rule's (byte-identical PNGs against
    oracle.overview_oracle; pinned by
    tests/test_overview_salt.py::test_fragment_cascade_byte_parity).
    Fragments may be non-square; ``fw`` is their width."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "r0": [], "c0": [],
                   "fw": [], "frag": []}
            for row in pdf.itertuples(index=False):
                canvas = decode_canvas(bytes(row.png), dtype_tag, colormap, nodata)
                x, y = int(row.x), int(row.y)
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
                    out["zoom"].append(z)
                    out["x"].append(x >> k)
                    out["y"].append(y >> k)
                    out["r0"].append(rows[1])
                    out["c0"].append(cols[1])
                    out["fw"].append(frag.shape[1])
                    out["frag"].append(np.ascontiguousarray(frag).tobytes())
            yield pd.DataFrame(out)

    return fn


_FRAG_SCHEMA = "zoom int, x long, y long, r0 int, c0 int, fw int, frag binary"


def _fragment_paste_fn(tile_size: int, dtype_tag: str,
                       colormap_str: str | None, nodata: int,
                       flush_rows: int = 1024):
    """Sorted-stream paste+encode over fragments grouped by ancestor
    tile. Fragments target DISJOINT canvas regions and paste order is
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
            for z, x, y, r0, c0, fw, frag in zip(
                    pdf["zoom"], pdf["x"], pdf["y"], pdf["r0"], pdf["c0"],
                    pdf["fw"], pdf["frag"]):
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


def cascade_fragments(
    fused_top: DataFrame,
    minzoom: int,
    tile_size: int,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    top_zoom: int | None = None,
) -> DataFrame:
    """One-shot overview build: ONE map-only python stage (decode each
    base tile once, emit per-ancestor strided fragments) + ONE shuffle
    keyed by ancestor tile + ONE assemble/encode stage for ALL low
    zooms. A per-level exchange+python pair would pay fixed stage
    floors that dominate low-zoom build time at high core counts (the
    levels shrink 4x each but every level would still pay a full
    shuffle + python stage + intermediate PNG decode).

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
    schemes iff its assembled canvas has data.

    Scale shape: fragment bytes total ~= base_bytes/3 through one
    compressed shuffle; groups are one ancestor tile (<= 4^k tiny
    fragments). No persisted intermediates, so no executor-cache
    bookkeeping for callers."""
    spark = fused_top.sparkSession
    if top_zoom is None:
        top_zoom = fused_top.select(F.max("zoom")).collect()[0][0]
    if top_zoom is None or top_zoom <= minzoom:
        return fused_top.filter(F.lit(False))
    # task count ~= cores, NOT the renderer's cores*8: every python task
    # pays a fixed start-up cost (PySpark's per-task import-cache
    # invalidation re-parsed pyspark.zip until ``_worker`` stamped it; a
    # 256-task no-op python stage cost ~2.5 s wall at local[32]
    # regardless of data), and these stages have no straggler tail
    # worth packing — per-group work is tiny and uniform
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    top = fused_top.select("x", "y", "png")
    # coalesce can only REDUCE partitions: a narrow input (e.g. a small
    # pruned sink scan) would run the decode-heavy emit stage on its
    # 2-4 scan splits; pay the exchange only in that case
    if top.rdd.getNumPartitions() < n_parts:
        top = top.repartition(n_parts)
    else:
        top = top.coalesce(n_parts)
    frags = top.mapInPandas(
        _fragment_emit_fn(top_zoom, minzoom, tile_size, dtype_tag,
                          colormap_str, NODATA),
        _FRAG_SCHEMA,
    )
    tiles = (
        frags.repartition(n_parts, "zoom", "x", "y")
        .sortWithinPartitions("zoom", "x", "y")
        .mapInPandas(
            _fragment_paste_fn(tile_size, dtype_tag, colormap_str, NODATA),
            "zoom int, x long, y long, png binary",
        )
    )
    flip = F.expr("shiftleft(1L, zoom)") - 1 - F.col("y")
    return (
        tiles.withColumn("tile_row", flip)
        .withColumn("tile_hash", F.xxhash64("png"))
        .select("zoom", "x", "y", "tile_row", "tile_hash", "png")
    )


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
    """The 100 TB realization of render_pyramid: materialize the fork
    at the SINK instead of executor memory. Direct zooms
    [base, maxzoom] render once and write straight to a zoom-partitioned
    parquet tile table; the cascade then reads ONLY the base partition
    back (partition-pruned scan — no re-render, no cluster-wide cache
    of the full output) and appends the low zooms. render_pyramid's
    persist() fork holds the whole fused output in executor storage,
    which is the right call for an in-memory pipeline at bench scale
    but not for a 10^12-row table; here the only state between the two
    jobs is the product itself.

    Returns a DataFrame reading the completed table at
    ``out_dir/tiles`` (same fused schema; byte-content identical to
    render_pyramid — pinned by tests/test_overview_salt.py).
    """
    from .render import render

    spark = images.sparkSession
    tiles_path = f"{out_dir}/tiles"
    if overview_below is None or overview_below <= minzoom:
        fused = render(images, minzoom, maxzoom, tile_size, dtype_tag,
                       colormap_str)
        fused.write.mode("overwrite").partitionBy("zoom").parquet(tiles_path)
        return spark.read.parquet(tiles_path)

    base = min(max(overview_below, minzoom), maxzoom)
    full = render(images, base, maxzoom, tile_size, dtype_tag,
                  colormap_str)
    full.write.mode("overwrite").partitionBy("zoom").parquet(tiles_path)
    base_level = spark.read.parquet(tiles_path).filter(
        F.col("zoom") == base)  # prunes to the zoom=<base> directory
    low = cascade_fragments(base_level, minzoom, tile_size, dtype_tag,
                            colormap_str, top_zoom=base)
    low.write.mode("append").partitionBy("zoom").parquet(tiles_path)
    return spark.read.parquet(tiles_path)


def render_pyramid(
    images: DataFrame,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 512,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    overview_below: int | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Full pyramid with the overview cascade below ``overview_below``:
    zooms in [overview_below, maxzoom] render directly from source
    images; zooms in [minzoom, overview_below) are its 2x-per-step
    nearest decimation (cascade_fragments).

    ``overview_below=None`` → all-direct (exact; the reference's
    --disable-overviews). The direct render is persisted and appended
    to ``persisted``; the caller releases it once the result is
    materialized (render_pyramid_to_sink is the sink-boundary variant
    with nothing cached).
    """
    from .render import render

    if overview_below is None or overview_below <= minzoom:
        return render(images, minzoom, maxzoom, tile_size, dtype_tag,
                      colormap_str)
    # Clamp to the requested range: the reference renders exactly
    # minzoom..maxzoom (src/main.rs zoom validation) — with the CLI's
    # default overview_below above a small --maxzoom, an unclamped base
    # would render and emit zooms beyond maxzoom.
    base = min(max(overview_below, minzoom), maxzoom)
    # ONE direct render covers [base, maxzoom] — the base level is NOT
    # rendered as a second job (that cost a full extra decode of every
    # source image plus its own explode+shuffle: ~35% of the direct
    # render's core-seconds again, profiled as the production pyramid's
    # scaling bottleneck at local[32]). The result union and the
    # cascade both consume the single render, which in lazy Spark
    # demands a materialized fork; persist() is that boundary. At real
    # scale the boundary is the tile SINK instead — write zooms
    # [base..max] once, read the base partition back
    # (render_pyramid_to_sink partitions by zoom for exactly this;
    # write_mbtiles_shards is the sharded .mbtiles sink; the streaming
    # pyramid already works that way per batch).
    #
    # Rejected alternatives, measured:
    # - Shared explicit exchange + Spark exchange reuse: Catalyst
    #   pushes the zoom filter AND per-consumer column pruning below
    #   the exchange, specializing it per consumer — two non-identical
    #   exchanges, no reuse, and the whole render silently executes
    #   TWICE (nondeterministic-predicate barriers fix the filter but
    #   not the pruning). +2x cell-stage core-seconds.
    # - sortWithinPartitions("zoom") before the persist (to give the
    #   cascade's zoom==base scan cached-batch min/max pruning):
    #   sorting rows that carry PNG payloads moves ~0.6 KB/row through
    #   the sorter — slower at both parallelism levels than
    #   decompressing mixed cached batches on the one filtered scan.
    full = render(images, base, maxzoom, tile_size, dtype_tag,
                  colormap_str)
    return _with_overviews(full, base, minzoom, tile_size, dtype_tag,
                          colormap_str, persisted)


def _with_overviews(full: DataFrame, base: int, minzoom: int, tile_size: int,
                   dtype_tag: str, colormap_str: str | None,
                   persisted: list | None) -> DataFrame:
    """``full`` (fused zooms [base, maxzoom], already rendered) plus the
    cascaded zooms [minzoom, base). The union and the cascade both
    consume ``full``, so it is persisted once (appended to
    ``persisted`` for the caller to release) and the cascade reads its
    base level from the cache."""
    shared = full.persist()
    if persisted is not None:
        persisted.append(shared)
    low = cascade_fragments(shared.filter(F.col("zoom") == base), minzoom,
                            tile_size, dtype_tag, colormap_str, top_zoom=base)
    return shared.unionByName(low)

"""Overview pyramid (O1): build zoom N tiles from zoom N+1 tiles.

The reference accelerates low zooms by reading GeoTIFF internal
overviews instead of full-resolution pixels — faster, slightly less
precise, and switchable off (/root/reference/src/dataset.rs:28-30,
/root/reference/README.md:62). The Spark-native analog: materialize
zoom z from zoom z+1 by assembling each parent's four children and
nearest-decimating 2x (same K2 index rule, idx = floor((i+0.5)*2) =
2i+1), so low zooms never touch source images at all.

Why this matters at 100 TB: a direct z0 render mosaics EVERY image onto
one tile — 10^12 contributions to a single group key. The cascade makes
each level a groupBy with at most FOUR rows per key (the children), no
skew, each level 1/4 the size of the one below. This is the scale path;
direct render stays the exact path (the reference's
--disable-overviews default-off tradeoff).
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
    data. Its contract is documented on cascade_down/cascade_fragments:
    values outside the map were already encoded to the nodata slot by
    the DIRECT base render, and the cascade treats them as nodata."""
    if colormap_str is None:
        return
    from ..png import Colormap

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


def _assemble_fn(tile_size: int, dtype_tag: str, colormap_str: str | None, nodata: int):
    half = tile_size // 2
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "png": []}
            for row in pdf.itertuples(index=False):
                canvas = np.full((tile_size, tile_size), nodata, dtype=np_dtype)
                for c in row.children:
                    child = decode_canvas(bytes(c["png"]), dtype_tag, colormap, nodata)
                    # child (qy,qx) occupies big[qy*ts:(qy+1)*ts, qx*ts:...];
                    # parent[r,c] = big[2r+1, 2c+1] ⇒ per-child odd-index slice
                    sub = child[1::2, 1::2]
                    qy, qx = int(c["qy"]), int(c["qx"])
                    canvas[qy * half : (qy + 1) * half, qx * half : (qx + 1) * half] = sub
                if (canvas == nodata).all():  # dropped-tile rule, dataset.rs:180-182
                    continue
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["png"].append(encode_tile(canvas, dtype_tag, nodata, colormap))
            yield pd.DataFrame(out)

    return fn


def build_overview_level(
    fused_level: DataFrame,
    tile_size: int,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    nodata: int = NODATA,
) -> DataFrame:
    """One cascade step: fused tiles at a single zoom z → fused tiles at
    z-1 (same schema: zoom, x, y, tile_row, tile_hash, png).

    groupBy key = parent tile; group size <= 4 by construction, so the
    shuffle is skew-free regardless of data density.
    """
    if tile_size % 2:
        raise ValueError("tile_size must be even for 2x decimation")
    children = fused_level.select(
        (F.col("zoom") - 1).cast("int").alias("zoom"),
        F.shiftright("x", 1).alias("x"),
        F.shiftright("y", 1).alias("y"),
        (F.col("x").bitwiseAND(1)).cast("int").alias("qx"),
        (F.col("y").bitwiseAND(1)).cast("int").alias("qy"),
        "png",
    )
    # explicit repartition: AQE bytes-based coalescing would serialize
    # this decode+encode-heavy stage (shuffle bytes are tiny PNGs)
    n_parts = max(fused_level.sparkSession.sparkContext.defaultParallelism * 2, 8)
    grouped = children.repartition(n_parts, "zoom", "x", "y").groupBy(
        "zoom", "x", "y").agg(
        F.collect_list(F.struct("qx", "qy", "png")).alias("children")
    )
    parents = grouped.mapInPandas(
        _assemble_fn(tile_size, dtype_tag, colormap_str, nodata),
        "zoom int, x long, y long, png binary",
    )
    flip = F.expr("shiftleft(1L, zoom)") - 1 - F.col("y")
    return (
        parents.withColumn("tile_row", flip)
        .withColumn("tile_hash", F.xxhash64("png"))
        .select("zoom", "x", "y", "tile_row", "tile_hash", "png")
    )


def _subtree_cascade_fn(z_from: int, z_to: int, tile_size: int,
                        dtype_tag: str, colormap_str: str | None,
                        nodata: int, flush_rows: int = 1024):
    """Sorted-stream mapInPandas over groups keyed by the zoom-``z_to``
    ancestor: each group holds one subtree's zoom-``z_from`` tiles
    (<= 4^(z_from-z_to) of them) and cascades ALL levels z_from-1..z_to
    in-process, decoding each child PNG once and carrying raw canvases
    between levels. One Python stage per (z_from - z_to) zoom levels —
    the per-stage scheduling/Arrow floor (~0.7 s at local[32]) made a
    stage-per-level cascade slower at 32 cores than at 8.
    """
    half = tile_size // 2
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32
    span = z_from - z_to

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        out = {"zoom": [], "x": [], "y": [], "png": []}
        pending: pd.DataFrame | None = None

        def do_group(g: pd.DataFrame) -> None:
            canvases = {
                (int(x), int(y)): decode_canvas(bytes(p), dtype_tag, colormap, nodata)
                for x, y, p in zip(g["x"], g["y"], g["png"])
            }
            z = z_from
            while z > z_to:
                parents: dict[tuple[int, int], np.ndarray] = {}
                for (x, y), child in canvases.items():
                    pk = (x >> 1, y >> 1)
                    canvas = parents.get(pk)
                    if canvas is None:
                        canvas = np.full((tile_size, tile_size), nodata, dtype=np_dtype)
                        parents[pk] = canvas
                    qy, qx = y & 1, x & 1
                    canvas[qy * half : (qy + 1) * half,
                           qx * half : (qx + 1) * half] = child[1::2, 1::2]
                z -= 1
                canvases = {}
                for (px, py), canvas in parents.items():
                    if (canvas == nodata).all():
                        continue
                    canvases[(px, py)] = canvas
                    out["zoom"].append(z)
                    out["x"].append(px)
                    out["y"].append(py)
                    out["png"].append(encode_tile(canvas, dtype_tag, nodata, colormap))

        def flush():
            df = pd.DataFrame(out)
            for k in out:
                out[k] = []
            return df

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            key = (pdf["x"].to_numpy() >> span) * (1 << 32) + (pdf["y"].to_numpy() >> span)
            cuts = np.flatnonzero(key[1:] != key[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            for s, e in zip(starts[:-1], starts[1:]):
                do_group(pdf.iloc[s:e])
                if len(out["zoom"]) >= flush_rows:
                    yield flush()
            pending = pdf.iloc[starts[-1]:].copy()
        if pending is not None and len(pending):
            do_group(pending)
        if out["zoom"]:
            yield flush()

    return fn


def cascade_down(
    fused_top: DataFrame,
    minzoom: int,
    tile_size: int,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    span: int = 4,
    top_zoom: int | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Cascade a single-zoom fused tile level down to ``minzoom``.

    Colormap contract: the cascade decodes stored paletted PNGs back to
    values, so a user colormap must cover every value that OCCURS in
    the data (the standard classified-raster use). Values outside the
    map were already encoded to the nodata slot by the direct base
    render (reference P4 lookup-default-0) and cascade as nodata;
    open-ended inputs should use the stream rule
    (validate_cascade_colormap) instead.

    Cascades a level down to ``minzoom``,
    ``span`` zoom levels per Python stage (subtree groups of <= 4^span
    children bound task memory at ~4^span * tile_size^2 bytes). Returns
    the union of all levels BELOW the input level. Each stage's output
    is persisted: it feeds both the result union and the next stage.

    Pass ``persisted`` (a list) to receive the cached stage DataFrames:
    long-running callers (the streaming pyramid runs this per
    micro-batch) must unpersist them after materializing the result, or
    the executor cache leaks one stage set per batch.
    """
    spark = fused_top.sparkSession
    if top_zoom is None:
        top_zoom = fused_top.select(F.max("zoom")).collect()[0][0]
    if top_zoom is None or top_zoom <= minzoom:
        return fused_top.filter(F.lit(False))  # empty, same schema
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    outputs = []
    prev = fused_top
    z = top_zoom
    while z > minzoom:
        z_to = max(z - span, minzoom)
        s = z - z_to
        keyed = prev.select(
            "zoom", "x", "y", "png",
            F.shiftright("x", s).alias("kx"), F.shiftright("y", s).alias("ky"),
        )
        stage = (
            keyed.repartition(n_parts, "kx", "ky")
            .sortWithinPartitions("kx", "ky")
            .mapInPandas(
                _subtree_cascade_fn(z, z_to, tile_size, dtype_tag,
                                    colormap_str, NODATA),
                "zoom int, x long, y long, png binary",
            )
            .persist()
        )
        if persisted is not None:
            persisted.append(stage)
        outputs.append(stage)
        prev = stage.filter(F.col("zoom") == z_to)
        z = z_to
    out = outputs[0]
    for lv in outputs[1:]:
        out = out.unionByName(lv)
    flip = F.expr("shiftleft(1L, zoom)") - 1 - F.col("y")
    return (
        out.withColumn("tile_row", flip)
        .withColumn("tile_hash", F.xxhash64("png"))
        .select("zoom", "x", "y", "tile_row", "tile_hash", "png")
    )


def _fragment_emit_fn(top_zoom: int, minzoom: int, tile_size: int,
                      dtype_tag: str, colormap_str: str | None, nodata: int):
    """Map-only stage of the one-shot cascade: decode each base tile
    ONCE and emit its strided sample for EVERY ancestor zoom. k-fold 2x
    nearest decimation composes to strided sampling — c[1::2,1::2]
    applied k times == c[2^k-1::2^k, 2^k-1::2^k] — and pasting children
    into parent quadrants commutes with the sampling, so these
    fragments assemble into canvases value-identical to the
    level-by-level cascade's (byte-identical PNGs; pinned by
    tests/test_overview_salt.py::test_fragment_cascade_byte_parity)."""

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
                    frag = canvas[step - 1 :: step, step - 1 :: step]
                    if (frag == nodata).all():
                        continue  # parent canvas is nodata-prefilled
                    fw = tile_size >> k
                    out["zoom"].append(z)
                    out["x"].append(x >> k)
                    out["y"].append(y >> k)
                    out["r0"].append((y & (step - 1)) * fw)
                    out["c0"].append((x & (step - 1)) * fw)
                    out["fw"].append(fw)
                    out["frag"].append(np.ascontiguousarray(frag).tobytes())
            yield pd.DataFrame(out)

    return fn


_FRAG_SCHEMA = "zoom int, x long, y long, r0 int, c0 int, fw int, frag binary"


def _fragment_assemble_fn(tile_size: int, dtype_tag: str,
                          colormap_str: str | None, nodata: int,
                          flush_rows: int = 1024):
    """Sorted-stream assemble+encode over fragments grouped by ancestor
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
                r0, c0, fw = int(r0), int(c0), int(fw)
                canvas[r0 : r0 + fw, c0 : c0 + fw] = np.frombuffer(
                    frag, dtype=np_dtype).reshape(fw, fw)
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
    keyed by ancestor tile + ONE assemble/encode stage — replacing the
    level-by-level cascade's per-level exchange+python pair, whose
    fixed stage floors dominated low-zoom build time at high core
    counts (the levels shrink 4x each but every level still paid a
    full shuffle + python stage + intermediate PNG decode).

    Value-identity with cascade_down: k-fold 2x decimation == strided
    sampling (see _fragment_emit_fn); intermediate-level drops in the
    cascade can't change surviving values, and a tile exists in both
    schemes iff its assembled canvas has data.

    Scale shape: fragment bytes total ~= base_bytes/3 through one
    compressed shuffle; groups are one ancestor tile (<= 4^k tiny
    fragments). Constraint: 2^(top_zoom - minzoom) <= tile_size (a
    fragment must be >= 1px) — deeper pyramids chain cascade_down below
    the fragment floor. No persisted intermediates, so no executor-
    cache bookkeeping for callers."""
    spark = fused_top.sparkSession
    if top_zoom is None:
        top_zoom = fused_top.select(F.max("zoom")).collect()[0][0]
    if top_zoom is None or top_zoom <= minzoom:
        return fused_top.filter(F.lit(False))
    if (1 << (top_zoom - minzoom)) > tile_size \
            or tile_size % (1 << (top_zoom - minzoom)) != 0:
        # the strided-fragment identity needs fw = tile_size >> span to
        # TILE the canvas exactly: a non-divisible tile_size would leave
        # the last (tile_size mod 2^span) rows/cols of every parent
        # canvas unwritten (permanent nodata stripes)
        raise ValueError(
            f"cascade_fragments: tile_size={tile_size} must be a "
            f"multiple of 2^span (span {top_zoom - minzoom}) — chain "
            "cascade_down for the remaining zooms")
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
            _fragment_assemble_fn(tile_size, dtype_tag, colormap_str, NODATA),
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
    salt_buckets: int | None | str = "auto",
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
                       colormap_str, salt_buckets=salt_buckets)
        fused.write.mode("overwrite").partitionBy("zoom").parquet(tiles_path)
        return spark.read.parquet(tiles_path)

    base = min(max(overview_below, minzoom), maxzoom)
    full = render(images, base, maxzoom, tile_size, dtype_tag,
                  colormap_str, salt_buckets=salt_buckets)
    full.write.mode("overwrite").partitionBy("zoom").parquet(tiles_path)
    base_level = spark.read.parquet(tiles_path).filter(
        F.col("zoom") == base)  # prunes to the zoom=<base> directory
    cached: list = []
    try:
        low = cascade_down(base_level, minzoom, tile_size, dtype_tag,
                           colormap_str, top_zoom=base, persisted=cached)
        low.write.mode("append").partitionBy("zoom").parquet(tiles_path)
    finally:
        for df in cached:  # free per-stage caches once the sink has them
            df.unpersist()
    return spark.read.parquet(tiles_path)


def render_pyramid(
    images: DataFrame,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 512,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    overview_below: int | None = None,
    salt_buckets: int | None | str = "auto",
    persisted: list | None = None,
) -> DataFrame:
    """Full pyramid with the overview cascade below ``overview_below``:
    zooms in [overview_below, maxzoom] render directly from source
    images; zooms in [minzoom, overview_below) cascade down 2x per step.

    ``overview_below=None`` → all-direct (exact; the reference's
    --disable-overviews). Each cascade level is persisted — in
    production each level is written to the tile sink and read back, so
    lineage never re-renders the base (mbtiles_sink.write_tile_tables
    partitions by zoom for exactly this).
    """
    from .render import render

    if overview_below is None or overview_below <= minzoom:
        return render(images, minzoom, maxzoom, tile_size, dtype_tag,
                      colormap_str, salt_buckets=salt_buckets)
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
    # (mbtiles_sink.write_tile_tables partitions by zoom for exactly
    # this; the streaming pyramid already works that way per batch).
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
                  colormap_str, salt_buckets=salt_buckets)
    shared = full.persist()
    if persisted is not None:
        persisted.append(shared)
    base_level = shared.filter(F.col("zoom") == base)
    if (1 << (base - minzoom)) <= tile_size \
            and tile_size % (1 << (base - minzoom)) == 0:
        # one-shot fragment cascade: 2 python stages + 1 shuffle total
        # for ALL low zooms (vs exchange+python PER span-4 step) — the
        # per-level stage floors made the cascade nearly parallelism-
        # invariant and it showed as the production pyramid's N→4N
        # scaling drag
        low = cascade_fragments(base_level, minzoom, tile_size, dtype_tag,
                                colormap_str, top_zoom=base)
    else:
        low = cascade_down(base_level, minzoom, tile_size, dtype_tag,
                           colormap_str, top_zoom=base, persisted=persisted)
    return shared.unionByName(low)

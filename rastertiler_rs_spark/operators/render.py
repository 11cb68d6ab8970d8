"""The flagship render pipeline: images table → z/x/y PNG tile tables.

Spark-first re-expression of `rastertiler-rs render`
(/root/reference/src/render.rs:20-156). Dataflow:

  CELL path (zooms >= partition_zoom — the hot path):
  images ──footprint cols── tile-range col exprs at pz (G3, JVM-side)
         ── explode covering-cell sequences (J4 cell assignment)
         ── repartition(cx,cy) + sortWithinPartitions   [THE shuffle:
            compressed source bytes, not pixels]
         ── streamed mapInPandas: per cell decode-once → window-read
            kernel (K1/K2) → mosaic → PNG encode (E1-E5)
         ── xxhash64 content hash + TMS y-flip (S9)

  BLOCKS path (zooms < partition_zoom — low-zoom exact path):
  images ── mapInPandas window-read kernel per (image, tile)
         ── groupBy(zoom,x,y[,salt]) mosaic+encode  (_mosaic_blocks,
            shared with the warp render)
         ── [hot keys only: groupBy(zoom,x,y) argmax-merge + encode]
         ── xxhash64 content hash + TMS y-flip (S9)

Both paths end in ONE python stage that emits the finished (zoom, x, y,
png) rows through an ``emit`` hook (_emit_tiles); the overview pyramid
(operators/overview.py) hooks it to append each base tile's overview
fragments in that same worker.

Design notes for 100 TB scale:
- The tile manifest is generated per image by column expressions and
  explode — there is no manifest⋈images join at all; the spatial join
  (J3) is satisfied by construction, map-side, with zero shuffle. Tiles
  covered by no image never exist (partition pruning P2 for free).
- Exactly ONE shuffle per path, and the cell path's moves compressed
  SOURCE bytes keyed by covering cell (≙ the reference's bounded(1)
  channel boundary, /root/reference/src/render.rs:99, except the
  reference ships tile IDs because every worker holds the whole raster
  — here the shuffle IS the data delivery). The blocks path ships
  per-tile resampled crops instead, which only stays cheap at low
  zooms.
- Kernel UDFs are Arrow-batched; each cell group decodes its images
  once (≙ per-worker dataset handles,
  /root/reference/src/render.rs:166-171).
- Stage parallelism is pinned by explicit repartition (AQE's
  bytes-based coalescing would serialize compute-heavy, byte-light
  python stages) and groups stream through sorted partitions, so one
  python call + one Arrow batch covers MANY cells.
- Skew: cell-group cost is bounded by images-per-cell; raise
  partition_zoom to split dense areas (quadtree descent). On the
  blocks path, tile keys whose cover count reaches salt_threshold fold
  into salted partial mosaics (pixelwise img_ord-argmax summaries)
  merged by a second tiny aggregate. At scale, prefer building low
  zooms with the overview cascade (operators/overview.py): every
  group <= 4 rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import tilemath as tm
from ..fixtures import NODATA, image_index
from ..kernel import encode_tile, mosaic, read_tile_block
from ..png import Colormap, decode_band
from ..session import local_frame
from ._lineage import plan_size_bytes


def with_footprints(images: DataFrame) -> DataFrame:
    """Attach the engine footprint rule (fixtures.footprint_from_index)
    as PURE JVM column expressions — bit-identical to the numpy rule and
    fused by whole-stage codegen straight into the scan, so the
    scan→footprint→cover-explode map side of the render carries NO
    Python stage at all (the pandas-UDF version cost one Arrow
    round-trip per scan task and pinned a python boundary into every
    render plan; profiled as a pure-wait stage at local[32]).

    splitmix64 runs on signed BIGINT with Java wrapping semantics
    (session.py sets ansi off): the unsigned constants appear as their
    two's-complement values and unsigned shifts as shiftrightunsigned —
    exact. The double pipeline replays numpy's op order exactly
    ((cx + ox) * cs then the origin add), every intermediate is
    integer-exact below 2^53, so footprints match the oracle to the
    last bit (pinned by tests/test_render_parity.py::test_jvm_footprints).

    Tables that already carry georeferencing (minx/miny/maxx/maxy in
    EPSG:3857) pass through untouched — the derivation rule is only the
    default for the bare input_hint schema.

    ANSI dispatch: the wrapping bigint multiplies THROW under Spark 4's
    default ANSI mode (our sessions disable it; a caller-provided
    session may not — the driver's own smoke-check session doesn't).
    When the active session is ANSI, fall back to the numpy/pandas-UDF
    form of the same rule — bit-identical output, one Arrow round-trip
    slower, never wrong."""
    if {"minx", "miny", "maxx", "maxy"} <= set(images.columns):
        return images
    # no fallback default here: get(key) resolves Spark's EFFECTIVE
    # value (Spark 4 defaults ANSI on even when the key is unset;
    # get(key, "false") would mask that and take the throwing path)
    if images.sparkSession.conf.get(
            "spark.sql.ansi.enabled").lower() == "true":
        return _with_footprints_udf(images)

    from ..fixtures import ZBASE

    n = 1 << ZBASE
    cs = tm.CE / float(n)
    # splitmix64 constants as signed 64-bit (two's complement)
    c1, c2, c3 = -7046029254386353131, -4658895280553007687, -7723592293110705685
    df = (
        images
        .withColumn("_z", F.expr(f"cast(substring(image_id, 4) as bigint) + {c1}L"))
        .withColumn("_z", F.expr(f"(_z ^ shiftrightunsigned(_z, 30)) * {c2}L"))
        .withColumn("_z", F.expr(f"(_z ^ shiftrightunsigned(_z, 27)) * {c3}L"))
        .withColumn("_g", F.expr("_z ^ shiftrightunsigned(_z, 31)"))
        .drop("_z")
    )
    cx = F.least(F.col("_g").bitwiseAND(F.lit(n - 1)), F.lit(n - 3)).cast("double")
    cy = F.least(F.expr(f"shiftrightunsigned(_g, 13) & {n - 1}"),
                 F.lit(n - 3)).cast("double")
    ox = F.expr("shiftrightunsigned(_g, 26) & 3").cast("double") * F.lit(0.25)
    oy = F.expr("shiftrightunsigned(_g, 28) & 3").cast("double") * F.lit(0.25)
    span = F.lit(0.5) + F.lit(0.5) * F.expr("shiftrightunsigned(_g, 30) & 3").cast("double")
    minx = F.lit(-tm.ORIGIN) + (cx + ox) * F.lit(cs)
    maxy = F.lit(tm.ORIGIN) - (cy + oy) * F.lit(cs)
    return (
        df.withColumn("minx", minx)
        .withColumn("maxy", maxy)
        .withColumn("miny", F.col("maxy") - span * F.lit(cs))
        .withColumn("maxx", F.col("minx") + span * F.lit(cs))
        .drop("_g")
    )


_FOOTPRINT_SCHEMA = "minx double, miny double, maxx double, maxy double"


def _with_footprints_udf(images: DataFrame) -> DataFrame:
    """ANSI-session fallback: the same footprint rule through the
    shared numpy implementation (wrapping uint64 arithmetic stays in
    numpy, which ANSI cannot reject)."""
    from ..fixtures import footprint_from_index

    @F.pandas_udf(_FOOTPRINT_SCHEMA)
    def fp(image_id: pd.Series) -> pd.DataFrame:
        idx = image_index(image_id)
        minx, miny, maxx, maxy = footprint_from_index(idx)
        return pd.DataFrame({"minx": minx, "miny": miny,
                             "maxx": maxx, "maxy": maxy})

    return images.withColumn("_fp", fp("image_id")).select(
        "*", "_fp.*").drop("_fp")


def tile_range_cols(df: DataFrame, zoom_col: str = "zoom") -> DataFrame:
    """G3 (/root/reference/src/tileid.rs:100-131) as JVM column
    expressions — identical IEEE double op order to tilemath.tile_range,
    so tile assignment is bit-for-bit the same as the numpy oracle."""
    z = F.expr(f"cast(shiftleft(1L, cast({zoom_col} as int)) as double)")
    zmax = F.expr(f"shiftleft(1L, cast({zoom_col} as int))") - 1
    origin = F.lit(-tm.ORIGIN)
    ce = F.lit(tm.CE)
    eps = F.lit(1e-11)

    def clamp(c):
        return F.greatest(F.lit(0).cast("long"), F.least(zmax, c.cast("long")))

    return (
        df.withColumn("txmin", clamp(F.floor(((F.col("minx") - origin) / ce) * z)))
        .withColumn("tymin", clamp(F.floor((F.lit(1.0) - ((F.col("maxy") - origin) / ce)) * z)))
        .withColumn("txmax", clamp(F.floor((((F.col("maxx") - origin) / ce) - eps) * z)))
        .withColumn("tymax", clamp(F.floor((F.lit(1.0) - (((F.col("miny") - origin) / ce) + eps)) * z)))
    )


def tile_manifest(images_fp: DataFrame, minzoom: int, maxzoom: int) -> DataFrame:
    """G5: explode per-image tile ranges across zooms (x-major order is
    irrelevant distributed — determinism comes from keying, not
    iteration order)."""
    spark = images_fp.sparkSession
    zooms = spark.range(minzoom, maxzoom + 1).select(F.col("id").cast("int").alias("zoom"))
    df = tile_range_cols(images_fp.crossJoin(F.broadcast(zooms)))
    return (
        df.withColumn("tx", F.explode(F.sequence("txmin", "txmax")))
        .withColumn("ty", F.explode(F.sequence("tymin", "tymax")))
        .drop("txmin", "txmax", "tymin", "tymax")
    )


_KERNEL_SCHEMA = (
    "zoom int, x long, y long, image_id string, img_ord long, left int, top int, "
    "bw int, bh int, block binary"
)


def _kernel_all_zooms_fn(minzoom: int, maxzoom: int, tile_size: int,
                         use_input_ord: bool = False):
    """Fused manifest+kernel: one input row per image, PNG bytes cross
    the Arrow boundary ONCE, decode happens once, and the per-zoom tile
    ranges are enumerated in-process (same tile_range math as the
    declarative tile_manifest — pinned by the shared tilemath module).
    Serves the low-zoom BLOCKS path (zooms below partition_zoom, where
    per-tile blocks are tiny); high zooms take the cell path. The
    declarative explode remains for planning queries (q_tile_cover)
    where Catalyst-visibility matters more than byte movement."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import tilemath as tm

        for pdf in batches:
            out = {k: [] for k in
                   ("zoom", "x", "y", "image_id", "img_ord", "left", "top", "bw", "bh", "block")}
            for row in pdf.itertuples(index=False):
                band = decode_band(bytes(row.bytes), row.fmt)
                # ord64 (order-preserving key from a distributed sort)
                # when the caller joined one on; else the fixture-scheme
                # parse — int order == string order only for the exact
                # 'img' + 8-digit form (render() checks before choosing)
                img_ord = (int(row.ord64) if use_input_ord
                           else int(image_index(row.image_id)))
                for zoom in range(minzoom, maxzoom + 1):
                    r = tm.tile_range(zoom, row.minx, row.miny, row.maxx, row.maxy)
                    for _, tx, ty in tm.tile_range_iter(zoom, *r):
                        res = read_tile_block(
                            band, row.minx, row.miny, row.maxx, row.maxy,
                            zoom, tx, ty, tile_size, NODATA,
                        )
                        if res is None:
                            continue
                        left, top, bw, bh, block = res
                        out["zoom"].append(zoom)
                        out["x"].append(tx)
                        out["y"].append(ty)
                        out["image_id"].append(row.image_id)
                        out["img_ord"].append(img_ord)
                        out["left"].append(left)
                        out["top"].append(top)
                        out["bw"].append(bw)
                        out["bh"].append(bh)
                        out["block"].append(np.ascontiguousarray(block).tobytes())
            yield pd.DataFrame(out)

    return fn


def _render_cell(group: pd.DataFrame, pz: int, zlo: int, zhi: int,
                 tile_size: int, dtype_tag: str, np_dtype, colormap,
                 out: dict) -> None:
    """Render every tile of zooms [zlo, zhi] inside one zoom-``pz`` cell
    given ALL images overlapping it: decode each image once, window-read
    + mosaic + encode fully task-local (the reference's worker model,
    /root/reference/src/render.rs:127-145, where each worker turns
    source windows directly into finished tiles).

    Correctness of the cell split: a tile at z >= pz lies in exactly one
    pz-cell, and tile_range applies the ε-shrink to the NORMALIZED
    coordinate before zoom scaling, so floor(v·2^z) >> (z-pz) ==
    floor(v·2^pz) — an image's zoom-z range is always contained in its
    zoom-pz cover, hence grouping by the pz cover loses no contributor.
    """
    from .. import tilemath as tm

    cx, cy = int(group["cx"].iloc[0]), int(group["cy"].iloc[0])
    group = group.sort_values("image_id")  # mosaic paste order
    bands = [decode_band(bytes(b), f) for b, f in zip(group["bytes"], group["fmt"])]
    boxes = group[["minx", "miny", "maxx", "maxy"]].to_numpy()
    for z in range(zlo, zhi + 1):
        s = z - pz
        ctx0, cty0 = cx << s, cy << s
        ctx1, cty1 = ((cx + 1) << s) - 1, ((cy + 1) << s) - 1
        contribs: dict[tuple[int, int], list[int]] = {}
        for i in range(len(bands)):
            txmin, tymin, txmax, tymax = tm.tile_range(z, *boxes[i])
            for tx in range(max(txmin, ctx0), min(txmax, ctx1) + 1):
                for ty in range(max(tymin, cty0), min(tymax, cty1) + 1):
                    contribs.setdefault((tx, ty), []).append(i)
        for (tx, ty), idxs in contribs.items():
            parts = []
            for i in idxs:
                res = read_tile_block(bands[i], *boxes[i], z, tx, ty,
                                      tile_size, NODATA)
                if res is not None:
                    parts.append((i,) + res)  # already image_id-sorted
            canvas = mosaic(parts, tile_size, NODATA, np_dtype)
            if canvas is None:
                continue
            out["zoom"].append(z)
            out["x"].append(tx)
            out["y"].append(ty)
            out["png"].append(encode_tile(canvas, dtype_tag, NODATA, colormap))


def _cell_stream_fn(pz: int, zlo: int, zhi: int, tile_size: int,
                    dtype_tag: str, colormap_str: str | None,
                    flush_rows: int = 2048):
    """Sort-based cell aggregation: input partitions are hash-distributed
    on (cx, cy) and sorted within partitions, so each cell's rows are
    contiguous — stream Arrow batches, cut groups at key changes, and
    carry only the boundary group between batches. One mapInPandas over
    the whole partition amortizes Python-call and Arrow-batch overhead
    across thousands of cells (vs one applyInPandas call + one tiny
    output batch PER cell — measured ~1.3x wall on dense pyramids) and
    keeps memory at one batch + one group regardless of partition size.
    """
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, NODATA) if colormap_str else None
        out = {"zoom": [], "x": [], "y": [], "png": []}
        # boundary group carried as a LIST of batch slices, concatenated
        # ONCE when the group closes: re-concatenating the accumulated
        # group onto every following batch goes quadratic on a dense
        # cell spanning many Arrow batches (the same trap the fragment
        # assembler documents) — this form is O(group) total copies
        pend_chunks: list[pd.DataFrame] = []
        pend_key: int | None = None

        def flush():
            df = pd.DataFrame(out)
            for k in out:
                out[k] = []
            return df

        def close_group():
            grp = (pend_chunks[0] if len(pend_chunks) == 1
                   else pd.concat(pend_chunks, ignore_index=True))
            _render_cell(grp, pz, zlo, zhi, tile_size, dtype_tag,
                         np_dtype, colormap, out)
            pend_chunks.clear()

        for pdf in batches:
            if not len(pdf):
                continue
            # contiguous runs of (cx, cy); the last run may spill into
            # the next batch — keep it pending
            key = pdf["cx"].to_numpy() * (1 << 32) + pdf["cy"].to_numpy()
            cuts = np.flatnonzero(key[1:] != key[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(pdf)]))
            for s, e in zip(starts, ends):
                k = int(key[s])
                if pend_chunks and k != pend_key:
                    close_group()
                pend_chunks.append(pdf.iloc[s:e])
                pend_key = k
                if e < len(pdf):  # a later run exists: this group is done
                    close_group()
                if len(out["zoom"]) >= flush_rows:
                    yield flush()
        if pend_chunks:
            close_group()
        if out["zoom"]:
            yield flush()

    return fn


def _fold_partial(contribs, tile_size: int, np_dtype, nodata=NODATA):
    """Fold one salt bucket's contributions into a (canvas, winner)
    partial: paste ascending by img_ord so winner[p] is the MAX img_ord
    with data at p — associative+commutative, so partials from any
    bucket split merge exactly. Returns None when the bucket carried
    only nodata. Stage B's hot branch (_route_mosaic_fn) is its only
    caller, for render and render_warp alike."""
    canvas = np.full((tile_size, tile_size), nodata, dtype=np_dtype)
    winner = np.full((tile_size, tile_size), -1, dtype=np.int64)
    for c in sorted(contribs, key=lambda c: int(c["img_ord"])):
        left, top = int(c["left"]), int(c["top"])
        bw, bh = int(c["bw"]), int(c["bh"])
        block = np.frombuffer(c["block"], dtype=np_dtype).reshape(bh, bw)
        mask = block != nodata
        if not mask.any():
            continue
        canvas[top:top + bh, left:left + bw][mask] = block[mask]
        winner[top:top + bh, left:left + bw][mask] = int(c["img_ord"])
    if (winner == -1).all():
        return None
    return canvas, winner


def _argmax_merge(parts, tile_size: int, np_dtype, nodata=NODATA):
    """Pixelwise argmax-merge of (canvas, winner) partials (the other
    half of the _fold_partial contract). Returns None when every partial
    pixel is nodata."""
    canvas = np.full((tile_size, tile_size), nodata, dtype=np_dtype)
    winner = np.full((tile_size, tile_size), -1, dtype=np.int64)
    for p in parts:
        c = np.frombuffer(p["canvas"], dtype=np_dtype).reshape(
            tile_size, tile_size)
        w = np.frombuffer(p["winner"], dtype=np.int64).reshape(
            tile_size, tile_size)
        take = w > winner
        canvas[take] = c[take]
        winner[take] = w[take]
    if (winner == -1).all():
        return None
    return canvas


_TILE_SCHEMA = "zoom int, x long, y long, png binary"


def _emit_tiles(df: DataFrame, fn) -> DataFrame:
    """A render path's last python stage: ``fn`` over ``df``, (zoom, x,
    y, png) rows out (mapInPandas reads a frame's first four columns, so
    stage B's png/canvas/winner frames qualify). The ``emit`` hook of
    _render_tiles and _mosaic_blocks; overview._with_fragments is the
    pyramid's form, which wraps ``fn`` in the same worker."""
    return df.mapInPandas(fn, _TILE_SCHEMA)


def _route_mosaic_fn(tile_size: int, dtype_tag: str,
                     colormap_str: str | None, nodata=NODATA):
    """Stage B of _mosaic_blocks: rows are (zoom, x, y[, salt],
    is_hot, contribs). COLD groups (salt 0, not hot) hold their
    tile's ENTIRE contribution list — mosaic + encode to a finished
    png here (one pass, kernel.mosaic's paste rule). HOT groups are
    one salt bucket of a hot tile — fold to a (canvas, winner) partial
    for stage C's argmax merge. Output rows carry either png or
    canvas+winner, never both."""
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "png": [],
                   "canvas": [], "winner": []}
            for row in pdf.itertuples(index=False):
                if not row.is_hot:
                    contribs = [
                        (int(c["img_ord"]), int(c["left"]), int(c["top"]),
                         int(c["bw"]), int(c["bh"]),
                         np.frombuffer(c["block"], dtype=np_dtype)
                         .reshape(int(c["bh"]), int(c["bw"])))
                        for c in row.contribs
                    ]
                    canvas = mosaic(contribs, tile_size, nodata, np_dtype)
                    if canvas is None:
                        continue
                    out["zoom"].append(int(row.zoom))
                    out["x"].append(int(row.x))
                    out["y"].append(int(row.y))
                    out["png"].append(
                        encode_tile(canvas, dtype_tag, nodata, colormap))
                    out["canvas"].append(None)
                    out["winner"].append(None)
                    continue
                folded = _fold_partial(row.contribs, tile_size, np_dtype,
                                       nodata)
                if folded is None:
                    continue
                canvas, winner = folded
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["png"].append(None)
                out["canvas"].append(canvas.tobytes())
                out["winner"].append(winner.tobytes())
            yield pd.DataFrame(out)

    return fn


def _merge_or_pass_fn(tile_size: int, dtype_tag: str,
                      colormap_str: str | None, nodata=NODATA):
    """Stage C of _mosaic_blocks: finished cold PNGs pass through;
    hot tiles argmax-merge their salt partials and encode."""
    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = Colormap.parse(colormap_str, nodata) if colormap_str else None
        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "png": []}
            for row in pdf.itertuples(index=False):
                parts = row.partials
                if len(parts) == 1 and parts[0]["png"] is not None:
                    out["zoom"].append(int(row.zoom))
                    out["x"].append(int(row.x))
                    out["y"].append(int(row.y))
                    out["png"].append(bytes(parts[0]["png"]))
                    continue
                canvas = _argmax_merge(parts, tile_size, np_dtype, nodata)
                if canvas is None:
                    continue
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["png"].append(
                    encode_tile(canvas, dtype_tag, nodata, colormap))
            yield pd.DataFrame(out)

    return fn


# salting threshold: a plain mosaic task costs ~30-60 µs per
# contribution, so keys below ~8k contributions finish in <~0.5 s and
# the two-phase path's winner-array partials (9x the canvas bytes per
# bucket) would cost more than they save; above it the single task is
# a genuine serial tail (65k contributions ≈ 2-4 s; at 10^12 rows, an
# OOM). Relative sizing doesn't matter at corpus scale — every
# sub-partition-zoom tile is astronomically past any threshold.
_AUTO_SALT_THRESHOLD = 8192
# hard cap on the collected hot keyset: with partition_zoom=None
# the manifest spans every zoom, and a dense corpus could cross the
# threshold on millions of mid-zoom tiles — only the HOTTEST keys
# matter for the serial-tail problem, and unsalted keys still render
# correctly through the cold path (just single-task). The top-K keeps
# the collect + broadcast bounded at any scale.
_AUTO_SALT_MAX_KEYS = 65536
# cell-stage input bytes per task (see _cell_tiles): the 65k-image
# fixture's ~46 MB source lands at ~cores*8 tasks at 32 cores
_CELL_TASK_BYTES = 196608


def _hot_keys(footprints: DataFrame, minzoom: int, maxzoom: int,
              threshold: int) -> DataFrame:
    """The blocks-path hot-key query: (zoom, x, y) of the tile keys in
    [minzoom, maxzoom] whose footprint cover count reaches
    ``threshold``, hottest first, at most ``_AUTO_SALT_MAX_KEYS`` of
    them (a bounded TakeOrdered). Pure JVM — the tile_manifest explode
    needs only the EPSG:3857 footprint columns, no decode, no python —
    and the cover count is a superset of the blocks the kernel emits,
    which is exactly right for routing."""
    return (
        tile_manifest(footprints, minzoom, maxzoom)
        .groupBy("zoom", "tx", "ty").count()
        .filter(F.col("count") >= threshold)
        .orderBy(F.desc("count"), "zoom", "tx", "ty")  # deterministic
        .limit(_AUTO_SALT_MAX_KEYS)
        .select("zoom", F.col("tx").alias("x"), F.col("ty").alias("y"))
    )


def _mosaic_blocks(blocks: DataFrame, hot_rows, tile_size: int,
                   dtype_tag: str, colormap_str: str | None, n_parts: int,
                   nodata=NODATA, emit=_emit_tiles) -> DataFrame:
    """The blocks-path mosaic, shared by render and render_warp:
    (zoom, x, y, img_ord, left, top, bw, bh, block) rows → (zoom, x, y,
    png), pasted in ascending img_ord.

    The keys in ``hot_rows`` (collected _hot_keys rows) are salted over
    defaultParallelism buckets: stage B folds each bucket of a hot key
    to a (canvas, winner) partial and mosaics + encodes every cold key
    in one pass; stage C argmax-merges the partials and passes the
    finished cold PNGs through. A hot tile thus parallelizes across
    buckets instead of aggregating every image in ONE task (a serial
    tail that flattens N→4N scaling, and at 10^12 rows an OOM); cold
    tiles pay one extra shuffle hop of their PNG (KBs). With no hot
    keys stage B alone is the whole mosaic. The last stage (B, or C with
    hot keys) runs through ``emit``. Salted and plain output is
    byte-identical (tests/test_overview_salt.py)."""
    spark = blocks.sparkSession
    if hot_rows:
        hot_keys = local_frame(
            spark, [(int(r["zoom"]), int(r["x"]), int(r["y"]), True)
             for r in hot_rows],
            "zoom int, x long, y long, is_hot boolean")
        buckets = spark.sparkContext.defaultParallelism
        blocks = (
            blocks.join(F.broadcast(hot_keys), ["zoom", "x", "y"], "left")
            .fillna(False, subset=["is_hot"])
            .withColumn("salt", F.when(
                F.col("is_hot"), F.pmod(F.col("img_ord"), F.lit(buckets))
            ).otherwise(F.lit(0)).cast("int"))
        )
        keys = ["zoom", "x", "y", "salt"]
    else:
        blocks = blocks.withColumn("is_hot", F.lit(False))
        keys = ["zoom", "x", "y"]
    groups = blocks.repartition(n_parts, *keys).groupBy(*keys, "is_hot").agg(
        F.collect_list(
            F.struct("img_ord", "left", "top", "bw", "bh", "block")
        ).alias("contribs"))
    route = _route_mosaic_fn(tile_size, dtype_tag, colormap_str, nodata)
    if not hot_rows:
        return emit(groups, route)
    stage_b = groups.mapInPandas(
        route,
        "zoom int, x long, y long, png binary, canvas binary, winner binary")
    return emit(
        stage_b.repartition(n_parts, "zoom", "x", "y").groupBy(
            "zoom", "x", "y").agg(
            F.collect_list(F.struct("png", "canvas", "winner"))
            .alias("partials")),
        _merge_or_pass_fn(tile_size, dtype_tag, colormap_str, nodata))


def _cell_tiles(images: DataFrame, src: DataFrame, pz: int, zlo: int,
                zhi: int, tile_size: int, dtype_tag: str,
                colormap_str: str | None, emit) -> DataFrame:
    """CELL path, zooms [zlo, zhi] >= pz: explode each image to its
    covering zoom-pz cells, shuffle compressed source bytes by cell and
    render every cell group end to end (_cell_stream_fn)."""
    # Explicit repartitions pin stage parallelism: AQE's bytes-based
    # coalescing would collapse these Python-UDF-heavy stages to a handful
    # of tasks (shuffle bytes are small — compressed PNGs — but per-row
    # compute is large), serializing the pipeline. Measured 3.5x on the
    # cell stage at local[32].
    #
    # Cell-stage task count is SCALE-ADAPTIVE between cores*2 and
    # cores*MULT (default 8), derived from the input's plan-statistics
    # size (parquet footer file sizes — metadata only, no job):
    # - the CEILING is r4's 65k-image evidence: cell-group costs are
    #   uneven, and at cores*4 the stage ends in a straggler drain
    #   (event-log profiling showed the last wave trickling 32→1 active
    #   tasks); cores*8 halves per-task cost so the tail packs tighter
    #   — ~5-10% off the 65k render wall, and the main reason N→4N
    #   scaling holds. 65k fixture ≈ 46 MB source → the byte target
    #   reproduces ~cores*8 there.
    # - the FLOOR is the python per-task tax: each task pays a fixed
    #   start-up cost (PySpark's per-task import-cache invalidation
    #   re-parsed pyspark.zip until ``_worker`` stamped it), so a small
    #   input (bench's 2048 images ≈ 1.5 MB) at 256 tasks burned
    #   1.5-2.5 s of wall on it alone — measured 6.1-8.0 s → 4.7-5.5 s
    #   for the same render at cores*2.
    # A constant multiplier tuned for either end loses at the other;
    # deriving from bytes keeps both measured optima (guide §2).
    from ..session import env_int

    cores = images.sparkSession.sparkContext.defaultParallelism
    mult_cap = env_int("SPARK_GRAFT_CELL_MULT", 8)
    n_parts = max(cores * mult_cap, 8)
    try:
        est = plan_size_bytes(images) // _CELL_TASK_BYTES
        n_parts = int(max(min(est, cores * mult_cap), cores * 2, 8))
    except Exception:
        pass  # no stats (unusual plan): keep the ceiling
    # The map side here (scan → footprint → tile-range → explode →
    # shuffle write) is pure JVM codegen since with_footprints became
    # column expressions: no repartition needed to pin parallelism —
    # even a handful of scan tasks push the ~MBs/task through in
    # JVM time, and one fewer exchange means one fewer stage floor.
    # (With the old pandas-UDF footprint stage this same map side
    # was scan-split-bound and needed fine maxPartitionBytes or an
    # explicit exchange; profiled at local[32] as pure Arrow wait.)
    covers = tile_range_cols(src.withColumn("zoom", F.lit(pz).cast("int")))
    exploded = (
        covers.withColumn("cx", F.explode(F.sequence("txmin", "txmax")))
        .withColumn("cy", F.explode(F.sequence("tymin", "tymax")))
        .select("cx", "cy", "image_id", "bytes", "fmt",
                "minx", "miny", "maxx", "maxy")
    )
    return emit(
        exploded.repartition(n_parts, "cx", "cy")
        .sortWithinPartitions("cx", "cy"),
        _cell_stream_fn(pz, zlo, zhi, tile_size, dtype_tag, colormap_str))


def _blocks_tiles(src: DataFrame, general_ids: bool, hot_rows, zlo: int,
                  zhi: int, tile_size: int, dtype_tag: str,
                  colormap_str: str | None, emit) -> DataFrame:
    """BLOCKS path, zooms [zlo, zhi] < pz: decode each image once and
    window-read its per-tile blocks (_kernel_all_zooms_fn), then
    _mosaic_blocks. ``general_ids`` joins an order-preserving ord64
    paste key on (ids outside the fixed 'img' + 8-digit scheme, whose
    parsed integer no longer sorts like the string)."""
    # kernel and mosaic stages at cores*2, not the cell stage's cores*8:
    # tuned while every python task paid a fixed start-up cost (the
    # per-task zip re-parse, see ``_worker``) — fewer, larger kernel
    # tasks won (128→64 tasks saved ~2.4 s of a ~5 s stage at
    # local[32]), and the mosaic only handles the zooms below pz
    # (at most 4^pz/3 tiles), so per-tile cost is even and tail-packing
    # buys nothing
    n_parts = max(src.sparkSession.sparkContext.defaultParallelism * 2, 8)
    if general_ids:
        # distinct ids sorted distributively: monotonically_increasing_id
        # follows range-partition order (non-dense but order-preserving —
        # order is all the paste and winner rules need)
        ord_map = (src.select("image_id").distinct().orderBy("image_id")
                   .withColumn("ord64", F.monotonically_increasing_id()))
        src = src.join(ord_map, "image_id")
    # the repartition costs one pass of source bytes but balances the
    # decode+kernel across tasks (scan splits alone are skewed by
    # row-group byte sizes); measured faster than scan-aligned
    blocks = src.repartition(n_parts, "image_id").mapInPandas(
        _kernel_all_zooms_fn(zlo, zhi, tile_size, use_input_ord=general_ids),
        _KERNEL_SCHEMA)
    return _mosaic_blocks(blocks, hot_rows, tile_size, dtype_tag,
                          colormap_str, n_parts, emit=emit)


def render(
    images: DataFrame,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 512,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    partition_zoom: int | None | str = "auto",
    salt_threshold: int | None = _AUTO_SALT_THRESHOLD,
) -> DataFrame:
    """images table → fused tile table
    (zoom int, x long, y long, tile_row long, tile_hash long, png binary)
    where (x, y) is XYZ and tile_row is the TMS-flipped y
    (/root/reference/src/mbtiles.rs:111-113). Lazy — write or collect to
    execute. Validation mirrors /root/reference/src/render.rs:39-48 and
    /root/reference/src/main.rs:108-115, :146-154.

    Physical strategy: zooms >= ``partition_zoom`` (pz) run the CELL
    path — images are exploded to their covering zoom-pz cells and each
    cell group renders its tiles end-to-end, so the shuffle ships
    compressed source bytes (~KBs/image) instead of raw resampled
    pixels (~tile_size² bytes/tile): ~50x less shuffle I/O at high
    zooms, and kernel+mosaic+encode fuse into one stage. Zooms < pz run
    the BLOCKS path (per-tile resampled blocks shuffled to a
    groupBy(zoom,x,y) mosaic) — at low zooms blocks are tiny, and this
    path is the one that salts hot keys when a single low-zoom tile
    aggregates millions of images; at scale prefer the overview cascade
    (operators/overview.py) for those zooms entirely.
    ``partition_zoom="auto"`` picks min(8, maxzoom); None disables the
    cell path. Both paths produce byte-identical tiles (pinned by the
    parity tests).

    Salting: blocks-path tile keys whose footprint cover count reaches
    ``salt_threshold`` (default ``_AUTO_SALT_THRESHOLD``) mosaic in two
    phases over defaultParallelism salt buckets, the long tail in one
    pass (_mosaic_blocks); 1 salts every key, None none. The hot keys
    come from a pure-JVM cover count that shares one collect
    with the image-id scheme check, so the kernel python stage still
    runs exactly once. Salted and plain output is byte-identical
    (tests/test_overview_salt.py).

    pz tradeoff at 10^12 rows: higher pz → more groups (up to 4^pz,
    plenty of parallelism) and smaller per-group tile counts, but more
    duplication of images spanning cell borders (fan-out = (extent/
    cell + 1)²). Pick pz so a typical image spans ~1 cell; dense-area
    skew is bounded by images-per-cell and can be split further by
    raising pz (quadtree descent) — AQE skew hints apply to the
    exchange either way.
    """
    return _finish(_render_tiles(images, minzoom, maxzoom, tile_size,
                                 dtype_tag, colormap_str, partition_zoom,
                                 salt_threshold))


def _render_tiles(images: DataFrame, minzoom: int, maxzoom: int,
                  tile_size: int, dtype_tag: str, colormap_str: str | None,
                  partition_zoom: int | None | str = "auto",
                  salt_threshold: int | None = _AUTO_SALT_THRESHOLD,
                  emit=_emit_tiles) -> DataFrame:
    """render's (zoom, x, y, png) rows before _finish, each path's last
    python stage run through ``emit`` (the overview pyramid's private
    entry: overview._pyramid)."""
    if colormap_str is not None and dtype_tag != "u8":
        raise ValueError("colormap can only be provided for uint8 data")
    if dtype_tag not in ("u8", "u32"):
        raise ValueError(f"data type is not supported: {dtype_tag}")
    if minzoom > maxzoom:
        raise ValueError("minzoom must be <= maxzoom")
    if not (0 <= minzoom <= 24 and 0 <= maxzoom <= 24):
        raise ValueError("zoom must be no greater than 24")

    if partition_zoom == "auto":
        pz = min(8, maxzoom)
    else:
        pz = partition_zoom

    src = with_footprints(images).select(
        "image_id", "bytes", "fmt", "minx", "miny", "maxx", "maxy"
    )

    cell_tiles = None
    if pz is not None and pz <= maxzoom:
        cell_tiles = _cell_tiles(images, src, pz, max(minzoom, pz), maxzoom,
                                 tile_size, dtype_tag, colormap_str, emit)
        if minzoom >= pz:
            return cell_tiles
        maxzoom = pz - 1  # blocks path covers the remaining low zooms

    # ONE collect: the image-id scheme flag (a full image_id scan; it
    # rides as a sentinel zoom=-1 row) plus, when salting, the hot-key
    # top-K as a concurrent subtree of the same job. The mosaic's paste
    # order is ascending image_id, and the kernel's parsed-integer
    # img_ord matches string order ONLY for the exact 'img' + 8-digit
    # scheme.
    #
    # Hot-key routing alternatives measured and rejected at n=65536: a
    # lazy filter-split of the block stream re-executes the kernel
    # python stage per branch (Catalyst/AQE cannot reuse exchanges
    # under MapInPandas consumers — accumulator-verified); a
    # kernel-range split at the source decodes every image twice (~2-4 s
    # of kernel CPU per pass at 32c); a persist+count router serializes
    # a full kernel pre-pass before the main job (~7 s at 32c/65k — more
    # than the serial tail it removes).
    facts_q = src.agg(
        F.max(F.when(~F.col("image_id").rlike("^img[0-9]{8}$"), 1)
              .otherwise(0)).alias("g")
    ).select(F.lit(-1).alias("zoom"),
             F.lit(0).cast("long").alias("x"),
             F.lit(0).cast("long").alias("y"),
             F.coalesce(F.col("g"), F.lit(0)).alias("gen"))
    if salt_threshold is not None:
        facts_q = (_hot_keys(src, minzoom, maxzoom, salt_threshold)
                   .withColumn("gen", F.lit(0)).unionByName(facts_q))
    rows = facts_q.collect()
    general_ids = any(r["zoom"] == -1 and r["gen"] == 1 for r in rows)
    hot_rows = [r for r in rows if r["zoom"] >= 0]

    tiles = _blocks_tiles(src, general_ids, hot_rows, minzoom, maxzoom,
                          tile_size, dtype_tag, colormap_str, emit)
    if cell_tiles is not None:
        tiles = tiles.unionByName(cell_tiles)
    return tiles


def _finish(tiles: DataFrame) -> DataFrame:
    """(zoom,x,y,png) → fused schema: TMS y-flip (S9) + content hash."""
    flip = F.expr("shiftleft(1L, zoom)") - 1 - F.col("y")
    return (
        tiles.withColumn("tile_row", flip)
        .withColumn("tile_hash", F.xxhash64("png"))
        .select("zoom", "x", "y", "tile_row", "tile_hash", "png")
    )


def metadata_table(spark: SparkSession, images: DataFrame, minzoom: int, maxzoom: int,
                   name: str = "tiles") -> DataFrame:
    """S8: tileset metadata (/root/reference/src/render.rs:50-89) via a
    distributed envelope aggregate (A3) + driver-side formatting.
    Geographic tables (minlon..maxlat columns — the warp input shape)
    aggregate their degree bounds directly; mercator tables project the
    envelope back to CRS84 like the reference."""
    if "minlon" in images.columns:
        env = images.agg(
            F.min("minlon").alias("xmin"), F.min("minlat").alias("ymin"),
            F.max("maxlon").alias("xmax"), F.max("maxlat").alias("ymax"),
        ).collect()[0]
        gxmin, gymin = env["xmin"], env["ymin"]
        gxmax, gymax = env["xmax"], env["ymax"]
    else:
        env = (
            with_footprints(images)
            .agg(F.min("minx").alias("xmin"), F.min("miny").alias("ymin"),
                 F.max("maxx").alias("xmax"), F.max("maxy").alias("ymax"))
            .collect()[0]
        )
        gxmin, gymin = tm.mercator_to_geo(env["xmin"], env["ymin"])
        gxmax, gymax = tm.mercator_to_geo(env["xmax"], env["ymax"])
    rows = [
        ("name", name),
        ("minzoom", str(minzoom)),
        ("maxzoom", str(maxzoom)),
        ("bounds", f"{gxmin:.5f},{gymin:.5f},{gxmax:.5f},{gymax:.5f}"),
        ("center", f"{(gxmax + gxmin) / 2:.5f},{(gymax + gymin) / 2:.5f},{minzoom}"),
        ("type", "overlay"),
        ("format", "png"),
        ("version", "1.0.0"),
    ]
    return local_frame(spark, rows, "name string, value string")

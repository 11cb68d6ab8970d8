"""Structured Streaming ingest: incremental tile rendering.

The reference is a batch CLI; re-runs restart from scratch (idempotent
only via INSERT OR IGNORE, /root/reference/src/mbtiles.rs:33-34). The
Spark-native generalization: new image files land in a directory,
``readStream`` picks them up, and each micro-batch renders ONLY the new
images' tiles and upserts them into the tile tables with the merge
operator's left-anti semantics (J2) — a continuously-maintained tile
pyramid.

Merge-on-arrival semantics per (zoom, x, tile_row): the new batch's
tile is MOSAICKED OVER the existing tile (new pixels win where
non-nodata, old pixels show through the new tile's holes) — so when
images arrive in image_id order, the streamed pyramid is byte-identical
to a batch render over all images seen so far (ascending-id paste,
kernel.mosaic). Every batch appends a lineage row to the checkpoint
manifest (O7); Spark's streaming checkpoint (offsets/commits) makes
file ingestion exactly-once.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import ExitStack
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures import NODATA
from ..kernel import encode_tile
from ..operators._lineage import persisted
from ..operators.overview import decode_canvas
from ..operators.render import render

# The tiles table is hive-partitioned as tiles/zoom=Z/xb=B where
# xb = x >> max(0, zoom - XB_BITS) (<= 2^XB_BITS x-blocks per zoom).
# A micro-batch rewrites ONLY the (zoom, xb) partitions its footprint
# touches — the plain-parquet realization of Iceberg copy-on-write
# MERGE INTO; untouched partition directories are never re-written.
XB_BITS = 4


def _xb_col():
    return F.expr(
        f"shiftright(x, greatest(0, cast(zoom as int) - {XB_BITS}))"
    ).alias("xb")


def _tiles_exists(tiles_path: str) -> bool:
    return os.path.isdir(tiles_path) and any(
        e.startswith("zoom=") for e in os.listdir(tiles_path))


def _partition_dirs(root: str) -> list[str]:
    """Relative zoom=Z/xb=B partition dirs under a written table root."""
    out = []
    for zdir in sorted(os.listdir(root)):
        if not zdir.startswith("zoom="):
            continue
        for bdir in sorted(os.listdir(os.path.join(root, zdir))):
            if bdir.startswith("xb="):
                out.append(os.path.join(zdir, bdir))
    return out


def _dir_parquet_rows(root: str) -> int:
    """Row count of one partition dir from parquet FOOTERS only (local
    metadata reads, no data pages, no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    if not os.path.isdir(root):
        return 0
    for name in os.listdir(root):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


def _recover_swap(tiles_path: str) -> bool:
    """Repair a crashed _swap_partitions BEFORE any read of the table.

    A crash between rename(dst, old) and rename(src, dst) leaves the
    partition's only copy in `xb=B.old`: restore it. A crash after the
    replacement landed leaves a stale `.old` beside the live dir: drop
    it. Either way a lingering `.old` dir would poison hive partition
    type inference (xb parses as string) and a missing live dir would
    read as an empty partition during batch replay, so this runs at
    batch entry, ahead of _tiles_exists/merge reads. Returns True if
    anything needed repair (callers resync the manifest row count)."""
    repaired = False
    if not os.path.isdir(tiles_path):
        return repaired
    for zdir in os.listdir(tiles_path):
        zp = os.path.join(tiles_path, zdir)
        if not (zdir.startswith("zoom=") and os.path.isdir(zp)):
            continue
        for bdir in os.listdir(zp):
            if not bdir.endswith(".old"):
                continue
            old = os.path.join(zp, bdir)
            dst = old[: -len(".old")]
            if os.path.isdir(dst):
                shutil.rmtree(old)
            else:
                os.rename(old, dst)
            repaired = True
    return repaired


def _swap_partitions(staged: str, tiles_path: str) -> int:
    """Atomically (per directory) replace each staged partition in the
    live table; clean replaced dirs and the staging area afterwards so a
    long-running stream's disk usage stays bounded at one live copy.

    Crash-safe: entering with a leftover `.old` restores it when the
    live dir is missing (the only copy!) instead of deleting it — see
    _recover_swap for the invariant. Returns the table row-count delta
    (staged minus replaced rows, measured from parquet footers) so the
    manifest count can be maintained incrementally."""
    os.makedirs(tiles_path, exist_ok=True)
    delta = 0
    try:
        for rel in _partition_dirs(staged):
            src = os.path.join(staged, rel)
            dst = os.path.join(tiles_path, rel)
            old = dst + ".old"
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(old):  # leftover from a crashed swap
                if os.path.isdir(dst):
                    shutil.rmtree(old)  # replacement landed; stale backup
                else:
                    os.rename(old, dst)  # only copy — restore, then swap
            delta += _dir_parquet_rows(src) - _dir_parquet_rows(dst)
            if os.path.isdir(dst):
                os.rename(dst, old)
            os.rename(src, dst)
            if os.path.isdir(old):
                shutil.rmtree(old)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return delta


def _pending_marker(out_dir: str) -> str:
    return os.path.join(out_dir, ".commit-pending")


def open_tiles(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a streamed tile table, repairing any crashed partition swap
    FIRST. Between a mid-swap crash and the next non-empty batch the
    only copy of a partition can live in `xb=B.old` — a bare
    spark.read.parquet would silently miss that data (and the `.old`
    dir poisons hive partition type inference). External readers (CLI,
    mbtiles materialization, ad-hoc queries) should come through here;
    the streaming batches run the same repair at entry.

    Single-writer caveat: the repair here can race an ACTIVE stream's
    swap window (restoring/dropping an `.old` the writer is mid-rename
    on), which makes that micro-batch fail and replay — no data is
    lost (replay is byte-idempotent), but external reads against a LIVE
    stream should expect occasional batch replays; for guaranteed-quiet
    reads, stop the stream or read a snapshot copy."""
    tiles_path = os.path.join(out_dir, "tiles")
    _recover_swap(tiles_path)
    return spark.read.parquet(tiles_path)


def _combine_fn(dtype_tag: str, colormap_str: str | None = None):
    """Paste the new tile over the old: per pixel, new wins where it has
    data; nodata holes in the new tile keep the old pixels.

    Colormap constraint: the combine decodes stored PNGs back to values,
    so a user colormap must cover every data value — the paletted
    encoder maps unmapped values to index 0 (= nodata slot, P4), which
    cannot round-trip; with a partial colormap an incremental upsert
    would resurrect old pixels under later data. Batch render has no
    such constraint (it mosaics raw values before encoding).

    u32 domain: the decode-back is lossless because the engine's u32
    pixel domain is 24-bit end to end — u32 inputs enter through the
    engine's PNG-RGB container (3 bytes/pixel) and the encoder's
    truncating cast is the reference's own rule (png/color.rs:28-35),
    so a value >= 2^24 (whose truncation could alias NODATA and
    resurrect old pixels here) cannot be represented in any supported
    input."""
    from ..png import Colormap

    np_dtype = np.uint8 if dtype_tag == "u8" else np.uint32

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        colormap = (Colormap.parse(colormap_str, NODATA)
                    if colormap_str else None)
        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "png": []}
            for row in pdf.itertuples(index=False):
                # a null side = no key collision (full-outer pass-through):
                # the surviving PNG is already the right bytes verbatim
                if row.old_png is None or row.new_png is None:
                    png = bytes(row.new_png if row.old_png is None
                                else row.old_png)
                else:
                    old = decode_canvas(bytes(row.old_png), dtype_tag,
                                        colormap)
                    new = decode_canvas(bytes(row.new_png), dtype_tag,
                                        colormap)
                    mask = new != np_dtype(NODATA)
                    old[mask] = new[mask]
                    png = encode_tile(old, dtype_tag, NODATA, colormap)
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["png"].append(png)
            yield pd.DataFrame(out)

    return fn

_INPUT_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


_TILE_COLS = ["zoom", "x", "y", "tile_row", "tile_hash", "png"]


def _touched_partitions(new: DataFrame) -> list[tuple[int, int]]:
    return [(r["zoom"], r["xb"]) for r in
            new.select("zoom", _xb_col()).distinct().collect()]


def _merge_into_touched(new: DataFrame, tiles_path: str,
                        dtype_tag: str, colormap_str: str | None = None,
                        touched: list[tuple[int, int]] | None = None) -> DataFrame:
    """Copy-on-write merge scoped to the batch's partitions: read ONLY
    the (zoom, xb) partitions `new` touches, mosaic-over combine on key
    collisions, and return the full replacement content for exactly
    those partitions (old-only rows included — they must survive the
    directory swap). Rows in untouched partitions are never read."""
    spark = new.sparkSession
    key = ["zoom", "x", "y"]
    if touched is None:
        touched = _touched_partitions(new)
    pred = F.lit(False)
    for z, b in touched:
        pred = pred | ((F.col("zoom") == z) & (F.col("xb") == b))
    # zoom/xb are hive partition columns: this disjunction prunes to the
    # touched directories at scan planning, no data files elsewhere open.
    # ONE full-outer join, with old-only/new-only pass-through decided
    # INSIDE the single python stage: the previous anti/anti/inner
    #3-join shape scanned the byte-heavy touched partitions three
    # times per micro-batch (exchange/scan reuse does not happen under
    # python-stage consumers — CLAUDE.md), and a JVM-side filter fork
    # of the joined frame would re-execute the join per branch for the
    # same reason.
    old = spark.read.parquet(tiles_path).filter(pred) \
        .select(*key, F.col("png").alias("old_png"))
    joined = old.join(new.select(*key, F.col("png").alias("new_png")),
                      key, "full_outer")
    merged = joined.mapInPandas(_combine_fn(dtype_tag, colormap_str),
                                "zoom int, x long, y long, png binary")
    flip = F.expr("shiftleft(1L, zoom)") - 1 - F.col("y")
    return (
        merged.withColumn("tile_row", flip)
        .withColumn("tile_hash", F.xxhash64("png"))
        .select(*_TILE_COLS)
    )


def _write_staged(df: DataFrame, staged: str) -> None:
    df.withColumn("xb", _xb_col()).write.partitionBy("zoom", "xb").mode(
        "overwrite").parquet(staged)


def _write_manifest(out_dir: str, batch_id: int, rows: int) -> None:
    manifest_dir = os.path.join(out_dir, "manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, f".batch={batch_id}.tmp")
    with open(tmp, "w") as f:
        json.dump({"batch_id": batch_id, "rows": rows,
                   "committed_at": time.time()}, f)
    os.replace(tmp, os.path.join(manifest_dir, f"batch={batch_id}.json"))


def _prev_manifest(out_dir: str) -> tuple[int, int] | None:
    """(batch_id, rows) of the latest committed manifest entry."""
    manifest_dir = os.path.join(out_dir, "manifest")
    if not os.path.isdir(manifest_dir):
        return None
    best_id = -1
    for name in os.listdir(manifest_dir):  # max id from the FILENAME —
        # opening+parsing every manifest would be O(total batches) per
        # batch, O(n^2) over a long stream's life
        if name.startswith("batch=") and name.endswith(".json"):
            try:
                best_id = max(best_id, int(name[len("batch="):-len(".json")]))
            except ValueError:
                continue
    if best_id < 0:
        return None
    with open(os.path.join(manifest_dir, f"batch={best_id}.json")) as f:
        return (best_id, json.load(f)["rows"])


def _manifest_rows(out_dir: str, tiles_path: str, batch_id: int, delta: int,
                   repaired: bool) -> int:
    """Maintain the manifest row count from the swap's measured delta —
    O(touched partitions), not O(all partitions). Falls back to a full
    footer count only on the rare resync paths: first batch, crash
    repair (including a lingering commit-pending marker: a crash AFTER
    a swap landed but BEFORE its manifest row was written leaves no
    `.old` dirs and no manifest for the crashed batch, so without the
    marker the incremental guard would measure delta against the
    already-upserted table and permanently understate the total), or
    batch replay (manifest for this or a later batch already exists, so
    the previous total may predate a crash mid-commit)."""
    prev = _prev_manifest(out_dir)
    if prev is not None and not repaired and prev[0] < batch_id:
        return prev[1] + delta
    # resync: footer-only count across the table (no data pages)
    spark_total = 0
    for rel in _partition_dirs(tiles_path):
        spark_total += _dir_parquet_rows(os.path.join(tiles_path, rel))
    return spark_total


def _upsert_batch(batch_df: DataFrame, out_dir: str, minzoom: int,
                  maxzoom: int, overview_below: int, tile_size: int,
                  dtype_tag: str, batch_id: int,
                  colormap_str: str | None = None) -> None:
    """Streamed pyramid maintenance: the batch renders and mosaic-over
    upserts ONLY the direct zooms [base..maxzoom] (base = overview_below
    clamped to [minzoom, maxzoom]; base = minzoom makes every zoom
    direct, the plain stream_render); the low zooms are then rebuilt by
    the overview cascade FROM THE MATERIALIZED BASE LEVEL — source
    images are never re-read for overviews, and each batch's low-zoom
    work is bounded by the base tile count (shrinking 4x per level),
    not by the image count.

    The direct-zoom upsert is materialized (staged parquet) before the
    cascade reads it: a fully-lazy formulation that self-joined the
    merged frame re-executed the batch render once per cascade level
    (combinatorial recompute) and produced inconsistent merges —
    materialized boundaries are also what the checkpointed production
    pipeline does per batch.

    Incremental overview maintenance is BLOCK-STRIPE scoped: only the
    x-block stripes the batch touched at the base zoom are recascaded.
    The stripe id is invariant under zoom for z >= XB_BITS (xb@z of a
    tile equals the base-zoom xb of its descendants), and cascade
    subtrees never span stripes there, so recomputing the dirty stripes
    from the merged base reproduces exactly the full cascade's bytes for
    those stripes while untouched stripes' partitions stay on disk.
    Zooms below XB_BITS hold <= 4^XB_BITS tiles TOTAL regardless of data
    size, so they rebuild fully from the assembled zoom-XB_BITS level —
    per-batch overview work is O(dirty stripes) + O(1), not O(base)."""
    from ..operators.overview import cascade_fragments

    spark = batch_df.sparkSession
    tiles_path = os.path.join(out_dir, "tiles")
    # repair runs on EVERY batch (empty ones included): between a
    # mid-swap crash and the next non-empty batch, readers of the table
    # would otherwise see the partition's only copy stranded in `.old`
    marker = _pending_marker(out_dir)
    repaired = _recover_swap(tiles_path) or os.path.exists(marker)
    if batch_df.isEmpty():
        return
    base = min(max(overview_below, minzoom), maxzoom)
    fused = render(batch_df, base, maxzoom, tile_size=tile_size,
                   dtype_tag=dtype_tag, colormap_str=colormap_str)

    # phase 1: partition-scoped upsert of the direct zooms [base..maxzoom]
    # (read twice: touched-partition discovery and the staged write)
    with persisted(fused.select(*_TILE_COLS)) as new:
        touched = _touched_partitions(new) if minzoom < base else None
        staged = tiles_path + ".staged"
        try:
            merged = (_merge_into_touched(new, tiles_path, dtype_tag,
                                          colormap_str, touched=touched)
                      if _tiles_exists(tiles_path) else new)
            _write_staged(merged, staged)
            # commit-pending marker before the FIRST swap, cleared only
            # after the manifest row lands (covers both phases): while
            # it exists, the next attempt full-resyncs the manifest
            # count instead of trusting an incremental delta
            os.makedirs(out_dir, exist_ok=True)
            open(marker, "w").close()
            delta = _swap_partitions(staged, tiles_path)
        finally:
            shutil.rmtree(staged, ignore_errors=True)

    # phase 2: recascade ONLY the dirty base stripes from the LIVE
    # merged base level (materialized boundary — see docstring).
    # dirty_bs empty means the batch changed no base tiles (e.g. every
    # image rendered all-nodata): the cascade below base is unchanged,
    # and the _tiles_exists guard keeps a zero-tile FIRST batch from
    # reading an empty parquet dir (UNABLE_TO_INFER_SCHEMA would crash
    # the batch and deterministic replay would re-crash it forever).
    dirty_bs = sorted({b for z, b in touched or () if z == base})
    if dirty_bs and _tiles_exists(tiles_path):
        staged2 = tiles_path + ".staged2"
        with ExitStack() as scope:
            scope.callback(shutil.rmtree, staged2, ignore_errors=True)
            live = spark.read.parquet(tiles_path)
            if base <= XB_BITS:
                # the whole sub-base pyramid is <= 4^XB_BITS tiles —
                # stripe bookkeeping is pointless, rebuild it fully
                live_base = live.filter(F.col("zoom") == base).select(*_TILE_COLS)
                out_low = cascade_fragments(live_base, minzoom, tile_size,
                                            dtype_tag, colormap_str,
                                            top_zoom=base)
            else:
                mid_floor = max(minzoom, XB_BITS)
                stripe_pred = F.lit(False)
                for b in dirty_bs:
                    stripe_pred = stripe_pred | (F.col("xb") == b)
                dirty_base = live.filter(
                    (F.col("zoom") == base) & stripe_pred).select(*_TILE_COLS)
                # zooms [mid_floor, base) within dirty stripes only
                mid = cascade_fragments(dirty_base, mid_floor, tile_size,
                                        dtype_tag, colormap_str, top_zoom=base)
                out_low = mid
                if minzoom < mid_floor:
                    # mid feeds both the write and the zoom-XB_BITS
                    # level below: persisted for the scope, so its
                    # python stages run once and it is freed with the
                    # batch (no stored block outlives a micro-batch)
                    mid = scope.enter_context(persisted(mid))
                    # assemble the FULL zoom-XB_BITS level (one tile
                    # column per stripe): recomputed dirty columns + old
                    # clean ones (pruned: zoom partition + xb columns)
                    old_mid = live.filter(
                        (F.col("zoom") == mid_floor)
                        & ~F.col("x").isin([int(b) for b in dirty_bs])
                    ).select(*_TILE_COLS)
                    full_mid = (mid.filter(F.col("zoom") == mid_floor)
                                .select(*_TILE_COLS).unionByName(old_mid))
                    tiny = cascade_fragments(full_mid, minzoom, tile_size,
                                             dtype_tag, colormap_str,
                                             top_zoom=mid_floor)
                    out_low = mid.unionByName(tiny)
            _write_staged(out_low, staged2)
            delta += _swap_partitions(staged2, tiles_path)

    n = _manifest_rows(out_dir, tiles_path, batch_id, delta, repaired)
    _write_manifest(out_dir, batch_id, n)
    os.remove(marker)


def _validate_stream_colormap(colormap_str: str | None) -> None:
    """Stream-entry alias of the shared decode-back colormap gate
    (operators/overview.validate_cascade_colormap): the incremental
    upsert decodes stored paletted tiles back to values, so a partial
    colormap would silently resurrect old pixels under unmapped data."""
    from ..operators.overview import validate_cascade_colormap

    validate_cascade_colormap(colormap_str)


def stream_render_pyramid(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    minzoom: int,
    maxzoom: int,
    overview_below: int = 8,
    tile_size: int = 256,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    max_files_per_trigger: int = 8,
):
    """Continuously-maintained full pyramid: direct zooms upsert per
    batch, low zooms rebuild incrementally via dirty-ancestor
    invalidation. Same output layout as stream_render."""
    _validate_stream_colormap(colormap_str)
    stream = (
        spark.readStream.schema(_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(lambda df, bid: _upsert_batch(
            df, out_dir, minzoom, maxzoom, overview_below, tile_size,
            dtype_tag, bid, colormap_str))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def stream_render(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    minzoom: int,
    maxzoom: int,
    tile_size: int = 256,
    dtype_tag: str = "u8",
    colormap_str: str | None = None,
    max_files_per_trigger: int = 8,
):
    """Start the incremental render stream; returns the StreamingQuery.

    Input: parquet files with the input_hint schema dropped into
    ``input_dir``. Output: ``out_dir/tiles`` (fused tile table, updated
    per batch), ``out_dir/manifest`` (lineage), ``out_dir/_checkpoint``
    (Spark streaming offsets — restart-safe).
    """
    return stream_render_pyramid(
        spark, input_dir, out_dir, minzoom, maxzoom, minzoom, tile_size,
        dtype_tag, colormap_str, max_files_per_trigger)


def compact_tiles(spark: SparkSession, out_dir: str,
                  min_files: int = 2) -> dict:
    """Compact fragmented partitions of a streamed tile table — the
    SMALL-FILE remedy for long-running ingestion: every (zoom, xb)
    partition holding ≥ ``min_files`` parquet files is rewritten as
    ONE file and swapped in with the same crash-safe per-directory
    rename protocol the stream's own commits use (_swap_partitions —
    a crash mid-compaction leaves either the old or the new copy,
    never neither, and the next reader/batch repairs via
    _recover_swap).

    Single-writer contract like the stream itself: refuses to run
    when the commit-pending marker is present (a batch is mid-commit
    or died mid-commit — drain or inspect first). Row counts are
    footers-verified unchanged; raises on any delta.

    Returns {"partitions", "files_before", "files_after",
    "rows"}."""
    tiles_path = os.path.join(out_dir, "tiles")
    if os.path.exists(_pending_marker(out_dir)):
        raise RuntimeError(
            "tile table has a pending commit (active or crashed batch) "
            "— drain the stream before compacting")
    _recover_swap(tiles_path)
    stats = {"partitions": 0, "files_before": 0, "files_after": 0,
             "rows": 0}
    if not os.path.isdir(tiles_path):
        return stats
    todo = []
    for rel in _partition_dirs(tiles_path):
        p = os.path.join(tiles_path, rel)
        n = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        if n >= int(min_files):
            todo.append(rel)
            stats["files_before"] += n
    if not todo:
        return stats
    keys = [(int(rel.split("/")[0].split("=", 1)[1]),
             int(rel.split("/")[1].split("=", 1)[1])) for rel in todo]
    df = open_tiles(spark, out_dir)
    pred = None
    for z, b in keys:
        cond = (F.col("zoom") == z) & (F.col("xb") == b)
        pred = cond if pred is None else (pred | cond)
    staged = tiles_path + ".compact-staged"
    shutil.rmtree(staged, ignore_errors=True)
    n_parts = max(1, min(len(keys),
                         spark.sparkContext.defaultParallelism * 2))
    (df.filter(pred)
       .repartition(n_parts, "zoom", "xb")
       .write.partitionBy("zoom", "xb").mode("overwrite").parquet(staged))
    # verify BEFORE swapping: once _swap_partitions has replaced live
    # dirs the old copies are gone and nothing can roll back — so any
    # count mismatch (e.g. a writer that raced past the pending-marker
    # check) must abort while the live table is still intact
    for rel in todo:
        staged_rows = _dir_parquet_rows(os.path.join(staged, rel))
        live_rows = _dir_parquet_rows(os.path.join(tiles_path, rel))
        if staged_rows != live_rows:
            shutil.rmtree(staged, ignore_errors=True)
            raise RuntimeError(
                f"compaction staged {staged_rows} rows for {rel} but the "
                f"live partition holds {live_rows} — aborted BEFORE the "
                f"swap; live table unchanged (concurrent writer?)")
    delta = _swap_partitions(staged, tiles_path)
    if delta != 0:
        # belt-and-braces: the pre-swap check above makes this
        # unreachable unless a writer mutated the table DURING the
        # swap — partitions already replaced cannot be restored
        raise RuntimeError(
            f"table row count moved by {delta} while swapping — a writer "
            f"raced the compaction; already-swapped partitions were "
            f"replaced and are NOT rolled back (recover from lineage)")
    for rel in todo:
        p = os.path.join(tiles_path, rel)
        stats["files_after"] += sum(
            1 for f in os.listdir(p) if f.endswith(".parquet"))
        stats["rows"] += _dir_parquet_rows(p)
    stats["partitions"] = len(todo)
    return stats

"""Structured Streaming incremental render: two file drops → the final
tile table equals a batch render over the union of all images, and the
lineage manifest records every committed batch."""

import json
import os

import pyarrow.parquet as pq

from rastertiler_rs_spark.fixtures import generate_images
from rastertiler_rs_spark.operators.render import render
from rastertiler_rs_spark.streaming.ingest import stream_render


def _fused_map(df):
    return {(r["zoom"], r["x"], r["tile_row"]): (r["tile_hash"], bytes(r["png"]))
            for r in df.collect()}


def test_stream_render_incremental(spark, tmp_path):
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()

    all_imgs = generate_images(24, "u8")
    pq.write_table(all_imgs.slice(0, 12), str(inp / "part0.parquet"))

    q = stream_render(spark, str(inp), str(out), 3, 7, tile_size=64,
                      max_files_per_trigger=1)
    q.awaitTermination(120)

    # snapshot every data file before the second drop: partition-scoped
    # copy-on-write must leave partitions outside the new batch's
    # footprint bit-for-bit untouched on disk
    def _snap():
        files = {}
        for root, _, names in os.walk(out / "tiles"):
            for nm in names:
                p = os.path.join(root, nm)
                st = os.stat(p)
                files[os.path.relpath(p, out / "tiles")] = (st.st_mtime_ns, st.st_size)
        return files

    before = _snap()

    # second drop: 12 more images arrive; restart the availableNow stream
    pq.write_table(all_imgs.slice(12, 12), str(inp / "part1.parquet"))
    q = stream_render(spark, str(inp), str(out), 3, 7, tile_size=64,
                      max_files_per_trigger=1)
    q.awaitTermination(120)

    # the exact touched set: partitions covered by drop 2's own render
    from pyspark.sql import functions as F
    from rastertiler_rs_spark.streaming.ingest import _xb_col
    drop2 = spark.createDataFrame(all_imgs.slice(12, 12).to_pandas())
    touched = {(r["zoom"], r["xb"]) for r in
               render(drop2, 3, 7, tile_size=64)
               .select("zoom", _xb_col()).distinct().collect()}
    after = _snap()

    def _part(rel):
        z, b = rel.split(os.sep)[:2]
        return int(z.split("=")[1]), int(b.split("=")[1])

    untouched_before = {rel: v for rel, v in before.items()
                        if rel.count(os.sep) >= 2 and _part(rel) not in touched}
    assert untouched_before, "test needs a nonempty untouched partition set"
    for rel, v in untouched_before.items():
        assert after.get(rel) == v, f"untouched partition file rewritten: {rel}"

    # staging and rollback dirs must not leak across batches
    leftovers = [e for e in os.listdir(out) if ".staged" in e or ".old" in e]
    leftovers += [e for root, dirs, _ in os.walk(out / "tiles")
                  for e in dirs if e.endswith(".old")]
    assert not leftovers, f"staging/rollback leftovers: {leftovers}"

    got = _fused_map(spark.read.parquet(str(out / "tiles")))

    # batches arrived in image_id order, so the incremental mosaic-over
    # upsert must be BYTE-IDENTICAL to one batch render over the union
    images_df = spark.createDataFrame(all_imgs.to_pandas())
    want = _fused_map(render(images_df, 3, 7, tile_size=64))
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"streamed tile differs from batch at {k}"

    manifests = sorted(os.listdir(out / "manifest"))
    assert len(manifests) == 2
    rows = [json.load(open(out / "manifest" / m)) for m in manifests]
    assert rows[-1]["rows"] == len(got)


import pytest


_FULL_CMAP = ",".join(
    f"{v}:#{v:02x}{(v * 3) % 256:02x}{(v * 7) % 256:02x}" for v in range(1, 256))


@pytest.mark.parametrize("tag,cmap", [
    ("u32", None),
    ("u8", _FULL_CMAP),
])
def test_stream_render_u32_and_colormap(spark, tmp_path, tag, cmap):
    """The mosaic-over combine must round-trip every encoder class:
    u32 (adaptive palette + RGB) and u8 paletted via a user colormap —
    streamed result byte-identical to the batch render over the union.

    The colormap must cover every data value: incremental maintenance
    decodes the stored PNG back to values, and a palette that drops
    unmapped values to index 0 cannot round-trip (documented constraint
    in streaming/ingest)."""
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    all_imgs = generate_images(16, tag)
    pq.write_table(all_imgs.slice(0, 8), str(inp / "part0.parquet"))
    q = stream_render(spark, str(inp), str(out), 4, 6, tile_size=64,
                      dtype_tag=tag, colormap_str=cmap,
                      max_files_per_trigger=1)
    q.awaitTermination(120)
    pq.write_table(all_imgs.slice(8, 8), str(inp / "part1.parquet"))
    q = stream_render(spark, str(inp), str(out), 4, 6, tile_size=64,
                      dtype_tag=tag, colormap_str=cmap,
                      max_files_per_trigger=1)
    q.awaitTermination(120)

    got = _fused_map(spark.read.parquet(str(out / "tiles")))
    images_df = spark.createDataFrame(all_imgs.to_pandas())
    want = _fused_map(render(images_df, 4, 6, tile_size=64, dtype_tag=tag,
                             colormap_str=cmap))
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"streamed {tag}/{bool(cmap)} differs at {k}"


def test_stream_pyramid_incremental_overviews(spark, tmp_path):
    """Incrementally-maintained pyramid: after two drops, the streamed
    tile table must equal render_pyramid over the union — direct zooms
    byte-for-byte (id-ordered arrivals), cascaded zooms byte-for-byte
    (same decimation from the same merged base)."""
    from rastertiler_rs_spark.operators.overview import render_pyramid
    from rastertiler_rs_spark.streaming.ingest import stream_render_pyramid

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    all_imgs = generate_images(24, "u8")
    pq.write_table(all_imgs.slice(0, 12), str(inp / "part0.parquet"))
    q = stream_render_pyramid(spark, str(inp), str(out), 2, 8,
                              overview_below=6, tile_size=64,
                              max_files_per_trigger=1)
    q.awaitTermination(180)

    def _snap():
        files = {}
        for root, _, names in os.walk(out / "tiles"):
            for nm in names:
                p = os.path.join(root, nm)
                st = os.stat(p)
                files[os.path.relpath(p, out / "tiles")] = (st.st_mtime_ns, st.st_size)
        return files

    before = _snap()
    pq.write_table(all_imgs.slice(12, 12), str(inp / "part1.parquet"))
    q = stream_render_pyramid(spark, str(inp), str(out), 2, 8,
                              overview_below=6, tile_size=64,
                              max_files_per_trigger=1)
    q.awaitTermination(180)

    got = _fused_map(spark.read.parquet(str(out / "tiles")))
    images_df = spark.createDataFrame(all_imgs.to_pandas())
    want = _fused_map(render_pyramid(images_df, 2, 8, tile_size=64,
                                     dtype_tag="u8", overview_below=6))
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"streamed pyramid differs at {k}"

    # block-stripe incremental cascade: overview stripes (XB_BITS <= z
    # < base) whose x-block drop 2 did not touch at the base zoom must
    # stay bit-identical on disk — O(dirty stripes) per batch, not
    # O(base)
    from pyspark.sql import functions as F
    from rastertiler_rs_spark.streaming.ingest import XB_BITS, _xb_col
    drop2 = spark.createDataFrame(all_imgs.slice(12, 12).to_pandas())
    dirty_bs = {r["xb"] for r in render(drop2, 6, 6, tile_size=64)
                .select(_xb_col()).distinct().collect()}
    after = _snap()
    checked = 0
    for rel, v in before.items():
        parts = rel.split(os.sep)
        if len(parts) < 3 or not parts[0].startswith("zoom="):
            continue
        z = int(parts[0].split("=")[1])
        b = int(parts[1].split("=")[1])
        if XB_BITS <= z < 6 and b not in dirty_bs:
            assert after.get(rel) == v, f"clean overview stripe rewritten: {rel}"
            checked += 1
    assert checked > 0, "test needs at least one clean overview stripe"

def test_partial_colormap_rejected(spark, tmp_path):
    """Stream mode must fail fast on a colormap that doesn't cover every
    data value — unmapped values encode to palette index 0 (= nodata)
    and cannot round-trip through incremental upserts (the documented
    _combine_fn constraint, now enforced at entry)."""
    with pytest.raises(ValueError, match="covering every possible data value"):
        stream_render(spark, str(tmp_path / "in"), str(tmp_path / "out"),
                      4, 6, colormap_str="1:#686868,2:#38A800")


def test_swap_crash_recovery(spark, tmp_path):
    """A crash between the two renames of a partition swap leaves the
    partition's only copy in `xb=B.old`. The next batch must RESTORE it
    (not delete it), read the restored content in its merge, and resync
    the manifest count — final table still byte-identical to the batch
    render over the union."""
    from rastertiler_rs_spark.streaming.ingest import _recover_swap

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    all_imgs = generate_images(24, "u8")
    pq.write_table(all_imgs.slice(0, 12), str(inp / "part0.parquet"))
    q = stream_render(spark, str(inp), str(out), 3, 7, tile_size=64,
                      max_files_per_trigger=1)
    q.awaitTermination(120)

    # simulate the crash window: one live partition dir renamed to .old,
    # live dir absent; plus a stale .old beside a live dir (post-rename
    # crash) which must be dropped, not restored
    tiles = out / "tiles"
    parts = sorted(p for z in tiles.iterdir() if z.name.startswith("zoom=")
                   for p in z.iterdir() if p.name.startswith("xb="))
    assert len(parts) >= 2
    victim, stale = parts[0], parts[1]
    os.rename(victim, str(victim) + ".old")          # only copy in .old
    import shutil
    shutil.copytree(stale, str(stale) + ".old")      # stale backup

    pq.write_table(all_imgs.slice(12, 12), str(inp / "part1.parquet"))
    q = stream_render(spark, str(inp), str(out), 3, 7, tile_size=64,
                      max_files_per_trigger=1)
    q.awaitTermination(120)

    leftovers = [e for root, dirs, _ in os.walk(tiles) for e in dirs
                 if e.endswith(".old")]
    assert not leftovers, f".old dirs survived recovery: {leftovers}"

    got = _fused_map(spark.read.parquet(str(tiles)))
    images_df = spark.createDataFrame(all_imgs.to_pandas())
    want = _fused_map(render(images_df, 3, 7, tile_size=64))
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"post-recovery tile differs at {k}"

    manifests = sorted(os.listdir(out / "manifest"))
    rows = [json.load(open(out / "manifest" / m)) for m in manifests]
    assert rows[-1]["rows"] == len(got)

    # idempotence: recovery over a clean table is a no-op
    assert _recover_swap(str(tiles)) is False


def test_commit_pending_marker_resyncs_manifest(spark, tmp_path):
    """Crash window between _swap_partitions and _write_manifest: the
    swap landed (no .old dirs remain) but batch N's manifest row was
    never written, so on replay the previous manifest is batch N-1 and
    the incremental guard would measure an ~0 delta against the
    already-upserted table — permanently understating the count. The
    lingering commit-pending marker must force a full footer resync."""
    from rastertiler_rs_spark.streaming.ingest import (_pending_marker,
                                                       _upsert_batch)

    out = tmp_path / "out"
    imgs = generate_images(24, "u8")
    df1 = spark.createDataFrame(imgs.slice(0, 12).to_pandas())
    df2 = spark.createDataFrame(imgs.slice(12, 12).to_pandas())
    _upsert_batch(df1, str(out), 3, 6, 3, 64, "u8", 0)
    _upsert_batch(df2, str(out), 3, 6, 3, 64, "u8", 1)
    assert not os.path.exists(_pending_marker(str(out)))  # cleared on commit
    live = spark.read.parquet(str(out / "tiles")).count()
    assert json.load(open(out / "manifest" / "batch=1.json"))["rows"] == live

    # simulate the crash: manifest row gone, marker lingering, table
    # already contains batch 1's merge
    os.remove(out / "manifest" / "batch=1.json")
    open(_pending_marker(str(out)), "w").close()
    _upsert_batch(df2, str(out), 3, 6, 3, 64, "u8", 1)  # replay (idempotent)
    assert json.load(open(out / "manifest" / "batch=1.json"))["rows"] == live
    assert not os.path.exists(_pending_marker(str(out)))


def test_open_tiles_repairs_before_read(spark, tmp_path):
    """External readers go through open_tiles, which repairs a crashed
    swap BEFORE reading: a partition stranded in `xb=B.old` would
    otherwise silently drop from the result (and poison hive partition
    inference) until the next non-empty streaming batch."""
    from rastertiler_rs_spark.streaming.ingest import open_tiles

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    imgs = generate_images(12, "u8")
    pq.write_table(imgs, str(inp / "part0.parquet"))
    q = stream_render(spark, str(inp), str(out), 3, 6, tile_size=64)
    q.awaitTermination(120)
    tiles = out / "tiles"
    full = spark.read.parquet(str(tiles)).count()

    parts = sorted(p for z in tiles.iterdir() if z.name.startswith("zoom=")
                   for p in z.iterdir() if p.name.startswith("xb="))
    victim = parts[0]
    os.rename(victim, str(victim) + ".old")
    assert open_tiles(spark, str(out)).count() == full
    assert os.path.isdir(victim)  # restored on disk, not just in-session


def test_pyramid_zero_tile_first_batch_does_not_wedge(spark, tmp_path):
    """A first micro-batch whose images are ALL entirely-nodata renders
    zero tiles: phase 2 must not read the (empty/absent) tiles table —
    regression for a permanent wedge (UNABLE_TO_INFER_SCHEMA on every
    deterministic replay). A following real batch then builds the
    pyramid normally."""
    from rastertiler_rs_spark.operators.overview import render_pyramid
    from rastertiler_rs_spark.streaming.ingest import (_pending_marker,
                                                       _upsert_batch)

    out = tmp_path / "out"
    imgs = generate_images(16, "u8")
    pdf = imgs.to_pandas()
    # fixture hole rule: indices 2, 9, 10, 11, 12 are entirely nodata
    nodata_ids = [f"img{i:08d}" for i in (2, 9, 10, 11, 12)]
    df_empty = spark.createDataFrame(pdf[pdf.image_id.isin(nodata_ids)])
    df_real = spark.createDataFrame(pdf[~pdf.image_id.isin(nodata_ids)])

    _upsert_batch(df_empty, str(out), 2, 8, 7, 64, "u8", 0)
    assert not os.path.exists(_pending_marker(str(out)))
    assert json.load(open(out / "manifest" / "batch=0.json"))["rows"] == 0

    _upsert_batch(df_real, str(out), 2, 8, 7, 64, "u8", 1)
    got = {(r["zoom"], r["x"], r["y"]): r["tile_hash"]
           for r in spark.read.parquet(str(out / "tiles"))
           .select("zoom", "x", "y", "tile_hash").collect()}
    want = {(r["zoom"], r["x"], r["y"]): r["tile_hash"]
            for r in render_pyramid(df_real, 2, 8, tile_size=64,
                                    dtype_tag="u8", overview_below=7)
            .select("zoom", "x", "y", "tile_hash").collect()}
    assert got == want


def test_compact_tiles(spark, tmp_path):
    """Compaction rewrites fragmented partitions to one file each,
    preserves every row byte-for-byte, and refuses to run under a
    pending commit marker."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.streaming.ingest import (_dir_parquet_rows,
                                                       _partition_dirs,
                                                       _pending_marker,
                                                       _xb_col,
                                                       compact_tiles,
                                                       open_tiles)

    out = str(tmp_path / "table")
    tiles_path = os.path.join(out, "tiles")
    rows = [(8, x, y, (1 << 8) - 1 - y, x * 1000 + y,
             bytearray(b"png%d" % (x * 100 + y)))
            for x in range(6) for y in range(40)]
    df = spark.createDataFrame(
        rows, "zoom int, x long, y long, tile_row long, tile_hash long, "
              "png binary")
    # fragment: 8 shuffled writers -> several files per partition
    (df.withColumn("xb", _xb_col()).repartition(8)
       .write.partitionBy("zoom", "xb").mode("overwrite")
       .parquet(tiles_path))
    frag = {rel: sum(1 for f in os.listdir(os.path.join(tiles_path, rel))
                     if f.endswith(".parquet"))
            for rel in _partition_dirs(tiles_path)}
    assert any(n > 1 for n in frag.values())
    before = sorted((r["zoom"], r["x"], r["y"], r["tile_row"],
                     r["tile_hash"], bytes(r["png"]))
                    for r in open_tiles(spark, out).collect())

    marker = _pending_marker(out)
    open(marker, "w").close()
    with pytest.raises(RuntimeError, match="pending"):
        compact_tiles(spark, out)
    os.remove(marker)

    stats = compact_tiles(spark, out)
    assert stats["partitions"] == sum(1 for n in frag.values() if n >= 2)
    assert stats["files_after"] == stats["partitions"]
    after = sorted((r["zoom"], r["x"], r["y"], r["tile_row"],
                    r["tile_hash"], bytes(r["png"]))
                   for r in open_tiles(spark, out).collect())
    assert after == before
    for rel in _partition_dirs(tiles_path):
        p = os.path.join(tiles_path, rel)
        assert sum(1 for f in os.listdir(p)
                   if f.endswith(".parquet")) == 1
        assert _dir_parquet_rows(p) > 0
    # idempotent: a second run finds nothing to do
    assert compact_tiles(spark, out)["partitions"] == 0

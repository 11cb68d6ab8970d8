"""CLI with the reference's surface: ``render`` and ``merge``.

Mirrors `rastertiler-rs` (/root/reference/src/main.rs:20-94) so a user
of the reference can run the same two commands here — the raster input
is either the engine's images parquet table OR an actual GeoTIFF
(``IN.tif`` ingests through operators/geotiff_source.py, the
reference's own input shape), the sink is the same MBTiles layout
(/root/reference/src/mbtiles.rs:13-30), and the flags map one-to-one:

  python -m rastertiler_rs_spark render IN.parquet OUT.mbtiles \
      --minzoom 0 --maxzoom 4 --tilesize 512 --workers 4 \
      [--colormap "v:#rrggbb,..."] [--name N] [--description D] \
      [--attribution A] [--disable-overviews]

  python -m rastertiler_rs_spark merge LEFT.mbtiles RIGHT.mbtiles OUT.mbtiles

Beyond the reference's two commands, ``stream`` exposes the Structured
Streaming pipeline (an engine extension — the reference is batch-only):
it drains every image parquet file currently in IN_DIR into the
continuously-maintained tile table at OUT_DIR and exits
(``availableNow`` trigger); re-running after new files land upserts
only the new images' tiles, restart-safe via the Spark checkpoint:

  python -m rastertiler_rs_spark stream IN_DIR OUT_DIR \
      --minzoom 2 --maxzoom 8 [--pyramid] [--tilesize N] [--workers N] \
      [--colormap ...] [--max-files-per-trigger N]

``tileop`` applies the tiled-raster operator family (gdaldem-style
terrain analysis, global contrast equalization, overzoom) to a
(tx, ty, png) parquet table:

  python -m rastertiler_rs_spark tileop TILES.parquet OUT.parquet \
      --op hillshade|slope|aspect|tri|tpi|gradient|sobel|morph|median| \
           equalize|overzoom [--tilesize N] [--azimuth A] [--altitude A]

``--workers`` sets local[] parallelism here (the reference's worker
threads, /root/reference/src/main.rs:73-75); on a cluster, submit with
spark-submit and the flag is ignored. ``--disable-overviews`` forces
the exact all-direct render (/root/reference/src/main.rs:82-85); the
default uses the overview cascade below z8 for low zooms, matching the
reference's default overview acceleration.
"""

from __future__ import annotations

import argparse
import os
import sqlite3
import sys
from contextlib import nullcontext


def _zoom(v: str) -> int:
    z = int(v)
    if not 0 <= z <= 24:  # /root/reference/src/main.rs:146-154
        raise argparse.ArgumentTypeError("zoom must be no greater than 24")
    return z


def cmd_render(args) -> None:
    from .operators._lineage import persisted
    from .operators.overview import render_pyramid
    from .operators.render import metadata_table
    from .session import get_spark, local_frame

    if args.minzoom > args.maxzoom:
        sys.exit("ERROR: minzoom must be less than or equal to maxzoom")
    if not os.path.exists(args.src):
        sys.exit(f"ERROR: input does not exist: {args.src}")
    if args.out == "-" and not (args.shards_dir or args.xyz_dir
                                or args.tiles_dir):
        sys.exit("ERROR: OUT='-' (skip single-file output) requires "
                 "--shards-dir, --xyz-dir, or --tiles-dir")

    spark = get_spark("rastertiler-render", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")
    if args.src.endswith((".tif", ".tiff")):
        # the reference's actual input shape (main.rs:96-107): ingest
        # the GeoTIFF into the images-table form, then render unchanged
        from .operators.geotiff_source import images_from_geotiff

        images = images_from_geotiff(spark, args.src)
    else:
        images = spark.read.parquet(args.src)
    tag = images.select("fmt").first()["fmt"].split(";")[1]
    if args.colormap and tag != "u8":
        sys.exit("ERROR: colormap can only be provided for uint8 data")

    overview_below = None if args.disable_overviews else 8
    if "minlon" in images.columns:
        # geographic (EPSG:4326) source: reproject through the warp
        # operator (the reference's warped-VRT role, dataset.rs:74-109)
        from .operators.warp import render_warp_pyramid

        fused = render_warp_pyramid(images, args.minzoom, args.maxzoom,
                                    args.tilesize, tag, args.colormap,
                                    overview_below)
    else:
        fused = render_pyramid(images, args.minzoom, args.maxzoom,
                               args.tilesize, tag, args.colormap,
                               overview_below)
    if args.tiles_dir:
        # the at-scale product: the pyramid written once as a
        # zoom-partitioned parquet table; every sink reads the table
        from .operators.overview import _to_tile_table

        fused = _to_tile_table(fused, args.tiles_dir)
    n_sinks = sum(1 for v in (args.shards_dir, args.xyz_dir,
                              args.out != "-") if v)
    if n_sinks == 0:
        return  # --tiles-dir alone: the written table is the output
    name = args.name or os.path.splitext(os.path.basename(args.src))[0]
    meta = metadata_table(spark, images, args.minzoom, args.maxzoom, name)
    if args.description or args.attribution:
        extra = [("description", args.description or ""),
                 ("attribution", args.attribution or "")]
        extra = [(k, v) for k, v in extra if v]
        meta = meta.unionByName(local_frame(spark, extra, meta.schema))
    # several sinks all consume fused: persist so the render runs ONCE
    # (lazy-DataFrame forks re-execute the producer otherwise)
    with (persisted if n_sinks > 1 else nullcontext)(fused) as fused:
        _write_sinks(args, fused, meta)


def _write_sinks(args, fused, meta) -> None:
    from .operators.mbtiles_sink import (materialize_mbtiles,
                                        write_mbtiles_shards)

    if args.xyz_dir:
        from .operators.xyz_sink import write_xyz_tree

        try:
            st = write_xyz_tree(fused, meta, args.xyz_dir)
        except OSError as e:
            sys.exit(f"ERROR: {e}")
        print(f"wrote {st['n_tiles']} tiles (z{st['minzoom']}-"
              f"z{st['maxzoom']}) to {args.xyz_dir}")
        if args.out == "-" and not args.shards_dir:
            return
    if args.shards_dir:
        try:
            manifest = write_mbtiles_shards(
                fused, meta, args.shards_dir,
                prefix_zoom=args.shard_prefix_zoom)
        except ValueError as e:
            sys.exit(f"ERROR: {e}")
        print(f"wrote {len(manifest['shards'])} shards "
              f"({manifest['total_tiles']} tiles) to {args.shards_dir}")
        if args.out == "-":
            return
    if args.out.endswith((".tif", ".tiff")):
        # cloud-optimized GeoTIFF: the pyramid becomes one tiled COG
        # (executor-written blocks, chained overview IFDs); requires a
        # gap-free zoom range, which render/render_pyramid emit
        from .operators.cog_sink import write_cog_distributed
        try:
            man = write_cog_distributed(fused, args.out,
                                        tile_size=args.tilesize)
        except ValueError as e:
            sys.exit(f"ERROR: {e}")
        print(f"wrote {args.out} (base z{man['base_zoom']}, "
              f"{len(man['levels'])} levels, {man['n_blocks']} blocks, "
              f"{man['size']} bytes)")
        return
    if args.out.endswith(".pmtiles"):
        # cloud-native single-file archive: executor-parallel data
        # parts, driver builds only header+directories
        from .operators.pmtiles_sink import write_pmtiles_distributed
        md = dict((r["name"], r["value"]) for r in meta.collect())
        try:
            stats = write_pmtiles_distributed(fused, args.out, metadata=md)
        except ValueError as e:
            sys.exit(f"ERROR: {e}")
        print(f"wrote {args.out} ({stats['n_addressed']} tiles, "
              f"{stats['n_entries']} entries)")
        return
    try:
        materialize_mbtiles(fused, meta, args.out, max_tiles=args.max_tiles)
    except ValueError as e:
        sys.exit(f"ERROR: {e}")
    print(f"wrote {args.out}")


def cmd_stream(args) -> None:
    from .session import get_spark
    from .streaming.ingest import stream_render, stream_render_pyramid

    if args.minzoom > args.maxzoom:
        sys.exit("ERROR: minzoom must be less than or equal to maxzoom")
    if not os.path.isdir(args.input_dir):
        sys.exit(f"ERROR: input does not exist: {args.input_dir}")
    spark = get_spark("rastertiler-stream", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")
    # dtype from the first image file present (same probe as render)
    probe = spark.read.schema(
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long").parquet(args.input_dir)
    first = probe.select("fmt").first()
    if first is None:
        sys.exit(f"ERROR: no image parquet files in {args.input_dir}")
    tag = first["fmt"].split(";")[1]
    if args.colormap and tag != "u8":
        sys.exit("ERROR: colormap can only be provided for uint8 data")
    kwargs = dict(tile_size=args.tilesize, dtype_tag=tag,
                  colormap_str=args.colormap,
                  max_files_per_trigger=args.max_files_per_trigger)
    if args.pyramid:
        q = stream_render_pyramid(spark, args.input_dir, args.out_dir,
                                  args.minzoom, args.maxzoom, **kwargs)
    else:
        q = stream_render(spark, args.input_dir, args.out_dir,
                          args.minzoom, args.maxzoom, **kwargs)
    q.awaitTermination()
    from .streaming.ingest import open_tiles

    n = open_tiles(spark, args.out_dir).count()
    print(f"streamed into {args.out_dir}: {n} tiles live")


def _read_mbtiles(path: str):
    conn = sqlite3.connect(path)
    tiles = conn.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_id FROM map").fetchall()
    blobs = dict(conn.execute("SELECT tile_id, tile_data FROM images").fetchall())
    meta = conn.execute("SELECT name, value FROM metadata").fetchall()
    conn.close()
    return tiles, blobs, meta


def cmd_merge(args) -> None:
    from .operators.merge import merge_metadata, merge_tables
    from .oracle import write_mbtiles
    from .session import get_spark, local_frame

    for p in (args.left, args.right):
        if not os.path.exists(p):
            sys.exit(f"ERROR: input does not exist: {p}")
    spark = get_spark("rastertiler-merge", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.isdir(args.left) or os.path.isdir(args.right):
        # sharded sets: distributed per-shard merge (no driver bytes)
        if not (os.path.isdir(args.left) and os.path.isdir(args.right)):
            sys.exit("ERROR: merge inputs must both be .mbtiles files or "
                     "both be shard directories")
        from .operators.mbtiles_sink import merge_mbtiles_shards

        try:
            manifest = merge_mbtiles_shards(spark, args.left, args.right,
                                            args.out)
        except (ValueError, OSError) as e:
            sys.exit(f"ERROR: {e}")
        print(f"wrote {len(manifest['shards'])} merged shards "
              f"({manifest['total_tiles']} tiles) to {args.out}")
        return

    map_schema = "zoom_level int, tile_column long, tile_row long, tile_id long"
    img_schema = "tile_id long, tile_data binary"
    lt, lb, lm = _read_mbtiles(args.left)
    rt, rb, rm = _read_mbtiles(args.right)
    lmap = local_frame(spark, lt, map_schema)
    rmap = local_frame(spark, rt, map_schema)
    limg = local_frame(spark, list(lb.items()), img_schema)
    rimg = local_frame(spark, list(rb.items()), img_schema)
    meta_schema = "name string, value string"
    merged_map, merged_img = merge_tables(lmap, limg, rmap, rimg)
    merged_meta = merge_metadata(local_frame(spark, lm, meta_schema),
                                 local_frame(spark, rm, meta_schema))

    # single-file SQLite output is inherently driver-side (reference
    # semantics) — bound the collect like materialize_mbtiles does
    map_rows = merged_map.limit(args.max_tiles + 1).collect()
    if len(map_rows) > args.max_tiles:
        sys.exit(
            f"ERROR: merged tile count exceeds --max-tiles="
            f"{args.max_tiles}; merge shard DIRECTORIES instead "
            f"(distributed, no driver bytes) or raise the limit knowingly")
    tiles = [(r["zoom_level"], r["tile_column"], r["tile_row"], r["tile_id"])
             for r in map_rows]
    blobs = {r["tile_id"]: bytes(r["tile_data"]) for r in merged_img.collect()}
    meta = [(r["name"], r["value"]) for r in merged_meta.collect()]
    write_mbtiles(args.out, sorted(tiles), blobs, meta, finalize=True)
    print(f"wrote {args.out}")


def cmd_tileop(args) -> None:
    """Apply a tiled-raster operator to a (tx, ty, png) parquet table
    and write the result as parquet — raster ops (hillshade /
    equalize / overzoom) emit tiles, analysis ops emit per-tile
    stats."""
    from .session import get_spark, local_frame

    if not os.path.exists(args.src):
        sys.exit(f"ERROR: input does not exist: {args.src}")
    spark = get_spark("rastertiler-tileop", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")
    if args.src.endswith(".mbtiles"):
        # single-file MBTiles input: driver-side read (SQLite is
        # single-node anyway); resolve the target zoom FIRST so only
        # that level's blobs are built and shipped (XYZ y)
        tiles_rows, blobs, _meta = _read_mbtiles(args.src)
        zoom = args.zoom
        if zoom is None:
            zoom = max((r[0] for r in tiles_rows), default=None)
            if zoom is None:
                sys.exit(f"ERROR: empty MBTiles: {args.src}")
        # ship each DISTINCT blob once and expand via a Spark join
        # (convert's shape): a content-deduped zoom level would
        # otherwise multiply driver memory by its duplication factor
        # with one bytearray copy per map row
        level = [(x, r, tid) for z, x, r, tid in tiles_rows
                 if z == int(zoom)]
        need = {tid for _, _, tid in level}
        mdf = local_frame(
            spark, [(x, (1 << int(zoom)) - 1 - r, tid) for x, r, tid in level],
            "tx long, ty long, tile_hash long")
        bdf = local_frame(
            spark, [(tid, bytearray(b)) for tid, b in blobs.items()
                    if tid in need],
            "tile_hash long, png binary")
        tiles = mdf.join(bdf, "tile_hash").select("tx", "ty", "png")
    elif os.path.isdir(args.src) and os.path.exists(
            os.path.join(args.src, "tilejson.json")):
        # XYZ tree input (render --xyz-dir output): pick one zoom level
        # as the (tx, ty) grid
        from pyspark.sql import functions as F

        from .operators.xyz_sink import read_xyz_tree

        tree = read_xyz_tree(spark, args.src)
        zoom = args.zoom
        if zoom is None:
            zoom = tree.agg(F.max("zoom")).collect()[0][0]
            if zoom is None:
                sys.exit(f"ERROR: empty XYZ tree: {args.src}")
        tiles = (tree.filter(F.col("zoom") == int(zoom))
                 .select(F.col("x").alias("tx"), F.col("y").alias("ty"),
                         "png"))
    else:
        tiles = spark.read.parquet(args.src)
    missing = {"tx", "ty", "png"} - set(tiles.columns)
    if missing:
        sys.exit(f"ERROR: input table lacks columns {sorted(missing)}")
    ts = args.tilesize

    from .operators import halo
    from .operators.algebra import equalize_tiles
    from .operators.overzoom import overzoom_tiles

    if args.op == "relief":
        from .operators.algebra import color_relief_tiles

        out = color_relief_tiles(tiles, ts)
    elif args.op == "shadedrelief":
        out = halo.tile_halo_shaded_relief(
            tiles, ts, azimuth_deg=args.azimuth,
            altitude_deg=args.altitude, z_factor=args.zfactor,
            cellsize=args.cellsize)
    elif args.op == "hillshade":
        out = halo.tile_halo_shade_tiles(
            tiles, ts, azimuth_deg=args.azimuth,
            altitude_deg=args.altitude, z_factor=args.zfactor,
            cellsize=args.cellsize)
    elif args.op == "equalize":
        out = equalize_tiles(tiles, ts)
    elif args.op == "overzoom":
        out = overzoom_tiles(tiles, args.levels, ts)
    elif args.op == "slope":
        out = halo.tile_halo_slope(tiles, ts, z_factor=args.zfactor,
                                   cellsize=args.cellsize)
    else:
        fn = {"aspect": halo.tile_halo_terrain,
              "gradient": halo.tile_halo_gradient,
              "sobel": halo.tile_halo_sobel,
              "morph": halo.tile_halo_morph,
              "median": halo.tile_halo_median,
              "tri": halo.tile_halo_tri,
              "tpi": halo.tile_halo_tpi,
              "fmean": halo.tile_halo_mean,
              "flowdir": halo.tile_halo_flowdir}[args.op]
        out = fn(tiles, ts)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote {n} rows to {args.out}")


def cmd_convert(args) -> None:
    """Convert between tile containers: .mbtiles / .pmtiles / XYZ
    z-x-y.png tree (any direction). Sources normalize to the fused
    tile schema; metadata carries over when the source has it, else
    minimal rows are synthesized from the data."""
    import json

    from pyspark.sql import functions as F

    from .operators._lineage import persisted
    from .session import get_spark, local_frame

    if not os.path.exists(args.src):
        sys.exit(f"ERROR: input does not exist: {args.src}")
    spark = get_spark("rastertiler-convert", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")

    # a source a python stage reads is stored for the zoom range + sink
    meta_rows, stored = None, nullcontext
    if args.src.endswith(".mbtiles"):
        tiles, blobs, meta_rows = _read_mbtiles(args.src)
        # ship each DISTINCT blob once; the map->blob expansion happens
        # as a Spark join, not as per-row driver copies (content-deduped
        # pyramids would otherwise blow up the driver list)
        mrows = [(z, x, (1 << z) - 1 - r, r, tid)
                 for z, x, r, tid in tiles]
        mdf = local_frame(
            spark, mrows, "zoom int, x long, y long, tile_row long, "
                          "tile_hash long")
        bdf = local_frame(
            spark, [(tid, bytearray(b)) for tid, b in blobs.items()],
            "tile_hash long, png binary")
        fused = mdf.join(bdf, "tile_hash").select(
            "zoom", "x", "y", "tile_row", "tile_hash", "png")
    elif args.src.endswith(".pmtiles"):
        from .operators.pmtiles_sink import tiles_from_pmtiles

        fused = (tiles_from_pmtiles(spark, args.src)
                 .withColumn("tile_hash", F.xxhash64("png")))
        stored = persisted
    elif os.path.isdir(args.src) and os.path.exists(
            os.path.join(args.src, "manifest.json")):
        # sharded .mbtiles set: distributed ingest, no driver bytes
        from .operators.mbtiles_sink import tiles_from_mbtiles_shards

        man = json.load(open(os.path.join(args.src, "manifest.json")))
        fused = tiles_from_mbtiles_shards(spark, args.src)
        stored = persisted
        meta_rows = sorted(man.get("metadata", {}).items())
    elif os.path.isdir(args.src) and os.path.isdir(
            os.path.join(args.src, "tiles")) and any(
            n.startswith("zoom=")
            for n in os.listdir(os.path.join(args.src, "tiles"))):
        # --tiles-dir parquet tile table (the at-scale sink boundary) or
        # a streamed table: open_tiles repairs any crashed partition
        # swap BEFORE reading (the ingest module's reader contract)
        from .streaming.ingest import open_tiles

        fused = open_tiles(spark, args.src)
    elif os.path.isdir(args.src) and os.path.exists(
            os.path.join(args.src, "tilejson.json")):
        from .operators.xyz_sink import read_xyz_tree

        tj = json.load(open(os.path.join(args.src, "tilejson.json")))
        fused = (read_xyz_tree(spark, args.src)
                 .withColumn("tile_row",
                             F.expr("cast(shiftleft(1L, zoom) - 1 - y "
                                    "as long)"))
                 .withColumn("tile_hash", F.xxhash64("png")))
        stored = persisted
        meta_rows = [("name", str(tj.get("name", "tiles"))),
                     ("format", str(tj.get("format", "png")))]
        if "bounds" in tj:
            meta_rows.append(
                ("bounds", ",".join(f"{round(v, 5)}" for v in tj["bounds"])))
    else:
        sys.exit("ERROR: SRC must be .mbtiles, .pmtiles, a shard dir "
                 "(manifest.json), a --tiles-dir parquet table "
                 "(tiles/zoom=*), or an XYZ tree (tilejson.json)")

    if meta_rows is None or not meta_rows:
        meta_rows = [("name",
                      os.path.splitext(os.path.basename(args.src))[0]),
                     ("format", "png")]
    with stored(fused) as fused:
        names = {k for k, _ in meta_rows}
        if "minzoom" not in names or "maxzoom" not in names:
            zr = fused.agg(F.min("zoom"), F.max("zoom")).collect()[0]
            if zr[0] is None:
                sys.exit(f"ERROR: source holds no tiles: {args.src}")
            meta_rows = [r for r in meta_rows
                         if r[0] not in ("minzoom", "maxzoom")]
            meta_rows += [("minzoom", str(int(zr[0]))),
                          ("maxzoom", str(int(zr[1])))]
        meta = local_frame(spark, meta_rows, "name string, value string")

        if args.out.endswith(".mbtiles"):
            from .operators.mbtiles_sink import materialize_mbtiles

            try:
                materialize_mbtiles(fused, meta, args.out,
                                    max_tiles=args.max_tiles)
            except ValueError as e:
                sys.exit(f"ERROR: {e}")
            print(f"wrote {args.out}")
        elif args.out.endswith(".pmtiles"):
            from .operators.pmtiles_sink import write_pmtiles_distributed

            try:
                stats = write_pmtiles_distributed(
                    fused, args.out, metadata=dict(meta_rows))
            except ValueError as e:
                sys.exit(f"ERROR: {e}")
            print(f"wrote {args.out} ({stats['n_addressed']} tiles)")
        else:
            from .operators.xyz_sink import write_xyz_tree

            st = write_xyz_tree(fused, meta, args.out)
            print(f"wrote {st['n_tiles']} tiles (z{st['minzoom']}-"
                  f"z{st['maxzoom']}) to {args.out}")


def cmd_compact(args) -> None:
    from .session import get_spark
    from .streaming.ingest import compact_tiles

    if not os.path.isdir(args.out_dir):
        sys.exit(f"ERROR: not a directory: {args.out_dir}")
    spark = get_spark("rastertiler-compact", cpus=args.workers)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        st = compact_tiles(spark, args.out_dir, min_files=args.min_files)
    except RuntimeError as e:
        sys.exit(f"ERROR: {e}")
    print(f"compacted {st['partitions']} partitions "
          f"({st['files_before']} -> {st['files_after']} files, "
          f"{st['rows']} rows)")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="rastertiler_rs_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("render", help="render images table to an MBTiles pyramid")
    r.add_argument("src")
    r.add_argument("out")
    r.add_argument("--minzoom", type=_zoom, default=0)
    r.add_argument("--maxzoom", type=_zoom, default=4)
    r.add_argument("--tilesize", type=int, default=512)
    r.add_argument("--workers", type=int, default=4)
    r.add_argument("--colormap", default=None)
    r.add_argument("--name", default=None)
    r.add_argument("--description", default=None)
    r.add_argument("--attribution", default=None)
    r.add_argument("--disable-overviews", action="store_true")
    r.add_argument("--max-tiles", type=int, default=5_000_000,
                   help="refuse to materialize more tiles than this into "
                        "a single .mbtiles (driver-memory guard); use "
                        "--tiles-dir for larger pyramids")
    r.add_argument("--shards-dir", default=None,
                   help="also write a DISTRIBUTED sharded .mbtiles set "
                        "(one standalone SQLite shard per quadkey subtree, "
                        "written executor-side); pass OUT as '-' to skip "
                        "the single-file materialization entirely")
    r.add_argument("--shard-prefix-zoom", type=int, default=2)
    r.add_argument("--xyz-dir", default=None,
                   help="also write the slippy-map z/x/y.png file tree "
                        "+ tilejson.json here (executor-parallel, "
                        "atomic per tile); pass OUT as '-' to skip the "
                        "single-file output")
    r.add_argument("--tiles-dir", default=None,
                   help="write the pyramid once as a zoom-partitioned "
                        "parquet tile table here; the other outputs "
                        "read that table")
    r.set_defaults(fn=cmd_render)

    s = sub.add_parser(
        "stream", help="drain image parquet files into a maintained tile table")
    s.add_argument("input_dir")
    s.add_argument("out_dir")
    s.add_argument("--minzoom", type=_zoom, default=0)
    s.add_argument("--maxzoom", type=_zoom, default=4)
    s.add_argument("--tilesize", type=int, default=256)
    s.add_argument("--workers", type=int, default=4)
    s.add_argument("--colormap", default=None)
    s.add_argument("--pyramid", action="store_true",
                   help="maintain low zooms via the overview cascade")
    s.add_argument("--max-files-per-trigger", type=int, default=8)
    s.set_defaults(fn=cmd_stream)

    m = sub.add_parser("merge", help="merge two MBTiles files")
    m.add_argument("left")
    m.add_argument("right")
    m.add_argument("out")
    m.add_argument("--workers", type=int, default=4)
    m.add_argument("--max-tiles", type=int, default=5_000_000,
                   help="driver-side guard for the single-file merge "
                        "(mirrors render's materialize limit); shard "
                        "directories merge distributed and ignore this")
    m.set_defaults(fn=cmd_merge)

    t = sub.add_parser(
        "tileop", help="apply a tiled-raster operator to a (tx, ty, "
                       "png) parquet table")
    t.add_argument("src")
    t.add_argument("out")
    t.add_argument("--op", required=True,
                   choices=["hillshade", "equalize", "overzoom", "slope",
                            "aspect", "gradient", "sobel", "morph",
                            "median", "tri", "tpi", "relief", "fmean", "flowdir",
                            "shadedrelief"])
    t.add_argument("--tilesize", type=int, default=256)
    t.add_argument("--workers", type=int, default=4)
    t.add_argument("--azimuth", type=float, default=315.0)
    t.add_argument("--altitude", type=float, default=45.0)
    t.add_argument("--zfactor", type=float, default=1.0)
    t.add_argument("--cellsize", type=float, default=1.0)
    t.add_argument("--zoom", type=int, default=None,
                   help="when SRC is an XYZ tree: the zoom level to "
                        "process (default: the deepest present)")
    t.add_argument("--levels", type=int, default=1,
                   help="overzoom levels (children per parent = 4^levels)")
    t.set_defaults(fn=cmd_tileop)

    v = sub.add_parser(
        "convert", help="convert between .mbtiles / .pmtiles / XYZ "
                        "tree containers")
    v.add_argument("src")
    v.add_argument("out")
    v.add_argument("--workers", type=int, default=4)
    v.add_argument("--max-tiles", type=int, default=5_000_000)
    v.set_defaults(fn=cmd_convert)

    c = sub.add_parser(
        "compact", help="compact a streamed tile table's fragmented "
                        "partitions (crash-safe swap)")
    c.add_argument("out_dir")
    c.add_argument("--min-files", type=int, default=2)
    c.add_argument("--workers", type=int, default=4)
    c.set_defaults(fn=cmd_compact)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()

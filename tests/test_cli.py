"""The CLI surface (render + merge subcommands, the reference's two
entry points) end-to-end: render two image sets to .mbtiles, merge
them, and check against the numpy oracle + SQLite-level invariants."""

import os
import sqlite3
import sys

import pyarrow.parquet as pq
import pytest

from rastertiler_rs_spark.__main__ import main
from rastertiler_rs_spark.fixtures import generate_images
from rastertiler_rs_spark.oracle import render_oracle


def _mb(path):
    conn = sqlite3.connect(path)
    tiles = {tuple(r[:3]): r[3] for r in conn.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_id FROM map")}
    blobs = dict(conn.execute("SELECT tile_id, tile_data FROM images"))
    meta = dict(conn.execute("SELECT name, value FROM metadata"))
    # the tiles view (map ⋈ images) must resolve every row
    joined = conn.execute("SELECT COUNT(*) FROM tiles").fetchone()[0]
    conn.close()
    assert joined == len(tiles)
    return tiles, blobs, meta


def test_cli_render_and_merge(spark, tmp_path):
    # spark fixture keeps the session alive; the CLI's get_spark reuses it
    tbl = generate_images(24, "u8")
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    pq.write_table(tbl.slice(0, 16), a)
    pq.write_table(tbl.slice(8, 16), b)  # overlaps a on images 8..15

    out_a = str(tmp_path / "a.mbtiles")
    out_b = str(tmp_path / "b.mbtiles")
    main(["render", a, out_a, "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews", "--name", "seta",
          "--description", "left set", "--attribution", "test"])
    main(["render", b, out_b, "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews"])

    ta, ba, ma = _mb(out_a)
    want_tiles, want_blobs = render_oracle(tbl.slice(0, 16).to_pylist(), 3, 6, 64)
    assert ta == {(z, x, y): h for z, x, y, h in want_tiles}
    for h, png in ba.items():
        assert bytes(want_blobs[h]) == bytes(png)
    assert ma["name"] == "seta" and ma["description"] == "left set"
    assert ma["minzoom"] == "3" and ma["maxzoom"] == "6"
    assert ma["format"] == "png" and ma["type"] == "overlay"

    out_m = str(tmp_path / "m.mbtiles")
    main(["merge", out_a, out_b, out_m])
    # finalization parity (mbtiles.rs:213-218): compacted + consistent
    conn = sqlite3.connect(out_m)
    assert conn.execute("PRAGMA integrity_check").fetchone()[0] == "ok"
    assert conn.execute("PRAGMA freelist_count").fetchone()[0] == 0  # vacuumed
    conn.close()
    tm_, bm, mm = _mb(out_m)
    tb, bb, _ = _mb(out_b)
    # left wins on conflicts; right-only appended (INSERT OR IGNORE)
    want = dict(tb)
    want.update(ta)
    assert tm_ == want
    for k, h in tm_.items():
        assert h in bm


def test_cli_default_overviews_respects_maxzoom(spark, tmp_path):
    """The default (overviews-enabled) path with the default --maxzoom 4,
    which sits BELOW the overview threshold (8): the output must contain
    exactly zooms minzoom..maxzoom — no overshoot past maxzoom — and the
    metadata must agree with the tiles."""
    tbl = generate_images(16, "u8")
    src = str(tmp_path / "imgs.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "ov.mbtiles")
    main(["render", src, out, "--minzoom", "1", "--tilesize", "64"])
    tiles, blobs, meta = _mb(out)
    zooms = sorted({z for z, _, _ in tiles})
    # no overshoot past maxzoom (the unclamped bug rendered z..8), and
    # the base level itself must be present; inner levels may drop
    # legitimately when decimation leaves a tile all-nodata
    assert max(zooms) == 4 and min(zooms) >= 1
    assert all(1 <= z <= 4 for z in zooms)
    assert meta["minzoom"] == "1" and meta["maxzoom"] == "4"
    for h in tiles.values():
        assert h in blobs


def test_cli_render_warp_geotiff(spark, tmp_path):
    """`render GEO.tif OUT.mbtiles` over an EPSG:4326 GeoTIFF: the CLI
    dispatches to the reprojection warp (the reference's any-CRS
    behavior via its warped VRT). Tile set + bytes must equal the
    in-process warp pyramid; metadata bounds are the source's degree
    envelope."""
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.fixtures import (geotiff_geo_fixture,
                                               geotiff_geo_params)
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.warp import render_warp_pyramid

    src = geotiff_geo_fixture()
    out = str(tmp_path / "warp.mbtiles")
    # maxzoom 6 < overview threshold 8 -> base clamps to 6, z4-5 cascade
    main(["render", src, out, "--minzoom", "4", "--maxzoom", "6",
          "--tilesize", "128"])
    tiles, blobs, meta = _mb(out)

    images = images_from_geotiff(spark, src)
    fused = render_warp_pyramid(images, 4, 6, tile_size=128,
                                dtype_tag="u8", overview_below=8)
    want = {(r["zoom"], r["x"], r["tile_row"]):
            (r["tile_hash"], bytes(r["png"])) for r in fused.collect()}
    assert tiles == {k: h for k, (h, _) in want.items()}
    for k, (h, png) in want.items():
        assert bytes(blobs[tiles[k]]) == png
    w, h_px, transform, _rps = geotiff_geo_params()
    a, _b, x0, _d, e, y0 = transform
    lo_lon, hi_lon = x0, x0 + w * a
    lo_lat, hi_lat = y0 + h_px * e, y0
    bl = [float(v) for v in meta["bounds"].split(",")]
    assert bl == [round(v, 5) for v in (lo_lon, lo_lat, hi_lon, hi_lat)]


def test_cli_render_warp_geotiff_tiles_dir(spark, tmp_path, monkeypatch):
    """`render GEO.tif - --tiles-dir T`: a geographic source writes the
    same zoom-partitioned tile table as a native one — exactly the
    in-process warp pyramid's rows — and OUT='-' writes nothing else."""
    from rastertiler_rs_spark.fixtures import geotiff_geo_fixture
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.warp import render_warp_pyramid

    monkeypatch.chdir(tmp_path)
    src = geotiff_geo_fixture()
    tdir = tmp_path / "tiles"
    main(["render", src, "-", "--minzoom", "4", "--maxzoom", "6",
          "--tilesize", "128", "--tiles-dir", str(tdir)])
    assert os.listdir(tmp_path) == ["tiles"]

    def rows(df):
        return sorted((r["zoom"], r["x"], r["y"], r["tile_row"],
                       r["tile_hash"], bytes(r["png"])) for r in df.collect())

    got = rows(spark.read.parquet(str(tdir / "tiles")))
    want = rows(render_warp_pyramid(images_from_geotiff(spark, src), 4, 6,
                                    tile_size=128, dtype_tag="u8",
                                    overview_below=8))
    assert got and got == want
    assert {r[0] for r in got} == {4, 5, 6}


def test_cli_validation(tmp_path):
    with pytest.raises(SystemExit):
        main(["render", "/nonexistent.parquet", str(tmp_path / "o.mbtiles")])
    with pytest.raises(SystemExit):
        main(["render", "x", "y", "--minzoom", "9", "--maxzoom", "2"])


def test_cli_stream_drains_and_upserts(spark, tmp_path, capsys):
    """The stream subcommand wires the Structured Streaming pipeline:
    drop 1 drains to a live tile table; a second invocation after drop 2
    upserts and converges to the batch render over all images."""
    from rastertiler_rs_spark.operators.render import render

    inp, out = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    imgs = generate_images(16, "u8")
    pq.write_table(imgs.slice(0, 8), str(inp / "p0.parquet"))
    main(["stream", str(inp), str(out), "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64"])
    assert "tiles live" in capsys.readouterr().out

    pq.write_table(imgs.slice(8, 8), str(inp / "p1.parquet"))
    main(["stream", str(inp), str(out), "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64"])
    streamed = {(r["zoom"], r["x"], r["tile_row"]): r["tile_hash"]
                for r in spark.read.parquet(str(out / "tiles")).collect()}
    batch_df = render(spark.createDataFrame(imgs.to_pandas()), 3, 6,
                      tile_size=64)
    batch = {(r["zoom"], r["x"], r["tile_row"]): r["tile_hash"]
             for r in batch_df.collect()}
    assert streamed == batch


def test_cli_stream_validation(tmp_path):
    with pytest.raises(SystemExit):
        main(["stream", str(tmp_path / "missing"), str(tmp_path / "o")])
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(SystemExit):
        main(["stream", str(empty), str(tmp_path / "o2")])


def test_cli_render_tiles_dir(tmp_path):
    """--tiles-dir routes through the sink-boundary pyramid: the
    zoom-partitioned tile table lands on disk AND the .mbtiles
    materializes from it, matching the in-memory CLI result."""
    import subprocess
    import sys

    from rastertiler_rs_spark.fixtures import images_parquet

    src = images_parquet(16, "u8")
    out = tmp_path / "t.mbtiles"
    tdir = tmp_path / "tiles"
    r = subprocess.run(
        [sys.executable, "-m", "rastertiler_rs_spark", "render", src,
         str(out), "--minzoom", "4", "--maxzoom", "7", "--tilesize", "64",
         "--workers", "8", "--tiles-dir", str(tdir)],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr[-2000:]
    assert out.exists()
    zdirs = [e for e in os.listdir(tdir / "tiles") if e.startswith("zoom=")]
    assert sorted(int(z.split("=")[1]) for z in zdirs) == [4, 5, 6, 7]


def test_cli_mbtiles_driver_memory_guard(spark, tmp_path):
    """materialize_mbtiles collects to the driver by design (a single
    SQLite file is single-node); the row-count guard must refuse a
    too-large pyramid with a pointer at the distributed sink instead of
    silently OOMing the driver."""
    tbl = generate_images(16, "u8")
    src = str(tmp_path / "imgs.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "big.mbtiles")
    with pytest.raises(SystemExit, match="tiles-dir"):
        main(["render", src, out, "--minzoom", "3", "--maxzoom", "6",
              "--tilesize", "64", "--disable-overviews", "--max-tiles", "5"])
    # under the cap: same render succeeds
    main(["render", src, out, "--minzoom", "6", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews", "--max-tiles", "500"])
    tiles, _, _ = _mb(out)
    assert 0 < len(tiles) <= 500


def test_cli_render_sharded_mbtiles(spark, tmp_path):
    """--shards-dir writes the distributed sharded sink; OUT='-' skips
    the single-file materialization; union == single-file render."""
    import json

    from rastertiler_rs_spark.operators.mbtiles_sink import read_mbtiles_shards

    tbl = generate_images(16, "u8")
    src = str(tmp_path / "s.parquet")
    pq.write_table(tbl, src)
    shards = str(tmp_path / "shards")
    single = str(tmp_path / "s.mbtiles")

    main(["render", src, "-", "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews", "--shards-dir", shards])
    main(["render", src, single, "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews"])

    assert not os.path.exists(str(tmp_path / "-"))
    st, sb, _ = _mb(single)
    tiles, blobs, meta = read_mbtiles_shards(shards)
    assert {(z, x, y): h for z, x, y, h in tiles} == st
    assert {h: bytes(b) for h, b in blobs.items()} \
        == {h: bytes(b) for h, b in sb.items()}
    manifest = json.load(open(os.path.join(shards, "manifest.json")))
    assert manifest["total_tiles"] == len(tiles)
    assert manifest["sharding"] == "quadkey:2"


def test_cli_merge_shard_dirs_and_mixed_error(spark, tmp_path):
    from rastertiler_rs_spark.operators.mbtiles_sink import (
        read_mbtiles_shards, write_mbtiles_shards)
    from rastertiler_rs_spark.operators.render import (metadata_table,
                                                       render)

    tbl = generate_images(12, "u8")
    src = str(tmp_path / "s.parquet")
    pq.write_table(tbl, src)
    images = spark.read.parquet(src)
    fused = render(images, 3, 5, tile_size=64, dtype_tag="u8")
    meta = metadata_table(spark, images, 3, 5, "t")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    write_mbtiles_shards(fused, meta, d1, prefix_zoom=1)
    write_mbtiles_shards(fused, meta, d2, prefix_zoom=1)

    out = str(tmp_path / "merged")
    main(["merge", d1, d2, out])
    tiles, _, _ = read_mbtiles_shards(out)
    assert sorted(tiles) == sorted(
        (r["zoom"], r["x"], r["tile_row"], r["tile_hash"])
        for r in fused.collect())                 # self-merge = identity

    f = tmp_path / "x.mbtiles"
    f.write_bytes(b"")
    with pytest.raises(SystemExit, match="both"):
        main(["merge", d1, str(f), str(tmp_path / "o")])


def test_cli_render_cog(spark, tmp_path):
    """render OUT.tif writes a real multi-IFD COG whose base blocks
    decode back to the rendered tiles."""
    import numpy as np

    from rastertiler_rs_spark.geotiff import _decode_block, geotiff_ifds

    tbl = generate_images(12, "u8")
    src = str(tmp_path / "imgs.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "out.tif")
    main(["render", src, out, "--minzoom", "5", "--maxzoom", "7",
          "--tilesize", "64"])
    metas = geotiff_ifds(out)
    assert len(metas) == 3          # z7 base + z6/z5 overviews
    m0 = metas[0]
    assert m0["tile_width"] == 64 and m0["compression"] == "deflate"
    # at least one non-filler block decodes with data pixels
    nz = 0
    with open(out, "rb") as fh:
        for b in m0["blocks"]:
            fh.seek(b["off"])
            band = _decode_block(fh.read(b["cnt"]), m0["compression"],
                                 m0["predictor"], np.uint8, 64, 64, 64, 64)
            nz += int((band != 0).any())
    assert nz > 0


def test_cli_tileop_hillshade_and_overzoom(spark, tmp_path):
    """`tileop` applies tiled-raster operators from the CLI: hillshade
    output == the operator; overzoom row count is 4x parents minus
    all-nodata drops; stats ops emit the stats schema."""
    from rastertiler_rs_spark.fixtures import tiled_canvas_parquet
    from rastertiler_rs_spark.operators.halo import tile_halo_shade_tiles

    src = tiled_canvas_parquet(256, 192, 64, seed=5)
    out = str(tmp_path / "shade.parquet")
    main(["tileop", src, out, "--op", "hillshade", "--tilesize", "64"])
    got = {(r["tx"], r["ty"]): bytes(r["png"])
           for r in spark.read.parquet(out).collect()}
    tiles = spark.read.parquet(src)
    want = {(r["tx"], r["ty"]): bytes(r["png"])
            for r in tile_halo_shade_tiles(tiles, 64).collect()}
    assert got == want

    out2 = str(tmp_path / "oz.parquet")
    main(["tileop", src, out2, "--op", "overzoom", "--tilesize", "64",
          "--levels", "1"])
    oz = spark.read.parquet(out2)
    assert set(oz.columns) == {"tx", "ty", "png"}
    assert 0 < oz.count() <= 4 * tiles.count()

    out3 = str(tmp_path / "slope.parquet")
    main(["tileop", src, out3, "--op", "slope", "--tilesize", "64"])
    sl = spark.read.parquet(out3)
    assert set(sl.columns) == {"tx", "ty", "n_valid", "sum_g2", "max_g2"}
    assert sl.count() > 0


def test_cli_tileop_validation(tmp_path):
    with pytest.raises(SystemExit):
        main(["tileop", "/nonexistent.parquet", str(tmp_path / "o"),
              "--op", "hillshade"])


def test_cli_render_xyz_tree(spark, tmp_path):
    """`render --xyz-dir`: the z/x/y.png tree holds exactly the fused
    pyramid's tiles byte-for-byte (XYZ y scheme) and tilejson.json
    carries the zoom range + bounds."""
    import json

    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid

    src = images_parquet(8, "u8")
    xyz = str(tmp_path / "tree")
    out = str(tmp_path / "t.mbtiles")
    main(["render", src, out, "--minzoom", "6", "--maxzoom", "8",
          "--tilesize", "128", "--xyz-dir", xyz])
    fused = render_pyramid(spark.read.parquet(src), 6, 8, 128, "u8",
                           None, overview_below=8)
    want = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
            for r in fused.collect()}
    found = {}
    for z in os.listdir(xyz):
        if not z.isdigit():
            continue
        for x in os.listdir(os.path.join(xyz, z)):
            for y in os.listdir(os.path.join(xyz, z, x)):
                assert y.endswith(".png")
                found[(int(z), int(x), int(y[:-4]))] = open(
                    os.path.join(xyz, z, x, y), "rb").read()
    assert found == want
    tj = json.load(open(os.path.join(xyz, "tilejson.json")))
    assert tj["minzoom"] == 6 and tj["maxzoom"] == 8
    assert tj["scheme"] == "xyz" and len(tj["bounds"]) == 4
    assert os.path.exists(out)


def test_xyz_tree_roundtrip(spark, tmp_path):
    """write_xyz_tree -> read_xyz_tree is the identity on (zoom, x,
    y, png)."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import (metadata_table,
                                                       render)
    from rastertiler_rs_spark.operators.xyz_sink import (read_xyz_tree,
                                                         write_xyz_tree)

    images = spark.read.parquet(images_parquet(8, "u8"))
    fused = render(images, 7, 8, tile_size=128, dtype_tag="u8")
    meta = metadata_table(spark, images, 7, 8)
    d = str(tmp_path / "tree")
    st = write_xyz_tree(fused, meta, d)
    back = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
            for r in read_xyz_tree(spark, d).collect()}
    want = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
            for r in fused.collect()}
    assert back == want and st["n_tiles"] == len(want)


def test_cli_tileop_on_xyz_tree(spark, tmp_path):
    """tileop consumes an XYZ tree directly (deepest zoom by default):
    render → tree → hillshade composes from the CLI alone."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.halo import tile_halo_shade_tiles

    src = images_parquet(8, "u8")
    xyz = str(tmp_path / "tree")
    main(["render", src, "-", "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--xyz-dir", xyz, "--disable-overviews"])
    out = str(tmp_path / "shade.parquet")
    main(["tileop", xyz, out, "--op", "hillshade", "--tilesize", "128"])
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.operators.xyz_sink import read_xyz_tree

    base = (read_xyz_tree(spark, xyz).filter(F.col("zoom") == 8)
            .select(F.col("x").alias("tx"), F.col("y").alias("ty"),
                    "png"))
    want = {(r["tx"], r["ty"]): bytes(r["png"])
            for r in tile_halo_shade_tiles(base, 128).collect()}
    got = {(r["tx"], r["ty"]): bytes(r["png"])
           for r in spark.read.parquet(out).collect()}
    assert got == want and len(got) > 0


def test_cli_compact(spark, tmp_path):
    """`compact` CLI: fragmented stream table -> one file per
    partition, rows preserved."""
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.streaming.ingest import (_partition_dirs,
                                                       _xb_col,
                                                       open_tiles)

    out = str(tmp_path / "table")
    tiles_path = os.path.join(out, "tiles")
    rows = [(6, x, y, 63 - y, x * 100 + y, bytearray(b"p%d" % y))
            for x in range(3) for y in range(20)]
    df = spark.createDataFrame(
        rows, "zoom int, x long, y long, tile_row long, tile_hash long, "
              "png binary")
    (df.withColumn("xb", _xb_col()).repartition(6)
       .write.partitionBy("zoom", "xb").mode("overwrite")
       .parquet(tiles_path))
    n_before = open_tiles(spark, out).count()
    main(["compact", out])
    assert open_tiles(spark, out).count() == n_before
    for rel in _partition_dirs(tiles_path):
        p = os.path.join(tiles_path, rel)
        assert sum(1 for f in os.listdir(p)
                   if f.endswith(".parquet")) == 1


def test_cli_convert_roundtrip_chain(spark, tmp_path):
    """mbtiles -> pmtiles -> xyz -> mbtiles: the per-(z, x, y) PNG
    bytes survive the whole chain."""
    from rastertiler_rs_spark.fixtures import images_parquet

    src = images_parquet(8, "u8")
    mb1 = str(tmp_path / "a.mbtiles")
    main(["render", src, mb1, "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--disable-overviews"])
    pm = str(tmp_path / "b.pmtiles")
    main(["convert", mb1, pm])
    xyz = str(tmp_path / "tree")
    main(["convert", pm, xyz])
    mb2 = str(tmp_path / "c.mbtiles")
    main(["convert", xyz, mb2])

    t1, b1, m1 = _mb(mb1)
    t2, b2, m2 = _mb(mb2)
    want = {k: bytes(b1[h]) for k, h in t1.items()}
    got = {k: bytes(b2[h]) for k, h in t2.items()}
    assert got == want and len(got) > 0
    assert m2["format"] == "png"
    assert int(m2["minzoom"]) == 7 and int(m2["maxzoom"]) == 8


def test_cli_convert_from_shards(spark, tmp_path):
    """Sharded .mbtiles set -> pmtiles via the distributed shard
    source: bytes equal the single-file render."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.pmtiles_sink import \
        tiles_from_pmtiles

    src = images_parquet(8, "u8")
    mb = str(tmp_path / "a.mbtiles")
    shards = str(tmp_path / "shards")
    main(["render", src, mb, "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--disable-overviews",
          "--shards-dir", shards])
    pm = str(tmp_path / "b.pmtiles")
    main(["convert", shards, pm])
    tiles, blobs, _ = _mb(mb)
    want = {k: bytes(blobs[h]) for k, h in tiles.items()}
    got = {}
    for r in tiles_from_pmtiles(spark, pm).collect():
        got[(r["zoom"], r["x"], r["tile_row"])] = bytes(r["png"])
    assert got == want and len(got) > 0


def test_cli_tileop_on_mbtiles(spark, tmp_path):
    """tileop consumes a single-file MBTiles (deepest zoom default)."""
    from rastertiler_rs_spark.fixtures import images_parquet

    src = images_parquet(8, "u8")
    mb = str(tmp_path / "a.mbtiles")
    main(["render", src, mb, "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--disable-overviews"])
    out = str(tmp_path / "slope.parquet")
    main(["tileop", mb, out, "--op", "slope", "--tilesize", "128"])
    sl = spark.read.parquet(out)
    assert sl.count() > 0
    assert set(sl.columns) == {"tx", "ty", "n_valid", "sum_g2", "max_g2"}


def test_cli_convert_from_tiles_dir(spark, tmp_path):
    """--tiles-dir parquet table -> mbtiles via convert equals the
    direct render."""
    from rastertiler_rs_spark.fixtures import images_parquet

    src = images_parquet(8, "u8")
    td = str(tmp_path / "table")
    mb_direct = str(tmp_path / "a.mbtiles")
    main(["render", src, mb_direct, "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--disable-overviews"])
    main(["render", src, "-", "--minzoom", "7", "--maxzoom", "8",
          "--tilesize", "128", "--disable-overviews",
          "--tiles-dir", td, "--shards-dir", str(tmp_path / "sh")])
    mb2 = str(tmp_path / "b.mbtiles")
    main(["convert", td, mb2])
    t1, b1, _ = _mb(mb_direct)
    t2, b2, _ = _mb(mb2)
    assert {k: bytes(b2[h]) for k, h in t2.items()} == \
        {k: bytes(b1[h]) for k, h in t1.items()}


def test_cli_convert_empty_source(tmp_path):
    """Empty source fails fast instead of crashing on the zoom agg."""
    import sqlite3

    from rastertiler_rs_spark.oracle import MBTILES_DDL

    mb = str(tmp_path / "empty.mbtiles")
    conn = sqlite3.connect(mb)
    conn.executescript(MBTILES_DDL)
    conn.close()
    with pytest.raises(SystemExit):
        main(["convert", mb, str(tmp_path / "o.pmtiles")])

"""Distributed sharded .mbtiles sink: executor-side streamed writes,
quadkey/hash routing parity with shard_for_tile, standalone shard
completeness, manifest accounting, and idempotent re-write."""

import json
import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from rastertiler_rs_spark.fixtures import images_parquet
from rastertiler_rs_spark.operators.mbtiles_sink import (
    materialize_mbtiles, merge_mbtiles_shards, read_mbtiles_shards,
    shard_for_tile, tiles_from_mbtiles_shards, write_mbtiles_shards)
from rastertiler_rs_spark.operators.render import metadata_table, render


@pytest.fixture(scope="module")
def fused(spark):
    images = spark.read.parquet(images_parquet(48, "u8"))
    df = render(images, 0, 8, tile_size=64, dtype_tag="u8").persist()
    df.count()
    yield df
    df.unpersist()


def _expected(fused):
    rows = fused.collect()
    tiles = sorted((r["zoom"], r["x"], r["tile_row"], r["tile_hash"])
                   for r in rows)
    blobs = {r["tile_hash"]: bytes(r["png"]) for r in rows}
    return tiles, blobs


def test_quadkey_shards_roundtrip(spark, fused, tmp_path):
    out = str(tmp_path / "shards")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "shardtest")
    manifest = write_mbtiles_shards(fused, meta, out, prefix_zoom=2)

    exp_tiles, exp_blobs = _expected(fused)
    tiles, blobs, m = read_mbtiles_shards(out)
    assert sorted(tiles) == exp_tiles
    assert {h: bytes(b) for h, b in blobs.items()} == exp_blobs
    assert m["name"] == "shardtest"
    assert manifest["total_tiles"] == len(exp_tiles)
    assert manifest["sharding"] == "quadkey:2"
    # manifest counts match the files on disk
    disk = json.load(open(os.path.join(out, "manifest.json")))
    assert disk["shards"] == {str(k): v for k, v in manifest["shards"].items()} \
        or disk["shards"] == manifest["shards"]
    assert not [f for f in os.listdir(out) if f.startswith(".shard-")]


def test_every_tile_in_its_computed_shard(fused, spark, tmp_path):
    """The JVM shard expression must equal shard_for_tile verbatim:
    every row of every shard file sits where the python twin says."""
    out = str(tmp_path / "shards")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    write_mbtiles_shards(fused, meta, out, prefix_zoom=2)
    seen = 0
    for name in os.listdir(out):
        if not name.endswith(".mbtiles"):
            continue
        shard = int(name.split("-")[1].split(".")[0])
        conn = sqlite3.connect(os.path.join(out, name))
        for z, x, y, _ in conn.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_id FROM map"):
            assert shard_for_tile(z, x, y, 2) == shard
            seen += 1
        # every shard is standalone: tiles view + metadata present
        assert conn.execute("SELECT COUNT(*) FROM tiles").fetchone()[0] > 0
        assert conn.execute("SELECT COUNT(*) FROM metadata").fetchone()[0] > 0
        conn.close()
    assert seen == fused.count()


def test_hash_shards_balance_and_roundtrip(spark, fused, tmp_path):
    out = str(tmp_path / "hashed")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    manifest = write_mbtiles_shards(fused, meta, out, hash_shards=8)
    exp_tiles, _ = _expected(fused)
    tiles, _, _ = read_mbtiles_shards(out)
    assert sorted(tiles) == exp_tiles
    counts = [v["n_tiles"] for v in manifest["shards"].values()]
    assert len(counts) == 8                       # uniform enough to hit all
    assert max(counts) < 3 * min(counts)


def test_rewrite_is_idempotent(spark, fused, tmp_path):
    out = str(tmp_path / "twice")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    m1 = write_mbtiles_shards(fused, meta, out, prefix_zoom=1)
    m2 = write_mbtiles_shards(fused, meta, out, prefix_zoom=1)
    assert m1["shards"] == m2["shards"]
    exp_tiles, _ = _expected(fused)
    tiles, _, _ = read_mbtiles_shards(out)
    assert sorted(tiles) == exp_tiles


def test_shards_union_equals_single_file(spark, fused, tmp_path):
    """Golden comparison: the sharded sink and the driver-side single
    file hold the identical tile set and blobs."""
    out = str(tmp_path / "shards")
    single = str(tmp_path / "single.mbtiles")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    write_mbtiles_shards(fused, meta, out, prefix_zoom=2)
    materialize_mbtiles(fused, meta, single)
    conn = sqlite3.connect(single)
    stiles = sorted(conn.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_id FROM map"))
    sblobs = dict(conn.execute("SELECT tile_id, tile_data FROM images"))
    conn.close()
    tiles, blobs, _ = read_mbtiles_shards(out)
    assert sorted(tiles) == stiles
    assert {h: bytes(b) for h, b in blobs.items()} \
        == {h: bytes(b) for h, b in sblobs.items()}


def test_reused_out_dir_is_cleared(spark, fused, tmp_path):
    """A rerun into the same out_dir with fewer shards must not union
    with the previous run's files (stale shard-/tmp/manifest sweep)."""
    out = str(tmp_path / "reuse")
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    write_mbtiles_shards(fused, meta, out, prefix_zoom=2)   # up to 17 shards
    # plant an orphan temp from a hypothetical dead attempt
    open(os.path.join(out, ".shard-00001.tmp-dead"), "wb").write(b"x")
    m2 = write_mbtiles_shards(fused, meta, out, hash_shards=2)
    names = sorted(os.listdir(out))
    assert [n for n in names if n.endswith(".mbtiles")] \
        == [f"shard-{i:05d}.mbtiles" for i in sorted(m2["shards"])]
    assert not [n for n in names if n.startswith(".shard-")]
    exp_tiles, _ = _expected(fused)
    tiles, _, _ = read_mbtiles_shards(out)
    assert sorted(tiles) == exp_tiles


def test_bad_prefix_zoom_rejected(spark, fused, tmp_path):
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    with pytest.raises(ValueError, match="prefix_zoom"):
        write_mbtiles_shards(fused, meta, str(tmp_path / "x"), prefix_zoom=0)
    with pytest.raises(ValueError, match="prefix_zoom"):
        shard_for_tile(5, 1, 1, prefix_zoom=0)


@pytest.mark.parametrize("kw", [{"prefix_zoom": 0}, {"prefix_zoom": 8},
                                {"hash_shards": -1}])
def test_bad_sharding_rejected_before_any_work(spark, fused, count_jobs,
                                               tmp_path, kw):
    """The arguments are checked before the metadata is collected and
    before ``out_dir`` is created: a bad call runs no job and leaves no
    directory behind."""
    meta = spark.range(1).select(F.lit("name").alias("name"),
                                 F.lit("t").alias("value"))
    out = tmp_path / "never"

    def call():
        with pytest.raises(ValueError, match="prefix_zoom|hash_shards"):
            write_mbtiles_shards(fused, meta, str(out), **kw)

    assert count_jobs(call) == []
    assert not out.exists()


def test_metadata_collect_runs_no_job(spark, count_jobs):
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    assert count_jobs(meta.collect) == []


@pytest.fixture(scope="module")
def shard_pair(spark, fused, tmp_path_factory):
    """Two quadkey shard sets of ``fused``: all of it, and z0-5."""
    meta = metadata_table(
        spark, spark.read.parquet(images_parquet(48, "u8")), 0, 8, "t")
    d = tmp_path_factory.mktemp("pair")
    left, right = str(d / "L"), str(d / "R")
    write_mbtiles_shards(fused, meta, left, prefix_zoom=2)
    write_mbtiles_shards(fused.filter("zoom <= 5"), meta, right,
                         prefix_zoom=2)
    return left, right


def test_shard_merge_runs_one_job(spark, fused, shard_pair, count_jobs,
                                  tmp_path):
    """The per-shard merge is one map-only job over the shard list: no
    exchange in front of its Python stage."""
    manifest = {}
    jobs = count_jobs(lambda: manifest.update(
        merge_mbtiles_shards(spark, *shard_pair, str(tmp_path / "M"))))
    assert len(jobs) == 1
    assert manifest["total_tiles"] == fused.count()


def test_shard_read_runs_no_shuffle(spark, fused, shard_pair, count_jobs):
    """Reading a shard set back is one single-stage job."""
    rows = []
    jobs = count_jobs(lambda: rows.extend(
        tiles_from_mbtiles_shards(spark, shard_pair[0]).collect()))
    tracker = spark.sparkContext.statusTracker()
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1]
    assert sorted((r["zoom"], r["x"], r["y"], r["tile_hash"])
                  for r in rows) == sorted(
        (r["zoom"], r["x"], r["y"], r["tile_hash"]) for r in fused.collect())



def test_distributed_shard_merge_matches_single_file(spark, tmp_path):
    """Per-shard ATTACH merge == the single-file merge semantics: left
    wins on map-key conflicts, blobs unioned, minzoom/maxzoom
    min/maxed, every output shard standalone + vacuumed."""
    import pyarrow.parquet as pq

    from rastertiler_rs_spark.fixtures import generate_images
    from rastertiler_rs_spark.operators.merge import (merge_metadata,
                                                      merge_tables)  # noqa
    from rastertiler_rs_spark.operators.mbtiles_sink import (
        merge_mbtiles_shards)

    tbl = generate_images(24, "u8")
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(tbl.slice(0, 16), a)
    pq.write_table(tbl.slice(8, 16), b)          # overlaps a on 8..15

    dirs = {}
    for name, src, zmin, zmax in (("L", a, 3, 6), ("R", b, 4, 7)):
        images = spark.read.parquet(src)
        fused = render(images, zmin, zmax, tile_size=64, dtype_tag="u8")
        meta = metadata_table(spark, images, zmin, zmax, f"set{name}")
        d = str(tmp_path / f"shards{name}")
        write_mbtiles_shards(fused, meta, d, prefix_zoom=2)
        dirs[name] = d

    out = str(tmp_path / "merged")
    manifest = merge_mbtiles_shards(spark, dirs["L"], dirs["R"], out)
    tiles, blobs, meta = read_mbtiles_shards(out)

    # expected: DataFrame-merge semantics over the two shard unions
    lt, lb, _lm = read_mbtiles_shards(dirs["L"])
    rt, rb, _rm = read_mbtiles_shards(dirs["R"])
    ms = "zoom_level int, tile_column long, tile_row long, tile_id long"
    mm, mi = merge_tables(
        spark.createDataFrame(lt, ms),
        spark.createDataFrame([(h, bytes(v)) for h, v in lb.items()],
                              "tile_id long, tile_data binary"),
        spark.createDataFrame(rt, ms),
        spark.createDataFrame([(h, bytes(v)) for h, v in rb.items()],
                              "tile_id long, tile_data binary"))
    want_tiles = sorted((r["zoom_level"], r["tile_column"], r["tile_row"],
                         r["tile_id"]) for r in mm.collect())
    assert sorted(tiles) == want_tiles
    assert manifest["total_tiles"] == len(want_tiles)
    assert set(blobs) == {r["tile_id"] for r in mi.collect()}
    assert meta["name"] == "setL"               # left wins
    assert (meta["minzoom"], meta["maxzoom"]) == ("3", "7")
    # single-file merge_metadata semantics: LEFT's key set only (plus
    # merged zooms) — right-only keys must not leak into the output
    want_meta = {r["name"]: r["value"] for r in merge_metadata(
        spark.createDataFrame(sorted(_lm.items()), "name string, value string"),
        spark.createDataFrame(sorted(_rm.items()), "name string, value string"),
    ).collect()}
    assert meta == want_meta

    # every output shard is vacuumed + internally consistent
    for name in sorted(os.listdir(out)):
        if not name.endswith(".mbtiles"):
            continue
        conn = sqlite3.connect(os.path.join(out, name))
        assert conn.execute("PRAGMA integrity_check").fetchone()[0] == "ok"
        assert conn.execute("PRAGMA freelist_count").fetchone()[0] == 0
        assert conn.execute(
            "SELECT COUNT(*) FROM map m LEFT JOIN images i "
            "ON i.tile_id = m.tile_id WHERE i.tile_id IS NULL"
        ).fetchone()[0] == 0                     # no dangling tile refs
        conn.close()


def test_shard_merge_layout_mismatch_rejected(spark, fused, tmp_path):
    images = spark.read.parquet(images_parquet(48, "u8"))
    meta = metadata_table(spark, images, 0, 8, "t")
    d1, d2 = str(tmp_path / "p2"), str(tmp_path / "h4")
    write_mbtiles_shards(fused, meta, d1, prefix_zoom=2)
    write_mbtiles_shards(fused, meta, d2, hash_shards=4)
    with pytest.raises(ValueError, match="layouts differ"):
        merge_mbtiles_shards_import = __import__(
            "rastertiler_rs_spark.operators.mbtiles_sink",
            fromlist=["merge_mbtiles_shards"])
        merge_mbtiles_shards_import.merge_mbtiles_shards(
            spark, d1, d2, str(tmp_path / "out"))

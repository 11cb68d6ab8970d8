"""PMTiles v3: Hilbert tile ids (spec anchors, bijection, adjacency,
numpy/JVM twins), varint directories, archive build/read round-trips,
and the distributed sink/source against the driver-side writer."""

import gzip
import os

import numpy as np
import pytest

from rastertiler_rs_spark.pmtiles import (PMTilesReader, build_pmtiles,
                                          deserialize_directory,
                                          serialize_directory, tileid_col,
                                          tileid_to_zxy, zxy_to_tileid,
                                          zxy_to_tileid_np)
from rastertiler_rs_spark.pmtiles.codec import (Entry, build_directories,
                                                parse_header, read_varint,
                                                write_varint)


# ------------------------------------------------------------- hilbert ids

def test_spec_anchor_ids():
    # PMTiles spec: z1 Hilbert order is (0,0),(0,1),(1,1),(1,0)
    for (z, x, y), want in [((0, 0, 0), 0), ((1, 0, 0), 1), ((1, 0, 1), 2),
                            ((1, 1, 1), 3), ((1, 1, 0), 4), ((2, 0, 0), 5)]:
        assert zxy_to_tileid(z, x, y) == want


def test_bijection_and_adjacency():
    for z in range(6):
        n = 1 << z
        lo = (4 ** z - 1) // 3
        ids = {}
        for x in range(n):
            for y in range(n):
                t = zxy_to_tileid(z, x, y)
                assert tileid_to_zxy(t) == (z, x, y)
                ids[t] = (x, y)
        assert sorted(ids) == list(range(lo, lo + n * n))
        # the Hilbert property: consecutive ids are grid neighbors
        for t in range(lo, lo + n * n - 1):
            (x1, y1), (x2, y2) = ids[t], ids[t + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_id_validation():
    with pytest.raises(ValueError, match="outside"):
        zxy_to_tileid(2, 4, 0)
    with pytest.raises(ValueError, match="zoom"):
        zxy_to_tileid(27, 0, 0)
    with pytest.raises(ValueError, match="negative"):
        tileid_to_zxy(-1)


def _random_triples(n, max_z=15, seed=0):
    rng = np.random.default_rng(seed)
    zs = rng.integers(0, max_z, n)
    xs = np.array([rng.integers(0, 1 << z) for z in zs])
    ys = np.array([rng.integers(0, 1 << z) for z in zs])
    return zs, xs, ys


def test_numpy_twin_matches_scalar():
    zs, xs, ys = _random_triples(800)
    got = zxy_to_tileid_np(zs, xs, ys)
    want = [zxy_to_tileid(int(z), int(x), int(y))
            for z, x, y in zip(zs, xs, ys)]
    assert got.tolist() == want


def test_jvm_column_matches_scalar(spark):
    import pandas as pd
    zs, xs, ys = _random_triples(500, seed=3)
    df = spark.createDataFrame(pd.DataFrame(
        {"zoom": zs.astype("int32"), "x": xs, "y": ys}))
    got = [r["tid"] for r in df.select(
        tileid_col("zoom", "x", "y").alias("tid")).collect()]
    want = [zxy_to_tileid(int(z), int(x), int(y))
            for z, x, y in zip(zs, xs, ys)]
    assert got == want


# ------------------------------------------------- varints + directories

def test_varint_roundtrip():
    buf = bytearray()
    vals = [0, 1, 127, 128, 300, 2 ** 32, 2 ** 56 + 17]
    for v in vals:
        write_varint(buf, v)
    pos, got = 0, []
    for _ in vals:
        v, pos = read_varint(bytes(buf), pos)
        got.append(v)
    assert got == vals and pos == len(buf)
    with pytest.raises(ValueError, match="truncated"):
        read_varint(bytes(buf[:-1]), pos - 2)
    with pytest.raises(ValueError, match="unsigned"):
        write_varint(buf, -1)


def test_directory_roundtrip_and_elision():
    es = [Entry(5, 0, 100, 1), Entry(6, 100, 50, 3),  # elided offset
          Entry(99, 0, 100, 1),                        # backward (dedup)
          Entry(200, 150, 7, 0)]                       # leaf pointer
    blob = serialize_directory(es)
    assert deserialize_directory(blob) == es
    with pytest.raises(ValueError, match="sorted"):
        serialize_directory([Entry(9, 0, 1, 1), Entry(3, 1, 1, 1)])
    with pytest.raises(ValueError, match="trailing"):
        deserialize_directory(blob + b"\x00")


def test_leaf_split_lookup():
    entries = [Entry((4 ** 8 - 1) // 3 + i, i * 10, 10, 1)
               for i in range(0, 5000, 2)]
    root_gz, leaves, depth = build_directories(entries, leaf_size=300)
    assert depth == 2 and leaves
    root = deserialize_directory(gzip.decompress(root_gz))
    assert all(e.run_length == 0 for e in root)
    assert len(root) == (len(entries) + 299) // 300
    # leaves re-concatenate to the full entry list
    got = []
    for e in root:
        got.extend(deserialize_directory(
            gzip.decompress(leaves[e.offset:e.offset + e.length])))
    assert got == entries


# ------------------------------------------------------- archive build/read

def test_archive_roundtrip_dedup_runs():
    a, b = b"A" * 40, b"B" * 40
    tiles = sorted((zxy_to_tileid(3, x, y), a if (x + y) % 3 else b)
                   for x in range(8) for y in range(8))
    arch = build_pmtiles(tiles, metadata={"k": 1})
    r = PMTilesReader(arch)
    assert r.header["n_addressed"] == 64
    assert r.header["n_contents"] == 2          # content-addressed
    assert r.header["n_entries"] < 64           # runs coalesced
    assert r.header["min_zoom"] == r.header["max_zoom"] == 3
    assert r.header["clustered"] == 1
    assert r.metadata() == {"k": 1}
    got = {(z, x, y): blob for z, x, y, blob in r}
    want = {tileid_to_zxy(t): blob for t, blob in tiles}
    assert got == want
    for (z, x, y), blob in want.items():
        assert r.get_tile(z, x, y) == blob
    assert r.get_tile(4, 0, 0) is None
    assert r.get_tile(2, 1, 1) is None


def test_archive_validation():
    with pytest.raises(ValueError, match="ascending"):
        build_pmtiles([(5, b"x"), (5, b"y")])
    with pytest.raises(ValueError, match="empty"):
        build_pmtiles([])
    with pytest.raises(ValueError, match="magic"):
        parse_header(b"NotTiles" + b"\x00" * 119)
    with pytest.raises(ValueError, match="short"):
        parse_header(b"PM")


def test_header_fields_roundtrip():
    arch = build_pmtiles([(0, b"solo")], bounds=(-10.0, -20.0, 30.5, 40.25),
                         center=(0, 1.5, -2.5))
    h = PMTilesReader(arch).header
    assert (h["min_lon"], h["min_lat"]) == (-10.0, -20.0)
    assert (h["max_lon"], h["max_lat"]) == (30.5, 40.25)
    assert (h["center_zoom"], h["center_lon"], h["center_lat"]) \
        == (0, 1.5, -2.5)


# ------------------------------------------------- spark sink + source

def _small_render(spark):
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render
    images = spark.read.parquet(images_parquet(16, "u8"))
    return render(images, 6, 8, tile_size=64)


def test_materialize_and_distributed_agree(spark, tmp_path):
    from rastertiler_rs_spark.operators.pmtiles_sink import (
        materialize_pmtiles, tiles_from_pmtiles, write_pmtiles_distributed)

    fused = _small_render(spark).persist()
    try:
        p1 = str(tmp_path / "a.pmtiles")
        p2 = str(tmp_path / "b.pmtiles")
        materialize_pmtiles(fused, p1, metadata={"name": "t"})
        stats = write_pmtiles_distributed(fused, p2, n_parts=7)
        r1 = PMTilesReader(open(p1, "rb").read())
        r2 = PMTilesReader(open(p2, "rb").read())
        t1 = {(z, x, y): blob for z, x, y, blob in r1}
        t2 = {(z, x, y): blob for z, x, y, blob in r2}
        assert t1 == t2 and t1
        assert r1.header["n_addressed"] == r2.header["n_addressed"] \
            == stats["n_addressed"] == fused.count()
        assert r1.metadata() == {"name": "t"}
        # distributed source reads back exactly what was written
        back = tiles_from_pmtiles(spark, p2)
        got = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
               for r in back.collect()}
        assert got == t2
        for r in back.collect():
            assert r["tile_row"] == (1 << r["zoom"]) - 1 - r["y"]
        assert not os.path.exists(p2 + ".parts")
    finally:
        fused.unpersist()


def test_distributed_part_temp_is_per_attempt(spark, tmp_path):
    """A part's temp file is unique per task attempt: the temp another
    attempt of partition 0 is still writing is neither truncated nor
    renamed into place."""
    from rastertiler_rs_spark.operators.pmtiles_sink import (
        materialize_pmtiles, write_pmtiles_distributed)

    fused = _small_render(spark).persist()
    try:
        p1 = str(tmp_path / "a.pmtiles")
        p2 = str(tmp_path / "b.pmtiles")
        materialize_pmtiles(fused, p1)
        os.makedirs(p2 + ".parts")
        other = os.path.join(p2 + ".parts", ".part-00000.tmp")
        with open(other, "wb") as f:
            f.write(b"other attempt")
        write_pmtiles_distributed(fused, p2, n_parts=3)
        with open(other, "rb") as f:
            assert f.read() == b"other attempt"
        t1 = dict(((z, x, y), b) for z, x, y, b in
                  PMTilesReader(open(p1, "rb").read()))
        t2 = dict(((z, x, y), b) for z, x, y, b in
                  PMTilesReader(open(p2, "rb").read()))
        assert t1 == t2 and t1
    finally:
        fused.unpersist()


def test_distributed_errors_leave_no_parts(spark, tmp_path):
    """Both refusals (empty input, too many entries) remove the part
    files and their directory: the entry-count one raises after every
    finished part is on disk."""
    from rastertiler_rs_spark.operators.pmtiles_sink import \
        write_pmtiles_distributed

    fused = _small_render(spark)
    for name, df, kw, match in (
            ("empty.pmtiles", fused.limit(0), {}, "empty"),
            ("big.pmtiles", fused, {"max_entries": 1}, "max_entries")):
        p = str(tmp_path / name)
        with pytest.raises(ValueError, match=match):
            write_pmtiles_distributed(df, p, n_parts=3, **kw)
        assert not os.path.exists(p + ".parts")


def test_cli_pmtiles_output(spark, tmp_path):
    """render OUT.pmtiles routes to the distributed archive sink and
    carries the mbtiles-equivalent metadata."""
    import pyarrow.parquet as pq

    from rastertiler_rs_spark.__main__ import main
    from rastertiler_rs_spark.fixtures import generate_images

    src = str(tmp_path / "imgs.parquet")
    pq.write_table(generate_images(16, "u8"), src)
    out = str(tmp_path / "o.pmtiles")
    main(["render", src, out, "--minzoom", "3", "--maxzoom", "6",
          "--tilesize", "64", "--disable-overviews", "--name", "pm"])
    r = PMTilesReader(open(out, "rb").read())
    md = r.metadata()
    assert md["name"] == "pm" and md["format"] == "png"
    # content equality with the in-process render
    got = {(z, x, y): blob for z, x, y, blob in r}
    images = spark.read.parquet(src)
    from rastertiler_rs_spark.operators.render import render
    want = {(row["zoom"], row["x"], row["y"]): bytes(row["png"])
            for row in render(images, 3, 6, tile_size=64).collect()}
    assert got == want
    zooms = sorted({z for z, _, _ in want})
    assert r.header["min_zoom"] == zooms[0]
    assert r.header["max_zoom"] == zooms[-1] == 6


def test_materialize_max_tiles_guard(spark, tmp_path):
    from rastertiler_rs_spark.operators.pmtiles_sink import \
        materialize_pmtiles

    fused = _small_render(spark)
    with pytest.raises(ValueError, match="max_tiles"):
        materialize_pmtiles(fused, str(tmp_path / "x.pmtiles"), max_tiles=3)

"""Distributed COG sink round-trips: the written file's every IFD must
decode back to exactly the tiles that went in (base + overviews),
carry per-level georeferencing, and be readable by the engine's own
header-only probe + ranged-read path."""

import os

import numpy as np
import pytest

from rastertiler_rs_spark.fixtures import images_parquet
from rastertiler_rs_spark.geotiff import geotiff_ifds
from rastertiler_rs_spark.operators.cog_sink import (cog_blocks,
                                                     write_cog_distributed)
from rastertiler_rs_spark.operators.overview import render_pyramid
from rastertiler_rs_spark.png import decode_band
from rastertiler_rs_spark import tilemath as tm


@pytest.fixture(scope="module")
def cog(spark, tmp_path_factory):
    ts = 128
    images = spark.read.parquet(images_parquet(24, "u8"))
    fused = render_pyramid(images, 5, 8, tile_size=ts, dtype_tag="u8",
                           overview_below=8).persist()
    path = str(tmp_path_factory.mktemp("cog") / "out.tif")
    man = write_cog_distributed(fused, path, tile_size=ts)
    tiles = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
             for r in fused.select("zoom", "x", "y", "png").collect()}
    fused.unpersist()
    return path, man, tiles, ts


def test_manifest_and_ifd_chain(cog):
    path, man, tiles, ts = cog
    metas = geotiff_ifds(path)
    assert len(metas) == len(man["levels"]) == 4  # z8 base + z7/6/5
    for lvl, (m, lv) in enumerate(zip(metas, man["levels"])):
        assert (m["width"], m["height"]) == (lv["nx"] * ts, lv["ny"] * ts)
        assert m["tile_width"] == m["tile_length"] == ts
        assert m["compression"] == "deflate" and m["predictor"] == 2
        # per-level georef: resolution doubles, origin fixed
        res = tm.CE / ((1 << man["base_zoom"]) * ts) * (1 << lvl)
        assert m["transform"][0] == pytest.approx(res)
        minx, _, _, maxy = tm.tile_mercator_bounds(
            man["base_zoom"], man["levels"][0]["ox"], man["levels"][0]["oy"])
        assert m["transform"][2] == minx and m["transform"][5] == maxy


def test_blocks_equal_input_tiles(cog):
    """Every written block == the PNG tile that produced it; every
    grid hole == pure nodata (the shared filler block)."""
    path, man, tiles, ts = cog
    metas = geotiff_ifds(path)
    from rastertiler_rs_spark.geotiff import _decode_block

    with open(path, "rb") as fh:
        for lvl, (m, lv) in enumerate(zip(metas, man["levels"])):
            z = lv["zoom"]
            across = -(-m["width"] // ts)
            for i, b in enumerate(m["blocks"]):
                fh.seek(b["off"])
                band = _decode_block(fh.read(b["cnt"]), m["compression"],
                                     m["predictor"], np.uint8, ts, ts,
                                     ts, ts)
                key = (z, lv["ox"] + i % across, lv["oy"] + i // across)
                if key in tiles:
                    want = decode_band(tiles[key], "png;u8")
                    assert np.array_equal(band, want), key
                else:
                    assert (band == 0).all(), key


def test_distributed_readback_stats(spark, cog):
    """cog_blocks (header-only probe + executor ranged reads) emits
    exactly the non-empty tiles' integer stats."""
    path, man, tiles, ts = cog
    got = {(r["lvl"], r["bx"], r["by"]): (r["px_count"], r["val_sum"],
                                          r["pos_sum"])
           for r in cog_blocks(spark, path).collect()}
    pos = np.arange(ts * ts, dtype=np.int64).reshape(ts, ts)
    want = {}
    for (z, x, y), png in tiles.items():
        lvl = man["base_zoom"] - z
        lv = man["levels"][lvl]
        band = decode_band(png, "png;u8").astype(np.int64)
        mask = band != 0
        if not mask.any():
            continue
        want[(lvl, x - lv["ox"], y - lv["oy"])] = (
            int(mask.sum()), int(band[mask].sum()),
            int((band[mask] * pos[mask]).sum()))
    assert got == want


def test_rejects_zoom_gaps(spark):
    from pyspark.sql import functions as F

    images = spark.read.parquet(images_parquet(8, "u8"))
    fused = render_pyramid(images, 5, 8, tile_size=128, dtype_tag="u8",
                           overview_below=8)
    holey = fused.where(F.col("zoom") != 7)
    with pytest.raises(ValueError, match="zoom gaps"):
        write_cog_distributed(holey, "/tmp/never.tif", tile_size=128)


def test_stale_part_file_is_not_read(spark, tmp_path):
    """A part file a killed earlier run left in ``<path>.parts`` is not
    concatenated into the COG: the bytes equal a clean write's."""
    images = spark.read.parquet(images_parquet(8, "u8"))
    fused = render_pyramid(images, 6, 7, tile_size=128, dtype_tag="u8",
                           overview_below=7)
    clean, stale = str(tmp_path / "clean.tif"), str(tmp_path / "stale.tif")
    write_cog_distributed(fused, clean, tile_size=128, n_parts=3)
    os.makedirs(stale + ".parts")
    with open(os.path.join(stale + ".parts", "part-00099.bin"), "wb") as f:
        f.write(b"junk from a killed run")
    write_cog_distributed(fused, stale, tile_size=128, n_parts=3)
    with open(clean, "rb") as a, open(stale, "rb") as b:
        assert a.read() == b.read()

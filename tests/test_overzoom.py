"""Overzoom: nearest upsample of parent tiles must equal the
+0.5-floor kernel rule globally; chained 1-level hops equal the
direct multi-level form; all-nodata children drop."""

import numpy as np
import pytest

from rastertiler_rs_spark.fixtures import (NODATA, canvas_band,
                                           tiled_canvas_parquet)
from rastertiler_rs_spark.operators.overview import decode_canvas
from rastertiler_rs_spark.operators.overzoom import (overzoom_tiles,
                                                     upsample_child)


def test_upsample_child_matches_floor_rule():
    """(d·ts + i) >> k == floor((i_glob + 0.5)·src/dst) − origin for
    the exact-2^k upscale, for every child and pixel."""
    rng = np.random.default_rng(3)
    parent = rng.integers(0, 255, (16, 16)).astype(np.uint8)
    for k in (1, 2):
        n = 1 << k
        for dy in range(n):
            for dx in range(n):
                child = upsample_child(parent, dx, dy, k)
                for i in range(16):
                    for j in range(16):
                        gi = (dy * 16 + i)
                        gj = (dx * 16 + j)
                        r = int(np.floor((gi + 0.5) / n))
                        c = int(np.floor((gj + 0.5) / n))
                        assert child[i, j] == parent[r, c]


def test_overzoom_equals_global_repeat(spark):
    """1-level overzoom of the tiled canvas == np.repeat(canvas, 2)
    restricted to each child tile (global identity, borders
    included)."""
    ts = 64
    band = canvas_band(256, 192, seed=5)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    big = np.repeat(np.repeat(band, 2, axis=0), 2, axis=1)
    got = {(r["tx"], r["ty"]): decode_canvas(bytes(r["png"]), "u8")
           for r in overzoom_tiles(tiles, 1, ts).collect()}
    h2, w2 = big.shape
    for cty in range(h2 // ts):
        for ctx in range(w2 // ts):
            want = big[cty * ts:(cty + 1) * ts, ctx * ts:(ctx + 1) * ts]
            if (want == NODATA).all():
                assert (ctx, cty) not in got
                continue
            np.testing.assert_array_equal(got[(ctx, cty)], want)


def test_overzoom_two_hops_equal_direct(spark):
    """levels=2 direct == two chained 1-level hops, byte-for-byte."""
    ts = 64
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    direct = {(r["tx"], r["ty"]): bytes(r["png"])
              for r in overzoom_tiles(tiles, 2, ts).collect()}
    hop1 = overzoom_tiles(tiles, 1, ts)
    chained = {(r["tx"], r["ty"]): bytes(r["png"])
               for r in overzoom_tiles(hop1, 1, ts).collect()}
    assert direct == chained


def test_overzoom_drops_all_nodata_children(spark, tmp_path):
    """A parent whose quadrant is entirely nodata emits no child for
    that quadrant."""
    import pandas as pd

    from rastertiler_rs_spark.png import encode_grayscale8

    ts = 8
    parent = np.full((ts, ts), NODATA, dtype=np.uint8)
    parent[:ts // 2, :ts // 2] = 7      # only the NW quadrant has data
    pdf = pd.DataFrame({"tx": [0], "ty": [0],
                        "png": [encode_grayscale8(parent, NODATA)]})
    tiles = spark.createDataFrame(pdf)
    kids = {(r["tx"], r["ty"]) for r in
            overzoom_tiles(tiles, 1, ts).collect()}
    assert kids == {(0, 0)}


def test_overzoom_validates(spark):
    ts = 64
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    with pytest.raises(ValueError, match="levels"):
        overzoom_tiles(tiles, 0, ts)
    with pytest.raises(Exception, match="expected"):
        overzoom_tiles(tiles, 1, 128).collect()

"""Scale-path operators: salted two-phase mosaic (skew handling) must be
byte-identical to the single-phase render; overview cascade (O1) must be
near-exact vs direct render (PSNR >= 40 dB, the BASELINE.json gate for
lossy paths — mirrors the reference's overview precision tradeoff,
/root/reference/README.md:62)."""

import math

import numpy as np
import pytest

from rastertiler_rs_spark.fixtures import NODATA, generate_images
from rastertiler_rs_spark.kernel import encode_tile
from rastertiler_rs_spark.operators.overview import (
    cascade_fragments, decode_canvas, render_pyramid)
from rastertiler_rs_spark.operators.render import render
from rastertiler_rs_spark.oracle import overview_oracle
from rastertiler_rs_spark.png import Colormap, decode_rgba


def _spark_images(spark, n, tag="u8"):
    return spark.createDataFrame(generate_images(n, tag).to_pandas())


def _fused_map(df):
    rows = df.collect()
    out = {(r["zoom"], r["x"], r["y"]): bytes(r["png"]) for r in rows}
    assert len(out) == len(rows)
    return out


def _oracle_overviews(base, top_zoom, minzoom, ts, tag, cmap=None):
    """Encoded overview tiles of the fused ``base`` level by the
    level-by-level numpy rule (oracle.overview_oracle)."""
    colormap = Colormap.parse(cmap, NODATA) if cmap else None
    canvases = {(x, y): decode_canvas(png, tag, colormap)
                for (_z, x, y), png in base.items()}
    return {k: encode_tile(c, tag, NODATA, colormap)
            for k, c in overview_oracle(canvases, top_zoom, minzoom, ts).items()}


@pytest.mark.parametrize("tag,minz,maxz,ts,cmap,thresh", [
    ("u8", 0, 7, 64, None, 1),   # every key takes two-phase
    ("u8", 0, 7, 64, None, 3),   # routed: only dense keys take two-phase
    ("u8", 4, 6, 64, "1:#686868,2:#38A800,3:#859B6C,4:#3B7D46,5:#FF00FF", 1),
    ("u32", 5, 7, 64, None, 2),
])
def test_salted_equals_single_phase(spark, tag, minz, maxz, ts, cmap, thresh):
    imgs = _spark_images(spark, 40, tag)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    single = _fused_map(render(imgs, minz, maxz, ts, tag, cmap,
                               salt_threshold=None))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    salted = _fused_map(render(imgs, minz, maxz, ts, tag, cmap,
                               salt_threshold=thresh))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    assert single == salted


def test_decode_canvas_roundtrip_all_encode_classes(spark):
    rng = np.random.RandomState(7)
    # grayscale u8
    a8 = rng.randint(0, 256, (32, 32)).astype(np.uint8)
    assert np.array_equal(decode_canvas(encode_tile(a8, "u8", NODATA), "u8"), a8)
    # paletted u8 via colormap
    cmap = Colormap.parse("1:#686868,2:#38A800,3:#859B6C", NODATA)
    ap = rng.choice([0, 1, 2, 3], (32, 32)).astype(np.uint8)
    assert np.array_equal(
        decode_canvas(encode_tile(ap, "u8", NODATA, cmap), "u8", cmap), ap)
    # u32 adaptive palette (few uniques) and RGB (many uniques)
    low = rng.choice([0, 5, 9, 1000, 70000], (32, 32)).astype(np.uint32)
    assert np.array_equal(decode_canvas(encode_tile(low, "u32", NODATA), "u32"), low)
    hi = rng.randint(0, 1 << 24, (32, 32)).astype(np.uint32)
    assert np.array_equal(decode_canvas(encode_tile(hi, "u32", NODATA), "u32"), hi)


def _psnr(a: np.ndarray, b: np.ndarray, peak: float = 255.0) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return math.inf
    return 10.0 * math.log10(peak * peak / mse)


def _smooth_images(spark, n):
    """Images with low-frequency content: the overview's nearest-of-
    nearest sampling may land <=1 source pixel away from the direct
    render's sample, so on smooth data the value error is tiny while any
    structural bug (wrong quadrant, y-flip, off-by-half placement) still
    destroys PSNR. High-frequency noise (the default fixtures) makes the
    comparison meaningless — the same reason GDAL calls overviews
    'faster, less precise' (/root/reference/README.md:62)."""
    import pandas as pd

    from rastertiler_rs_spark.fixtures import caption_for_index
    from rastertiler_rs_spark.functions.hashing import splitmix64
    from rastertiler_rs_spark.png import encode_grayscale8

    rows = []
    for i in range(n):
        w = h = 256
        r = np.arange(h)[:, None]
        c = np.arange(w)[None, :]
        band = (1 + (r + c + 8 * (i % 7)) * 253 // (h + w - 2)).astype(np.uint8)
        rows.append({
            "image_id": f"img{i:08d}", "bytes": encode_grayscale8(band, NODATA),
            "w": w, "h": h, "fmt": "png;u8",
            "caption": caption_for_index(i),
            "phash": int(splitmix64(np.uint64(i)).astype(np.int64)),
        })
    return spark.createDataFrame(pd.DataFrame(rows))


def test_overview_level_psnr_vs_direct(spark):
    """One cascade step z8→z7 vs the exact z7 render: PSNR >= 40 dB (the
    BASELINE.json lossy-path gate) on smooth-content images."""
    imgs = _smooth_images(spark, 40)
    ts = 64
    direct = _fused_map(render(imgs, 7, 8, ts, "u8"))
    level8 = render(imgs, 8, 8, ts, "u8")
    ov = _fused_map(cascade_fragments(level8, 7, ts, "u8", top_zoom=8))
    d7 = {k: v for k, v in direct.items() if k[0] == 7}

    # tile sets agree except nearest-sampling dropouts at data edges
    common = set(d7) & set(ov)
    assert len(common) >= 0.9 * len(d7)
    psnrs = []
    for k in common:
        pa = decode_rgba(d7[k]).astype(np.float64)
        pb = decode_rgba(ov[k]).astype(np.float64)
        psnrs.append(_psnr(pa, pb))
    assert np.mean(psnrs) >= 40.0, f"mean PSNR {np.mean(psnrs):.1f} < 40 dB"


_CMAP5 = "1:#686868,2:#38A800,3:#859B6C,4:#3B7D46,5:#FF00FF"


@pytest.mark.parametrize("tag,cmap,ts,top_zoom,minzoom", [
    pytest.param("u8", None, 64, 6, 0, id="u8-None"),
    pytest.param("u32", None, 64, 6, 0, id="u32-None"),
    pytest.param("u8", _CMAP5, 64, 6, 0, id=f"u8-{_CMAP5}"),
    # span 6 > log2(16): strides wider than a tile skip whole base tiles
    pytest.param("u8", None, 16, 12, 6, id="u8-None-ts16-span6"),
    # 48 is not a multiple of 2^5: fragments are ragged and offset
    pytest.param("u8", None, 48, 10, 5, id="u8-None-ts48-span5"),
])
def test_fragment_cascade_byte_parity(spark, tag, cmap, ts, top_zoom, minzoom):
    """The one-shot fragment cascade (k-fold decimation == strided
    sampling; one shuffle for all levels) must be byte-identical to the
    level-by-level rule on every encoder class — grayscale, u32
    adaptive palette/RGB, and user-colormap paletted — and for spans
    deeper than log2(tile_size) and tile sizes that 2^span does not
    divide. (The fixture footprints are small: the two deep shapes use
    base zooms where every cascaded zoom holds data.)"""
    imgs = _spark_images(spark, 32, tag)
    base = render(imgs, top_zoom, top_zoom, ts, tag, colormap_str=cmap)
    got = _fused_map(cascade_fragments(base, minzoom, ts, tag, cmap,
                                       top_zoom=top_zoom))
    want = _oracle_overviews(_fused_map(base), top_zoom, minzoom, ts, tag, cmap)
    if ts != 64:  # the deep shapes must put data on every cascaded zoom
        assert {k[0] for k in want} == set(range(minzoom, top_zoom))
    assert set(got) == set(want)
    assert got == want


def test_render_pyramid_clamps_base_to_maxzoom(spark):
    """maxzoom below overview_below (the CLI default shape: --maxzoom 4,
    overview threshold 8) must NOT render or emit zooms past maxzoom:
    the base clamps to maxzoom and everything below cascades — exactly
    the reference's minzoom..maxzoom contract."""
    imgs = _spark_images(spark, 24)
    ts = 64
    pyr = _fused_map(render_pyramid(imgs, 2, 4, ts, "u8", overview_below=6))
    assert sorted({k[0] for k in pyr}) == [2, 3, 4]
    base = render(imgs, 4, 4, ts, "u8")
    want = _fused_map(base)
    want.update(_fused_map(cascade_fragments(base, 2, ts, "u8", top_zoom=4)))
    assert pyr == want


def test_render_pyramid_deep_overviews(spark):
    """A cascade deeper than log2(tile_size) (z8 base down to z0 at
    ts=64): direct zooms byte-match the direct render and every
    overview zoom byte-matches the level-by-level rule."""
    imgs = _spark_images(spark, 16)
    ts = 64
    pyr = _fused_map(render_pyramid(imgs, 0, 8, ts, "u8", overview_below=8))
    want = _fused_map(render(imgs, 8, 8, ts, "u8"))
    want.update(_oracle_overviews(want, 8, 0, ts, "u8"))
    assert min(k[0] for k in pyr) < 8
    assert pyr == want


def test_render_pyramid_cascade_structure(spark):
    """Pyramid with overviews below z6: direct zooms byte-match the
    direct render; cascaded zooms exist for every direct-parent chain."""
    imgs = _spark_images(spark, 32)
    ts = 64
    pyr = _fused_map(render_pyramid(imgs, 2, 7, ts, "u8", overview_below=6))
    direct = _fused_map(render(imgs, 6, 7, ts, "u8"))
    for k, v in direct.items():
        assert pyr[k] == v
    zooms = sorted({k[0] for k in pyr})
    assert zooms == [2, 3, 4, 5, 6, 7]
    # every cascaded tile's parent chain is consistent: each z tile has
    # at least one child at z+1 in the pyramid
    by_zoom = {}
    for z, x, y in pyr:
        by_zoom.setdefault(z, set()).add((x, y))
    for z in [2, 3, 4, 5]:
        for x, y in by_zoom[z]:
            kids = {(2 * x + dx, 2 * y + dy) for dx in (0, 1) for dy in (0, 1)}
            assert kids & by_zoom[z + 1], f"orphan overview tile z{z} {(x, y)}"


def test_sink_pyramid_matches_in_memory(spark, tmp_path):
    """render_pyramid_to_sink (sink-boundary fork: write direct zooms,
    read base partition back, append cascade) must produce exactly the
    in-memory render_pyramid's tiles — same (zoom,x,tile_row) set, same
    bytes — and its cascade scan must be partition-pruned to the base
    zoom directory."""
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import (
        render_pyramid, render_pyramid_to_sink)

    images = spark.read.parquet(images_parquet(48, "u8"))
    want = {(r["zoom"], r["x"], r["tile_row"]): (r["tile_hash"], bytes(r["png"]))
            for r in render_pyramid(images, 2, 8, tile_size=64,
                                    overview_below=7,
                                    dtype_tag="u8").collect()}
    got_df = render_pyramid_to_sink(images, str(tmp_path / "sink"), 2, 8,
                                    tile_size=64, dtype_tag="u8",
                                    overview_below=7)
    got = {(r["zoom"], r["x"], r["tile_row"]): (r["tile_hash"], bytes(r["png"]))
           for r in got_df.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], f"sink pyramid differs at {k}"

    # the base read-back is partition-pruned, not a full-table scan
    base_scan = (spark.read.parquet(str(tmp_path / "sink" / "tiles"))
                 .filter(F.col("zoom") == 7))
    plan = base_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(zoom" in plan or "zoom#" in plan
    assert base_scan.count() > 0


@pytest.mark.parametrize("call", [
    "pyramid_cell_base", "pyramid_blocks_base", "warp_pyramid",
    "pyramid_to_sink", "cascade_fragments"])
def test_pyramid_calls_cache_nothing(spark, tmp_path, call):
    """Every pyramid entry runs in one pass: after its result is
    collected, the session holds no more persisted RDDs than before
    (no fork cache for the caller to release)."""
    from rastertiler_rs_spark.fixtures import images_geo_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid_to_sink
    from rastertiler_rs_spark.operators.warp import render_warp_pyramid

    imgs = _spark_images(spark, 24)
    ts = 64
    calls = {
        # base z8 = partition zoom: the cell stage emits the fragments
        "pyramid_cell_base": lambda: render_pyramid(
            imgs, 0, 8, ts, "u8", overview_below=8),
        # base z6 < partition zoom 8: the blocks mosaic emits them
        "pyramid_blocks_base": lambda: render_pyramid(
            imgs, 2, 8, ts, "u8", overview_below=6),
        "warp_pyramid": lambda: render_warp_pyramid(
            spark.read.parquet(images_geo_parquet(12)), 2, 7, 128, "u8",
            overview_below=6),
        "pyramid_to_sink": lambda: render_pyramid_to_sink(
            imgs, str(tmp_path / "sink"), 2, 8, ts, "u8", overview_below=7),
        "cascade_fragments": lambda: cascade_fragments(
            render(imgs, 6, 6, ts, "u8"), 0, ts, "u8", top_zoom=6),
    }
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rows = calls[call]().collect()
    assert rows
    assert jsc.getPersistentRDDs().size() == before


def test_salted_pyramid_entry_equals_unsalted(spark):
    """The pyramid's private entry with every blocks-path key salted:
    the fragments then leave stage C (the argmax merge) instead of
    stage B, and the pyramid is byte-identical to the unsalted one."""
    from rastertiler_rs_spark.operators.overview import _pyramid
    from rastertiler_rs_spark.operators.render import _render_tiles

    imgs = _spark_images(spark, 40)

    def pyramid(thresh):
        return _fused_map(_pyramid(
            lambda zlo, emit: _render_tiles(imgs, zlo, 8, 64, "u8", None,
                                            salt_threshold=thresh, emit=emit),
            2, 8, 6, 64, "u8", None))

    salted = pyramid(1)
    assert sorted({k[0] for k in salted}) == [2, 3, 4, 5, 6, 7, 8]
    assert salted == pyramid(None)

"""Halo-exchange stencil: per-tile results must equal the global
(unpartitioned) gradient restricted to each tile — borders included."""

import numpy as np
import pytest

from rastertiler_rs_spark.fixtures import (NODATA, canvas_band,
                                           tiled_canvas_parquet)
from rastertiler_rs_spark.operators.halo import tile_halo_gradient


def _global_expect(band, ts):
    band = band.astype(np.int64)
    c = band[1:-1, 1:-1]
    gx = band[1:-1, 2:] - band[1:-1, :-2]
    gy = band[2:, 1:-1] - band[:-2, 1:-1]
    valid = ((c != NODATA) & (band[1:-1, 2:] != NODATA)
             & (band[1:-1, :-2] != NODATA) & (band[2:, 1:-1] != NODATA)
             & (band[:-2, 1:-1] != NODATA))
    g2 = gx * gx + gy * gy
    want = {}
    h, w = band.shape
    for r in range(1, h - 1):
        for cc in range(1, w - 1):
            if not valid[r - 1, cc - 1]:
                continue
            key = (cc // ts, r // ts)
            n, s, m = want.get(key, (0, 0, 0))
            v = int(g2[r - 1, cc - 1])
            want[key] = (n + 1, s + v, max(m, v))
    return want


def test_halo_gradient_equals_global(spark):
    ts = 64
    path = tiled_canvas_parquet(256, 192, ts, seed=5)
    tiles = spark.read.parquet(path)
    got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
           for r in tile_halo_gradient(tiles, ts).collect()}
    want = _global_expect(canvas_band(256, 192, seed=5), ts)
    assert got == want
    # border pixels genuinely contribute: without halos, each interior
    # tile would lose its edge rows/cols — check a border pixel count
    assert any(n == ts * ts for (n, _, _) in got.values()) or len(got) > 1


@pytest.mark.parametrize("op", ["gradient", "sobel", "shade_tiles",
                                "shaded_relief", "isoline_segments",
                                "pixel_successors"])
def test_halo_rejects_bad_tile_size(spark, op):
    """Every operator on the shared halo transport refuses a tile that
    decodes to a shape other than tile_size."""
    from rastertiler_rs_spark.operators import halo
    from rastertiler_rs_spark.operators.isolines import isoline_segments
    from rastertiler_rs_spark.operators.watershed import pixel_successors

    fns = {"gradient": tile_halo_gradient,
           "sobel": halo.tile_halo_sobel,
           "shade_tiles": halo.tile_halo_shade_tiles,
           "shaded_relief": halo.tile_halo_shaded_relief,
           "isoline_segments": lambda t, ts: isoline_segments(t, ts, 128),
           "pixel_successors": pixel_successors}
    path = tiled_canvas_parquet(256, 192, 64, seed=5)
    tiles = spark.read.parquet(path)
    with pytest.raises(Exception, match="expected"):
        fns[op](tiles, 128).collect()


def _global_sobel_expect(band, ts):
    band = band.astype(np.int64)
    h, w = band.shape
    c = band[1:-1, 1:-1]
    n_, s_ = band[:-2, 1:-1], band[2:, 1:-1]
    w_, e_ = band[1:-1, :-2], band[1:-1, 2:]
    nw, ne = band[:-2, :-2], band[:-2, 2:]
    sw, se = band[2:, :-2], band[2:, 2:]
    gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    valid = c != NODATA
    for nb in (n_, s_, w_, e_, nw, ne, sw, se):
        valid = valid & (nb != NODATA)
    g2 = gx * gx + gy * gy
    want = {}
    for r in range(1, h - 1):
        for cc in range(1, w - 1):
            if not valid[r - 1, cc - 1]:
                continue
            key = (cc // ts, r // ts)
            n, s, m = want.get(key, (0, 0, 0))
            v = int(g2[r - 1, cc - 1])
            want[key] = (n + 1, s + v, max(m, v))
    return want


def test_halo_sobel_equals_global(spark):
    """8-neighbor Sobel over tiles == global Sobel restricted per tile
    — the corner halos must land in the right pad slots or exactly the
    tile-corner pixels' sums flip."""
    from rastertiler_rs_spark.operators.halo import tile_halo_sobel

    ts = 64
    path = tiled_canvas_parquet(256, 192, ts, seed=5)
    tiles = spark.read.parquet(path)
    got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
           for r in tile_halo_sobel(tiles, ts).collect()}
    want = _global_sobel_expect(canvas_band(256, 192, seed=5), ts)
    assert got == want


def test_halo_sobel_corner_pixels_need_corner_halos(spark):
    """Sanity that the test is sharp: a 4-neighbor exchange CANNOT
    reproduce the global Sobel — recompute 'want' with the diagonal
    neighbors nodata-masked at tile corners and check it differs, i.e.
    the fixture genuinely exercises the corner-halo path."""
    ts = 64
    band = canvas_band(256, 192, seed=5)
    want = _global_sobel_expect(band, ts)
    # simulate missing corner halos: per tile, the padded canvas would
    # have nodata at the 4 diagonal pad corners — the (0,0)-corner
    # pixel of tile (1,1) then sees a nodata NW neighbor and drops out
    # of the valid mask, changing that tile's n_valid
    interior = {k: v for k, v in want.items() if k[0] > 0 and k[1] > 0}
    assert interior, "fixture must have interior tiles"
    # with halos, some hole-free interior tile counts ALL its pixels —
    # impossible without the diagonal pads (its corner pixels would
    # lose their NW/NE/SW/SE neighbors)
    assert any(n == ts * ts for n, _, _ in interior.values())


def test_aspect_octant_vs_atan2():
    """The integer sector ladder == floor(atan2°/45) for random integer
    gradients away from sector boundaries, and matches the hand-derived
    sector ON each boundary ray (half-open [k·45°, (k+1)·45°))."""
    import math

    from rastertiler_rs_spark.operators.halo import aspect_octant

    rng = np.random.default_rng(7)
    gx = rng.integers(-2000, 2001, size=4000)
    gy = rng.integers(-2000, 2001, size=4000)
    got = aspect_octant(gx, gy)
    for x, y, o in zip(gx, gy, got):
        if x == 0 and y == 0:
            assert o == -1
            continue
        deg = math.degrees(math.atan2(y, x)) % 360.0
        if min(deg % 45.0, 45.0 - deg % 45.0) < 1e-9:
            continue  # boundary rays pinned below
        assert o == int(deg // 45.0), (x, y, deg, o)
    # boundary rays: angle k·45° belongs to sector k (half-open)
    rays = [(5, 0, 0), (5, 5, 1), (0, 5, 2), (-5, 5, 3),
            (-5, 0, 4), (-5, -5, 5), (0, -5, 6), (5, -5, 7)]
    bx = np.array([r[0] for r in rays])
    by = np.array([r[1] for r in rays])
    assert list(aspect_octant(bx, by)) == [r[2] for r in rays]


def test_halo_terrain_equals_global(spark):
    """Terrain octant histogram over tiles == the global Horn gradient
    classified per pixel and histogrammed per tile (packed 4×16-bit)."""
    from rastertiler_rs_spark.operators.halo import (aspect_octant,
                                                     tile_halo_terrain)

    ts = 64
    band = canvas_band(256, 192, seed=5).astype(np.int64)
    h, w = band.shape
    c = band[1:-1, 1:-1]
    n_, s_ = band[:-2, 1:-1], band[2:, 1:-1]
    w_, e_ = band[1:-1, :-2], band[1:-1, 2:]
    nw, ne = band[:-2, :-2], band[:-2, 2:]
    sw, se = band[2:, :-2], band[2:, 2:]
    gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    valid = c != NODATA
    for nb in (n_, s_, w_, e_, nw, ne, sw, se):
        valid = valid & (nb != NODATA)
    oct_ = aspect_octant(gx, gy)
    want = {}
    for r in range(1, h - 1):
        for cc in range(1, w - 1):
            if not valid[r - 1, cc - 1]:
                continue
            key = (cc // ts, r // ts)
            nv, counts = want.get(key, (0, [0] * 8))
            o = int(oct_[r - 1, cc - 1])
            if o >= 0:
                counts = list(counts)
                counts[o] += 1
            want[key] = (nv + 1, counts)
    expect = {k: (nv,
                  sum(counts[i] << (16 * i) for i in range(4)),
                  sum(counts[i + 4] << (16 * i) for i in range(4)))
              for k, (nv, counts) in want.items()}
    path = tiled_canvas_parquet(256, 192, ts, seed=5)
    tiles = spark.read.parquet(path)
    got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
           for r in tile_halo_terrain(tiles, ts).collect()}
    assert got == expect


def test_halo_morph_and_median_equal_global(spark):
    """3×3 rank filters over tiles == the global-canvas filters
    restricted per tile (dilate−erode gradient; 5th-of-9 median)."""
    from rastertiler_rs_spark.operators.halo import (tile_halo_median,
                                                     tile_halo_morph)

    ts = 64
    band = canvas_band(256, 192, seed=5).astype(np.int64)
    h, w = band.shape
    views = [band[r:r + h - 2, c:c + w - 2]
             for r in range(3) for c in range(3)]
    valid = views[4] != NODATA
    for v in views:
        valid = valid & (v != NODATA)
    stack = np.stack(views)
    cases = {
        "morph": stack.max(axis=0) - stack.min(axis=0),
        "median": np.sort(stack, axis=0)[4],
    }
    path = tiled_canvas_parquet(256, 192, ts, seed=5)
    tiles = spark.read.parquet(path)
    ops = {"morph": tile_halo_morph, "median": tile_halo_median}
    for name, vals in cases.items():
        want = {}
        for r in range(1, h - 1):
            for cc in range(1, w - 1):
                if not valid[r - 1, cc - 1]:
                    continue
                key = (cc // ts, r // ts)
                n, s, m = want.get(key, (0, 0, 0))
                x = int(vals[r - 1, cc - 1])
                want[key] = (n + 1, s + x, max(m, x))
        got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
               for r in ops[name](tiles, ts).collect()}
        assert got == want, name


def _horn_gradients(band):
    band = band.astype(np.int64)
    c = band[1:-1, 1:-1]
    n_, s_ = band[:-2, 1:-1], band[2:, 1:-1]
    w_, e_ = band[1:-1, :-2], band[1:-1, 2:]
    nw, ne = band[:-2, :-2], band[:-2, 2:]
    sw, se = band[2:, :-2], band[2:, 2:]
    gx = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    gy = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    valid = c != NODATA
    for nb in (n_, s_, w_, e_, nw, ne, sw, se):
        valid = valid & (nb != NODATA)
    return gx, gy, valid


def test_shade_u8_matches_slope_aspect_composition():
    """shade_u8's folded-constant form equals the textbook
    sin(alt)·cos(slope) + cos(alt)·sin(slope)·cos(az_sun − aspect)
    composition (within fp tolerance) on a grid of gradients, and the
    flat cell yields exactly round(1 + 254·sin(alt))."""
    import math

    from rastertiler_rs_spark.operators.halo import (hillshade_constants,
                                                     shade_u8)

    az, alt, z, cs = 315.0, 45.0, 1.0, 1.0
    consts = hillshade_constants(az, alt, z, cs)
    g = np.arange(-40, 41, 7, dtype=np.int64)
    gx, gy = np.meshgrid(g, g)
    gx, gy = gx.ravel(), gy.ravel()
    got = shade_u8(gx, gy, consts)
    a = z / (8.0 * cs)
    for i in range(gx.size):
        p, q = a * gx[i], -a * gy[i]          # east, north slopes
        slope = math.atan(math.hypot(p, q))
        cang = (math.sin(math.radians(alt)) * math.cos(slope))
        if p or q:
            aspect = math.atan2(-p, -q)       # downslope dir from north
            cang += (math.cos(math.radians(alt)) * math.sin(slope)
                     * math.cos(math.radians(az) - aspect))
        want = 1 if cang <= 0 else int(math.floor(1.0 + 254.0 * cang + 0.5))
        assert abs(int(got[i]) - want) <= 1, (gx[i], gy[i], got[i], want)
    flat = shade_u8(np.zeros(1, np.int64), np.zeros(1, np.int64), consts)
    assert int(flat[0]) == int(
        math.floor(1.0 + 254.0 * math.sin(math.radians(alt)) + 0.5))


def test_halo_hillshade_and_slope_equal_global(spark):
    """Distributed hillshade/slope == the unpartitioned-canvas stencil
    restricted per tile (borders on the hook), with the exact packed
    stats."""
    from rastertiler_rs_spark.operators.halo import (hillshade_constants,
                                                     shade_u8,
                                                     slope_permille,
                                                     tile_halo_hillshade,
                                                     tile_halo_slope)

    ts = 64
    band = canvas_band(256, 192, seed=5)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    gx, gy, valid = _horn_gradients(band)
    consts = hillshade_constants()
    sh = shade_u8(gx[valid], gy[valid], consts)
    sp = slope_permille(gx[valid], gy[valid], 100.0 / 8.0)
    rr, cc = np.nonzero(valid)
    keys = ((cc + 1) // ts) * 10000 + ((rr + 1) // ts)
    want_sh, want_sp = {}, {}
    for k in np.unique(keys):
        m = keys == k
        tx, ty = int(k) // 10000, int(k) % 10000
        want_sh[(tx, ty)] = (int(m.sum()), int(sh[m].sum()),
                             int(sh[m].max()) * 256 + int(sh[m].min()))
        want_sp[(tx, ty)] = (int(m.sum()), int(sp[m].sum()),
                             int(sp[m].max()))
    got_sh = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
              for r in tile_halo_hillshade(tiles, ts).collect()}
    got_sp = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
              for r in tile_halo_slope(tiles, ts).collect()}
    assert got_sh == want_sh
    assert got_sp == want_sp


def test_halo_shade_tiles_equal_global(spark):
    """PNG-emitting hillshade: decoded tiles == shade_u8 over the
    unpartitioned canvas (invalid-neighborhood pixels nodata), and
    tile_stats of the emitted rasters reproduces the stats leg's
    n_valid/Σshade."""
    from rastertiler_rs_spark.operators.algebra import tile_stats
    from rastertiler_rs_spark.operators.halo import (hillshade_constants,
                                                     shade_u8,
                                                     tile_halo_hillshade,
                                                     tile_halo_shade_tiles)
    from rastertiler_rs_spark.operators.overview import decode_canvas

    ts = 64
    band = canvas_band(256, 192, seed=5)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    gx, gy, valid = _horn_gradients(band)
    want = np.full(band.shape, NODATA, dtype=np.int64)
    inner = np.full(valid.shape, NODATA, dtype=np.int64)
    inner[valid] = shade_u8(gx[valid], gy[valid], hillshade_constants())
    want[1:-1, 1:-1] = inner
    got = {(r["tx"], r["ty"]): decode_canvas(bytes(r["png"]), "u8")
           for r in tile_halo_shade_tiles(tiles, ts).collect()}
    h, w = band.shape
    for ty in range(h // ts):
        for tx in range(w // ts):
            sub = want[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            if (sub == NODATA).all():
                assert (tx, ty) not in got
                continue
            np.testing.assert_array_equal(got[(tx, ty)], sub)
    st = {(r["tx"], r["ty"]): (r["n_valid"], r["vsum"])
          for r in tile_stats(tile_halo_shade_tiles(tiles, ts)).collect()}
    leg = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"])
           for r in tile_halo_hillshade(tiles, ts).collect()}
    assert st == leg


def test_halo_tri_tpi_equal_global(spark):
    """TRI/TPI == the unpartitioned 3×3 loop restricted per tile
    (exact integers, TPI signed)."""
    from rastertiler_rs_spark.operators.halo import (tile_halo_tpi,
                                                     tile_halo_tri)

    ts = 64
    band = canvas_band(256, 192, seed=5).astype(np.int64)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    h, w = band.shape
    want_tri, want_tpi = {}, {}
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            win = band[r - 1:r + 2, c - 1:c + 2]
            if (win == NODATA).any():
                continue
            cen = int(band[r, c])
            tri = int(np.abs(win - cen).sum())
            tpi = 9 * cen - int(win.sum())      # == 8c − Σneighbors
            key = (c // ts, r // ts)
            n, s, m = want_tri.get(key, (0, 0, 0))
            want_tri[key] = (n + 1, s + tri, max(m, tri))
            n, s, m = want_tpi.get(key, (0, 0, -(1 << 62)))
            want_tpi[key] = (n + 1, s + tpi, max(m, tpi))
    got_tri = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
               for r in tile_halo_tri(tiles, ts).collect()}
    got_tpi = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
               for r in tile_halo_tpi(tiles, ts).collect()}
    assert got_tri == want_tri
    assert got_tpi == want_tpi


def test_halo_focal_mean_equals_global(spark):
    """3×3 focal mean == the unpartitioned round-half-up window
    average restricted per tile."""
    from rastertiler_rs_spark.operators.halo import tile_halo_mean

    ts = 64
    band = canvas_band(256, 192, seed=5).astype(np.int64)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    h, w = band.shape
    want = {}
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            win = band[r - 1:r + 2, c - 1:c + 2]
            if (win == NODATA).any():
                continue
            m = (int(win.sum()) + 4) // 9
            key = (c // ts, r // ts)
            n, s, mx = want.get(key, (0, 0, 0))
            want[key] = (n + 1, s + m, max(mx, m))
    got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
           for r in tile_halo_mean(tiles, ts).collect()}
    assert got == want


def test_d8_direction_bruteforce():
    """d8_direction vs a float math.sqrt slope argmax on random
    windows — they agree everywhere the float comparison is not an
    exact tie (integer drops make cross-ortho/diag float ties
    impossible except both-zero; equal-distance ties break by
    priority order on both sides)."""
    import math

    from rastertiler_rs_spark.operators.halo import (_D8_OFFSETS,
                                                     d8_direction)

    rng = np.random.default_rng(17)
    drops = [rng.integers(-20, 21, 400).astype(np.int64)
             for _ in range(8)]
    got = d8_direction(drops)
    for p in range(400):
        best, best_s = -1, 0.0
        for i, (_, _, d2) in enumerate(_D8_OFFSETS):
            d = int(drops[i][p])
            if d <= 0:
                continue
            sl = d / math.sqrt(d2)
            if sl > best_s + 1e-12:
                best, best_s = i, sl
        assert got[p] == best, (p, [int(d[p]) for d in drops], got[p], best)


def test_halo_flowdir_equals_global(spark):
    """Distributed D8 histogram == the unpartitioned loop restricted
    per tile."""
    from rastertiler_rs_spark.operators.halo import (_D8_OFFSETS,
                                                     d8_direction,
                                                     tile_halo_flowdir)

    ts = 64
    band = canvas_band(256, 192, seed=5).astype(np.int64)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    h, w = band.shape
    c = band[1:-1, 1:-1]
    views = {(-1, -1): band[:-2, :-2], (-1, 0): band[:-2, 1:-1],
             (-1, 1): band[:-2, 2:], (0, -1): band[1:-1, :-2],
             (0, 1): band[1:-1, 2:], (1, -1): band[2:, :-2],
             (1, 0): band[2:, 1:-1], (1, 1): band[2:, 2:]}
    valid = c != NODATA
    for v in views.values():
        valid &= v != NODATA
    drops = [c - views[(dr, dc)] for dr, dc, _ in _D8_OFFSETS]
    dirs = d8_direction([d[valid] for d in drops])
    rr, cc = np.nonzero(valid)
    want = {}
    for k in range(dirs.size):
        key = ((cc[k] + 1) // ts, (rr[k] + 1) // ts)
        n, counts = want.get(key, (0, [0] * 8))
        if dirs[k] >= 0:
            counts[dirs[k]] += 1
        want[key] = (n + 1, counts)
    wantp = {k: (n, sum(cnt[i] << (16 * i) for i in range(4)),
                 sum(cnt[i + 4] << (16 * i) for i in range(4)))
             for k, (n, cnt) in want.items()}
    got = {(r["tx"], r["ty"]): (r["n_valid"], r["sum_g2"], r["max_g2"])
           for r in tile_halo_flowdir(tiles, ts).collect()}
    assert got == wantp


def test_shaded_relief_equals_global(spark):
    """Fused shaded relief == ramp(canvas) x shade (flat where the
    9-window is incomplete), ceiling blend; valid pixels never hit
    the nodata black."""
    import math

    from rastertiler_rs_spark.operators.algebra import relief_rgb
    from rastertiler_rs_spark.operators.halo import (
        hillshade_constants, shade_u8, tile_halo_shaded_relief)
    from rastertiler_rs_spark.png import decode_png

    ts = 64
    band = canvas_band(256, 192, seed=5)
    tiles = spark.read.parquet(tiled_canvas_parquet(256, 192, ts, seed=5))
    gx, gy, full = _horn_gradients(band)
    flat = int(math.floor(1.0 + 254.0 * math.sin(math.radians(45.0))
                          + 0.5))
    shade = np.full(band.shape, np.int64(flat))
    inner = np.full(full.shape, np.int64(flat))
    inner[full] = shade_u8(gx[full], gy[full], hillshade_constants())
    shade[1:-1, 1:-1] = inner
    rgb = relief_rgb(band).astype(np.int64)
    want = (rgb * shade[:, :, None] + 254) // 255
    want[band == NODATA] = 0
    got = {(r["tx"], r["ty"]): decode_png(bytes(r["png"]))["pixels"]
           for r in tile_halo_shaded_relief(tiles, ts).collect()}
    h, w = band.shape
    for ty in range(h // ts):
        for tx in range(w // ts):
            sub = want[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            np.testing.assert_array_equal(got[(tx, ty)], sub,
                                          err_msg=str((tx, ty)))
            vm = band[ty * ts:(ty + 1) * ts,
                      tx * ts:(tx + 1) * ts] != NODATA
            assert (sub[vm].sum(axis=-1) > 0).all()

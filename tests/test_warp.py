"""Reprojection warp (operators/warp.py): brute-force kernel parity,
the cross-engine floor-margin guard, drop rules, and end-to-end Spark
mosaic parity vs a driver-side numpy twin."""

import math

import numpy as np
import pytest

from rastertiler_rs_spark import tilemath as tm
from rastertiler_rs_spark.fixtures import (NODATA, _H_CYCLE, _W_CYCLE,
                                           geo_footprint_from_index,
                                           images_geo_parquet, pixel_band)
from rastertiler_rs_spark.operators.warp import render_warp, warp_tile

N, ZMIN, ZMAX, TS = 24, 4, 6, 128


def _geo_fp(i):
    minlon, minlat, maxlon, maxlat = geo_footprint_from_index(
        np.array([i], dtype=np.uint64))
    return float(minlon[0]), float(minlat[0]), float(maxlon[0]), float(maxlat[0])


def _proj_bounds(fp):
    xs, ys = tm.geo_to_mercator(np.array([fp[0], fp[2]]),
                                np.array([fp[1], fp[3]]))
    return float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])


def _scalar_warp(band, fp, zoom, tx, ty, ts, nodata):
    """Per-pixel scalar twin of warp_tile (math module, no numpy
    vectorization)."""
    minlon, minlat, maxlon, maxlat = fp
    src_h, src_w = band.shape
    xres = (maxlon - minlon) / src_w
    yres = (maxlat - minlat) / src_h
    ts_m = tm.CE / float(1 << zoom)
    res_t = ts_m / float(ts)
    t_xmin = float(tx) * ts_m - tm.CE / 2.0
    t_ymax = tm.CE / 2.0 - float(ty) * ts_m
    canvas = np.full((ts, ts), nodata, dtype=band.dtype)
    any_data = False
    for r in range(ts):
        my = t_ymax - (r + 0.5) * res_t
        lat = (2.0 * math.atan(math.exp(my / tm.RE))
               - math.pi * 0.5) * (180.0 / math.pi)
        rj = math.floor((maxlat - lat) / yres)
        if not (0 <= rj < src_h):
            continue
        for c in range(ts):
            mx = t_xmin + (c + 0.5) * res_t
            lon = mx / (tm.ORIGIN / 180.0)
            ci = math.floor((lon - minlon) / xres)
            if not (0 <= ci < src_w):
                continue
            canvas[r, c] = band[rj, ci]
            any_data = True
    if not any_data or (canvas == nodata).all():
        return None
    return canvas


def _cover(fp, zoom):
    minx, miny, maxx, maxy = _proj_bounds(fp)
    r = tm.tile_range(zoom, minx, miny, maxx, maxy)
    return list(tm.tile_range_iter(zoom, *r))


def test_warp_tile_bruteforce():
    checked = 0
    for i in (0, 3, 7, 10):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        band = pixel_band(i, w, h, "u8")
        fp = _geo_fp(i)
        for zoom in (ZMIN, ZMAX):
            for _, tx, ty in _cover(fp, zoom):
                got = warp_tile(band, *fp, zoom, tx, ty, TS, NODATA)
                want = _scalar_warp(band, fp, zoom, tx, ty, TS, NODATA)
                if want is None:
                    assert got is None
                else:
                    assert got is not None
                    np.testing.assert_array_equal(got, want)
                    checked += 1
    assert checked >= 8


def test_floor_margins():
    """The cross-engine guard: every floor() argument the warp oracle
    recomputes (tile-cover quotients and per-pixel source-index
    quotients) stays ≥1e-5 away from an integer over the ENTIRE gate
    fixture, so a last-ulp exp/atan/log/tan divergence between numpy
    and DuckDB can never flip a floor."""
    idx = np.arange(N, dtype=np.uint64)
    minlon, minlat, maxlon, maxlat = geo_footprint_from_index(idx)
    worst = 1.0
    for i in range(N):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        fp = (minlon[i], minlat[i], maxlon[i], maxlat[i])
        minx, miny, maxx, maxy = _proj_bounds(fp)
        xres = (maxlon[i] - minlon[i]) / w
        yres = (maxlat[i] - minlat[i]) / h
        for zoom in range(ZMIN, ZMAX + 1):
            n = float(1 << zoom)
            for q in ((minx + tm.ORIGIN) / tm.CE * n,
                      (1.0 - ((maxy + tm.ORIGIN) / tm.CE)) * n,
                      (((maxx + tm.ORIGIN) / tm.CE) - 1e-11) * n,
                      (1.0 - (((miny + tm.ORIGIN) / tm.CE) + 1e-11)) * n):
                worst = min(worst, abs(q - round(q)))
            for _, tx, ty in _cover(fp, zoom):
                ts_m = tm.CE / float(1 << zoom)
                res_t = ts_m / float(TS)
                t_xmin = float(tx) * ts_m - tm.CE / 2.0
                t_ymax = tm.CE / 2.0 - float(ty) * ts_m
                centers = np.arange(TS, dtype=np.float64) + 0.5
                lon, lat = tm.mercator_to_geo(t_xmin + centers * res_t,
                                              t_ymax - centers * res_t)
                for q in ((lon - minlon[i]) / xres,
                          (maxlat[i] - lat) / yres):
                    worst = min(worst, float(np.abs(q - np.round(q)).min()))
    assert worst > 1e-5, worst


def test_warp_drop_rules():
    band = pixel_band(3, 64, 64, "u8")
    fp = _geo_fp(3)
    # a tile far outside the footprint (z4 tile 0 spans lon
    # [-180, -157.5); fixture centers stay within ±150 and spans ≤11°,
    # so nothing can map) -> None
    assert warp_tile(band, *fp, 4, 0, 0, TS, NODATA) is None
    # an all-nodata band over a covered tile -> None
    nd_band = np.zeros_like(band)
    _, tx, ty = _cover(fp, ZMIN)[0]
    assert warp_tile(nd_band, *fp, ZMIN, tx, ty, TS, NODATA) is None


def test_geotiff_geo_roundtrip(tmp_path):
    """EPSG:4326 GeoTIFF write→probe: geographic GeoKeys (GTModelType=2,
    GeographicTypeGeoKey 2048) survive the IFD round trip."""
    from rastertiler_rs_spark.fixtures import geotiff_geo_params
    from rastertiler_rs_spark.geotiff import geotiff_ifd, write_geotiff

    w, h, transform, rps = geotiff_geo_params()
    band = pixel_band(0, 64, 48, "u8")
    path = str(tmp_path / "geo.tif")
    write_geotiff(path, band, transform, NODATA, epsg=4326,
                  rows_per_strip=16)
    meta = geotiff_ifd(path)
    assert meta["epsg"] == 4326
    assert meta["transform"] == transform


def test_geotiff_geo_ingest_footprints(spark):
    """Geographic ingest emits DEGREE footprints (minlon..maxlat) that
    equal the shared block_footprint rule over the degree affine."""
    from rastertiler_rs_spark.fixtures import (geotiff_geo_fixture,
                                               geotiff_geo_params)
    from rastertiler_rs_spark.operators.geotiff_source import (
        block_footprint, images_from_geotiff)

    w, h, transform, rps = geotiff_geo_params()
    df = images_from_geotiff(spark, geotiff_geo_fixture())
    assert {"minlon", "minlat", "maxlon", "maxlat"} <= set(df.columns)
    rows = {r["image_id"]: r for r in df.collect()}
    assert len(rows) == h // rps
    for row0 in range(0, h, rps):
        nrows = min(rps, h - row0)
        want = block_footprint(transform, row0, nrows, 0, w)
        got = rows[[k for k in rows if f"r{row0:07d}" in k][0]]
        assert (got["minlon"], got["minlat"],
                got["maxlon"], got["maxlat"]) == want


def test_warp_tif_floor_margins():
    """Same cross-engine floor-margin guard for the EPSG:4326 GeoTIFF
    fixture's strip blocks (z4-z6)."""
    from rastertiler_rs_spark.fixtures import geotiff_geo_params
    from rastertiler_rs_spark.operators.geotiff_source import \
        block_footprint

    w, h, transform, rps = geotiff_geo_params()
    worst = 1.0
    for row0 in range(0, h, rps):
        nrows = min(rps, h - row0)
        fp = block_footprint(transform, row0, nrows, 0, w)
        minx, miny, maxx, maxy = _proj_bounds(fp)
        xres = (fp[2] - fp[0]) / w
        yres = (fp[3] - fp[1]) / nrows
        for zoom in range(ZMIN, ZMAX + 1):
            n = float(1 << zoom)
            for q in ((minx + tm.ORIGIN) / tm.CE * n,
                      (1.0 - ((maxy + tm.ORIGIN) / tm.CE)) * n,
                      (((maxx + tm.ORIGIN) / tm.CE) - 1e-11) * n,
                      (1.0 - (((miny + tm.ORIGIN) / tm.CE) + 1e-11)) * n):
                worst = min(worst, abs(q - round(q)))
            for _, tx, ty in _cover(fp, zoom):
                ts_m = tm.CE / float(1 << zoom)
                res_t = ts_m / float(TS)
                t_xmin = float(tx) * ts_m - tm.CE / 2.0
                t_ymax = tm.CE / 2.0 - float(ty) * ts_m
                centers = np.arange(TS, dtype=np.float64) + 0.5
                lon, lat = tm.mercator_to_geo(t_xmin + centers * res_t,
                                              t_ymax - centers * res_t)
                for q in ((lon - fp[0]) / xres, (fp[3] - lat) / yres):
                    worst = min(worst, float(np.abs(q - np.round(q)).min()))
    assert worst > 1e-5, worst


def test_render_warp_pyramid_cascade_identity(spark):
    """render_warp_pyramid: cascaded zooms equal the 2×2 nearest
    decimation of the direct base — overview pixel (r, c) of parent
    (x, y) == the 2·ts super-canvas of its four children at stride 2
    offset 1 (the engine's decimation-composition identity)."""
    from rastertiler_rs_spark.operators.overview import decode_canvas
    from rastertiler_rs_spark.operators.warp import render_warp_pyramid

    images = spark.read.parquet(images_geo_parquet(N))
    fused = render_warp_pyramid(images, ZMIN, ZMAX, tile_size=TS,
                                dtype_tag="u8", overview_below=ZMAX)
    tiles = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
             for r in fused.collect()}
    zs = sorted({z for z, _, _ in tiles})
    assert zs and zs[0] == ZMIN and zs[-1] == ZMAX
    # verify every z(max-1) tile against its z(max) children
    checked = 0
    for (z, x, y), png in tiles.items():
        if z != ZMAX - 1:
            continue
        sup = np.zeros((2 * TS, 2 * TS), dtype=np.uint8)
        for dy in (0, 1):
            for dx in (0, 1):
                child = tiles.get((ZMAX, 2 * x + dx, 2 * y + dy))
                if child is not None:
                    sup[dy * TS:(dy + 1) * TS, dx * TS:(dx + 1) * TS] = \
                        decode_canvas(child, "u8")
        np.testing.assert_array_equal(decode_canvas(png, "u8"),
                                      sup[1::2, 1::2])
        checked += 1
    assert checked >= 4


def test_render_warp_spark_parity(spark):
    """End to end: Spark render_warp over the gate fixture == the
    driver-side numpy composition (cover → warp_tile → ascending-id
    mosaic), compared on DECODED canvases."""
    from rastertiler_rs_spark.kernel import mosaic
    from rastertiler_rs_spark.operators.overview import decode_canvas

    images = spark.read.parquet(images_geo_parquet(N))
    got = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
           for r in render_warp(images, ZMIN, ZMAX, tile_size=TS,
                                dtype_tag="u8").collect()}

    contribs = {}
    for i in range(N):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        band = pixel_band(i, w, h, "u8")
        fp = _geo_fp(i)
        for zoom in range(ZMIN, ZMAX + 1):
            for _, tx, ty in _cover(fp, zoom):
                cv = warp_tile(band, *fp, zoom, tx, ty, TS, NODATA)
                if cv is not None:
                    contribs.setdefault((zoom, tx, ty), []).append(
                        (f"img{i:08d}", 0, 0, TS, TS, cv))
    want = {}
    for key, cs in contribs.items():
        cv = mosaic(cs, TS, NODATA, np.uint8)
        if cv is not None:
            want[key] = cv
    assert set(got) == set(want)
    for key, png in got.items():
        np.testing.assert_array_equal(decode_canvas(png, "u8"), want[key])


def test_render_warp_salted_parity(spark):
    """Hot-tile router: with ``salt_threshold=1`` every covered tile
    routes through the two-phase salted mosaic (fold to (canvas,
    winner) partials + argmax merge) — output must be byte-identical to
    the plain single-pass path (``salt_threshold=None``), the native
    render's salted-vs-plain contract applied to warp."""
    images = spark.read.parquet(images_geo_parquet(N))
    plain = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
             for r in render_warp(images, ZMIN, ZMAX, tile_size=TS,
                                  dtype_tag="u8",
                                  salt_threshold=None).collect()}
    salted = {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
              for r in render_warp(images, ZMIN, ZMAX, tile_size=TS,
                                   dtype_tag="u8",
                                   salt_threshold=1).collect()}
    assert plain.keys() == salted.keys()
    assert all(plain[k] == salted[k] for k in plain)

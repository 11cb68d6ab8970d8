"""End-to-end parity: Spark render pipeline vs the single-process numpy
oracle — tile-ID sets bit-for-bit, PNG bytes identical (lossless ⇒
PSNR=∞), per FIXTURES.md golden checks."""

import numpy as np
import pytest

from rastertiler_rs_spark.fixtures import generate_images
from rastertiler_rs_spark.operators.render import render
from rastertiler_rs_spark.oracle import render_oracle
from rastertiler_rs_spark.png import decode_rgba


def _spark_images(spark, n, tag="u8"):
    tbl = generate_images(n, tag)
    return spark.createDataFrame(tbl.to_pandas())


def _collect_fused(df):
    rows = df.collect()
    tiles = {(r["zoom"], r["x"], r["tile_row"]): (r["tile_hash"], bytes(r["png"])) for r in rows}
    assert len(tiles) == len(rows), "duplicate (zoom,x,tile_row) in spark output"
    return tiles


def _oracle(n, minz, maxz, ts, tag="u8", colormap=None):
    rows = generate_images(n, tag).to_pylist()
    tiles, blobs = render_oracle(rows, minz, maxz, ts, colormap)
    return {(z, x, y): (h, blobs[h]) for z, x, y, h in tiles}


@pytest.mark.parametrize("minz,maxz,ts", [(0, 8, 128), (11, 13, 64)])
def test_u8_grayscale_parity(spark, minz, maxz, ts):
    n = 48
    got = _collect_fused(render(_spark_images(spark, n), minz, maxz, ts, "u8"))
    want = _oracle(n, minz, maxz, ts)
    assert set(got) == set(want), (
        f"tile-ID mismatch: extra={list(set(got)-set(want))[:5]} "
        f"missing={list(set(want)-set(got))[:5]}")
    for k in want:
        assert got[k][0] == want[k][0], f"hash mismatch at {k}"
        assert got[k][1] == want[k][1], f"png bytes mismatch at {k}"


def test_u8_colormap_parity(spark):
    n, cmap = 24, "1:#686868,2:#38A800,3:#859B6C,4:#3B7D46,5:#FF00FF"
    got = _collect_fused(render(_spark_images(spark, n), 3, 7, 64, "u8", cmap))
    want = _oracle(n, 3, 7, 64, "u8", cmap)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]


def test_u32_adaptive_parity(spark):
    n = 24
    got = _collect_fused(render(_spark_images(spark, n, "u32"), 11, 13, 64, "u32"))
    want = _oracle(n, 11, 13, 64, "u32")
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]


def test_decoded_pixels_allclose_psnr(spark):
    """The BASELINE gate phrased as PSNR: lossless PNG ⇒ identical RGBA
    ⇒ PSNR = ∞ ≥ 40 dB."""
    n = 16
    got = _collect_fused(render(_spark_images(spark, n), 4, 6, 64, "u8"))
    want = _oracle(n, 4, 6, 64)
    for k in want:
        a = decode_rgba(got[k][1]).astype(np.float64)
        b = decode_rgba(want[k][1]).astype(np.float64)
        mse = float(np.mean((a - b) ** 2))
        assert mse == 0.0, f"nonzero MSE at {k}"


def test_render_validation_errors(spark):
    imgs = _spark_images(spark, 4)
    with pytest.raises(ValueError, match="colormap"):
        render(imgs, 0, 2, 64, "u32", "1:#FFFFFF")
    with pytest.raises(ValueError, match="not supported"):
        render(imgs, 0, 2, 64, "u16")
    with pytest.raises(ValueError, match="minzoom"):
        render(imgs, 5, 2, 64)
    with pytest.raises(ValueError, match="24"):
        render(imgs, 0, 25, 64)


def test_tile_assignment_preserves_captions(spark):
    """North-star per-row invariant: the tile<->image assignment carries
    caption data through unchanged (caption equality per joined row vs
    the generator rule + the oracle's tile enumeration)."""
    from rastertiler_rs_spark import tilemath as tm
    from rastertiler_rs_spark.fixtures import (caption_for_index,
                                               footprint_from_index,
                                               image_index)
    from rastertiler_rs_spark.operators.render import (tile_manifest,
                                                       with_footprints)

    n, minz, maxz = 32, 4, 8
    manifest = tile_manifest(
        with_footprints(_spark_images(spark, n)).select(
            "image_id", "caption", "minx", "miny", "maxx", "maxy"),
        minz, maxz,
    ).select("zoom", "tx", "ty", "image_id", "caption").collect()

    got = {(r["zoom"], r["tx"], r["ty"], r["image_id"]): r["caption"]
           for r in manifest}
    assert len(got) == len(manifest)

    want = {}
    for i in range(n):
        fp = [float(v) for v in footprint_from_index(image_index(f"img{i:08d}"))]
        cap = caption_for_index(i)
        for z in range(minz, maxz + 1):
            for _, tx, ty in tm.tile_range_iter(z, *tm.tile_range(z, *fp)):
                want[(z, tx, ty, f"img{i:08d}")] = cap
    assert got == want


def test_jvm_footprints_bit_identical(spark):
    """The JVM column-expression footprint rule (with_footprints) must
    reproduce the numpy rule (fixtures.footprint_from_index) to the
    LAST BIT — tile_range's ε/clamp math amplifies any ULP drift into a
    different tile cover."""
    import numpy as np
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.fixtures import footprint_from_index
    from rastertiler_rs_spark.operators.render import with_footprints

    n = 200_000
    ids = spark.range(n).select(
        F.format_string("img%08d", F.col("id").cast("int")).alias("image_id"))
    got = (with_footprints(ids)
           .orderBy(F.substring("image_id", 4, 8).cast("long"))
           .select("minx", "miny", "maxx", "maxy").toPandas())
    minx, miny, maxx, maxy = footprint_from_index(np.arange(n, dtype=np.uint64))
    for name, want in (("minx", minx), ("miny", miny),
                       ("maxx", maxx), ("maxy", maxy)):
        g = got[name].to_numpy()
        assert np.array_equal(g, want), (
            f"{name}: {np.sum(g != want)} of {n} differ; first at "
            f"{np.flatnonzero(g != want)[:3]}")


def test_footprints_under_ansi_session(spark):
    """A caller session with ANSI on (Spark 4's default — e.g. the
    driver's own smoke-check session) must still get footprints: the
    wrapping-bigint JVM path would throw ARITHMETIC_OVERFLOW, so
    with_footprints dispatches to the numpy-UDF rule there.
    Bit-identity between the two paths over the same ids."""
    import numpy as np
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.operators.render import with_footprints

    ids = spark.range(5000).select(
        F.format_string("img%08d", F.col("id").cast("int")).alias("image_id"))
    jvm = with_footprints(ids).orderBy("image_id").toPandas()
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        udf = with_footprints(ids).orderBy("image_id").toPandas()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    for c in ("minx", "miny", "maxx", "maxy"):
        assert np.array_equal(jvm[c].to_numpy(), udf[c].to_numpy()), c


def test_general_image_ids_byte_parity(spark):
    """Non-fixture id schemes (arbitrary strings, non-fixed-width) must
    render byte-identically to the fixture scheme when the id ORDER is
    preserved: the blocks path's img_ord falls back to an order-
    preserving sorted key instead of parsing 'img%08d' (which would
    crash on 'scene-*' ids and mis-order non-padded ones)."""
    from rastertiler_rs_spark.fixtures import generate_images
    from rastertiler_rs_spark.operators.render import render

    from rastertiler_rs_spark.fixtures import footprint_from_index
    import numpy as np

    pdf = generate_images(48, "u8").to_pandas()
    # a GEOREFERENCED table (explicit minx..maxy columns, the footprint
    # rule is only the default for bare ids) so both renders share
    # identical geometry regardless of the id scheme
    minx, miny, maxx, maxy = footprint_from_index(np.arange(48))
    for col, vals in zip(("minx", "miny", "maxx", "maxy"),
                         (minx, miny, maxx, maxy)):
        pdf[col] = vals
    base = spark.createDataFrame(pdf)
    # order-preserving rename to a foreign scheme (still sorts the same)
    renamed_pdf = pdf.copy()
    renamed_pdf["image_id"] = "scene-" + renamed_pdf["image_id"].str[3:]
    renamed = spark.createDataFrame(renamed_pdf)

    def tile_map(df):
        return {(r["zoom"], r["x"], r["y"]): bytes(r["png"])
                for r in df.collect()}

    # force the blocks path for all zooms (pz above maxzoom) and plant a
    # hot threshold so the salted img_ord path executes too
    a = tile_map(render(base, 0, 4, tile_size=64, dtype_tag="u8",
                        salt_threshold=4, partition_zoom=None))
    b = tile_map(render(renamed, 0, 4, tile_size=64, dtype_tag="u8",
                        salt_threshold=4, partition_zoom=None))
    assert a and a == b
    # non-fixed-width NUMERIC-suffix ids: 'img2' vs 'img10' parse but
    # int order != string order — must also route through the sorted key
    short_pdf = pdf.copy()
    short_pdf["image_id"] = short_pdf["image_id"].str[:3] + \
        short_pdf["image_id"].str[3:].astype(int).astype(str)
    c = tile_map(render(spark.createDataFrame(short_pdf), 0, 4,
                        tile_size=64, dtype_tag="u8", salt_threshold=4,
                        partition_zoom=None))
    # 'img0'..'img47' string order != numeric order, so c is a VALID
    # render under the string-order contract of ITS OWN id set; it must
    # at least produce the same tile KEY SET and run without error
    assert set(c) == set(a)

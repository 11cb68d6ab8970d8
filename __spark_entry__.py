"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship render; ``queries()`` exposes one
entry per implemented operator from SURVEY.md §2 over the driver's
TPC-H-ish parquet tables; ``oracle_sql()`` gives the DuckDB twin for
every SQL-expressible query (rows-only checks otherwise).

Cross-engine float discipline: every derived coordinate uses identical
IEEE-754 expression text on both sides (constants embedded via repr of
the python double), aggregates that cross engines are integer-valued,
and displayed doubles are rounded with floor(v*scale+0.5)/scale in both
engines.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

ORIGIN = 6378137.0 * math.pi
CE = 2.0 * ORIGIN
CELL = CE / 64.0  # zoom-6 cell size

_O = repr(ORIGIN)
_CE = repr(CE)
_CELL = repr(CELL)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


class _gate_cell_mult:
    """Pin the render cell-stage multiplier to 1 for gate-sized fixture
    renders: the production cores*8 setting exists to pack straggler
    tails on big renders; on a ~64-image contract fixture it just
    multiplies the per-task Python floor. Restores the env on exit."""

    def __init__(self, value: str = "1"):
        self.value = value

    def __enter__(self):
        import os

        self.old = os.environ.get("SPARK_GRAFT_CELL_MULT")
        os.environ["SPARK_GRAFT_CELL_MULT"] = self.value

    def __exit__(self, *exc):
        import os

        if self.old is None:
            os.environ.pop("SPARK_GRAFT_CELL_MULT", None)
        else:
            os.environ["SPARK_GRAFT_CELL_MULT"] = self.old
        return False


def _rnd(col, scale: float):
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def _sql_rnd(expr: str, scale: str) -> str:
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# ---- derived geometry (same expression text in Spark and SQL) ----

def _part_boxes(spark, sf_dir, limit_key=500):
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= limit_key)
    minx = F.lit(-ORIGIN) + ((F.col("p_partkey") % 47) + F.lit(0.3)) * F.lit(CELL)
    miny = F.lit(-ORIGIN) + ((F.col("p_partkey") % 31) + F.lit(0.2)) * F.lit(CELL)
    return p.select(
        "p_partkey",
        minx.alias("minx"),
        miny.alias("miny"),
        (minx + (F.lit(0.4) + (F.col("p_partkey") % 3)) * F.lit(CELL)).alias("maxx"),
        (miny + (F.lit(0.3) + (F.col("p_partkey") % 5)) * F.lit(CELL)).alias("maxy"),
    )


_PART_BOXES_SQL = f"""
    SELECT p_partkey,
           (-{_O}) + ((p_partkey % 47) + 0.3) * {_CELL} AS minx,
           (-{_O}) + ((p_partkey % 31) + 0.2) * {_CELL} AS miny,
           ((-{_O}) + ((p_partkey % 47) + 0.3) * {_CELL}) + (0.4 + (p_partkey % 3)) * {_CELL} AS maxx,
           ((-{_O}) + ((p_partkey % 31) + 0.2) * {_CELL}) + (0.3 + (p_partkey % 5)) * {_CELL} AS maxy
    FROM part WHERE p_partkey <= {{limit}}
"""


def _supplier_boxes(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    minx = F.lit(-ORIGIN) + ((F.col("s_suppkey") % 53) + F.lit(0.1)) * F.lit(CELL)
    miny = F.lit(-ORIGIN) + ((F.col("s_suppkey") % 37) + F.lit(0.4)) * F.lit(CELL)
    return s.select(
        "s_suppkey",
        minx.alias("r_minx"),
        miny.alias("r_miny"),
        (minx + (F.lit(0.5) + (F.col("s_suppkey") % 4)) * F.lit(CELL)).alias("r_maxx"),
        (miny + (F.lit(0.6) + (F.col("s_suppkey") % 2)) * F.lit(CELL)).alias("r_maxy"),
    )


_SUPPLIER_BOXES_SQL = f"""
    SELECT s_suppkey,
           (-{_O}) + ((s_suppkey % 53) + 0.1) * {_CELL} AS minx,
           (-{_O}) + ((s_suppkey % 37) + 0.4) * {_CELL} AS miny,
           ((-{_O}) + ((s_suppkey % 53) + 0.1) * {_CELL}) + (0.5 + (s_suppkey % 4)) * {_CELL} AS maxx,
           ((-{_O}) + ((s_suppkey % 37) + 0.4) * {_CELL}) + (0.6 + (s_suppkey % 2)) * {_CELL} AS maxy
    FROM supplier
"""


def _nation_tiles(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        (F.col("n_nationkey") % 7).cast("int").alias("zoom"),
        F.expr("n_nationkey % shiftleft(1L, cast(n_nationkey % 7 as int))").alias("x"),
        F.expr("(n_nationkey * 3) % shiftleft(1L, cast(n_nationkey % 7 as int))").alias("y"),
    )


_NATION_TILES_SQL = """
    SELECT n_nationkey,
           CAST(n_nationkey % 7 AS INT) AS zoom,
           n_nationkey % (1::BIGINT << (n_nationkey % 7)) AS x,
           (n_nationkey * 3) % (1::BIGINT << (n_nationkey % 7)) AS y
    FROM nation
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3+G5: per-box zoom-6 tile cover via the render pipeline's
    tile_range_cols + sequence explode (the tile-manifest generator)."""
    from rastertiler_rs_spark.operators.render import tile_range_cols

    boxes = _part_boxes(spark, sf_dir, 300).withColumn("zoom", F.lit(6))
    return (
        tile_range_cols(boxes)
        .withColumn("x", F.explode(F.sequence("txmin", "txmax")))
        .withColumn("y", F.explode(F.sequence("tymin", "tymax")))
        .select("p_partkey", "x", "y")
    )


def q_mercator_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: tile → EPSG:3857 box as column exprs (rounded 1e-6)."""
    from rastertiler_rs_spark.functions.columns import tile_mercator_bounds_cols

    t = _nation_tiles(spark, sf_dir)
    xmin, ymin, xmax, ymax = tile_mercator_bounds_cols("zoom", "x", "y")
    return t.select(
        "n_nationkey",
        _rnd(xmin, 1e6).alias("xmin"),
        _rnd(ymin, 1e6).alias("ymin"),
        _rnd(xmax, 1e6).alias("xmax"),
        _rnd(ymax, 1e6).alias("ymax"),
    )


def q_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: tile → lon/lat box (sinh via explicit exp formula, rounded 1e-6)."""
    from rastertiler_rs_spark.functions.columns import tile_geo_bounds_cols

    t = _nation_tiles(spark, sf_dir)
    xmin, ymin, xmax, ymax = tile_geo_bounds_cols("zoom", "x", "y")
    return t.select(
        "n_nationkey",
        _rnd(xmin, 1e6).alias("xmin"),
        _rnd(ymin, 1e6).alias("ymin"),
        _rnd(xmax, 1e6).alias("xmax"),
        _rnd(ymax, 1e6).alias("ymax"),
    )


def q_geo_to_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: clamped spherical-mercator forward transform (rounded 1e-3)."""
    from rastertiler_rs_spark.functions.columns import geo_to_mercator_cols

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 600)
    lon = (F.col("c_custkey") % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.05)
    lat = (F.col("c_custkey") % 1700) / F.lit(10.0) - F.lit(85.0) + F.lit(0.05)
    x, y = geo_to_mercator_cols(lon, lat)
    return c.select("c_custkey", _rnd(x, 1e3).alias("mx"), _rnd(y, 1e3).alias("my"))


def q_tms_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-ID schemes as a tagged union: S9's TMS y-flip
    y' = 2^z - 1 - y (integer exact), plus the PMTiles v3 Hilbert
    tile id (pmtiles/codec.tileid_col — the pure-JVM F.aggregate bit
    fold) verified against a DuckDB RECURSIVE-CTE transcription of
    the xy2d loop: two independent executors of the same curve, so a
    rotation/complement slip at any bit level flips the hash; plus
    the Bing/Azure QUADKEY (columns.quadkey_id_col — the Morton
    base-4 digit fold as its sentinel-int bijection 4^z + Σd_i·4^i)
    vs a twin restating the bit interleave per level."""
    from rastertiler_rs_spark.functions.columns import (quadkey_id_col,
                                                        tms_flip_col)
    from rastertiler_rs_spark.pmtiles import tileid_col

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    zoom = (F.col("o_orderkey") % 15).cast("int")
    y = F.expr("o_orderkey % shiftleft(1L, cast(o_orderkey % 15 as int))")
    x = F.expr("o_custkey % shiftleft(1L, cast(o_orderkey % 15 as int))")
    flip = (o.select("o_orderkey", zoom.alias("zoom"),
                     F.lit(0).cast("long").alias("x"), y.alias("y"))
            .withColumn("v", tms_flip_col("zoom", "y").cast("long")))
    hil = (o.select("o_orderkey", zoom.alias("zoom"), x.alias("x"),
                    y.alias("y"))
           .withColumn("v", tileid_col("zoom", "x", "y")))
    quad = (o.select("o_orderkey", zoom.alias("zoom"), x.alias("x"),
                     y.alias("y"))
            .withColumn("v", quadkey_id_col("zoom", "x", "y")))
    return _union_variants(("flip", flip), ("hilbert", hil),
                           ("quad", quad))


def q_cell_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 component: quadkey cell pack (z<<58|x<<29|y) + parent cell."""
    from rastertiler_rs_spark.functions.columns import cell_id_col, cell_parent_cols

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    zoom = (F.col("l_linenumber") % 15).cast("int")
    px, py = cell_parent_cols("x", "y", 2)
    return (
        li.select(
            "l_orderkey", "l_linenumber",
            zoom.alias("zoom"),
            F.expr("l_orderkey % shiftleft(1L, cast(l_linenumber % 15 as int))").alias("x"),
            F.expr("l_partkey % shiftleft(1L, cast(l_linenumber % 15 as int))").alias("y"),
        )
        .withColumn("cell_id", cell_id_col("zoom", "x", "y"))
        .withColumn("parent_x", px)
        .withColumn("parent_y", py)
    )


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J4: box-overlap join executed as cell equi-join + residual."""
    from rastertiler_rs_spark.operators.spatial_join import bbox_join

    return bbox_join(
        _part_boxes(spark, sf_dir, 500),
        _supplier_boxes(spark, sf_dir),
        cell_size=CELL,
        left_keys=["p_partkey"],
        right_keys=["s_suppkey"],
        broadcast_right=True,
    )


def q_merge_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: tileset merge semantics — left wins, right-only appended."""
    o = _t(spark, sf_dir, "orders")
    left = o.filter((F.col("o_orderkey") % 2) == 0).select(
        F.col("o_orderkey").alias("tid"), (F.col("o_orderkey") % 15).alias("zoom"),
        F.lit("L").alias("src"))
    right = o.filter((F.col("o_orderkey") % 3) == 0).select(
        F.col("o_orderkey").alias("tid"), (F.col("o_orderkey") % 15).alias("zoom"),
        F.lit("R").alias("src"))
    return left.unionByName(right.join(left.select("tid"), "tid", "left_anti"))


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-sketch union:
    - quantity: A1 value → count histogram over lineitem.
    - hll: HyperLogLog register table (operators/sketch.py) over
      customer keys — the mergeable approx-distinct sketch, with the
      SQL-expressible 31-bit Lehmer hash twin so register indexing,
      the bin()-based rho rule, and the max-merge are all VALUE-gated
      (the engine default uses JVM xxhash64; estimate quality and the
      xxhash64 bit-parity pin live in tests/test_sketch.py). Coerced
      to (value←register, n←rho_max)."""
    from rastertiler_rs_spark.operators.sketch import hll_registers_int

    li = _t(spark, sf_dir, "lineitem")
    quantity = li.groupBy(F.col("l_quantity").cast("int").alias("value")).agg(
        F.count("*").alias("n"))
    hll = hll_registers_int(
        _t(spark, sf_dir, "customer").select("c_custkey"),
        "c_custkey", p=6).select(
            F.col("register").alias("value"),
            F.col("rho_max").alias("n"))
    return _union_variants(("quantity", quantity), ("hll", hll))


def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: dataset envelope aggregate (rounded 1e-6)."""
    b = _part_boxes(spark, sf_dir, 2000)
    return b.agg(
        _rnd(F.min("minx"), 1e6).alias("xmin"),
        _rnd(F.min("miny"), 1e6).alias("ymin"),
        _rnd(F.max("maxx"), 1e6).alias("xmax"),
        _rnd(F.max("maxy"), 1e6).alias("ymax"),
    )


def q_zoom_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: min/max zoom across merged metadata."""
    merged = q_merge_anti(spark, sf_dir)
    return merged.agg(F.min("zoom").alias("minzoom"), F.max("zoom").alias("maxzoom"))


_SAMPLE_K = 64
_STRAT_K = 16


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-identity union:
    - groups: A5 / training-data exact dedup, content-hash groups.
    - sample: bottom-k (KMV) deterministic sample of documents
      (operators/sketch.py sample_bottom_k — TakeOrderedAndProject
      per-partition heaps, no shuffle of non-sample rows) by the
      SQL-twinnable Lehmer hash of doc_id; emits the sampled docs'
      md5(text) so content rides the sample under the gate. Coerced
      as content_md5←md5, n_docs←rank, keep_doc_id←doc_id."""
    from rastertiler_rs_spark.operators.sketch import (sample_bottom_k,
                                                       stratified_bottom_k)
    from rastertiler_rs_spark.operators.text import (exact_dup_groups,
                                                     lang_scores)

    docs = _t(spark, sf_dir, "documents")
    groups = exact_dup_groups(docs)
    lehmer = (F.col("doc_id") * F.lit(48271) + F.lit(11)) % F.lit(
        (1 << 31) - 1)
    # text rides THROUGH the top-k heaps (keep_cols) — one corpus scan,
    # no join-back to fetch the sampled docs' content
    sampled = sample_bottom_k(docs, "doc_id", _SAMPLE_K, hash_expr=lehmer,
                              keep_cols=("text",))
    sample = sampled.select(F.md5("text").alias("content_md5"),
                            F.col("rank").alias("n_docs"),
                            F.col("id").alias("keep_doc_id"))
    # strat: deterministic per-language quota sample — the training-
    # data mix-balancing primitive (sketch.stratified_bottom_k: local
    # per-partition prune bounds the stratum shuffle to k·strata rows
    # per task). Stratum = the value-gated lang_scores guess, hash =
    # the same Lehmer rule; coerced content_md5←lang, n_docs←rank.
    strat = stratified_bottom_k(
        lang_scores(docs).select("doc_id", "lang_guess"),
        "lang_guess", "doc_id", _STRAT_K, hash_expr=lehmer).select(
            F.col("stratum").alias("content_md5"),
            F.col("rank").alias("n_docs"),
            F.col("id").alias("keep_doc_id"))
    return _union_variants(("groups", groups), ("sample", sample),
                           ("strat", strat))


# heavy-hitter threshold: count·(k+1) > N over the document token
# stream (k = 50 keeps ~30 genuinely frequent words at sf0.01)
_HEAVY_K = 50


def q_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation union over two streams:
    - tumbling: 1-minute tumbling window aggregate over events
      (integer-valued cross-engine sums).
    - heavy: EXACT heavy hitters over the exploded document token
      stream via distributed Misra-Gries sketches + broadcast exact
      verify (operators/sketch.py) — output provably equals the plain
      GROUP BY + HAVING twin, so the mergeable-sketch candidate bound
      is under the value gate. Coerced into the tumbling shape:
      minute_bucket←exact total N (pins the sentinel-row total path),
      event_type←token, n←exact count, v100←count·(k+1)−N (pins the
      threshold arithmetic)."""
    from rastertiler_rs_spark.operators.sketch import frequent_items

    e = _t(spark, sf_dir, "events")
    tumbling = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 60).alias("minute_bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("v100"),
    )
    words = _t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ", -1)).alias("w"))
    heavy = frequent_items(words, "w", _HEAVY_K).select(
        F.col("total").alias("minute_bucket"),
        F.col("key").alias("event_type"),
        F.col("n"),
        (F.col("n") * (_HEAVY_K + 1) - F.col("total")).alias("v100"))
    return _union_variants(("tumbling", tumbling), ("heavy", heavy))


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: kNN via cell-ring expansion (exact, verified vs brute force)."""
    from rastertiler_rs_spark.operators.knn import knn_join

    points = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 13) % 100 + F.lit(0.7)).alias("px"),
        ((F.col("c_custkey") * 29) % 100 + F.lit(0.1)).alias("py"),
    )
    queries = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qid"),
        ((F.col("n_nationkey") * 37) % 100 + F.lit(0.5)).alias("qx"),
        ((F.col("n_nationkey") * 53) % 100 + F.lit(0.5)).alias("qy"),
    )
    # sf-dir inputs are known-small: skip AQE replanning and shrink the
    # loop's shuffle fan-out (driver-steered bookkeeping jobs dominate
    # knn wall at this scale — see knn_join docstring). Library defaults
    # stay scale-safe for 100 TB callers. start_radius=2 is the exact
    # value the density heuristic derives for this synthetic grid at
    # EVERY sf (uniform ~(0.15·sf·1e6)/100 points per 10x10 cell, k=5
    # → r0 = 2): passing it skips the stats scan+broadcast job and
    # drops that lineage from every later plan in the loop. Any r0
    # yields the same exact result — only the round count changes.
    return knn_join(points, queries, k=5, cell_size=10.0,
                    loop_adaptive=False, loop_shuffle_partitions=8,
                    start_radius=2).select("qid", "pid", "rank")


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: point-in-polygon on the SCALE plan — cell-index candidate
    prefilter (broadcast polygon-cell equi-join + bbox residual) with
    ray casting only on candidates; identical pairs to the broadcast
    loop (pinned in tests/test_pip.py at 1e3 polygons)."""
    from rastertiler_rs_spark.operators.pip import pip_join

    points = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 13) % 100 + F.lit(0.7)).alias("px"),
        ((F.col("c_custkey") * 29) % 100 + F.lit(0.1)).alias("py"),
    )
    regions = _t(spark, sf_dir, "region").select("r_regionkey").collect()
    polys = []
    for r in regions:
        k = r["r_regionkey"]
        x0, y0 = 10.0 * k + 2.5, 7.0 * k + 1.5
        polys.append((k, [(x0, y0), (x0 + 15.5, y0), (x0 + 15.5, y0 + 20.25), (x0, y0 + 20.25)]))
    inside = pip_join(points, polys, cell_size=16.0)
    # dbscan = distributed density clustering (operators/dbscan.py:
    # eps-grid cell equi-join → core counts → connected components →
    # min-rule border attach, all exact integers). Fixture: 4 planted
    # diagonal blobs (80% of points, 40×40 spread) + modular scatter
    # noise; result coerced into the (pid, poly_id) pair shape as
    # poly_id = cluster·2 + is_core (noise → -2). The DuckDB twin
    # restates the whole pipeline with an all-pairs predicate + a
    # recursive-CTE closure — an independent executor of the same
    # deterministic DBSCAN.
    from rastertiler_rs_spark.operators.dbscan import dbscan

    c = F.col("c_custkey")
    blob = c % 10 < 8
    ipts = _t(spark, sf_dir, "customer").select(
        c.alias("pid"),
        F.when(blob, 150 + 200 * (c % 4) + (c * 7) % 40)
        .otherwise((c * 97) % 900).cast("long").alias("x"),
        F.when(blob, 300 + 37 * (c % 4) + (c * 11) % 40)
        .otherwise((c * 89) % 900).cast("long").alias("y"))
    db = dbscan(ipts, eps=15, min_pts=5).select(
        "pid", (F.col("cluster") * 2 + F.col("is_core")).alias("poly_id"))
    return _union_variants(("pip", inside), ("dbscan", db))


def q_point_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→tile assignment for points: lon/lat → mercator → owning
    z10 tile (x, y, TMS row, packed cell id) — the point half of the
    raster↔vector assignment (tile_cover is the box half)."""
    from rastertiler_rs_spark.functions.columns import (cell_id_col,
                                                        geo_to_mercator_cols,
                                                        tms_flip_col)

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 800)
    lon = (F.col("c_custkey") % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.05)
    lat = (F.col("c_custkey") % 1700) / F.lit(10.0) - F.lit(85.0) + F.lit(0.05)
    mx, my = geo_to_mercator_cols(lon, lat)
    # cross-engine float rule: Spark (java.lang.Math) and DuckDB (libm)
    # tan/ln can differ by a ULP — round to 1e-6 m on BOTH sides before
    # the discretizing floor so a boundary ULP can't flip the tile index.
    mx, my = _rnd(mx, 1e6), _rnd(my, 1e6)
    n = F.lit(1024.0)
    clampi = lambda col: F.greatest(F.lit(0).cast("long"), F.least(F.lit(1023).cast("long"), col.cast("long")))  # noqa: E731
    out = c.select(
        "c_custkey",
        F.lit(10).alias("zoom"),
        clampi(F.floor((mx + F.lit(ORIGIN)) / F.lit(CE) * n)).alias("x"),
        clampi(F.floor((F.lit(ORIGIN) - my) / F.lit(CE) * n)).alias("y"),
    )
    return out.withColumn("tile_row", tms_flip_col("zoom", "y")).withColumn(
        "cell_id", cell_id_col("zoom", "x", "y"))


def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rastertiler_rs_spark.operators.text import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rastertiler_rs_spark.operators.text import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rastertiler_rs_spark.operators.text import lang_scores

    return lang_scores(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with the document-frequency cap active on
    both engines (shingles in > 80% of docs dropped before sizes and
    intersections) — the skew-safe exact twin; LSH stays the scale
    path for candidate generation."""
    from rastertiler_rs_spark.operators.text import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return ngram_jaccard_pairs(docs, n=3, threshold_pct=20, max_df_pct=80)


def q_tile_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile→image provenance with CAPTION passthrough under the value
    gate (the north rule's per-row caption-equality invariant): for
    every z8 tile, the contributing images of the fixture table (the
    render manifest's cell assignment: with_footprints JVM exprs +
    tile_range_cols) aggregated with a real caption STRING column
    (MIN(caption)), caption length sums, and a bit_xor of the phash
    column — any corruption of captions or phash anywhere in the scan
    →footprint→cover→join pipeline flips the driver's value hash."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import (tile_range_cols,
                                                       with_footprints)

    images = spark.read.parquet(images_parquet(64, "u8"))
    fp = with_footprints(images).withColumn("zoom", F.lit(8))
    cover = (tile_range_cols(fp)
             .withColumn("x", F.explode(F.sequence("txmin", "txmax")))
             .withColumn("y", F.explode(F.sequence("tymin", "tymax"))))
    return (cover.groupBy("zoom", "x", "y")
            .agg(F.count("*").alias("n_images"),
                 F.min("image_id").alias("first_image"),
                 F.min("caption").alias("first_caption"),
                 F.sum(F.length("caption")).alias("caption_len_sum"),
                 F.expr("bit_xor(phash)").alias("phash_xor"))
            .select(F.col("zoom").cast("long").alias("zoom"),
                    F.col("x").cast("long").alias("x"),
                    F.col("y").cast("long").alias("y"),
                    "n_images", "first_image", "first_caption",
                    "caption_len_sum", "phash_xor"))


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tokens per doc with the integer (tf DESC, df ASC, token
    ASC) rank rule — frequency-first with rarity tie-breaks (NOT float
    tf*idf; the deterministic variant), uniquely ordered so the window
    top-k is value-verifiable."""
    from rastertiler_rs_spark.operators.text import doc_keywords

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return doc_keywords(docs, k=3)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics under the value gate: part-derived zone boxes
    x the fixture image table through the J3 cell join, REAL PNG
    decode per matched image, pixel-center-in-zone mask with the
    shared IEEE op sequence, integer aggregates. The DuckDB twin
    rederives every pixel from the generation formula + embedded
    per-image constants — a defect in the join, the decode, the mask
    arithmetic, or the two-level aggregation flips the hash."""
    import rastertiler_rs_spark.tilemath as tm
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.zonal import zonal_stats

    zones = _part_boxes(spark, sf_dir, 500).select(
        F.col("p_partkey").alias("zone_id"), "minx", "miny", "maxx", "maxy")
    images = spark.read.parquet(images_parquet(64, "u8"))
    return zonal_stats(zones, images, cell_size=tm.CE / 64)


def q_zonal_stats_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over POLYGON zones (triangles on the image
    grid): pixel membership is the true even-odd ray cast — and so is
    the DuckDB twin, which evaluates the same crossing inequality
    (x2-x1)*(yc-y1)/(y2-y1)+x1 per non-horizontal edge with COUNT%2
    parity. Unlike the pip entry (rectangles), the SQL side here
    exercises the actual ray-cast arithmetic."""
    import numpy as np

    import rastertiler_rs_spark.tilemath as tm
    from rastertiler_rs_spark.fixtures import (footprint_from_index,
                                               images_parquet)
    from rastertiler_rs_spark.operators.zonal import zonal_stats_poly

    polys = []
    for i in range(0, 40, 4):
        minx, miny, maxx, maxy = (v.item() for v in
                                  footprint_from_index(np.array([i])))
        # slopes deliberately NOT aligned to the pixel grid: with the
        # plain bbox diagonal, the 64x64 fixtures put pixel CENTERS
        # exactly on the edge line and the inside/outside decision
        # falls to last-ulp float divergence between engines
        polys.append((i, [(minx - 311.25, miny - 97.5),
                          (maxx + 1234.5, miny + 777.25),
                          (minx + 555.125, maxy + 321.75)]))
    images = spark.read.parquet(images_parquet(64, "u8"))
    return zonal_stats_poly(polys, images, cell_size=tm.CE / 64)


def q_zonal_stats_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The u32 twin of zonal_stats: same zones, png;u32 images (24-bit
    values through the RGB-packed decode path) — puts the u32 decode
    under the zonal aggregation gate as well."""
    import rastertiler_rs_spark.tilemath as tm
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.zonal import zonal_stats

    zones = _part_boxes(spark, sf_dir, 500).select(
        F.col("p_partkey").alias("zone_id"), "minx", "miny", "maxx", "maxy")
    images = spark.read.parquet(images_parquet(64, "u32"))
    return zonal_stats(zones, images, cell_size=tm.CE / 64)


def q_vector_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile sink round-trip under the value gate: customer
    points → per-tile MVT blobs (from-spec protobuf + geometry-command
    encoder, mvt/codec.py) → decoded BACK by the from-spec parser;
    per-tile aggregates of the DECODED local coordinates and feature
    ids against a SQL twin of the tile-assignment + MVT quantization
    math. Wire framing, zigzag deltas, and the command stream must all
    survive the round trip for the hash to match."""
    from rastertiler_rs_spark.functions.columns import geo_to_mercator_cols
    from rastertiler_rs_spark.mvt import decode_mvt
    from rastertiler_rs_spark.operators.vector_tiles import points_to_mvt

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 800)
    lon = (F.col("c_custkey") % 3600) / F.lit(10.0) - F.lit(180.0) + F.lit(0.05)
    lat = (F.col("c_custkey") % 1700) / F.lit(10.0) - F.lit(85.0) + F.lit(0.05)
    mx, my = geo_to_mercator_cols(lon, lat)
    pts = c.select(F.col("c_custkey").alias("pid"),
                   _rnd(mx, 1e6).alias("px"), _rnd(my, 1e6).alias("py"))
    tiles = points_to_mvt(pts, zoom=6)

    def decode_fn(batches):
        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "tile_row": [], "n_features": [],
                   "sum_lx": [], "sum_ly": [], "min_fid": [], "max_fid": []}
            for row in pdf.itertuples(index=False):
                layer = decode_mvt(bytes(row.mvt))[0]
                assert layer["extent"] == 4096 and layer["version"] == 2
                fids, lxs, lys = [], [], []
                for f in layer["features"]:
                    (_, pts_), = f["geometry"]
                    (lx, ly), = pts_
                    fids.append(f["id"])
                    lxs.append(lx)
                    lys.append(ly)
                out["zoom"].append(6)
                out["x"].append(int(row.x))
                out["tile_row"].append(int(row.tile_row))
                out["n_features"].append(len(fids))
                out["sum_lx"].append(sum(lxs))
                out["sum_ly"].append(sum(lys))
                out["min_fid"].append(min(fids))
                out["max_fid"].append(max(fids))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        decode_fn, "zoom long, x long, tile_row long, n_features long, "
                   "sum_lx long, sum_ly long, min_fid long, max_fid long")


def q_vector_tiles_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon vector tiles under the value gate: part-derived boxes →
    per-tile CLIPPED polygon features (tile_range_cols cover + JVM
    clip/quantize, MVT v2 exterior-ring winding + ClosePath) → decoded
    BACK; per-tile sums of the decoded ring coordinates vs a SQL twin
    of the cover/clip/quantization chain."""
    from rastertiler_rs_spark.mvt import decode_mvt
    from rastertiler_rs_spark.operators.vector_tiles import boxes_to_mvt

    boxes = _part_boxes(spark, sf_dir, 200).select(
        F.col("p_partkey").alias("box_id"), "minx", "miny", "maxx", "maxy")
    tiles = boxes_to_mvt(boxes, zoom=5)

    def decode_fn(batches):
        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "tile_row": [], "n_features": [],
                   "sum_rx": [], "sum_ry": [], "min_fid": [], "max_fid": []}
            for row in pdf.itertuples(index=False):
                layer = decode_mvt(bytes(row.mvt))[0]
                fids, rx, ry = [], 0, 0
                for f in layer["features"]:
                    ops = f["geometry"]
                    assert [op for op, _ in ops]                         == ["MoveTo", "LineTo", "ClosePath"]
                    ring = ops[0][1] + ops[1][1]
                    assert len(ring) == 4
                    rx += sum(p[0] for p in ring)
                    ry += sum(p[1] for p in ring)
                    fids.append(f["id"])
                out["zoom"].append(5)
                out["x"].append(int(row.x))
                out["tile_row"].append(int(row.tile_row))
                out["n_features"].append(len(fids))
                out["sum_rx"].append(rx)
                out["sum_ry"].append(ry)
                out["min_fid"].append(min(fids))
                out["max_fid"].append(max(fids))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(
        decode_fn, "zoom long, x long, tile_row long, n_features long, "
                   "sum_rx long, sum_ry long, min_fid long, max_fid long")


_CLIP_ZOOM = 5


def _clip_triangles() -> list[tuple[int, list[tuple[float, float]]]]:
    """Deterministic mercator triangles for the polygon-clip gate —
    part-box-style placement with 'ugly' metre offsets that keep every
    vertex, every edge×tile-boundary intersection, and every covered
    tile corner off the 4096-level quantization boundaries (the repo's
    off-grid fixture rule). Each triangle spans multiple z5 tiles so
    the clipper produces partial polygons, full-tile windows, and
    bbox-covered-but-disjoint tiles."""
    tris = []
    for i in range(48):
        k = i + 1
        minx = -ORIGIN + (((k * 7) % 47) + 0.3) * CELL
        miny = -ORIGIN + (((k * 11) % 31) + 0.2) * CELL
        w = (0.9 + (k % 3)) * (1.7 * CELL)
        h = (0.8 + (k % 5)) * (1.3 * CELL)
        tris.append((k, [(minx - 311.25, miny - 97.5),
                         (minx + w + 1234.5, miny + 777.25),
                         (minx + 555.125, miny + h + 321.75)]))
    return tris


def _shoelace_fixture() -> list[tuple[int, list[tuple[int, int]]]]:
    """Deterministic integer rings (3-12 vertices, arbitrary winding,
    concavity and self-intersection allowed — the shoelace forms are
    formula-defined) for the geometry-metrics gate."""
    return [(pid, [((i * i * 7 + pid * 11 + i * 3) % 51 - 25,
                    (i * i * i * 5 + i * 13 + pid * 17) % 47 - 23)
                   for i in range(3 + (pid * 5) % 10)])
            for pid in range(16)]


def _hull_fixture() -> list[tuple[int, list[tuple[int, int]]]]:
    """Deterministic point sets in GENERAL POSITION (no duplicates, no
    3 collinear — constants searched offline, asserted in
    tests/test_geometry.py), so the strict monotone chain equals the
    all-points-strictly-left hull-edge characterization the twin
    states."""
    return [(gid, [(((i * i * 10 + gid * 26 + i * 33) % 101) - 50,
                    ((i * i * i * 58 + i * 18 + gid * 27) % 97) - 48)
                   for i in range(10 + (gid * 5) % 14)])
            for gid in range(12)]


def q_geometry_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area/centroid (operators/geometry.polygon_metrics —
    pure JVM F.aggregate folds, no python stage) shaped onto the clip
    schema: tile_row = signed doubled area, sum_lx/sum_ly = the 6A·Cx
    / 6A·Cy centroid numerators — exact int64 end to end."""
    from rastertiler_rs_spark.operators.geometry import polygon_metrics

    rows = [(pid, [{"x": x, "y": y} for x, y in pts])
            for pid, pts in _shoelace_fixture()]
    df = spark.createDataFrame(
        rows, "poly_id long, pts array<struct<x: long, y: long>>")
    zero = F.lit(0).cast("long")
    return polygon_metrics(df).select(
        zero.alias("zoom"), zero.alias("x"),
        F.col("area2").alias("tile_row"),
        F.col("poly_id").alias("fid"), "n_vtx",
        F.col("cx6a").alias("sum_lx"), F.col("cy6a").alias("sum_ly"))


def q_geometry_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict convex hull (operators/geometry.convex_hull_stats —
    monotone chain after ONE group shuffle) shaped onto the clip
    schema: n_vtx = hull size, sum_lx/sum_ly = hull coordinate sums;
    the twin re-derives membership from the ccw hull-edge rule (all
    other points STRICTLY left), exact on the general-position
    fixture."""
    from rastertiler_rs_spark.operators.geometry import convex_hull_stats

    rows = [(gid, x, y) for gid, pts in _hull_fixture() for x, y in pts]
    df = spark.createDataFrame(rows, "gid long, x long, y long")
    zero = F.lit(0).cast("long")
    return convex_hull_stats(df).select(
        zero.alias("zoom"), zero.alias("x"), zero.alias("tile_row"),
        F.col("gid").alias("fid"), "n_vtx",
        F.col("sum_hx").alias("sum_lx"), F.col("sum_hy").alias("sum_ly"))


def q_vector_tiles_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY-polygon vector tiles under the value gate: triangle
    features → per-tile Sutherland–Hodgman clip + quantize + MVT
    encode (operators/vector_tiles.polys_to_mvt) → decoded BACK; per
    (tile, feature) the DISTINCT decoded vertex set is compared
    against a SQL twin that derives the clipped polygon's vertices
    from the convex∩box decomposition (original vertices inside the
    box ∪ edge×box-edge intersections ∪ box corners inside the
    triangle — exactly the Sutherland–Hodgman output set for convex
    input in general position), quantized with the same
    snap-then-floor rule. Two geometry-aggregate legs share the
    schema: `shoe` (shoelace area/centroid, q_geometry_metrics) and
    `hull` (strict convex hull, q_geometry_hull)."""
    from rastertiler_rs_spark.mvt import decode_mvt
    from rastertiler_rs_spark.operators.vector_tiles import polys_to_mvt

    rows = [(fid, [{"x": x, "y": y} for x, y in ring])
            for fid, ring in _clip_triangles()]
    polys = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x: double, y: double>>")
    tiles = polys_to_mvt(polys, zoom=_CLIP_ZOOM)

    def decode_fn(batches):
        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "tile_row": [], "fid": [],
                   "n_vtx": [], "sum_lx": [], "sum_ly": []}
            for row in pdf.itertuples(index=False):
                layer = decode_mvt(bytes(row.mvt))[0]
                assert layer["extent"] == 4096 and layer["version"] == 2
                for f in layer["features"]:
                    vset = {p for _, pts_ in f["geometry"] for p in pts_}
                    out["zoom"].append(_CLIP_ZOOM)
                    out["x"].append(int(row.x))
                    out["tile_row"].append(int(row.tile_row))
                    out["fid"].append(int(f["id"]))
                    out["n_vtx"].append(len(vset))
                    out["sum_lx"].append(sum(p[0] for p in vset))
                    out["sum_ly"].append(sum(p[1] for p in vset))
            yield pd.DataFrame(out)

    clip = tiles.mapInPandas(
        decode_fn, "zoom long, x long, tile_row long, fid long, "
                   "n_vtx long, sum_lx long, sum_ly long")
    return _union_variants(("clip", clip),
                           ("shoe", q_geometry_metrics(spark, sf_dir)),
                           ("hull", q_geometry_hull(spark, sf_dir)))


def _clip_lines() -> list[tuple[int, list[tuple[float, float]]]]:
    """Deterministic mercator polylines for the line-clip gate: 4-point
    paths with 'ugly' metre offsets (no axis-parallel segments, no
    vertices or crossings on quantization boundaries), each spanning
    several z5 tiles so Liang–Barsky produces interior, entering,
    leaving, and crossing segments."""
    lns = []
    for i in range(32):
        k = i + 1
        x = -ORIGIN + (((k * 13) % 43) + 0.35) * CELL + 101.25
        y = -ORIGIN + (((k * 17) % 29) + 0.25) * CELL + 77.5
        pts = [(x, y)]
        for j in range(3):
            x = x + (0.7 + ((k + j) % 3)) * (1.31 * CELL) + 251.125
            y = y + (0.4 + ((k * 2 + j) % 5)) * (0.77 * CELL) \
                - (1234.5 if j % 2 else -97.25)
            pts.append((x, y))
        lns.append((k, pts))
    return lns


def _dp_fixture() -> list[tuple[int, list[tuple[int, int]], int]]:
    """Deterministic integer polylines for the Douglas–Peucker gate:
    18 lines of 8-33 vertices, x strictly increasing (jitter < step,
    so sum_lx pins the exact kept-vertex SET), wobbling y, per-line
    tolerance 0-5 (0 = drop only exactly-collinear vertices)."""
    out = []
    for lid in range(18):
        n = 8 + (lid * 7) % 26
        pts = [(i * 29 + (i * i * 13 + lid * 17) % 9,
                ((i * i * i + lid * 31) * 7) % 61 - 30)
               for i in range(n)]
        out.append((lid, pts, lid % 6))
    return out


def q_polyline_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas–Peucker simplification under the value gate
    (operators/simplify.py): the exact-integer split rule
    (cross² > tol²·|AB|², ties to the smallest index, |AB|² = 0
    degrades to squared point distance) applied per line at a
    per-line tolerance; the DuckDB twin re-executes the SAME
    recursion as a recursive CTE whose step picks each chord's
    argmax-deviation vertex with ORDER BY d DESC, i ASC LIMIT 1 —
    a second independent executor of the algorithm, so any split,
    tie, or threshold slip flips the hash. Shaped onto the shared
    lines schema: n_seg = kept-vertex count, sum_lx/sum_ly = kept
    coordinate sums (x strictly increasing ⇒ the sums pin the set)."""
    from rastertiler_rs_spark.operators.simplify import simplify_polylines

    rows = [(lid, [{"x": x, "y": y} for x, y in pts], tol)
            for lid, pts, tol in _dp_fixture()]
    df = spark.createDataFrame(
        rows, "line_id long, pts array<struct<x: long, y: long>>, "
              "tol long")
    simp = simplify_polylines(df, 0)
    zero = F.lit(0).cast("long")
    return simp.select(
        zero.alias("zoom"), zero.alias("x"), zero.alias("tile_row"),
        F.col("line_id").alias("fid"),
        F.size("pts").cast("long").alias("n_seg"),
        F.aggregate("pts", F.lit(0).cast("long"),
                    lambda a, p: a + p["x"]).alias("sum_lx"),
        F.aggregate("pts", F.lit(0).cast("long"),
                    lambda a, p: a + p["y"]).alias("sum_ly"))


def q_vector_tiles_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYLINE vector tiles under the value gate, two legs: `lb` —
    paths → per-tile Liang–Barsky-clipped MVT LINESTRING blobs (the
    clip is pure JVM parametric math — operators/vector_tiles.
    lines_to_mvt) → decoded BACK; per (tile, line) the segment count
    and endpoint-coordinate sums are compared against a SQL twin
    stating the identical closed-form entry/exit times and
    snap-then-floor quantization. `dp` — Douglas–Peucker
    simplification vs a recursive-CTE twin (q_polyline_simplify)."""
    from rastertiler_rs_spark.mvt import decode_mvt
    from rastertiler_rs_spark.operators.vector_tiles import lines_to_mvt

    rows = [(fid, [{"x": x, "y": y} for x, y in pts])
            for fid, pts in _clip_lines()]
    lines = spark.createDataFrame(
        rows, "line_id long, pts array<struct<x: double, y: double>>")
    tiles = lines_to_mvt(lines, zoom=_CLIP_ZOOM)

    def decode_fn(batches):
        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "tile_row": [], "fid": [],
                   "n_seg": [], "sum_lx": [], "sum_ly": []}
            for row in pdf.itertuples(index=False):
                layer = decode_mvt(bytes(row.mvt))[0]
                for f in layer["features"]:
                    n_seg, sx, sy = 0, 0, 0
                    part: list = []
                    for op, pts_ in f["geometry"]:
                        if op == "MoveTo":
                            part = list(pts_)
                        else:  # LineTo extends the current part
                            for p in pts_:
                                q0, part = part[-1], part + [p]
                                n_seg += 1
                                sx += q0[0] + p[0]
                                sy += q0[1] + p[1]
                    out["zoom"].append(_CLIP_ZOOM)
                    out["x"].append(int(row.x))
                    out["tile_row"].append(int(row.tile_row))
                    out["fid"].append(int(f["id"]))
                    out["n_seg"].append(n_seg)
                    out["sum_lx"].append(sx)
                    out["sum_ly"].append(sy)
            yield pd.DataFrame(out)

    lb = tiles.mapInPandas(
        decode_fn, "zoom long, x long, tile_row long, fid long, "
                   "n_seg long, sum_lx long, sum_ly long")
    return _union_variants(("lb", lb),
                           ("dp", q_polyline_simplify(spark, sf_dir)))


def q_raster_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stencil raster op under the value gate: central-difference
    gradient magnitude over real decoded pixels, per-image integer
    aggregates; the twin rederives every neighbor from the generation
    formula with SHIFTED indices — an off-by-one anywhere in the
    neighborhood access flips the hash."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.zonal import raster_gradient_stats

    return raster_gradient_stats(
        spark.read.parquet(images_parquet(64, "u8")))


def q_tile_halo_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALO-EXCHANGE stencil under the value gate: the engine sees only
    the 48 PNG tiles of a 1024x768 canvas and must reconstruct
    cross-tile-border gradients by shuffling 1-pixel edge strips to
    their neighbors (operators/halo.py); the DuckDB twin computes the
    same gradient over the UNPARTITIONED canvas formula grouped by the
    owning tile — any halo routing or orientation bug flips the border
    tiles' sums."""
    from rastertiler_rs_spark.fixtures import tiled_canvas_parquet
    from rastertiler_rs_spark.operators.halo import tile_halo_gradient

    tiles = spark.read.parquet(tiled_canvas_parquet(1024, 768, 128, 5))
    return tile_halo_gradient(tiles, 128)


def q_tile_halo_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-NEIGHBOR halo-exchange stencil under the value gate: the
    Sobel gradient needs DIAGONAL neighbors, so the exchange ships the
    four corner pixels as well as the edge strips (operators/halo.py
    corners=True); the DuckDB twin computes the same Sobel over the
    unpartitioned canvas formula grouped by owning tile — a missing or
    misrouted corner halo flips exactly the tile-corner pixels' sums."""
    from rastertiler_rs_spark.fixtures import tiled_canvas_parquet
    from rastertiler_rs_spark.operators.halo import tile_halo_sobel

    tiles = spark.read.parquet(tiled_canvas_parquet(1024, 768, 128, 5))
    return tile_halo_sobel(tiles, 128)


# rasterize fixture: concave + convex + self-intersecting polygons
# spanning several 64px tiles of the 256x192 canvas, one reaching
# off-canvas (clip), overlapping so painter's order matters
_BURN_POLYS = [
    (1, [(10, 10), (150, 30), (60, 120)], 60),            # triangle
    (2, [(40, 60), (220, 60), (220, 150), (40, 150)], 110),  # box
    (3, [(120, 20), (200, 100), (120, 180), (40, 100)], 160),  # diamond
    (4, [(180, 120), (270, 120), (180, 210), (270, 210)], 210),  # bowtie,
    # reaching past both canvas edges
]


def q_tile_halo_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both halo-exchange stencils as one tagged union (same fixture,
    same stats schema): `grad` = 4-neighbor central difference (edge
    strips only), `sobel` = 8-neighbor Sobel (edge strips + corner
    pixels). The DuckDB twins compute each stencil over the
    UNPARTITIONED canvas formula grouped by owning tile — any halo
    routing, orientation, or corner bug flips the border tiles."""
    from rastertiler_rs_spark.fixtures import tiled_canvas_parquet
    from rastertiler_rs_spark.operators.halo import (tile_halo_gradient,
                                                     tile_halo_sobel)

    tiles = spark.read.parquet(tiled_canvas_parquet(1024, 768, 128, 5))
    # algebra = two-raster map algebra (operators/algebra.py): seed-5
    # mean-combined with the seed-13 canvas (different ph + hole rect),
    # one tile-key equi-join + one python stage; either-side nodata
    # propagates. Reuses the union's stats schema (sum_g2/max_g2 carry
    # the combined-value sum/max for this leg).
    from rastertiler_rs_spark.operators.algebra import raster_algebra_stats

    other = spark.read.parquet(tiled_canvas_parquet(1024, 768, 128, 13))
    alg = raster_algebra_stats(tiles, other, 128, op="mean").select(
        "tx", "ty", "n_valid", F.col("vsum").alias("sum_g2"),
        F.col("vmax").alias("max_g2"))
    # iso = distributed marching squares (operators/isolines.py):
    # segment count / endpoint-coordinate sum / orientation-sensitive
    # cross-product sum per tile; cells straddling borders are built
    # from shipped strips, so halo routing is on the hook. The twin
    # restates the full 16-case table + fixed-point interpolation.
    from rastertiler_rs_spark.operators.isolines import isoline_stats

    iso = isoline_stats(tiles, 128, 128).select(
        "tx", "ty", F.col("n_seg").alias("n_valid"),
        F.col("coord_sum").alias("sum_g2"),
        F.col("cross_sum").alias("max_g2"))
    # stack = temporal median composite (algebra.raster_stack_median):
    # lower-median of the seed-5/13/0 canvases per pixel, nodata
    # excluded per pixel — the twin restates the 3-way median as
    # a+b+c−max−min / pairwise-min / identity by valid count
    from rastertiler_rs_spark.operators.algebra import (
        raster_stack_median, tile_stats)

    third = spark.read.parquet(tiled_canvas_parquet(1024, 768, 128, 0))
    stack = (tiles.select("tx", "ty", F.lit(0).alias("epoch"), "png")
             .unionByName(other.select("tx", "ty",
                                       F.lit(1).alias("epoch"), "png"))
             .unionByName(third.select("tx", "ty",
                                       F.lit(2).alias("epoch"), "png")))
    stk = tile_stats(raster_stack_median(stack, 128)).select(
        "tx", "ty", "n_valid", F.col("vsum").alias("sum_g2"),
        F.col("vmax").alias("max_g2"))
    # burn = polygon rasterization (operators/rasterize.py): the
    # fixture polygons burn onto a 256x192 canvas (exact integer
    # even-odd pixel-center rule, painter's order); the twin restates
    # the crossing arithmetic per pixel per polygon
    from rastertiler_rs_spark.operators.rasterize import burn_polygons

    prows = [(pid, [{"x": x, "y": y} for x, y in pts], val)
             for pid, pts, val in _BURN_POLYS]
    polys = spark.createDataFrame(
        prows, "poly_id long, pts array<struct<x: long, y: long>>, "
               "value long")
    burn = tile_stats(burn_polygons(polys, 256, 192, 64)).select(
        "tx", "ty", "n_valid", F.col("vsum").alias("sum_g2"),
        F.col("vmax").alias("max_g2"))
    # terrain = Horn aspect-octant histogram (operators/halo.py
    # tile_halo_terrain): same 8-neighbor halo as sobel, but the pin is
    # the surface-DIRECTION histogram (8 compass sectors by exact
    # integer comparisons), packed 4×16-bit per stats column
    # morph/median = 3×3 rank filters (morphological gradient, median
    # denoise) on the same 8-neighbor exchange; twins are GREATEST−LEAST
    # and list_sort[5] over the shared 9-window canvas CTE
    # shade/slope = gdaldem hillshade/slope analogs on the same Horn
    # gradients: trig folded driver-side (hillshade_constants), the
    # remaining + · / sqrt floor all IEEE correctly-rounded — the twins
    # are bit-identical with NO margin fixtures (contrast warp)
    from rastertiler_rs_spark.operators.halo import (tile_halo_hillshade,
                                                     tile_halo_flowdir,
                                                     tile_halo_mean,
                                                     tile_halo_median,
                                                     tile_halo_morph,
                                                     tile_halo_slope,
                                                     tile_halo_terrain,
                                                     tile_halo_tpi,
                                                     tile_halo_tri)

    # zoomin = overzoom (operators/overzoom.py): every parent tile
    # emits its 4 nearest-upsampled children (shuffle-free python
    # stage); the twin reads the canvas formula at (R>>1, C>>1) over
    # the child grid — the integer-shift form of the +0.5-floor rule
    from rastertiler_rs_spark.operators.overzoom import overzoom_tiles
    from rastertiler_rs_spark.operators.watershed import (
        flow_accumulation_stats, watershed_stats)

    oz = tile_stats(overzoom_tiles(tiles, 1, 128)).select(
        "tx", "ty", "n_valid", F.col("vsum").alias("sum_g2"),
        F.col("vmax").alias("max_g2"))
    # eq = global histogram equalization (algebra.equalize_tiles):
    # corpus-wide 256-bin agg → driver LUT (integer cdf stretch into
    # [1,255]) → shuffle-free remap; the twin restates hist/cdf/LUT
    # in SQL over the canvas formula — all-integer, bit-exact
    from rastertiler_rs_spark.operators.algebra import equalize_tiles

    eqz = tile_stats(equalize_tiles(tiles, 128)).select(
        "tx", "ty", "n_valid", F.col("vsum").alias("sum_g2"),
        F.col("vmax").alias("max_g2"))
    # relief = gdaldem color-relief (algebra.color_relief_tiles):
    # piecewise-linear ramp in the division-safe weighted-average
    # integer form, RGB PNG decode-back stats (ΣR / ΣG<<23|ΣB)
    from rastertiler_rs_spark.operators.algebra import (color_relief_tiles,
                                                        relief_stats)

    rel = relief_stats(color_relief_tiles(tiles, 128))
    # srelief = shaded relief (halo.tile_halo_shaded_relief): ONE
    # fused halo pass computes ramp colors AND hillshade, ceiling
    # blend (ch·shade+254)//255 keeps valid pixels off the nodata
    # black — decode-back channel sums like the relief leg
    from rastertiler_rs_spark.operators.halo import tile_halo_shaded_relief

    srel = relief_stats(tile_halo_shaded_relief(tiles, 128))

    return _union_variants(
        ("grad", tile_halo_gradient(tiles, 128)),
        ("sobel", tile_halo_sobel(tiles, 128)),
        ("terrain", tile_halo_terrain(tiles, 128)),
        ("shade", tile_halo_hillshade(tiles, 128)),
        ("slope", tile_halo_slope(tiles, 128)),
        ("tri", tile_halo_tri(tiles, 128)),
        ("tpi", tile_halo_tpi(tiles, 128)),
        ("zoomin", oz),
        ("eq", eqz),
        ("relief", rel),
        ("srelief", srel),
        ("morph", tile_halo_morph(tiles, 128)),
        ("median", tile_halo_median(tiles, 128)),
        ("fmean", tile_halo_mean(tiles, 128)),
        ("flow", tile_halo_flowdir(tiles, 128)),
        ("basin", watershed_stats(
            spark.read.parquet(tiled_canvas_parquet(256, 192, 64, 5)),
            64)),
        ("accum", flow_accumulation_stats(
            spark.read.parquet(tiled_canvas_parquet(256, 192, 64, 5)),
            64)),
        ("algebra", alg),
        ("iso", iso),
        ("stack", stk),
        ("burn", burn))


def q_raster_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed raster REGION LABELING under the value gate: the
    engine sees only the 12 PNG tiles of a 256x192 quantized canvas
    and must name every maximal 4-connected equal-value region
    GLOBALLY (per-tile run CCL → border-strip equivalences →
    connected components → one stats groupBy; operators/polygonize.py).
    The DuckDB twin recomputes runs, the run adjacency graph, its
    transitive closure, and the same integer stats from the canvas
    formula — it never sees tiles, so fragment naming, halo routing,
    and the distributed merge are all on the hook. 1504 regions, many
    crossing tile borders (grid strides 23/29 are coprime to ts=64)."""
    from rastertiler_rs_spark.fixtures import region_canvas_parquet
    from rastertiler_rs_spark.operators.polygonize import region_label

    tiles = spark.read.parquet(region_canvas_parquet(256, 192, 64, 5))
    return region_label(tiles, 64)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM-corpus cleaning chain as ONE composed query:
    quality filter → exact dedup (planted doubles lose to originals) →
    near-dup clustering (connected components over the exact ngram
    pair graph) → canonical survivor, emitting a per-doc verdict
    (quality / exact_dup / near_dup / kept) + component id. Every
    stage is oracle-verified alone elsewhere; this entry verifies the
    COMPOSITION — filters feeding joins feeding the iterative
    clustering — against a single recursive-CTE SQL twin."""
    from rastertiler_rs_spark.operators.components import dedup_assign
    from rastertiler_rs_spark.operators.text import (exact_dup_groups,
                                                     ngram_jaccard_pairs,
                                                     quality_scores)

    base = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0).select("doc_id", "text"))
    planted = (base.filter(F.col("doc_id") % 50 == 0)
               .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                       "text"))
    docs = base.unionByName(planted)

    q = quality_scores(docs).select("doc_id", "n_chars_m")
    docs_q = (docs.join(q, "doc_id")
              .withColumn("pass_quality", F.col("n_chars_m") >= 120))
    surv1 = docs_q.filter("pass_quality").select("doc_id", "text")

    groups = exact_dup_groups(surv1)
    with_md5 = (surv1.withColumn("content_md5", F.md5("text"))
                .join(groups.select("content_md5", "keep_doc_id"),
                      "content_md5"))
    surv2 = (with_md5.filter(F.col("doc_id") == F.col("keep_doc_id"))
             .select("doc_id", "text"))

    pairs = ngram_jaccard_pairs(surv2, n=3, threshold_pct=50, max_df_pct=80)
    comp = dedup_assign(surv2.select("doc_id"), pairs)

    verdict = (docs_q.select("doc_id", "pass_quality")
               .join(with_md5.select("doc_id", "keep_doc_id"),
                     "doc_id", "left")
               .join(comp.select("doc_id", "component_id", "is_canonical"),
                     "doc_id", "left")
               .select(
                   "doc_id",
                   F.coalesce("component_id",
                              F.lit(-1).cast("long")).alias("component_id"),
                   F.when(~F.col("pass_quality"), F.lit("quality"))
                   .when(F.col("doc_id") != F.col("keep_doc_id"),
                         F.lit("exact_dup"))
                   .when(~F.col("is_canonical"), F.lit("near_dup"))
                   .otherwise(F.lit("kept")).alias("verdict")))
    return verdict.withColumn("kept", F.col("verdict") == F.lit("kept"))


def q_embedding_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ranking semantics as embedding_ivf, but through the
    PERSISTED index (build_ivf_index: posting-list parquet partitioned
    by list_id + centroids.json; ivf_query_index probes with partition
    pruning). The oracle twin is the identical SQL, so the gate
    value-verifies the build→files→pruned-probe round-trip too."""
    import os

    from rastertiler_rs_spark.fixtures import CACHE_DIR
    from rastertiler_rs_spark.operators.embedding import (build_ivf_index,
                                                          ivf_query_index)

    emb = _t(spark, sf_dir, "embeddings")
    index_dir = os.path.join(
        CACHE_DIR, "ivf_" + os.path.basename(sf_dir.rstrip("/")))
    # build-if-missing, like every other .fixture_cache artifact: the
    # index content is deterministic, and an unconditional overwrite
    # could yank part-files from under a concurrent reader's snapshot
    if not os.path.exists(os.path.join(index_dir, "centroids.json")):
        build_ivf_index(emb.select("vec_id", "embedding"), index_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    return ivf_query_index(spark, index_dir, queries, k=5).select(
        "qid", "vec_id", "dot", "rank")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING under the value gate — the step after pair
    generation that a production dedup actually ships: connected
    components over the exact ngram-Jaccard pair graph (min-label
    propagation, driver-steered rounds, one join + one groupBy-min per
    round) plus canonical-survivor assignment. The DuckDB twin computes
    the same components with a recursive transitive-closure CTE over
    the identical pair SQL — so the oracle value-checks the iterative
    distributed algorithm against a declarative fixpoint."""
    from rastertiler_rs_spark.operators.components import dedup_assign
    from rastertiler_rs_spark.operators.text import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold_pct=20, max_df_pct=80)
    return dedup_assign(docs.select("doc_id"), pairs)


def q_embedding_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer top-k on the SCALE plan: blocked numpy matmul per
    corpus batch + tiny candidate shuffle (dot_topk_int_blocked) — same
    oracle as the declarative crossJoin twin because integer dots are
    associative and the per-batch top-k uses the global tie rule."""
    from rastertiler_rs_spark.operators.embedding import (
        dot_topk_int_blocked, sq8_topk)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    fixed = dot_topk_int_blocked(
        emb.select("vec_id", "embedding"), queries, k=10).select(
        "qid", "vec_id", "dot", "rank")
    # sq8 = per-vector max-abs int8 codes + asymmetric rescaled
    # ranking (the SQ compression beside PQ) — same column shape
    sq8 = sq8_topk(emb.select("vec_id", "embedding"), queries, k=10)
    return _union_variants(("fixed", fixed), ("sq8", sq8))


# ---- rows-only queries (not SQL-expressible / engine-hash-dependent) ----

def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup candidates, integer-exact twin
    (polynomial shingle hash + affine permutations, no engine hash) —
    the full signature/banding dataflow is DuckDB-verified."""
    from rastertiler_rs_spark.operators.text import lsh_candidate_pairs_int

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return lsh_candidate_pairs_int(docs, num_perms=16, band_size=4)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, integer-exact twin (62-bit simhash from
    two polynomial token hashes, 16-bit chunk blocking)."""
    from rastertiler_rs_spark.operators.text import simhash_near_pairs_int

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return simhash_near_pairs_int(docs, max_hamming=16)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash union:
    - win: winnowing-style fingerprint (min polynomial hash over
      8-grams).
    - chunks: overlapping token-window chunking (text.doc_chunks, the
      RAG prep primitive) with the chunk CONTENT pinned: each chunk's
      space-joined text runs through the same polynomial hash, keyed
      doc_id·100000 + chunk_id."""
    from rastertiler_rs_spark.operators.text import (doc_chunks,
                                                     doc_fingerprints_int,
                                                     poly_hash_col)

    docs = _t(spark, sf_dir, "documents")
    win = doc_fingerprints_int(docs)
    chunks = doc_chunks(docs, size=32, stride=24).select(
        (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("doc_id"),
        poly_hash_col(F.col("chunk_text")).alias("fingerprint"))
    return _union_variants(("win", win), ("chunks", chunks))


def q_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float cosine top-k. Oracle-checkable despite floats: both engines
    compute the dot and norms as STRICT LEFT FOLDS over the same arrays
    (F.aggregate ↔ DuckDB list_reduce), so every intermediate double is
    bit-identical and the (score DESC, vec_id) ordering agrees exactly;
    only integer columns (qid, vec_id, rank) cross the hash."""
    from rastertiler_rs_spark.operators.embedding import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    return cosine_topk(emb.select("vec_id", "embedding"), queries, k=10).select(
        "qid", "vec_id", "rank")


def q_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, integer-exact twin (quantized vectors,
    integer plane weights from a public modular formula, integer dots)
    — bucket equi-join scale shape, DuckDB-verifiable end to end."""
    from rastertiler_rs_spark.operators.embedding import lsh_topk_int

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    return lsh_topk_int(emb.select("vec_id", "embedding"), queries, k=5).select(
        "qid", "vec_id", "dot", "rank")


def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a real Lloyd's coarse quantizer (2 iterations,
    deterministic init, integer math end to end) — list-id equi-join
    scale shape, DuckDB-verifiable including the k-means itself."""
    from rastertiler_rs_spark.operators.embedding import ivf_topk_int

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    return ivf_topk_int(emb.select("vec_id", "embedding"), queries, k=5).select(
        "qid", "vec_id", "dot", "rank")


# embedding near-dup: the synthetic embeddings are near-random (max
# pairwise cosine 0.51 at sf0.01), so — like phash_near below — the
# query plants deterministic near-duplicate variants IN THE QUANTIZED
# INTEGER DOMAIN (vi' = vi + small modular delta), where both engines
# construct bit-identical inputs; threshold 0.90 cleanly separates
# planted pairs (cos ≈ 0.999) from every base pair.
_ND_SCALE = 256          # |vi| <= ~2^9: the squared-cosine test fits int64
_ND_VARIANT_OFFSET = 10_000_000
_ND_THRESHOLD_X100 = 90


def q_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (embedding.py pq_topk_int): the
    compressed-codes exhaustive scan — m=8 per-subspace Lloyd's
    codebooks, codes-only scan side, broadcast per-query ADC tables —
    integer end to end, so training AND scoring are DuckDB-verifiable."""
    from rastertiler_rs_spark.operators.embedding import pq_topk_int

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
    return pq_topk_int(emb.select("vec_id", "embedding"), queries, k=5).select(
        "qid", "vec_id", "dot", "rank")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): banded
    hyperplane-LSH blocking (24 integer planes → 3 bands × 8 sign bits,
    weights from the public modular formula) + integer-exact
    squared-cosine verification — the no-all-pairs shape of
    minhash_lsh/simhash/phash applied to the embedding column. Fully
    BIGINT end to end ⇒ DuckDB-verifiable."""
    from rastertiler_rs_spark.operators.embedding import neardup_pairs_int

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: F.floor(x.cast("double") * _ND_SCALE)
                    .cast("long")).alias("vi"))
    variants = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + _ND_VARIANT_OFFSET).alias("vec_id"),
        F.transform(
            "vi",
            lambda x, i: x + (F.col("vec_id") * 31 + i.cast("long")) % 5 - 2
        ).alias("vi"))
    return neardup_pairs_int(base.unionByName(variants),
                             threshold_x100=_ND_THRESHOLD_X100)


# 48-bit synthetic phash from pure modular arithmetic (no engine hash),
# so the DuckDB oracle derives the identical value. 3 bands x 16 bits:
# pigeonhole guarantees recall for hamming <= 2; the planted variants
# flip 3 bits ALL WITHIN band 0 (mask 0x25), leaving 2 bands intact.
_PH_MOD32, _PH_MOD16 = 1 << 32, 1 << 16
_PH_MUL1, _PH_MUL2 = 2654435761, 40503
_PH_MASK = 0x25
_PH_VARIANT_OFFSET = 100_000_000
_SESS_GAP_US = 1_800_000_000  # 30 min in microseconds


def q_phash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates by perceptual hash (banded hamming,
    /root/reference has no analog — training-data north star): band the
    phash into 16-bit keys, bucket self-join (never all-pairs), verify
    hamming via bit_count(a XOR b). Built over the orders table with a
    derived phash so the DuckDB oracle can mirror it bit for bit."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 77 == 0)
    phash = (((F.col("o_orderkey") * F.lit(_PH_MUL1)) % F.lit(_PH_MOD32))
             * F.lit(_PH_MOD16)
             + (F.col("o_orderkey") * F.lit(_PH_MUL2)) % F.lit(_PH_MOD16))
    base = o.select(F.col("o_orderkey").alias("iid"), phash.alias("phash"))
    variants = base.filter(F.col("iid") % 3 == 0).select(
        (F.col("iid") + F.lit(_PH_VARIANT_OFFSET)).alias("iid"),
        F.col("phash").bitwiseXOR(F.lit(_PH_MASK)).alias("phash"))
    img = base.unionByName(variants)
    bands = img.select(
        "iid", "phash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("phash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for i in range(3)
        ])).alias("b"),
    ).select("iid", "phash", "b.band", "b.val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.iid") < F.col("b.iid")))
        .select(F.col("a.iid").alias("id_a"), F.col("b.iid").alias("id_b"),
                F.col("a.phash").alias("ph_a"), F.col("b.phash").alias("ph_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    derived = pairs.withColumn(
        "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
    ).filter(F.col("hamming") <= 8).select("id_a", "id_b", "hamming")
    # ahash leg: the SAME banded-hamming machinery over hashes COMPUTED
    # from pixels (image_ahash) — ids duplicated (+10000, identical
    # hash) so hamming-0 pairs are planted; the twin rederives the
    # hashes from the pixel formula end to end
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.multimodal import image_ahash

    ah = image_ahash(spark.read.parquet(images_parquet(64, "u8")))
    hs = ah.select(
        F.substring("image_id", 4, 8).cast("long").alias("iid"),
        F.col("vmin").alias("lo"), F.col("vmax").alias("hi"))
    dup2 = hs.unionByName(hs.select((F.col("iid") + 10000).alias("iid"),
                                    "lo", "hi"))
    abands = dup2.select(
        "iid", "lo", "hi",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright(F.col("lo") if i < 2 else F.col("hi"),
                                  16 * (i % 2))
                     .bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for i in range(4)
        ])).alias("b")).select("iid", "lo", "hi", "b.band", "b.val")
    aa, bb = abands.alias("a"), abands.alias("b")
    apairs = (
        aa.join(bb, (F.col("a.band") == F.col("b.band"))
                & (F.col("a.val") == F.col("b.val"))
                & (F.col("a.iid") < F.col("b.iid")))
        .select(F.col("a.iid").alias("id_a"), F.col("b.iid").alias("id_b"),
                F.col("a.lo").alias("lo_a"), F.col("a.hi").alias("hi_a"),
                F.col("b.lo").alias("lo_b"), F.col("b.hi").alias("hi_b"))
        .dropDuplicates(["id_a", "id_b"]))
    ahash_leg = (apairs.withColumn(
        "hamming",
        (F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
         + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))))
        .cast("int"))
        .filter(F.col("hamming") <= 8)
        .select("id_a", "id_b", "hamming"))
    return _union_variants(("derived", derived), ("ahash", ahash_leg))


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: decode opaque binary image column, check
    declared vs actual dims (synthesized input-table shape). Includes a
    REAL-JPEG slice: 16 fixture bands encoded by the from-spec baseline
    JPEG encoder (jpeg/codec.py) whose SOF header the real decoder must
    parse back to the generation-formula dims — so the jpeg codec path
    runs under the value gate, not just pytest. And a REAL-WEBP slice:
    16 bands muxed by the from-spec VP8L lossless encoder
    (webp/codec.py) whose 14-bit header dims the probe must read back
    — the webp container path under the value gate too. And a
    PROGRESSIVE-JPEG slice: 16 bands through the Annex-G encoder
    (SOF2, spectral selection + successive approximation) whose frame
    header the progressive parse path must read back. And a
    LOSSY-WEBP slice: 16 bands through the from-spec VP8 keyframe
    encoder (webp/vp8.py) whose 'VP8 ' frame-tag dims the probe must
    read back."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import (_H_CYCLE, _W_CYCLE,
                                               images_parquet, pixel_band)
    from rastertiler_rs_spark.jpeg import encode_jpeg_gray
    from rastertiler_rs_spark.jpeg.codec import encode_jpeg_gray_progressive
    from rastertiler_rs_spark.operators.multimodal import image_metadata
    from rastertiler_rs_spark.webp import (encode_webp_lossless,
                                           encode_webp_lossy_gray)

    images = spark.read.parquet(images_parquet(64, "u8"))
    jrows = []
    for i in range(16):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        jrows.append((f"jpg{i:08d}",
                      encode_jpeg_gray(pixel_band(i, w, h, "u8"), 90),
                      w, h, "jpeg"))
    jpegs = spark.createDataFrame(
        jrows, "image_id string, bytes binary, w int, h int, fmt string")
    prows = []
    for i in range(16):
        w, h = 24 + (i % 4) * 8, 16 + (i % 4) * 8
        prows.append((f"pjp{i:08d}",
                      encode_jpeg_gray_progressive(pixel_band(i, w, h, "u8"), 90),
                      w, h, "jpeg"))
    pjpegs = spark.createDataFrame(
        prows, "image_id string, bytes binary, w int, h int, fmt string")
    wrows = []
    for i in range(16):
        w, h = 16 + (i % 4) * 16, 12 + (i % 4) * 8
        band = pixel_band(i, w, h, "u8")
        rgba = np.stack([band] * 3 + [np.full((h, w), 255, np.uint8)], -1)
        wrows.append((f"wbp{i:08d}", encode_webp_lossless(rgba), w, h, "webp"))
    webps = spark.createDataFrame(
        wrows, "image_id string, bytes binary, w int, h int, fmt string")
    lrows = []
    for i in range(16):
        w, h = 20 + (i % 4) * 12, 10 + (i % 4) * 6
        lrows.append((f"wbl{i:08d}",
                      encode_webp_lossy_gray(
                          pixel_band(i, w, h, "u8"), qi=20),
                      w, h, "webp"))
    lossy = spark.createDataFrame(
        lrows, "image_id string, bytes binary, w int, h int, fmt string")
    return (image_metadata(images).unionByName(image_metadata(jpegs))
            .unionByName(image_metadata(pjpegs))
            .unionByName(image_metadata(webps))
            .unionByName(image_metadata(lossy)))


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize, VALUE-verified: nearest-neighbor (kernel K2
    index rule) to 32x32 over the opaque binary column, then decode the
    resized PNGs back and emit integer pixel stats (count/sum/min/max +
    a position-weighted checksum that pins WHERE each pixel landed).
    The DuckDB twin recomputes the K2 index rule and the fixture pixel
    formula (splitmix64 is four bigint ops — SQL-expressible) so the
    hash covers the actual resampled values, not just byte lengths."""
    return _resize_stats_query(spark, method="nearest", n=64)


def q_image_resize_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (majority) resample under the value gate — the categorical
    rule the north star names beside nearest: every source pixel votes
    in dst cell (r*32//h, c*32//w), nodata abstains, most-frequent
    wins with ties to the smallest value, empty cells stay nodata. The
    DuckDB twin restates the vote verbatim (GROUP BY cell+value →
    ROW_NUMBER ORDER BY cnt DESC, v ASC) over the fixture pixel
    formula, then stats the winning values — integer end to end."""
    return _resize_stats_query(spark, method="mode", n=24)


def q_image_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BILINEAR resample under the value gate — the continuous-raster
    rule beside nearest/mode, in EXACT fixed-point arithmetic: source
    coord of dst i is N/(2·dst) with N = (2i+1)·src − dst, corner
    weights are integers over (2·dst)², blend = one round-half-up
    integer division, nodata propagates strictly from any of the 4
    corners. The DuckDB twin restates the identical integer clauses
    over the fixture pixel formula (offset form M = N + 2·dst keeps
    the quotient positive — DuckDB // truncates, numpy floors)."""
    return _resize_stats_query(spark, method="bilinear", n=24)


def q_image_resize_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE (box-mean) resample under the value gate — gdaladdo's
    default overview rule: every source pixel joins dst cell
    (r*32//h, c*32//w) (the mode partition), nodata is excluded, the
    cell is the round-half-up mean (2·sum + cnt)//(2·cnt) of its valid
    members, empty cells stay nodata. All operands non-negative, so
    DuckDB's truncating // and numpy's flooring // agree and the twin
    restates the rule verbatim over the fixture pixel formula."""
    return _resize_stats_query(spark, method="average", n=24)


def _resize_stats_query(spark: SparkSession, method: str, n: int) -> DataFrame:
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.multimodal import resize_images

    target = 32
    images = spark.read.parquet(images_parquet(n, "u8"))
    out = resize_images(images, target=target, method=method)

    def stats_fn(batches):
        import numpy as np
        import pandas as pd

        from rastertiler_rs_spark.png import decode_band

        pos = np.arange(target * target, dtype=np.int64).reshape(target, target)
        for pdf in batches:
            o = {k: [] for k in ("image_id", "n_pixels", "n_data", "vsum",
                                 "vmin", "vmax", "mean_x100", "pos_sum")}
            for row in pdf.itertuples(index=False):
                band = decode_band(bytes(row.bytes), "png;u8").astype(np.int64)
                mask = band != 0
                vals = band[mask]
                vsum = int(vals.sum())
                o["image_id"].append(row.image_id)
                o["n_pixels"].append(int(band.size))
                o["n_data"].append(int(vals.size))
                o["vsum"].append(vsum)
                o["vmin"].append(int(vals.min()) if vals.size else 0)
                o["vmax"].append(int(vals.max()) if vals.size else 0)
                o["mean_x100"].append(vsum * 100 // vals.size
                                      if vals.size else 0)
                o["pos_sum"].append(int((vals * pos[mask]).sum()))
            yield pd.DataFrame(o)

    return out.mapInPandas(
        stats_fn, "image_id string, n_pixels long, n_data long, vsum long, "
                  "vmin long, vmax long, mean_x100 long, pos_sum long")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction, VALUE-verified: integer pixel
    statistics per image over the opaque binary column (real PNG
    decode). The DuckDB twin rederives every stat from the fixture
    pixel formula + hole rule in SQL — splitmix64 pixels are four
    bigint ops, proven SQL-expressible by the JVM footprint port."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.multimodal import image_features

    images = spark.read.parquet(images_parquet(64, "u8"))
    return image_features(images)


def q_image_features_vp8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-WebP PIXEL decode under the value gate: 16 solid-gray
    frames through the from-spec VP8 keyframe codec (webp/vp8.py) at
    qi=0 — the family where reconstruction is bit-exact (DC-only
    residual path, pinned for all 256 grays in tests/test_vp8.py) —
    then image_features must recover the closed-form solid stats the
    DuckDB twin states from the generation formula. i=0 is the
    all-nodata (g=0) hole case."""
    import numpy as np

    from rastertiler_rs_spark.operators.multimodal import image_features
    from rastertiler_rs_spark.webp import encode_webp_lossy_gray

    rows = []
    for i in range(16):
        w, h = 24 + (i % 4) * 16, 16 + (i % 4) * 8  # non-multiple-of-16
        g = 0 if i == 0 else (i * 37 + 5) % 256
        data = encode_webp_lossy_gray(
            np.full((h, w), g, dtype=np.uint8), qi=0)
        rows.append((f"wbv{i:08d}", data, w, h, "webp"))
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    return image_features(images)


def q_image_features_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode under the value gate: the first 24
    fixture bands re-encoded with interlace method 1 by the engine's
    own Adam7 encoder (png/codec.py encode_interlaced — seven
    independently filtered sub-images scattered by (origin, step)), so
    image_features must deinterlace correctly to reproduce the SAME
    pixel-formula stats as the plain leg; the DuckDB twin is the
    identical formula SQL with the 'adm' id prefix."""
    from rastertiler_rs_spark.fixtures import _H_CYCLE, _W_CYCLE, pixel_band
    from rastertiler_rs_spark.operators.multimodal import image_features
    from rastertiler_rs_spark.png import encode_interlaced

    rows = []
    for i in range(24):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        data = encode_interlaced(pixel_band(i, w, h, "u8"), 8, 0,
                                 trns=bytes([0, 0]))
        rows.append((f"adm{i:08d}", data, w, h, "png;u8"))
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    return image_features(images)


def q_image_features_u16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit grayscale PNG (the DEM/elevation interop form) under the
    value gate: 16 bands with a linear-congruence value formula are
    encoded big-endian by encode_grayscale16 and must decode back to
    the exact int64 stats the DuckDB twin computes from the formula;
    (i=0, r=0, c=0) plants a genuine nodata-zero pixel."""
    import numpy as np

    from rastertiler_rs_spark.operators.multimodal import image_features
    from rastertiler_rs_spark.png import encode_grayscale16

    rows = []
    for i in range(16):
        w, h = 40 + (i % 4) * 24, 30 + (i % 4) * 18
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        band = ((1000 * i + 37 * r + 101 * c) % 65536).astype(np.uint16)
        rows.append((f"u16{i:08d}", encode_grayscale16(band, 0),
                     w, h, "png;u16"))
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")
    return image_features(images)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-executed Structured Streaming entry, VALUE-verified: runs
    the applyInPandasWithState first-seen dedup (streaming/events.py)
    over a deterministic drop of documents (availableNow, fresh
    checkpoint per invocation) and returns the emitted unique set. With
    the whole drop in one batch, first-seen == lowest doc_id per
    content key, which the DuckDB twin states as GROUP BY md5(text) —
    so the stateful streaming path itself is oracle-checked."""
    import shutil
    import tempfile

    from rastertiler_rs_spark.streaming.events import stream_dedup_first_seen

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0).select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_dedup_")
    inp, out = f"{work}/in", f"{work}/out"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:  # temp workdir must be reclaimed on EVERY exit, incl. timeouts
        docs.coalesce(1).write.parquet(inp)
        spark.conf.set("spark.sql.shuffle.partitions", "4")  # gate-sized state
        try:
            q = stream_dedup_first_seen(spark, inp, out,
                                        max_files_per_trigger=8)
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "stream_dedup did not drain within 300s — refusing to "
                    "read partial output as a result")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        # driver-side materialization is contract plumbing, not a data
        # path: the unique set is bounded by the filtered doc count (100
        # rows at sf0.01) and the temp dir must be reclaimed before return
        result = (spark.read.parquet(f"{out}/unique")
                  .select("content_key", "doc_id").collect())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(result, "content_key string, doc_id long")


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-executed watermarked window aggregation, VALUE-verified:
    runs stream_window_counts (1-hour tumbling windows, 2-hour
    watermark) over a deterministic single-file drop of events. With
    one batch, no row is late; the trailing no-data batch advances the
    watermark to max(ts) - 2h and finalizes exactly the windows ending
    at or before it — which the DuckDB twin states directly as an
    hour-bucket GROUP BY filtered on win_end <= max(ts) - 2h."""
    import shutil
    import tempfile

    from rastertiler_rs_spark.streaming.events import stream_window_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0)
    work = tempfile.mkdtemp(prefix="stream_window_")
    inp, out = f"{work}/in", f"{work}/out"
    # the state store inherits shuffle.partitions at stream start; this
    # gate-sized stream wants few state partitions, not the session's
    # render-sized setting (fresh checkpoint per call, so safe to pin)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:  # temp workdir must be reclaimed on EVERY exit, incl. timeouts
        ev.coalesce(1).write.parquet(inp)
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = stream_window_counts(spark, inp, out, window="1 hour",
                                     watermark="2 hours",
                                     max_files_per_trigger=8)
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "stream_window did not drain within 300s — refusing to "
                    "read partial output as a result")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        result = (spark.read.parquet(f"{out}/counts")
                  .select("win_start", "win_end", "event_type", "n_events",
                          "value_cents").collect())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        result, "win_start timestamp, win_end timestamp, "
                "event_type string, n_events long, value_cents long")


def q_stream_render_tile_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-executed STREAMING render, VALUE-verified: drops the
    no-hole fixture images into an input directory as three separate
    parquet files, drains them through streaming/ingest.stream_render
    (availableNow, maxFilesPerTrigger=1 ⇒ multiple incremental
    micro-batches, each exercising the copy-on-write partition upsert
    and mosaic-over merge), then returns the live tile table's
    (zoom, x, y) set. Over fully-opaque images the maintained set must
    equal the exact SQL tile cover of all images — the same invariant
    twin as render_tile_ids, now pinning the incremental path under the
    driver gate (batch arrival order cannot change the ID set)."""
    import os
    import shutil
    import tempfile

    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.streaming.ingest import stream_render

    keep, *_ = _nohole_image_rows(256)
    ids = [f"img{int(i):08d}" for i in keep]
    images = spark.read.parquet(images_parquet(256, "u8")).filter(
        F.col("image_id").isin(ids))
    work = tempfile.mkdtemp(prefix="stream_render_")
    inp, out = f"{work}/in", f"{work}/out"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:  # temp workdir must be reclaimed on EVERY exit, incl. timeouts
        os.makedirs(inp, exist_ok=True)
        idx = F.expr("cast(substring(image_id, 4) as bigint)")
        for k in range(3):  # three files = three ingest units
            images.filter(idx % 3 == k).coalesce(1).write.mode(
                "append").parquet(inp)
        spark.conf.set("spark.sql.shuffle.partitions", "8")  # gate-sized
        try:
            # the render() inside each micro-batch re-reads the multiplier,
            # so the pin must span the whole drain
            with _gate_cell_mult():
                q = stream_render(spark, inp, out, 7, 9, tile_size=128,
                                  max_files_per_trigger=1)
                if not q.awaitTermination(300):
                    q.stop()
                    raise RuntimeError(
                        "stream_render did not drain within 300s — refusing "
                        "to read partial output as a result")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        result = (spark.read.parquet(f"{out}/tiles")
                  .select(F.col("zoom").cast("int"), "x", "y")
                  .distinct().collect())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(result, "zoom int, x long, y long")


def q_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup (monthly revenue per nation): fact orders ⋈
    customer on the shuffled key, nation dimension explicitly
    broadcast — the classic 100 TB star-join shape (one shuffle for the
    fact⋈customer equi-join, zero for the dim). Revenue floored to
    integer cents on both engines; month as yyyymm int (UTC session)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice")
    yyyymm = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", yyyymm.alias("yyyymm"))
        .agg(F.count("*").alias("n_orders"),
             F.count_distinct("o_custkey").alias("n_customers"),
             F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
             .alias("revenue_cents")))


# window-funnel parameters shared by the Spark leg and the DuckDB twin:
# signup→view→click→purchase within 24 h (chosen so the sf0.001/sf0.01
# tables exercise every level 1..4, not a degenerate all-max corpus)
_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
_FUNNEL_W_US = 86_400 * 1_000_000


def _funnel_dp_cte(standalone: bool = True) -> str:
    """Shared DuckDB transcription of the windowFunnel DP over the
    events table: CTE `r` holds per-event f1..f4 latest-chain-starts
    and row_lvl; used by the sessionize `funnel` leg (batch operator)
    AND the stream_events `funnel` leg (incremental state operator) —
    one twin, two executors under it. standalone=False omits the WITH
    keyword so the chain can join an existing CTE list."""
    legs = [f"""e AS (SELECT user_id, event_type AS etype,
                  epoch_us(ts) AS us FROM events),
    c1 AS (SELECT user_id, etype, us,
                  CASE WHEN etype = '{_FUNNEL_STEPS[0]}' THEN us END AS f1
           FROM e)"""]
    for j in range(2, len(_FUNNEL_STEPS) + 1):
        legs.append(f"""c{j} AS (SELECT *, CASE WHEN etype = '{_FUNNEL_STEPS[j - 1]}'
                          AND MAX(f{j - 1}) OVER w >= us - {_FUNNEL_W_US}
                          THEN MAX(f{j - 1}) OVER w END AS f{j}
           FROM c{j - 1} WINDOW w AS (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""")
    lvl = "CASE " + " ".join(
        f"WHEN f{j} IS NOT NULL THEN {j}"
        for j in range(len(_FUNNEL_STEPS), 0, -1)) + " ELSE 0 END"
    k = len(_FUNNEL_STEPS)
    body = (",\n".join(legs)
            + f",\nr AS (SELECT *, {lvl} AS row_lvl FROM c{k})")
    return "WITH " + body if standalone else body


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-behavior analytics union over events, two legs sharing the
    per-user shuffle shape:
    - rollup: gap-based sessionization (30-min gap) — lag +
      cumulative-sum session assignment, one shuffle on user_id shared
      by both windows and the aggregate; epoch seconds floored on both
      engines before the gap compare (repo float rule).
    - funnel: windowFunnel (max completed ordered-step level within a
      sliding 24 h window) — single-sort DP, one exchange, k running-max
      window passes (operators/funnel.py). Coerced into the rollup
      shape: session_seq←level, n_events←n_entry (count of entry-step
      events), start_es←latest full-chain start (epoch µs, -1 if none),
      end_es←sum of per-event DP levels (pins the whole DP table),
      duration_s/value_cents←0."""
    from rastertiler_rs_spark.operators.funnel import window_funnel
    from rastertiler_rs_spark.operators.sessionize import session_rollup

    ev = _t(spark, sf_dir, "events")
    roll = session_rollup(ev, gap_minutes=30)
    fn = window_funnel(ev, _FUNNEL_STEPS, _FUNNEL_W_US)
    fleg = fn.select(
        F.col("user").alias("user_id"),
        F.col("level").alias("session_seq"),
        F.col("n_entry").alias("n_events"),
        F.coalesce(F.col("last_full_start_us"), F.lit(-1))
        .cast("long").alias("start_es"),
        F.col("sum_levels").alias("end_es"),
        F.lit(0).cast("long").alias("duration_s"),
        F.lit(0).cast("long").alias("value_cents"))
    # cohort = daily cohort-retention triangle (sessionize.py
    # cohort_retention: one user shuffle, set-valued activity, no
    # self-join); coerced as user_id←cohort, session_seq←k (periods
    # since first activity), n_events←active distinct users
    from rastertiler_rs_spark.operators.sessionize import cohort_retention

    z = F.lit(0).cast("long")
    cleg = cohort_retention(ev, period_s=86400).select(
        F.col("cohort").alias("user_id"),
        F.col("k").alias("session_seq"),
        F.col("n_users").alias("n_events"),
        z.alias("start_es"), z.alias("end_es"),
        z.alias("duration_s"), z.alias("value_cents"))
    return _union_variants(("rollup", roll), ("funnel", fleg),
                           ("cohort", cleg))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality feature extraction, VALUE-verified end to end: the
    Spark side synthesizes real RIFF/WAV PCM16 bytes (modular-formula
    samples), parses them back with the engine's WAV reader, and
    aggregates integer stats; the DuckDB twin rederives the same stats
    straight from the sample formula — so the oracle checks the WAV
    encode→parse round-trip as well as the feature math."""
    from rastertiler_rs_spark.fixtures import audio_parquet
    from rastertiler_rs_spark.operators.multimodal import audio_features

    clips = spark.read.parquet(audio_parquet(64))
    return audio_features(clips).select(
        "audio_id", "sample_rate", "channels", "n_samples",
        "duration_ms", "peak", "sum_sq")


def q_video_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container probe, VALUE-verified end to end: the fixture
    muxes real ISO BMFF files (media/mp4.py — ftyp/mdat/moov with full
    sample tables), the engine parses the moov tree back (tkhd
    geometry, stsz count, mvhd duration, stsd fourcc), and the DuckDB
    twin rederives every field from the generation formulas — so the
    oracle checks the mux→parse round-trip, not just arithmetic.
    Payload decode is environment-blocked by design; this is container
    metadata (north-star multimodal extension; no reference analog)."""
    from rastertiler_rs_spark.fixtures import videos_parquet
    from rastertiler_rs_spark.operators.multimodal import video_probe

    vids = spark.read.parquet(videos_parquet(64))
    return video_probe(vids).select(
        "video_id", "width", "height", "n_frames", "duration_ms", "codec")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP4 demultiplexing under the oracle: frame_sample walks
    stsz/stsc/stco and emits every 4th stored sample payload; the twin
    rederives each sampled frame's byte length AND first byte from the
    deterministic payload formulas — an offset error anywhere in the
    chunk walk scrambles both. (Demux is real; payload DECODE stays the
    documented environment-blocked stub.)"""
    from rastertiler_rs_spark.fixtures import videos_parquet
    from rastertiler_rs_spark.operators.multimodal import frame_sample

    vids = spark.read.parquet(videos_parquet(32))
    frames = frame_sample(vids, every_n=4)
    return frames.select(
        "video_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame_bytes").cast("long").alias("frame_len"),
        F.expr("cast(conv(hex(substring(frame_bytes, 1, 1)), 16, 10) as bigint)"
               ).alias("byte0"))


def q_video_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pixel decode under the value gate, for TWO codec
    families in THREE containers: Motion-JPEG MP4s AND Motion-JPEG
    AVIs (every stored frame a real baseline JPEG muxed by the real
    ISO BMFF / RIFF writers) and VP8-in-WebM (every SimpleBlock a real
    VP8 keyframe muxed by the real EBML writer) are demuxed AND
    decoded to pixels by the engine's own from-spec codecs, then
    reduced to integer per-frame stats; animated GIF and animated WebP
    legs run their full composition loops over the composed canvas.
    The DuckDB twin recomputes the
    stats in closed form from the solid frame-value formulas — valid
    because the baseline JPEG round-trip is bit-exact for solid frames
    at q90 and the VP8 round-trip at qi=0 (each pinned for all 256
    values in test_jpeg / test_vp8) — so a defect anywhere in
    mux→demux→huffman/bool-coder→IDCT arithmetic, in any container
    walk, flips the hash."""
    from rastertiler_rs_spark.fixtures import (avi_mjpeg_parquet,
                                                mjpeg420_parquet,
                                                mjpeg_parquet)
    from rastertiler_rs_spark.operators.multimodal import video_frame_stats

    cols = ["video_id", F.col("frame_no").cast("long").alias("frame_no"),
            F.col("w").cast("long").alias("w"),
            F.col("h").cast("long").alias("h"),
            "n_px", "vsum", "vmin", "vmax", "checksum"]
    mp4 = spark.read.parquet(mjpeg_parquet(24))
    avi = spark.read.parquet(avi_mjpeg_parquet(16))
    # SUBSAMPLED leg: solid-gray 4:2:0 / 4:2:2 color JPEGs — puts the
    # 2x2/2x1 MCU walk + replication upsample + color inverse under the
    # gate bit-exactly (solid gray: Cb=Cr=128, q90 DC exact; 3-channel
    # flatten => n_px = 3*w*h in the twin)
    sub = spark.read.parquet(mjpeg420_parquet(16))
    # GIF leg: real LZW decode + frame composition (gif/codec.py);
    # solid full-frame fixtures make the composed RGB canvas stats
    # closed-form (palette formulas in fixtures.gif_palette)
    from rastertiler_rs_spark.fixtures import gif_videos_parquet

    gif = spark.read.parquet(gif_videos_parquet(18))
    # VP8 leg: solid VP8 keyframes in real WebM — the SECOND video
    # codec family decoded end to end (EBML demux + webp/vp8.py);
    # closed-form because solid VP8 round-trips bit-exactly at qi=0
    # (test_vp8 pins all 256 values)
    from rastertiler_rs_spark.fixtures import webm_vp8_parquet

    webm = spark.read.parquet(webm_vp8_parquet(18))
    # animated-WebP leg: full-canvas solid RGBA frames whose VP8L
    # payloads round-trip exactly, so composed-canvas RGBA stats are
    # closed-form (fixtures.webpanim_channel); exercises the VP8X/ANMF
    # walk + composition loop end to end
    from rastertiler_rs_spark.fixtures import webpanim_parquet

    wan = spark.read.parquet(webpanim_parquet(16))
    # APNG leg: full-canvas solid RGBA frames through acTL/fcTL/fdAT
    # demux + the still-PNG decoder + composition — exact because PNG
    # is lossless, so composed-canvas stats are closed-form
    from rastertiler_rs_spark.fixtures import apng_parquet

    apg = spark.read.parquet(apng_parquet(16))
    return (video_frame_stats(mp4, every_n=2).select(*cols)
            .unionByName(video_frame_stats(avi, every_n=2).select(*cols))
            .unionByName(video_frame_stats(sub, every_n=2).select(*cols))
            .unionByName(video_frame_stats(gif, every_n=2).select(*cols))
            .unionByName(video_frame_stats(webm, every_n=2).select(*cols))
            .unionByName(video_frame_stats(wan, every_n=2).select(*cols))
            .unionByName(video_frame_stats(apg, every_n=2).select(*cols)))


def q_audio_probe_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 framing metadata, VALUE-verified: the fixture writes real
    MPEG-1 Layer III frame sequences (valid sync/bitrate/samplerate
    headers, per-frame padding), the engine walks every header
    (media/mp3.py) deriving rate/channels/sample count, and the twin
    recomputes them from the generation parameters — verifying the
    frame-length accounting (144*kbps*1000//sr + padding) across the
    whole stream. Huffman payload decode stays environment-blocked."""
    from rastertiler_rs_spark.fixtures import mp3_parquet
    from rastertiler_rs_spark.operators.multimodal import audio_probe

    clips = spark.read.parquet(mp3_parquet(48))
    return audio_probe(clips).select(
        "audio_id", "container", "sample_rate", "channels",
        "n_samples", "duration_ms")


def q_render_pyramid_tile_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin of the overview cascade: over fully-opaque images
    the pyramid's (zoom, x, y) set at every level equals the exact SQL
    tile cover — a cascade parent exists iff >= 1 child exists, and for
    no-hole footprints the cover nests exactly (the ε/clamp rule is
    consistent across zooms because fixture footprints align to the
    z14 grid). Catches parent-indexing/decimation-set regressions even
    though overview PNG bytes stay rows-only."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid

    keep, *_ = _nohole_image_rows(256)
    ids = [f"img{int(i):08d}" for i in keep]
    images = spark.read.parquet(images_parquet(256, "u8")).filter(
        F.col("image_id").isin(ids))
    fused = render_pyramid(images, 7, 9, tile_size=128, dtype_tag="u8",
                           overview_below=9)
    return fused.select("zoom", "x", "y").distinct()


def q_render_pyramid_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: overview cascade — zooms below the threshold built from the
    zoom above by 2x2 nearest decimation (not SQL-expressible; PSNR-
    gated vs direct render in tests/test_overview_salt.py)."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid

    images = spark.read.parquet(images_parquet(64, "u8"))
    fused = render_pyramid(images, 2, 8, tile_size=128, dtype_tag="u8",
                           overview_below=7)
    return fused.select("zoom", "x", "tile_row", "tile_hash")


def q_render_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship render (kernel K1 + encoders E1 — not SQL-expressible;
    golden-tested against the numpy oracle in tests/)."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    images = spark.read.parquet(images_parquet(64, "u8"))
    fused = render(images, 0, 8, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "tile_row", "tile_hash")


def q_render_tiles_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u32 render: adaptive palette-vs-RGB encoder dispatch (E4/E5,
    /root/reference/src/render.rs:257-279) executed by the driver each
    round (rows-only: PNG bytes; byte-parity pinned in pytest)."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    images = spark.read.parquet(images_parquet(48, "u32"))
    fused = render(images, 2, 7, tile_size=128, dtype_tag="u32")
    return fused.select("zoom", "x", "tile_row", "tile_hash")


def q_render_tiles_colormap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u8 + user colormap render: paletted PNG with default-0 lookup
    (E2/E6/P4, /root/reference/src/png/colormap parse + render.rs u8
    branch) executed by the driver each round (rows-only)."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    images = spark.read.parquet(images_parquet(48, "u8"))
    cmap = "1:#686868,2:#38A800,3:#859B6C,4:#3B7D46,5:#FF00FF"
    fused = render(images, 2, 7, tile_size=128, dtype_tag="u8",
                   colormap_str=cmap)
    return fused.select("zoom", "x", "tile_row", "tile_hash")


def _nohole_image_rows(n: int = 256):
    """Indices + exact footprints of the fixture images that are fully
    opaque (hole class 0: no nodata anywhere), per the shared pixel rule
    fixtures.pixel_band. For these, the rendered tile-ID set equals the
    exact tile cover — no dropped-tile rule can fire."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import footprint_from_index
    from rastertiler_rs_spark.functions.hashing import splitmix64

    idx = np.arange(n, dtype=np.uint64)
    g = splitmix64(idx)
    keep = np.flatnonzero(((g >> np.uint64(34)) & np.uint64(7)) == 0)
    minx, miny, maxx, maxy = footprint_from_index(keep)
    return keep, minx, miny, maxx, maxy


def q_render_tile_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin of the render: the (zoom, x, y) tile-ID set the
    kernel actually emits over fully-opaque images must equal the exact
    tile cover of their footprints (tileid.rs:100-145 semantics) — the
    oracle recomputes the cover in SQL from the same footprints, so any
    manifest/partitioning regression in the render path breaks the hash
    even though PNG bytes stay rows-only.

    Zooms 7-9 only: below z7 an image can round to a zero-size read
    window (the reference's empty-window skip, window.rs round rule) and
    legitimately drop out of the render while staying in the cover. At
    z >= 7 fixture footprints align to quarter-cells of the ZBASE grid
    (>= 1 tile pixel), so no window can round empty and the sets are
    provably equal."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    keep, *_ = _nohole_image_rows(256)
    ids = [f"img{int(i):08d}" for i in keep]
    images = spark.read.parquet(images_parquet(256, "u8")).filter(
        F.col("image_id").isin(ids))
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "y").distinct()


def q_render_tile_ids_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin for the u32 render (E4/E5 adaptive dispatch,
    /root/reference/src/render.rs:257-279): hole classes and footprints
    are dtype-independent (fixtures.pixel_band bits 34-36 /
    footprint_from_index), so over fully-opaque u32 images the emitted
    (zoom, x, y) set must equal the same exact SQL cover as the u8
    twin — this puts the u32 kernel/mosaic/dispatch path under the value
    gate even though its PNG bytes stay rows-only."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    keep, *_ = _nohole_image_rows(256)
    ids = [f"img{int(i):08d}" for i in keep]
    images = spark.read.parquet(images_parquet(256, "u32")).filter(
        F.col("image_id").isin(ids))
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u32")
    return fused.select("zoom", "x", "y").distinct()


def q_render_tile_ids_colormap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant twin for the colormap render (E2/E6/P4): the palette
    default-0 lookup applies AFTER the all-nodata drop rule (mosaic
    returns None pre-encode), so the tile-ID set over opaque images is
    colormap-independent and must equal the exact cover. The colormap
    deliberately covers only a few values so the default-0 path is hot
    in the encoded bytes."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    keep, *_ = _nohole_image_rows(256)
    ids = [f"img{int(i):08d}" for i in keep]
    images = spark.read.parquet(images_parquet(256, "u8")).filter(
        F.col("image_id").isin(ids))
    cmap = "1:#686868,2:#38A800,3:#859B6C,4:#3B7D46,5:#FF00FF"
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u8",
                   colormap_str=cmap)
    return fused.select("zoom", "x", "y").distinct()


_PIXEL_STATS_N = 64
_PIXEL_STATS_ZMIN, _PIXEL_STATS_ZMAX = 8, 12
_PIXEL_STATS_TS = 128


def q_render_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-PIXEL value gate for the render (K1/K2 + mosaic + E1):
    run the real pipeline (footprints → cover → window-read → nearest
    resample → mosaic → PNG encode), decode the emitted PNG bytes back,
    and aggregate per-tile integer stats over non-nodata pixels —
    count, sum, min, max, and a position-weighted checksum that pins
    WHERE each pixel landed on the canvas. The DuckDB twin rederives
    the same numbers from the fixture pixel formula plus a full SQL
    transcription of the reference's window arithmetic
    (/root/reference/src/dataset.rs:121-196: window_from_bounds corner
    projection, half-up margin rounding, clamped read offsets, and the
    floor((i+0.5)*src/dst) nearest index rule) and the mosaic overwrite
    rule — so the value hash covers actual resampled pixel VALUES.
    Across z8-z12 the fixtures hit downsampled, upsampled, 1:1, aligned
    and partial-cover windows, and all three hole classes (none /
    rectangular / all-nodata), so the dropped-tile and nodata-backfill
    paths are exercised too."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    return _render_pixel_stats(spark, "u8")


def _render_pixel_stats(spark: SparkSession, dtype_tag: str) -> DataFrame:
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    ts = _PIXEL_STATS_TS
    images = spark.read.parquet(images_parquet(_PIXEL_STATS_N, dtype_tag))
    with _gate_cell_mult():  # n_parts is resolved at plan-build time
        fused = render(images, _PIXEL_STATS_ZMIN, _PIXEL_STATS_ZMAX,
                       tile_size=ts, dtype_tag=dtype_tag)
    return _pixel_stats_of(fused, dtype_tag)


def _pixel_stats_of(fused: DataFrame, dtype_tag: str,
                    fmt: str = "png") -> DataFrame:
    ts = _PIXEL_STATS_TS

    def stats_fn(batches):
        import numpy as np
        import pandas as pd

        from rastertiler_rs_spark.operators.overview import decode_canvas

        if fmt == "webp":
            from rastertiler_rs_spark.operators.transcode import \
                _rgba_to_canvas
            from rastertiler_rs_spark.webp.codec import decode_webp

            def _decode(blob):
                return _rgba_to_canvas(decode_webp(blob), dtype_tag, 0)
        else:
            def _decode(blob):
                return decode_canvas(blob, dtype_tag)

        pos = np.arange(ts * ts, dtype=np.int64).reshape(ts, ts)
        for pdf in batches:
            out = {k: [] for k in ("zoom", "x", "y", "px_count", "val_sum",
                                   "val_min", "val_max", "pos_sum")}
            for row in pdf.itertuples(index=False):
                band = _decode(bytes(row.png)).astype(np.int64)
                mask = band != 0
                vals = band[mask]
                out["zoom"].append(int(row.zoom))
                out["x"].append(int(row.x))
                out["y"].append(int(row.y))
                out["px_count"].append(int(vals.size))
                out["val_sum"].append(int(vals.sum()))
                out["val_min"].append(int(vals.min()))
                out["val_max"].append(int(vals.max()))
                out["pos_sum"].append(int((vals * pos[mask]).sum()))
            yield pd.DataFrame(out)

    return fused.select("zoom", "x", "y", "png").mapInPandas(
        stats_fn,
        "zoom int, x long, y long, px_count long, val_sum long, "
        "val_min long, val_max long, pos_sum long",
    )


def q_render_pixel_stats_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u32 twin of render_pixel_stats: same window-arithmetic SQL
    oracle, u32 pixel formula (low-cardinality third → paletted PNGs,
    rest → RGB), decode via the adaptive-palette-aware decode_canvas —
    so the u32 kernel/mosaic/encode→decode pixel VALUES are under the
    value gate, retiring the last dtype not covered by a pixel
    oracle."""
    return _render_pixel_stats(spark, "u32")


def q_render_pyramid_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-value gate for the OVERVIEW CASCADE itself: run the real
    pyramid (direct z8-9, cascaded z4-7), decode every emitted PNG and
    aggregate the same per-tile integer stats. The oracle derives
    cascaded pixels as strided samples of the SQL base canvas (the
    decimation-composition identity) — so overview PIXEL content, not
    just its tile-ID set, is value-verified under the driver."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid

    images = spark.read.parquet(images_parquet(_PIXEL_STATS_N, "u8"))
    with _gate_cell_mult():
        fused = render_pyramid(images, 4, 9, tile_size=_PIXEL_STATS_TS,
                               dtype_tag="u8", overview_below=8)
    return _pixel_stats_of(fused, "u8")


# ---------------------------------------------------------------------------
# consolidated (multi-leg) contract entries
#
# The round driver executes at most the first 50 queries() keys, so the
# registry folds same-oracle / same-schema variants into single entries
# with a `variant` tag column — every leg still runs and every leg's
# values still cross the hash, but the whole surface fits the driver's
# window. The per-leg q_* functions above stay as the documented units
# (and as pytest surface); these wrappers only union them.
# ---------------------------------------------------------------------------

# Shared DuckDB twin of text.lang_scores (used by the doc_stats
# profile AND the stratified-sample leg of dedup_exact): CTEs
# t -> s -> lang over the `documents` view.
_LANG_CTES = """t AS (SELECT doc_id, ' ' || LOWER(text) || ' ' AS tt FROM documents),
            s AS (SELECT doc_id,
              CAST((LENGTH(tt) - LENGTH(REPLACE(tt, ' the ', ''))) / 5
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' and ', ''))) / 5
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' of ', ''))) / 4 AS BIGINT) AS score_en,
              CAST((LENGTH(tt) - LENGTH(REPLACE(tt, ' le ', ''))) / 4
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' la ', ''))) / 4
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' et ', ''))) / 4 AS BIGINT) AS score_fr,
              CAST((LENGTH(tt) - LENGTH(REPLACE(tt, ' der ', ''))) / 5
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' und ', ''))) / 5
                 + (LENGTH(tt) - LENGTH(REPLACE(tt, ' die ', ''))) / 5 AS BIGINT) AS score_de
              FROM t),
            lang AS (
              SELECT doc_id, score_en, score_fr, score_de,
                     CASE WHEN GREATEST(score_en, score_fr, score_de) = 0 THEN 'und'
                          WHEN score_en = GREATEST(score_en, score_fr, score_de) THEN 'en'
                          WHEN score_fr = GREATEST(score_en, score_fr, score_de) THEN 'fr'
                          ELSE 'de' END AS lang_guess
              FROM s)"""


def _union_variants(*legs: tuple[str, DataFrame]) -> DataFrame:
    out = None
    for name, df in legs:
        tagged = df.select(F.lit(name).alias("variant"), "*")
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _variant_union_sql(*legs: tuple[str, str]) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{name}' AS variant, * FROM ({sql})" for name, sql in legs)


def _tif_block_footprints() -> list:
    """Block footprints of the GeoTIFF fixture, from its generation
    constants through the SAME shared helper the executor emit path
    uses (geotiff_source.block_footprint) — float op order identical
    by construction."""
    from rastertiler_rs_spark.fixtures import geotiff_params
    from rastertiler_rs_spark.operators.geotiff_source import \
        block_footprint

    w, h, transform, rps = geotiff_params()
    fps = []
    for row0 in range(0, h, rps):
        nrows = min(rps, h - row0)
        for col0 in range(0, w, 512):
            fps.append(block_footprint(transform, row0, nrows, col0,
                                       min(512, w - col0)))
    return fps


def q_render_tile_ids_tif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-ID invariant for the GeoTIFF ingest front-end: the fixture
    raster (fully opaque, strip-block boundaries on >=16-tile-pixel
    fractions at z7-9/ts128 — fixtures.geotiff_params) flows through
    the DISTRIBUTED source (driver reads only the IFD, executors
    ranged-read strips, re-encode blocks, attach explicit footprints)
    into the unchanged render; the emitted (zoom, x, y) set must equal
    the exact SQL cover of the block footprints. This pins the whole
    ingest chain — IFD parse, strip manifest, ranged reads, block
    slicing, footprint affine — under the value gate."""
    from rastertiler_rs_spark.fixtures import geotiff_fixture
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.render import render

    images = images_from_geotiff(spark, geotiff_fixture(), block_cols=512)
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "y").distinct()


def q_render_tile_ids_cog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same invariant over the COG-layout twin of the fixture: tiled
    512x512 + DEFLATE + horizontal predictor (fixtures.
    geotiff_cog_fixture — GDAL's usual cloud-optimized recipe). 1536x
    1024 divides evenly into 512-tiles, so the block grid — and hence
    the footprint set the exact-cover twin derives — is IDENTICAL to
    the strip leg's; what this leg adds is the whole COG decode chain
    (tile directory walk, ranged tile reads, zlib inflate, predictor
    undo, pad crop) running executor-side under the value gate."""
    from rastertiler_rs_spark.fixtures import geotiff_cog_fixture
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.render import render

    images = images_from_geotiff(spark, geotiff_cog_fixture())
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "y").distinct()


def q_render_tile_ids_btf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same invariant over the BigTIFF (TIFF v43) twin of the COG
    fixture: identical pixels/blocks/compression, but 64-bit offsets
    throughout — 8-byte IFD counts, 20-byte entries, LONG8 tile
    offsets — the layout any >4 GB COG must use. This leg runs the
    BigTIFF header walk + ranged tile reads executor-side under the
    value gate; the footprint set (hence the twin) is unchanged."""
    from rastertiler_rs_spark.fixtures import geotiff_bigtiff_fixture
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.render import render

    images = images_from_geotiff(spark, geotiff_bigtiff_fixture())
    fused = render(images, 7, 9, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "y").distinct()


def q_render_tile_ids_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All seven tile-ID invariant twins under ONE driver row: the u8,
    u32, and colormap renders, the overview-cascade pyramid, and the
    GeoTIFF-ingest front-end (strip, COG, BigTIFF-COG layouts) each
    emit their (zoom, x, y) set, tagged by variant; every leg must
    equal the exact SQL tile cover of its footprints (fully-opaque
    inputs make the cover exact for all encoder classes, for the
    cascade's parent closure, and for the ingest's block grid)."""
    return _union_variants(
        ("u8", q_render_tile_ids(spark, sf_dir)),
        ("u32", q_render_tile_ids_u32(spark, sf_dir)),
        ("colormap", q_render_tile_ids_colormap(spark, sf_dir)),
        ("pyramid", q_render_pyramid_tile_ids(spark, sf_dir)),
        ("tif", q_render_tile_ids_tif(spark, sf_dir)),
        ("cog", q_render_tile_ids_cog(spark, sf_dir)),
        ("btf", q_render_tile_ids_btf(spark, sf_dir)))


def q_zonal_stats_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three zonal-statistics gates (u8 boxes, u32 boxes, polygon
    ray-cast) as one tagged union — same schema, dtype/geometry
    variants of the same decode→mask→aggregate pipeline."""
    # quant = exact counting-sort quantiles (zonal.zonal_quantiles):
    # p25/median/p75 by division-free rank inequalities, coerced into
    # the shared zonal columns (n_images←distinct values, vsum←median,
    # vmin←p25, vmax←p75)
    import rastertiler_rs_spark.tilemath as tm
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.zonal import zonal_quantiles

    zones = _part_boxes(spark, sf_dir, 500).select(
        F.col("p_partkey").alias("zone_id"), "minx", "miny", "maxx", "maxy")
    images = spark.read.parquet(images_parquet(64, "u8"))
    quant = zonal_quantiles(zones, images, cell_size=tm.CE / 64).select(
        "zone_id", F.col("n_vals").alias("n_images"), "n_px",
        F.col("median").alias("vsum"), F.col("p25").alias("vmin"),
        F.col("p75").alias("vmax"))
    return _union_variants(
        ("u8", q_zonal_stats(spark, sf_dir)),
        ("u32", q_zonal_stats_u32(spark, sf_dir)),
        ("poly", q_zonal_stats_poly(spark, sf_dir)),
        ("quant", quant))


def q_embedding_ivf_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-based ANN, three ways under one driver row — the
    in-memory IVF train+probe path, the persisted posting-list index
    with dynamic partition pruning (both vs the identical k-means SQL
    twin), and the PQ asymmetric-distance compressed scan (vs its own
    per-subspace k-means twin)."""
    return _union_variants(
        ("mem", q_embedding_ivf(spark, sf_dir)),
        ("index", q_embedding_ivf_index(spark, sf_dir)),
        ("pq", q_embedding_pq(spark, sf_dir)))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis profile per document: token counts (whitespace +
    BPE-ish regex), integer quality features, and marker-based
    language-ID scores joined into one wide row — the per-doc feature
    vector a corpus pipeline actually materializes (one row per doc,
    doc_id equi-joins that AQE broadcasts at gate scale and that stay
    co-partitioned shuffles at corpus scale)."""
    from rastertiler_rs_spark.operators.text import (lang_scores,
                                                     quality_scores,
                                                     repetition_scores,
                                                     token_counts)

    docs = _t(spark, sf_dir, "documents")
    return (token_counts(docs)
            .join(quality_scores(docs), "doc_id")
            .join(lang_scores(docs), "doc_id")
            .join(repetition_scores(docs), "doc_id"))


def q_vector_tiles_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both MVT sink round-trips (point features at z6, clipped
    box-polygon features at z5) as one tagged union; the decoded local
    coordinate sums are renamed to the shared (sum_cx, sum_cy)."""
    pts = (q_vector_tiles(spark, sf_dir)
           .withColumnRenamed("sum_lx", "sum_cx")
           .withColumnRenamed("sum_ly", "sum_cy"))
    poly = (q_vector_tiles_poly(spark, sf_dir)
            .withColumnRenamed("sum_rx", "sum_cx")
            .withColumnRenamed("sum_ry", "sum_cy"))
    return _union_variants(("points", pts), ("poly", poly))


def q_avi_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI container probe — the RIFF twin of q_video_probe: the
    fixture muxes real AVI files (media/avi.py — hdrl/movi/idx1 with
    internally cross-checked avih/strh/strf headers), the engine parses
    them back, and the DuckDB twin rederives every field from the
    generation formulas, so the RIFF mux→parse round-trip is
    value-checked."""
    from rastertiler_rs_spark.fixtures import avi_videos_parquet
    from rastertiler_rs_spark.operators.multimodal import video_probe

    vids = spark.read.parquet(avi_videos_parquet(48))
    return video_probe(vids).select(
        "video_id", "width", "height", "n_frames", "duration_ms", "codec")


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real AVI demultiplexing under the oracle: frame_sample walks
    LIST('movi') cross-checked against idx1 and emits every 3rd stored
    chunk payload; the twin rederives each sampled frame's byte length
    AND first byte from the deterministic payload formulas — an
    alignment error anywhere in the RIFF walk (odd-length chunks force
    pad bytes) scrambles both."""
    from rastertiler_rs_spark.fixtures import avi_videos_parquet
    from rastertiler_rs_spark.operators.multimodal import frame_sample

    vids = spark.read.parquet(avi_videos_parquet(24))
    frames = frame_sample(vids, every_n=3)
    return frames.select(
        "video_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame_bytes").cast("long").alias("frame_len"),
        F.expr("cast(conv(hex(substring(frame_bytes, 1, 1)), 16, 10) as bigint)"
               ).alias("byte0"))


def q_webm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM container probe — the EBML twin of q_video_probe: the
    fixture muxes real WebM files (media/webm.py — EBML header, Info,
    Tracks, Clusters of SimpleBlocks), the engine parses them back,
    and the DuckDB twin rederives every field from the generation
    formulas, so the EBML mux→parse round-trip (VINT coding, element
    nesting, block walk) is value-checked."""
    from rastertiler_rs_spark.fixtures import webm_videos_parquet
    from rastertiler_rs_spark.operators.multimodal import video_probe

    vids = spark.read.parquet(webm_videos_parquet(40))
    return video_probe(vids).select(
        "video_id", "width", "height", "n_frames", "duration_ms", "codec")


def q_webm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WebM demultiplexing under the oracle: frame_sample walks
    Clusters/SimpleBlocks and emits every 3rd stored payload; the twin
    rederives each sampled frame's byte length AND first byte from the
    deterministic payload formulas — a VINT or block-header mis-parse
    anywhere in the EBML walk scrambles both."""
    from rastertiler_rs_spark.fixtures import webm_videos_parquet
    from rastertiler_rs_spark.operators.multimodal import frame_sample

    vids = spark.read.parquet(webm_videos_parquet(20))
    frames = frame_sample(vids, every_n=3)
    return frames.select(
        "video_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.length("frame_bytes").cast("long").alias("frame_len"),
        F.expr("cast(conv(hex(substring(frame_bytes, 1, 1)), 16, 10) as bigint)"
               ).alias("byte0"))


def q_gif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF container probe under the value gate: the fixture writes
    real animated GIF89a streams (gif/codec.py — LSD, GCT, per-frame
    GCEs, NETSCAPE loop block, LZW image data), the engine parses them
    back through video_probe's gif branch, and the twin rederives
    width/height/frame count/summed delays from the generation
    formulas — value-checking the full stream walk (a sub-block or GCE
    mis-parse shifts every later frame)."""
    from rastertiler_rs_spark.fixtures import gif_videos_parquet
    from rastertiler_rs_spark.operators.multimodal import video_probe

    vids = spark.read.parquet(gif_videos_parquet(36))
    return video_probe(vids).select(
        "video_id", "width", "height", "n_frames", "duration_ms", "codec")


def q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-probe surface as one tagged union over a shared
    (media_id, dim_a, dim_b, n_units, duration_ms, codec) shape:
    video = MP4 moov parse (dim = width/height, n_units = frames),
    mp3 = Layer-III frame walk (dim = rate/channels, n_units =
    samples), frames = per-sample MP4 demux rows (dim_a = payload
    length, dim_b = first byte, n_units = frame_no, duration 0), and
    the RIFF twins aviprobe/aviframes = the same two shapes driven
    through media/avi.py; l3spec = REAL Layer III PAYLOAD decode
    (media/mp3.py decode_mp3_spectra: side info, scalefactors, count1
    table-B Huffman, requantization) reduced to per-granule integer
    spectral stats (dim_a = granule index 4f+2g+c, dim_b =
    position-weighted spectrum checksum, n_units = nonzero lines,
    duration_ms = requantized-spectrum sum — exact integers because the
    fixture pins gain to 210+4g), the twin recomputing all four from
    the fixture's closed-form line formulas; webmprobe/webmframes =
    the same two probe/demux shapes driven through the EBML container
    (media/webm.py), value-checking the VINT/element/SimpleBlock
    walk."""
    video = q_video_probe(spark, sf_dir).select(
        F.lit("video").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    mp3 = q_audio_probe_mp3(spark, sf_dir).select(
        F.lit("mp3").alias("variant"),
        F.col("audio_id").alias("media_id"),
        F.col("sample_rate").alias("dim_a"), F.col("channels").alias("dim_b"),
        F.col("n_samples").alias("n_units"), "duration_ms",
        F.col("container").alias("codec"))
    frames = q_video_frames(spark, sf_dir).select(
        F.lit("frames").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("frame_len").alias("dim_a"), F.col("byte0").alias("dim_b"),
        F.col("frame_no").alias("n_units"),
        F.lit(0).cast("long").alias("duration_ms"),
        F.lit("demux").alias("codec"))
    aviprobe = q_avi_probe(spark, sf_dir).select(
        F.lit("aviprobe").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    aviframes = q_avi_frames(spark, sf_dir).select(
        F.lit("aviframes").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("frame_len").alias("dim_a"), F.col("byte0").alias("dim_b"),
        F.col("frame_no").alias("n_units"),
        F.lit(0).cast("long").alias("duration_ms"),
        F.lit("demux").alias("codec"))
    from rastertiler_rs_spark.fixtures import mp3_payload_parquet
    from rastertiler_rs_spark.operators.multimodal import audio_spectral_stats

    clips = spark.read.parquet(mp3_payload_parquet(24))
    l3spec = audio_spectral_stats(clips).select(
        F.lit("l3spec").alias("variant"),
        F.col("audio_id").alias("media_id"),
        (F.col("frame_no") * 4 + F.col("granule") * 2
         + F.col("channel")).alias("dim_a"),
        F.col("pos_sum").alias("dim_b"),
        F.col("n_nonzero").alias("n_units"),
        F.col("xr_sum").alias("duration_ms"),
        F.lit("l3spec").alias("codec"))
    gifprobe = q_gif_probe(spark, sf_dir).select(
        F.lit("gifprobe").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    webmprobe = q_webm_probe(spark, sf_dir).select(
        F.lit("webmprobe").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    webmframes = q_webm_frames(spark, sf_dir).select(
        F.lit("webmframes").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("frame_len").alias("dim_a"), F.col("byte0").alias("dim_b"),
        F.col("frame_no").alias("n_units"),
        F.lit(0).cast("long").alias("duration_ms"),
        F.lit("demux").alias("codec"))
    # wanprobe = animated-WebP container probe (VP8X flags + ANMF walk
    # summing per-frame durations), twin rederived from the fixture's
    # webpanim_params/webpanim_duration formulas
    from rastertiler_rs_spark.fixtures import webpanim_parquet
    from rastertiler_rs_spark.operators.multimodal import video_probe

    wan = spark.read.parquet(webpanim_parquet(30))
    wanprobe = video_probe(wan).select(
        F.lit("wanprobe").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    # flacfeat = REAL FLAC payload decode (media/flac.py: rice
    # residuals, fixed/LPC predictors, all four stereo assignments,
    # CRC+MD5 checks) reduced to exact integer per-clip stats; the
    # twin recomputes peak/sum_sq/count from the fixture's
    # folded-triangle sample formula — any mis-decoded sample anywhere
    # in any frame flips sum_sq
    from rastertiler_rs_spark.fixtures import flac_parquet
    from rastertiler_rs_spark.operators.multimodal import audio_features

    fl = spark.read.parquet(flac_parquet(24))
    flacfeat = audio_features(fl).select(
        F.lit("flacfeat").alias("variant"),
        F.col("audio_id").alias("media_id"),
        F.col("peak").alias("dim_a"), F.col("sum_sq").alias("dim_b"),
        F.col("n_samples").alias("n_units"), "duration_ms",
        F.lit("flac").alias("codec"))
    # oggfeat = Ogg-FLAC: RFC 3533 page walk (lacing reassembly,
    # forward CRC-32, BOS/EOS + granule cross-check) feeding the same
    # full FLAC decode; fixture family shifted by +3 so values differ
    # from flacfeat while the twin stays one formula
    from rastertiler_rs_spark.fixtures import ogg_parquet

    og = spark.read.parquet(ogg_parquet(18))
    oggfeat = audio_features(og).select(
        F.lit("oggfeat").alias("variant"),
        F.col("audio_id").alias("media_id"),
        F.col("peak").alias("dim_a"), F.col("sum_sq").alias("dim_b"),
        F.col("n_samples").alias("n_units"), "duration_ms",
        F.lit("ogg").alias("codec"))
    # apngprobe = animated-PNG header walk (png/apng.py: acTL/fcTL
    # sequence validation + per-frame delay sum, no pixel decode),
    # twin rederived from apng_params/apng_duration
    from rastertiler_rs_spark.fixtures import apng_parquet

    apg = spark.read.parquet(apng_parquet(24))
    apngprobe = video_probe(apg).select(
        F.lit("apngprobe").alias("variant"),
        F.col("video_id").alias("media_id"),
        F.col("width").alias("dim_a"), F.col("height").alias("dim_b"),
        F.col("n_frames").alias("n_units"), "duration_ms", "codec")
    # resamp = fixed-point linear sample-rate conversion to 12 kHz
    # (multimodal.audio_resample_stats — the audio counterpart of the
    # bilinear rule, unsigned-domain blend so both engines' integer
    # division agrees); twin restates decode + the (j·rate)//out
    # position rule + the round-half-up blend from the sample formula
    from rastertiler_rs_spark.fixtures import audio_parquet
    from rastertiler_rs_spark.operators.multimodal import \
        audio_resample_stats

    wavs = spark.read.parquet(audio_parquet(12))
    resamp = audio_resample_stats(wavs, 12000).select(
        F.lit("resamp").alias("variant"),
        F.concat(F.col("audio_id"), F.lit("/"),
                 F.col("channel").cast("string")).alias("media_id"),
        F.col("peak_u").alias("dim_a"), F.col("pos_sum").alias("dim_b"),
        F.col("n_out").alias("n_units"),
        F.col("sum_u").alias("duration_ms"),
        F.lit("resamp").alias("codec"))
    return (video.unionByName(mp3).unionByName(frames)
            .unionByName(aviprobe).unionByName(aviframes)
            .unionByName(l3spec).unionByName(gifprobe)
            .unionByName(webmprobe).unionByName(webmframes)
            .unionByName(wanprobe).unionByName(flacfeat)
            .unionByName(oggfeat).unionByName(apngprobe)
            .unionByName(resamp))


def q_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-surface gates under one driver row, in a long
    (variant, ekey, n, v) shape. Streaming legs: dedup = first-seen
    unique set (ekey = content key, n = surviving doc_id), window =
    finalized watermarked hour buckets (ekey = event_type@epoch
    (win_start), n = count, v = cents) — each runs its full
    availableNow stream with a fresh checkpoint. Batch leg: asof =
    every click enriched with the latest same-user view at-or-before
    it within 48 h (operators/asof.py — ONE window pass, zero join
    nodes; ekey = click event_id, n = matched view event_id or -1,
    v = microsecond gap or -1), verified against DuckDB's NATIVE ASOF
    JOIN executor — a genuinely independent implementation of the
    same semantics; range = interval join (operators/interval_join.py
    — 1D cell equi-join + residual), clicks inside each error's 2 h
    window, verified against DuckDB's native IEJoin plan of the raw
    inequality predicate."""
    from rastertiler_rs_spark.operators.asof import asof_join

    ded = q_stream_dedup(spark, sf_dir).select(
        F.lit("dedup").alias("variant"),
        F.col("content_key").alias("ekey"),
        F.col("doc_id").alias("n"),
        F.lit(0).cast("long").alias("v"))
    win = q_stream_window(spark, sf_dir).select(
        F.lit("window").alias("variant"),
        F.concat(F.col("event_type"), F.lit("@"),
                 F.col("win_start").cast("long").cast("string")).alias("ekey"),
        F.col("n_events").alias("n"),
        F.col("value_cents").alias("v"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id")
    j = asof_join(clicks, views, on="user_id",
                  right_cols=["ts", "event_id"],
                  tolerance_us=48 * 3600 * 1_000_000, suffix="_m")
    asof = j.select(
        F.lit("asof").alias("variant"),
        F.col("event_id").cast("string").alias("ekey"),
        F.coalesce(F.col("event_id_m"), F.lit(-1)).cast("long").alias("n"),
        F.coalesce(F.unix_micros(F.col("ts").cast("timestamp"))
                   - F.unix_micros(F.col("ts_m").cast("timestamp")),
                   F.lit(-1)).cast("long").alias("v"))
    # range = interval join (operators/interval_join.py — 1D cell
    # equi-join + residual, zero nested-loop nodes): clicks inside the
    # 2 h window opened by each error; DuckDB plans the same predicate
    # as its native IEJoin — another independent executor as oracle
    from rastertiler_rs_spark.operators.interval_join import interval_join

    errs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    cpts = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts")
    rj = interval_join(cpts, errs, point_ts="ts",
                       cell_width_us=1_800_000_000)
    rng = rj.select(
        F.lit("range").alias("variant"),
        F.col("click_id").cast("string").alias("ekey"),
        F.col("err_id").cast("long").alias("n"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("start").cast("timestamp"))
         ).cast("long").alias("v"))
    heat = q_stream_heatmap(spark, sf_dir)
    # quant = EXACT distributed quantiles (operators/quantiles.py:
    # value-count shuffle + two-phase prefix sum, integer-ceiling rank
    # rule); the twin restates the identical rule over a cumulative
    # window — order statistics of the order totals in cents
    from rastertiler_rs_spark.operators.quantiles import exact_quantiles

    cents = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    quant = exact_quantiles(cents, "cents",
                            [2500, 5000, 9000, 9900]).select(
        F.lit("quant").alias("variant"),
        F.concat(F.lit("p"), F.col("p_bp").cast("string")).alias("ekey"),
        F.col("value").alias("n"),
        F.col("k").alias("v"))
    fun = q_stream_funnel(spark, sf_dir)
    sess = q_stream_sess(spark, sf_dir)
    return (ded.unionByName(win).unionByName(asof).unionByName(rng)
            .unionByName(heat).unionByName(quant).unionByName(fun)
            .unionByName(sess))


def q_stream_sess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap sessionization under the value gate: events drain
    in THREE time-tertile micro-batches (availableNow, fresh
    checkpoint), so sessions genuinely span batches and close from
    carried applyInPandasWithState state; the emitted CLOSED sessions
    must equal the batch gap rule minus each user's final session.
    ekey = user#seq, n = n_events, v = duration_us."""
    import glob
    import os
    import shutil
    import tempfile

    from rastertiler_rs_spark.streaming.events import stream_sessionize

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo, hi = ev.agg(F.min(us), F.max(us)).first()
    work = tempfile.mkdtemp(prefix="stream_sess_")
    inp, out = f"{work}/in", f"{work}/out"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        os.makedirs(inp, exist_ok=True)
        cut1 = lo + (hi - lo) // 3
        cut2 = lo + 2 * (hi - lo) // 3
        conds = [us <= cut1, (us > cut1) & (us <= cut2), us > cut2]
        for k, cond in enumerate(conds):
            tmp = f"{work}/w{k}"
            ev.where(cond).coalesce(1).write.parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            os.replace(part, f"{inp}/{k:03d}.parquet")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = stream_sessionize(spark, inp, out, _SESS_GAP_US,
                                  max_files_per_trigger=1)
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "stream_sessionize did not drain within 300s — "
                    "refusing to read partial output as a result")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        rows = (spark.read.parquet(f"{out}/sessions")
                .select(F.lit("sess").alias("variant"),
                        F.concat(F.col("user").cast("string"), F.lit("#"),
                                 F.col("seq").cast("string")).alias("ekey"),
                        F.col("n_events").alias("n"),
                        (F.col("end_us") - F.col("start_us")).alias("v"))
                .collect())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "variant string, ekey string, n long, v long")


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING windowFunnel under the value gate: events drain in
    THREE time-tertile micro-batches (availableNow, fresh checkpoint),
    so per-user funnel chains genuinely SPAN batches and complete from
    carried applyInPandasWithState state; the monotone per-user
    (level, n_entry, sum_levels) maxes must equal the batch DP, whose
    DuckDB twin restates the whole running-max window formulation.
    ekey = user, n = level, v = sum_levels·100000 + n_entry."""
    import glob
    import os
    import shutil
    import tempfile

    from rastertiler_rs_spark.streaming.events import stream_funnel

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo, hi = ev.agg(F.min(us), F.max(us)).first()
    work = tempfile.mkdtemp(prefix="stream_funnel_")
    inp, out = f"{work}/in", f"{work}/out"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        os.makedirs(inp, exist_ok=True)
        cut1 = lo + (hi - lo) // 3
        cut2 = lo + 2 * (hi - lo) // 3
        conds = [us <= cut1, (us > cut1) & (us <= cut2), us > cut2]
        for k, cond in enumerate(conds):
            tmp = f"{work}/w{k}"
            ev.where(cond).coalesce(1).write.parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            os.replace(part, f"{inp}/{k:03d}.parquet")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            q = stream_funnel(spark, inp, out, _FUNNEL_STEPS,
                              _FUNNEL_W_US, max_files_per_trigger=1)
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "stream_funnel did not drain within 300s — refusing "
                    "to read partial output as a result")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        rows = (spark.read.parquet(f"{out}/levels")
                .groupBy("user")
                .agg(F.max("level").alias("level"),
                     F.max("n_entry").alias("n_entry"),
                     F.max("sum_levels").alias("sum_levels"))
                .collect())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = spark.createDataFrame(
        rows, "user long, level long, n_entry long, sum_levels long")
    return got.select(
        F.lit("funnel").alias("variant"),
        F.col("user").cast("string").alias("ekey"),
        F.col("level").alias("n"),
        (F.col("sum_levels") * 100000 + F.col("n_entry")).alias("v"))


_SHEAT_N = 12000


def q_stream_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental heatmap under the value gate
    (streaming/heatmap_stream.py): deterministic weighted points
    arrive as three parquet files, drain through availableNow
    micro-batches, and each batch folds its JVM pixel binning into
    the versioned copy-on-write store (idempotent replay via the
    atomic CURRENT pointer). The maintained store must equal the
    batch binning of ALL points — the twin recomputes per-pixel
    counts and weight sums from the point formula (the heat fixture's
    pixel-center construction, so the float floor provably recovers
    the index). One row per touched pixel: ekey = 'gx/gy', n = point
    count, v = weight sum."""
    import os
    import shutil
    import tempfile

    from rastertiler_rs_spark.streaming.heatmap_stream import (
        read_heatmap_store, stream_heatmap)
    from rastertiler_rs_spark.tilemath import CE, ORIGIN

    ts = _PIXEL_STATS_TS
    n_px = (1 << _HEAT_Z) * ts
    i = F.col("id")
    gx = (F.when(i % 97 == 0, F.lit(n_px - 3) + (i % 7))
          .otherwise((i * 1000003 + 12345) % 2048 - 8))
    gy = (i * 998244353 + 54321) % 2048
    step = CE / n_px
    pts = spark.range(_SHEAT_N).select(
        "id",
        (F.lit(-ORIGIN) + (gx.cast("double") + F.lit(0.5))
         * F.lit(step)).alias("px"),
        (F.lit(ORIGIN) - (gy.cast("double") + F.lit(0.5))
         * F.lit(step)).alias("py"),
        (F.lit(1) + i % 7).cast("long").alias("w"))
    work = tempfile.mkdtemp(prefix="stream_heat_")
    inp, state = f"{work}/in", f"{work}/state"
    try:
        os.makedirs(inp, exist_ok=True)
        for k in range(3):
            pts.filter(F.col("id") % 3 == k).select(
                "px", "py", "w").coalesce(1).write.mode(
                "append").parquet(inp)
        q = stream_heatmap(spark, inp, state, _HEAT_Z, ts, weight="w")
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_heatmap did not drain within 300s — refusing "
                "to read partial state as a result")
        rows = read_heatmap_store(spark, state).select(
            F.concat(F.col("gx").cast("string"), F.lit("/"),
                     F.col("gy").cast("string")).alias("ekey"),
            F.col("cnt").alias("n"),
            F.col("wsum").alias("v")).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (spark.createDataFrame(rows, "ekey string, n long, v long")
            .select(F.lit("heat").alias("variant"), "ekey", "n", "v"))


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature-extraction and resize gates as one tagged union
    over the full shared stats schema (n_pixels, n_data, vmin, vmax,
    vsum, mean_x100, pos_sum): `features` decodes the original PNGs,
    `resize` decodes the K2-resampled 32x32 outputs, `vp8` decodes
    lossy WebP through the from-spec VP8 keyframe codec at its
    bit-exact qi=0 solid family, `adam7` deinterlaces Adam7 PNGs of
    the same fixture bands, `mode` majority-resamples (the categorical
    rule, vote restated in SQL), `avg` box-mean-resamples (gdaladdo's
    default overview rule, round-half-up mean restated in SQL) — all
    against pixel-formula / closed-form SQL twins."""
    feats = q_image_features(spark, sf_dir)
    resized = q_image_resize(spark, sf_dir)
    vp8 = q_image_features_vp8(spark, sf_dir)
    adam7 = q_image_features_adam7(spark, sf_dir)
    mode = q_image_resize_mode(spark, sf_dir)
    u16 = q_image_features_u16(spark, sf_dir)
    bil = q_image_resize_bilinear(spark, sf_dir)
    avg = q_image_resize_average(spark, sf_dir)
    # ahash = perceptual average-hash FROM bytes (decode -> 8x8 box
    # mean -> threshold vs the cell mean): the from-pixels companion
    # to the precomputed phash column, twin rederives bits from the
    # pixel formula
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.multimodal import image_ahash

    ah = image_ahash(spark.read.parquet(images_parquet(64, "u8")))
    return _union_variants(("features", feats), ("resize", resized),
                           ("vp8", vp8), ("adam7", adam7),
                           ("mode", mode), ("u16", u16),
                           ("bil", bil), ("avg", avg),
                           ("ahash", ah))


_HEAT_Z, _HEAT_ZMIN, _HEAT_N = 6, 4, 40000


def q_heatmap_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-PIXEL value gate for the vector→raster HEATMAP pyramid
    (operators/heatmap.py): bin deterministic weighted points at z6,
    derive z4-6 via the sum-decimation pyramid (one explode + one
    aggregate), decode every emitted count PNG back and aggregate the
    same per-tile integer stats as the render gates. The points sit at
    pixel CENTERS reconstructed from an integer index formula — the
    float floor recovers the index with ~0.5 of margin, so the DuckDB
    twin restates binning, world-edge clamping (a tail of the fixture
    lands outside the world on both sides), weighting, and the
    parent = sum-of-4-children identity in pure integer SQL."""
    from rastertiler_rs_spark.operators.heatmap import heatmap_pyramid
    from rastertiler_rs_spark.tilemath import CE, ORIGIN

    ts = _PIXEL_STATS_TS
    n_px = (1 << _HEAT_Z) * ts
    i = F.col("id")
    gx = (F.when(i % 97 == 0, F.lit(n_px - 3) + (i % 7))
          .otherwise((i * 1000003 + 12345) % 2048 - 8))
    gy = (i * 998244353 + 54321) % 2048
    step = CE / n_px
    pts = spark.range(_HEAT_N).select(
        (F.lit(-ORIGIN) + (gx.cast("double") + F.lit(0.5))
         * F.lit(step)).alias("px"),
        (F.lit(ORIGIN) - (gy.cast("double") + F.lit(0.5))
         * F.lit(step)).alias("py"),
        (F.lit(1) + i % 7).cast("long").alias("w"))
    tiles = heatmap_pyramid(pts, _HEAT_ZMIN, _HEAT_Z, tile_size=ts,
                            weight="w")
    return _pixel_stats_of(
        tiles.select("zoom", "x", "y", F.col("bytes").alias("png")), "u32")


def q_webp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-PIXEL gate for the WebP TRANSCODE path: render z8-9,
    transcode every PNG payload to lossless VP8L WebP
    (operators/transcode.py), decode the WEBP bytes back with the
    from-spec decoder and aggregate the same per-tile stats — the
    twin is the same kernel transcription as the u8 leg restricted to
    z8-9, so any loss anywhere in canvas→RGBA→VP8L→RGBA→canvas flips
    the hash."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render
    from rastertiler_rs_spark.operators.transcode import transcode_tiles

    images = spark.read.parquet(images_parquet(_PIXEL_STATS_N, "u8"))
    with _gate_cell_mult():
        fused = render(images, 8, 9, tile_size=_PIXEL_STATS_TS,
                       dtype_tag="u8")
    as_webp = transcode_tiles(fused, "webp", dtype_tag="u8")
    return _pixel_stats_of(
        as_webp.select("zoom", "x", "y", F.col("webp").alias("png")),
        "u8", fmt="webp")


def q_render_pixel_stats_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded-PIXEL value gates for every render family — u8
    (z8-12), u32 adaptive palette/RGB (z8-12), the overview cascade
    pyramid (z4-9), its COG-sink round-trip, the vector→raster heatmap
    pyramid (z4-6), the PNG→WebP transcode (z8-9), and the EPSG:4326
    reprojection warp (z4-6) — as one tagged union; each leg's
    per-tile integer stats must match its own full SQL transcription
    of the window/warp arithmetic + mosaic + (for the pyramids) the
    decimation identity."""
    return _union_variants(
        ("u8", q_render_pixel_stats(spark, sf_dir)),
        ("u32", q_render_pixel_stats_u32(spark, sf_dir)),
        ("pyramid", q_render_pyramid_pixel_stats(spark, sf_dir)),
        ("cog", q_cog_pixel_stats(spark, sf_dir)),
        ("heat", q_heatmap_pixel_stats(spark, sf_dir)),
        ("webp", q_webp_pixel_stats(spark, sf_dir)),
        ("warp", q_warp_pixel_stats(spark, sf_dir)),
        ("wtif", q_warp_tif_pixel_stats(spark, sf_dir)))


def q_cog_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOUD-OPTIMIZED GEOTIFF SINK under the value gate: the z4-9
    pyramid is assembled into ONE real tiled COG (executor-written
    deflate+predictor blocks, chained overview IFDs, shared-nodata
    sparse filler — operators/cog_sink.write_cog_distributed), then
    ranged-read back distributed (header-only IFD probe + per-block
    reads, cog_blocks) and reduced to the standard per-tile pixel
    stats. The transcode is lossless, so the DuckDB twin is exactly
    the pyramid twin — any defect in block layout, IFD offsets,
    deflate/predictor coding, grid alignment, or the read path flips
    the hash."""
    import shutil
    import tempfile

    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.cog_sink import (
        cog_blocks, write_cog_distributed)
    from rastertiler_rs_spark.operators.overview import render_pyramid

    images = spark.read.parquet(images_parquet(_PIXEL_STATS_N, "u8"))
    with _gate_cell_mult():
        fused = render_pyramid(images, 4, 9, tile_size=_PIXEL_STATS_TS,
                               dtype_tag="u8", overview_below=8)
    work = tempfile.mkdtemp(prefix="cog_sink_")
    try:
        path = f"{work}/pyramid.tif"
        man = write_cog_distributed(fused, path, tile_size=_PIXEL_STATS_TS)
        lv_rows = [(man["base_zoom"] - lvl, lvl, lv["ox"], lv["oy"])
                   for lvl, lv in enumerate(man["levels"])]
        lv_df = spark.createDataFrame(lv_rows,
                                      "zoom int, lvl int, ox long, oy long")
        stats = (cog_blocks(spark, path)
                 .join(F.broadcast(lv_df), "lvl")
                 .select("zoom", (F.col("bx") + F.col("ox")).alias("x"),
                         (F.col("by") + F.col("oy")).alias("y"),
                         "px_count", "val_sum", "val_min", "val_max",
                         "pos_sum"))
        # materialize before the tempdir is reclaimed (bounded: one row
        # per non-empty tile of the gate pyramid)
        rows = stats.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "zoom int, x long, y long, px_count long, val_sum long, "
              "val_min long, val_max long, pos_sum long")


_WARP_N = 24
_WARP_ZMIN, _WARP_ZMAX = 4, 6


def q_warp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPROJECTION WARP under the value gate (S5 — the reference's
    warped-VRT role, /root/reference/src/dataset.rs:74-109): render a
    GEOGRAPHIC (EPSG:4326) images table into mercator tiles via
    operators/warp.render_warp (inverse-projected nearest gather),
    decode the emitted PNGs and reduce to the standard per-tile pixel
    stats. The DuckDB twin re-derives every warped pixel from the geo
    fixture constants: forward mercator of the footprint corners for
    the cover, then per destination pixel center the inverse mercator
    (atan/exp, mirrored op order of tilemath.mercator_to_geo), the
    floor source-index rule, the footprint/hole masks and the
    ascending-image mosaic. Fixture geometry keeps every floor quotient
    ≥1e-4 from integers (test_warp pins the scan), so last-ulp
    exp/atan differences between numpy and DuckDB cannot flip a
    pixel."""
    from rastertiler_rs_spark.fixtures import images_geo_parquet
    from rastertiler_rs_spark.operators.warp import render_warp

    images = spark.read.parquet(images_geo_parquet(_WARP_N))
    warped = render_warp(images, _WARP_ZMIN, _WARP_ZMAX,
                         tile_size=_PIXEL_STATS_TS, dtype_tag="u8")
    return _pixel_stats_of(warped, "u8")


def q_warp_tif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full any-CRS CLI chain under the value gate: a real
    EPSG:4326 GeoTIFF (geographic GeoKeys) → distributed block ingest
    (geotiff_source, which emits degree footprints for geographic
    files) → reprojection warp → decoded per-tile pixel stats. The
    DuckDB twin re-derives every warped pixel from the fixture's
    degree affine + the shared block_footprint helper + the global
    pixel formula — so IFD GeoKey parsing, block decode, footprint
    derivation AND the warp all sit under one hash."""
    from rastertiler_rs_spark.fixtures import geotiff_geo_fixture
    from rastertiler_rs_spark.operators.geotiff_source import \
        images_from_geotiff
    from rastertiler_rs_spark.operators.warp import render_warp

    images = images_from_geotiff(spark, geotiff_geo_fixture())
    warped = render_warp(images, _WARP_ZMIN, _WARP_ZMAX,
                         tile_size=_PIXEL_STATS_TS, dtype_tag="u8")
    return _pixel_stats_of(warped, "u8")


def q_render_tiles_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only PNG-byte surface (tile_hash values are engine hashes,
    byte parity pinned in pytest): the u8/u32/colormap renders and the
    overview-cascade pyramid as one tagged union."""
    return _union_variants(
        ("u8", q_render_tiles(spark, sf_dir)),
        ("u32", q_render_tiles_u32(spark, sf_dir)),
        ("colormap", q_render_tiles_colormap(spark, sf_dir)),
        ("pyramid", q_render_pyramid_overview(spark, sf_dir)))


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: render the synthesized image+caption table into the z/x/y
    tile pyramid; reads /root/testdata/sf0.001 for the smoke-check side."""
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.render import render

    _ = spark.read.parquet("/root/testdata/sf0.001/region.parquet").count()
    images = spark.read.parquet(images_parquet(96, "u8"))
    fused = render(images, 0, 8, tile_size=128, dtype_tag="u8")
    return fused.select("zoom", "x", "tile_row", "tile_hash")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 entries, all value-verified except the final PNG-byte union —
    sized to fit the round driver's 50-key CORRECTNESS window so every
    oracle gets a driver row every round. Same-oracle / same-schema
    variants are folded into tagged unions (see the consolidated
    section above); each underlying leg still executes in full."""
    return {
        "tile_cover": q_tile_cover,
        "mercator_bounds": q_mercator_bounds,
        "geo_bounds": q_geo_bounds,
        "geo_to_mercator": q_geo_to_mercator,
        "tms_flip": q_tms_flip,
        "cell_pack": q_cell_pack,
        "bbox_join": q_bbox_join,
        "merge_anti": q_merge_anti,
        "histogram": q_histogram,
        "envelope": q_envelope,
        "zoom_minmax": q_zoom_minmax,
        "dedup_exact": q_dedup_exact,
        "point_tiles": q_point_tiles,
        "window_agg": q_window_agg,
        "knn": q_knn,
        "pip": q_pip,
        "doc_stats": q_doc_stats,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_components": q_dedup_components,
        "corpus_pipeline": q_corpus_pipeline,
        "zonal_stats": q_zonal_stats_all,
        "vector_tiles": q_vector_tiles_all,
        "vector_tiles_clip": q_vector_tiles_clip,
        "vector_tiles_lines": q_vector_tiles_lines,
        "raster_gradient": q_raster_gradient,
        "tile_halo": q_tile_halo_all,
        "raster_regions": q_raster_regions,
        "doc_keywords": q_doc_keywords,
        "tile_captions": q_tile_captions,
        "embedding_topk_int": q_embedding_topk_int,
        "embedding_lsh": q_embedding_lsh,
        "embedding_ivf": q_embedding_ivf_all,
        "embedding_neardup": q_embedding_neardup,
        "phash_near": q_phash_near,
        "render_tile_ids": q_render_tile_ids_all,
        "render_pixel_stats": q_render_pixel_stats_all,
        "stream_render_tile_ids": q_stream_render_tile_ids,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_cosine": q_embedding_cosine,
        "image_meta": q_image_meta,
        "image_stats": q_image_stats,
        "audio_features": q_audio_features,
        "media_probe": q_media_probe,
        "video_pixels_mjpeg": q_video_pixels,
        "sessionize": q_sessionize,
        "star_rollup": q_star_rollup,
        "stream_events": q_stream_events,
        # rows-only (no oracle_sql entry — PNG bytes / engine hashes):
        "render_tiles": q_render_tiles_all,
    }


def _quant_sql(scale: int) -> str:
    """SQL twin of the embedding _quant convention (floor(x*scale) as
    BIGINT) — ONE copy; the LSH/near-dup/IVF/PQ oracles all embed it so
    a convention change cannot diverge per-oracle."""
    return (f"list_transform(embedding, x -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT))")


# integer squared-L2 between two BIGINT lists (the {v}/{c} slots are
# filled per call site) — shared by the IVF and PQ oracle twins
_D2_SQL = ("CAST(list_sum(list_transform(list_zip({v}, {c}), "
           "z -> (CAST(z[1] AS BIGINT) - CAST(z[2] AS BIGINT)) * "
           "(CAST(z[1] AS BIGINT) - CAST(z[2] AS BIGINT)))) AS BIGINT)")


def _lsh_oracle_sql(k: int = 5, n_planes: int = 6, dim: int = 64,
                    scale: int = 1024) -> str:
    from rastertiler_rs_spark.operators.embedding import plane_weights_int

    weights = plane_weights_int(n_planes, dim)
    qexpr = _quant_sql(scale)
    bucket_terms = []
    for p, w in enumerate(weights):
        wlist = "[" + ",".join(str(v) for v in w) + "]"
        dot = (f"CAST(list_sum(list_transform(list_zip(vi, {wlist}), "
               f"z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT)")
        bucket_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    return f"""
        WITH vi AS (SELECT vec_id, {qexpr} AS vi FROM embeddings),
        b AS (SELECT vec_id, vi, CAST({bucket} AS BIGINT) AS bucket FROM vi),
        q AS (SELECT vec_id AS qid, vi AS qi, bucket FROM b WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.qid, v.vec_id,
                 CAST(list_sum(list_transform(list_zip(v.vi, q.qi),
                      z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT) AS dot
          FROM b v JOIN q ON v.bucket = q.bucket)
        SELECT qid, vec_id, dot, rank FROM (
          SELECT qid, vec_id, dot,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _neardup_oracle_sql(n_planes: int = 24, n_bands: int = 3,
                        dim: int = 64) -> str:
    """DuckDB twin of q_embedding_neardup: same quantization, same
    planted variants (integer-domain deltas), same 3×8-bit band buckets
    from the same modular plane weights, same squared-cosine test."""
    from rastertiler_rs_spark.operators.embedding import plane_weights_int

    weights = plane_weights_int(n_planes, dim)
    per_band = n_planes // n_bands
    qexpr = _quant_sql(_ND_SCALE)
    band_cases = []
    for band in range(n_bands):
        terms = []
        for i in range(per_band):
            w = weights[band * per_band + i]
            wlist = "[" + ",".join(str(v) for v in w) + "]"
            dot = (f"CAST(list_sum(list_transform(list_zip(vi, {wlist}), "
                   f"z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT)")
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        band_cases.append(f"WHEN {band} THEN " + " + ".join(terms))
    bucket = "CASE band " + " ".join(band_cases) + " END"
    thr2 = _ND_THRESHOLD_X100 ** 2
    return f"""
        WITH vi0 AS (SELECT vec_id, {qexpr} AS vi FROM embeddings),
        allv AS (
          SELECT vec_id, vi FROM vi0
          UNION ALL
          SELECT vec_id + {_ND_VARIANT_OFFSET},
                 list_transform(generate_series(1, {dim}),
                     d -> vi[d] + (vec_id * 31 + (d - 1)) % 5 - 2)
          FROM vi0 WHERE vec_id % 7 = 0),
        banded AS (
          SELECT vec_id, vi, band, CAST({bucket} AS BIGINT) AS bucket
          FROM allv,
               (SELECT UNNEST(generate_series(0, {n_bands - 1})) AS band) b),
        cand AS (
          SELECT a.vec_id AS vec_a, a.vi AS va, bb.vec_id AS vec_b, bb.vi AS vb
          FROM banded a JOIN banded bb
            ON a.band = bb.band AND a.bucket = bb.bucket
           AND a.vec_id < bb.vec_id),
        v AS (
          SELECT vec_a, vec_b,
                 CAST(list_sum(list_transform(list_zip(va, vb),
                      z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT) AS dot,
                 CAST(list_sum(list_transform(va,
                      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS n2a,
                 CAST(list_sum(list_transform(vb,
                      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS n2b
          FROM cand)
        SELECT DISTINCT vec_a, vec_b, dot, n2a, n2b FROM v
        WHERE dot > 0 AND 10000 * dot * dot >= {thr2} * n2a * n2b
    """


def _ivf_oracle_sql(k: int = 5, n_lists: int = 8, nprobe: int = 2,
                    iters: int = 2, dim: int = 64, scale: int = 1024) -> str:
    qexpr = _quant_sql(scale)
    d2 = _D2_SQL
    mean = (f"list_transform(generate_series(1, {dim}), d -> "
            f"CAST(FLOOR(CAST(list_sum(list_transform(vis, v -> "
            f"CAST(v[d] AS BIGINT))) AS DOUBLE) * 1.0 / len(vis)) AS BIGINT))")
    ctes = [f"vi AS (SELECT vec_id, {qexpr} AS vi FROM embeddings)",
            f"""c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vi AS c
                       FROM vi ORDER BY vec_id LIMIT {n_lists})"""]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(f"""a{it} AS (
            SELECT vec_id, vi, cid FROM (
              SELECT v.vec_id, v.vi, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {d2.format(v='v.vi', c='c.c')}, c.cid) AS rn
              FROM vi v, {prev} c) WHERE rn = 1)""")
        ctes.append(f"m{it} AS (SELECT cid, LIST(vi) AS vis FROM a{it} GROUP BY cid)")
        ctes.append(f"""c{it} AS (
            SELECT p.cid, CASE WHEN m.cid IS NULL THEN p.c ELSE {mean.replace('vis', f'm.vis')} END AS c
            FROM {prev} p LEFT JOIN m{it} m ON p.cid = m.cid)""")
        prev = f"c{it}"
    ctes.append(f"""va AS (
        SELECT vec_id, vi, cid FROM (
          SELECT v.vec_id, v.vi, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {d2.format(v='v.vi', c='c.c')}, c.cid) AS rn
          FROM vi v, {prev} c) WHERE rn = 1)""")
    ctes.append(f"""qp AS (
        SELECT qid, qi, cid FROM (
          SELECT v.vec_id AS qid, v.vi AS qi, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {d2.format(v='v.vi', c='c.c')}, c.cid) AS rn
          FROM vi v, {prev} c WHERE v.vec_id % 100 = 0) WHERE rn <= {nprobe})""")
    ctes.append("""scored AS (
        SELECT qp.qid, va.vec_id,
               MAX(CAST(list_sum(list_transform(list_zip(va.vi, qp.qi),
                   z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT)) AS dot
        FROM va JOIN qp ON va.cid = qp.cid GROUP BY 1, 2)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT qid, vec_id, dot, rank FROM (
          SELECT qid, vec_id, dot,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _pq_oracle_sql(k: int = 5, m: int = 8, ksub: int = 4, iters: int = 2,
                   dim: int = 64, scale: int = 1024) -> str:
    """DuckDB twin of pq_topk_int: the per-subspace k-means (same init/
    tie/mean conventions as _ivf_oracle_sql, partitioned by subspace m),
    code assignment, per-query ADC partial-product table, and the
    (m, cid) join + sum that realizes the asymmetric distance."""
    dsub = dim // m
    qexpr = _quant_sql(scale)
    d2 = _D2_SQL
    mean = (f"list_transform(generate_series(1, {dsub}), d -> "
            f"CAST(FLOOR(CAST(list_sum(list_transform(q.svs, v -> "
            f"CAST(v[d] AS BIGINT))) AS DOUBLE) * 1.0 / len(q.svs)) AS BIGINT))")
    ctes = [
        f"vi AS (SELECT vec_id, {qexpr} AS vi FROM embeddings)",
        f"""sv AS (SELECT vec_id, ms.m,
                     vi[ms.m * {dsub} + 1 : ms.m * {dsub} + {dsub}] AS sv
              FROM vi, (SELECT UNNEST(generate_series(0, {m - 1})) AS m) ms)""",
        f"""c0 AS (SELECT m, rn - 1 AS cid, sv AS c FROM (
               SELECT m, sv,
                      ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) AS rn
               FROM sv) WHERE rn <= {ksub})""",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(f"""a{it} AS (
            SELECT vec_id, m, sv, cid FROM (
              SELECT s.vec_id, s.m, s.sv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id
                       ORDER BY {d2.format(v='s.sv', c='c.c')}, c.cid) AS rn
              FROM sv s JOIN {prev} c ON s.m = c.m) WHERE rn = 1)""")
        ctes.append(f"m{it} AS (SELECT m, cid, LIST(sv) AS svs "
                    f"FROM a{it} GROUP BY m, cid)")
        ctes.append(f"""c{it} AS (
            SELECT p.m, p.cid,
                   CASE WHEN q.cid IS NULL THEN p.c ELSE {mean} END AS c
            FROM {prev} p LEFT JOIN m{it} q ON p.m = q.m AND p.cid = q.cid)""")
        prev = f"c{it}"
    ctes.append(f"""codes AS (
        SELECT vec_id, m, cid FROM (
          SELECT s.vec_id, s.m, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id
                   ORDER BY {d2.format(v='s.sv', c='c.c')}, c.cid) AS rn
          FROM sv s JOIN {prev} c ON s.m = c.m) WHERE rn = 1)""")
    ctes.append(f"""qtab AS (
        SELECT s.vec_id AS qid, s.m, c.cid,
               CAST(list_sum(list_transform(list_zip(s.sv, c.c),
                   z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))) AS BIGINT) AS pdot
        FROM sv s JOIN {prev} c ON s.m = c.m WHERE s.vec_id % 100 = 0)""")
    ctes.append("""scored AS (
        SELECT t.qid, v.vec_id, CAST(SUM(t.pdot) AS BIGINT) AS dot
        FROM codes v JOIN qtab t ON v.m = t.m AND v.cid = t.cid
        GROUP BY 1, 2)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT qid, vec_id, dot, rank FROM (
          SELECT qid, vec_id, dot,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
          FROM scored) WHERE rank <= {k}
    """


def _poly_sql(s: str, base: int = 131) -> str:
    """DuckDB twin of text.poly_hash_col: fold charcodes mod 2^31-1."""
    return (f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(generate_series(1, length({s})), "
            f"i -> CAST(ascii(substr({s}, i, 1)) AS BIGINT))), "
            f"(acc, x) -> (acc * {base} + x) % 2147483647)")


def _minhash_lsh_oracle_sql(num_perms: int = 16, band_size: int = 4) -> str:
    from rastertiler_rs_spark.operators.text import HM

    perm_aggs = []
    for k in range(num_perms):
        a = (2654435761 + 2 * k) % HM
        c = (40503 * (k + 1)) % HM
        perm_aggs.append(f"MIN((sh_h * {a} + {c}) % {HM}) AS h{k}")
    band_rows = []
    for b in range(num_perms // band_size):
        bucket = "0"
        for j in range(band_size):
            bucket = f"(({bucket}) * 1000003 + h{b * band_size + j}) % {HM}"
        band_rows.append(f"SELECT doc_id, {b} AS band, {bucket} AS bucket FROM sig")
    bands = "\n              UNION ALL ".join(band_rows)
    return f"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        sh AS (SELECT DISTINCT doc_id, SUBSTR(text, CAST(pos AS INT), 3) AS shingle
               FROM (SELECT doc_id, text,
                            UNNEST(generate_series(1, GREATEST(LENGTH(text) - 2, 1))) AS pos
                     FROM docs)),
        hs AS (SELECT doc_id, {_poly_sql('shingle')} AS sh_h FROM sh),
        sig AS (SELECT doc_id, {', '.join(perm_aggs)} FROM hs GROUP BY doc_id),
        buckets AS ({bands})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands_shared
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """


def _simhash_oracle_sql(max_hamming: int = 16) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(62))
    sig = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(62))
    return rf"""
        WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        toks AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
                 FROM docs),
        th AS (SELECT doc_id,
                      {_poly_sql('tok', 131)} * 2147483648 + {_poly_sql('tok', 137)} AS th
               FROM toks),
        votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id),
        sig AS (SELECT doc_id, {sig} AS simhash FROM votes),
        chunks AS (SELECT doc_id, simhash, c.chunk,
                          (simhash >> (16 * c.chunk)) & 65535 AS val
                   FROM sig, (VALUES (0), (1), (2), (3)) c(chunk)),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                  a.simhash AS sa, b.simhash AS sb
                  FROM chunks a JOIN chunks b
                    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _doc_fingerprint_oracle_sql(window: int = 8) -> str:
    return f"""
        SELECT doc_id, MIN({_poly_sql('gram')}) AS fingerprint FROM (
          SELECT doc_id, SUBSTR(text, CAST(pos AS INT), {window}) AS gram
          FROM (SELECT doc_id, text,
                       UNNEST(generate_series(1, GREATEST(LENGTH(text) - {window - 1}, 1))) AS pos
                FROM documents))
        GROUP BY doc_id
    """


def _doc_chunks_oracle_sql(size: int = 32, stride: int = 24) -> str:
    """Twin of the chunks leg: same whitespace split the doc_tokens
    twin pins, 1-based inclusive list slice (both engines cap at the
    array end), polynomial hash of the space-rejoined chunk."""
    return f"""
        WITH tk AS (SELECT doc_id,
                           regexp_split_to_array(TRIM(text), '\\s+') AS a
                    FROM documents),
        ch AS (SELECT doc_id, i AS chunk_id,
                      a[(i * {stride} + 1):(i * {stride} + {size})] AS sl
               FROM tk, LATERAL (SELECT UNNEST(generate_series(
                      0, (LEN(a) - 1) // {stride})) AS i) s(i))
        SELECT doc_id * 100000 + chunk_id AS doc_id,
               {_poly_sql("array_to_string(sl, ' ')")} AS fingerprint
        FROM ch
    """


def _tile_captions_oracle_sql(n: int = 64, zoom: int = 8) -> str:
    """Embedded per-image constants (footprint, caption, phash) from
    the SHARED fixture formulas + the z8 cover rederived in SQL; the
    caption strings ride the hash as real values (per-row caption
    equality, BASELINE input_hint)."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import (caption_for_index,
                                               footprint_from_index,
                                               splitmix64)

    idx = np.arange(n)
    minx, miny, maxx, maxy = footprint_from_index(idx)
    phash = splitmix64(idx.astype(np.uint64)).astype(np.int64)
    rows = ",\n              ".join(
        f"('img{i:08d}', '{caption_for_index(i)}', {int(phash[i])}, "
        f"{minx[i]!r}, {miny[i]!r}, {maxx[i]!r}, {maxy[i]!r})"
        for i in range(n))
    zmax = (1 << zoom) - 1
    zf = float(1 << zoom)
    return f"""
        WITH img(image_id, caption, phash, minx, miny, maxx, maxy) AS (VALUES
              {rows}),
        rng AS (
          SELECT image_id, caption, phash,
            GREATEST(0, LEAST({zmax}, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * {zf!r}) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST({zmax}, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * {zf!r}) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST({zmax}, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * {zf!r}) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST({zmax}, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * {zf!r}) AS BIGINT))) AS tymax
          FROM img),
        cover AS (
          SELECT image_id, caption, phash, xs.x AS x, ys.y AS y
          FROM (SELECT image_id, caption, phash, tymin, tymax,
                       UNNEST(generate_series(txmin, txmax)) AS x
                FROM rng) xs(image_id, caption, phash, tymin, tymax, x),
               LATERAL (SELECT UNNEST(generate_series(xs.tymin, xs.tymax))) ys(y))
        SELECT CAST({zoom} AS BIGINT) AS zoom, x, y,
               COUNT(*) AS n_images,
               MIN(image_id) AS first_image,
               MIN(caption) AS first_caption,
               CAST(SUM(LENGTH(caption)) AS BIGINT) AS caption_len_sum,
               CAST(BIT_XOR(phash) AS BIGINT) AS phash_xor
        FROM cover GROUP BY x, y
    """


def _zonal_stats_oracle_sql(n_images: int = 64, limit: int = 500,
                           u32: bool = False) -> str:
    """Zone boxes (part formula) x embedded image constants; pixels
    rederived from the generation formula with the SAME IEEE center
    arithmetic as operators/zonal.py (psx division first, then
    (c + 0.5) * psx, then the add)."""
    tmpl = _PIXEL_VALUE_CASE_U32 if u32 else _PIXEL_VALUE_CASE
    case = tmpl.format(r="rs.r", c="cs.c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n_images)}),
        boxes AS ({_PART_BOXES_SQL.format(limit=limit)}),
        pairs AS (
          SELECT b.p_partkey AS zone_id, b.minx AS zxmin, b.miny AS zymin,
                 b.maxx AS zxmax, b.maxy AS zymax, img.*
          FROM boxes b JOIN img ON b.minx < img.maxx AND b.maxx > img.minx
                               AND b.miny < img.maxy AND b.maxy > img.miny),
        px AS (
          SELECT zone_id, i, v, xc, yc, zxmin, zxmax, zymin, zymax FROM (
            SELECT p.*, rs.r, cs.c,
                   {{case}} AS v,
                   p.minx + (cs.c + 0.5) * ((p.maxx - p.minx) / p.w) AS xc,
                   p.maxy - (rs.r + 0.5) * ((p.maxy - p.miny) / p.h) AS yc
            FROM pairs p,
                 LATERAL (SELECT UNNEST(generate_series(0, p.h - 1)) AS r) rs(r),
                 LATERAL (SELECT UNNEST(generate_series(0, p.w - 1)) AS c) cs(c))),
        filt AS (SELECT * FROM px
                 WHERE xc >= zxmin AND xc < zxmax
                   AND yc >= zymin AND yc < zymax AND v <> 0),
        per_img AS (SELECT zone_id, i, COUNT(*) AS n, SUM(v) AS s,
                           MIN(v) AS mn, MAX(v) AS mx
                    FROM filt GROUP BY 1, 2)
        SELECT CAST(zone_id AS BIGINT) AS zone_id,
               COUNT(*) AS n_images,
               CAST(SUM(n) AS BIGINT) AS n_px,
               CAST(SUM(s) AS BIGINT) AS vsum,
               CAST(MIN(mn) AS BIGINT) AS vmin,
               CAST(MAX(mx) AS BIGINT) AS vmax
        FROM per_img GROUP BY zone_id
    """.replace("{case}", case)


def _zonal_quantiles_oracle_sql(n_images: int = 64,
                                limit: int = 500) -> str:
    """Counting-sort quantile twin of operators/zonal.zonal_quantiles
    over the same pairs/px/filt chain as the u8 stats twin: per-zone
    (value, count) -> windowed cumsum -> division-free lower-quantile
    rank inequalities (cdf·4 ≥ n, cdf·2 ≥ n, cdf·4 ≥ 3n). Columns
    coerced into the zonal union shape: n_images←n distinct values,
    vsum←median, vmin←p25, vmax←p75."""
    case = _PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n_images)}),
        boxes AS ({_PART_BOXES_SQL.format(limit=limit)}),
        pairs AS (
          SELECT b.p_partkey AS zone_id, b.minx AS zxmin, b.miny AS zymin,
                 b.maxx AS zxmax, b.maxy AS zymax, img.*
          FROM boxes b JOIN img ON b.minx < img.maxx AND b.maxx > img.minx
                               AND b.miny < img.maxy AND b.maxy > img.miny),
        px AS (
          SELECT zone_id, i, v, xc, yc, zxmin, zxmax, zymin, zymax FROM (
            SELECT p.*, rs.r, cs.c,
                   {{case}} AS v,
                   p.minx + (cs.c + 0.5) * ((p.maxx - p.minx) / p.w) AS xc,
                   p.maxy - (rs.r + 0.5) * ((p.maxy - p.miny) / p.h) AS yc
            FROM pairs p,
                 LATERAL (SELECT UNNEST(generate_series(0, p.h - 1)) AS r) rs(r),
                 LATERAL (SELECT UNNEST(generate_series(0, p.w - 1)) AS c) cs(c))),
        filt AS (SELECT * FROM px
                 WHERE xc >= zxmin AND xc < zxmax
                   AND yc >= zymin AND yc < zymax AND v <> 0),
        vc AS (SELECT zone_id, v, COUNT(*) AS cnt FROM filt GROUP BY 1, 2),
        cum AS (SELECT zone_id, v,
                       SUM(cnt) OVER (PARTITION BY zone_id ORDER BY v) AS cdf,
                       SUM(cnt) OVER (PARTITION BY zone_id) AS n,
                       COUNT(*) OVER (PARTITION BY zone_id) AS nv
                FROM vc)
        SELECT CAST(zone_id AS BIGINT) AS zone_id,
               CAST(MAX(nv) AS BIGINT) AS n_images,
               CAST(MAX(n) AS BIGINT) AS n_px,
               CAST(MIN(CASE WHEN cdf * 2 >= n THEN v END) AS BIGINT) AS vsum,
               CAST(MIN(CASE WHEN cdf * 4 >= n THEN v END) AS BIGINT) AS vmin,
               CAST(MIN(CASE WHEN cdf * 4 >= 3 * n THEN v END) AS BIGINT) AS vmax
        FROM cum GROUP BY zone_id
    """.replace("{case}", case)


def _zonal_poly_oracle_sql(n_images: int = 64) -> str:
    """Triangle zones over the image grid with the REAL even-odd test:
    non-horizontal ring edges embedded in ray_cast's (v[j] -> v[i])
    orientation (float parity demands the same operand order), pixel
    membership = odd crossing count."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import footprint_from_index

    edge_rows, box_rows = [], []
    for i in range(0, 40, 4):
        minx, miny, maxx, maxy = (v.item() for v in
                                  footprint_from_index(np.array([i])))
        ring = [(minx - 311.25, miny - 97.5),
                (maxx + 1234.5, miny + 777.25),
                (minx + 555.125, maxy + 321.75)]
        n = len(ring)
        j = n - 1
        for k in range(n):
            (x1, y1), (x2, y2) = ring[j], ring[k]
            j = k
            if y1 != y2:
                edge_rows.append(f"({i}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        box_rows.append(f"({i}, {min(xs)!r}, {min(ys)!r}, "
                        f"{max(xs)!r}, {max(ys)!r})")
    edges = ",\n              ".join(edge_rows)
    boxes = ",\n              ".join(box_rows)
    case = _PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n_images)}),
        tri(zone_id, x1, y1, x2, y2) AS (VALUES
              {edges}),
        zbox(zone_id, zxmin, zymin, zxmax, zymax) AS (VALUES
              {boxes}),
        pairs AS (
          SELECT z.zone_id, img.*
          FROM zbox z JOIN img ON z.zxmin < img.maxx AND z.zxmax > img.minx
                              AND z.zymin < img.maxy AND z.zymax > img.miny),
        px AS (
            SELECT p.zone_id, p.i, rs.r, cs.c,
                   {case} AS v,
                   p.minx + (cs.c + 0.5) * ((p.maxx - p.minx) / p.w) AS xc,
                   p.maxy - (rs.r + 0.5) * ((p.maxy - p.miny) / p.h) AS yc
            FROM pairs p,
                 LATERAL (SELECT UNNEST(generate_series(0, p.h - 1)) AS r) rs(r),
                 LATERAL (SELECT UNNEST(generate_series(0, p.w - 1)) AS c) cs(c)),
        mem AS (
          SELECT p.zone_id, p.i, p.r, p.c, p.v
          FROM px p JOIN tri t ON t.zone_id = p.zone_id
          WHERE (t.y1 > p.yc) <> (t.y2 > p.yc)
            AND p.xc < ((t.x2 - t.x1) * (p.yc - t.y1)) / (t.y2 - t.y1) + t.x1
          GROUP BY p.zone_id, p.i, p.r, p.c, p.v
          HAVING COUNT(*) % 2 = 1),
        per_img AS (SELECT zone_id, i, COUNT(*) AS n, SUM(v) AS s,
                           MIN(v) AS mn, MAX(v) AS mx
                    FROM mem WHERE v <> 0 GROUP BY 1, 2)
        SELECT CAST(zone_id AS BIGINT) AS zone_id,
               COUNT(*) AS n_images,
               CAST(SUM(n) AS BIGINT) AS n_px,
               CAST(SUM(s) AS BIGINT) AS vsum,
               CAST(MIN(mn) AS BIGINT) AS vmin,
               CAST(MAX(mx) AS BIGINT) AS vmax
        FROM per_img GROUP BY zone_id
    """


# tile-assignment + MVT quantization twin for the point sink (decoded
# local coordinates per z6 tile); column names pre-rename — the
# vector_tiles union aliases sum_lx/sum_ly to the shared sum_cx/sum_cy
_VECTOR_TILES_POINTS_SQL = """
    WITH pts AS (
      SELECT c_custkey,
        GREATEST(-180.0, LEAST(180.0, (c_custkey % 3600) / 10.0 - 180.0 + 0.05)) AS lon,
        GREATEST(-85.051129, LEAST(85.051129, (c_custkey % 1700) / 10.0 - 85.0 + 0.05)) AS lat
      FROM customer WHERE c_custkey <= 800),
    merc AS (
      SELECT c_custkey,
        floor((lon * 111319.49079327358) * 1e6 + 0.5) / 1e6 AS mx,
        floor((6378137.0 * ln(tan(0.7853981633974483 + 0.008726646259971648 * lat))) * 1e6 + 0.5) / 1e6 AS my
      FROM pts),
    t AS (
      SELECT c_custkey, mx, my,
        GREATEST(0, LEAST(63, CAST(FLOOR((mx + 20037508.342789244) / 40075016.68557849 * 64.0) AS BIGINT))) AS x,
        GREATEST(0, LEAST(63, CAST(FLOOR((20037508.342789244 - my) / 40075016.68557849 * 64.0) AS BIGINT))) AS y
      FROM merc),
    loc AS (
      SELECT c_custkey, x, y,
        GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR(
          (mx - ((-20037508.342789244) + CAST(x AS DOUBLE) * 626172.1357121639)) / 626172.1357121639 * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS lx,
        GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR(
          ((20037508.342789244 - CAST(y AS DOUBLE) * 626172.1357121639) - my) / 626172.1357121639 * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS ly
      FROM t)
    SELECT CAST(6 AS BIGINT) AS zoom, x,
           63 - y AS tile_row,
           COUNT(*) AS n_features,
           CAST(SUM(lx) AS BIGINT) AS sum_lx,
           CAST(SUM(ly) AS BIGINT) AS sum_ly,
           MIN(c_custkey) AS min_fid,
           MAX(c_custkey) AS max_fid
    FROM loc GROUP BY x, y
"""


def _vector_tiles_poly_oracle_sql(limit: int = 200, zoom: int = 5) -> str:
    """Cover + clip + MVT quantization twin for the polygon sink; the
    ring-corner sums are 2*(lx0+lx1) / 2*(ly0+ly1) because the emitted
    rectangle ring visits each corner coordinate twice."""
    n = 1 << zoom
    span = repr(40075016.68557849 / n)
    # the shared _PART_BOXES_SQL leaves its literals DECIMAL — exact
    # decimal arithmetic diverges from the engine's chained double
    # roundings by an ulp, which the 4096-level quantization floor can
    # see; recompute the same formula with every operand forced DOUBLE
    # (verified bit-identical to the JVM/python chain)
    return f"""
        WITH boxes AS (
          SELECT p_partkey AS box_id,
                 CAST(-{_O} AS DOUBLE)
                   + (CAST(p_partkey % 47 AS DOUBLE) + CAST(0.3 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE) AS minx,
                 CAST(-{_O} AS DOUBLE)
                   + (CAST(p_partkey % 31 AS DOUBLE) + CAST(0.2 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE) AS miny,
                 (CAST(-{_O} AS DOUBLE)
                   + (CAST(p_partkey % 47 AS DOUBLE) + CAST(0.3 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE))
                   + (CAST(0.4 AS DOUBLE) + CAST(p_partkey % 3 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE) AS maxx,
                 (CAST(-{_O} AS DOUBLE)
                   + (CAST(p_partkey % 31 AS DOUBLE) + CAST(0.2 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE))
                   + (CAST(0.3 AS DOUBLE) + CAST(p_partkey % 5 AS DOUBLE))
                     * CAST({_CELL} AS DOUBLE) AS maxy
          FROM part WHERE p_partkey <= {limit}),
        rng AS (
          SELECT box_id, minx, miny, maxx, maxy,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * {float(n)!r}) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * {float(n)!r}) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * {float(n)!r}) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * {float(n)!r}) AS BIGINT))) AS tymax
          FROM boxes),
        cover AS (
          SELECT box_id, minx, miny, maxx, maxy, xs.tx AS tx, ys.ty AS ty
          FROM (SELECT *, UNNEST(generate_series(txmin, txmax)) AS tx
                FROM rng) xs,
               LATERAL (SELECT UNNEST(generate_series(xs.tymin, xs.tymax))) ys(ty)),
        geom AS (
          SELECT box_id, tx, ty, minx, miny, maxx, maxy,
            (-{_O}) + CAST(tx AS DOUBLE) * {span} AS tminx,
            {_O} - CAST(ty AS DOUBLE) * {span} AS tmaxy
          FROM cover),
        q AS (
          SELECT box_id, tx, ty,
            GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR((GREATEST(minx, tminx) - tminx) / {span} * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS lx0,
            GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR((LEAST(maxx, tminx + {span}) - tminx) / {span} * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS lx1,
            GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR((tmaxy - LEAST(maxy, tmaxy)) / {span} * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS ly0,
            GREATEST(0, LEAST(4095, CAST(FLOOR(FLOOR((tmaxy - GREATEST(miny, tmaxy - {span})) / {span} * 4096.0 * 1e6 + 0.5) / 1e6) AS BIGINT))) AS ly1
          FROM geom)
        SELECT CAST({zoom} AS BIGINT) AS zoom, tx AS x,
               {n - 1} - ty AS tile_row,
               COUNT(*) AS n_features,
               CAST(SUM(2 * (lx0 + lx1)) AS BIGINT) AS sum_rx,
               CAST(SUM(2 * (ly0 + ly1)) AS BIGINT) AS sum_ry,
               MIN(box_id) AS min_fid,
               MAX(box_id) AS max_fid
        FROM q GROUP BY tx, ty
    """


def _raster_gradient_oracle_sql(n_images: int = 64) -> str:
    """Interior stencil from the pixel formula with shifted (r, c)."""
    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n_images)}),
        px AS (
          SELECT i,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, h - 2)) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, w - 2)) AS c) cs(c)
          WHERE w >= 3 AND h >= 3),
        g AS (
          SELECT i, (ve - vw) * (ve - vw) + (vs - vn) * (vs - vn) AS g2
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0)
        SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
               COUNT(*) AS n_valid,
               CAST(SUM(g2) AS BIGINT) AS sum_g2,
               CAST(MAX(g2) AS BIGINT) AS max_g2
        FROM g GROUP BY i
    """


def _halo_gradient_oracle_sql(w: int = 1024, h: int = 768,
                              ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas gradient grouped by owning tile — the twin
    never sees tiles, so it checks the engine's halo exchange."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 (ve - vw) * (ve - vw) + (vs - vn) * (vs - vn) AS g2
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(g2) AS BIGINT) AS sum_g2,
               CAST(MAX(g2) AS BIGINT) AS max_g2
        FROM g GROUP BY tx, ty
    """


def _raster_algebra_oracle_sql(w: int = 1024, h: int = 768,
                               ts: int = 128, seed_a: int = 5,
                               seed_b: int = 13) -> str:
    """Twin of the `algebra` leg of tile_halo: both canvas formulas
    restated, mean = (a+b+1)//2 (operands nonneg — DuckDB truncation
    == floor), either-side-zero ⇒ zero, grouped by owning tile over
    nonzero outputs."""
    from rastertiler_rs_spark.fixtures import canvas_params

    def vcase(seed):
        ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
        if all_nd:
            return "0"
        return (f"(CASE WHEN r >= {hr0} AND r < {hr1} AND c >= {hc0} "
                f"AND c < {hc1} THEN 0 "
                f"ELSE (r * 31 + c * 17 + {ph}) % 255 + 1 END)")

    return f"""
        WITH px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {vcase(seed_a)} AS va,
                 {vcase(seed_b)} AS vb
          FROM (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs,
               (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs),
        comb AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 CASE WHEN va = 0 OR vb = 0 THEN 0
                      ELSE (va + vb + 1) // 2 END AS v
          FROM px)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(v) AS BIGINT) AS sum_g2,
               CAST(MAX(v) AS BIGINT) AS max_g2
        FROM comb WHERE v <> 0 GROUP BY tx, ty
    """


def _rasterize_oracle_sql(w: int = 256, h: int = 192,
                          ts: int = 64) -> str:
    """Twin of the `burn` leg of tile_halo: for every pixel center
    and every fixture polygon, the even-odd crossing count restated
    edge-by-edge in pure integers (edges pre-ordered y1 < y2 at
    generation, horizontal edges dropped; crossing-right-of-center ⇔
    (2c+1)·(y2−y1) < 2·x1·(y2−y1) + (2r+1−2·y1)·(x2−x1)), then the
    highest covering poly_id paints and the per-tile stats reduce."""
    per_poly = []
    for pid, pts, val in _BURN_POLYS:
        terms = []
        n = len(pts)
        for e in range(n):
            x1, y1 = pts[e]
            x2, y2 = pts[(e + 1) % n]
            if y1 == y2:
                continue
            if y2 < y1:
                x1, y1, x2, y2 = x2, y2, x1, y1
            dy, dx = y2 - y1, x2 - x1
            terms.append(
                f"(CASE WHEN r >= {y1} AND r < {y2} AND "
                f"(2*c + 1) * {dy} < {2 * x1 * dy} + "
                f"(2*r + 1 - {2 * y1}) * ({dx}) THEN 1 ELSE 0 END)")
        per_poly.append(
            f"CASE WHEN ({' + '.join(terms)}) % 2 = 1 "
            f"THEN {pid} ELSE 0 END AS in{pid}")
    paint = " ".join(
        f"WHEN in{pid} = {pid} THEN {val}"
        for pid, _, val in sorted(_BURN_POLYS, reverse=True))
    return f"""
        WITH px AS (
          SELECT rs.r AS r, cs.c AS c
          FROM (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs,
               (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs),
        cov AS (
          SELECT r, c, {', '.join(per_poly)}
          FROM px),
        painted AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 CASE {paint} ELSE 0 END AS v
          FROM cov)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(v) AS BIGINT) AS sum_g2,
               CAST(MAX(v) AS BIGINT) AS max_g2
        FROM painted WHERE v <> 0 GROUP BY tx, ty
    """


def _raster_stack_oracle_sql(w: int = 1024, h: int = 768,
                             ts: int = 128,
                             seeds: tuple = (5, 13, 0)) -> str:
    """Twin of the `stack` leg of tile_halo: per-pixel LOWER MEDIAN of
    the three canvas formulas with per-pixel nodata exclusion,
    restated scalar-wise — 3 valid → a+b+c−GREATEST−LEAST, 2 valid →
    LEAST of the pair, 1 → identity — then the per-tile stats."""
    from rastertiler_rs_spark.fixtures import canvas_params

    def vcase(seed):
        ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
        assert not all_nd
        return (f"(CASE WHEN r >= {hr0} AND r < {hr1} AND c >= {hc0} "
                f"AND c < {hc1} THEN 0 "
                f"ELSE (r * 31 + c * 17 + {ph}) % 255 + 1 END)")

    va, vb, vc = (vcase(s) for s in seeds)
    return f"""
        WITH px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {va} AS a, {vb} AS b, {vc} AS v3
          FROM (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs,
               (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs),
        med AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
            CASE
              WHEN a <> 0 AND b <> 0 AND v3 <> 0
                THEN a + b + v3 - GREATEST(a, b, v3) - LEAST(a, b, v3)
              WHEN a <> 0 AND b <> 0 THEN LEAST(a, b)
              WHEN a <> 0 AND v3 <> 0 THEN LEAST(a, v3)
              WHEN b <> 0 AND v3 <> 0 THEN LEAST(b, v3)
              ELSE a + b + v3
            END AS v
          FROM px)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(v) AS BIGINT) AS sum_g2,
               CAST(MAX(v) AS BIGINT) AS max_g2
        FROM med WHERE v <> 0 GROUP BY tx, ty
    """


def _isolines_oracle_sql(w: int = 1024, h: int = 768, ts: int = 128,
                         seed: int = 5, thr: int = 128) -> str:
    """Twin of the `iso` leg of tile_halo: marching squares restated
    over the unpartitioned canvas formula — per cell the corner
    classification, the fixed-point edge interpolation (quotients are
    ≥0, where DuckDB's truncation == numpy's floor), the 16-case
    topology with the center-rule saddle split, and the per-segment
    (from → to) orientation, reduced to the same three per-tile sums.
    The table below is an independent transcription of the published
    marching-squares cases; a slip on either side flips the hash."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    S = 256

    def v(r, c):
        return (f"(CASE WHEN {r} >= {hr0} AND {r} < {hr1} "
                f"AND {c} >= {hc0} AND {c} < {hc1} THEN 0 "
                f"ELSE ({r} * 31 + {c} * 17 + {ph}) % 255 + 1 END)")

    # independent restatement of the case table (idx = a8 b4 c2 d1;
    # region-on-left orientation; saddles keyed by the center rule)
    cases = {
        8: [("l", "t")], 7: [("t", "l")],
        4: [("t", "r")], 11: [("r", "t")],
        2: [("r", "b")], 13: [("b", "r")],
        1: [("b", "l")], 14: [("l", "b")],
        12: [("l", "r")], 3: [("r", "l")],
        6: [("t", "b")], 9: [("b", "t")],
    }
    saddle_lo = {10: [("l", "t"), ("r", "b")],
                 5: [("t", "r"), ("b", "l")]}
    saddle_hi = {10: [("l", "b"), ("r", "t")],
                 5: [("t", "l"), ("b", "r")]}
    X = {"t": "xt", "r": "xr", "b": "xb", "l": "xl"}
    Y = {"t": "yt", "r": "yr", "b": "yb", "l": "yl"}

    def sums(segs):
        coord = " + ".join(f"({X[a]} + {X[b]} + 3 * ({Y[a]} + {Y[b]}))"
                           for a, b in segs)
        cross = " + ".join(f"({X[a]} * {Y[b]} - {X[b]} * {Y[a]})"
                           for a, b in segs)
        return len(segs), coord, cross

    n_when, co_when, cr_when = [], [], []
    for idx, segs in cases.items():
        n, co, cr = sums(segs)
        n_when.append(f"WHEN idx = {idx} THEN {n}")
        co_when.append(f"WHEN idx = {idx} THEN {co}")
        cr_when.append(f"WHEN idx = {idx} THEN {cr}")
    for table, cond in ((saddle_lo, "NOT hi"), (saddle_hi, "hi")):
        for idx, segs in table.items():
            n, co, cr = sums(segs)
            n_when.append(f"WHEN idx = {idx} AND {cond} THEN {n}")
            co_when.append(f"WHEN idx = {idx} AND {cond} THEN {co}")
            cr_when.append(f"WHEN idx = {idx} AND {cond} THEN {cr}")
    if all_nd:
        return ("SELECT CAST(0 AS BIGINT) AS tx, CAST(0 AS BIGINT) AS ty,"
                " CAST(0 AS BIGINT) AS n_valid, CAST(0 AS BIGINT) AS"
                " sum_g2, CAST(0 AS BIGINT) AS max_g2 WHERE FALSE")
    return f"""
        WITH corners AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS va,
                 {v("rs.r", "(cs.c + 1)")} AS vb,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vc,
                 {v("(rs.r + 1)", "cs.c")} AS vd
          FROM (SELECT UNNEST(generate_series(0, {h - 2})) AS r) rs,
               (SELECT UNNEST(generate_series(0, {w - 2})) AS c) cs),
        cells AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 (CASE WHEN va >= {thr} THEN 8 ELSE 0 END
                  + CASE WHEN vb >= {thr} THEN 4 ELSE 0 END
                  + CASE WHEN vc >= {thr} THEN 2 ELSE 0 END
                  + CASE WHEN vd >= {thr} THEN 1 ELSE 0 END) AS idx,
                 (va + vb + vc + vd) >= {4 * thr} AS hi,
                 c * {S} + CASE WHEN vb = va THEN 0
                   ELSE (({thr} - va) * {S}) // (vb - va) END AS xt,
                 r * {S} AS yt,
                 (c + 1) * {S} AS xr,
                 r * {S} + CASE WHEN vc = vb THEN 0
                   ELSE (({thr} - vb) * {S}) // (vc - vb) END AS yr,
                 c * {S} + CASE WHEN vc = vd THEN 0
                   ELSE (({thr} - vd) * {S}) // (vc - vd) END AS xb,
                 (r + 1) * {S} AS yb,
                 c * {S} AS xl,
                 r * {S} + CASE WHEN vd = va THEN 0
                   ELSE (({thr} - va) * {S}) // (vd - va) END AS yl
          FROM corners
          WHERE va <> 0 AND vb <> 0 AND vc <> 0 AND vd <> 0
            AND NOT (va >= {thr} AND vb >= {thr} AND vc >= {thr}
                     AND vd >= {thr})
            AND NOT (va < {thr} AND vb < {thr} AND vc < {thr}
                     AND vd < {thr})),
        per_cell AS (
          SELECT tx, ty,
                 CASE {' '.join(n_when)} END AS n,
                 CASE {' '.join(co_when)} END AS co,
                 CASE {' '.join(cr_when)} END AS cr
          FROM cells)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               CAST(SUM(n) AS BIGINT) AS n_valid,
               CAST(SUM(co) AS BIGINT) AS sum_g2,
               CAST(SUM(cr) AS BIGINT) AS max_g2
        FROM per_cell GROUP BY tx, ty
    """


def _raster_regions_oracle_sql(w: int = 256, h: int = 192,
                               seed: int = 5) -> str:
    """Independent region labeling in SQL: derive row runs from the
    canvas formula (window over valid pixels — a run starts at a
    column gap or a value change), build the vertical run-adjacency
    graph, close it with a recursive CTE (min reachable run id ==
    the region's first row-major pixel, the engine's region name),
    then aggregate the same integer stats. The fixture's nodata grid
    bounds region size so the closure stays tractable."""
    from rastertiler_rs_spark.fixtures import splitmix64
    import numpy as np

    ph = int(splitmix64(np.uint64(seed))) & 0xFF
    V = (f"(CASE WHEN (r % 23) = 7 OR (c % 29) = 11 THEN 0 "
         f"ELSE ((r*31 + c*17 + {ph}) % 255 + 1) // 64 + 1 END)")
    return f"""
        WITH px AS (
          SELECT rs.r AS r, cs.c AS c, {V} AS v
          FROM (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs,
               (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs
          WHERE {V} <> 0),
        runs AS (
          SELECT r, c, v,
                 MAX(CASE WHEN st THEN r * 4294967296 + c END)
                   OVER (PARTITION BY r ORDER BY c
                         ROWS UNBOUNDED PRECEDING) AS rid
          FROM (SELECT r, c, v,
                       (LAG(c) OVER w IS DISTINCT FROM c - 1)
                       OR (LAG(v) OVER w IS DISTINCT FROM v) AS st
                FROM px WINDOW w AS (PARTITION BY r ORDER BY c))),
        eu AS (
          SELECT DISTINCT a.rid AS src, b.rid AS dst
          FROM runs a JOIN runs b
            ON b.r = a.r + 1 AND b.c = a.c AND b.v = a.v
          WHERE a.rid <> b.rid),
        edges AS (SELECT src, dst FROM eu UNION SELECT dst, src FROM eu),
        nodes AS (SELECT DISTINCT rid FROM runs),
        reach AS (
          WITH RECURSIVE rr(v, l) AS (
            SELECT rid, rid FROM nodes
            UNION
            SELECT e.dst, rr.l FROM rr JOIN edges e ON e.src = rr.v
          ) SELECT v, MIN(l) AS l FROM rr GROUP BY v)
        SELECT CAST(p.v AS BIGINT) AS value, COUNT(*) AS n_pixels,
               MIN(p.r) AS min_r, MIN(p.c) AS min_c,
               MAX(p.r) AS max_r, MAX(p.c) AS max_c,
               CAST(reach.l % 4294967296 AS BIGINT) AS first_c
        FROM runs p JOIN reach ON reach.v = p.rid
        GROUP BY reach.l, p.v
    """


def _halo_sobel_oracle_sql(w: int = 1024, h: int = 768,
                           ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas SOBEL grouped by owning tile — 8-neighbor
    twin of _halo_gradient_oracle_sql; integer throughout."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn,
                 {v("(rs.r - 1)", "(cs.c - 1)")} AS vnw,
                 {v("(rs.r - 1)", "(cs.c + 1)")} AS vne,
                 {v("(rs.r + 1)", "(cs.c - 1)")} AS vsw,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vse
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 ((vne + 2 * ve + vse) - (vnw + 2 * vw + vsw))
                   * ((vne + 2 * ve + vse) - (vnw + 2 * vw + vsw))
                 + ((vsw + 2 * vs + vse) - (vnw + 2 * vn + vne))
                   * ((vsw + 2 * vs + vse) - (vnw + 2 * vn + vne)) AS g2
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
            AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(g2) AS BIGINT) AS sum_g2,
               CAST(MAX(g2) AS BIGINT) AS max_g2
        FROM g GROUP BY tx, ty
    """


def _halo_window9_oracle_sql(pixel_expr: str, w: int = 1024, h: int = 768,
                             ts: int = 128, seed: int = 5) -> str:
    """Shared unpartitioned-canvas twin for 3×3-window halo stencils:
    emits per valid pixel (all 9 cells non-nodata) the value
    `pixel_expr` over columns vc/vn/vs/vw/ve/vnw/vne/vsw/vse, grouped
    to (tx, ty, n_valid, sum_g2, max_g2)."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn,
                 {v("(rs.r - 1)", "(cs.c - 1)")} AS vnw,
                 {v("(rs.r - 1)", "(cs.c + 1)")} AS vne,
                 {v("(rs.r + 1)", "(cs.c - 1)")} AS vsw,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vse
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty, {pixel_expr} AS g2
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
            AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(g2) AS BIGINT) AS sum_g2,
               CAST(MAX(g2) AS BIGINT) AS max_g2
        FROM g GROUP BY tx, ty
    """


_W9 = "vc, vn, vs, vw, ve, vnw, vne, vsw, vse"
_MORPH_EXPR = f"GREATEST({_W9}) - LEAST({_W9})"
_MEDIAN_EXPR = f"list_sort([{_W9}])[5]"
_TRI_EXPR = ("ABS(vc-vn) + ABS(vc-vs) + ABS(vc-vw) + ABS(vc-ve) "
             "+ ABS(vc-vnw) + ABS(vc-vne) + ABS(vc-vsw) + ABS(vc-vse)")
_TPI_EXPR = "8*vc - (vn + vs + vw + ve + vnw + vne + vsw + vse)"
_FMEAN_EXPR = "((" + _W9.replace(", ", " + ") + ") + 4) // 9"


def _halo_terrain_oracle_sql(w: int = 1024, h: int = 768,
                             ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas twin of tile_halo_terrain: Horn gradient
    numerators per valid pixel, the SAME sign/magnitude CASE ladder as
    halo.aspect_octant (no trig — exact integers both engines), octant
    histogram packed 4×16-bit into sum_g2 (octants 0-3) / max_g2
    (4-7)."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    ladder = """CASE
                 WHEN gx = 0 AND gy = 0 THEN -1
                 WHEN gx > 0 AND gy >= 0 AND gy < gx THEN 0
                 WHEN gy > 0 AND gx > 0 AND gy >= gx THEN 1
                 WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
                 WHEN gy > 0 AND gx < 0 AND gy <= -gx THEN 3
                 WHEN gy <= 0 AND gx < 0 AND -gy < -gx THEN 4
                 WHEN gy < 0 AND gx < 0 AND -gy >= -gx THEN 5
                 WHEN gy < 0 AND gx >= 0 AND -gy > gx THEN 6
                 ELSE 7 END"""
    lo = " + ".join(
        f"SUM(CASE WHEN oct = {k} THEN 1 ELSE 0 END) * {1 << (16 * k)}"
        for k in range(4))
    hi = " + ".join(
        f"SUM(CASE WHEN oct = {k + 4} THEN 1 ELSE 0 END) * {1 << (16 * k)}"
        for k in range(4))
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn,
                 {v("(rs.r - 1)", "(cs.c - 1)")} AS vnw,
                 {v("(rs.r - 1)", "(cs.c + 1)")} AS vne,
                 {v("(rs.r + 1)", "(cs.c - 1)")} AS vsw,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vse
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 ((vne + 2 * ve + vse) - (vnw + 2 * vw + vsw)) AS gx,
                 ((vsw + 2 * vs + vse) - (vnw + 2 * vn + vne)) AS gy
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
            AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0),
        o AS (SELECT tx, ty, {ladder} AS oct FROM g)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST({lo} AS BIGINT) AS sum_g2,
               CAST({hi} AS BIGINT) AS max_g2
        FROM o GROUP BY tx, ty
    """


def _halo_horn_g_cte(w: int, h: int, ts: int, seed: int) -> str:
    """Shared CTE prefix for Horn-gradient halo twins: yields table
    `g(tx, ty, gx, gy)` — the integer Horn numerators of every valid
    8-neighborhood pixel of the unpartitioned canvas formula, keyed by
    owning tile."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn,
                 {v("(rs.r - 1)", "(cs.c - 1)")} AS vnw,
                 {v("(rs.r - 1)", "(cs.c + 1)")} AS vne,
                 {v("(rs.r + 1)", "(cs.c - 1)")} AS vsw,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vse
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 ((vne + 2 * ve + vse) - (vnw + 2 * vw + vsw)) AS gx,
                 ((vsw + 2 * vs + vse) - (vnw + 2 * vn + vne)) AS gy
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
            AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0)"""


def _overzoom_oracle_sql(w: int = 1024, h: int = 768,
                         ts: int = 128, seed: int = 5) -> str:
    """Twin of the `zoomin` leg: the 1-level overzoom of the canvas
    tiles is, globally, the 2w×2h child grid whose pixel (R, C) reads
    the canvas formula at (R>>1, C>>1) — the integer-shift reduction
    of floor((i+0.5)·src/dst) for an exact 2× upscale. Grouped by
    child tile; all-nodata children vanish with the v<>0 filter (the
    operator's drop rule)."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    v = _PIXEL_VALUE_CASE.format(r="(rs.r // 2)", c="(cs.c // 2)")
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c, ({v}) AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {2 * h - 1})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(0, {2 * w - 1})) AS c) cs(c))
        SELECT CAST(c // {ts} AS BIGINT) AS tx,
               CAST(r // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(v) AS BIGINT) AS sum_g2,
               CAST(MAX(v) AS BIGINT) AS max_g2
        FROM px WHERE v <> 0 GROUP BY tx, ty
    """


def _equalize_oracle_sql(w: int = 1024, h: int = 768,
                         ts: int = 128, seed: int = 5) -> str:
    """Twin of the `eq` leg: histogram → running cdf → the integer
    LUT eq(v) = 1 + ((cdf(v) − cdfmin)·254) // max(n − cdfmin, 1)
    (algebra.equalize_lut) restated in SQL over the full canvas
    formula, then per-tile stats of the remapped pixels. Numerators
    are non-negative so DuckDB's truncating // equals numpy floor
    division (the cross-engine invariant)."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    v = _PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c, ({v}) AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs(c)),
        hist AS (SELECT v, COUNT(*) AS cnt FROM px WHERE v <> 0 GROUP BY v),
        cdf AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cdf FROM hist),
        lut AS (
          SELECT v, 1 + ((cdf - (SELECT MIN(cdf) FROM cdf)) * 254)
                     // GREATEST((SELECT MAX(cdf) FROM cdf)
                                 - (SELECT MIN(cdf) FROM cdf), 1) AS eq
          FROM cdf)
        SELECT CAST(px.c // {ts} AS BIGINT) AS tx,
               CAST(px.r // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(lut.eq) AS BIGINT) AS sum_g2,
               CAST(MAX(lut.eq) AS BIGINT) AS max_g2
        FROM px JOIN lut ON px.v = lut.v
        GROUP BY tx, ty
    """


def _relief_channel_case(ramp, ch: int, var: str = "v") -> str:
    """Nested CASE restating relief_rgb for one channel over column
    ``var``: the same weighted-average integer segments (non-negative
    numerators — the // truncation-vs-floor trap never fires)."""
    vs = [s[0] for s in ramp]
    cs = [s[1 + ch] for s in ramp]
    parts = [f"WHEN {var} < {vs[0]} THEN {cs[0]}"]
    for i in range(len(ramp) - 1):
        v0, v1, c0, c1 = vs[i], vs[i + 1], cs[i], cs[i + 1]
        parts.append(f"WHEN {var} < {v1} THEN "
                     f"({c0} * ({v1} - {var}) + {c1} * ({var} - {v0})) "
                     f"// {v1 - v0}")
    parts.append(f"ELSE {cs[-1]}")
    return "CASE " + " ".join(parts) + " END"


def _relief_oracle_sql(w: int = 1024, h: int = 768,
                       ts: int = 128, seed: int = 5) -> str:
    """Twin of the `relief` leg: ramp CASEs per channel over the full
    canvas formula, per-tile channel sums packed like relief_stats
    (sum_g2 = ΣR, max_g2 = ΣG·2^23 + ΣB)."""
    from rastertiler_rs_spark.fixtures import canvas_params
    from rastertiler_rs_spark.operators.algebra import DEFAULT_RELIEF_RAMP

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    vcase = _PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")
    r_, g_, b_ = (_relief_channel_case(DEFAULT_RELIEF_RAMP, ch)
                  for ch in range(3))
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c, ({vcase}) AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs(c)),
        rgb AS (
          SELECT r, c, {r_} AS cr, {g_} AS cg, {b_} AS cb
          FROM px WHERE v <> 0)
        SELECT CAST(c // {ts} AS BIGINT) AS tx,
               CAST(r // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(cr) AS BIGINT) AS sum_g2,
               CAST(SUM(cg) * {1 << 23} + SUM(cb) AS BIGINT) AS max_g2
        FROM rgb GROUP BY tx, ty
    """


def _d8_case_sql(results: list[str] | None = None,
                 default: str = "-1",
                 drops: list[str] | None = None) -> str:
    """Generated first-wins argmax of drop/distance over the 8 D8
    neighbors (priority order halo._D8_OFFSETS), cross-multiplied
    integer slope comparisons — the verbatim SQL of
    halo.d8_direction. ``results[i]`` is the THEN branch for winning
    neighbor i (default: the index itself); ``drops`` overrides the
    per-neighbor drop expressions (watershed masks nodata neighbors
    to −1)."""
    cols = {(0, 1): "ve", (1, 1): "vse", (1, 0): "vs", (1, -1): "vsw",
            (0, -1): "vw", (-1, -1): "vnw", (-1, 0): "vn", (-1, 1): "vne"}
    from rastertiler_rs_spark.operators.halo import _D8_OFFSETS

    names = [cols[(dr, dc)] for dr, dc, _ in _D8_OFFSETS]
    d2s = [d2 for _, _, d2 in _D8_OFFSETS]
    ds = drops if drops is not None else [f"(vc - {n})" for n in names]
    res = results if results is not None else [str(i) for i in range(8)]
    whens = []
    for i in range(8):
        conj = [f"{ds[i]} > 0"]
        for j in range(8):
            if j == i:
                continue
            op = ">" if j < i else ">="
            conj.append(
                f"({ds[j]} <= 0 OR {ds[i]}*{ds[i]}*{d2s[j]} {op} "
                f"{ds[j]}*{ds[j]}*{d2s[i]})")
        whens.append("WHEN " + " AND ".join(conj) + f" THEN {res[i]}")
    return "CASE " + " ".join(whens) + f" ELSE {default} END"


def _d8_walk_prefix_sql(w: int, h: int, seed: int) -> str:
    """Shared prefix of the watershed/accumulation twins: D8
    successors from the bounds-checked canvas formula (outside =
    nodata, drops masked to −1 like the operator) + the recursive
    walk CTE (every (u, succ^k(u)) chain row, stopping at pits)."""
    from rastertiler_rs_spark.fixtures import canvas_params
    from rastertiler_rs_spark.operators.halo import _D8_OFFSETS

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def vb(r, c):
        # bounds-checked canvas value: outside the canvas is nodata
        inner = _PIXEL_VALUE_CASE.format(r=r, c=c)
        return (f"(CASE WHEN ({r}) < 0 OR ({r}) >= {h} OR ({c}) < 0 "
                f"OR ({c}) >= {w} THEN 0 ELSE ({inner}) END)")

    cols = {(0, 1): "ve", (1, 1): "vse", (1, 0): "vs", (1, -1): "vsw",
            (0, -1): "vw", (-1, -1): "vnw", (-1, 0): "vn", (-1, 1): "vne"}
    # masked drops + successor ids in _D8_OFFSETS priority order
    drops = [f"(CASE WHEN {cols[(dr, dc)]} = 0 THEN -1 "
             f"ELSE vc - {cols[(dr, dc)]} END)"
             for dr, dc, _ in _D8_OFFSETS]
    succs = [f"v + {dr * w + dc}" for dr, dc, _ in _D8_OFFSETS]
    ladder = _d8_case_sql(results=succs, default="v", drops=drops)
    nb_selects = (",\n                 ").join(
        f"{vb(f'(rs.r + {dr})', f'(cs.c + {dc})')} AS {name}"
        for (dr, dc), name in cols.items())
    return f"""
        WITH RECURSIVE img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 ({_PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")}) AS vc,
                 {nb_selects}
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs(c)),
        succ AS (
          SELECT r * {w} + c AS v, {ladder} AS p
          FROM px WHERE vc <> 0),
        walk(v, p) AS (
          SELECT v, p FROM succ
          UNION ALL
          SELECT wk.v, s.p FROM walk wk
          JOIN succ s ON s.v = wk.p AND s.p <> wk.p)"""


def _watershed_oracle_sql(w: int = 256, h: int = 192,
                          ts: int = 64, seed: int = 5) -> str:
    """Twin of watershed_stats: the walk's terminal rows (pointer is
    a self-loop) grouped per tile (n_valid, Σ pit id, distinct
    basins)."""
    return _d8_walk_prefix_sql(w, h, seed) + f""",
        final AS (
          SELECT wk.v, wk.p AS pit FROM walk wk
          JOIN succ s ON s.v = wk.p AND s.p = s.v)
        SELECT CAST((v % {w}) // {ts} AS BIGINT) AS tx,
               CAST((v // {w}) // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(pit) AS BIGINT) AS sum_g2,
               CAST(COUNT(DISTINCT pit) AS BIGINT) AS max_g2
        FROM final GROUP BY tx, ty
    """


def _flow_accum_oracle_sql(w: int = 256, h: int = 192,
                           ts: int = 64, seed: int = 5) -> str:
    """Twin of flow_accumulation: acc(v) = 1 + the number of chain
    rows landing on v from OTHER pixels (walk rows with w.v = w.p are
    the pit base rows, not upstream arrivals), grouped per tile
    (n_valid, Σacc, max acc)."""
    return _d8_walk_prefix_sql(w, h, seed) + f""",
        arrivals AS (
          SELECT p AS v, COUNT(*) AS up FROM walk
          WHERE v <> p GROUP BY p),
        acc AS (
          SELECT s.v, 1 + COALESCE(a.up, 0) AS acc
          FROM succ s LEFT JOIN arrivals a ON a.v = s.v)
        SELECT CAST((v % {w}) // {ts} AS BIGINT) AS tx,
               CAST((v // {w}) // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(acc) AS BIGINT) AS sum_g2,
               CAST(MAX(acc) AS BIGINT) AS max_g2
        FROM acc GROUP BY tx, ty
    """


def _halo_flowdir_oracle_sql(w: int = 1024, h: int = 768,
                             ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas twin of tile_halo_flowdir: the generated
    D8 argmax ladder per valid pixel, direction histogram packed
    4×16-bit like the terrain twin."""
    from rastertiler_rs_spark.fixtures import canvas_params

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)

    def v(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    lo = " + ".join(
        f"SUM(CASE WHEN dir = {k} THEN 1 ELSE 0 END) * {1 << (16 * k)}"
        for k in range(4))
    hi = " + ".join(
        f"SUM(CASE WHEN dir = {k + 4} THEN 1 ELSE 0 END) * {1 << (16 * k)}"
        for k in range(4))
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 {v("rs.r", "cs.c")} AS vc,
                 {v("rs.r", "(cs.c + 1)")} AS ve,
                 {v("rs.r", "(cs.c - 1)")} AS vw,
                 {v("(rs.r + 1)", "cs.c")} AS vs,
                 {v("(rs.r - 1)", "cs.c")} AS vn,
                 {v("(rs.r - 1)", "(cs.c - 1)")} AS vnw,
                 {v("(rs.r - 1)", "(cs.c + 1)")} AS vne,
                 {v("(rs.r + 1)", "(cs.c - 1)")} AS vsw,
                 {v("(rs.r + 1)", "(cs.c + 1)")} AS vse
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(1, {h - 2})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(1, {w - 2})) AS c) cs(c)),
        g AS (
          SELECT c // {ts} AS tx, r // {ts} AS ty,
                 {_d8_case_sql()} AS dir
          FROM px
          WHERE vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
            AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST({lo} AS BIGINT) AS sum_g2,
               CAST({hi} AS BIGINT) AS max_g2
        FROM g GROUP BY tx, ty
    """


def _shaded_relief_oracle_sql(w: int = 1024, h: int = 768,
                              ts: int = 128, seed: int = 5) -> str:
    """Twin of the srelief leg: bounds-checked full-canvas window
    (outside = nodata), shade = hillshade chain where the whole
    9-window is valid else the flat constant, color = the relief
    CASEs, ceiling blend (ch·shade + 254) // 255 — channel sums
    packed like relief_stats."""
    import math

    from rastertiler_rs_spark.fixtures import canvas_params
    from rastertiler_rs_spark.operators.algebra import DEFAULT_RELIEF_RAMP
    from rastertiler_rs_spark.operators.halo import hillshade_constants

    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    sa, bx, cy, d = (repr(v) for v in hillshade_constants())
    flat = int(math.floor(1.0 + 254.0 * math.sin(math.radians(45.0))
                          + 0.5))

    def vb(r, c):
        inner = _PIXEL_VALUE_CASE.format(r=r, c=c)
        return (f"(CASE WHEN ({r}) < 0 OR ({r}) >= {h} OR ({c}) < 0 "
                f"OR ({c}) >= {w} THEN 0 ELSE ({inner}) END)")

    cols = {(0, 1): "ve", (1, 1): "vse", (1, 0): "vs", (1, -1): "vsw",
            (0, -1): "vw", (-1, -1): "vnw", (-1, 0): "vn", (-1, 1): "vne"}
    nb_selects = ",\n                 ".join(
        f"{vb(f'(rs.r + {dr})', f'(cs.c + {dc})')} AS {name}"
        for (dr, dc), name in cols.items())
    r_, g_, b_ = (_relief_channel_case(DEFAULT_RELIEF_RAMP, ch, "vv")
                  for ch in range(3))
    return f"""
        WITH img(ph, all_nd, hr0, hr1, hc0, hc1) AS (VALUES
              ({ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1})),
        px AS (
          SELECT rs.r AS r, cs.c AS c,
                 ({_PIXEL_VALUE_CASE.format(r="rs.r", c="cs.c")}) AS vc,
                 {nb_selects}
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {h - 1})) AS r) rs(r),
               LATERAL (SELECT UNNEST(generate_series(0, {w - 1})) AS c) cs(c)),
        gsh AS (
          SELECT r, c, vc,
                 ((vne + 2 * ve + vse) - (vnw + 2 * vw + vsw)) AS gx,
                 ((vsw + 2 * vs + vse) - (vnw + 2 * vn + vne)) AS gy,
                 (vc <> 0 AND ve <> 0 AND vw <> 0 AND vs <> 0 AND vn <> 0
                  AND vnw <> 0 AND vne <> 0 AND vsw <> 0 AND vse <> 0)
                   AS ok9
          FROM px WHERE vc <> 0),
        sh AS (
          SELECT r, c, vc,
                 CASE WHEN NOT ok9 THEN {flat} ELSE (
                   CASE WHEN (({sa} + {bx} * CAST(gx AS DOUBLE))
                              + {cy} * CAST(gy AS DOUBLE))
                             / SQRT(1.0 + {d} * CAST(gx * gx + gy * gy
                                                     AS DOUBLE)) <= 0.0
                        THEN 1
                        ELSE CAST(FLOOR((1.0 + 254.0 *
                               ((({sa} + {bx} * CAST(gx AS DOUBLE))
                                 + {cy} * CAST(gy AS DOUBLE))
                                / SQRT(1.0 + {d} * CAST(gx * gx + gy * gy
                                                        AS DOUBLE))))
                               + 0.5) AS BIGINT) END) END AS shade
          FROM gsh),
        blend AS (
          SELECT r, c,
                 (({r_}) * shade + 254) // 255 AS cr,
                 (({g_}) * shade + 254) // 255 AS cg,
                 (({b_}) * shade + 254) // 255 AS cb
          FROM (SELECT r, c, vc AS vv, shade FROM sh))
        SELECT CAST(c // {ts} AS BIGINT) AS tx,
               CAST(r // {ts} AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(cr) AS BIGINT) AS sum_g2,
               CAST(SUM(cg) * {1 << 23} + SUM(cb) AS BIGINT) AS max_g2
        FROM blend GROUP BY tx, ty
    """


def _halo_hillshade_oracle_sql(w: int = 1024, h: int = 768,
                               ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas twin of tile_halo_hillshade: trig folded
    driver-side into repr'd doubles (hillshade_constants — the SAME
    call the operator makes), then term-for-term the shade_u8 op
    order. Every op crossing the engines (+ · / sqrt floor) is IEEE
    correctly-rounded over identical inputs, so this twin is
    bit-identical to numpy with no margin fixtures."""
    from rastertiler_rs_spark.operators.halo import hillshade_constants

    sa, bx, cy, d = (repr(v) for v in hillshade_constants())
    return _halo_horn_g_cte(w, h, ts, seed) + f""",
        s AS (
          SELECT tx, ty,
                 (({sa} + {bx} * CAST(gx AS DOUBLE))
                  + {cy} * CAST(gy AS DOUBLE))
                 / SQRT(1.0 + {d} * CAST(gx * gx + gy * gy AS DOUBLE))
                   AS cang
          FROM g),
        sh AS (
          SELECT tx, ty,
                 CASE WHEN cang <= 0.0 THEN 1
                      ELSE CAST(FLOOR((1.0 + 254.0 * cang) + 0.5)
                                AS BIGINT) END AS shade
          FROM s)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(shade) AS BIGINT) AS sum_g2,
               CAST(MAX(shade) * 256 + MIN(shade) AS BIGINT) AS max_g2
        FROM sh GROUP BY tx, ty
    """


def _halo_slope_oracle_sql(w: int = 1024, h: int = 768,
                           ts: int = 128, seed: int = 5) -> str:
    """Unpartitioned-canvas twin of tile_halo_slope: slope-percent
    ×1000 fixed point, k = 100·z/(8·cs) folded driver-side; sqrt and
    · correctly rounded — bit-identical to numpy."""
    k = repr(100.0 * 1.0 / (8.0 * 1.0))
    return _halo_horn_g_cte(w, h, ts, seed) + f""",
        sp AS (
          SELECT tx, ty,
                 CAST(FLOOR(({k} * SQRT(CAST(gx * gx + gy * gy
                                             AS DOUBLE))) * 1000.0
                            + 0.5) AS BIGINT) AS sl
          FROM g)
        SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
               COUNT(*) AS n_valid,
               CAST(SUM(sl) AS BIGINT) AS sum_g2,
               CAST(MAX(sl) AS BIGINT) AS max_g2
        FROM sp GROUP BY tx, ty
    """


def _vector_tiles_clip_oracle_sql(zoom: int = 5, extent: int = 4096) -> str:
    """Convex∩box vertex-set twin of q_vector_tiles_clip: for every
    (triangle, covered z-tile) pair, the clipped polygon's vertex set
    is (a) triangle vertices inside the tile box ∪ (b) triangle-edge ×
    box-edge segment intersections ∪ (c) box corners strictly inside
    the triangle — the Sutherland–Hodgman output set for convex input
    in general position. Intersections use the same two-op IEEE form
    as clip_ring_to_box; quantization is the shared snap-then-floor
    rule, so composite-intersection last-ulp drift snaps away. The
    cover rng mirrors tile_range_cols (ε = 1e-11, clamp order)."""
    n = 1 << zoom
    span = repr(CE / n)
    tri_rows = ",\n              ".join(
        f"({fid}, {ax!r}, {ay!r}, {bx!r}, {by!r}, {cx!r}, {cy!r})"
        for fid, ((ax, ay), (bx, by), (cx, cy)) in _clip_triangles())
    qx = ("GREATEST(0, LEAST({m}, CAST(FLOOR(FLOOR("
          "(vx - tminx) / {span} * {e}.0 * 1e6 + 0.5) / 1e6) AS BIGINT)))"
          ).format(m=extent - 1, span=span, e=extent)
    qy = ("GREATEST(0, LEAST({m}, CAST(FLOOR(FLOOR("
          "(tmaxy - vy) / {span} * {e}.0 * 1e6 + 0.5) / 1e6) AS BIGINT)))"
          ).format(m=extent - 1, span=span, e=extent)
    # edge×boundary intersections: same  q1 + (bound - p1)/(p2 - p1)
    # * (q2 - q1)  op order as clip_ring_to_box's x_cross/y_cross
    xb = ("SELECT fid, tx, ty, tminx, tmaxy, {bound} AS vx, "
          "y1 + (({bound}) - x1) / (x2 - x1) * (y2 - y1) AS vy "
          "FROM edges WHERE (x1 < ({bound})) <> (x2 < ({bound}))")
    yb = ("SELECT fid, tx, ty, tminx, tmaxy, "
          "x1 + (({bound}) - y1) / (y2 - y1) * (x2 - x1) AS vx, "
          "{bound} AS vy "
          "FROM edges WHERE (y1 < ({bound})) <> (y2 < ({bound}))")
    crossings = "\n          UNION ALL ".join([
        xb.format(bound="tminx"),
        xb.format(bound=f"tminx + {span}"),
        yb.format(bound=f"tmaxy - {span}"),
        yb.format(bound="tmaxy"),
    ])
    return f"""
        WITH tri(fid, ax, ay, bx, by, cx, cy) AS (VALUES
              {tri_rows}),
        bb AS (
          SELECT *, LEAST(ax, bx, cx) AS minx, LEAST(ay, by, cy) AS miny,
                 GREATEST(ax, bx, cx) AS maxx, GREATEST(ay, by, cy) AS maxy
          FROM tri),
        rng AS (
          SELECT *,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * {float(n)!r}) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * {float(n)!r}) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * {float(n)!r}) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * {float(n)!r}) AS BIGINT))) AS tymax
          FROM bb),
        cover AS (
          SELECT r.*, xs.tx AS tx, ys.ty AS ty,
                 (-{_O}) + CAST(xs.tx AS DOUBLE) * {span} AS tminx,
                 {_O} - CAST(ys.ty AS DOUBLE) * {span} AS tmaxy
          FROM rng r,
               LATERAL (SELECT UNNEST(generate_series(r.txmin, r.txmax))) xs(tx),
               LATERAL (SELECT UNNEST(generate_series(r.tymin, r.tymax))) ys(ty)),
        verts AS (  -- class (a): triangle vertices inside the tile box
          SELECT fid, tx, ty, tminx, tmaxy, ax AS vx, ay AS vy FROM cover
          UNION ALL SELECT fid, tx, ty, tminx, tmaxy, bx, by FROM cover
          UNION ALL SELECT fid, tx, ty, tminx, tmaxy, cx, cy FROM cover),
        va AS (
          SELECT * FROM verts
          WHERE vx >= tminx AND vx <= tminx + {span}
            AND vy >= tmaxy - {span} AND vy <= tmaxy),
        edges AS (
          SELECT fid, tx, ty, tminx, tmaxy, ax AS x1, ay AS y1, bx AS x2, by AS y2 FROM cover
          UNION ALL SELECT fid, tx, ty, tminx, tmaxy, bx, by, cx, cy FROM cover
          UNION ALL SELECT fid, tx, ty, tminx, tmaxy, cx, cy, ax, ay FROM cover),
        vbraw AS (  -- class (b): edge × box-boundary line crossings
          {crossings}),
        vb AS (  -- restrict to the box-edge SEGMENT
          SELECT * FROM vbraw
          WHERE vx >= tminx AND vx <= tminx + {span}
            AND vy >= tmaxy - {span} AND vy <= tmaxy),
        corners AS (
          SELECT c.*, cn.vx, cn.vy FROM cover c,
               LATERAL (SELECT UNNEST([c.tminx, c.tminx + {span},
                                       c.tminx, c.tminx + {span}]) AS vx,
                        UNNEST([c.tmaxy, c.tmaxy,
                                c.tmaxy - {span}, c.tmaxy - {span}]) AS vy) cn),
        vc AS (  -- class (c): box corners strictly inside the triangle
          SELECT fid, tx, ty, tminx, tmaxy, vx, vy FROM (
            SELECT *,
              (bx - ax) * (vy - ay) - (by - ay) * (vx - ax) AS s1,
              (cx - bx) * (vy - by) - (cy - by) * (vx - bx) AS s2,
              (ax - cx) * (vy - cy) - (ay - cy) * (vx - cx) AS s3
            FROM corners)
          WHERE (s1 > 0 AND s2 > 0 AND s3 > 0)
             OR (s1 < 0 AND s2 < 0 AND s3 < 0)),
        allv AS (
          SELECT * FROM va UNION ALL SELECT * FROM vb
          UNION ALL SELECT * FROM vc),
        q AS (
          SELECT DISTINCT fid, tx, ty, {qx} AS lx, {qy} AS ly FROM allv)
        SELECT CAST({zoom} AS BIGINT) AS zoom, tx AS x,
               {n - 1} - ty AS tile_row, fid,
               COUNT(*) AS n_vtx,
               CAST(SUM(lx) AS BIGINT) AS sum_lx,
               CAST(SUM(ly) AS BIGINT) AS sum_ly
        FROM q GROUP BY fid, tx, ty HAVING COUNT(*) >= 3
    """


def _geometry_metrics_oracle_sql() -> str:
    """Twin of q_geometry_metrics: the shoelace forms restated per
    edge — cr_i = x_i·y_{i+1} − x_{i+1}·y_i over the cyclic (i+1)%n
    join, 2A = Σcr, 6A·Cx = Σ(x_i+x_{i+1})·cr, 6A·Cy likewise."""
    pts_rows = ",\n              ".join(
        f"({pid}, {i}, {x}, {y})"
        for pid, pts in _shoelace_fixture()
        for i, (x, y) in enumerate(pts))
    meta_rows = ",\n              ".join(
        f"({pid}, {len(pts)})" for pid, pts in _shoelace_fixture())
    return f"""
        WITH gpts(pid, i, x, y) AS (VALUES
              {pts_rows}),
        gmeta(pid, n) AS (VALUES
              {meta_rows}),
        terms AS (
          SELECT p0.pid, m.n,
                 p0.x * p1.y - p1.x * p0.y AS cr,
                 p0.x + p1.x AS sx, p0.y + p1.y AS sy
          FROM gpts p0
          JOIN gmeta m ON m.pid = p0.pid
          JOIN gpts p1 ON p1.pid = p0.pid AND p1.i = (p0.i + 1) % m.n)
        SELECT 0::BIGINT AS zoom, 0::BIGINT AS x,
               CAST(SUM(cr) AS BIGINT) AS tile_row,
               pid AS fid, CAST(n AS BIGINT) AS n_vtx,
               CAST(SUM(sx * cr) AS BIGINT) AS sum_lx,
               CAST(SUM(sy * cr) AS BIGINT) AS sum_ly
        FROM terms GROUP BY pid, n
    """


def _geometry_hull_oracle_sql() -> str:
    """Twin of q_geometry_hull: strict-hull membership by the ccw
    hull-edge rule — vertex a is on the hull iff some ordered edge
    a→b leaves EVERY other point strictly left (cross > 0); exact
    because the fixture is in general position."""
    pts_rows = ",\n              ".join(
        f"({gid}, {i}, {x}, {y})"
        for gid, pts in _hull_fixture()
        for i, (x, y) in enumerate(pts))
    return f"""
        WITH hp(gid, i, x, y) AS (VALUES
              {pts_rows}),
        hv AS (
          SELECT DISTINCT a.gid, a.i
          FROM hp a JOIN hp b ON b.gid = a.gid AND b.i <> a.i
          WHERE NOT EXISTS (
            SELECT 1 FROM hp c
            WHERE c.gid = a.gid AND c.i <> a.i AND c.i <> b.i
              AND (b.x - a.x) * (c.y - a.y)
                  - (b.y - a.y) * (c.x - a.x) <= 0))
        SELECT 0::BIGINT AS zoom, 0::BIGINT AS x, 0::BIGINT AS tile_row,
               hv.gid AS fid, COUNT(*) AS n_vtx,
               CAST(SUM(p.x) AS BIGINT) AS sum_lx,
               CAST(SUM(p.y) AS BIGINT) AS sum_ly
        FROM hv JOIN hp p ON p.gid = hv.gid AND p.i = hv.i
        GROUP BY hv.gid
    """


def _polyline_simplify_oracle_sql() -> str:
    """Twin of q_polyline_simplify: Douglas–Peucker re-executed as a
    recursive CTE — seg(line_id, a, b) starts at each line's full
    chord; the step finds each open chord's maximal-deviation interior
    vertex (ORDER BY d DESC, i ASC LIMIT 1 — the smallest-index tie
    rule), splits when d > tol²·|AB|² (STRICT, |AB|² = 0 falls back to
    squared point distance vs tol²), and every endpoint of every
    segment ever materialized is exactly the kept-vertex set."""
    fix = _dp_fixture()
    pts_rows = ",\n              ".join(
        f"({lid}, {i}, {x}, {y})"
        for lid, pts, _ in fix for i, (x, y) in enumerate(pts))
    meta_rows = ",\n              ".join(
        f"({lid}, {len(pts)}, {tol})" for lid, pts, tol in fix)
    return f"""
        WITH RECURSIVE dpts(line_id, i, x, y) AS (VALUES
              {pts_rows}),
        dmeta(line_id, n, tol) AS (VALUES
              {meta_rows}),
        seg(line_id, a, b) AS (
          SELECT line_id, 0, n - 1 FROM dmeta
          UNION ALL
          SELECT t.line_id, u.a2, u.b2
          FROM (
            SELECT s.line_id, s.a, s.b, w.m, w.d,
                   CASE WHEN w.ab2 = 0 THEN mt.tol * mt.tol
                        ELSE mt.tol * mt.tol * w.ab2 END AS thr
            FROM seg s
            JOIN dmeta mt ON mt.line_id = s.line_id,
            LATERAL (
              SELECT p.i AS m,
                     CASE WHEN (pb.x-pa.x)*(pb.x-pa.x)
                               + (pb.y-pa.y)*(pb.y-pa.y) = 0
                          THEN (p.x - pa.x)*(p.x - pa.x)
                               + (p.y - pa.y)*(p.y - pa.y)
                          ELSE ((pb.x-pa.x)*(p.y-pa.y)
                                - (pb.y-pa.y)*(p.x-pa.x))
                             * ((pb.x-pa.x)*(p.y-pa.y)
                                - (pb.y-pa.y)*(p.x-pa.x))
                     END AS d,
                     (pb.x-pa.x)*(pb.x-pa.x)
                       + (pb.y-pa.y)*(pb.y-pa.y) AS ab2
              FROM dpts pa, dpts pb, dpts p
              WHERE pa.line_id = s.line_id AND pa.i = s.a
                AND pb.line_id = s.line_id AND pb.i = s.b
                AND p.line_id = s.line_id AND p.i > s.a AND p.i < s.b
              ORDER BY d DESC, p.i ASC
              LIMIT 1
            ) w
            WHERE s.b - s.a >= 2
          ) t,
          LATERAL (SELECT * FROM (VALUES (t.a, t.m), (t.m, t.b))
                   v(a2, b2)) u(a2, b2)
          WHERE t.d > t.thr
        ),
        kept AS (
          SELECT DISTINCT line_id, ki FROM (
            SELECT line_id, a AS ki FROM seg
            UNION ALL SELECT line_id, b FROM seg))
        SELECT 0::BIGINT AS zoom, 0::BIGINT AS x, 0::BIGINT AS tile_row,
               k.line_id AS fid, COUNT(*) AS n_seg,
               CAST(SUM(p.x) AS BIGINT) AS sum_lx,
               CAST(SUM(p.y) AS BIGINT) AS sum_ly
        FROM kept k
        JOIN dpts p ON p.line_id = k.line_id AND p.i = k.ki
        GROUP BY k.line_id
    """


def _vector_tiles_lines_oracle_sql(zoom: int = 5, extent: int = 4096) -> str:
    """Liang–Barsky twin of q_vector_tiles_lines: the fixture segments
    are embedded pre-exploded; the parametric entry/exit times, the
    clipped endpoints p + t·d, and the snap-then-floor quantization
    state the exact op order of lines_to_mvt's JVM expressions (dx, dy
    are never zero by fixture construction, so the axis-parallel CASE
    never fires in the twin)."""
    n = 1 << zoom
    span = repr(CE / n)
    seg_rows = []
    for fid, pts in _clip_lines():
        for i in range(len(pts) - 1):
            (ax, ay), (bx, by) = pts[i], pts[i + 1]
            seg_rows.append(f"({fid}, {i}, {ax!r}, {ay!r}, {bx!r}, {by!r})")
    segs = ",\n              ".join(seg_rows)
    qv = ("GREATEST(0, LEAST({m}, CAST(FLOOR(FLOOR("
          "({v}) / {span} * {e}.0 * 1e6 + 0.5) / 1e6) AS BIGINT)))")

    def q(v):
        return qv.format(m=extent - 1, span=span, e=extent, v=v)

    return f"""
        WITH seg(fid, seg_idx, x1, y1, x2, y2) AS (VALUES
              {segs}),
        bb AS (
          SELECT *, LEAST(x1, x2) AS minx, LEAST(y1, y2) AS miny,
                 GREATEST(x1, x2) AS maxx, GREATEST(y1, y2) AS maxy
          FROM seg),
        rng AS (
          SELECT *,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * {float(n)!r}) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * {float(n)!r}) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * {float(n)!r}) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST({n - 1}, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * {float(n)!r}) AS BIGINT))) AS tymax
          FROM bb),
        cover AS (
          SELECT r.*, xs.tx AS tx, ys.ty AS ty,
                 (-{_O}) + CAST(xs.tx AS DOUBLE) * {span} AS tminx,
                 {_O} - CAST(ys.ty AS DOUBLE) * {span} AS tmaxy
          FROM rng r,
               LATERAL (SELECT UNNEST(generate_series(r.txmin, r.txmax))) xs(tx),
               LATERAL (SELECT UNNEST(generate_series(r.tymin, r.tymax))) ys(ty)),
        ts AS (
          SELECT *,
            LEAST((tminx - x1) / (x2 - x1), (tminx + {span} - x1) / (x2 - x1)) AS tex,
            GREATEST((tminx - x1) / (x2 - x1), (tminx + {span} - x1) / (x2 - x1)) AS tlx,
            LEAST((tmaxy - {span} - y1) / (y2 - y1), (tmaxy - y1) / (y2 - y1)) AS tey,
            GREATEST((tmaxy - {span} - y1) / (y2 - y1), (tmaxy - y1) / (y2 - y1)) AS tly
          FROM cover),
        tt AS (
          SELECT *, GREATEST(0.0, tex, tey) AS t0, LEAST(1.0, tlx, tly) AS t1
          FROM ts),
        c AS (
          SELECT fid, seg_idx, tx, ty, tminx, tmaxy,
                 x1 + t0 * (x2 - x1) AS cx1, y1 + t0 * (y2 - y1) AS cy1,
                 x1 + t1 * (x2 - x1) AS cx2, y1 + t1 * (y2 - y1) AS cy2
          FROM tt WHERE t0 <= t1),
        q AS (
          SELECT fid, seg_idx, tx, ty,
                 {q("cx1 - tminx")} AS lx1, {q("tmaxy - cy1")} AS ly1,
                 {q("cx2 - tminx")} AS lx2, {q("tmaxy - cy2")} AS ly2
          FROM c)
        SELECT CAST({zoom} AS BIGINT) AS zoom, tx AS x,
               {n - 1} - ty AS tile_row, fid,
               COUNT(*) AS n_seg,
               CAST(SUM(lx1 + lx2) AS BIGINT) AS sum_lx,
               CAST(SUM(ly1 + ly2) AS BIGINT) AS sum_ly
        FROM q WHERE NOT (lx1 = lx2 AND ly1 = ly2)
        GROUP BY fid, tx, ty
    """


def _render_tile_ids_oracle_sql(footprints=None) -> str:
    """Exact SQL tile cover of a footprint set over z7-9. Default
    footprints are the no-hole fixture images; the tif leg passes the
    GeoTIFF fixture's block footprints instead (same cover formula —
    the G3 ε/clamp transcription — for every render front-end)."""
    if footprints is None:
        _, minx, miny, maxx, maxy = _nohole_image_rows(256)
        footprints = zip(minx, miny, maxx, maxy)
    rows = ",\n              ".join(
        f"({a!r}, {b!r}, {c!r}, {d!r})"
        for a, b, c, d in footprints)
    return f"""
        WITH fp(minx, miny, maxx, maxy) AS (VALUES
              {rows}),
        z(zoom) AS (VALUES (7), (8), (9)),
        rng AS (
          SELECT zoom,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymax
          FROM fp, z)
        SELECT DISTINCT CAST(zoom AS INT) AS zoom, xs.x AS x, ys.y AS y
        FROM (SELECT zoom, tymin, tymax,
                     UNNEST(generate_series(txmin, txmax)) AS x
              FROM rng) xs(zoom, tymin, tymax, x),
             LATERAL (SELECT UNNEST(generate_series(xs.tymin, xs.tymax))) ys(y)
    """


def _image_consts_values(n: int) -> str:
    """Per-image GENERATION constants for the fixture tables as a SQL
    VALUES body: (i, minx, miny, maxx, maxy, w, h, ph, all_nd, hr0,
    hr1, hc0, hc1, g20, lowcard) — footprint, size cycle, hash bytes,
    hole rect, u32-formula extras (fixtures.pixel_band /
    footprint_from_index). The same class of embedded constant as the
    tile-ID oracles' footprints; everything derived from them is
    recomputed in SQL."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import (_H_CYCLE, _W_CYCLE,
                                               footprint_from_index)
    from rastertiler_rs_spark.functions.hashing import splitmix64

    idx = np.arange(n, dtype=np.uint64)
    minx, miny, maxx, maxy = footprint_from_index(idx)
    rows = []
    for i in range(n):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        g = int(splitmix64(np.uint64(i)))
        ph = g & 0xFF
        hole = (g >> 34) & 7
        if hole == 7:
            all_nd, hr0, hr1, hc0, hc1 = 1, 0, 0, 0, 0
        elif hole != 0:
            p = min((g >> 37) & 7, 5)
            qq = min((g >> 40) & 7, 5)
            all_nd = 0
            hr0, hr1 = h * qq // 8, h * (qq + 3) // 8
            hc0, hc1 = w * p // 8, w * (p + 3) // 8
        else:
            all_nd, hr0, hr1, hc0, hc1 = 0, 0, 0, 0, 0
        rows.append(
            f"({i}, {minx[i]!r}, {miny[i]!r}, {maxx[i]!r}, {maxy[i]!r}, "
            f"{w}, {h}, {ph}, {all_nd}, {hr0}, {hr1}, {hc0}, {hc1}, "
            f"{g & 0xFFFFF}, {1 if i % 3 == 0 else 0})")
    return ",\n              ".join(rows)


_IMG_COLS = ("i, minx, miny, maxx, maxy, w, h, ph, all_nd, hr0, hr1, "
             "hc0, hc1, g20, lowcard")

_PIXEL_VALUE_CASE = """CASE WHEN all_nd = 1 THEN 0
                      WHEN {r} >= hr0 AND {r} < hr1 AND {c} >= hc0 AND {c} < hc1 THEN 0
                      ELSE ({r} * 31 + {c} * 17 + ph) % 255 + 1 END"""

# fixtures.pixel_band u32 branch: low-cardinality third exercises the
# paletted encoder, the rest the RGB path
_PIXEL_VALUE_CASE_U32 = """CASE WHEN all_nd = 1 THEN 0
                      WHEN {r} >= hr0 AND {r} < hr1 AND {c} >= hc0 AND {c} < hc1 THEN 0
                      WHEN lowcard = 1 THEN ({r} * 7 + {c} * 3 + ph) % 13 + 1
                      ELSE ({r} * 131071 + {c} * 8191 + g20) % 16777215 + 1 END"""


def _image_features_oracle_sql(n: int = 64, prefix: str = "img") -> str:
    v = _PIXEL_VALUE_CASE.format(r="r", c="c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        px AS (
          SELECT i, w, h,
                 (r * w + c) AS pos,
                 {v} AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, img.h - 1))) tr(r),
               LATERAL (SELECT UNNEST(generate_series(0, img.w - 1))) tc(c)),
        s AS (
          SELECT i, CAST(w AS BIGINT) * h AS n_pixels,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 CAST(SUM(v * pos) AS BIGINT) AS pos_sum
          FROM px GROUP BY i, w, h)
        SELECT '{prefix}' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
               n_pixels, n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM s
    """


def _ahash_bits_ctes(n: int) -> str:
    """Shared CTE chain deriving per-image ahash BITS from the pixel
    formula (through table `bits(i, idx, b, m, total)`)."""
    v = _PIXEL_VALUE_CASE.format(r="r", c="c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        px AS (
          SELECT i, w, h, r, c, {v} AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, img.h - 1))) tr(r),
               LATERAL (SELECT UNNEST(generate_series(0, img.w - 1))) tc(c)),
        cells AS (
          SELECT i, (r * 8) // h AS br, (c * 8) // w AS bc,
                 COUNT(*) FILTER (WHERE v <> 0) AS cnt,
                 COALESCE(SUM(v) FILTER (WHERE v <> 0), 0) AS s
          FROM px GROUP BY i, br, bc),
        cv AS (
          SELECT i, br * 8 + bc AS idx,
                 CASE WHEN cnt = 0 THEN 0
                      ELSE (2 * s + cnt) // (2 * cnt) END AS cell
          FROM cells),
        mm AS (
          SELECT i, SUM(cell) AS total,
                 (2 * SUM(cell) + 64) // 128 AS m
          FROM cv GROUP BY i),
        bits AS (
          SELECT cv.i, cv.idx,
                 CASE WHEN cv.cell > mm.m THEN 1 ELSE 0 END AS b,
                 mm.m, mm.total
          FROM cv JOIN mm ON mm.i = cv.i)"""


_AHASH_LOHI = """
        hs AS (
          SELECT i,
                 CAST(SUM(CASE WHEN idx < 32
                               THEN b * (CAST(1 AS BIGINT) << idx)
                               ELSE 0 END) AS BIGINT) AS lo,
                 CAST(SUM(CASE WHEN idx >= 32
                               THEN b * (CAST(1 AS BIGINT) << (idx - 32))
                               ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(b) AS BIGINT) AS popcnt,
                 CAST(MAX(m) AS BIGINT) AS m,
                 CAST(MAX(total) AS BIGINT) AS total,
                 CAST(SUM(b * idx) AS BIGINT) AS possum
          FROM bits GROUP BY i)"""


def _image_ahash_oracle_sql(n: int = 64, prefix: str = "img") -> str:
    """Twin of the ahash leg: 8x8 box cells from the pixel formula
    ((r*8)//h grid, nodata-excluded round-half-up means), cell mean,
    strict-greater bits, 32-bit halves + popcount + position sum."""
    return _ahash_bits_ctes(n) + "," + _AHASH_LOHI + f"""
        SELECT '{prefix}' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
               CAST(64 AS BIGINT) AS n_pixels,
               popcnt AS n_data, lo AS vmin, hi AS vmax,
               m AS vsum, total AS mean_x100, possum AS pos_sum
        FROM hs
    """


def _ahash_pairs_oracle_sql(n: int = 64, offset: int = 10_000,
                            max_hamming: int = 8) -> str:
    """Twin of the ahash leg of phash_near: hashes from the FULL
    pixel-formula derivation, duplicated id set (+offset, identical
    hash — planted hamming-0 pairs), 16-bit band bucket join, XOR
    popcount verify."""
    return _ahash_bits_ctes(n) + "," + _AHASH_LOHI + f""",
        dup2 AS (
          SELECT i AS iid, lo, hi FROM hs
          UNION ALL
          SELECT i + {offset}, lo, hi FROM hs),
        bands AS (
          SELECT iid, lo, hi, t.band,
                 CASE t.band
                   WHEN 0 THEN lo & 65535
                   WHEN 1 THEN (lo >> 16) & 65535
                   WHEN 2 THEN hi & 65535
                   ELSE (hi >> 16) & 65535 END AS val
          FROM dup2, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS band) t),
        pairs AS (
          SELECT DISTINCT a.iid AS id_a, b.iid AS id_b,
                 a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.val = b.val AND a.iid < b.iid)
        SELECT id_a, id_b,
               CAST(bit_count(CAST(xor(lo_a, lo_b) AS BIGINT))
                    + bit_count(CAST(xor(hi_a, hi_b) AS BIGINT))
                 AS INT) AS hamming
        FROM pairs
        WHERE bit_count(CAST(xor(lo_a, lo_b) AS BIGINT))
              + bit_count(CAST(xor(hi_a, hi_b) AS BIGINT)) <= {max_hamming}
    """


def _image_features_vp8_oracle_sql() -> str:
    """Closed-form twin of q_image_features_vp8: solid-gray frames at
    VP8 qi=0 reconstruct bit-exactly (tests/test_vp8.py pins all 256
    grays), so every stat is a formula of (g, w, h). i=0 plants the
    all-nodata hole case the operator must report as zeros."""
    return """
        WITH img AS (
          SELECT i,
                 CAST(24 + (i % 4) * 16 AS BIGINT) AS w,
                 CAST(16 + (i % 4) * 8 AS BIGINT) AS h,
                 CASE WHEN i = 0 THEN 0
                      ELSE CAST((i * 37 + 5) % 256 AS BIGINT) END AS g
          FROM (SELECT UNNEST(generate_series(0, 15)) AS i) t(i))
        SELECT 'wbv' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
               w * h AS n_pixels,
               CASE WHEN g = 0 THEN 0 ELSE w * h END AS n_data,
               g AS vmin, g AS vmax,
               g * w * h AS vsum,
               CASE WHEN g = 0 THEN 0 ELSE g * 100 END AS mean_x100,
               g * (w * h - 1) * (w * h) // 2 AS pos_sum
        FROM img
    """


def _image_resize_oracle_sql(n: int = 64, target: int = 32) -> str:
    v = _PIXEL_VALUE_CASE.format(r="rsrc", c="csrc")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        px AS (  -- K2 nearest index rule: idx = floor((i+0.5)*src/dst), clamped
          SELECT i, ti, tj,
                 LEAST(CAST(FLOOR(((CAST(ti AS DOUBLE) + 0.5) * CAST(h AS DOUBLE)) / {target}.0) AS BIGINT), h - 1) AS rsrc,
                 LEAST(CAST(FLOOR(((CAST(tj AS DOUBLE) + 0.5) * CAST(w AS DOUBLE)) / {target}.0) AS BIGINT), w - 1) AS csrc,
                 ph, all_nd, hr0, hr1, hc0, hc1
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tr(ti),
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tc(tj)),
        val AS (
          SELECT i, ti, tj,
                 {v} AS v
          FROM px),
        agg AS (
          SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v * (ti * {target} + tj)) AS BIGINT) AS pos_sum
          FROM val GROUP BY i)
        SELECT image_id, CAST({target * target} AS BIGINT) AS n_pixels,
               n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM agg
    """


def _image_features_u16_oracle_sql(n: int = 16) -> str:
    """Twin of q_image_features_u16: the 16-bit linear-congruence
    value formula restated, same stats/nodata rules as the u8 legs."""
    return f"""
        WITH img AS (
          SELECT i,
                 CAST(40 + (i % 4) * 24 AS BIGINT) AS w,
                 CAST(30 + (i % 4) * 18 AS BIGINT) AS h
          FROM (SELECT UNNEST(generate_series(0, {n - 1})) AS i) t(i)),
        px AS (
          SELECT i, w, h, (r * w + c) AS pos,
                 (1000 * i + 37 * r + 101 * c) % 65536 AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, img.h - 1))) tr(r),
               LATERAL (SELECT UNNEST(generate_series(0, img.w - 1))) tc(c)),
        s AS (
          SELECT i, CAST(w AS BIGINT) * h AS n_pixels,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 CAST(SUM(v * pos) AS BIGINT) AS pos_sum
          FROM px GROUP BY i, w, h)
        SELECT 'u16' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
               n_pixels, n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM s
    """


def _image_resize_mode_oracle_sql(n: int = 24, target: int = 32) -> str:
    """Twin of q_image_resize_mode: the majority vote restated in SQL —
    every source pixel maps to cell (r*target//h, c*target//w), zeros
    abstain, winner = ROW_NUMBER over (cnt DESC, v ASC), unfilled
    cells are 0 — then the shared stats over the winners."""
    v = _PIXEL_VALUE_CASE.format(r="r", c="c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        px AS (
          SELECT i, (r * {target}) // h AS ti, (c * {target}) // w AS tj,
                 {v} AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, img.h - 1))) tr(r),
               LATERAL (SELECT UNNEST(generate_series(0, img.w - 1))) tc(c)),
        votes AS (
          SELECT i, ti, tj, v, COUNT(*) AS cnt
          FROM px WHERE v <> 0 GROUP BY i, ti, tj, v),
        win AS (
          SELECT i, ti, tj, v,
                 ROW_NUMBER() OVER (PARTITION BY i, ti, tj
                                    ORDER BY cnt DESC, v ASC) AS rn
          FROM votes),
        cells AS (
          SELECT img.i, ti, tj
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tr(ti),
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tc(tj)),
        resized AS (
          SELECT cells.i, cells.ti, cells.tj, COALESCE(win.v, 0) AS v
          FROM cells LEFT JOIN win
            ON win.i = cells.i AND win.ti = cells.ti
               AND win.tj = cells.tj AND win.rn = 1),
        agg AS (
          SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v * (ti * {target} + tj)) AS BIGINT) AS pos_sum
          FROM resized GROUP BY i)
        SELECT image_id, CAST({target * target} AS BIGINT) AS n_pixels,
               n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM agg
    """


def _image_resize_average_oracle_sql(n: int = 24, target: int = 32) -> str:
    """Twin of q_image_resize_average: the box mean restated in SQL —
    every source pixel maps to cell (r*target//h, c*target//w), zeros
    are excluded, the cell value is (2·SUM + COUNT) // (2·COUNT)
    (round-half-up; operands non-negative so DuckDB truncation agrees
    with numpy floor), unfilled cells are 0 — then the shared stats."""
    v = _PIXEL_VALUE_CASE.format(r="r", c="c")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        px AS (
          SELECT i, (r * {target}) // h AS ti, (c * {target}) // w AS tj,
                 {v} AS v
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, img.h - 1))) tr(r),
               LATERAL (SELECT UNNEST(generate_series(0, img.w - 1))) tc(c)),
        means AS (
          SELECT i, ti, tj,
                 (2 * SUM(v) + COUNT(*)) // (2 * COUNT(*)) AS v
          FROM px WHERE v <> 0 GROUP BY i, ti, tj),
        cells AS (
          SELECT img.i, ti, tj
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tr(ti),
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tc(tj)),
        resized AS (
          SELECT cells.i, cells.ti, cells.tj, COALESCE(means.v, 0) AS v
          FROM cells LEFT JOIN means
            ON means.i = cells.i AND means.ti = cells.ti
               AND means.tj = cells.tj),
        agg AS (
          SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v * (ti * {target} + tj)) AS BIGINT) AS pos_sum
          FROM resized GROUP BY i)
        SELECT image_id, CAST({target * target} AS BIGINT) AS n_pixels,
               n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM agg
    """


def _image_resize_bilinear_oracle_sql(n: int = 24, target: int = 32) -> str:
    """Twin of q_image_resize_bilinear: the fixed-point 4-corner blend
    restated — M = (2i+1)·src + dst keeps the floor-division operand
    positive (DuckDB // truncates toward zero; numpy floors; positive
    operands agree), x0 = M//(2·dst) − 1, fraction = M % (2·dst),
    indices clamp, any-corner-nodata ⇒ nodata, else round-half-up over
    (2·dst)² — then the shared stats over the blended values."""
    d2 = 2 * target
    den = d2 * d2

    def val(r, c):
        return "(" + _PIXEL_VALUE_CASE.format(r=r, c=c) + ")"

    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {_image_consts_values(n)}),
        co AS (
          SELECT i, ti, tj, ph, all_nd, hr0, hr1, hc0, hc1, h, w,
                 ((2 * ti + 1) * h + {target}) // {d2} - 1 AS y0,
                 ((2 * ti + 1) * h + {target}) % {d2} AS fr,
                 ((2 * tj + 1) * w + {target}) // {d2} - 1 AS x0,
                 ((2 * tj + 1) * w + {target}) % {d2} AS fc
          FROM img,
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tr(ti),
               LATERAL (SELECT UNNEST(generate_series(0, {target} - 1))) tc(tj)),
        ix AS (
          SELECT i, ti, tj, ph, all_nd, hr0, hr1, hc0, hc1, fr, fc,
                 GREATEST(0, LEAST(y0, h - 1)) AS r0,
                 GREATEST(0, LEAST(y0 + 1, h - 1)) AS r1,
                 GREATEST(0, LEAST(x0, w - 1)) AS c0,
                 GREATEST(0, LEAST(x0 + 1, w - 1)) AS c1
          FROM co),
        four AS (
          SELECT i, ti, tj, fr, fc,
                 {val("r0", "c0")} AS v00, {val("r0", "c1")} AS v01,
                 {val("r1", "c0")} AS v10, {val("r1", "c1")} AS v11
          FROM ix),
        resized AS (
          SELECT i, ti, tj,
                 CASE WHEN v00 = 0 OR v01 = 0 OR v10 = 0 OR v11 = 0
                      THEN 0
                      ELSE (v00 * ({d2} - fr) * ({d2} - fc)
                            + v01 * ({d2} - fr) * fc
                            + v10 * fr * ({d2} - fc)
                            + v11 * fr * fc + {den // 2}) // {den}
                 END AS v
          FROM four),
        agg AS (
          SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                 CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_data,
                 CAST(SUM(v) AS BIGINT) AS vsum,
                 COALESCE(CAST(MIN(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmin,
                 COALESCE(CAST(MAX(v) FILTER (WHERE v <> 0) AS BIGINT), 0) AS vmax,
                 CAST(SUM(v * (ti * {target} + tj)) AS BIGINT) AS pos_sum
          FROM resized GROUP BY i)
        SELECT image_id, CAST({target * target} AS BIGINT) AS n_pixels,
               n_data, vmin, vmax, vsum,
               CASE WHEN n_data = 0 THEN 0 ELSE vsum * 100 // n_data END AS mean_x100,
               pos_sum
        FROM agg
    """


def _pixel_canvas_ctes(zmin: int, zmax: int, dtype_tag: str) -> str:
    """The shared kernel-twin CTE chain, ending at `canvas(zoom, x, y,
    py, pxc, cv)` — the mosaicked per-tile pixel values for every tile
    of zooms [zmin, zmax], re-derived in SQL from the fixture constants
    alone. The embedded VALUES rows are per-image GENERATION constants
    (footprint, size, hash byte, hole rect — the same class of constant
    the tile-ID oracles embed); all the engine arithmetic under test —
    tile cover, window corners, margin rounding, read offsets, the
    nearest-resample index rule, the mosaic overwrite — is recomputed
    in SQL, mirroring the IEEE op order of kernel.read_tile_block
    exactly (terms that are exactly ±0.0 in the affine inverse — b, d,
    and their products — are algebraically dropped; adding/multiplying
    a signed zero cannot change any finite IEEE result here)."""
    vals = _image_consts_values(_PIXEL_STATS_N)
    ts = _PIXEL_STATS_TS
    case = (_PIXEL_VALUE_CASE if dtype_tag == "u8"
            else _PIXEL_VALUE_CASE_U32).format(r="rsrc", c="csrc")
    return f"""
        WITH img({_IMG_COLS}) AS (VALUES
              {vals}),
        z(zoom) AS (SELECT UNNEST(generate_series({zmin}, {zmax}))),
        rng AS (  -- exact tile cover per image per zoom (tileid.rs:100-131)
          SELECT img.*, zoom,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymax
          FROM img, z),
        tiles AS (
          SELECT r.*, xs.x, ys.y
          FROM rng r,
               LATERAL (SELECT UNNEST(generate_series(r.txmin, r.txmax))) xs(x),
               LATERAL (SELECT UNNEST(generate_series(r.tymin, r.tymax))) ys(y)),
        geo0 AS (
          SELECT t.*,
            {_CE} / CAST(1::BIGINT << zoom AS DOUBLE) AS ts_m,
            (maxx - minx) / w AS xres_src,
            (maxy - miny) / h AS yres_src
          FROM tiles t),
        geo1 AS (  -- tile mercator bounds (tileid.rs:67-82) + affine inverse
          SELECT *,
            CAST(x AS DOUBLE) * ts_m - {_CE} / 2.0 AS t_xmin,
            {_CE} / 2.0 - CAST(y AS DOUBLE) * ts_m AS t_ymax,
            1.0 / (xres_src * (-yres_src)) AS inv_det
          FROM geo0),
        geo2 AS (
          SELECT *,
            t_xmin + ts_m AS t_xmax,
            t_ymax - ts_m AS t_ymin,
            (-yres_src) * inv_det AS ia,
            xres_src * inv_det AS ie
          FROM geo1),
        geo3 AS (
          SELECT *, (-minx) * ia AS ic, (-maxy) * ie AS if_ FROM geo2),
        geo4 AS (  -- window_from_bounds: project corners, envelope (window.rs:13-62)
          SELECT *,
            LEAST(t_xmin * ia + ic, t_xmax * ia + ic) AS w_x0,
            GREATEST(t_xmin * ia + ic, t_xmax * ia + ic) AS w_x1,
            LEAST(t_ymin * ie + if_, t_ymax * ie + if_) AS w_y0,
            GREATEST(t_ymin * ie + if_, t_ymax * ie + if_) AS w_y1
          FROM geo3),
        geo5 AS (
          SELECT *, w_x1 - w_x0 AS w_w, w_y1 - w_y0 AS w_h FROM geo4),
        geo6 AS (  -- window_transform + affine_scale + resolution
          SELECT *,
            ABS(xres_src * (w_w / {ts}.0)) AS xres_t,
            ABS((-yres_src) * (w_h / {ts}.0)) AS yres_t
          FROM geo5),
        geo7 AS (  -- partial-tile margins (dataset.rs:146-153)
          SELECT *,
            GREATEST(FLOOR((minx - t_xmin) / xres_t + 0.5), 0.0) AS ml,
            GREATEST(FLOOR((t_xmax - maxx) / xres_t + 0.5), 0.0) AS mr,
            GREATEST(FLOOR((miny - t_ymin) / yres_t + 0.5), 0.0) AS mb,
            GREATEST(FLOOR((t_ymax - maxy) / yres_t + 0.5), 0.0) AS mt
          FROM geo6),
        geo8 AS (  -- block size + clamped read window (dataset.rs:155-170)
          SELECT *,
            CAST(FLOOR(({ts}.0 - ml - mr) + 0.5) AS BIGINT) AS bw,
            CAST(FLOOR(({ts}.0 - mt - mb) + 0.5) AS BIGINT) AS bh,
            FLOOR(LEAST(GREATEST(w_x0, 0.0), CAST(w AS DOUBLE)) + 0.5) AS x_off,
            FLOOR(LEAST(GREATEST(w_y0, 0.0), CAST(h AS DOUBLE)) + 0.5) AS y_off,
            GREATEST(LEAST(w_x0 + w_w, CAST(w AS DOUBLE)), 0.0) AS x_stop,
            GREATEST(LEAST(w_y0 + w_h, CAST(h AS DOUBLE)), 0.0) AS y_stop
          FROM geo7),
        geo9 AS (
          SELECT *,
            CAST(FLOOR((x_stop - x_off) + 0.5) AS BIGINT) AS rw,
            CAST(FLOOR((y_stop - y_off) + 0.5) AS BIGINT) AS rh,
            CAST(x_off AS BIGINT) AS x0i,
            CAST(y_off AS BIGINT) AS y0i,
            CAST(ml AS BIGINT) AS li,
            CAST(mt AS BIGINT) AS ti_off
          FROM geo8),
        blocks AS (  -- empty-window skip (dataset.rs:163-166)
          SELECT * FROM geo9 WHERE rw > 0 AND rh > 0 AND bw > 0 AND bh > 0),
        px AS (  -- nearest decimation at pixel centers (dataset.rs:172-178)
          SELECT b.zoom, b.x, b.y, b.i, b.ph, b.all_nd, b.hr0, b.hr1, b.hc0, b.hc1,
                 b.g20, b.lowcard,
                 b.ti_off + tr.ti AS py, b.li + tc.tj AS pxc,
                 b.y0i + LEAST(CAST(FLOOR(((CAST(tr.ti AS DOUBLE) + 0.5) * CAST(b.rh AS DOUBLE)) / CAST(b.bh AS DOUBLE)) AS BIGINT), b.rh - 1) AS rsrc,
                 b.x0i + LEAST(CAST(FLOOR(((CAST(tc.tj AS DOUBLE) + 0.5) * CAST(b.rw AS DOUBLE)) / CAST(b.bw AS DOUBLE)) AS BIGINT), b.rw - 1) AS csrc
          FROM blocks b,
               LATERAL (SELECT UNNEST(generate_series(0, b.bh - 1))) tr(ti),
               LATERAL (SELECT UNNEST(generate_series(0, b.bw - 1))) tc(tj)),
        contrib AS (  -- fixture pixel formula + hole classes (fixtures.pixel_band)
          SELECT zoom, x, y, py, pxc, i,
                 {case} AS v
          FROM px),
        canvas AS (  -- mosaic: ascending-image overwrite where != nodata
          SELECT zoom, x, y, py, pxc,
                 arg_max(v, i) FILTER (WHERE v <> 0) AS cv
          FROM contrib GROUP BY zoom, x, y, py, pxc)"""


_PIXEL_STATS_SELECT = """
        SELECT CAST(zoom AS INT) AS zoom, x, y,
               CAST(COUNT(cv) AS BIGINT) AS px_count,
               CAST(SUM(cv) AS BIGINT) AS val_sum,
               CAST(MIN(cv) AS BIGINT) AS val_min,
               CAST(MAX(cv) AS BIGINT) AS val_max,
               CAST(SUM(cv * (py * {ts} + pxc)) AS BIGINT) AS pos_sum
        FROM {src}
        GROUP BY zoom, x, y
        HAVING COUNT(cv) > 0
    """


def _render_pixel_stats_oracle_sql(dtype_tag: str = "u8") -> str:
    """Per-tile pixel stats over the kernel-twin canvas (see
    _pixel_canvas_ctes), zooms 8-12."""
    return (_pixel_canvas_ctes(_PIXEL_STATS_ZMIN, _PIXEL_STATS_ZMAX, dtype_tag)
            + _PIXEL_STATS_SELECT.format(ts=_PIXEL_STATS_TS, src="canvas"))


def _geo_image_consts_values(n: int) -> str:
    """Per-image GENERATION constants for the GEOGRAPHIC fixture table
    (fixtures.generate_images_geo): footprint in degrees + the same
    size/hash/hole constants as _image_consts_values."""
    import numpy as np

    from rastertiler_rs_spark.fixtures import (_H_CYCLE, _W_CYCLE,
                                               geo_footprint_from_index)
    from rastertiler_rs_spark.functions.hashing import splitmix64

    idx = np.arange(n, dtype=np.uint64)
    minlon, minlat, maxlon, maxlat = geo_footprint_from_index(idx)
    rows = []
    for i in range(n):
        w, h = int(_W_CYCLE[i % 4]), int(_H_CYCLE[i % 4])
        g = int(splitmix64(np.uint64(i)))
        ph = g & 0xFF
        hole = (g >> 34) & 7
        if hole == 7:
            all_nd, hr0, hr1, hc0, hc1 = 1, 0, 0, 0, 0
        elif hole != 0:
            p = min((g >> 37) & 7, 5)
            qq = min((g >> 40) & 7, 5)
            all_nd = 0
            hr0, hr1 = h * qq // 8, h * (qq + 3) // 8
            hc0, hc1 = w * p // 8, w * (p + 3) // 8
        else:
            all_nd, hr0, hr1, hc0, hc1 = 0, 0, 0, 0, 0
        rows.append(
            f"({i}, {minlon[i]!r}::DOUBLE, {minlat[i]!r}::DOUBLE, "
            f"{maxlon[i]!r}::DOUBLE, {maxlat[i]!r}::DOUBLE, "
            f"{w}, {h}, {ph}, {all_nd}, {hr0}, {hr1}, "
            f"{hc0}, {hc1})")
    return ",\n              ".join(rows)


def _warp_twin_sql(img_cols: str, img_values: str, case: str) -> str:
    """The shared warp twin CTE chain: re-derives every warped tile
    pixel in SQL from embedded per-image constants (``img_values`` —
    geographic footprint in degrees, source dims, pixel-formula
    extras; ``case`` states the source pixel value at (rsrc, csrc)).
    Float ops mirror the IEEE op order of tilemath.geo_to_mercator
    (forward, for the cover: lon·(ORIGIN/180),
    RE·ln(tan(π/4 + (deg2rad/2)·lat))) and tilemath.mercator_to_geo
    (inverse, per destination pixel center: mx/(ORIGIN/180),
    (2·atan(exp(my/RE)) − π/2)·(180/π)) — constants embedded via repr
    so both engines fold the same doubles. numpy's SIMD exp/atan and
    DuckDB's libm may disagree in the last ulp; correctness rests on
    the fixtures' ≥1e-4 floor-quotient margins
    (tests/test_warp.py::test_floor_margins), not on transcendental
    bit-parity."""
    ts = _PIXEL_STATS_TS
    od = repr(ORIGIN / 180.0)
    pi4 = repr(math.pi * 0.25)
    hdeg = repr(0.5 * (math.pi / 180.0))
    pih = repr(math.pi * 0.5)
    r2d = repr(180.0 / math.pi)
    re = repr(6378137.0)
    return f"""
        WITH img({img_cols}) AS (VALUES
              {img_values}),
        proj AS (  -- forward mercator of the footprint corners (tileid.rs:21-34)
          SELECT *,
            minlon * {od} AS minx,
            maxlon * {od} AS maxx,
            {re} * LN(TAN({pi4} + {hdeg} * minlat)) AS miny,
            {re} * LN(TAN({pi4} + {hdeg} * maxlat)) AS maxy,
            (maxlon - minlon) / w AS xres_g,
            (maxlat - minlat) / h AS yres_g
          FROM img),
        z(zoom) AS (SELECT UNNEST(generate_series({_WARP_ZMIN}, {_WARP_ZMAX}))),
        rng AS (  -- exact tile cover of the projected bounds (tileid.rs:100-131)
          SELECT p.*, zoom,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymin,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS txmax,
            GREATEST(0, LEAST((1::BIGINT << zoom) - 1, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * CAST(1::BIGINT << zoom AS DOUBLE)) AS BIGINT))) AS tymax
          FROM proj p, z),
        tiles AS (
          SELECT r.*, xs.x, ys.y
          FROM rng r,
               LATERAL (SELECT UNNEST(generate_series(r.txmin, r.txmax))) xs(x),
               LATERAL (SELECT UNNEST(generate_series(r.tymin, r.tymax))) ys(y)),
        geo AS (  -- destination tile frame (warp.warp_tile)
          SELECT t.*,
            {_CE} / CAST(1::BIGINT << zoom AS DOUBLE) AS ts_m
          FROM tiles t),
        geo2 AS (
          SELECT *,
            ts_m / {ts}.0 AS res_t,
            CAST(x AS DOUBLE) * ts_m - {_CE} / 2.0 AS t_xmin,
            {_CE} / 2.0 - CAST(y AS DOUBLE) * ts_m AS t_ymax
          FROM geo),
        px AS (  -- inverse-projected nearest source index per pixel center
          SELECT g.*, tr.py, tc.pxc,
                 CAST(FLOOR((((g.t_xmin + (CAST(tc.pxc AS DOUBLE) + 0.5) * g.res_t) / {od}) - g.minlon) / g.xres_g) AS BIGINT) AS csrc,
                 CAST(FLOOR((g.maxlat - (2.0 * ATAN(EXP((g.t_ymax - (CAST(tr.py AS DOUBLE) + 0.5) * g.res_t) / {re})) - {pih}) * {r2d}) / g.yres_g) AS BIGINT) AS rsrc
          FROM geo2 g,
               LATERAL (SELECT UNNEST(generate_series(0, {ts - 1}))) tr(py),
               LATERAL (SELECT UNNEST(generate_series(0, {ts - 1}))) tc(pxc)),
        contrib AS (  -- footprint mask + fixture pixel formula
          SELECT zoom, x, y, py, pxc, i, {case} AS v
          FROM px
          WHERE csrc >= 0 AND csrc < w AND rsrc >= 0 AND rsrc < h),
        canvas_w AS (  -- mosaic: ascending-image overwrite where != nodata
          SELECT zoom, x, y, py, pxc,
                 arg_max(v, i) FILTER (WHERE v <> 0) AS cv
          FROM contrib GROUP BY zoom, x, y, py, pxc)""" \
        + _PIXEL_STATS_SELECT.format(ts=ts, src="canvas_w")


def _warp_pixel_stats_oracle_sql() -> str:
    """Twin of q_warp_pixel_stats: the shared warp chain over the
    GEOGRAPHIC images fixture (hole classes + per-image hash byte)."""
    return _warp_twin_sql(
        "i, minlon, minlat, maxlon, maxlat, w, h, ph, all_nd, "
        "hr0, hr1, hc0, hc1",
        _geo_image_consts_values(_WARP_N),
        _PIXEL_VALUE_CASE.format(r="rsrc", c="csrc"))


def _warp_tif_pixel_stats_oracle_sql() -> str:
    """Twin of q_warp_tif_pixel_stats: the shared warp chain over the
    EPSG:4326 GeoTIFF fixture's strip blocks — degree footprints from
    the SAME block_footprint helper the executor emit path uses, pixel
    values from the global fixture formula (fixtures.geotiff_band:
    1 + (r·31 + c·17) % 255, fully opaque) at row brow0 + rsrc."""
    from rastertiler_rs_spark.fixtures import geotiff_geo_params
    from rastertiler_rs_spark.operators.geotiff_source import \
        block_footprint

    w, h, transform, rps = geotiff_geo_params()
    rows = []
    i = 0
    for row0 in range(0, h, rps):
        nrows = min(rps, h - row0)
        minlon, minlat, maxlon, maxlat = block_footprint(
            transform, row0, nrows, 0, w)
        # ::DOUBLE: a short repr like -43.177311 would otherwise parse
        # as DECIMAL and poison downstream arithmetic
        rows.append(f"({i}, {minlon!r}::DOUBLE, {minlat!r}::DOUBLE, "
                    f"{maxlon!r}::DOUBLE, {maxlat!r}::DOUBLE, "
                    f"{w}, {nrows}, {row0})")
        i += 1
    return _warp_twin_sql(
        "i, minlon, minlat, maxlon, maxlat, w, h, brow0",
        ",\n              ".join(rows),
        "1 + ((brow0 + rsrc) * 31 + csrc * 17) % 255")


def _heatmap_pixel_stats_oracle_sql() -> str:
    """Integer twin of q_heatmap_pixel_stats: the fixture's pixel
    indices come from an integer formula (points sit at pixel centers,
    so the engine's float floor provably recovers them), letting the
    twin state binning, both-side world clamping, weight summation and
    the pyramid's gx >> k sum-decimation without a single float."""
    ts = _PIXEL_STATS_TS
    n_px = (1 << _HEAT_Z) * ts
    n_lev = _HEAT_Z - _HEAT_ZMIN + 1
    return f"""
        WITH pts AS (
          SELECT CASE WHEN i % 97 = 0 THEN {n_px - 3} + (i % 7)
                      ELSE (i * 1000003 + 12345) % 2048 - 8 END AS gx0,
                 (i * 998244353 + 54321) % 2048 AS gy0,
                 1 + (i % 7) AS w
          FROM range({_HEAT_N}) t(i)),
        base AS (
          SELECT LEAST({n_px - 1}, GREATEST(0, gx0)) AS gx,
                 LEAST({n_px - 1}, GREATEST(0, gy0)) AS gy,
                 SUM(w) AS cv
          FROM pts GROUP BY 1, 2),
        lev AS (
          SELECT {_HEAT_Z} - k AS zoom, gx >> k AS gx, gy >> k AS gy,
                 SUM(cv) AS cv
          FROM base, range({n_lev}) lv(k) GROUP BY 1, 2, 3),
        canvas_h AS (
          SELECT zoom, gx // {ts} AS x, gy // {ts} AS y,
                 gy % {ts} AS py, gx % {ts} AS pxc, cv
          FROM lev)""" + _PIXEL_STATS_SELECT.format(ts=ts, src="canvas_h")


def _render_pyramid_pixel_stats_oracle_sql() -> str:
    """Pixel-value twin for the OVERVIEW CASCADE: the engine's 2x
    nearest decimation composes to strided sampling (the
    cascade_fragments identity), so a zoom-z overview pixel (z < base)
    is exactly the base-canvas pixel at stride 2^k offset 2^k-1 — the
    low CTE states that index mapping over the SQL-derived base canvas,
    making cascaded-pixel VALUES checkable without re-deriving any new
    arithmetic. Direct zooms (8-9) come from the kernel twin as in
    render_pixel_stats."""
    ts = _PIXEL_STATS_TS
    return (_pixel_canvas_ctes(8, 9, "u8") + f""",
        lv(lz, k) AS (VALUES (4, 4), (5, 3), (6, 2), (7, 1)),
        low AS (  -- overview pixel (z=8-k) == base pixel at stride 2^k, offset 2^k-1
          SELECT lv.lz AS zoom, c.x >> lv.k AS x, c.y >> lv.k AS y,
                 (c.y % (1::BIGINT << lv.k)) * ({ts} >> lv.k) + (c.py >> lv.k) AS py,
                 (c.x % (1::BIGINT << lv.k)) * ({ts} >> lv.k) + (c.pxc >> lv.k) AS pxc,
                 c.cv
          FROM canvas c, lv
          WHERE c.zoom = 8
            AND c.py % (1::BIGINT << lv.k) = (1::BIGINT << lv.k) - 1
            AND c.pxc % (1::BIGINT << lv.k) = (1::BIGINT << lv.k) - 1),
        allpx AS (
          SELECT zoom, x, y, py, pxc, cv FROM canvas
          UNION ALL
          SELECT zoom, x, y, py, pxc, cv FROM low)"""
            + _PIXEL_STATS_SELECT.format(ts=ts, src="allpx"))


def oracle_sql() -> dict[str, str]:
    part_boxes_300 = _PART_BOXES_SQL.format(limit=300)
    part_boxes_500 = _PART_BOXES_SQL.format(limit=500)
    part_boxes_2000 = _PART_BOXES_SQL.format(limit=2000)
    return {
        "embedding_lsh": _lsh_oracle_sql(),
        "embedding_ivf": _variant_union_sql(
            ("mem", _ivf_oracle_sql()), ("index", _ivf_oracle_sql()),
            ("pq", _pq_oracle_sql())),
        "embedding_neardup": _neardup_oracle_sql(),
        # dedup = first-seen unique set; window = finalized hour buckets
        # ending at or before the final watermark (max ts - 2h); single
        # batch ⇒ no late drops. Long (variant, ekey, n, v) shape shared
        # with q_stream_events.
        "stream_events": f"""
            WITH {_funnel_dp_cte(standalone=False)},
            f AS (SELECT * FROM events WHERE event_id % 3 = 0),
            m AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM f),
            w AS (SELECT
                    make_timestamp(CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000) AS win_start,
                    make_timestamp((CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 + 3600) * 1000000) AS win_end,
                    event_type,
                    COUNT(*) AS n_events,
                    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
                  FROM f GROUP BY 1, 2, 3)
            SELECT 'dedup' AS variant, md5(text) AS ekey,
                   MIN(doc_id) AS n, CAST(0 AS BIGINT) AS v
            FROM documents WHERE doc_id % 5 = 0 GROUP BY 2
            UNION ALL
            SELECT 'window' AS variant,
                   event_type || '@' ||
                     CAST(CAST(epoch(win_start) AS BIGINT) AS VARCHAR) AS ekey,
                   n_events AS n, value_cents AS v
            FROM w, m WHERE w.win_end <= m.wm
            UNION ALL
            SELECT 'asof' AS variant,
                   CAST(c.event_id AS VARCHAR) AS ekey,
                   CASE WHEN v.event_id IS NOT NULL
                         AND epoch_us(c.ts) - epoch_us(v.ts) <= 172800000000
                        THEN v.event_id ELSE -1 END AS n,
                   CASE WHEN v.event_id IS NOT NULL
                         AND epoch_us(c.ts) - epoch_us(v.ts) <= 172800000000
                        THEN epoch_us(c.ts) - epoch_us(v.ts) ELSE -1 END AS v
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                            WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts
            UNION ALL
            SELECT 'range' AS variant,
                   CAST(c.event_id AS VARCHAR) AS ekey,
                   e.event_id AS n,
                   epoch_us(c.ts) - epoch_us(e.ts) AS v
            FROM (SELECT event_id, ts FROM events
                  WHERE event_type = 'click') c
            JOIN (SELECT event_id, ts FROM events
                  WHERE event_type = 'error') e
              ON c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
            UNION ALL
            -- heat = streaming incremental heatmap: maintained pixel
            -- store == batch binning of all points (formula + clamp)
            SELECT 'heat' AS variant,
                   CAST(gx AS VARCHAR) || '/' || CAST(gy AS VARCHAR)
                     AS ekey,
                   COUNT(*) AS n,
                   CAST(SUM(w) AS BIGINT) AS v
            FROM (
              SELECT GREATEST(0, LEAST(8191,
                       CASE WHEN i % 97 = 0 THEN 8189 + (i % 7)
                            ELSE (i * 1000003 + 12345) % 2048 - 8
                       END)) AS gx,
                     GREATEST(0, LEAST(8191,
                       (i * 998244353 + 54321) % 2048)) AS gy,
                     1 + i % 7 AS w
              FROM (SELECT UNNEST(generate_series(0, 11999)) AS i) hp
            ) hb GROUP BY gx, gy
            UNION ALL
            -- quant = exact order statistics: smallest value whose
            -- cumulative count reaches k = (p*n + 9999) // 10000
            SELECT 'quant' AS variant,
                   'p' || CAST(kk.p AS VARCHAR) AS ekey,
                   CAST(MIN(w.v) AS BIGINT) AS n,
                   kk.k AS v
            FROM (
              SELECT p.p AS p,
                     (p.p * nn.n + 9999) // 10000 AS k
              FROM (VALUES (2500), (5000), (9000), (9900)) p(p),
                   (SELECT COUNT(*) AS n FROM orders) nn
            ) kk
            JOIN (
              SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum
              FROM (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                             AS v,
                           COUNT(*) AS cnt
                    FROM orders GROUP BY 1) c
            ) w ON w.cum >= kk.k AND w.cum - w.cnt < kk.k
            GROUP BY kk.p, kk.k
            UNION ALL
            -- funnel = streaming incremental windowFunnel: carried
            -- per-user DP state across three time-tertile batches ==
            -- the batch DP (CTE r above, shared with sessionize)
            SELECT 'funnel' AS variant,
                   CAST(user_id AS VARCHAR) AS ekey,
                   CAST(MAX(row_lvl) AS BIGINT) AS n,
                   CAST(SUM(row_lvl) * 100000
                        + SUM(CASE WHEN etype = '{_FUNNEL_STEPS[0]}'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS v
            FROM r GROUP BY 2
            UNION ALL
            -- sess = streaming gap sessionization: CLOSED sessions
            -- (a later event proved the gap) == batch gap rule minus
            -- each user's final session; microsecond arithmetic
            SELECT 'sess' AS variant,
                   CAST(user_id AS VARCHAR) || '#' ||
                     CAST(sid AS VARCHAR) AS ekey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MAX(us) - MIN(us) AS BIGINT) AS v
            FROM (
              SELECT user_id, us, sid,
                     MAX(sid) OVER (PARTITION BY user_id) AS last_sid
              FROM (
                SELECT user_id, us,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                      ROWS UNBOUNDED PRECEDING) - 1 AS sid
                FROM (
                  SELECT user_id, us,
                         CASE WHEN prev_us IS NULL
                                   OR us - prev_us > {_SESS_GAP_US}
                              THEN 1 ELSE 0 END AS brk
                  FROM (
                    SELECT user_id, epoch_us(ts) AS us,
                           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY epoch_us(ts))
                             AS prev_us
                    FROM events) l) b) c) g
            GROUP BY user_id, sid
            HAVING sid < MIN(last_sid)
        """,
        "star_rollup": """
            SELECT n.n_name,
                   CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS yyyymm,
                   COUNT(*) AS n_orders,
                   CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        """,
        # same lag/cumsum/floored-epoch expressions as the Spark windows
        "sessionize": _variant_union_sql(
            ("rollup", """
            WITH o AS (
              SELECT event_id, user_id, ts, value,
                     CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
                     LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
              FROM events),
            s AS (SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 1800
                                 THEN 1 ELSE 0 END AS new_s FROM o),
            t AS (SELECT *, CAST(SUM(new_s) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                  FROM s)
            SELECT user_id, session_seq, COUNT(*) AS n_events,
                   MIN(es) AS start_es, MAX(es) AS end_es,
                   MAX(es) - MIN(es) AS duration_s,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM t GROUP BY 1, 2
            """),
            # windowFunnel DP twin (operators/funnel.py): f_j(e) = latest
            # chain start among length-j chains ending at e; "strictly
            # earlier" is by VALUE via the RANGE (unbounded, 1 PRECEDING)
            # frame over epoch-µs, matching Spark rangeBetween(-∞, -1).
            ("funnel", f"""
            {_funnel_dp_cte()}
            SELECT user_id,
                   CAST(MAX(row_lvl) AS BIGINT) AS session_seq,
                   CAST(SUM(CASE WHEN etype = '{_FUNNEL_STEPS[0]}'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                   CAST(COALESCE(MAX(f4), -1) AS BIGINT) AS start_es,
                   CAST(SUM(row_lvl) AS BIGINT) AS end_es,
                   CAST(0 AS BIGINT) AS duration_s,
                   CAST(0 AS BIGINT) AS value_cents
            FROM r GROUP BY 1
            """),
            ("cohort", """
            WITH pe AS (SELECT user_id AS u,
                               CAST(FLOOR(FLOOR(epoch(ts)) / 86400) AS BIGINT) AS p
                        FROM events),
            f AS (SELECT u, MIN(p) AS cohort FROM pe GROUP BY 1),
            a AS (SELECT DISTINCT pe.u, f.cohort, pe.p
                  FROM pe JOIN f ON pe.u = f.u)
            SELECT cohort AS user_id, p - cohort AS session_seq,
                   COUNT(*) AS n_events,
                   CAST(0 AS BIGINT) AS start_es, CAST(0 AS BIGINT) AS end_es,
                   CAST(0 AS BIGINT) AS duration_s,
                   CAST(0 AS BIGINT) AS value_cents
            FROM a GROUP BY 1, 2
            """)),
        # container probes in the shared (variant, media_id, dim_a,
        # dim_b, n_units, duration_ms, codec) shape of q_media_probe;
        # every field rederived from the generation formulas, so the
        # mux→parse round-trips stay value-checked.
        "media_probe": """
            WITH vp AS (
              SELECT i,
                     160 + (i % 5) * 32 AS width,
                     120 + (i % 4) * 24 AS height,
                     8 + (i * 11) % 17 AS n_frames,
                     CASE i % 5 WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 25
                                WHEN 3 THEN 40 ELSE 50 END AS fps
              FROM (SELECT UNNEST(generate_series(0, 63)) AS i) c),
            mp AS (
              SELECT i,
                     CASE i % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                ELSE 32000 END AS sample_rate,
                     1 + (i % 2) AS channels,
                     5 + (i * 13) % 20 AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 47)) AS i) c),
            fp AS (
              SELECT i, 8 + (i * 11) % 17 AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 31)) AS i) c),
            ff AS (
              SELECT i, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM fp),
            ap AS (
              SELECT i,
                     128 + (i % 4) * 16 AS width,
                     96 + (i % 3) * 16 AS height,
                     6 + (i * 7) % 11 AS n_frames,
                     CASE i % 4 WHEN 0 THEN 8 WHEN 1 THEN 25
                                WHEN 2 THEN 40 ELSE 125 END AS fps
              FROM (SELECT UNNEST(generate_series(0, 47)) AS i) c),
            afp AS (
              SELECT i, 6 + (i * 7) % 11 AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 23)) AS i) c),
            aff AS (
              SELECT i, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM afp),
            lp AS (
              SELECT i, 1 + (i % 2) AS channels, 3 + (i * 5) % 6 AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 23)) AS i) c),
            lf AS (
              SELECT i, channels, UNNEST(generate_series(0, n_frames - 1)) AS f
              FROM lp),
            lg AS (
              SELECT i, channels, f, UNNEST(generate_series(0, 1)) AS g
              FROM lf),
            lc AS (
              SELECT i, f, g, UNNEST(generate_series(0, channels - 1)) AS ch
              FROM lg),
            ll AS (
              SELECT i, f, g, ch,
                     UNNEST(generate_series(
                       0, 4 * (2 + ((i + 2*f + 3*g + 5*ch) % 4)) - 1)) AS p
              FROM lc),
            lv AS (
              SELECT i, f, g, ch, p,
                     ((7*i + 3*f + 5*g + 11*ch + p) % 3) - 1 AS v
              FROM ll),
            ls AS (
              SELECT i, f, g, ch,
                     SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS n_nonzero,
                     SUM((p + 1) * v) AS pos_sum,
                     SUM(v) AS sum_is
              FROM lv GROUP BY i, f, g, ch)
            SELECT 'video' AS variant,
                   'vid' || lpad(CAST(i AS VARCHAR), 8, '0') AS media_id,
                   CAST(width AS BIGINT) AS dim_a,
                   CAST(height AS BIGINT) AS dim_b,
                   CAST(n_frames AS BIGINT) AS n_units,
                   CAST(n_frames * (1000 // fps) AS BIGINT) AS duration_ms,
                   'mp4v' AS codec
            FROM vp
            UNION ALL
            SELECT 'mp3',
                   'mp3' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(sample_rate AS BIGINT),
                   CAST(channels AS BIGINT),
                   CAST(n_frames * 1152 AS BIGINT),
                   CAST((n_frames * 1152 * 1000) // sample_rate AS BIGINT),
                   'mp3'
            FROM mp
            UNION ALL
            SELECT 'frames',
                   'vid' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(64 + (i * 7 + fno * 13) % 128 AS BIGINT),
                   CAST((i + fno) % 256 AS BIGINT),
                   CAST(fno AS BIGINT),
                   CAST(0 AS BIGINT),
                   'demux'
            FROM ff WHERE fno % 4 = 0
            UNION ALL
            SELECT 'aviprobe',
                   'avv' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(width AS BIGINT),
                   CAST(height AS BIGINT),
                   CAST(n_frames AS BIGINT),
                   CAST(n_frames * (1000 // fps) AS BIGINT),
                   'rawv'
            FROM ap
            UNION ALL
            SELECT 'aviframes',
                   'avv' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(48 + (i * 11 + fno * 17) % 160 AS BIGINT),
                   CAST((3 * i + 5 * fno) % 256 AS BIGINT),
                   CAST(fno AS BIGINT),
                   CAST(0 AS BIGINT),
                   'demux'
            FROM aff WHERE fno % 3 = 0
            UNION ALL
            SELECT 'l3spec',
                   'mps' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(f * 4 + g * 2 + ch AS BIGINT),
                   CAST(pos_sum AS BIGINT),
                   CAST(n_nonzero AS BIGINT),
                   CAST(sum_is * (1 << ((i + f + g + ch) % 3)) AS BIGINT),
                   'l3spec'
            FROM ls
            UNION ALL
            SELECT 'gifprobe',
                   'gif' || lpad(CAST(i AS VARCHAR), 6, '0'),
                   CAST(16 + (i % 3) * 8 AS BIGINT),
                   CAST(12 + (i % 2) * 8 AS BIGINT),
                   CAST(2 + i % 3 AS BIGINT),
                   CAST(10 * (SELECT SUM(4 + (i + f.f) % 5)
                              FROM (SELECT UNNEST(generate_series(
                                      0, 2 + i % 3 - 1)) AS f) f)
                        AS BIGINT),
                   'gif89a'
            FROM (SELECT UNNEST(generate_series(0, 35)) AS i) gc
            UNION ALL
            SELECT 'webmprobe',
                   'wbm' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(112 + (i % 5) * 16 AS BIGINT),
                   CAST(80 + (i % 4) * 16 AS BIGINT),
                   CAST(4 + (i * 9) % 13 AS BIGINT),
                   CAST((4 + (i * 9) % 13)
                        * (1000 // (CASE i % 4 WHEN 0 THEN 10 WHEN 1 THEN 25
                                               WHEN 2 THEN 50 ELSE 100 END))
                        AS BIGINT),
                   'V_FILL'
            FROM (SELECT UNNEST(generate_series(0, 39)) AS i) wc
            UNION ALL
            SELECT 'webmframes',
                   'wbm' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(56 + (i * 9 + fno * 19) % 144 AS BIGINT),
                   CAST((7 * i + 11 * fno) % 256 AS BIGINT),
                   CAST(fno AS BIGINT),
                   CAST(0 AS BIGINT),
                   'demux'
            FROM (
              SELECT i, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM (
                SELECT i, 4 + (i * 9) % 13 AS n_frames
                FROM (SELECT UNNEST(generate_series(0, 19)) AS i) c
              ) wfp
            ) wff WHERE fno % 3 = 0
            UNION ALL
            SELECT 'wanprobe',
                   'wan' || lpad(CAST(i AS VARCHAR), 6, '0'),
                   CAST(12 + (i % 3) * 6 AS BIGINT),
                   CAST(10 + (i % 2) * 6 AS BIGINT),
                   CAST(2 + i % 3 AS BIGINT),
                   CAST((SELECT SUM(30 + (3 * i + 5 * f.f) % 40)
                         FROM (SELECT UNNEST(generate_series(
                                 0, 2 + i % 3 - 1)) AS f) f)
                        AS BIGINT),
                   'webpanim'
            FROM (SELECT UNNEST(generate_series(0, 29)) AS i) wac
            UNION ALL
            SELECT 'flacfeat',
                   'flc' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(MAX(ABS(v)) AS BIGINT),
                   CAST(SUM(v * v) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT),
                   CAST((COUNT(*) * 1000) // (rate * ch) AS BIGINT),
                   'flac'
            FROM (
              SELECT i, rate, ch,
                     ABS(((k + 11 * i) % 256) - 128) * 27 - 1700 AS v
              FROM (
                SELECT i, rate, ch,
                       UNNEST(generate_series(0, nf * ch - 1)) AS k
                FROM (
                  SELECT i, 8000 * (1 + i % 3) AS rate,
                         1 + (i % 2) AS ch,
                         400 + (i * 157) % 600 AS nf
                  FROM (SELECT UNNEST(generate_series(0, 23)) AS i) c
                ) fp
              ) fk
            ) fv GROUP BY i, rate, ch
            UNION ALL
            SELECT 'oggfeat',
                   'ogg' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(MAX(ABS(v)) AS BIGINT),
                   CAST(SUM(v * v) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT),
                   CAST((COUNT(*) * 1000) // (rate * ch) AS BIGINT),
                   'ogg'
            FROM (
              SELECT i, rate, ch,
                     ABS(((k + 11 * (i + 3)) % 256) - 128) * 27 - 1700 AS v
              FROM (
                SELECT i, rate, ch,
                       UNNEST(generate_series(0, nf * ch - 1)) AS k
                FROM (
                  SELECT i, 8000 * (1 + (i + 3) % 3) AS rate,
                         1 + ((i + 3) % 2) AS ch,
                         400 + ((i + 3) * 157) % 600 AS nf
                  FROM (SELECT UNNEST(generate_series(0, 17)) AS i) c
                ) fp
              ) fk
            ) fv GROUP BY i, rate, ch
            UNION ALL
            SELECT 'apngprobe',
                   'apg' || lpad(CAST(i AS VARCHAR), 6, '0'),
                   CAST(10 + (i % 3) * 7 AS BIGINT),
                   CAST(8 + (i % 2) * 5 AS BIGINT),
                   CAST(2 + i % 3 AS BIGINT),
                   CAST((SELECT SUM(20 + (7 * i + 11 * f.f) % 50)
                         FROM (SELECT UNNEST(generate_series(
                                 0, 2 + i % 3 - 1)) AS f) f)
                        AS BIGINT),
                   'apng'
            FROM (SELECT UNNEST(generate_series(0, 23)) AS i) apc
            UNION ALL
            SELECT 'resamp',
                   'aud' || lpad(CAST(i AS VARCHAR), 8, '0')
                         || '/' || CAST(c AS VARCHAR),
                   CAST(MAX(u) AS BIGINT),
                   CAST(SUM(u * (j + 1)) AS BIGINT),
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(u) AS BIGINT),
                   'resamp'
            FROM (
              SELECT i, c, j,
                     (u0 * (12000 - f) + u1 * f + 6000) // 12000 AS u
              FROM (
                SELECT i, c, j, f,
                       (i * 7919 + (x0 * ch + c) * 2654435761) % 65536 AS u0,
                       (i * 7919
                        + (LEAST(x0 + 1, nf - 1) * ch + c) * 2654435761)
                       % 65536 AS u1
                FROM (
                  SELECT i, ch, nf, c, j,
                         (j * rate) // 12000 AS x0,
                         (j * rate) % 12000 AS f
                  FROM (
                    SELECT i, rate, ch, nf, cs.c AS c, js.j AS j
                    FROM (
                      SELECT i, 8000 * (1 + i % 3) AS rate,
                             1 + (i % 2) AS ch,
                             512 + (i * 193) % 1024 AS nf
                      FROM (SELECT UNNEST(generate_series(0, 11)) AS i) rc
                    ) rp,
                    LATERAL (SELECT UNNEST(generate_series(0, rp.ch - 1))) cs(c),
                    LATERAL (SELECT UNNEST(generate_series(
                        0, (rp.nf * 12000) // rp.rate - 1))) js(j)
                  ) rj
                ) rx
              ) ru
            ) rs GROUP BY i, c
        """,
        # decoded MJPEG pixel stats in closed form, BOTH containers:
        # mp4 frames are solid v = (17i + 29f + 23) % 256, avi frames
        # solid v = (31i + 13f + 7) % 256, and solid baseline-JPEG
        # round-trips are bit-exact at q90 (test_jpeg pins all 256)
        "video_pixels_mjpeg": """
            WITH p AS (
              SELECT i,
                     16 + (i % 3) * 8 AS w,
                     8 + (i % 4) * 4 AS h,
                     4 + (i % 3) AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 23)) AS i) c),
            f AS (
              SELECT i, w, h, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM p),
            s AS (
              SELECT i, w, h, fno,
                     (17 * i + 29 * fno + 23) % 256 AS v,
                     CAST(w AS BIGINT) * h AS n_px
              FROM f WHERE fno % 2 = 0),
            ap AS (
              SELECT i,
                     16 + (i % 4) * 8 AS w,
                     8 + (i % 3) * 8 AS h,
                     3 + (i % 4) AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 15)) AS i) c),
            af AS (
              SELECT i, w, h, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM ap),
            avs AS (
              SELECT i, w, h, fno,
                     (31 * i + 13 * fno + 7) % 256 AS v,
                     CAST(w AS BIGINT) * h AS n_px
              FROM af WHERE fno % 2 = 0),
            sp AS (
              SELECT i,
                     14 + (i % 3) * 9 AS w,
                     10 + (i % 4) * 7 AS h,
                     3 + (i % 3) AS n_frames
              FROM (SELECT UNNEST(generate_series(0, 15)) AS i) c),
            sf AS (
              SELECT i, w, h, UNNEST(generate_series(0, n_frames - 1)) AS fno
              FROM sp),
            svs AS (
              SELECT i, w, h, fno,
                     (23 * i + 19 * fno + 11) % 256 AS v,
                     3 * CAST(w AS BIGINT) * h AS n_px
              FROM sf WHERE fno % 2 = 0)
            SELECT 'mjp' || lpad(CAST(i AS VARCHAR), 8, '0') AS video_id,
                   CAST(fno AS BIGINT) AS frame_no,
                   CAST(w AS BIGINT) AS w,
                   CAST(h AS BIGINT) AS h,
                   n_px,
                   CAST(v * n_px AS BIGINT) AS vsum,
                   CAST(v AS BIGINT) AS vmin,
                   CAST(v AS BIGINT) AS vmax,
                   CAST(v * (n_px * (n_px + 1) // 2) AS BIGINT) AS checksum
            FROM s
            UNION ALL
            SELECT 'avj' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   n_px,
                   CAST(v * n_px AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v * (n_px * (n_px + 1) // 2) AS BIGINT)
            FROM avs
            UNION ALL
            SELECT 'mj4' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   n_px,
                   CAST(v * n_px AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v * (n_px * (n_px + 1) // 2) AS BIGINT)
            FROM svs
            UNION ALL
            -- webm VP8 leg: solid v = (29i + 17f + 3) % 256 keyframes
            -- decoded by the from-spec VP8 codec (bit-exact at qi=0,
            -- test_vp8 pins all 256 values); luma-plane stats
            SELECT 'wv8' || lpad(CAST(i AS VARCHAR), 8, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   n_px,
                   CAST(v * n_px AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v AS BIGINT),
                   CAST(v * (n_px * (n_px + 1) // 2) AS BIGINT)
            FROM (
              SELECT i, w, h, fno,
                     (29 * i + 17 * fno + 3) % 256 AS v,
                     CAST(w AS BIGINT) * h AS n_px
              FROM (
                SELECT i, w, h, UNNEST(generate_series(0, n_frames - 1)) AS fno
                FROM (
                  SELECT i,
                         32 + (i % 3) * 16 AS w,
                         16 + (i % 2) * 16 AS h,
                         3 + (i % 4) AS n_frames
                  FROM (SELECT UNNEST(generate_series(0, 17)) AS i) c
                ) wp
              ) wf WHERE fno % 2 = 0
            ) wvs
            UNION ALL
            -- gif leg: composed canvas of solid frame index
            -- v = (i+2f)%8 through palette (11i+17v+3, 7i+23v+5,
            -- 13i+29v+11)%256; flat RGB layout => checksum in closed
            -- form over S = w*h interleaved [r,g,b] triples
            SELECT 'gif' || lpad(CAST(gi AS VARCHAR), 6, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   3 * s AS n_px,
                   CAST((r + g + b) * s AS BIGINT),
                   CAST(LEAST(r, g, b) AS BIGINT),
                   CAST(GREATEST(r, g, b) AS BIGINT),
                   CAST(r * (base + s) + g * (base + 2 * s)
                        + b * (base + 3 * s) AS BIGINT)
            FROM (
              SELECT gi, fno, w, h, s,
                     3 * (s * (s - 1) // 2) AS base,
                     (11 * gi + 17 * v + 3) % 256 AS r,
                     (7 * gi + 23 * v + 5) % 256 AS g,
                     (13 * gi + 29 * v + 11) % 256 AS b
              FROM (
                SELECT gi, fno, w, h, CAST(w AS BIGINT) * h AS s,
                       (gi + 2 * fno) % 8 AS v
                FROM (
                  SELECT gi, w, h,
                         UNNEST(generate_series(0, nf - 1)) AS fno
                  FROM (
                    SELECT i AS gi,
                           16 + (i % 3) * 8 AS w,
                           12 + (i % 2) * 8 AS h,
                           2 + i % 3 AS nf
                    FROM (SELECT UNNEST(generate_series(0, 17)) AS i) c
                  ) gp
                ) gf WHERE fno % 2 = 0
              ) gv
            ) gs
            UNION ALL
            -- animated-WebP leg: composed RGBA canvas of full-frame
            -- solid channels (fixtures.webpanim_channel); VP8L payload
            -- round-trip is exact, so flat-RGBA stats are closed-form
            -- over S = w*h interleaved [r,g,b,a] quadruples
            SELECT 'wan' || lpad(CAST(wi AS VARCHAR), 6, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   4 * s AS n_px,
                   CAST((r + g + b + a) * s AS BIGINT),
                   CAST(LEAST(r, g, b, a) AS BIGINT),
                   CAST(GREATEST(r, g, b, a) AS BIGINT),
                   CAST(r * (base + s) + g * (base + 2 * s)
                        + b * (base + 3 * s) + a * (base + 4 * s)
                        AS BIGINT)
            FROM (
              SELECT wi, fno, w, h, s,
                     4 * (s * (s - 1) // 2) AS base,
                     (19 * wi + 31 * fno + 13) % 256 AS r,
                     (23 * wi + 37 * fno + 5) % 256 AS g,
                     (29 * wi + 41 * fno + 3) % 256 AS b,
                     (17 * wi + 43 * fno + 11) % 256 AS a
              FROM (
                SELECT wi, fno, w, h, CAST(w AS BIGINT) * h AS s
                FROM (
                  SELECT wi, w, h,
                         UNNEST(generate_series(0, nf - 1)) AS fno
                  FROM (
                    SELECT i AS wi,
                           12 + (i % 3) * 6 AS w,
                           10 + (i % 2) * 6 AS h,
                           2 + i % 3 AS nf
                    FROM (SELECT UNNEST(generate_series(0, 15)) AS i) c
                  ) wp
                ) wf WHERE fno % 2 = 0
              ) wv
            ) ws
            UNION ALL
            -- APNG leg: solid full-canvas RGBA frames, lossless PNG
            -- round-trip => flat-RGBA stats closed-form (same shape
            -- as the wan leg, apng_params/apng_channel constants)
            SELECT 'apg' || lpad(CAST(pi AS VARCHAR), 6, '0'),
                   CAST(fno AS BIGINT),
                   CAST(w AS BIGINT),
                   CAST(h AS BIGINT),
                   4 * s AS n_px,
                   CAST((r + g + b + a) * s AS BIGINT),
                   CAST(LEAST(r, g, b, a) AS BIGINT),
                   CAST(GREATEST(r, g, b, a) AS BIGINT),
                   CAST(r * (base + s) + g * (base + 2 * s)
                        + b * (base + 3 * s) + a * (base + 4 * s)
                        AS BIGINT)
            FROM (
              SELECT pi, fno, w, h, s,
                     4 * (s * (s - 1) // 2) AS base,
                     (29 * pi + 43 * fno + 17) % 256 AS r,
                     (31 * pi + 47 * fno + 23) % 256 AS g,
                     (37 * pi + 53 * fno + 3) % 256 AS b,
                     (41 * pi + 59 * fno + 7) % 256 AS a
              FROM (
                SELECT pi, fno, w, h, CAST(w AS BIGINT) * h AS s
                FROM (
                  SELECT pi, w, h,
                         UNNEST(generate_series(0, nf - 1)) AS fno
                  FROM (
                    SELECT i AS pi,
                           10 + (i % 3) * 7 AS w,
                           8 + (i % 2) * 5 AS h,
                           2 + i % 3 AS nf
                    FROM (SELECT UNNEST(generate_series(0, 15)) AS i) c
                  ) pp
                ) pf WHERE fno % 2 = 0
              ) pv
            ) ps
        """,
        "audio_features": """
            WITH p AS (
              SELECT i, 8000 * (1 + i % 3) AS sample_rate,
                     1 + (i % 2) AS channels,
                     (512 + (i * 193) % 1024) * (1 + (i % 2)) AS n
              FROM (SELECT UNNEST(generate_series(0, 63)) AS i) c),
            v AS (
              SELECT i, sample_rate, channels, n,
                     ((i * 7919 + k * 2654435761) % 65536) - 32768 AS smp
              FROM (SELECT i, sample_rate, channels, n,
                           UNNEST(generate_series(0, n - 1)) AS k
                    FROM p) s)
            SELECT 'aud' || lpad(CAST(i AS VARCHAR), 8, '0') AS audio_id,
                   CAST(sample_rate AS BIGINT) AS sample_rate,
                   CAST(channels AS BIGINT) AS channels,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST((n * 1000) // (sample_rate * channels) AS BIGINT) AS duration_ms,
                   CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
                   CAST(SUM(smp * smp) AS BIGINT) AS sum_sq
            FROM v GROUP BY 1, 2, 3, 4, 5
        """,
        # all four tile-ID legs share ONE exact-cover twin by design
        "render_tile_ids": _variant_union_sql(
            ("u8", _render_tile_ids_oracle_sql()),
            ("u32", _render_tile_ids_oracle_sql()),
            ("colormap", _render_tile_ids_oracle_sql()),
            ("pyramid", _render_tile_ids_oracle_sql()),
            ("tif", _render_tile_ids_oracle_sql(_tif_block_footprints())),
            # BigTIFF layout twin: same pixels + 512-block grid as cog
            ("btf", _render_tile_ids_oracle_sql(_tif_block_footprints())),
            # the COG twin's 512-tile grid == the strip leg's block
            # grid by construction (geotiff_cog_fixture docstring)
            ("cog", _render_tile_ids_oracle_sql(_tif_block_footprints()))),
        "render_pixel_stats": _variant_union_sql(
            ("u8", _render_pixel_stats_oracle_sql()),
            ("u32", _render_pixel_stats_oracle_sql("u32")),
            ("pyramid", _render_pyramid_pixel_stats_oracle_sql()),
            # cog = the SAME pyramid pushed through the distributed
            # COG sink and ranged-read back (operators/cog_sink.py):
            # a lossless transcode, so the twin is the pyramid twin
            ("cog", _render_pyramid_pixel_stats_oracle_sql()),
            ("heat", _heatmap_pixel_stats_oracle_sql()),
            # transcode is lossless: same kernel twin, zooms 8-9
            ("webp", _pixel_canvas_ctes(8, 9, "u8")
             + _PIXEL_STATS_SELECT.format(ts=_PIXEL_STATS_TS,
                                          src="canvas")),
            ("warp", _warp_pixel_stats_oracle_sql()),
            ("wtif", _warp_tif_pixel_stats_oracle_sql())),
        "image_stats": _variant_union_sql(
            ("features", _image_features_oracle_sql()),
            ("resize", _image_resize_oracle_sql()),
            ("vp8", _image_features_vp8_oracle_sql()),
            ("adam7", _image_features_oracle_sql(24, "adm")),
            ("mode", _image_resize_mode_oracle_sql()),
            ("u16", _image_features_u16_oracle_sql()),
            ("bil", _image_resize_bilinear_oracle_sql()),
            ("avg", _image_resize_average_oracle_sql()),
            ("ahash", _image_ahash_oracle_sql())),
        "minhash_lsh": _minhash_lsh_oracle_sql(),
        "simhash_pairs": _simhash_oracle_sql(),
        "doc_fingerprint": _variant_union_sql(
            ("win", _doc_fingerprint_oracle_sql()),
            ("chunks", _doc_chunks_oracle_sql())),
        "stream_render_tile_ids": _render_tile_ids_oracle_sql(),
        # strict-left-fold cosine: same IEEE op sequence as the Spark
        # F.aggregate folds, so ordering (score DESC, vec_id) is exact
        "embedding_cosine": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                       FROM embeddings),
            n AS (SELECT vec_id, ve,
                         list_reduce(list_prepend(0.0, list_transform(ve, x -> x * x)),
                                     (a, b) -> a + b) AS nrm
                  FROM e),
            q AS (SELECT vec_id AS qid, ve AS qe, nrm AS qn FROM n WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.qid, v.vec_id,
                     list_reduce(list_prepend(0.0,
                         list_transform(list_zip(v.ve, q.qe), z -> z[1] * z[2])),
                         (a, b) -> a + b) / sqrt(v.nrm * q.qn) AS score
              FROM n v, q)
            SELECT qid, vec_id, rank FROM (
              SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 10
        """,
        # the decode twin: actual dims must equal the fixture formula
        # (fixtures.encode_image W/H cycles) — verifies the engine's PNG
        # header decode byte-for-byte against the generation rule
        "image_meta": """
            WITH idx AS (SELECT i, 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                                'png;u8' AS fmt
                         FROM (SELECT UNNEST(generate_series(0, 63)) AS i) t(i)
                         UNION ALL
                         SELECT i, 'jpg' || lpad(CAST(i AS VARCHAR), 8, '0'),
                                'jpeg'
                         FROM (SELECT UNNEST(generate_series(0, 15)) AS i) t2(i))
            SELECT image_id, fmt,
                   CAST(CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 128 WHEN 2 THEN 256 ELSE 512 END AS INT) AS decl_w,
                   CAST(CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 128 WHEN 2 THEN 192 ELSE 512 END AS INT) AS decl_h,
                   CAST(CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 128 WHEN 2 THEN 256 ELSE 512 END AS INT) AS actual_w,
                   CAST(CASE i % 4 WHEN 0 THEN 64 WHEN 1 THEN 128 WHEN 2 THEN 192 ELSE 512 END AS INT) AS actual_h,
                   TRUE AS dims_match
            FROM idx
            UNION ALL
            SELECT 'pjp' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                   'jpeg' AS fmt,
                   CAST(24 + (i % 4) * 8 AS INT) AS decl_w,
                   CAST(16 + (i % 4) * 8 AS INT) AS decl_h,
                   CAST(24 + (i % 4) * 8 AS INT) AS actual_w,
                   CAST(16 + (i % 4) * 8 AS INT) AS actual_h,
                   TRUE AS dims_match
            FROM (SELECT UNNEST(generate_series(0, 15)) AS i) t4(i)
            UNION ALL
            SELECT 'wbp' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                   'webp' AS fmt,
                   CAST(16 + (i % 4) * 16 AS INT) AS decl_w,
                   CAST(12 + (i % 4) * 8 AS INT) AS decl_h,
                   CAST(16 + (i % 4) * 16 AS INT) AS actual_w,
                   CAST(12 + (i % 4) * 8 AS INT) AS actual_h,
                   TRUE AS dims_match
            FROM (SELECT UNNEST(generate_series(0, 15)) AS i) t3(i)
            UNION ALL
            SELECT 'wbl' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
                   'webp' AS fmt,
                   CAST(20 + (i % 4) * 12 AS INT) AS decl_w,
                   CAST(10 + (i % 4) * 6 AS INT) AS decl_h,
                   CAST(20 + (i % 4) * 12 AS INT) AS actual_w,
                   CAST(10 + (i % 4) * 6 AS INT) AS actual_h,
                   TRUE AS dims_match
            FROM (SELECT UNNEST(generate_series(0, 15)) AS i) t5(i)
        """,
        "phash_near": _variant_union_sql(("derived", f"""
            WITH base AS (
              SELECT o_orderkey AS iid,
                     ((o_orderkey * {_PH_MUL1}) % {_PH_MOD32}) * {_PH_MOD16}
                       + (o_orderkey * {_PH_MUL2}) % {_PH_MOD16} AS phash
              FROM orders WHERE o_orderkey % 77 = 0),
            img AS (
              SELECT iid, phash FROM base
              UNION ALL
              SELECT iid + {_PH_VARIANT_OFFSET}, xor(phash, {_PH_MASK})
              FROM base WHERE iid % 3 = 0),
            bands AS (
              SELECT iid, phash, b.band, (phash >> (16 * b.band)) & 65535 AS val
              FROM img, (VALUES (0), (1), (2)) b(band)),
            pairs AS (
              SELECT DISTINCT a.iid AS id_a, b.iid AS id_b,
                              a.phash AS ph_a, b.phash AS ph_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.val = b.val AND a.iid < b.iid)
            SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
            FROM pairs WHERE bit_count(xor(ph_a, ph_b)) <= 8
        """), ("ahash", _ahash_pairs_oracle_sql())),
        "tile_cover": f"""
            WITH boxes AS ({part_boxes_300}),
            rng AS (
              SELECT p_partkey,
                GREATEST(0, LEAST(63, CAST(FLOOR(((minx - (-{_O})) / {_CE}) * 64.0) AS BIGINT))) AS txmin,
                GREATEST(0, LEAST(63, CAST(FLOOR((1.0 - ((maxy - (-{_O})) / {_CE})) * 64.0) AS BIGINT))) AS tymin,
                GREATEST(0, LEAST(63, CAST(FLOOR((((maxx - (-{_O})) / {_CE}) - 1e-11) * 64.0) AS BIGINT))) AS txmax,
                GREATEST(0, LEAST(63, CAST(FLOOR((1.0 - (((miny - (-{_O})) / {_CE}) + 1e-11)) * 64.0) AS BIGINT))) AS tymax
              FROM boxes)
            SELECT p_partkey, xs.x AS x, ys.y AS y
            FROM (SELECT p_partkey, tymin, tymax,
                         UNNEST(generate_series(txmin, txmax)) AS x FROM rng) xs(p_partkey, tymin, tymax, x),
                 LATERAL (SELECT UNNEST(generate_series(xs.tymin, xs.tymax))) ys(y)
        """,
        "mercator_bounds": f"""
            WITH t AS ({_NATION_TILES_SQL})
            SELECT n_nationkey,
              {_sql_rnd(f"x * ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE)) - {_O}", "1e6")} AS xmin,
              {_sql_rnd(f"({_O} - y * ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE))) - ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE))", "1e6")} AS ymin,
              {_sql_rnd(f"(x * ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE)) - {_O}) + ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE))", "1e6")} AS xmax,
              {_sql_rnd(f"{_O} - y * ({_CE} / CAST(1::BIGINT << zoom AS DOUBLE))", "1e6")} AS ymax
            FROM t
        """,
        "geo_bounds": f"""
            WITH t AS ({_NATION_TILES_SQL})
            SELECT n_nationkey,
              {_sql_rnd("x / CAST(1::BIGINT << zoom AS DOUBLE) * 360.0 - 180.0", "1e6")} AS xmin,
              {_sql_rnd(f"atan((exp(pi() * (1.0 - 2.0 * ((y + 1.0) / CAST(1::BIGINT << zoom AS DOUBLE)))) - exp(-(pi() * (1.0 - 2.0 * ((y + 1.0) / CAST(1::BIGINT << zoom AS DOUBLE)))))) / 2.0) * {180.0 / math.pi!r}", "1e6")} AS ymin,
              {_sql_rnd("(x + 1.0) / CAST(1::BIGINT << zoom AS DOUBLE) * 360.0 - 180.0", "1e6")} AS xmax,
              {_sql_rnd(f"atan((exp(pi() * (1.0 - 2.0 * (CAST(y AS DOUBLE) / CAST(1::BIGINT << zoom AS DOUBLE)))) - exp(-(pi() * (1.0 - 2.0 * (CAST(y AS DOUBLE) / CAST(1::BIGINT << zoom AS DOUBLE)))))) / 2.0) * {180.0 / math.pi!r}", "1e6")} AS ymax
            FROM t
        """,
        "geo_to_mercator": f"""
            WITH pts AS (
              SELECT c_custkey,
                GREATEST(-180.0, LEAST(180.0, (c_custkey % 3600) / 10.0 - 180.0 + 0.05)) AS lon,
                GREATEST(-85.051129, LEAST(85.051129, (c_custkey % 1700) / 10.0 - 85.0 + 0.05)) AS lat
              FROM customer WHERE c_custkey <= 600)
            SELECT c_custkey,
              {_sql_rnd(f"lon * {ORIGIN / 180.0!r}", "1e3")} AS mx,
              {_sql_rnd(f"6378137.0 * ln(tan({math.pi * 0.25!r} + {0.5 * math.pi / 180.0!r} * lat))", "1e3")} AS my
            FROM pts
        """,
        # two tile-id schemes; the hilbert leg is a recursive-CTE
        # transcription of the xy2d loop (complement against the FULL
        # grid n-1-coord — a clean bit-flip; s-1-coord would borrow
        # into already-consumed high bits)
        "tms_flip": """
            WITH RECURSIVE src AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 15 AS INT) AS zoom,
                     o_custkey % (1::BIGINT << (o_orderkey % 15)) AS x,
                     o_orderkey % (1::BIGINT << (o_orderkey % 15)) AS y
              FROM orders WHERE o_orderkey <= 2000),
            hil AS (
              SELECT o_orderkey, zoom, x, y, x AS hx, y AS hy,
                     0::BIGINT AS d,
                     CASE WHEN zoom = 0 THEN 0::BIGINT
                          ELSE 1::BIGINT << (zoom - 1) END AS s
              FROM src
              UNION ALL
              SELECT o_orderkey, zoom, x, y,
                     CASE WHEN (hy & s) = 0 THEN
                            CASE WHEN (hx & s) <> 0
                                 THEN (1::BIGINT << zoom) - 1 - hy
                                 ELSE hy END
                          ELSE hx END,
                     CASE WHEN (hy & s) = 0 THEN
                            CASE WHEN (hx & s) <> 0
                                 THEN (1::BIGINT << zoom) - 1 - hx
                                 ELSE hx END
                          ELSE hy END,
                     d + s * s * xor(CASE WHEN (hx & s) <> 0 THEN 3 ELSE 0 END,
                                     CASE WHEN (hy & s) <> 0 THEN 1 ELSE 0 END)::BIGINT,
                     s >> 1
              FROM hil WHERE s > 0)
            SELECT 'flip' AS variant, o_orderkey, zoom, 0::BIGINT AS x, y,
                   (1::BIGINT << zoom) - 1 - y AS v
            FROM src
            UNION ALL
            SELECT 'hilbert' AS variant, o_orderkey, zoom, x, y,
                   ((1::BIGINT << (2 * zoom)) - 1) // 3 + d AS v
            FROM hil WHERE s = 0
            UNION ALL
            SELECT 'quad' AS variant, o_orderkey, zoom, x, y,
                   -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which would
                   -- positionally promote the whole unioned v column (r5
                   -- driver hash-red); values are < 2^30 so BIGINT is exact
                   (1::BIGINT << (2 * zoom)) + CAST(COALESCE(
                     (SELECT SUM((((src.x >> g.i) & 1)
                                  + 2 * ((src.y >> g.i) & 1))
                                 * (1::BIGINT << (2 * g.i)))
                      FROM (SELECT UNNEST(generate_series(0, src.zoom - 1))
                            AS i) g), 0) AS BIGINT) AS v
            FROM src
        """,
        "cell_pack": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_linenumber % 15 AS INT) AS zoom,
                   l_orderkey % (1::BIGINT << (l_linenumber % 15)) AS x,
                   l_partkey % (1::BIGINT << (l_linenumber % 15)) AS y,
                   (CAST(l_linenumber % 15 AS BIGINT) << 58)
                     | ((l_orderkey % (1::BIGINT << (l_linenumber % 15))) << 29)
                     | (l_partkey % (1::BIGINT << (l_linenumber % 15))) AS cell_id,
                   (l_orderkey % (1::BIGINT << (l_linenumber % 15))) >> 2 AS parent_x,
                   (l_partkey % (1::BIGINT << (l_linenumber % 15))) >> 2 AS parent_y
            FROM lineitem WHERE l_orderkey % 100 = 0
        """,
        "bbox_join": f"""
            WITH a AS ({part_boxes_500}), b AS ({_SUPPLIER_BOXES_SQL})
            SELECT a.p_partkey, b.s_suppkey
            FROM a, b
            WHERE a.minx < b.maxx AND a.maxx > b.minx
              AND a.miny < b.maxy AND a.maxy > b.miny
        """,
        "point_tiles": f"""
            WITH pts AS (
              SELECT c_custkey,
                GREATEST(-180.0, LEAST(180.0, (c_custkey % 3600) / 10.0 - 180.0 + 0.05)) AS lon,
                GREATEST(-85.051129, LEAST(85.051129, (c_custkey % 1700) / 10.0 - 85.0 + 0.05)) AS lat
              FROM customer WHERE c_custkey <= 800),
            merc AS (
              SELECT c_custkey,
                {_sql_rnd(f"lon * {ORIGIN / 180.0!r}", "1e6")} AS mx,
                {_sql_rnd(f"6378137.0 * ln(tan({math.pi * 0.25!r} + {0.5 * math.pi / 180.0!r} * lat))", "1e6")} AS my
              FROM pts),
            t AS (
              SELECT c_custkey, 10 AS zoom,
                GREATEST(0, LEAST(1023, CAST(FLOOR((mx + {_O}) / {_CE} * 1024.0) AS BIGINT))) AS x,
                GREATEST(0, LEAST(1023, CAST(FLOOR(({_O} - my) / {_CE} * 1024.0) AS BIGINT))) AS y
              FROM merc)
            SELECT c_custkey, zoom, x, y,
                   (1::BIGINT << 10) - 1 - y AS tile_row,
                   (10::BIGINT << 58) | (x << 29) | y AS cell_id
            FROM t
        """,
        "merge_anti": """
            WITH l AS (SELECT o_orderkey AS tid, o_orderkey % 15 AS zoom, 'L' AS src
                       FROM orders WHERE o_orderkey % 2 = 0),
                 r AS (SELECT o_orderkey AS tid, o_orderkey % 15 AS zoom, 'R' AS src
                       FROM orders WHERE o_orderkey % 3 = 0)
            SELECT * FROM l
            UNION ALL
            SELECT * FROM r WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.tid = r.tid)
        """,
        "histogram": _variant_union_sql(
            ("quantity", """
            SELECT CAST(l_quantity AS INT) AS value, COUNT(*) AS n
            FROM lineitem GROUP BY 1
            """),
            # HLL register twin: same Lehmer hash, register = top 6 of
            # 31 bits, rho = 26 - floor(log2(suffix)) via length(bin())
            # — exact string op, no float log on either engine
            ("hll", f"""
            WITH h AS (SELECT (c_custkey * 48271 + 11) % 2147483647 AS h
                       FROM customer),
            r AS (SELECT CAST(h // {1 << 25} AS INT) AS value,
                         CASE WHEN (h % {1 << 25}) = 0 THEN 26
                              ELSE 26 - LENGTH(bin(h % {1 << 25})) END AS rho
                  FROM h)
            SELECT value, CAST(MAX(rho) AS BIGINT) AS n FROM r GROUP BY 1
            """)),
        "envelope": f"""
            WITH b AS ({part_boxes_2000})
            SELECT {_sql_rnd("MIN(minx)", "1e6")} AS xmin, {_sql_rnd("MIN(miny)", "1e6")} AS ymin,
                   {_sql_rnd("MAX(maxx)", "1e6")} AS xmax, {_sql_rnd("MAX(maxy)", "1e6")} AS ymax
            FROM b
        """,
        "zoom_minmax": """
            WITH l AS (SELECT o_orderkey AS tid, o_orderkey % 15 AS zoom
                       FROM orders WHERE o_orderkey % 2 = 0),
                 r AS (SELECT o_orderkey AS tid, o_orderkey % 15 AS zoom
                       FROM orders WHERE o_orderkey % 3 = 0),
                 m AS (SELECT * FROM l UNION ALL
                       SELECT * FROM r WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.tid = r.tid))
            SELECT MIN(zoom) AS minzoom, MAX(zoom) AS maxzoom FROM m
        """,
        "dedup_exact": _variant_union_sql(
            ("groups", """
            SELECT md5(text) AS content_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
            """),
            ("sample", f"""
            SELECT md5(text) AS content_md5,
                   ROW_NUMBER() OVER (ORDER BY h, doc_id) AS n_docs,
                   doc_id AS keep_doc_id
            FROM (SELECT doc_id, text,
                         (doc_id * 48271 + 11) % 2147483647 AS h
                  FROM documents ORDER BY h, doc_id LIMIT {_SAMPLE_K})
            """),
            ("strat", f"""
            WITH {_LANG_CTES},
            hh AS (SELECT lang_guess, doc_id,
                          (doc_id * 48271 + 11) % 2147483647 AS h
                   FROM lang),
            rk AS (SELECT lang_guess, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY lang_guess
                                             ORDER BY h, doc_id) AS rnk
                   FROM hh)
            SELECT lang_guess AS content_md5,
                   CAST(rnk AS BIGINT) AS n_docs,
                   doc_id AS keep_doc_id
            FROM rk WHERE rnk <= {_STRAT_K}
            """)),
        "window_agg": _variant_union_sql(
            ("tumbling", """
            SELECT CAST(FLOOR(FLOOR(epoch(ts)) / 60) AS BIGINT) AS minute_bucket,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v100
            FROM events GROUP BY 1, 2
            """),
            # exact-frequent-items twin of the Misra-Gries leg: the
            # operator's output is provably EXACT, so the twin is the
            # plain GROUP BY + HAVING it must equal
            ("heavy", f"""
            WITH tok AS (SELECT UNNEST(string_split(LOWER(text), ' ')) AS w
                         FROM documents),
            t AS (SELECT COUNT(*) AS total FROM tok)
            SELECT (SELECT total FROM t) AS minute_bucket,
                   w AS event_type,
                   COUNT(*) AS n,
                   CAST(COUNT(*) * {_HEAVY_K + 1}
                        - (SELECT total FROM t) AS BIGINT) AS v100
            FROM tok GROUP BY w
            HAVING COUNT(*) * {_HEAVY_K + 1} > (SELECT total FROM t)
            """)),
        "knn": """
            WITH pts AS (SELECT c_custkey AS pid,
                                CAST((c_custkey * 13) % 100 AS DOUBLE) + 0.7 AS px,
                                CAST((c_custkey * 29) % 100 AS DOUBLE) + 0.1 AS py FROM customer),
                 qs AS (SELECT n_nationkey AS qid,
                               CAST((n_nationkey * 37) % 100 AS DOUBLE) + 0.5 AS qx,
                               CAST((n_nationkey * 53) % 100 AS DOUBLE) + 0.5 AS qy FROM nation),
                 scored AS (
                   SELECT qid, pid,
                          (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
                   FROM qs, pts)
            SELECT qid, pid, rank FROM (
              SELECT qid, pid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, pid) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "pip": _variant_union_sql(
            ("pip", """
            SELECT c.c_custkey AS pid, r.r_regionkey AS poly_id
            FROM customer c, region r
            WHERE CAST((c.c_custkey * 13) % 100 AS DOUBLE) + 0.7 > 10.0 * r.r_regionkey + 2.5
              AND CAST((c.c_custkey * 13) % 100 AS DOUBLE) + 0.7 < 10.0 * r.r_regionkey + 18.0
              AND CAST((c.c_custkey * 29) % 100 AS DOUBLE) + 0.1 > 7.0 * r.r_regionkey + 1.5
              AND CAST((c.c_custkey * 29) % 100 AS DOUBLE) + 0.1 < 7.0 * r.r_regionkey + 21.75
            """),
            # DBSCAN twin: all-pairs eps predicate, core counts,
            # recursive-CTE min-label closure over core-core edges,
            # min-rule border attach — an independent executor of the
            # deterministic DBSCAN (eps 15, min_pts 5, integer coords)
            ("dbscan", """
            WITH pts AS (
              SELECT c_custkey AS pid,
                     CASE WHEN c_custkey % 10 < 8
                          THEN 150 + 200 * (c_custkey % 4) + (c_custkey * 7) % 40
                          ELSE (c_custkey * 97) % 900 END AS x,
                     CASE WHEN c_custkey % 10 < 8
                          THEN 300 + 37 * (c_custkey % 4) + (c_custkey * 11) % 40
                          ELSE (c_custkey * 89) % 900 END AS y
              FROM customer),
            pairs AS (
              SELECT a.pid AS pid, b.pid AS bpid
              FROM pts a JOIN pts b ON a.pid <> b.pid
               AND (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y) <= 225),
            cnt AS (SELECT pid, COUNT(*) + 1 AS n FROM pairs GROUP BY 1),
            core AS (SELECT p.pid FROM pts p LEFT JOIN cnt ON cnt.pid = p.pid
                     WHERE COALESCE(cnt.n, 1) >= 5),
            ce AS (SELECT pr.pid AS src, pr.bpid AS dst FROM pairs pr
                   JOIN core ca ON ca.pid = pr.pid
                   JOIN core cb ON cb.pid = pr.bpid),
            reach AS (
              WITH RECURSIVE rr(v, l) AS (
                SELECT pid, pid FROM core
                UNION
                SELECT e.dst, rr.l FROM rr JOIN ce e ON e.src = rr.v
              ) SELECT v, MIN(l) AS l FROM rr GROUP BY v),
            border AS (SELECT pr.pid, MIN(cl.l) AS bc FROM pairs pr
                       JOIN reach cl ON cl.v = pr.bpid GROUP BY 1)
            SELECT p.pid,
                   CAST(CASE WHEN cl.l IS NOT NULL THEN cl.l * 2 + 1
                             WHEN b.bc IS NOT NULL THEN b.bc * 2
                             ELSE -2 END AS BIGINT) AS poly_id
            FROM pts p
            LEFT JOIN reach cl ON cl.v = p.pid
            LEFT JOIN border b ON b.pid = p.pid
            """)),
        # token counts + quality features + language-ID scores joined
        # into the per-doc profile row of q_doc_stats
        "doc_stats": rf"""
            WITH tok AS (
              SELECT doc_id,
                     LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens,
                     LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens
              FROM documents),
            qual AS (
              SELECT doc_id,
                     LENGTH(text) AS n_chars_m,
                     LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                     LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                     LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_space,
                     CAST(FLOOR((LENGTH(text) - (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))) * 100
                          / LEN(regexp_split_to_array(TRIM(text), '\s+'))) AS BIGINT) AS mean_wordlen_x100
              FROM documents),
            {_LANG_CTES},
            -- Gopher repetition signals (exact integer counts)
            arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
            wcc AS (SELECT doc_id, w, COUNT(*) AS c
                    FROM (SELECT doc_id, UNNEST(a) AS w FROM arr) GROUP BY 1, 2),
            wd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                          COUNT(*) AS n_distinct_words,
                          CAST(MAX(c) AS BIGINT) AS top_word_n
                   FROM wcc GROUP BY 1),
            bcc AS (SELECT doc_id, b, COUNT(*) AS c FROM (
                      SELECT doc_id, a[i] || ' ' || a[i + 1] AS b
                      FROM arr, LATERAL (SELECT UNNEST(generate_series(1, LEN(a) - 1)) AS i) s)
                    GROUP BY 1, 2),
            bd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                          CAST(MAX(c) AS BIGINT) AS top_bigram_n
                   FROM bcc GROUP BY 1)
            SELECT tok.doc_id, tok.n_tokens, tok.n_bpe_tokens,
                   qual.n_chars_m, qual.n_punct, qual.n_digit, qual.n_space,
                   qual.mean_wordlen_x100,
                   lang.score_en, lang.score_fr, lang.score_de, lang.lang_guess,
                   wd.n_words, wd.n_distinct_words, wd.top_word_n,
                   COALESCE(bd.n_bigrams, 0) AS n_bigrams,
                   COALESCE(bd.top_bigram_n, 0) AS top_bigram_n
            FROM tok
            JOIN qual ON qual.doc_id = tok.doc_id
            JOIN lang ON lang.doc_id = tok.doc_id
            JOIN wd ON wd.doc_id = tok.doc_id
            LEFT JOIN bd ON bd.doc_id = tok.doc_id
        """,
        "raster_gradient": _raster_gradient_oracle_sql(),
        "tile_halo": _variant_union_sql(
            ("grad", _halo_gradient_oracle_sql()),
            ("sobel", _halo_sobel_oracle_sql()),
            ("terrain", _halo_terrain_oracle_sql()),
            ("shade", _halo_hillshade_oracle_sql()),
            ("slope", _halo_slope_oracle_sql()),
            ("tri", _halo_window9_oracle_sql(_TRI_EXPR)),
            ("tpi", _halo_window9_oracle_sql(_TPI_EXPR)),
            ("zoomin", _overzoom_oracle_sql()),
            ("eq", _equalize_oracle_sql()),
            ("relief", _relief_oracle_sql()),
            ("srelief", _shaded_relief_oracle_sql()),
            ("morph", _halo_window9_oracle_sql(_MORPH_EXPR)),
            ("median", _halo_window9_oracle_sql(_MEDIAN_EXPR)),
            ("fmean", _halo_window9_oracle_sql(_FMEAN_EXPR)),
            ("flow", _halo_flowdir_oracle_sql()),
            ("basin", _watershed_oracle_sql()),
            ("accum", _flow_accum_oracle_sql()),
            ("algebra", _raster_algebra_oracle_sql()),
            ("iso", _isolines_oracle_sql()),
            ("stack", _raster_stack_oracle_sql()),
            ("burn", _rasterize_oracle_sql())),
        "raster_regions": _raster_regions_oracle_sql(),
        "zonal_stats": _variant_union_sql(
            ("u8", _zonal_stats_oracle_sql()),
            ("u32", _zonal_stats_oracle_sql(u32=True)),
            ("poly", _zonal_poly_oracle_sql()),
            ("quant", _zonal_quantiles_oracle_sql())),
        "vector_tiles_clip": _variant_union_sql(
            ("clip", _vector_tiles_clip_oracle_sql()),
            ("shoe", _geometry_metrics_oracle_sql()),
            ("hull", _geometry_hull_oracle_sql())),
        "vector_tiles_lines": _variant_union_sql(
            ("lb", _vector_tiles_lines_oracle_sql()),
            ("dp", _polyline_simplify_oracle_sql())),
        "vector_tiles": (
            "SELECT 'points' AS variant, zoom, x, tile_row, n_features, "
            "sum_lx AS sum_cx, sum_ly AS sum_cy, min_fid, max_fid FROM ("
            + _VECTOR_TILES_POINTS_SQL + ")\nUNION ALL\n"
            "SELECT 'poly' AS variant, zoom, x, tile_row, n_features, "
            "sum_rx AS sum_cx, sum_ry AS sum_cy, min_fid, max_fid FROM ("
            + _vector_tiles_poly_oracle_sql() + ")"),
        "corpus_pipeline": """
            WITH RECURSIVE base AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
            docs AS (SELECT doc_id, text FROM base
                     UNION ALL
                     SELECT doc_id + 1000000, text FROM base
                     WHERE doc_id % 50 = 0),
            q AS (SELECT doc_id, text,
                         LENGTH(text) >= 120 AS pass_quality FROM docs),
            surv1 AS (SELECT doc_id, text FROM q WHERE pass_quality),
            md AS (SELECT doc_id, text,
                          MIN(doc_id) OVER (PARTITION BY MD5(text))
                            AS keep_doc_id
                   FROM surv1),
            surv2 AS (SELECT doc_id, text FROM md WHERE doc_id = keep_doc_id),
            sh0 AS (SELECT DISTINCT doc_id,
                           SUBSTR(text, CAST(pos AS INT), 3) AS shingle
                    FROM (SELECT doc_id, text,
                                 UNNEST(generate_series(1,
                                   GREATEST(LENGTH(text) - 2, 1))) AS pos
                          FROM surv2)),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING 100 * COUNT(*) >
                           80 * (SELECT COUNT(DISTINCT doc_id) FROM surv2)),
            sh AS (SELECT * FROM sh0
                   WHERE shingle NOT IN (SELECT shingle FROM hot)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT i.doc_a, i.doc_b FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE 100 * i.inter >= 50 * (sa.sz + sb.sz - i.inter)),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS lbl FROM surv2
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
            comp AS (SELECT v AS doc_id, MIN(lbl) AS component_id
                     FROM reach GROUP BY v),
            v AS (
              SELECT q.doc_id,
                     CAST(COALESCE(c.component_id, -1) AS BIGINT)
                       AS component_id,
                     CASE WHEN NOT q.pass_quality THEN 'quality'
                          WHEN q.doc_id <> m.keep_doc_id THEN 'exact_dup'
                          WHEN q.doc_id <> c.component_id THEN 'near_dup'
                          ELSE 'kept' END AS verdict
              FROM q
              LEFT JOIN md m ON m.doc_id = q.doc_id
              LEFT JOIN comp c ON c.doc_id = q.doc_id)
            SELECT doc_id, component_id, verdict,
                   (verdict = 'kept') AS kept
            FROM v
        """,
        "doc_keywords": """
            WITH toks AS (
              SELECT doc_id,
                     UNNEST(regexp_extract_all(LOWER(text), '[a-z0-9]+', 0)) AS token
              FROM documents WHERE doc_id % 5 = 0),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            r AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                           ORDER BY tf.tf DESC, dfq.df ASC, tf.token ASC) AS rank
                  FROM tf JOIN dfq USING (token))
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
                   CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
            FROM r WHERE rank <= 3
        """,
        "tile_captions": _tile_captions_oracle_sql(),
        "dedup_components": """
            WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
            sh0 AS (SELECT DISTINCT doc_id, SUBSTR(text, CAST(pos AS INT), 3) AS shingle
                    FROM (SELECT doc_id, text,
                                 UNNEST(generate_series(1, GREATEST(LENGTH(text) - 2, 1))) AS pos
                          FROM docs)),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING 100 * COUNT(*) >
                           80 * (SELECT COUNT(DISTINCT doc_id) FROM docs)),
            sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT i.doc_a, i.doc_b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE 100 * i.inter >= 20 * (sa.sz + sb.sz - i.inter)),
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS lbl FROM docs
              UNION
              SELECT e.dst AS v, r.lbl
              FROM reach r JOIN edges e ON e.src = r.v)
            SELECT CAST(v AS BIGINT) AS doc_id,
                   CAST(MIN(lbl) AS BIGINT) AS component_id,
                   (v = MIN(lbl)) AS is_canonical
            FROM reach GROUP BY v
        """,
        "ngram_jaccard": """
            WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
            sh0 AS (SELECT DISTINCT doc_id, SUBSTR(text, CAST(pos AS INT), 3) AS shingle
                    FROM (SELECT doc_id, text,
                                 UNNEST(generate_series(1, GREATEST(LENGTH(text) - 2, 1))) AS pos
                          FROM docs)),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING 100 * COUNT(*) >
                           80 * (SELECT COUNT(DISTINCT doc_id) FROM docs)),
            sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE 100 * i.inter >= 20 * (sa.sz + sb.sz - i.inter)
        """,
        "embedding_topk_int": _variant_union_sql(
            ("fixed", """
            WITH q AS (SELECT vec_id AS qid, embedding AS qemb
                       FROM embeddings WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.qid, e.vec_id,
                     CAST(list_sum(list_transform(list_zip(e.embedding, q.qemb),
                          z -> CAST(FLOOR(CAST(z[1] AS DOUBLE) * 1024) AS BIGINT)
                             * CAST(FLOOR(CAST(z[2] AS DOUBLE) * 1024) AS BIGINT))) AS BIGINT) AS dot
              FROM embeddings e, q)
            SELECT qid, vec_id, dot, rank FROM (
              SELECT qid, vec_id, dot,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 10
            """),
            ("sq8", """
            WITH vm AS (
              SELECT vec_id,
                     list_max(list_transform(embedding,
                              x -> ABS(CAST(x AS DOUBLE)))) AS m,
                     embedding FROM embeddings),
            vq AS (
              SELECT vec_id, m,
                     list_transform(embedding, x -> CASE WHEN m > 0
                       THEN CAST(FLOOR((CAST(x AS DOUBLE) * 127.0) / m
                                       + 0.5) AS BIGINT)
                       ELSE 0 END) AS codes
              FROM vm),
            q AS (SELECT vec_id AS qid, m AS qm, codes AS qcodes
                  FROM vq WHERE vec_id % 100 = 0),
            scored AS (
              SELECT q.qid, v.vec_id,
                     CAST(list_sum(list_transform(
                          list_zip(v.codes, q.qcodes),
                          z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT)))
                       AS BIGINT) AS dot,
                     (CAST(list_sum(list_transform(
                          list_zip(v.codes, q.qcodes),
                          z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT)))
                       AS DOUBLE) * v.m) * q.qm AS score
              FROM vq v, q)
            SELECT qid, vec_id, dot, rank FROM (
              SELECT qid, vec_id, dot,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 10
            """)),
    }

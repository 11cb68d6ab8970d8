"""Dump formatted physical plans of the key operators to PLANS.md —
the evidence that filters/pruning reach the scans, small sides
broadcast, and the render stages keep their pinned exchanges.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # keep the operator tree + scan details; drop per-node field dumps
    head, _, rest = txt.partition("\n\n")
    keep = [head, ""]
    for block in rest.split("\n\n"):
        if re.match(r"\(\d+\) Scan parquet", block) or "PushedFilters" in block:
            keep.append(block)
            keep.append("")
    return "\n".join(keep)


def main() -> None:
    import __spark_entry__ as e
    from rastertiler_rs_spark.fixtures import images_parquet
    from rastertiler_rs_spark.operators.overview import render_pyramid
    from rastertiler_rs_spark.operators.render import render
    from rastertiler_rs_spark.session import get_spark

    spark = get_spark("plans", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    img = spark.read.parquet(images_parquet(64, "u8"))
    sections.append((
        "render (cell path z8-10): one exchange on the covering cell, "
        "scan pruned to image_id/bytes/fmt",
        plan_text(render(img, 8, 10, 128, "u8"))))
    sections.append((
        "render (blocks path z0-5): kernel map, one exchange on (zoom,x,y)",
        plan_text(render(img, 0, 5, 128, "u8", partition_zoom=None))))
    # one-pass pyramid: the cell stage's own worker emits the z8 tiles'
    # fragments, and tiles + fragments share one (zoom, x, y) exchange;
    # the operator tree with exchange keys (lines cut at 160 chars)
    pyr = render_pyramid(img, 0, 10, 128, "u8", overview_below=8)
    tree = pyr._jdf.queryExecution().executedPlan().toString()
    n_python = tree.count("MapInPandas")
    n_zxy = len(re.findall(r"Exchange hashpartitioning\(zoom#\d+, x#\d+L?, y#", tree))
    sections.append((
        f"render_pyramid (z0-10, overviews below z8): {n_python} Python "
        f"stages, {n_zxy} exchange on (zoom, x, y) shared by tiles and "
        f"fragments, {tree.count('InMemoryRelation')} InMemoryRelation",
        "\n".join(line[:160] for line in tree.splitlines())))

    for name in ["bbox_join", "knn", "pip", "merge_anti", "dedup_exact",
                 "point_tiles", "embedding_ivf", "embedding_lsh",
                 "minhash_lsh", "phash_near", "embedding_neardup",
                 # sessionize = rollup + windowFunnel single-sort DP +
                 # cohort legs; window_agg = tumbling + Misra-Gries
                 # heavy hitters (map-side sketch, broadcast verify);
                 # histogram = quantity + HLL registers (pure JVM)
                 "sessionize", "window_agg", "histogram",
                 "star_rollup", "ngram_jaccard",
                 # exact-baseline crossJoins: the broadcast hint must pin
                 # the QUERY side of the BroadcastNestedLoopJoin
                 "embedding_cosine", "embedding_topk_int",
                 # window top-k + token equi-join; caption provenance agg
                 "doc_keywords", "tile_captions", "zonal_stats", "vector_tiles",
                 # clip sinks: JVM cover/quantize (+ JVM Liang-Barsky for
                 # lines), python only at the per-tile protobuf encode
                 "vector_tiles_clip", "vector_tiles_lines",
                 # distributed region labeling: final plan = fragment
                 # stats groupBy over the label join (the per-tile CCL
                 # map stage and the perimeter border shuffle sit below
                 # the persisted fork; CC rounds ran eagerly)
                 "raster_regions"]:
        sections.append((f"query: {name}", plan_text(e.queries()[name](spark, SF))))

    # temporal joins (gate legs of stream_events, whose other legs run
    # real streams — plan them directly here)
    from pyspark.sql import functions as F

    from rastertiler_rs_spark.operators.asof import asof_join
    from rastertiler_rs_spark.operators.interval_join import interval_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id")
    sections.append((
        "asof_join: union -> ONE exchange on the key -> one Window; "
        "ZERO join nodes (the inequality-join formulation would be a "
        "BroadcastNestedLoopJoin)",
        plan_text(asof_join(clicks, views, on="user_id",
                            right_cols=["ts", "event_id"]))))
    errs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    cpts = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts")
    sections.append((
        "interval_join: JVM sequence-explode to covering cells -> cell "
        "EQUI-join + residual BETWEEN (no nested-loop/cartesian node)",
        plan_text(interval_join(cpts, errs, point_ts="ts",
                                cell_width_us=1_800_000_000))))

    # tiled-raster ops (tileop CLI surface): hillshade = halo strips ->
    # ONE exchange on owning tile -> applyInPandas; overzoom = ZERO
    # exchanges (embarrassingly parallel); equalize = 256-bin agg
    # (bytes-free shuffle) + shuffle-free remap
    from rastertiler_rs_spark.fixtures import tiled_canvas_parquet
    from rastertiler_rs_spark.operators.algebra import equalize_tiles
    from rastertiler_rs_spark.operators.halo import tile_halo_shade_tiles
    from rastertiler_rs_spark.operators.overzoom import overzoom_tiles

    tc = spark.read.parquet(tiled_canvas_parquet(256, 192, 64, 5))
    sections.append((
        "tile_halo_shade_tiles (hillshade): strips explode -> ONE "
        "exchange on the owning tile -> padded-canvas applyInPandas",
        plan_text(tile_halo_shade_tiles(tc, 64))))
    sections.append((
        "overzoom_tiles: NO exchange — one mapInPandas, each parent "
        "independent",
        plan_text(overzoom_tiles(tc, 1, 64))))
    sections.append((
        "equalize_tiles (remap pass; the 256-bin histogram agg ran "
        "eagerly): shuffle-free mapInPandas with the broadcast LUT "
        "closed over",
        plan_text(equalize_tiles(tc, 64))))
    from rastertiler_rs_spark.operators.watershed import pixel_successors

    sections.append((
        "watershed pixel_successors: halo transport -> ONE exchange on "
        "the owning tile -> D8 argmax applyInPandas (the pointer-"
        "doubling rounds above it are one self-join + one count each)",
        plan_text(pixel_successors(tc, 64))))

    # r6 additions — the newest operators' plan-as-contract snapshots
    from rastertiler_rs_spark.fixtures import images_geo_parquet
    from rastertiler_rs_spark.operators.heatmap import heatmap_pyramid
    from rastertiler_rs_spark.operators.quantiles import exact_quantiles
    from rastertiler_rs_spark.operators.rasterize import burn_polygons
    from rastertiler_rs_spark.operators.warp import render_warp

    geo = spark.read.parquet(images_geo_parquet(8))
    sections.append((
        "render_warp (plain tail): kernel map on image_id -> ONE "
        "exchange on (zoom,x,y) -> mosaic/encode; the hot-tile "
        "router (salt_threshold) adds the two-phase salted fold ONLY "
        "when the JVM footprint cover count crosses the threshold",
        plan_text(render_warp(geo, 2, 4, tile_size=64,
                              salt_threshold=None))))
    pts = ev.select((F.col("value") * 1000).alias("px"),
                    (F.col("value") * 700).alias("py"))
    sections.append((
        "heatmap_pyramid: JVM pixel binning -> explode k levels -> ONE "
        "(zoom,pixel) hash aggregate (map-side combine collapses the "
        "4^k fan-in) -> per-tile paint; one extra exchange TOTAL for "
        "the whole pyramid, hot tiles bounded by ts^2 rows",
        plan_text(heatmap_pyramid(pts, 0, 3, tile_size=64))))
    sections.append((
        "exact_quantiles (final assembly; the distinct-value counts + "
        "per-range offsets ran eagerly): shuffle bounded by DISTINCT "
        "values, no global single-task window",
        plan_text(exact_quantiles(
            ev.select((F.floor(F.col("value") * 100)).alias("cents")),
            "cents", [2500, 5000, 7500]))))
    polys = spark.createDataFrame(
        [(1, [(4, 4), (60, 4), (60, 60), (4, 60)], 7),
         (2, [(70, 10), (120, 10), (95, 50)], 9)],
        "poly_id long, pts array<struct<x:long, y:long>>, value long")
    sections.append((
        "rasterize burn_polygons: JVM bbox->tile-range explode -> ONE "
        "exchange on the owning tile -> even-odd fill applyInPandas "
        "(no per-pixel python rows; nested-loop-free)",
        plan_text(burn_polygons(polys, 128, 128, 64))))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("# Physical plans (generated by tools/dump_plans.py)\n\n"
                "What to look for: `PushedFilters`/`ReadSchema` on scans "
                "(pushdown + pruning), `BroadcastHashJoin` on small sides, "
                "explicit `Exchange hashpartitioning` feeding the Python "
                "render stages (pinned parallelism, SURVEY.md §4).\n\n")
        for title, txt in sections:
            f.write(f"## {title}\n\n```\n{txt.strip()}\n```\n\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()

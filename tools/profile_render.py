"""Break the bench render into component stages and time each (noop).

Each component runs in ITS OWN SparkSession run order, cold-ish, to
mirror bench.py's single-shot cold timing. Pass component names:
  mapside   scan -> footprint -> cover explode -> repartition(cx,cy) exchange
  cell      full cell path z8-14 (render(8,14))
  blocks    blocks path z0-7 only (render(0,7) with pz=None, default salt)
  full      render(0,14) (the bench flagship)
  manifest  the blocks-path hot-key query alone (_hot_keys)
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from rastertiler_rs_spark.fixtures import images_parquet
from rastertiler_rs_spark.operators.render import (
    _AUTO_SALT_THRESHOLD, _hot_keys, render, tile_range_cols,
    with_footprints)
from rastertiler_rs_spark.session import env_int, get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RENDER_N = int(os.environ.get("SPARK_GRAFT_RENDER_N", "2048"))


def main() -> None:
    spark = get_spark("profile_render", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    img_path = images_parquet(RENDER_N, "u8")
    spark.read.parquet(img_path).count()
    warm = images_parquet(64, "u8")
    render(spark.read.parquet(warm), 0, 6, tile_size=64,
           dtype_tag="u8").select("zoom", "x", "tile_hash").count()

    names = sys.argv[1:] or ["manifest", "mapside", "cell", "blocks", "full"]
    n_parts = max(spark.sparkContext.defaultParallelism
                  * env_int("SPARK_GRAFT_CELL_MULT", 8), 8)

    for name in names:
        images = spark.read.parquet(img_path)
        t0 = time.time()
        if name == "manifest":
            src = with_footprints(images).select(
                "image_id", "bytes", "fmt", "minx", "miny", "maxx", "maxy")
            _hot_keys(src, 0, 7, _AUTO_SALT_THRESHOLD).collect()
        elif name == "mapside":
            src = with_footprints(images).select(
                "image_id", "bytes", "fmt", "minx", "miny", "maxx", "maxy")
            covers = tile_range_cols(
                src.withColumn("zoom", F.lit(8).cast("int")))
            exploded = (covers
                        .withColumn("cx", F.explode(F.sequence("txmin", "txmax")))
                        .withColumn("cy", F.explode(F.sequence("tymin", "tymax")))
                        .select("cx", "cy", "image_id", "bytes", "fmt",
                                "minx", "miny", "maxx", "maxy"))
            (exploded.repartition(n_parts, "cx", "cy")
             .sortWithinPartitions("cx", "cy")
             .write.format("noop").mode("overwrite").save())
        elif name == "cell":
            (render(images, 8, 14, tile_size=256, dtype_tag="u8")
             .select("zoom", "x", "tile_row", "tile_hash")
             .write.format("noop").mode("overwrite").save())
        elif name == "blocks":
            (render(images, 0, 7, tile_size=256, dtype_tag="u8",
                    partition_zoom=None)
             .select("zoom", "x", "tile_row", "tile_hash")
             .write.format("noop").mode("overwrite").save())
        elif name == "full":
            (render(images, 0, 14, tile_size=256, dtype_tag="u8")
             .select("zoom", "x", "tile_row", "tile_hash")
             .write.format("noop").mode("overwrite").save())
        print(f"{name:10s} {time.time() - t0:7.3f}s", flush=True)


if __name__ == "__main__":
    main()

"""Streaming INCREMENTAL HEATMAP — maintain the per-pixel count
raster of an unbounded point stream (the additive twin of
ingest.stream_render's tile upsert).

Counts are additive, which makes exact incremental maintenance
cheap: each micro-batch bins its points JVM-side (the same
map-side-combined (pixel → count, weight-sum) aggregate the batch
operator uses — the shuffle is bounded by touched PIXELS, not
points), then folds the partial into a copy-on-write pixel store:

- the store is versioned: ``state/v{batch}/bx=K/*.parquet`` bucketed
  by tile column, with a ``CURRENT`` pointer file naming the live
  version and the last applied batch id;
- a batch writes NEW parquet only for its touched buckets and
  hard-links the untouched buckets' files into the new version
  (same-filesystem contract, like the mbtiles shard sink), then
  commits by atomically replacing ``CURRENT`` (temp + os.replace);
- replay is idempotent by construction: a re-delivered batch id
  ≤ CURRENT's is skipped BEFORE any write, so a crash anywhere
  between data write and pointer swap re-runs cleanly (uncommitted
  versions are garbage, never read).

At 100 TB the same shape holds: buckets become real partitions, the
pointer a transactional catalog commit (Iceberg snapshot), and the
per-batch cost is O(touched buckets), not O(store). The maintained
store equals the batch binning of every point seen — the `heat` leg
of `stream_events` pins that equality against the DuckDB twin.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.heatmap import _binned
from ..session import local_frame

_POINT_SCHEMA = "px double, py double, w long"


def _current_path(state_dir: str) -> str:
    return os.path.join(state_dir, "CURRENT")


def _read_current(state_dir: str) -> dict | None:
    try:
        with open(_current_path(state_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_heatmap_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live pixel store: (bx, gx, gy, cnt, wsum). Empty-schema
    DataFrame when no batch has committed yet."""
    cur = _read_current(state_dir)
    schema = "bx long, gx long, gy long, cnt long, wsum long"
    if cur is None:
        return local_frame(spark, [], schema)
    path = os.path.join(state_dir, cur["version"])
    if not any(n.startswith("bx=") for n in os.listdir(path)):
        return local_frame(spark, [], schema)   # committed-empty store
    return (spark.read.schema(schema).option("basePath", path)
            .parquet(path + "/bx=*").select(
                "bx", "gx", "gy", "cnt", "wsum"))


def _fold_batch(df: DataFrame, state_dir: str, zoom: int,
                tile_size: int, weight: str | None,
                batch_id: int) -> None:
    spark = df.sparkSession
    cur = _read_current(state_dir)
    if cur is not None and batch_id <= cur["last_batch"]:
        return                       # replayed batch — already applied
    # _binned sums one measure; run it for the point count and the
    # weight sum and join on the pixel (both tiny, pixel-bounded)
    part = (df.select(
        F.col("px"), F.col("py"),
        (F.col(weight).cast("long") if weight
         else F.lit(1).cast("long")).alias("_w")))
    binned = _binned(part.select("px", "py", F.lit(1).alias("one")),
                     zoom, tile_size, "one").withColumnRenamed(
                         "cnt", "cnt_pts")
    wsum = _binned(part, zoom, tile_size, "_w").withColumnRenamed(
        "cnt", "wsum")
    delta = (binned.join(wsum, ["gx", "gy"])
             .select(F.floor(F.col("gx") / tile_size).cast("long")
                     .alias("bx"),
                     "gx", "gy", F.col("cnt_pts").alias("cnt"), "wsum"))
    touched = sorted(int(r.bx) for r in
                     delta.select("bx").distinct().collect())
    if not touched:
        _commit(state_dir, cur, batch_id, cur["version"] if cur else None,
                fresh_empty=cur is None)
        return
    existing = read_heatmap_store(spark, state_dir)
    merged = (existing.filter(F.col("bx").isin(touched))
              .unionByName(delta)
              .groupBy("bx", "gx", "gy")
              .agg(F.sum("cnt").alias("cnt"), F.sum("wsum").alias("wsum")))
    vname = f"v{batch_id:08d}"
    vdir = os.path.join(state_dir, vname)
    shutil.rmtree(vdir, ignore_errors=True)   # garbage from a past crash
    (merged.repartition(max(1, min(len(touched), 8)), "bx")
     .write.partitionBy("bx").mode("overwrite").parquet(vdir))
    # carry untouched buckets over by hard link (same-fs contract)
    if cur is not None:
        old = os.path.join(state_dir, cur["version"])
        for name in os.listdir(old):
            if not name.startswith("bx="):
                continue
            if int(name.split("=", 1)[1]) in set(touched):
                continue
            dst = os.path.join(vdir, name)
            os.makedirs(dst, exist_ok=True)
            for f_ in os.listdir(os.path.join(old, name)):
                if f_.endswith(".parquet"):
                    os.link(os.path.join(old, name, f_),
                            os.path.join(dst, f_))
    _commit(state_dir, cur, batch_id, vname)


def _commit(state_dir: str, cur: dict | None, batch_id: int,
            version: str | None, fresh_empty: bool = False) -> None:
    if fresh_empty:                 # first batch had zero points
        version = f"v{batch_id:08d}"
        os.makedirs(os.path.join(state_dir, version), exist_ok=True)
    tmp = _current_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "last_batch": batch_id}, f)
    os.replace(tmp, _current_path(state_dir))
    # prune superseded versions (best-effort; CURRENT already moved)
    if cur is not None and cur["version"] != version:
        shutil.rmtree(os.path.join(state_dir, cur["version"]),
                      ignore_errors=True)


def stream_heatmap(spark: SparkSession, input_dir: str, state_dir: str,
                   zoom: int, tile_size: int = 256,
                   weight: str | None = "w",
                   max_files_per_trigger: int = 1):
    """Start the incremental heatmap stream; returns the
    StreamingQuery. Input: parquet files of (px, py, w) mercator
    points dropped into ``input_dir``. State: the versioned pixel
    store under ``state_dir`` (read with read_heatmap_store; paint
    with operators.heatmap._paint_tiles for PNG tiles)."""
    os.makedirs(state_dir, exist_ok=True)
    stream = (spark.readStream.schema(_POINT_SCHEMA)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))
    return (stream.writeStream
            .foreachBatch(lambda df, bid: _fold_batch(
                df, state_dir, zoom, tile_size, weight, bid))
            .option("checkpointLocation",
                    os.path.join(state_dir, "_checkpoint"))
            .trigger(availableNow=True)
            .start())

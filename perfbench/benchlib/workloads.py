"""The benchmark's workloads.

Each workload computes the expected output of a pass from the seed
(``prepare``, before any timing), makes its seeded inputs (``make_inputs``,
the set-up's ``fixtures`` step), loads them into a fresh session
(``load``), runs one pass through the package's public functions
(``run_pass``) and checks the pass's output against the expected result
(``check``).

A pass returns ``rows`` (tiles committed, or result rows for the suite)
and ``bytes`` (bytes of the committed shards, or of the results in Arrow
form); ``rows_per_s`` and ``out_bytes_per_row`` are made from them.
"""

from __future__ import annotations

import os

from . import inputs, tables


BASE_SEED_OFFSET = 1_000_003  # the base tileset's seed is the run's seed plus this


class Pyramid:
    """images table -> z/x/y PNG pyramid with overviews -> sharded MBTiles
    sink -> left-wins merge of the new shards into a base tileset made
    from a second seed."""

    def __init__(self, name, why, n_images, minzoom, maxzoom, overview_below,
                 tile_size=256):
        self.name, self.why = name, why
        self.n_images = n_images
        self.minzoom, self.maxzoom = minzoom, maxzoom
        self.overview_below = overview_below
        self.tile_size = tile_size

    def _oracle(self, seed: int):
        indices = inputs.image_indices(seed, self.n_images)
        rows = inputs.images_table(indices).to_pylist()
        tiles, blobs = inputs.oracle_pyramid(
            rows, self.minzoom, self.maxzoom, self.tile_size, self.overview_below)
        return indices, tiles, blobs

    def prepare(self, seed: int) -> None:
        self.indices, tiles, self.blobs = self._oracle(seed)
        self.base_indices, self.base_tiles, base_blobs = self._oracle(seed + BASE_SEED_OFFSET)
        self.blobs.update(base_blobs)
        merged = inputs.merged_tiles(tiles, self.base_tiles)
        self.expected = inputs.expected_set(tiles, inputs.shard_blob_count(tiles))
        self.expected["images"] = self.n_images
        self.expected["merged"] = inputs.expected_set(
            merged, inputs.merged_blob_count(tiles, self.base_tiles))
        self.expected["merged"]["conflicts"] = len(tiles) + len(self.base_tiles) - len(merged)

    def make_inputs(self, in_dir: str) -> None:
        self.images = inputs.write_images(os.path.join(in_dir, "images.parquet"),
                                          inputs.images_table(self.indices))
        self.base_images = inputs.write_images(os.path.join(in_dir, "base-images.parquet"),
                                               inputs.images_table(self.base_indices))

    def load(self, spark, in_dir: str) -> None:
        """Read the images; write the base tileset the first time (it is
        files on disk, so later set-ups of the run reuse it)."""
        self.df = spark.read.parquet(self.images)
        self.df.count()
        self.base_dir = os.path.join(in_dir, "base")
        if not os.path.exists(os.path.join(self.base_dir, "manifest.json")):
            self._write_base(spark)
        self.base_bytes = inputs.shard_bytes(self.base_dir)

    def _write_base(self, spark) -> None:
        """The base tileset, written through the package's sink from the
        oracle's tiles (no render)."""
        import pandas as pd

        from rastertiler_rs_spark.operators.mbtiles_sink import write_mbtiles_shards
        from rastertiler_rs_spark.operators.render import metadata_table

        pdf = pd.DataFrame(self.base_tiles, columns=["zoom", "x", "tile_row", "tile_hash"])
        pdf["png"] = [self.blobs[h] for h in pdf["tile_hash"]]
        fused = spark.createDataFrame(
            pdf, "zoom int, x long, tile_row long, tile_hash long, png binary")
        meta = metadata_table(spark, spark.read.parquet(self.base_images),
                              self.minzoom, self.maxzoom)
        write_mbtiles_shards(fused, meta, self.base_dir)

    def run_pass(self, spark, spans, out_dir: str) -> dict:
        from rastertiler_rs_spark.operators.mbtiles_sink import (merge_mbtiles_shards,
                                                                 write_mbtiles_shards)
        from rastertiler_rs_spark.operators.overview import render_pyramid
        from rastertiler_rs_spark.operators.render import metadata_table

        with spans.span("overview.render_pyramid"):
            fused = render_pyramid(self.df, self.minzoom, self.maxzoom,
                                   tile_size=self.tile_size, dtype_tag="u8",
                                   overview_below=self.overview_below)
        with spans.span("render.metadata_table"):
            meta = metadata_table(spark, self.df, self.minzoom, self.maxzoom)
        with spans.span("mbtiles_sink.write_mbtiles_shards"):
            man = write_mbtiles_shards(fused, meta, os.path.join(out_dir, "render"))
        with spans.span("mbtiles_sink.merge_mbtiles_shards"):
            mman = merge_mbtiles_shards(spark, os.path.join(out_dir, "render"),
                                        self.base_dir, os.path.join(out_dir, "merged"))
        return {"rows": man["total_tiles"], "tiles_rendered": man["total_tiles"],
                "blobs": sum(s["n_blobs"] for s in man["shards"].values()),
                "merged_tiles": mman["total_tiles"],
                "merged_blobs": sum(s["n_blobs"] for s in mman["shards"].values())}

    def check(self, out_dir: str, result: dict) -> tuple[bool, dict]:
        """The written and the merged shard sets against the oracle: tile
        and blob counts (left-wins for the merge), digest, and every
        blob's bytes."""
        got = inputs.read_shard_dir(os.path.join(out_dir, "render"), self.blobs)
        mgot = inputs.read_shard_dir(os.path.join(out_dir, "merged"), self.blobs)
        ok = True
        for g, exp, tiles, blobs in ((got, self.expected, "rows", "blobs"),
                                     (mgot, self.expected["merged"], "merged_tiles",
                                      "merged_blobs")):
            ok = ok and (g["tiles"] == result[tiles] == exp["tiles"]
                         and g["blobs"] == result[blobs] == exp["blobs"]
                         and g["digest"] == exp["digest"] and g["bad_blobs"] == 0)
        return ok, {"bytes": got["bytes"], "bad_blobs": got["bad_blobs"],
                    "merged_bytes": mgot["bytes"], "merged_bad_blobs": mgot["bad_blobs"],
                    "bytes_read": got["bytes"] + self.base_bytes}


# bench.py's operator leaves, as their __spark_entry__ entries (which have
# DuckDB twins); run in this order
SUITE_QUERIES = ("bbox_join", "knn", "dedup_exact", "embedding_topk_int", "tile_cover")


class Suite:
    """Operator queries of ``__spark_entry__`` over seeded tables."""

    queries = SUITE_QUERIES

    def __init__(self, name, why):
        self.name, self.why = name, why

    def prepare(self, seed: int) -> None:
        self.seed = seed
        self.expected = {"queries": tables.expected_results(tables.make_tables(seed),
                                                            self.queries)}
        self.expected["rows"] = sum(q["rows"] for q in self.expected["queries"].values())

    def make_inputs(self, in_dir: str) -> None:
        self.sf_dir = tables.write_tables(tables.make_tables(self.seed),
                                          os.path.join(in_dir, "tables"))

    def load(self, spark, in_dir: str) -> None:
        for name in tables.ROWS:
            spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet")).count()

    def run_pass(self, spark, spans, out_dir: str) -> dict:
        import __spark_entry__ as entry

        fns = entry.queries()
        results, rows, size = {}, 0, 0
        for name in self.queries:
            with spans.span(f"ops.{name}"):
                table = fns[name](spark, self.sf_dir).toArrow()
            results[name] = tables.result_digest(
                table.column_names, [tuple(r.values()) for r in table.to_pylist()])
            rows += table.num_rows
            size += table.nbytes
        return {"rows": rows, "tiles_rendered": 0, "bytes": size, "results": results}

    def check(self, out_dir: str, result: dict) -> tuple[bool, dict]:
        """Row count and digest of every query against its DuckDB twin."""
        bad = sorted(n for n in self.queries
                     if result["results"][n] != self.expected["queries"][n])
        return not bad, {"bad_queries": bad}


WORKLOADS = {
    w.name: w for w in (
        Pyramid("pyramid_merge",
                "64 images, z0-12, overviews below z8, written to shards and merged into a "
                "base tileset: render, kernel, PNG, overview cascade, sink write and merge",
                n_images=64, minzoom=0, maxzoom=12, overview_below=8),
        Suite("operator_suite",
              "5 operator queries (box join, knn, text dedup and sampling, embedding top-k, "
              "tile cover) on seeded tables: Spark planning, compile and shuffles dominate"),
    )
}

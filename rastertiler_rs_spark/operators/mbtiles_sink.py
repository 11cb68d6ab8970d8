"""Sinks: distributed SHARDED .mbtiles and the driver-side single
.mbtiles file.

The distributed sink is the product at 100 TB (next to the parquet
tile table of `overview.render_pyramid_to_sink`, the one-pass pyramid
written once by zoom; every sink reads the pyramid lazily, and nothing
is cached between the render and the write):
`write_mbtiles_shards` — one standalone SQLite shard per quadkey
subtree, written EXECUTOR-side (streamed into sqlite per task, atomic
temp+rename commit, idempotent retries) so no tile byte ever crosses
the driver. The single-file
SQLite materialization (DDL per /root/reference/src/mbtiles.rs:13-30)
is a small-scale golden-comparison convenience, like the reference's
final single-file flush (/root/reference/src/mbtiles.rs:125-144), and
is guarded by ``max_tiles``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle import MBTILES_DDL, write_mbtiles
from ..session import local_frame


def shard_for_tile(z: int, x: int, y: int, prefix_zoom: int = 2) -> int:
    """Shard id of tile (z, x, y=tile_row) under quadkey sharding: the
    bit-interleaved quadkey of the tile's z=prefix_zoom ancestor, +1;
    shard 0 holds every tile above the prefix zoom. A serving layer
    uses this to open exactly one shard per request; the Spark-side
    SQL expression in write_mbtiles_shards is this formula verbatim."""
    if not 1 <= prefix_zoom <= 7:
        raise ValueError(f"prefix_zoom must be in [1, 7], got {prefix_zoom}")
    if z < prefix_zoom:
        return 0
    ax, ay = x >> (z - prefix_zoom), y >> (z - prefix_zoom)
    s = 0
    for b in range(prefix_zoom):
        s |= ((ax >> b) & 1) << (2 * b + 1)
        s |= ((ay >> b) & 1) << (2 * b)
    return 1 + s


def _quadkey_shard_expr(prefix_zoom: int):
    """JVM-side column expr twin of shard_for_tile (no python UDF)."""
    p = prefix_zoom
    terms = " + ".join(
        f"((shiftright(shiftright(x, zoom - {p}), {b}) & 1) * {1 << (2 * b + 1)})"
        f" + ((shiftright(shiftright(tile_row, zoom - {p}), {b}) & 1)"
        f" * {1 << (2 * b)})"
        for b in range(p))
    return F.expr(f"CASE WHEN zoom < {p} THEN 0 ELSE 1 + ({terms}) END")


def write_mbtiles_shards(fused: DataFrame, metadata: DataFrame, out_dir: str,
                         prefix_zoom: int = 2, hash_shards: int = 0) -> dict:
    """Distributed .mbtiles materialization — the scale path the
    single-file sink's guard points at.

    Each shard is a COMPLETE standalone .mbtiles (full reference DDL,
    unique map index, metadata table) covering one z=``prefix_zoom``
    quadkey subtree (shard 0 = tiles above the prefix zoom), so any
    one shard serves its subtree with no other file present.
    ``hash_shards=n`` switches to uniform xxhash64 sharding — balance
    over locality — with the same writer.

    100 TB shape: one shuffle keyed by the shard id routes every
    shard's rows to exactly one task (several shards may share a task;
    sortWithinPartitions cuts them in a single stream); the task
    STREAMS rows into sqlite executor-side — no collect, no driver
    bytes — and commits each shard by atomic ``os.replace`` of a
    temp file, so task retries are idempotent and readers never see a
    partial shard. The driver writes only the manifest (shard ->
    row counts). Skew bound: a quadkey shard holds at most the tiles
    of one z=p subtree; for pathological single-subtree inputs use
    hash_shards (uniform by construction).

    The sharding arguments are checked before any work: a bad one
    raises ValueError with no job run and ``out_dir`` untouched.

    Returns the manifest dict (also written to ``out_dir``/manifest.json).
    """
    if hash_shards:
        if hash_shards < 1:
            raise ValueError(f"hash_shards must be >= 1, got {hash_shards}")
        n_shards = int(hash_shards)
        shard_expr = F.pmod(F.xxhash64("zoom", "x", "tile_row"),
                            F.lit(n_shards))
        sharding = f"hash:{n_shards}"
    else:
        if not 1 <= prefix_zoom <= 7:
            raise ValueError(
                f"prefix_zoom must be in [1, 7], got {prefix_zoom}")
        n_shards = 1 + 4 ** prefix_zoom
        shard_expr = _quadkey_shard_expr(prefix_zoom)
        sharding = f"quadkey:{prefix_zoom}"
    meta_rows = [(r["name"], r["value"]) for r in metadata.collect()]
    os.makedirs(out_dir, exist_ok=True)
    # a reused out_dir must not union with a previous run: clear old
    # shards, orphan temps, and the manifest before the job starts
    _sweep_shard_dir(out_dir)

    df = (fused.select("zoom", "x", "tile_row", "tile_hash", "png")
          .withColumn("shard", shard_expr.cast("int"))
          .repartition(n_shards, "shard")
          .sortWithinPartitions("shard", "zoom", "x", "tile_row"))

    def write_partition(batches):
        import sqlite3
        import uuid

        import pandas as pd

        state = {"shard": None, "conn": None, "tmp": None,
                 "n_tiles": 0, "n_blobs": 0}
        counts = []

        def close_current():
            conn = state["conn"]
            conn.execute("CREATE UNIQUE INDEX IF NOT EXISTS map_index ON "
                         "map (zoom_level, tile_column, tile_row)")
            conn.commit()
            conn.close()
            final = os.path.join(out_dir, f"shard-{state['shard']:05d}.mbtiles")
            os.replace(state["tmp"], final)
            counts.append((state["shard"], state["n_tiles"], state["n_blobs"]))

        def open_shard(shard):
            state.update(shard=shard, n_tiles=0, n_blobs=0)
            state["tmp"] = os.path.join(
                out_dir, f".shard-{shard:05d}.tmp-{uuid.uuid4().hex}")
            conn = sqlite3.connect(state["tmp"])
            conn.executescript(MBTILES_DDL)
            conn.executemany(
                "INSERT INTO metadata (name,value) VALUES (?, ?)", meta_rows)
            state["conn"] = conn

        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    if row.shard != state["shard"]:
                        if state["conn"] is not None:
                            close_current()
                        open_shard(int(row.shard))
                    conn = state["conn"]
                    cur = conn.execute(
                        "INSERT OR IGNORE INTO images (tile_id, tile_data) "
                        "VALUES (?, ?)", (int(row.tile_hash), bytes(row.png)))
                    state["n_blobs"] += cur.rowcount
                    conn.execute(
                        "INSERT INTO map (zoom_level, tile_column, tile_row, "
                        "tile_id) VALUES (?, ?, ?, ?)",
                        (int(row.zoom), int(row.x), int(row.tile_row),
                         int(row.tile_hash)))
                    state["n_tiles"] += 1
            if state["conn"] is not None:
                close_current()
        except BaseException:
            # failed mid-shard: drop the connection and the temp file so
            # retries don't accumulate orphans (committed shards keep
            # their atomic renames)
            if state["conn"] is not None:
                state["conn"].close()
                state["conn"] = None
                try:
                    os.remove(state["tmp"])
                except OSError:
                    pass
            raise
        yield pd.DataFrame(counts, columns=["shard", "n_tiles", "n_blobs"])

    counts = (df.mapInPandas(
        write_partition, "shard int, n_tiles long, n_blobs long")
        .collect())
    # SHARED-FILESYSTEM CONTRACT: executors wrote the shard files into
    # out_dir and the driver writes the manifest beside them — correct
    # on local[*] and on clusters whose executors and driver mount one
    # filesystem (NFS/lustre/fuse-mounted object store). Fail fast
    # before publishing a manifest that names shards the driver cannot
    # see (non-shared disks), instead of leaving a silently-broken dir.
    missing = [int(r["shard"]) for r in counts
               if not os.path.exists(
                   os.path.join(out_dir, f"shard-{int(r['shard']):05d}.mbtiles"))]
    if missing:
        raise RuntimeError(
            f"shards {missing[:8]}{'...' if len(missing) > 8 else ''} were "
            f"committed executor-side but are not visible from the driver "
            f"at {out_dir!r} — write_mbtiles_shards requires a filesystem "
            f"shared by driver and executors (local[*], NFS, or a mounted "
            f"object store); refusing to write a manifest naming unreadable "
            f"shards")
    manifest = {
        "sharding": sharding,
        "n_shards": n_shards,
        "shards": {int(r["shard"]): {"n_tiles": int(r["n_tiles"]),
                                     "n_blobs": int(r["n_blobs"])}
                   for r in counts},
        "total_tiles": int(sum(r["n_tiles"] for r in counts)),
        "metadata": dict(meta_rows),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _sweep_shard_dir(out_dir: str) -> None:
    for name in os.listdir(out_dir):
        if (name.startswith("shard-") and name.endswith(".mbtiles")) \
                or name.startswith(".shard-") or name == "manifest.json":
            os.remove(os.path.join(out_dir, name))


def merge_mbtiles_shards(spark, left_dir: str, right_dir: str,
                         out_dir: str) -> dict:
    """Distributed tileset merge over SHARDED .mbtiles sets — the
    reference's merge pipeline (copy destination, `INSERT OR IGNORE`
    the source's map+images, min/max-zoom metadata refresh,
    VACUUM+PRAGMA optimize; /root/reference/src/mbtiles.rs:147-221)
    applied PER SHARD, executor-side, via sqlite ATTACH.

    Shard routing is a pure function of (z, x, y), so the same tile
    lands in the same shard id in both sets and the merge is
    embarrassingly parallel: ONE map-only job, no shuffle, no tile
    bytes through the driver. The shard ids are a local frame split
    over min(shards, defaultParallelism) tasks; each task reads
    exactly two files per shard and commits each output shard
    atomically (temp + os.replace). Left wins on map-key
    conflicts (the shards' unique map index + OR IGNORE, exactly the
    reference's rule); metadata keeps left values with minzoom/maxzoom
    merged min/max, written into every output shard so each stays a
    standalone .mbtiles. Both inputs must share the same `sharding`
    spec (manifest-checked) and ``out_dir`` must be a third directory.
    """
    import shutil

    with open(os.path.join(left_dir, "manifest.json")) as f:
        lman = json.load(f)
    with open(os.path.join(right_dir, "manifest.json")) as f:
        rman = json.load(f)
    if lman["sharding"] != rman["sharding"]:
        raise ValueError(
            f"shard layouts differ: {lman['sharding']} vs {rman['sharding']}"
            " — resharding merge is not supported; rewrite one set first")
    if any(os.path.realpath(out_dir) == os.path.realpath(d)
           for d in (left_dir, right_dir)):
        raise ValueError("merge output must be a distinct directory")

    lmeta, rmeta = dict(lman["metadata"]), dict(rman["metadata"])
    # single-file merge_metadata semantics (mbtiles.rs:181-207): the
    # destination's keys only, with minzoom/maxzoom merged min/max —
    # right-only keys do NOT leak into the output
    merged_meta = dict(lmeta)
    for key, agg in (("minzoom", min), ("maxzoom", max)):
        vals = [int(m[key]) for m in (lmeta, rmeta) if key in m]
        if vals:
            merged_meta[key] = str(agg(vals))
    meta_rows = sorted(merged_meta.items())

    os.makedirs(out_dir, exist_ok=True)
    _sweep_shard_dir(out_dir)
    ids = sorted({int(s) for s in lman["shards"]}
                 | {int(s) for s in rman["shards"]})
    df = local_frame(spark, [(s,) for s in ids], "shard int")

    def merge_partition(batches):
        import sqlite3
        import uuid

        import pandas as pd

        counts = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                shard = int(row.shard)
                fname = f"shard-{shard:05d}.mbtiles"
                lp = os.path.join(left_dir, fname)
                rp = os.path.join(right_dir, fname)
                base = lp if os.path.exists(lp) else rp
                other = rp if base == lp and os.path.exists(rp) else None
                tmp = os.path.join(out_dir,
                                   f".shard-{shard:05d}.tmp-{uuid.uuid4().hex}")
                shutil.copyfile(base, tmp)
                conn = sqlite3.connect(tmp)
                try:
                    # defensive, as the reference does before its
                    # anti-inserts (mbtiles.rs:155-158): left-wins
                    # depends on this unique index existing
                    conn.execute(
                        "CREATE UNIQUE INDEX IF NOT EXISTS map_index ON "
                        "map (zoom_level, tile_column, tile_row)")
                    if other is not None:
                        conn.execute("ATTACH DATABASE ? AS other", (other,))
                        conn.execute(
                            "INSERT OR IGNORE INTO images (tile_id, tile_data)"
                            " SELECT tile_id, tile_data FROM other.images")
                        conn.execute(
                            "INSERT OR IGNORE INTO map (zoom_level, "
                            "tile_column, tile_row, tile_id) SELECT "
                            "zoom_level, tile_column, tile_row, tile_id "
                            "FROM other.map")
                        conn.commit()
                        conn.execute("DETACH DATABASE other")
                    conn.execute("DELETE FROM metadata")
                    conn.executemany(
                        "INSERT INTO metadata (name,value) VALUES (?, ?)",
                        meta_rows)
                    n_tiles, = conn.execute("SELECT COUNT(*) FROM map").fetchone()
                    n_blobs, = conn.execute(
                        "SELECT COUNT(*) FROM images").fetchone()
                    conn.commit()
                    conn.executescript("VACUUM; PRAGMA optimize;")
                    conn.close()
                    conn = None
                    os.replace(tmp, os.path.join(out_dir, fname))
                    counts.append((shard, n_tiles, n_blobs))
                except BaseException:
                    if conn is not None:
                        conn.close()
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass
                    raise
        yield pd.DataFrame(counts, columns=["shard", "n_tiles", "n_blobs"])

    counts = (df.mapInPandas(
        merge_partition, "shard int, n_tiles long, n_blobs long").collect())
    manifest = {
        "sharding": lman["sharding"],
        "n_shards": lman["n_shards"],
        "shards": {int(r["shard"]): {"n_tiles": int(r["n_tiles"]),
                                     "n_blobs": int(r["n_blobs"])}
                   for r in counts},
        "total_tiles": int(sum(r["n_tiles"] for r in counts)),
        "metadata": dict(meta_rows),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def read_mbtiles_shards(out_dir: str):
    """Union every shard back into (tiles, blobs, metadata) — the test
    / golden-comparison reader (driver-side, small scale)."""
    import sqlite3

    tiles, blobs, meta = [], {}, {}
    for name in sorted(os.listdir(out_dir)):
        if not (name.startswith("shard-") and name.endswith(".mbtiles")):
            continue
        conn = sqlite3.connect(os.path.join(out_dir, name))
        tiles.extend(conn.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_id FROM map"))
        blobs.update(conn.execute(
            "SELECT tile_id, tile_data FROM images"))
        meta.update(conn.execute("SELECT name, value FROM metadata"))
        conn.close()
    return tiles, blobs, meta


def materialize_mbtiles(fused: DataFrame, metadata: DataFrame, path: str,
                        max_tiles: int = 5_000_000) -> None:
    """Collect a (small) fused tile table into a real .mbtiles file.

    A single SQLite file is inherently single-node, so this collects to
    the driver — bounded by ``max_tiles`` (default ~5M ≈ a few GB of
    PNGs): pointing this at a continental z14 render would otherwise OOM
    the driver silently. Past the cap, use ``write_mbtiles_shards`` (the
    sharded .mbtiles sink, CLI ``--shards-dir``) or
    ``overview.render_pyramid_to_sink`` (the parquet tile table, CLI
    ``--tiles-dir``) instead.

    Single pass: collect through limit(max+1) — if the cap trips we
    raise without having buffered the full table, and without running
    the render twice for a separate count().
    """
    rows = fused.limit(max_tiles + 1).collect()
    if len(rows) > max_tiles:
        raise ValueError(
            f"materialize_mbtiles: tile count exceeds max_tiles={max_tiles}; "
            "a single .mbtiles file is a driver-side materialization — "
            "use the sharded .mbtiles sink (write_mbtiles_shards / CLI "
            "--shards-dir) or the parquet tile table "
            "(render_pyramid_to_sink / CLI --tiles-dir) for large "
            "pyramids, or raise max_tiles knowingly")
    tiles = [(r["zoom"], r["x"], r["tile_row"], r["tile_hash"]) for r in rows]
    blobs = {r["tile_hash"]: bytes(r["png"]) for r in rows}
    meta = [(r["name"], r["value"]) for r in metadata.collect()]
    write_mbtiles(path, sorted(tiles), blobs, meta)


def tiles_from_mbtiles_shards(spark, in_dir: str) -> "DataFrame":
    """Distributed ingest of a SHARDED .mbtiles set: the driver reads
    only manifest.json (shard names + counts), plans one row per
    shard as a local frame (min(shards, defaultParallelism) tasks, no
    exchange), and executors open their shard's SQLite and emit its
    joined map⋈images rows — no tile byte ever crosses the driver.
    Returns the fused schema (zoom, x, y, tile_row, tile_hash, png);
    y is the XYZ flip of the stored TMS tile_row. The inverse of
    write_mbtiles_shards (same shared-filesystem contract)."""
    from typing import Iterator

    with open(os.path.join(in_dir, "manifest.json")) as f:
        man = json.load(f)
    # manifest "shards" is a dict keyed by shard id; files follow the
    # writer's shard-%05d naming
    paths = [(os.path.join(in_dir, f"shard-{int(k):05d}.mbtiles"),)
             for k in man["shards"]]
    plan = local_frame(spark, paths, "path string")

    def fetch(batches: Iterator) -> Iterator:
        import sqlite3

        import pandas as pd

        for pdf in batches:
            out = {"zoom": [], "x": [], "y": [], "tile_row": [],
                   "tile_hash": [], "png": []}
            for row in pdf.itertuples(index=False):
                if not os.path.exists(row.path):
                    raise FileNotFoundError(
                        f"manifest-listed shard missing: {row.path}")
                # mode=ro: a plain connect() would CREATE an empty db
                # at a missing path, masking the real failure
                conn = sqlite3.connect(f"file:{row.path}?mode=ro",
                                       uri=True)
                try:
                    for z, xc, tr, tid, png in conn.execute(
                            "SELECT m.zoom_level, m.tile_column,"
                            " m.tile_row, m.tile_id, i.tile_data"
                            " FROM map m"
                            " JOIN images i ON i.tile_id = m.tile_id"):
                        out["zoom"].append(int(z))
                        out["x"].append(int(xc))
                        out["y"].append((1 << int(z)) - 1 - int(tr))
                        out["tile_row"].append(int(tr))
                        out["tile_hash"].append(int(tid))
                        out["png"].append(bytes(png))
                finally:
                    conn.close()
            yield pd.DataFrame(out)

    return plan.mapInPandas(
        fetch, "zoom int, x long, y long, tile_row long, "
               "tile_hash long, png binary")

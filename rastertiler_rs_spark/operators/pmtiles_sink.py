"""PMTiles v3 archive sink + distributed source.

The cloud-native single-file successor of the MBTiles sink
(mbtiles_sink.py): tiles live at Hilbert-clustered offsets behind
varint directories, so a reader resolves any tile with <= 2 range
requests — the right serving shape for a 100 TB pipeline whose
output sits in object storage.

Three surfaces, mirroring the MBTiles trio:

- ``materialize_pmtiles``: driver-side single file, ``max_tiles``
  guarded (a single archive's DIRECTORY is inherently one writer's
  job; the data need not be — see below).
- ``write_pmtiles_distributed``: executors write Hilbert-range data
  parts in parallel (range partition on tile_id keeps the archive
  clustered); the driver never touches tile bytes — it streams the
  finished parts into place and builds only the header+directories
  from the collected entry manifest (4 ints per entry). Requires a
  filesystem shared by driver and executors, like
  write_mbtiles_shards — fails fast when a committed part is not
  visible driver-side.
- ``tiles_from_pmtiles``: distributed ingest — the driver reads only
  header+directories (KBs), plans one row per directory entry, and
  executors ranged-read their tile payloads (the geotiff_source.py
  shape, for tile archives).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pmtiles.codec import (HEADER_SIZE, TILETYPE_PNG, Entry,
                             build_directories, build_pmtiles, pack_header,
                             tileid_col, _gzip)
from ..session import local_frame


def _xyz_y(df: DataFrame):
    """Archive tile ids address XYZ y (top-down). Tile tables carry
    both conventions; prefer y, else flip tile_row back."""
    if "y" in df.columns:
        return F.col("y")
    return F.pow(F.lit(2.0), F.col("zoom").cast("double")).cast("long") \
        - 1 - F.col("tile_row")


def materialize_pmtiles(fused: DataFrame, path: str,
                        metadata: dict | None = None,
                        tile_type: int = TILETYPE_PNG,
                        max_tiles: int = 5_000_000) -> None:
    """Collect a (bounded) fused tile table into one .pmtiles file.

    Same driver-side contract as materialize_mbtiles: single pass
    through limit(max+1), fail fast past the cap instead of silently
    OOMing the driver. Content dedup + run-length coalescing happen
    in build_pmtiles."""
    rows = (fused
            .withColumn("_tid", tileid_col("zoom", "x", _xyz_y(fused)))
            .select("_tid", "png")
            .limit(max_tiles + 1).collect())
    if len(rows) > max_tiles:
        raise ValueError(
            f"materialize_pmtiles: tile count exceeds max_tiles="
            f"{max_tiles}; use write_pmtiles_distributed for large "
            "pyramids, or raise max_tiles knowingly")
    tiles = sorted((r["_tid"], bytes(r["png"])) for r in rows)
    arch = build_pmtiles(tiles, metadata=metadata, tile_type=tile_type)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(arch)
    os.replace(tmp, path)


def write_pmtiles_distributed(fused: DataFrame, path: str,
                              metadata: dict | None = None,
                              tile_type: int = TILETYPE_PNG,
                              n_parts: int | None = None,
                              max_entries: int = 20_000_000) -> dict:
    """Executor-parallel archive build.

    Plan: tile_id (pure-JVM Hilbert fold) → repartitionByRange so
    each task owns a contiguous Hilbert range (the archive stays
    clustered by construction) → each task streams its sorted range
    into ``<path>.parts/part-<k>.bin`` with within-part content dedup
    and run coalescing, emitting (tile_id, run, rel_offset, length)
    entry rows. The driver collects only entries (guarded by
    ``max_entries``), rebases offsets by the parts' cumulative sizes,
    writes header+dirs and streams the part files into place — it
    never deserializes a tile.

    Cross-part content dedup is intentionally not attempted: dedup
    is a within-range optimization here (identical tiles are
    overwhelmingly nodata/solid neighbors, which Hilbert clustering
    keeps in the same range); the archive stays valid either way."""
    spark = fused.sparkSession
    parts_dir = path + ".parts"
    os.makedirs(parts_dir, exist_ok=True)
    df = (fused
          .withColumn("_tid", tileid_col("zoom", "x", _xyz_y(fused)))
          .select("_tid", "png"))
    if n_parts is None:
        n_parts = max(1, min(int(spark.conf.get(
            "spark.sql.shuffle.partitions", "32")), 256))
    df = df.repartitionByRange(n_parts, "_tid").sortWithinPartitions("_tid")

    def write_part(batches):
        import hashlib

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # attempt-unique temp name, as in cog_sink
        tmp = os.path.join(
            parts_dir, f".part-{pid:05d}-{ctx.taskAttemptId()}.tmp")
        ents, by_hash, pos = [], {}, 0
        last_id = -1
        with open(tmp, "wb") as f:
            for pdf in batches:
                for tid, png in zip(pdf["_tid"], pdf["png"]):
                    tid, blob = int(tid), bytes(png)
                    if tid <= last_id:
                        raise ValueError(
                            f"duplicate tile id {tid} in part {pid}")
                    last_id = tid
                    key = hashlib.md5(blob).digest()
                    loc = by_hash.get(key)
                    if loc is None:
                        loc = (pos, len(blob))
                        f.write(blob)
                        pos += len(blob)
                        by_hash[key] = loc
                    e = ents[-1] if ents else None
                    if (e is not None and e[2] == loc[0] and e[3] == loc[1]
                            and e[0] + e[1] == tid):
                        ents[-1] = (e[0], e[1] + 1, e[2], e[3])
                    else:
                        ents.append((tid, 1, loc[0], loc[1]))
        if ents:
            os.replace(tmp, os.path.join(parts_dir, f"part-{pid:05d}.bin"))
        else:
            os.remove(tmp)
        yield pd.DataFrame(
            {"pid": [pid] * len(ents),
             "tile_id": [e[0] for e in ents],
             "run_length": [e[1] for e in ents],
             "rel_offset": [e[2] for e in ents],
             "length": [e[3] for e in ents],
             "part_size": [pos] * len(ents),
             "n_contents": [len(by_hash)] * len(ents)})

    try:
        rows = (df.mapInPandas(
            write_part, "pid int, tile_id long, run_length long, "
            "rel_offset long, length long, part_size long, n_contents long")
            .limit(max_entries + 1).collect())
        if len(rows) > max_entries:
            raise ValueError(
                f"write_pmtiles_distributed: entry count exceeds "
                f"max_entries={max_entries}; directory assembly is "
                "driver-side — raise knowingly or shard the tileset")
        if not rows:
            raise ValueError("cannot build an empty PMTiles archive")

        # parts in tile_id order; rebase offsets by cumulative part size
        parts: dict[int, dict] = {}
        for r in rows:
            p = parts.setdefault(int(r["pid"]), {
                "size": int(r["part_size"]), "min_id": int(r["tile_id"]),
                "contents": int(r["n_contents"]), "entries": []})
            p["entries"].append(r)
            p["min_id"] = min(p["min_id"], int(r["tile_id"]))
        order = sorted(parts, key=lambda pid: parts[pid]["min_id"])
        base, entries, n_addressed, n_contents = 0, [], 0, 0
        for pid in order:
            p = parts[pid]
            fn = os.path.join(parts_dir, f"part-{pid:05d}.bin")
            if not os.path.exists(fn) or os.path.getsize(fn) != p["size"]:
                raise RuntimeError(
                    f"part file {fn} missing or truncated driver-side: "
                    "write_pmtiles_distributed requires a filesystem "
                    "shared by driver and executors (like "
                    "write_mbtiles_shards); use materialize_pmtiles or "
                    "collect the tile table first")
            for r in sorted(p["entries"], key=lambda r: int(r["tile_id"])):
                entries.append(Entry(int(r["tile_id"]),
                                     base + int(r["rel_offset"]),
                                     int(r["length"]), int(r["run_length"])))
                n_addressed += int(r["run_length"])
            base += p["size"]
            n_contents += p["contents"]
        for a, b in zip(entries, entries[1:]):
            if b.tile_id < a.tile_id + a.run_length:
                raise ValueError(f"overlapping entries at tile id {b.tile_id}")

        from ..pmtiles.codec import tileid_to_zxy
        minz = tileid_to_zxy(entries[0].tile_id)[0]
        maxz = tileid_to_zxy(entries[-1].tile_id + entries[-1].run_length - 1)[0]
        root, leaves, _ = build_directories(entries)
        meta = _gzip(json.dumps(metadata or {}, sort_keys=True).encode())
        pos = HEADER_SIZE
        root_offset, pos = pos, pos + len(root)
        metadata_offset, pos = pos, pos + len(meta)
        leaf_offset, pos = pos, pos + len(leaves)
        header = pack_header(
            root_offset=root_offset, root_length=len(root),
            metadata_offset=metadata_offset, metadata_length=len(meta),
            leaf_offset=leaf_offset, leaf_length=len(leaves),
            data_offset=pos, data_length=base,
            n_addressed=n_addressed, n_entries=len(entries),
            n_contents=n_contents, clustered=True, tile_type=tile_type,
            min_zoom=minz, max_zoom=maxz)
        tmp = path + ".tmp"
        with open(tmp, "wb") as out:
            out.write(header + root + meta + leaves)
            for pid in order:
                with open(os.path.join(parts_dir, f"part-{pid:05d}.bin"),
                          "rb") as src:
                    while True:
                        chunk = src.read(1 << 22)
                        if not chunk:
                            break
                        out.write(chunk)
        os.replace(tmp, path)
    finally:
        # finished parts only: another attempt's temp file stays
        for fn in glob.glob(os.path.join(parts_dir, "part-*.bin")):
            os.remove(fn)
        if not os.listdir(parts_dir):
            os.rmdir(parts_dir)
    return {"n_entries": len(entries), "n_addressed": n_addressed,
            "n_parts": len(order), "n_contents": n_contents,
            "data_length": base}


def tiles_from_pmtiles(spark: SparkSession, path: str,
                       n_partitions: int | None = None) -> DataFrame:
    """Distributed archive ingest: driver parses ONLY the header and
    directories (KBs even for huge archives), plans one row per
    directory entry, and executors open the file and ranged-read
    their payloads — the object-store shape (each read would be one
    HTTP range request). Returns the standard tile-table columns
    (zoom, x, y, tile_row, png); run-length entries expand to one
    row per addressed tile, payload read once per entry."""
    with open(path, "rb") as f:
        head = f.read(HEADER_SIZE)
        from ..pmtiles.codec import parse_header
        h = parse_header(head)
        f.seek(h["root_offset"])
        import gzip as _gz

        from ..pmtiles.codec import deserialize_directory
        root = deserialize_directory(
            _gz.decompress(f.read(h["root_length"])))
        entries = []
        for e in root:
            if e.run_length == 0:
                f.seek(h["leaf_offset"] + e.offset)
                entries.extend(deserialize_directory(
                    _gz.decompress(f.read(e.length))))
            else:
                entries.append(e)
    data_offset = h["data_offset"]
    plan = local_frame(
        spark,
        [(e.tile_id, data_offset + e.offset, e.length, e.run_length)
         for e in entries],
        "tile_id long, offset long, length long, run_length long")
    if n_partitions is None:
        n_partitions = max(1, min(len(entries), int(spark.conf.get(
            "spark.sql.shuffle.partitions", "32"))))
    plan = plan.repartitionByRange(n_partitions, "tile_id")

    def read_entries(batches):
        import pandas as pd

        from ..pmtiles.codec import tileid_to_zxy
        with open(path, "rb") as f:
            for pdf in batches:
                out = {k: [] for k in ("zoom", "x", "y", "tile_row", "png")}
                for tid, off, ln, run in zip(pdf["tile_id"], pdf["offset"],
                                             pdf["length"],
                                             pdf["run_length"]):
                    f.seek(int(off))
                    blob = f.read(int(ln))
                    if len(blob) != int(ln):
                        raise ValueError(f"truncated read at offset {off}")
                    for t in range(int(tid), int(tid) + int(run)):
                        z, x, y = tileid_to_zxy(t)
                        out["zoom"].append(z)
                        out["x"].append(x)
                        out["y"].append(y)
                        out["tile_row"].append((1 << z) - 1 - y)
                        out["png"].append(blob)
                yield pd.DataFrame(out)

    return plan.mapInPandas(
        read_entries,
        "zoom int, x long, y long, tile_row long, png binary")

"""Seeded inputs and their expected outputs.

The seed picks an image-index window; images keep their ``img%08d`` ids so
the package's footprint rule (``fixtures.footprint_from_index``) and its
fast id path apply unchanged. Within the window, images are taken by
stratum — pixel-size class (``i % 4``) x footprint-span class (hash bits
30-31) — with an equal quota per stratum, and all-nodata images are
skipped. Every seed therefore gets the same mix of image sizes and
footprint sizes, so the amount of work per pass does not depend on the
seed, while the pixels, positions and overlaps do.

Expected outputs come from the package's single-process numpy oracle
(``oracle.render_oracle``) plus, for zooms below ``overview_below``, a
direct numpy restatement of the strided overview rule. A shard set is
checked against them tile by tile and blob by blob.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

N_STRATA = 16


def _splitmix64(x):
    from rastertiler_rs_spark.functions.hashing import splitmix64

    return splitmix64(x)


def image_indices(seed: int, n: int) -> list[int]:
    """``n`` image indices for ``seed``, ``n / 16`` from each stratum."""
    if n % N_STRATA:
        raise ValueError(f"n must be a multiple of {N_STRATA}, got {n}")
    start = int(_splitmix64(np.uint64(seed)) % np.uint64(1_000_000)) * 64
    quota = n // N_STRATA
    taken = {k: [] for k in range(N_STRATA)}
    i = start
    while any(len(v) < quota for v in taken.values()):
        block = np.arange(i, i + 256, dtype=np.uint64)
        g = _splitmix64(block)
        span = ((g >> np.uint64(30)) & np.uint64(3)).astype(np.int64)
        blank = ((g >> np.uint64(34)) & np.uint64(7)) == np.uint64(7)
        for j in range(len(block)):
            if blank[j]:
                continue
            k = int((i + j) % 4) * 4 + int(span[j])
            if len(taken[k]) < quota:
                taken[k].append(i + j)
        i += 256
    return sorted(x for v in taken.values() for x in v)


def images_table(indices):
    """The images table (the package's input schema) for ``indices``."""
    import pyarrow as pa

    from rastertiler_rs_spark.fixtures import caption_for_index, encode_image

    ids, blobs, ws, hs, caps = [], [], [], [], []
    for i in indices:
        data, w, h = encode_image(int(i), "u8")
        ids.append(f"img{int(i):08d}")
        blobs.append(data)
        ws.append(w)
        hs.append(h)
        caps.append(caption_for_index(int(i)))
    idx = np.asarray(indices, dtype=np.uint64)
    return pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(ws, pa.int32()),
        "h": pa.array(hs, pa.int32()),
        "fmt": pa.array(["png;u8"] * len(ids), pa.string()),
        "caption": pa.array(caps, pa.string()),
        "phash": pa.array(_splitmix64(idx).astype(np.int64), pa.int64()),
    })


def write_images(path: str, table) -> str:
    """Write an images table to ``path`` as parquet."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=32)
    return path


def tile_digest(tiles) -> str:
    """Order-independent digest of (zoom, x, tile_row, tile_hash) tuples."""
    h = hashlib.blake2b(digest_size=16)
    for t in sorted((int(a), int(b), int(c), int(d)) for a, b, c, d in tiles):
        h.update(np.asarray(t, dtype=np.int64).tobytes())
    return h.hexdigest()


def strided_overviews(tiles, blobs, base: int, minzoom: int, tile_size: int):
    """Zooms [minzoom, base) from the base-zoom tiles by the overview
    rule: a zoom-z pixel is the base-zoom pixel at the odd stride
    position ``2^k - 1 + 2^k * i`` (k = base - z) of the descendant tile
    that covers it; all-nodata canvases are dropped. Returns
    (zoom, x, tile_row, tile_hash) tuples and new blobs."""
    from rastertiler_rs_spark.fixtures import NODATA
    from rastertiler_rs_spark.functions.hashing import xxhash64
    from rastertiler_rs_spark.kernel import encode_tile
    from rastertiler_rs_spark.operators.overview import decode_canvas

    out, new_blobs = [], {}
    base_tiles = [t for t in tiles if t[0] == base]
    for z in range(minzoom, base):
        k = base - z
        step = 1 << k
        fw = tile_size >> k
        canvases: dict[tuple[int, int], np.ndarray] = {}
        for _, x, row, h in base_tiles:
            y = (1 << base) - 1 - row
            canvas = decode_canvas(blobs[h], "u8")
            frag = canvas[step - 1::step, step - 1::step]
            if (frag == NODATA).all():
                continue
            key = (x >> k, y >> k)
            if key not in canvases:
                canvases[key] = np.full((tile_size, tile_size), NODATA, np.uint8)
            r0, c0 = (y & (step - 1)) * fw, (x & (step - 1)) * fw
            canvases[key][r0:r0 + fw, c0:c0 + fw] = frag
        for (x, y), canvas in canvases.items():
            png = encode_tile(canvas, "u8", NODATA)
            h = xxhash64(png)
            new_blobs.setdefault(h, png)
            out.append((z, x, (1 << z) - 1 - y, h))
    return out, new_blobs


def oracle_pyramid(rows, minzoom: int, maxzoom: int, tile_size: int,
                   overview_below: int | None):
    """(tiles, blobs) a pyramid pass over the image ``rows`` must produce,
    from the numpy oracle; tiles are (zoom, x, tile_row, tile_hash)."""
    from rastertiler_rs_spark.oracle import render_oracle

    top = minzoom if overview_below is None else min(max(overview_below, minzoom), maxzoom)
    tiles, blobs = render_oracle(rows, top, maxzoom, tile_size)
    if top > minzoom:
        low, low_blobs = strided_overviews(tiles, blobs, top, minzoom, tile_size)
        tiles = tiles + low
        blobs.update(low_blobs)
    return tiles, blobs


def shard_blob_count(tiles) -> int:
    """Blobs a quadkey-sharded set of ``tiles`` holds: each shard keeps
    one blob per distinct tile hash among its own tiles."""
    from rastertiler_rs_spark.operators.mbtiles_sink import shard_for_tile

    return len({(shard_for_tile(z, x, row), h) for z, x, row, h in tiles})


def merged_tiles(left, right):
    """The tiles of a left-wins merge: every left tile, plus each right
    tile whose (zoom, x, tile_row) the left set does not have."""
    keys = {t[:3] for t in left}
    return list(left) + [t for t in right if t[:3] not in keys]


def merged_blob_count(left, right) -> int:
    """Blobs of a left-wins merge of two sharded sets: per shard, the
    union of both sides' blobs (the merge copies every right blob)."""
    from rastertiler_rs_spark.operators.mbtiles_sink import shard_for_tile

    return len({(shard_for_tile(z, x, row), h) for z, x, row, h in list(left) + list(right)})


def expected_set(tiles, blobs_count: int) -> dict:
    return {"tiles": len(tiles), "blobs": blobs_count, "digest": tile_digest(tiles)}


def shard_bytes(out_dir: str) -> int:
    """Total size of the committed shard files in ``out_dir``."""
    return sum(os.path.getsize(os.path.join(out_dir, n)) for n in os.listdir(out_dir)
               if n.startswith("shard-") and n.endswith(".mbtiles"))


def read_shard_dir(out_dir: str, blobs: dict | None = None) -> dict:
    """Tile count, blob count, digest, byte size and bad-blob count of a
    shard set. A blob is bad when a shard's map names a tile_id its
    images table lacks, or, given the expected ``blobs`` (hash -> PNG),
    when an images row's bytes differ from the expected PNG of its id."""
    import sqlite3

    tiles, n_blobs, bad = [], 0, 0
    for name in sorted(os.listdir(out_dir)):
        if not (name.startswith("shard-") and name.endswith(".mbtiles")):
            continue
        conn = sqlite3.connect(os.path.join(out_dir, name))
        try:
            rows = conn.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_id FROM map").fetchall()
            images = dict(conn.execute("SELECT tile_id, tile_data FROM images"))
        finally:
            conn.close()
        tiles.extend(rows)
        n_blobs += len(images)
        bad += len({r[3] for r in rows} - images.keys())
        if blobs is not None:
            bad += sum(1 for h, data in images.items() if blobs.get(h) != bytes(data))
    return {"tiles": len(tiles), "blobs": n_blobs, "digest": tile_digest(tiles),
            "bytes": shard_bytes(out_dir), "bad_blobs": bad}

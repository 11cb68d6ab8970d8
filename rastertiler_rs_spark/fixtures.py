"""Deterministic synthetic images table + footprint rule (FIXTURES.md §A).

The engine's native input is an Iceberg/parquet table with columns
(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64) per BASELINE.json input_hint. Everything
here derives purely from the row index i through splitmix64, so goldens
are reproducible on any machine with no external data.

The FOOTPRINT RULE is part of the engine contract: each image is placed
on the EPSG:3857 plane as a function of its id. It is evaluated in
three places that must agree bit-for-bit — this module (generator), the
numpy oracle, and the Spark pipeline's footprint UDF — so it lives here
once and is imported everywhere.
"""

from __future__ import annotations

import os

import numpy as np

from . import tilemath as tm
from .functions.hashing import splitmix64
from .png import encode_grayscale8, encode_rgb, rgb_from_u32

# world grid zoom for image placement: 2^ZBASE x 2^ZBASE cells. At
# ZBASE=12 an image spans 0.5-2 cells, i.e. <= ~81 tiles at z14 — the
# fan-out stays bounded for a z0-z14 pyramid (SURVEY.md §4 "cell-cover
# explode sizing").
ZBASE = 12
NODATA = 0
# cached fixtures live in the checkout that holds this package
CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".fixture_cache")

_W_CYCLE = np.array([64, 128, 256, 512], dtype=np.int32)
_H_CYCLE = np.array([64, 128, 192, 512], dtype=np.int32)

_WORDS = [
    "alpine", "basalt", "cirrus", "delta", "eddy", "fjord", "glacier",
    "harbor", "isthmus", "jetty", "karst", "lagoon", "mesa", "nadir",
]


def image_index(image_id):
    """Parse 'img%08d' → i. Vectorized over numpy/pandas string arrays."""
    if isinstance(image_id, str):
        return int(image_id[3:])
    import pandas as pd

    return pd.Series(image_id).str.slice(3).astype(np.int64).to_numpy()


def footprint_from_index(i):
    """THE footprint rule: row index → (minx, miny, maxx, maxy) in
    EPSG:3857. Vectorized. Deterministic via splitmix64(i)."""
    i = np.asarray(i, dtype=np.uint64)
    g = splitmix64(i)
    n = np.uint64(1 << ZBASE)
    cx = np.minimum(g & (n - np.uint64(1)), n - np.uint64(3)).astype(np.float64)
    cy = np.minimum((g >> np.uint64(13)) & (n - np.uint64(1)), n - np.uint64(3)).astype(np.float64)
    ox = ((g >> np.uint64(26)) & np.uint64(3)).astype(np.float64) * 0.25
    oy = ((g >> np.uint64(28)) & np.uint64(3)).astype(np.float64) * 0.25
    span = 0.5 + 0.5 * ((g >> np.uint64(30)) & np.uint64(3)).astype(np.float64)
    cs = tm.CE / float(1 << ZBASE)
    minx = -tm.ORIGIN + (cx + ox) * cs
    maxy = tm.ORIGIN - (cy + oy) * cs
    return minx, maxy - span * cs, minx + span * cs, maxy


def geo_footprint_from_index(i):
    """Geographic (EPSG:4326) footprint rule for the WARP fixtures:
    row index → (minlon, minlat, maxlon, maxlat) in degrees, vectorized
    and deterministic via splitmix64 on an independent stream. Centers
    stay within lon ±150 / lat ±60 and spans within 4-11°, so every
    footprint is strictly inside the mercator-valid band (no clamp ever
    fires) and covers a handful of z4-z6 tiles. The 1048575-denominator
    hash fractions make every projected coordinate "generic": no source
    pixel-index quotient lands near an integer (margin pinned in
    tests/test_warp.py — the cross-engine floor-tie guard)."""
    i = np.asarray(i, dtype=np.uint64)
    g = splitmix64(i + np.uint64(0x9E000101))
    lonc = ((g & np.uint64(0xFFFFF)).astype(np.float64) / 1048575.0) * 300.0 - 150.0
    latc = (((g >> np.uint64(20)) & np.uint64(0xFFFFF)).astype(np.float64)
            / 1048575.0) * 120.0 - 60.0
    span = 4.0 + ((g >> np.uint64(40)) & np.uint64(7)).astype(np.float64)
    minlon = lonc - span * 0.5
    maxlon = lonc + span * 0.5
    minlat = latc - span * 0.35
    maxlat = latc + span * 0.35
    return minlon, minlat, maxlon, maxlat


def generate_images_geo(n: int, dtype_tag: str = "u8"):
    """Images table variant whose georeferencing is GEOGRAPHIC
    (EPSG:4326): input_hint schema + (minlon, minlat, maxlon, maxlat)
    columns — the warp operator's input shape (a 4326 table carries its
    own georef; the mercator footprint rule only defaults the bare
    schema). Pixel content reuses pixel_band, so the warp oracle reuses
    the shared pixel-formula CASE."""
    import pyarrow as pa

    base = generate_images(n, dtype_tag)
    idx = np.arange(n, dtype=np.uint64)
    minlon, minlat, maxlon, maxlat = geo_footprint_from_index(idx)
    for name, arr in (("minlon", minlon), ("minlat", minlat),
                      ("maxlon", maxlon), ("maxlat", maxlat)):
        base = base.append_column(name, pa.array(arr, pa.float64()))
    return base


def images_geo_parquet(n: int, dtype_tag: str = "u8",
                       cache_dir: str = CACHE_DIR) -> str:
    import pyarrow.parquet as pq

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"images_geo_{dtype_tag}_{n}_rg256.parquet")
    if not os.path.exists(path):
        pq.write_table(generate_images_geo(n, dtype_tag), path,
                       row_group_size=256)
    return path


def pixel_band(i: int, w: int, h: int, dtype_tag: str) -> np.ndarray:
    """Deterministic pixel content with nodata holes.

    u8: values 1..255; u32: 24-bit values (1/3 of images low-cardinality
    to exercise the paletted path, else high-cardinality → RGB path).
    Hole rule from hash bits: 1/8 of images have no hole, 1/8 are
    entirely nodata (dropped-tile path), the rest get a rectangular hole
    (partial-nodata path, /root/reference/src/dataset.rs:163-193).
    """
    g = int(splitmix64(np.uint64(i)))
    phash_low = g & 0xFF
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    if dtype_tag == "u8":
        band = ((r * 31 + c * 17 + phash_low) % 255 + 1).astype(np.uint8)
    elif dtype_tag == "u32":
        if i % 3 == 0:
            band = ((r * 7 + c * 3 + phash_low) % 13 + 1).astype(np.uint32)
        else:
            band = ((r * 131071 + c * 8191 + (g & 0xFFFFF)) % ((1 << 24) - 1) + 1).astype(np.uint32)
    else:
        raise ValueError(dtype_tag)

    hole = (g >> 34) & 7
    if hole == 7:
        band[:, :] = NODATA
    elif hole != 0:
        p = min((g >> 37) & 7, 5)
        q = min((g >> 40) & 7, 5)
        band[h * q // 8 : h * (q + 3) // 8, w * p // 8 : w * (p + 3) // 8] = NODATA
    return band


def caption_for_index(i: int) -> str:
    g = int(splitmix64(np.uint64(i + 1_000_003)))
    words = " ".join(_WORDS[(g >> (k * 4)) % len(_WORDS)] for k in range(4))
    return f"caption for img{i:08d}: {words}"


def encode_image(i: int, dtype_tag: str) -> tuple[bytes, int, int]:
    w = int(_W_CYCLE[i % 4])
    h = int(_H_CYCLE[i % 4])
    band = pixel_band(i, w, h, dtype_tag)
    if dtype_tag == "u8":
        data = encode_grayscale8(band, NODATA)
    else:
        data = encode_rgb(rgb_from_u32(band), NODATA)
    return data, w, h


def audio_params(i: int) -> tuple[int, int, int]:
    """Deterministic per-clip WAV parameters (the audio analog of the
    image cycles): (sample_rate, channels, n_frames). Pure integer
    formula — the DuckDB oracle rederives it in SQL."""
    rate = 8000 * (1 + i % 3)
    channels = 1 + (i % 2)
    n_frames = 512 + (i * 193) % 1024
    return rate, channels, n_frames


def audio_samples(i: int) -> np.ndarray:
    """Interleaved int16 PCM: s_k = ((i*7919 + k*2654435761) % 65536)
    - 32768. Same cross-engine trick as the pixel formula: plain modular
    arithmetic, no engine hash."""
    rate, channels, n_frames = audio_params(i)
    k = np.arange(n_frames * channels, dtype=np.int64)
    return ((np.int64(i) * 7919 + k * 2654435761) % 65536 - 32768).astype(np.int16)


def generate_audio(n: int):
    """Audio clips table (audio_id, bytes=RIFF/WAV PCM16, fmt,
    sample_rate, channels) — the audio member of the multimodal family,
    synthesized like the images table."""
    import pyarrow as pa

    from .operators.multimodal import encode_wav

    ids, blobs, rates, chans = [], [], [], []
    for i in range(n):
        rate, channels, _ = audio_params(i)
        ids.append(f"aud{i:08d}")
        blobs.append(encode_wav(audio_samples(i), rate, channels))
        rates.append(rate)
        chans.append(channels)
    return pa.table({
        "audio_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["wav;pcm16"] * n, pa.string()),
        "sample_rate": pa.array(rates, pa.int32()),
        "channels": pa.array(chans, pa.int32()),
    })


def flac_params(i: int) -> tuple[int, int, int]:
    """(sample_rate, channels, n_frames) of FLAC clip i."""
    return 8000 * (1 + i % 3), 1 + (i % 2), 400 + (i * 157) % 600


def flac_sample(i: int, n_total: int) -> np.ndarray:
    """Interleaved int16 samples of clip i: a folded-triangle integer
    wave — piecewise linear, so fixed-predictor residuals are tiny
    between fold points and the rice path does real work (uniform
    noise would push every partition to the raw-escape path)."""
    k = np.arange(n_total, dtype=np.int64)
    return (np.abs(((k + 11 * i) % 256) - 128) * 27 - 1700).astype(np.int16)


def generate_flac_audio(n: int):
    """FLAC clips table (audio_id, bytes=real FLAC, fmt): the stereo
    mode cycles through all four channel assignments plus auto, and
    blocksize 256 forces multi-frame streams, so decode exercises
    frame sync/CRCs, predictors, rice partitions and decorrelation;
    per-sample stats rederive in SQL from flac_params/flac_sample."""
    import pyarrow as pa

    from .media.flac import encode_flac

    ids, blobs = [], []
    for i in range(n):
        rate, ch, nf = flac_params(i)
        s = flac_sample(i, nf * ch)
        samples = s if ch == 1 else s.reshape(nf, ch)
        mode = ("lr", "ms", "ls", "rs", "auto")[i % 5]
        ids.append(f"flc{i:08d}")
        blobs.append(encode_flac(samples, rate, blocksize=256, stereo=mode))
    return pa.table({
        "audio_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["flac"] * n, pa.string()),
    })


def flac_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("flac_audio", generate_flac_audio, n, cache_dir)


def generate_ogg_audio(n: int):
    """Ogg-FLAC clips table (audio_id, bytes=real Ogg pages, fmt):
    clip i reuses the FLAC fixture family at index i+3, so the gate
    leg's values differ from the bare-FLAC leg's while the SQL twin
    stays one formula; decode crosses BOTH codecs (Ogg page walk +
    CRC-32, then the full FLAC frame decode)."""
    import pyarrow as pa

    from .media.ogg import encode_ogg_flac

    ids, blobs = [], []
    for i in range(n):
        rate, ch, nf = flac_params(i + 3)
        s = flac_sample(i + 3, nf * ch)
        samples = s if ch == 1 else s.reshape(nf, ch)
        mode = ("lr", "ms", "ls", "rs", "auto")[i % 5]
        ids.append(f"ogg{i:08d}")
        blobs.append(encode_ogg_flac(samples, rate, blocksize=256,
                                     stereo=mode))
    return pa.table({
        "audio_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["ogg"] * n, pa.string()),
    })


def ogg_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("ogg_audio", generate_ogg_audio, n, cache_dir)


def _cached_parquet(name: str, table_fn, n: int, cache_dir: str) -> str:
    """One copy of the fixture parquet cache convention (path scheme,
    row-group size, write-once) shared by every *_parquet helper."""
    import pyarrow.parquet as pq

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{name}_{n}.parquet")
    if not os.path.exists(path):
        pq.write_table(table_fn(n), path, row_group_size=256)
    return path


def audio_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("audio", generate_audio, n, cache_dir)


def video_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip MP4 parameters: (w, h, fps, n_frames).
    Pure integer formulas; fps always divides 1000 (integral frame
    durations — see media/mp4.encode_mp4). The DuckDB oracle rederives
    them in SQL from the id index."""
    w = 160 + (i % 5) * 32
    h = 120 + (i % 4) * 24
    fps = (10, 20, 25, 40, 50)[i % 5]
    n_frames = 8 + (i * 11) % 17
    return w, h, fps, n_frames


def video_frame_payload(i: int, f: int) -> bytes:
    """Deterministic stored payload for frame f of clip i. Length and
    first byte are simple integer formulas (SQL-expressible — the
    demux oracle checks them); the tail is an LCG fill."""
    length = 64 + (i * 7 + f * 13) % 128
    first = (i + f) % 256
    x = (i * 1_000_003 + f) & (2**64 - 1)
    body = bytearray([first])
    for _ in range(length - 1):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        body.append((x >> 33) & 0xFF)
    return bytes(body)


def generate_videos(n: int):
    """Videos table (video_id, bytes=real ISO BMFF mp4, fmt, plus the
    generation parameters as columns so the oracle can recompute the
    probe/demux outputs in SQL)."""
    import pyarrow as pa

    from .media import encode_mp4

    ids, blobs, ws, hs, fpss, nfs = [], [], [], [], [], []
    for i in range(n):
        w, h, fps, n_frames = video_params(i)
        frames = [video_frame_payload(i, f) for f in range(n_frames)]
        ids.append(f"vid{i:08d}")
        blobs.append(encode_mp4(frames, w, h, fps))
        ws.append(w)
        hs.append(h)
        fpss.append(fps)
        nfs.append(n_frames)
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["mp4;mp4v"] * n, pa.string()),
        "w": pa.array(ws, pa.int32()),
        "h": pa.array(hs, pa.int32()),
        "fps": pa.array(fpss, pa.int32()),
        "n_frames": pa.array(nfs, pa.int32()),
    })


def videos_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("videos", generate_videos, n, cache_dir)


def mjpeg_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip Motion-JPEG parameters: (w, h, fps,
    n_frames). Integer formulas, SQL-rederivable; fps divides 1000."""
    w = 16 + (i % 3) * 8
    h = 8 + (i % 4) * 4
    fps = (10, 25, 50)[i % 3]
    n_frames = 4 + (i % 3)
    return w, h, fps, n_frames


def mjpeg_frame_value(i: int, f: int) -> int:
    """Solid gray value of frame f of MJPEG clip i. Solid frames are
    DC-only, and the baseline JPEG round-trip is bit-exact for every
    solid value at quality 90 (pinned in test_jpeg) — which is what
    lets the DuckDB oracle recompute decoded-pixel stats in closed
    form despite JPEG being lossy in general."""
    return (17 * i + 29 * f + 23) % 256


def generate_mjpeg_videos(n: int):
    """Motion-JPEG videos table: every sample payload is a REAL
    baseline JPEG (jpeg/codec.py) of a solid frame, muxed by the real
    ISO BMFF writer with the 'jpeg' sample-entry fourcc. End-to-end
    decodable with the engine's own codecs."""
    import numpy as np
    import pyarrow as pa

    from .jpeg import encode_jpeg_gray
    from .media import encode_mp4

    ids, blobs = [], []
    for i in range(n):
        w, h, fps, n_frames = mjpeg_params(i)
        frames = [encode_jpeg_gray(
            np.full((h, w), mjpeg_frame_value(i, f), np.uint8), quality=90)
            for f in range(n_frames)]
        ids.append(f"mjp{i:08d}")
        blobs.append(encode_mp4(frames, w, h, fps, codec=b"jpeg"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["mp4;jpeg"] * n, pa.string()),
    })


def mjpeg420_params(i: int) -> tuple[int, int, int]:
    """(w, h, n_frames) for the SUBSAMPLED Motion-JPEG fixture —
    non-MCU-aligned sizes so the 16x16/16x8 MCU walk pads."""
    return 14 + (i % 3) * 9, 10 + (i % 4) * 7, 3 + (i % 3)


def generate_mjpeg420_videos(n: int):
    """Motion-JPEG MP4s whose samples are SUBSAMPLED color JPEGs
    (4:2:0 for even i, 4:2:2 for odd) of solid-gray frames
    v = (23i + 19f + 11) % 256. Solid gray ⇒ Cb=Cr=128 exactly, the
    box-mean downsample is the identity, and the q90 DC round-trip is
    bit-exact for all 256 values (pinned in test_jpeg) — so decoded
    pixel stats stay closed-form for the SQL twin while exercising the
    2x2/2x1 MCU walk and replication upsample end to end."""
    import numpy as np
    import pyarrow as pa

    from .jpeg import encode_jpeg_rgb
    from .media import encode_mp4

    ids, blobs = [], []
    for i in range(n):
        w, h, n_frames = mjpeg420_params(i)
        sampling = "420" if i % 2 == 0 else "422"
        frames = [encode_jpeg_rgb(
            np.full((h, w, 3), (23 * i + 19 * f + 11) % 256, np.uint8),
            quality=90, sampling=sampling) for f in range(n_frames)]
        ids.append(f"mj4{i:08d}")
        blobs.append(encode_mp4(frames, w, h, fps=10, codec=b"jpeg"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["mp4;jpeg"] * n, pa.string()),
    })


def mjpeg420_parquet(n: int,
                     cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("mjpeg420", generate_mjpeg420_videos, n, cache_dir)


def mjpeg_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("mjpeg", generate_mjpeg_videos, n, cache_dir)


def avi_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip AVI parameters: (w, h, fps, n_frames).
    Pure integer formulas, distinct from video_params so the two
    container fixtures never alias; fps always divides 1000 (integral
    durations — see media/avi.encode_avi)."""
    w = 128 + (i % 4) * 16
    h = 96 + (i % 3) * 16
    fps = (8, 25, 40, 125)[i % 4]
    n_frames = 6 + (i * 7) % 11
    return w, h, fps, n_frames


def avi_frame_payload(i: int, f: int) -> bytes:
    """Deterministic stored payload for frame f of AVI clip i. Length
    (48 + (11i+17f) % 160 — odd lengths occur, exercising RIFF word
    alignment) and first byte ((3i+5f) % 256) are SQL-expressible; the
    tail is an LCG fill."""
    length = 48 + (i * 11 + f * 17) % 160
    first = (3 * i + 5 * f) % 256
    x = (i * 2_000_003 + f) & (2**64 - 1)
    body = bytearray([first])
    for _ in range(length - 1):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        body.append((x >> 33) & 0xFF)
    return bytes(body)


def generate_avi_videos(n: int):
    """AVI videos table (video_id, bytes=real RIFF AVI, fmt): real
    container structure (hdrl/movi/idx1) around deterministic filler
    payloads, so probe AND demux outputs are rederivable in SQL."""
    import pyarrow as pa

    from .media import encode_avi

    ids, blobs = [], []
    for i in range(n):
        w, h, fps, n_frames = avi_params(i)
        frames = [avi_frame_payload(i, f) for f in range(n_frames)]
        ids.append(f"avv{i:08d}")
        blobs.append(encode_avi(frames, w, h, fps, codec=b"rawv"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["avi;rawv"] * n, pa.string()),
    })


def avi_videos_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("avi_videos", generate_avi_videos, n, cache_dir)


def avi_mjpeg_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip AVI Motion-JPEG parameters: (w, h, fps,
    n_frames). Integer formulas, SQL-rederivable; fps divides 1000."""
    w = 16 + (i % 4) * 8
    h = 8 + (i % 3) * 8
    fps = (8, 20, 40)[i % 3]
    n_frames = 3 + (i % 4)
    return w, h, fps, n_frames


def avi_mjpeg_frame_value(i: int, f: int) -> int:
    """Solid gray value of frame f of AVI MJPEG clip i (distinct
    formula from the MP4 fixture). Solid baseline-JPEG round-trips are
    bit-exact at q90 (test_jpeg pins all 256 values), which is what
    lets the oracle state decoded stats in closed form."""
    return (31 * i + 13 * f + 7) % 256


def generate_avi_mjpeg(n: int):
    """Motion-JPEG AVI table: every '00dc' chunk is a REAL baseline
    JPEG (jpeg/codec.py) of a solid frame, muxed by the real RIFF
    writer with the MJPG handler fourcc. End-to-end decodable with the
    engine's own codecs — the non-MP4 twin of generate_mjpeg_videos."""
    import numpy as np
    import pyarrow as pa

    from .jpeg import encode_jpeg_gray
    from .media import encode_avi

    ids, blobs = [], []
    for i in range(n):
        w, h, fps, n_frames = avi_mjpeg_params(i)
        frames = [encode_jpeg_gray(
            np.full((h, w), avi_mjpeg_frame_value(i, f), np.uint8), quality=90)
            for f in range(n_frames)]
        ids.append(f"avj{i:08d}")
        blobs.append(encode_avi(frames, w, h, fps, codec=b"MJPG"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["avi;MJPG"] * n, pa.string()),
    })


def avi_mjpeg_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("avi_mjpeg", generate_avi_mjpeg, n, cache_dir)


def webm_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip WebM parameters: (w, h, fps, n_frames).
    Integer formulas distinct from the mp4/avi fixtures; fps divides
    1000 (integral durations — see media/webm.encode_webm)."""
    w = 112 + (i % 5) * 16
    h = 80 + (i % 4) * 16
    fps = (10, 25, 50, 100)[i % 4]
    n_frames = 4 + (i * 9) % 13
    return w, h, fps, n_frames


def webm_frame_payload(i: int, f: int) -> bytes:
    """Deterministic stored payload for frame f of WebM clip i. Length
    (56 + (9i+19f) % 144) and first byte ((7i+11f) % 256) are
    SQL-expressible; the tail is an LCG fill."""
    length = 56 + (i * 9 + f * 19) % 144
    first = (7 * i + 11 * f) % 256
    x = (i * 3_000_017 + f) & (2**64 - 1)
    body = bytearray([first])
    for _ in range(length - 1):
        x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        body.append((x >> 33) & 0xFF)
    return bytes(body)


def generate_webm_videos(n: int):
    """WebM videos table (video_id, bytes=real EBML/Matroska, fmt):
    real container structure (EBML header, Info, Tracks, Clusters of
    SimpleBlocks) around deterministic filler payloads, so probe AND
    demux outputs are rederivable in SQL."""
    import pyarrow as pa

    from .media import encode_webm

    ids, blobs = [], []
    for i in range(n):
        w, h, fps, n_frames = webm_params(i)
        frames = [webm_frame_payload(i, f) for f in range(n_frames)]
        ids.append(f"wbm{i:08d}")
        blobs.append(encode_webm(frames, w, h, fps, codec_id="V_FILL"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["webm;V_FILL"] * n, pa.string()),
    })


def webm_videos_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("webm_videos", generate_webm_videos, n, cache_dir)


def webm_vp8_params(i: int) -> tuple[int, int, int, int]:
    """Deterministic per-clip VP8-in-WebM parameters: (w, h, fps,
    n_frames). Integer formulas, SQL-rederivable; fps divides 1000."""
    w = 32 + (i % 3) * 16
    h = 16 + (i % 2) * 16
    fps = (10, 25, 50)[i % 3]
    n_frames = 3 + (i % 4)
    return w, h, fps, n_frames


def webm_vp8_frame_value(i: int, f: int) -> int:
    """Solid gray value of frame f of VP8 WebM clip i (distinct
    formula from both MJPEG fixtures). Solid VP8 keyframes round-trip
    bit-exactly at qi=0 (test_vp8 pins all 256 values), which is what
    lets the oracle state decoded stats in closed form."""
    return (29 * i + 17 * f + 3) % 256


def generate_webm_vp8(n: int):
    """VP8 WebM table: every SimpleBlock payload is a REAL VP8
    keyframe (webp/vp8.py) of a solid frame at qi=0, muxed by the real
    EBML writer with the V_VP8 codec id. End-to-end decodable with the
    engine's own codecs — the second real video codec family next to
    Motion-JPEG."""
    import numpy as np
    import pyarrow as pa

    from .media import encode_webm
    from .webp.vp8 import encode_vp8_frame

    ids, blobs = [], []
    for i in range(n):
        w, h, fps, n_frames = webm_vp8_params(i)
        frames = [encode_vp8_frame(
            np.full((h, w), webm_vp8_frame_value(i, f), np.uint8), qi=0)
            for f in range(n_frames)]
        ids.append(f"wv8{i:08d}")
        blobs.append(encode_webm(frames, w, h, fps, codec_id="V_VP8"))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["webm;V_VP8"] * n, pa.string()),
    })


def webm_vp8_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("webm_vp8", generate_webm_vp8, n, cache_dir)


def mp3_params(i: int) -> tuple[int, int, int, int, int]:
    """Deterministic per-clip MP3 parameters: (sample_rate, kbps,
    channels, n_frames, pad_every). Integer formulas, SQL-rederivable."""
    sample_rate = (44100, 48000, 32000)[i % 3]
    kbps = (64, 128, 192, 320)[i % 4]
    channels = 1 + (i % 2)
    n_frames = 5 + (i * 13) % 20
    pad_every = i % 4  # 0 = never padded
    return sample_rate, kbps, channels, n_frames, pad_every


def generate_mp3(n: int):
    """MP3 clips table: bytes = real MPEG-1 Layer III framing (valid
    headers, deterministic filler payloads) + the generation parameters
    as columns for the SQL oracle twin."""
    import pyarrow as pa

    from .media import encode_mp3

    ids, blobs, rates, kbpss, chans, nfs, pads = [], [], [], [], [], [], []
    for i in range(n):
        sr, kbps, ch, n_frames, pad_every = mp3_params(i)
        ids.append(f"mp3{i:08d}")
        blobs.append(encode_mp3(n_frames, kbps, sr, ch, pad_every, seed=i))
        rates.append(sr)
        kbpss.append(kbps)
        chans.append(ch)
        nfs.append(n_frames)
        pads.append(pad_every)
    return pa.table({
        "audio_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["mp3"] * n, pa.string()),
        "sample_rate": pa.array(rates, pa.int32()),
        "kbps": pa.array(kbpss, pa.int32()),
        "channels": pa.array(chans, pa.int32()),
        "n_frames": pa.array(nfs, pa.int32()),
        "pad_every": pa.array(pads, pa.int32()),
    })


def mp3_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("mp3", generate_mp3, n, cache_dir)


def mp3_payload_params(i: int) -> tuple[int, int, int]:
    """Deterministic per-clip parameters for the PAYLOAD-family fixture:
    (sample_rate, channels, n_frames). Integer formulas, SQL-rederivable."""
    return (44100, 48000, 32000)[i % 3], 1 + (i % 2), 3 + (i * 5) % 6


def generate_mp3_payload(n: int):
    """MP3 clips whose granule PAYLOADS are real Layer III Huffman data
    (count1 table-B family, media/mp3.py encode_mp3_l3). Spectral values
    follow closed-form integer formulas so a SQL twin can recompute the
    decoded stats: for clip i, frame f, granule g, channel c the granule
    carries nq = 2 + ((i + 2f + 3g + 5c) % 4) quadruples, value at line
    p (p < 4*nq) is ((7i + 3f + 5g + 11c + p) % 3) - 1, and global_gain
    is 210 + 4*((i + f + g + c) % 3) so the requantized spectrum is the
    integer spectrum times 2^((i+f+g+c)%3) exactly."""
    import numpy as np
    import pyarrow as pa

    from .media import encode_mp3_l3

    ids, blobs, rates, chans, nfs = [], [], [], [], []
    for i in range(n):
        sr, ch, n_frames, = mp3_payload_params(i)
        frames = []
        for f in range(n_frames):
            gr = []
            for g in range(2):
                chs = []
                for c in range(ch):
                    nq = 2 + ((i + 2 * f + 3 * g + 5 * c) % 4)
                    p = np.arange(4 * nq, dtype=np.int64)
                    vals = (7 * i + 3 * f + 5 * g + 11 * c + p) % 3 - 1
                    chs.append({"values": vals,
                                "global_gain": 210 + 4 * ((i + f + g + c) % 3)})
                gr.append(chs)
            frames.append(gr)
        ids.append(f"mps{i:08d}")
        blobs.append(encode_mp3_l3(frames, sr, ch))
        rates.append(sr)
        chans.append(ch)
        nfs.append(n_frames)
    return pa.table({
        "audio_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["mp3"] * n, pa.string()),
        "sample_rate": pa.array(rates, pa.int32()),
        "channels": pa.array(chans, pa.int32()),
        "n_frames": pa.array(nfs, pa.int32()),
    })


def mp3_payload_parquet(n: int,
                        cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("mp3_payload", generate_mp3_payload, n, cache_dir)


def generate_images(n: int, dtype_tag: str = "u8"):
    """Build the images table as a pyarrow Table (schema = input_hint)."""
    import pyarrow as pa

    idx = np.arange(n, dtype=np.uint64)
    phash = splitmix64(idx).astype(np.int64)
    ids, blobs, ws, hs, caps = [], [], [], [], []
    for i in range(n):
        data, w, h = encode_image(i, dtype_tag)
        ids.append(f"img{i:08d}")
        blobs.append(data)
        ws.append(w)
        hs.append(h)
        caps.append(caption_for_index(i))
    return pa.table(
        {
            "image_id": pa.array(ids, pa.string()),
            "bytes": pa.array(blobs, pa.binary()),
            "w": pa.array(ws, pa.int32()),
            "h": pa.array(hs, pa.int32()),
            "fmt": pa.array([f"png;{dtype_tag}"] * n, pa.string()),
            "caption": pa.array(caps, pa.string()),
            "phash": pa.array(phash, pa.int64()),
        }
    )


def images_parquet(n: int, dtype_tag: str = "u8", cache_dir: str = CACHE_DIR) -> str:
    """Generate (or reuse) the images table at a cached parquet path."""
    import pyarrow.parquet as pq

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"images_{dtype_tag}_{n}_rg256.parquet")
    if not os.path.exists(path):
        # small row groups so Spark's scan splits the file across tasks
        # (a 10^12-row table arrives as many files/row-groups naturally;
        # a single-row-group fixture would serialize every source scan)
        pq.write_table(generate_images(n, dtype_tag), path, row_group_size=256)
    return path


def canvas_params(w: int = 1024, h: int = 768, seed: int = 5):
    """Single virtual canvas for the halo-exchange entries: same value
    and hole rules as pixel_band(i=seed) but at canvas dims. Returns
    (ph, all_nd, hr0, hr1, hc0, hc1) for the SQL twin."""
    g = int(splitmix64(np.uint64(seed)))
    ph = g & 0xFF
    hole = (g >> 34) & 7
    if hole == 7:
        return ph, 1, 0, 0, 0, 0
    if hole != 0:
        p = min((g >> 37) & 7, 5)
        q = min((g >> 40) & 7, 5)
        return ph, 0, h * q // 8, h * (q + 3) // 8, w * p // 8, w * (p + 3) // 8
    return ph, 0, 0, 0, 0, 0


def canvas_band(w: int = 1024, h: int = 768, seed: int = 5) -> np.ndarray:
    ph, all_nd, hr0, hr1, hc0, hc1 = canvas_params(w, h, seed)
    r, c = np.indices((h, w))
    band = ((r * 31 + c * 17 + ph) % 255 + 1).astype(np.uint8)
    if all_nd:
        band[:] = NODATA
    elif hr1 > hr0:
        band[hr0:hr1, hc0:hc1] = NODATA
    return band


def _tiled_parquet(kind: str, band_fn, w: int, h: int, ts: int,
                   seed: int, cache_dir: str) -> str:
    """``band_fn(w, h, seed)`` split into ts x ts PNG tiles (tx, ty,
    png), cached as ``{kind}_{w}x{h}_{ts}_{seed}.parquet``."""
    import pyarrow as pa

    if w % ts or h % ts:
        raise ValueError("canvas dims must be multiples of the tile size")

    def table(seed: int):
        band = band_fn(w, h, seed)
        txs, tys, pngs = [], [], []
        for ty in range(h // ts):
            for tx in range(w // ts):
                tile = band[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                txs.append(tx)
                tys.append(ty)
                pngs.append(encode_grayscale8(tile, NODATA))
        return pa.table({
            "tx": pa.array(txs, pa.int64()),
            "ty": pa.array(tys, pa.int64()),
            "png": pa.array(pngs, pa.binary()),
        })

    return _cached_parquet(f"{kind}_{w}x{h}_{ts}", table, seed, cache_dir)


def tiled_canvas_parquet(w: int = 1024, h: int = 768, ts: int = 128,
                         seed: int = 5,
                         cache_dir: str = CACHE_DIR) -> str:
    """The canvas split into ts x ts PNG tiles: (tx, ty, png). The
    engine only ever sees the TILES — reconstructing cross-border
    stencils is the halo operator's job."""
    return _tiled_parquet("canvas", canvas_band, w, h, ts, seed, cache_dir)


def region_canvas_band(w: int = 256, h: int = 192,
                       seed: int = 5) -> np.ndarray:
    """Quantized canvas for the REGION-LABELING entry: the diagonal
    formula collapsed to 4 plateau values (1..4) so equal-value
    regions exist, cut by nodata grid lines at strides 23/29 — coprime
    to every tile size used, so regions straddle tile borders in both
    axes. Every clause is integer and restated verbatim by the DuckDB
    twin; the grid bounds region size, keeping the twin's transitive
    closure tractable."""
    ph = int(splitmix64(np.uint64(seed))) & 0xFF
    r, c = np.indices((h, w))
    band = (((r * 31 + c * 17 + ph) % 255 + 1) // 64 + 1).astype(np.uint8)
    band[(r % 23 == 7) | (c % 29 == 11)] = NODATA
    return band


def region_canvas_parquet(w: int = 256, h: int = 192, ts: int = 64,
                          seed: int = 5,
                          cache_dir: str = CACHE_DIR) -> str:
    """region_canvas_band split into ts x ts PNG tiles: (tx, ty, png)."""
    return _tiled_parquet("regions", region_canvas_band, w, h, ts, seed,
                          cache_dir)


# ---------------------------------------------------------------- GeoTIFF

def geotiff_params() -> tuple[int, int, tuple, int]:
    """Constants of the deterministic GeoTIFF fixture: (width, height,
    engine affine, rows_per_strip). One 512px block spans 1.5 z9 tiles
    and the origin sits on a z9 tile corner, so block boundaries land on
    quarter-/eighth-tile fractions at z7-z9 — every block/tile overlap
    is >= 16 tile pixels at ts=128, no read window can round empty, and
    the emitted tile-ID set provably equals the exact SQL cover (same
    argument as q_render_tile_ids's quarter-cell alignment)."""
    t9 = tm.CE / 512.0                       # z9 tile span
    a = 1.5 * t9 / 512.0
    x0 = -tm.ORIGIN + 100.0 * t9
    y0 = tm.ORIGIN - 80.0 * t9
    return 1536, 1024, (a, 0.0, x0, 0.0, -a, y0), 512


def geotiff_band(w: int, h: int) -> np.ndarray:
    """Fully-opaque deterministic u8 band (never NODATA=0)."""
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return (1 + (r * 31 + c * 17) % 255).astype(np.uint8)


def _cached_geotiff(name: str, params, cache_dir: str, **kw) -> str:
    """``geotiff_band`` written once at ``params``' size and affine as
    ``{name}.tif``; ``kw`` picks the layout (write_geotiff's options)."""
    from .geotiff import write_geotiff

    os.makedirs(cache_dir, exist_ok=True)
    w, h, transform, _rps = params
    path = os.path.join(cache_dir, f"{name}.tif")
    if not os.path.exists(path):
        write_geotiff(path, geotiff_band(w, h), transform, NODATA, **kw)
    return path


def geotiff_fixture(cache_dir: str = CACHE_DIR) -> str:
    """Write (or reuse) the cached multi-strip GeoTIFF fixture."""
    w, h, _, rps = params = geotiff_params()
    return _cached_geotiff(f"fixture_{w}x{h}_rps{rps}", params, cache_dir,
                           rows_per_strip=rps)


def geotiff_geo_params() -> tuple[int, int, tuple, int]:
    """Constants of the GEOGRAPHIC (EPSG:4326) GeoTIFF fixture:
    (width, height, degree affine, rows_per_strip). The affine's
    hash-fraction origin/scale keep every warp floor quotient (tile
    cover AND per-pixel source index, z4-z6) far from integers — the
    transcendental cross-engine margin, scanned+pinned in
    tests/test_warp.py."""
    a = 0.00791237                            # degrees / pixel
    x0 = -43.177311
    y0 = 36.911523
    return 1536, 1024, (a, 0.0, x0, 0.0, -a, y0), 256


def geotiff_geo_fixture(cache_dir: str = CACHE_DIR) -> str:
    """Write (or reuse) the cached EPSG:4326 multi-strip GeoTIFF
    fixture (same deterministic fully-opaque band as the mercator
    fixture — the oracle restates it in global pixel coordinates)."""
    w, h, _, rps = params = geotiff_geo_params()
    return _cached_geotiff(f"fixture_geo_{w}x{h}_rps{rps}", params,
                           cache_dir, epsg=4326, rows_per_strip=rps)


def geotiff_cog_fixture(cache_dir: str = CACHE_DIR) -> str:
    """Write (or reuse) the COG-layout twin of the GeoTIFF fixture:
    same pixels and affine, but tiled 512x512 + deflate + horizontal
    predictor (GDAL's usual COG recipe). 1536x1024 divides evenly into
    512-tiles, so the block grid — and therefore the footprint set the
    exact-cover oracle derives — is IDENTICAL to the strip fixture
    chopped at block_cols=512."""
    w, h, _, _ = params = geotiff_params()
    return _cached_geotiff(f"fixture_{w}x{h}_cog512", params, cache_dir,
                           tile_size=512, compression="deflate", predictor=2)


def geotiff_bigtiff_fixture(cache_dir: str = CACHE_DIR) -> str:
    """BigTIFF (TIFF v43, 64-bit offsets) twin of the COG fixture:
    identical pixels, 512-tile block grid, deflate + predictor — only
    the container layout differs, so the exact-cover oracle footprints
    are the same as the strip/COG legs'. This is the layout any >4 GB
    cloud-optimized raster must use."""
    w, h, _, _ = params = geotiff_params()
    return _cached_geotiff(f"fixture_{w}x{h}_cog512_big", params, cache_dir,
                           tile_size=512, compression="deflate", predictor=2,
                           bigtiff=True)


# ------------------------------------------------------------ GIF videos

def gif_params(i: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of animated-GIF clip i."""
    return 16 + (i % 3) * 8, 12 + (i % 2) * 8, 2 + i % 3


def gif_palette(i: int) -> np.ndarray:
    """(8, 3) uint8 palette with closed-form channel values."""
    p = np.arange(8, dtype=np.int64)
    r = (11 * i + 17 * p + 3) % 256
    g = (7 * i + 23 * p + 5) % 256
    b = (13 * i + 29 * p + 11) % 256
    return np.stack([r, g, b], axis=1).astype(np.uint8)


def gif_frame_index(i: int, f: int) -> int:
    """Palette index of clip i's (solid) frame f."""
    return (i + 2 * f) % 8


def gif_frame_delay(i: int, f: int) -> int:
    """Per-frame delay in centiseconds."""
    return 4 + (i + f) % 5


def generate_gif_videos(n: int):
    """Animated-GIF clips table (video_id, bytes=real GIF89a, fmt):
    full-frame solid frames over the closed-form palette, so composed
    per-frame RGB stats and probe fields rederive in SQL from
    gif_params/gif_palette/gif_frame_index/gif_frame_delay alone."""
    import pyarrow as pa

    from .gif import encode_gif

    ids, blobs = [], []
    for i in range(n):
        w, h, nf = gif_params(i)
        frames = [{"indices": np.full((h, w), gif_frame_index(i, f),
                                      np.uint8),
                   "delay_cs": gif_frame_delay(i, f)}
                  for f in range(nf)]
        ids.append(f"gif{i:06d}")
        blobs.append(encode_gif(frames, gif_palette(i)))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["gif;anim"] * n, pa.string()),
    })


def gif_videos_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("gif_videos", generate_gif_videos, n, cache_dir)


def webpanim_params(i: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of animated-WebP clip i."""
    return 12 + (i % 3) * 6, 10 + (i % 2) * 6, 2 + i % 3


def webpanim_channel(i: int, f: int, c: int) -> int:
    """Solid value of channel c (0=R 1=G 2=B 3=A) in clip i's frame f."""
    return ((19, 23, 29, 17)[c] * i + (31, 37, 41, 43)[c] * f
            + (13, 5, 3, 11)[c]) % 256


def webpanim_duration(i: int, f: int) -> int:
    """Per-frame duration in milliseconds."""
    return 30 + (3 * i + 5 * f) % 40


def generate_webpanim_videos(n: int):
    """Animated-WebP clips table (video_id, bytes=real VP8X+ANIM, fmt):
    full-canvas solid RGBA frames whose payloads are VP8L lossless (so
    the pixel round-trip is exact), letting composed per-frame RGBA
    stats and probe fields rederive in SQL from webpanim_params /
    webpanim_channel / webpanim_duration alone. Sub-rect placement,
    blending and disposal are pinned separately in tests/test_webp.py."""
    import pyarrow as pa

    from .webp import encode_webp_anim

    ids, blobs = [], []
    for i in range(n):
        w, h, nf = webpanim_params(i)
        frames = []
        for f in range(nf):
            rgba = np.empty((h, w, 4), np.uint8)
            for c in range(4):
                rgba[:, :, c] = webpanim_channel(i, f, c)
            frames.append({"rgba": rgba,
                           "duration_ms": webpanim_duration(i, f)})
        ids.append(f"wan{i:06d}")
        blobs.append(encode_webp_anim(w, h, frames))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["webp;anim"] * n, pa.string()),
    })


def webpanim_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("webpanim_videos", generate_webpanim_videos, n,
                           cache_dir)


def apng_params(i: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of APNG clip i."""
    return 10 + (i % 3) * 7, 8 + (i % 2) * 5, 2 + i % 3


def apng_channel(i: int, f: int, c: int) -> int:
    """Solid value of channel c (0=R 1=G 2=B 3=A) in clip i's frame f."""
    return ((29, 31, 37, 41)[c] * i + (43, 47, 53, 59)[c] * f
            + (17, 23, 3, 7)[c]) % 256


def apng_duration(i: int, f: int) -> int:
    """Per-frame duration in milliseconds."""
    return 20 + (7 * i + 11 * f) % 50


def generate_apng_videos(n: int):
    """APNG clips table (video_id, bytes=real acTL/fcTL/fdAT APNG,
    fmt): full-canvas solid RGBA frames, blend=source — PNG is
    lossless, so composed per-frame RGBA stats and probe fields
    rederive in SQL from apng_params / apng_channel / apng_duration
    alone. Sub-rect placement, over-blending and all three disposal
    modes are pinned separately in tests/test_apng.py."""
    import pyarrow as pa

    from .png import encode_apng

    ids, blobs = [], []
    for i in range(n):
        w, h, nf = apng_params(i)
        frames = []
        for f in range(nf):
            rgba = np.empty((h, w, 4), np.uint8)
            for c in range(4):
                rgba[:, :, c] = apng_channel(i, f, c)
            frames.append({"rgba": rgba,
                           "duration_ms": apng_duration(i, f)})
        ids.append(f"apg{i:06d}")
        blobs.append(encode_apng(w, h, frames))
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "fmt": pa.array(["apng"] * n, pa.string()),
    })


def apng_parquet(n: int, cache_dir: str = CACHE_DIR) -> str:
    return _cached_parquet("apng_videos", generate_apng_videos, n,
                           cache_dir)

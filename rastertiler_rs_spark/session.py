"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

import re
import warnings

from pyspark.sql import DataFrame, SparkSession


def env_int(name: str, default: int, lo: int = 1, hi: int | None = None) -> int:
    """Defensive integer env-var parse: malformed values warn and fall
    back to the default instead of crashing a whole job with an opaque
    ValueError; out-of-range values clamp to [lo, hi]."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        v = int(raw)
    except ValueError:
        warnings.warn(f"{name}={raw!r} is not an integer; using {default}")
        return default
    if v < lo:
        warnings.warn(f"{name}={v} below minimum {lo}; clamping")
        return lo
    if hi is not None and v > hi:
        warnings.warn(f"{name}={v} above maximum {hi}; clamping")
        return hi
    return v


def _env_size(name: str, default: str) -> str:
    """Validate a Spark byte-size env var (e.g. '8m', '128k', '1g');
    malformed values warn and fall back instead of failing session
    startup with a Spark config parse error."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    if re.fullmatch(r"\d+[bkmgt]?", raw.strip().lower()):
        return raw.strip()
    warnings.warn(f"{name}={raw!r} is not a byte size (e.g. '8m'); using {default}")
    return default


def local_frame(spark: SparkSession, rows, ddl) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``ddl`` column
    order; ``ddl`` is a DDL string or a StructType) — the one way the
    package builds a frame from a Python list.

    ``createDataFrame(list)`` is ``parallelize`` plus a Python map, so
    every collect, broadcast or scan of it runs a PythonRDD job, in a
    second worker pool that the Arrow UDF stages' warm workers do not
    serve. Built from a pyarrow Table typed by the DDL instead, the
    frame is a JVM LocalRelation: collecting or broadcasting it starts
    no job and no Python worker, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Scanned by a
    stage, it splits into min(rows, defaultParallelism) partitions."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    schema = ddl if isinstance(ddl, StructType) else _parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table([pa.array(c, type=f.type)
                      for c, f in zip(cols, arrow_schema)],
                     schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def get_spark(app: str = "rastertiler_rs_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] session tuned for this engine.

    On a real cluster the same configs apply (AQE, Arrow, UTC); master
    and memory come from spark-submit instead.
    """
    if cpus is None:
        cpus = env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = SparkSession.builder
    # only default the master when no spark-submit launched us:
    # code-level .master() OVERRIDES spark-submit's --master, so
    # setting it unconditionally would silently turn a cluster
    # submission into a driver-local run. Under spark-submit the
    # driver JVM (carrying --master) is already up and exported via
    # the py4j gateway env (tests/test_spark_submit.py pins this).
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-boundary batching (guide §4.2): bound batches by BYTES
        # (Spark 4's direct knob — 16m ≈ the old 256-record cap at the
        # worst-case 64 KB tile row, so fat-row stages keep the same
        # peak memory) and let NARROW rows batch at the 10k default.
        # The previous blanket maxRecordsPerBatch=256 — sized for tile
        # rows — starved every narrow-row python stage (Misra-Gries
        # sketch over single tokens, stratified-sample prune, blocked
        # matmul) with 256-row batches: ~40x more per-batch python+Arrow
        # overhead than needed, and it UNDER-bounded fat image rows
        # (256 x ~500 KB source images = way past the intended 16 MB).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # split scans finer than the 128m default (sf-dir parquet is
        # small; 8m keeps small-query task counts sane while still
        # splitting multi-file tables). The render pipeline no longer
        # depends on scan splits at all: its map side (footprint +
        # cover explode) is pure JVM codegen and its Python stages sit
        # behind explicit repartitions. Round 2's global 4m setting —
        # which existed to parallelize the then-Python footprint stage —
        # doubled every small query's scan tasks and showed up in the
        # driver bench; don't re-tighten this session-wide.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        # wrapping 64-bit hash arithmetic must not throw (Spark 4 ANSI default)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory",
                _env_size("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

"""EXACT distributed quantiles — the order statistic Spark only
approximates (approx_percentile); an analytics engine over billions
of rows wants the exact answer when the value domain is bounded
(integer cents, pixel values, token counts, durations in ms).

Algorithm: the classic two-phase distributed PREFIX SUM over the
value-count table —

1. groupBy(value) count — the shuffle is bounded by DISTINCT values,
   not rows (map-side combine), which is what makes exact quantiles
   tractable at 100 TB for bounded domains;
2. range-repartition by value, cumulative-sum WITHIN each partition
   (a window over the partition, spillable), and add each
   partition's prefix offset (per-partition totals are a P-row
   driver collect — the knn pattern of tiny bounded collects);
3. a quantile at basis points p over n rows is the smallest value
   whose cumulative count ≥ k, with k = (p·n + 9999) // 10000 — the
   integer ceiling, so the rank rule is engine-exact and the DuckDB
   twin restates it verbatim (`quant` leg of stream_events).

No global single-task window anywhere: the only unpartitioned state
is the P-row offset table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from ._lineage import persisted, round_parts


def exact_quantiles(df: DataFrame, col: str,
                    ps_basis_points: list[int]) -> DataFrame:
    """One row per requested quantile: (p_bp, value, n_total, k) with
    value = the exact order statistic of integer column ``col`` at
    rank k = ceil(p_bp·n / 10000) (smallest value whose cumulative
    count reaches k). p_bp = 5000 is the median."""
    if not ps_basis_points:
        raise ValueError("need at least one quantile")
    for p in ps_basis_points:
        if not 0 < int(p) <= 10000:
            raise ValueError(f"basis points {p} outside (0, 10000]")
    spark = df.sparkSession
    n_parts = round_parts(df)

    with persisted(df.select(F.col(col).cast("long").alias("v"))
                   .groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
                   .repartitionByRange(n_parts, "v")
                   .withColumn("pid", F.spark_partition_id())) as counts:
        ptot = sorted((r.pid, r.tot) for r in counts.groupBy("pid")
                      .agg(F.sum("cnt").alias("tot")).collect())
        n_total = sum(t for _, t in ptot)
        if n_total == 0:
            raise ValueError(f"exact_quantiles over empty column {col!r}")
        offs, acc = [], 0
        for pid, tot in ptot:
            offs.append((pid, acc))
            acc += tot
        off_df = local_frame(spark, offs, "pid int, off long")
        cum = (counts.join(F.broadcast(off_df), "pid")
               .withColumn("cum", F.sum("cnt").over(
                   Window.partitionBy("pid").orderBy("v")
                   .rowsBetween(Window.unboundedPreceding, 0))
                   + F.col("off")))
        ks = [(int(p), (int(p) * n_total + 9999) // 10000)
              for p in ps_basis_points]
        k_df = local_frame(spark, ks, "p_bp long, k long")
        # the smallest value reaching rank k is the UNIQUE row with
        # cum ≥ k and cum − cnt < k, so the join emits exactly one row
        # per quantile (the min is belt-and-braces). MATERIALIZE while
        # the ranged counts are still cached: the offsets were derived
        # from the cached partitioning, and a lazy consumer evaluated
        # after unpersist would RE-SAMPLE the range exchange and can
        # assign boundary values different pids than the offsets assume
        # (observed: answers off by a few ranks, run-dependent).
        rows = (cum.join(F.broadcast(k_df),
                         (F.col("cum") >= F.col("k"))
                         & (F.col("cum") - F.col("cnt") < F.col("k")))
                .groupBy("p_bp", "k")
                .agg(F.min("v").alias("value"))
                .select("p_bp", "value",
                        F.lit(n_total).cast("long").alias("n_total"),
                        "k")).collect()
        return local_frame(
            spark, rows, "p_bp long, value long, n_total long, k long")

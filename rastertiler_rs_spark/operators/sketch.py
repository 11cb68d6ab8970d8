"""MISRA-GRIES HEAVY HITTERS, distributed — exact frequent items
without shuffling the full key space.

The 100 TB problem: `GROUP BY key` over a high-cardinality column
shuffles every distinct key; when only the φ-frequent keys matter
(hot users, hot tokens, hot tiles), that shuffle is almost entirely
waste.  The mergeable-summaries route (Misra–Gries 1982; merge rule
from Agarwal et al., "Mergeable Summaries", PODS 2012):

1. SKETCH, map-side only: each partition folds its rows into a
   k-counter Misra-Gries summary (mapInPandas — the one imperative
   step; batch-vectorized via value_counts, then the merge-and-prune
   rule: add counts, subtract the (k+1)-th largest from all, drop
   non-positive).  Each prune removes ≥ (k+1)·sub mass, so the total
   subtracted per partition is ≤ n_p/(k+1): any key with LOCAL count
   > n_p/(k+1) survives its partition's summary.
2. CANDIDATES: the union of partition summaries (≤ k·P tiny rows).
   If a key's global count exceeds N/(k+1) then some partition has
   local count > n_p/(k+1) (otherwise summing the contrapositive
   bounds the global count by N/(k+1)) — so the union is a guaranteed
   SUPERSET of every global (N/(k+1))-heavy key, independent of how
   rows are partitioned.
3. VERIFY, exact: one broadcast semi-join of the raw rows against the
   candidate set + a partial-aggregated count (map-side combine on ≤
   k·P keys), filtered by count·(k+1) > N in exact integers.

The output is therefore EXACT — identical to the full GROUP BY +
HAVING — which is what lets a plain SQL twin sit under the value
gate; the sketch only bounds WHICH keys can reach the verify pass.
Two passes over the source by design (the classic 2-pass exact heavy
hitters); at scale persist the projected key column or accept the
re-scan — both beat shuffling the full key space.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def mg_merge(counters: dict, batch_counts: dict, k: int) -> dict:
    """Fold exact batch counts into a Misra-Gries summary, pruned to
    ≤ k counters: add, then subtract the (k+1)-th largest value from
    every counter and keep the strictly positive ones."""
    for key, c in batch_counts.items():
        counters[key] = counters.get(key, 0) + int(c)
    if len(counters) > k:
        vals = sorted(counters.values(), reverse=True)
        sub = vals[k]
        counters = {key: v - sub for key, v in counters.items() if v > sub}
    return counters


def frequent_items(rows: DataFrame, key_col: str, k: int) -> DataFrame:
    """→ (key, n, total): every key whose exact count satisfies
    n·(k+1) > total, with its exact count and the exact row total —
    equal to the full GROUP BY + HAVING, computed via per-partition
    Misra-Gries sketches + one broadcast-verified exact pass."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = rows.select(F.col(key_col).cast("string").alias("key"))

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_p = 0
        # accumulate Arrow batches to ~64k keys before each
        # value_counts+merge: per-merge cost is amortized over the
        # chunk, so the sketch's python overhead is independent of the
        # session's Arrow batch sizing (the MG summary is a superset
        # of heavy keys for ANY chunking; the exact verify pass makes
        # the final result identical either way)
        chunks: list[pd.Series] = []
        buffered = 0
        for pdf in batches:
            # total counts every row (null keys included, matching the
            # SQL COUNT(*)); null keys can never become candidates
            n_p += len(pdf)
            chunks.append(pdf["key"])
            buffered += len(pdf)
            if buffered >= 65536:
                counters = mg_merge(
                    counters, pd.concat(chunks).value_counts().to_dict(), k)
                chunks, buffered = [], 0
        if chunks:
            counters = mg_merge(
                counters, pd.concat(chunks).value_counts().to_dict(), k)
        # sentinel row (key NULL) carries the partition's row count so
        # the exact total needs no extra job
        yield pd.DataFrame({
            "key": list(counters.keys()) + [None],
            "n": np.array(list(counters.values()) + [n_p], dtype="int64"),
        })

    # the exact total rides the ≤ (k+1)·P tiny summary rows as a
    # window column, so the candidate set has one consumer and the
    # map-side sketch pass runs once (a second consumer would re-run
    # it: Catalyst does not reuse exchanges under python stages)
    cands = (keys.mapInPandas(sketch, "key string, n long")
             .withColumn("total", F.sum(F.when(F.col("key").isNull(),
                                               F.col("n")))
                         .over(Window.partitionBy()))
             .where(F.col("key").isNotNull())
             .select("key", "total").distinct())
    return (keys.join(F.broadcast(cands), "key")
            .groupBy("key", "total").agg(F.count("*").alias("n"))
            .where(F.col("n") * F.lit(k + 1) > F.col("total"))
            .select("key", "n", "total"))


# ---------------------------------------------------------------------------
# HYPERLOGLOG approx-distinct (Flajolet-Fuchs-Gandouet-Meunier 2007).
# The register TABLE is the sketch: (register, rho_max), mergeable by
# elementwise max — union two streams' registers with groupBy-max and
# the estimate of the union falls out, the property that makes HLL the
# 100 TB count-distinct (per shard/day/partition sketches roll up
# without re-reading data). Registers are exact integers, so the whole
# sketch sits under the SQL value gate; only the final estimate is
# float, and that is a driver-side formula over ≤ 2^p rows.
# ---------------------------------------------------------------------------


def _rho_cols(h, p: int, bits: int):
    """(register, rho) from a non-negative-suffix hash: register = top
    p bits, rho = 1-based position of the first 1 in the remaining
    (bits-p)-bit suffix, bits-p+1 when the suffix is 0.  floor(log2)
    via length(bin(w)) — an exact string op with identical semantics in
    Spark and DuckDB (no float log)."""
    q = bits - p
    if bits == 64:
        idx = F.shiftrightunsigned(h, q)
    else:
        idx = F.shiftright(h, q)
    w = h.bitwiseAND(F.lit((1 << q) - 1))
    rho = F.when(w == F.lit(0), F.lit(q + 1)).otherwise(
        F.lit(q + 1) - F.length(F.bin(w)))
    return idx.cast("int").alias("register"), rho.cast("long").alias("rho")


def hll_registers(rows: DataFrame, key_col: str, p: int = 8) -> DataFrame:
    """→ (register, rho_max), 2^p registers max: the HyperLogLog
    sketch of `key_col` via the engine's JVM xxhash64 (bit-identical
    to functions/hashing.xxhash64 on the key's little-endian bytes —
    pinned in tests). Whole pipeline is built-in column exprs + one
    2^p-key groupBy; merge sketches by unioning and re-aggregating."""
    if not 2 <= p <= 18:
        raise ValueError("p must be in [2, 18]")
    reg, rho = _rho_cols(F.xxhash64(F.col(key_col)), p, 64)
    return rows.select(reg, rho).groupBy("register").agg(
        F.max("rho").alias("rho_max"))


def hll_registers_int(rows: DataFrame, key_col: str, p: int = 6,
                      a: int = 48271, b: int = 11) -> DataFrame:
    """SQL-twin variant for the value gate: a Lehmer-style 31-bit hash
    (key·a + b) mod (2^31 − 1) — exact in BIGINT for |key| < 2^44 on
    both engines — then the same register/rho rule over 31 bits. The
    engine default is hll_registers (xxhash64); this leg exists so the
    register/rho/merge PLUMBING is value-verified by DuckDB."""
    h = (F.col(key_col) * F.lit(a) + F.lit(b)) % F.lit((1 << 31) - 1)
    reg, rho = _rho_cols(h, p, 31)
    return rows.select(reg, rho).groupBy("register").agg(
        F.max("rho").alias("rho_max"))


def hll_estimate(registers: dict[int, int], p: int) -> float:
    """Bias-corrected HLL estimate from a collected register table
    (missing registers = 0), with the standard small-range linear
    counting switch."""
    import math

    m = 1 << p
    z = sum(2.0 ** -registers.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    e = alpha * m * m / z
    zeros = m - sum(1 for j in range(m) if registers.get(j, 0) > 0)
    if e <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return e


def sample_bottom_k(rows: DataFrame, id_col: str, k: int,
                    hash_expr=None, keep_cols: tuple = ()) -> DataFrame:
    """BOTTOM-K (KMV) deterministic sample: the k rows whose hashed ids
    are smallest, ties broken by id — a uniform-without-replacement
    sample that is DETERMINISTIC (re-runs and re-partitions agree),
    MERGEABLE (bottom-k of a union = bottom-k of the concatenated
    bottom-k's — per-shard samples roll up without re-reading), and
    doubles as the KMV distinct-count estimator via the k-th smallest
    hash (kmv_distinct_estimate). Catalyst plans orderBy+limit as
    TakeOrderedAndProject: per-partition top-k heaps + a k-row merge —
    no global sort, no shuffle of non-sample rows.

    hash_expr defaults to the engine's JVM xxhash64 of the id column;
    pass an explicit Column (e.g. the Lehmer hash) for a SQL-twinnable
    variant. Output: (id, h, rank, *keep_cols) with rank 1..k in hash
    order.

    ``keep_cols`` rides payload columns THROUGH the top-k heaps so the
    caller never joins back to fetch them: without it, materializing
    the sampled rows' content costs a SECOND full corpus scan + a
    broadcast join — per-partition heap memory grows by k x payload,
    which is the cheap side of that trade at every scale."""
    if k < 1:
        raise ValueError("k must be >= 1")

    h = F.xxhash64(F.col(id_col)) if hash_expr is None else hash_expr
    top = (rows.select(F.col(id_col).alias("id"), h.alias("h"),
                       *[F.col(c) for c in keep_cols])
           .orderBy("h", "id").limit(k))
    w = Window.orderBy("h", "id")
    return top.select("id", "h",
                      F.row_number().over(w).cast("long").alias("rank"),
                      *keep_cols)


def kmv_distinct_estimate(kth_hash_unit: float, k: int) -> float:
    """KMV estimator: with k-th smallest hash mapped to (0,1) as u,
    distinct ≈ (k − 1)/u (Bar-Yossef et al. 2002)."""
    if not 0 < kth_hash_unit <= 1:
        raise ValueError("kth hash must be in (0, 1]")
    return (k - 1) / kth_hash_unit


def stratified_bottom_k(rows: DataFrame, stratum_col: str, id_col: str,
                        k: int, hash_expr=None) -> DataFrame:
    """STRATIFIED deterministic sample: the k rows with smallest
    hashed id PER STRATUM (per-language / per-source quotas — the
    training-data mix-balancing primitive), ties broken by id.
    Deterministic and mergeable per stratum like sample_bottom_k.

    Plan: a LOCAL per-partition prune first (each input partition
    keeps at most k rows per stratum it sees — pandas sort+head, no
    state beyond the partition), so the stratum shuffle moves at most
    k·strata·partitions pruned rows, never the corpus; the final
    exact rank is a Window over the pruned set. A hot stratum
    therefore costs one task sorting ≤ k·partitions rows — bounded by
    parallelism, not by the stratum's corpus share (the skew story a
    plain Window-over-everything lacks).

    hash_expr defaults to JVM xxhash64(id); pass a Column (e.g. the
    Lehmer hash) for a SQL-twinnable variant. Output: (stratum, id,
    h, rank) with rank 1..k per stratum in hash order."""
    if k < 1:
        raise ValueError("k must be >= 1")

    h = F.xxhash64(F.col(id_col)) if hash_expr is None else hash_expr
    hashed = rows.select(F.col(stratum_col).alias("stratum"),
                         F.col(id_col).alias("id"), h.alias("h"))

    def prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # stream batches, keep a running ≤k-per-stratum frontier so
        # the task never holds more than k·strata rows
        best: pd.DataFrame | None = None
        for pdf in batches:
            cat = pdf if best is None else pd.concat((best, pdf))
            best = (cat.sort_values(["h", "id"])
                    .groupby("stratum", sort=False).head(k))
        yield (best if best is not None
               else pd.DataFrame({"stratum": [], "id": [], "h": []}))

    pruned = hashed.mapInPandas(prune, hashed.schema)
    w = Window.partitionBy("stratum").orderBy("h", "id")
    return (pruned
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))

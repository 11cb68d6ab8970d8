"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side F.aggregate/F.zip_with dot products
  (no Python in the hot path) — the correctness baseline;
- integer-scaled variant: embeddings quantized to int64 before the dot
  product, so scores are associativity-proof and bit-comparable across
  engines (used for the DuckDB oracle contract);
- LSH-bucketed variant (random-hyperplane signs): the scale path — each
  query probes only its bucket (+ optional multi-probe), turning the
  O(N*Q) scan into a bucket equi-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm2(a):
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """vectors(vec_id, embedding) x queries(qid, qemb) → top-k by cosine.
    (qid, vec_id, score, rank); ties broken by vec_id."""
    ve = F.col("embedding").cast("array<double>")
    qe = F.col("qemb").cast("array<double>")
    # hoist the norm folds OUT of the crossJoin: each is a 64-element
    # fold recomputed per (vector, query) pair when written inline —
    # computing them once per row/query cuts the per-pair work to the
    # dot fold alone. Bit-identical: the same IEEE fold over the same
    # inputs yields the same double, and the product/compare/sqrt are
    # correctly rounded, so scores (and the tie-broken ranking the
    # oracle hashes) cannot move.
    # broadcast hint: queries are the small side by contract; without it
    # AQE usually picks the same plan, but the hint removes the risk of a
    # shuffled BNLJ on a big corpus
    # zero-norm guard: 0/0 is NaN and Spark sorts NaN ABOVE every real
    # double, so an all-zero padding vector would take rank 1 for every
    # query — score it -inf instead (identity for nonzero norms)
    vn = vectors.select("vec_id", ve.alias("_ve"), _norm2(ve).alias("_vn"))
    qn = queries.select("qid", qe.alias("_qe"), _norm2(qe).alias("_qn"))
    nrm = F.col("_vn") * F.col("_qn")
    scored = vn.crossJoin(F.broadcast(qn)).select(
        "qid", "vec_id",
        F.when(nrm > 0, _dot(F.col("_ve"), F.col("_qe")) / F.sqrt(nrm))
        .otherwise(F.lit(float("-inf"))).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def dot_topk_int(vectors: DataFrame, queries: DataFrame, k: int, scale: int = 1024) -> DataFrame:
    """Deterministic integer-quantized dot-product top-k: embeddings →
    floor(x*scale) int64, dot = integer sum (associative ⇒ engine-
    independent). (qid, vec_id, dot, rank)."""
    scored = vectors.withColumn(
        "vi", _quant(F.col("embedding"), scale)).crossJoin(
        F.broadcast(queries.withColumn("qi", _quant(F.col("qemb"), scale)))
    ).select(
        "qid", "vec_id",
        F.aggregate(F.zip_with("vi", "qi", lambda x, y: x * y), F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("dot"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def dot_topk_int_blocked(vectors: DataFrame, queries: DataFrame, k: int,
                         scale: int = 1024) -> DataFrame:
    """Exact integer top-k as a BLOCKED MATRIX PRODUCT — the scale-sane
    form of the exact baseline. Same results as dot_topk_int (integer
    dots are associative, so blocking cannot change them; equality
    pinned in tests/test_embedding.py), different physical plan:

    - the query set (small by contract: queries are the thing you have
      few of) is collected once and broadcast as one int64 matrix;
    - each corpus Arrow batch computes batch x queries dots in ONE
      numpy matmul (BLAS, cache-blocked) instead of exploding a row per
      (vector, query) pair through a crossJoin — per-pair cost drops
      from a JVM fold over a 64-element array to a fused multiply-add;
    - each batch keeps only its top-k per query (sorted by the SAME
      (-dot, vec_id) rule as the final ranking, so blocking preserves
      the exact tie-broken global top-k), shrinking the shuffle into
      the final ranking to O(batches * queries * k) rows instead of
      O(corpus * queries).

    At 100 TB: corpus stays partition-parallel with zero data movement
    until the tiny candidate shuffle; memory per task is one Arrow
    batch + the query matrix. For huge query sets use the LSH/IVF
    paths instead (hyperplane_bucket / ivf_topk) — this is the exact
    path.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    qrows = queries.select("qid", "qemb").collect()  # contract: small set
    if not qrows:
        # an empty qmat would be 1-D and crash the executor matmul; the
        # declarative twin returns empty — match it
        return local_frame(spark, [],
                           "qid long, vec_id long, dot long, rank int")
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.floor(
        np.array([r["qemb"] for r in qrows], dtype=np.float64) * scale
    ).astype(np.int64)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qmat_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            emat = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * scale
            ).astype(np.int64)
            dots = emat @ qmat_.T  # (batch, nq) int64
            kk = min(k, len(pdf))
            out_q, out_v, out_d = [], [], []
            for j in range(nq):
                col = dots[:, j]
                # exact per-batch top-k under the global ordering
                # (-dot, vec_id): lexsort keys are applied last-first
                order = np.lexsort((vec_ids, -col))[:kk]
                out_q.append(np.full(kk, qids_[j], dtype=np.int64))
                out_v.append(vec_ids[order])
                out_d.append(col[order])
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "vec_id": np.concatenate(out_v),
                "dot": np.concatenate(out_d),
            })

    cand = vectors.select("vec_id", "embedding").mapInPandas(
        fn, "qid long, vec_id long, dot long")
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_bucket(emb_col, n_planes: int = 8, dim: int = 64, seed: int = 42):
    """Random-hyperplane LSH bucket id (column expr): sign pattern of
    ``n_planes`` deterministic pseudo-random hyperplanes. Plane p,
    dim d weight = ((xxhash64(seed,p,d) % 1000)/500 - 1)."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        dot = F.lit(0.0)
        for d in range(dim):
            # pmod, NOT %: Spark's % keeps the dividend's sign, which
            # would fold a large common -(1,..,1) component into every
            # plane (bucket collapse); pmod keeps weights symmetric in
            # [-1, 0.998]
            w = (F.pmod(F.xxhash64(F.lit(seed), F.lit(p), F.lit(d)),
                        F.lit(1000))).cast("double") / 500.0 - 1.0
            dot = dot + F.element_at(emb_col, d + 1).cast("double") * w
        bucket = bucket + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return bucket


def kmeans_centroids(vectors: DataFrame, n_lists: int, iters: int = 2) -> DataFrame:
    """Lloyd's k-means over the embedding column in DataFrame ops:
    init = the ``n_lists`` lowest vec_ids, then per iteration one
    assignment scan (broadcast centroids, cosine argmax) + one
    per-dimension groupBy avg. Centroids stay a broadcast-sized
    DataFrame (n_lists rows); per-iteration cost is linear scans — the
    standard distributed k-means shape. Returns (cent_id, cemb)."""
    spark = vectors.sparkSession
    dim = len(vectors.select("embedding").first()["embedding"])
    cents = (vectors.orderBy("vec_id").limit(n_lists)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").cast("array<double>").alias("cemb")))
    init_rows = cents.collect()
    if len(init_rows) < n_lists:
        raise ValueError(
            f"k-means needs >= n_lists vectors: got {len(init_rows)} "
            f"for n_lists={n_lists}")
    cents = local_frame(
        spark, [(i, list(r["cemb"])) for i, r in enumerate(init_rows)],
        "cent_id int, cemb array<double>")
    ve = F.col("embedding").cast("array<double>")
    ce = F.col("cemb")
    for _ in range(iters):
        w = Window.partitionBy("vec_id").orderBy(F.col("_cs").desc(), "cent_id")
        assigned = (
            vectors.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "cent_id",
                    F.when(_norm2(ve) * _norm2(ce) > 0,
                           _dot(ve, ce) / F.sqrt(_norm2(ve) * _norm2(ce)))
                    .otherwise(F.lit(float("-inf"))).alias("_cs"))
            .withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1)
        )
        means = (
            assigned.select("cent_id", F.posexplode(ve).alias("pos", "v"))
            .groupBy("cent_id", "pos").agg(F.avg("v").alias("m"))
            .groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cent_id", F.transform("pm", lambda s: s["m"]).alias("cemb"))
        )
        # empty clusters keep their previous centroid
        new_rows = {r["cent_id"]: list(r["cemb"]) for r in means.collect()}
        old_rows = {r["cent_id"]: list(r["cemb"]) for r in cents.collect()}
        cents = local_frame(
            spark,
            [(cid, new_rows.get(cid, old_rows[cid])) for cid in range(n_lists)],
            "cent_id int, cemb array<double>")
    assert dim == len(cents.first()["cemb"])
    return cents


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int,
             n_lists: int = 16, nprobe: int = 2, kmeans_iters: int = 2) -> DataFrame:
    """IVF-style ANN: a coarse quantizer of ``n_lists`` k-means
    centroids (Lloyd's, kmeans_centroids) partitions vectors into
    inverted lists; each query probes its ``nprobe`` nearest lists and
    ranks exactly (cosine) within them. The 100 TB path: the N x Q scan
    becomes a list-id equi-join where each query touches
    ~nprobe/n_lists of the data; centroids are a broadcast-sized side.
    """
    cents = kmeans_centroids(vectors, n_lists, kmeans_iters)
    ce = F.col("cemb")

    def assign(df, emb_name, keep, n_best):
        e = F.col(emb_name).cast("array<double>")
        scored = df.crossJoin(F.broadcast(cents)).select(
            *keep, "cent_id",
            F.when(_norm2(e) * _norm2(ce) > 0,
                   _dot(e, ce) / F.sqrt(_norm2(e) * _norm2(ce)))
            .otherwise(F.lit(float("-inf"))).alias("_cs"),
        )
        w = Window.partitionBy(*keep).orderBy(F.col("_cs").desc(), "cent_id")
        return (scored.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= n_best)
                .select(*keep, F.col("cent_id").alias("list_id")))

    v_lists = assign(vectors, "embedding", ["vec_id"], 1).join(vectors, "vec_id")
    q_probes = assign(queries, "qemb", ["qid"], nprobe).join(queries, "qid")

    ve = F.col("embedding").cast("array<double>")
    qe = F.col("qemb").cast("array<double>")
    scored = v_lists.join(q_probes, "list_id").select(
        "qid", "vec_id",
        (_dot(ve, qe) / F.sqrt(_norm2(ve) * _norm2(qe))).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def plane_weights_int(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-500, 499]: a pure
    modular-arithmetic formula (no engine hash), so the SAME constants
    are derivable in any engine — the cross-engine-verifiable analog of
    hyperplane_bucket's xxhash64 weights."""
    return [[((1 + (p * dim + d) * 2654435761) % 1000) - 500
             for d in range(dim)] for p in range(n_planes)]


def _quant(col, scale: int):
    return F.transform(col, lambda x: F.floor(x.cast("double") * scale).cast("long"))


def lsh_topk_int(vectors: DataFrame, queries: DataFrame, k: int,
                 n_planes: int = 6, dim: int = 64, scale: int = 1024) -> DataFrame:
    """Hyperplane-LSH ANN with integer-only math end to end: quantized
    embeddings, integer plane weights, integer dots — every intermediate
    is a BIGINT, so bucket assignment and ranking are bit-identical
    across engines (this is the DuckDB-oracle-checkable twin of
    lsh_topk). Same scale shape: bucket equi-join, no all-pairs."""
    weights = plane_weights_int(n_planes, dim)

    def bucket(emb_int):
        b = F.lit(0).cast("long")
        for p, w in enumerate(weights):
            warr = F.array(*[F.lit(v).cast("long") for v in w])
            dot = F.aggregate(F.zip_with(emb_int, warr, lambda x, y: x * y),
                              F.lit(0).cast("long"), lambda acc, v: acc + v)
            b = b + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        return b

    vb = vectors.withColumn("vi", _quant(F.col("embedding"), scale)).withColumn(
        "bucket", bucket(F.col("vi")))
    qb = queries.withColumn("qi", _quant(F.col("qemb"), scale)).withColumn(
        "bucket", bucket(F.col("qi")))
    scored = vb.join(qb, "bucket").select(
        "qid", "vec_id",
        F.aggregate(F.zip_with("vi", "qi", lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda acc, v: acc + v).alias("dot"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_int(vectors: DataFrame, n_lists: int, iters: int = 2,
               scale: int = 1024, dim: int = 64) -> list[list[int]]:
    """Lloyd's k-means on integer-quantized embeddings, fully
    deterministic: init = the ``n_lists`` lowest vec_ids' vectors,
    assignment = integer squared-L2 argmin (ties → lower centroid id),
    update = per-dim floor(sum/count). Centroids are a driver-side list
    (broadcast-sized: n_lists*dim ints); the per-iteration work is one
    assignment scan + one groupBy — the standard distributed k-means
    shape. Returns the final centroid matrix."""
    vi = vectors.select("vec_id", _quant(F.col("embedding"), scale).alias("vi"))
    cents = [list(r["vi"]) for r in vi.orderBy("vec_id").limit(n_lists).collect()]
    if len(cents) < n_lists:
        raise ValueError(
            f"k-means needs >= n_lists vectors: got {len(cents)} "
            f"for n_lists={n_lists}")
    for _ in range(iters):
        assigned = vi.withColumn("list_id", _argmin_dist(F.col("vi"), cents))
        sums = (
            assigned.select("list_id", F.posexplode("vi").alias("pos", "v"))
            .groupBy("list_id", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_list: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_list.setdefault(r["list_id"], {})[r["pos"]] = (r["s"], r["n"])
        new_cents = []
        for cid in range(n_lists):
            if cid in by_list:
                d = by_list[cid]
                # floor(sum/count) via float: |sum| <= scale*N, exact in
                # double; quotient never within 2^-40 of an integer
                # unless exactly integral — same expression in the oracle
                new_cents.append([int(math.floor(d[p][0] * 1.0 / d[p][1]))
                                  for p in range(dim)])
            else:  # empty cluster keeps its previous centroid
                new_cents.append(cents[cid])
        cents = new_cents
    return cents


def _argmin_dist(vi_col, cents: list[list[int]]):
    """Index of the nearest centroid by integer squared L2; ties break
    to the lower index via struct ordering of (dist, idx)."""
    alts = []
    for idx, c in enumerate(cents):
        carr = F.array(*[F.lit(v).cast("long") for v in c])
        d2 = F.aggregate(F.zip_with(vi_col, carr, lambda x, y: (x - y) * (x - y)),
                         F.lit(0).cast("long"), lambda acc, v: acc + v)
        alts.append(F.struct(d2.alias("d2"), F.lit(idx).alias("idx")))
    return F.array_min(F.array(*alts))["idx"]


def _argmin_ranks(vi_col, cents: list[list[int]], n_best: int):
    """The n_best nearest centroid ids, ascending by (dist, idx)."""
    alts = []
    for idx, c in enumerate(cents):
        carr = F.array(*[F.lit(v).cast("long") for v in c])
        d2 = F.aggregate(F.zip_with(vi_col, carr, lambda x, y: (x - y) * (x - y)),
                         F.lit(0).cast("long"), lambda acc, v: acc + v)
        alts.append(F.struct(d2.alias("d2"), F.lit(idx).alias("idx")))
    ordered = F.array_sort(F.array(*alts))
    return F.slice(F.transform(ordered, lambda s: s["idx"]), 1, n_best)


def ivf_topk_int(vectors: DataFrame, queries: DataFrame, k: int,
                 n_lists: int = 8, nprobe: int = 2, iters: int = 2,
                 scale: int = 1024, dim: int = 64) -> DataFrame:
    """IVF ANN with a real (Lloyd's) coarse quantizer, integer math end
    to end: k-means centroids from kmeans_int, vectors assigned to their
    nearest list, queries probe ``nprobe`` lists, exact integer-dot
    ranking within the probed lists. Every value BIGINT ⇒ bit-identical
    across engines. 100 TB shape: centroids broadcast (literal arrays),
    candidate generation is a list_id equi-join touching ~nprobe/n_lists
    of the data."""
    cents = kmeans_int(vectors, n_lists, iters, scale, dim)
    vb = vectors.withColumn("vi", _quant(F.col("embedding"), scale)).withColumn(
        "list_id", _argmin_dist(F.col("vi"), cents))
    qb = queries.withColumn("qi", _quant(F.col("qemb"), scale)).withColumn(
        "list_id", F.explode(_argmin_ranks(F.col("qi"), cents, nprobe)))
    scored = vb.join(qb, "list_id").select(
        "qid", "vec_id",
        F.aggregate(F.zip_with("vi", "qi", lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda acc, v: acc + v).alias("dot"),
    ).groupBy("qid", "vec_id").agg(F.max("dot").alias("dot"))  # dedup multi-probe hits
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def build_ivf_index(vectors: DataFrame, index_dir: str, n_lists: int = 8,
                    iters: int = 2, scale: int = 1024,
                    dim: int = 64) -> dict:
    """Persist an IVF index: train once, query many — the ANN shape a
    100 TB corpus actually runs (re-training the coarse quantizer per
    query batch would dominate at scale).

    Writes ``index_dir``/vectors parquet PARTITIONED BY list_id (each
    posting list is its own partition directory, so a probe prunes to
    nprobe/n_lists of the FILES — partition pruning, not a scan
    filter) and ``index_dir``/centroids.json (broadcast-sized, stored
    driver-side). Returns the index metadata dict."""
    import json
    import os

    cents = kmeans_int(vectors, n_lists, iters, scale, dim)
    vb = (vectors.withColumn("vi", _quant(F.col("embedding"), scale))
          .withColumn("list_id", _argmin_dist(F.col("vi"), cents)))
    (vb.select("vec_id", "vi", "list_id")
       .write.mode("overwrite").partitionBy("list_id")
       .parquet(f"{index_dir}/vectors"))
    meta = {"n_lists": n_lists, "scale": scale, "dim": dim,
            "centroids": [[int(x) for x in c] for c in cents]}
    tmp = f"{index_dir}/centroids.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{index_dir}/centroids.json")
    return meta


def ivf_query_index(spark, index_dir: str, queries: DataFrame, k: int,
                    nprobe: int = 2) -> DataFrame:
    """Probe a persisted IVF index (build_ivf_index): quantize queries
    with the stored scale, rank the stored centroids, and equi-join on
    list_id against the partitioned posting lists — Catalyst turns the
    probed-list predicate into PartitionFilters, so only nprobe/n_lists
    of the index files are read. Identical ranking semantics (and
    therefore identical results) to ivf_topk_int on the same inputs."""
    import json

    with open(f"{index_dir}/centroids.json") as f:
        meta = json.load(f)
    cents = meta["centroids"]
    vb = spark.read.parquet(f"{index_dir}/vectors")
    qb = (queries.withColumn("qi", _quant(F.col("qemb"), meta["scale"]))
          .withColumn("list_id", F.explode(
              _argmin_ranks(F.col("qi"), cents, nprobe))))
    scored = vb.join(qb, "list_id").select(
        "qid", "vec_id",
        F.aggregate(F.zip_with("vi", "qi", lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
        .alias("dot"),
    ).groupBy("qid", "vec_id").agg(F.max("dot").alias("dot"))
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _pq_subvectors(vi_df: DataFrame, m: int, dsub: int) -> DataFrame:
    """Explode quantized vectors into (vec_id, m, sv) subspace rows —
    the row shape both PQ training and encoding scan."""
    return vi_df.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(mm).cast("int").alias("m"),
                     F.slice("vi", mm * dsub + 1, dsub).alias("sv"))
            for mm in range(m)])).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_argmin(sv_col, m_col, cents: list[list[list[int]]]):
    """Nearest sub-codeword id by integer squared L2 within the row's
    subspace (ties → lower cid). The codebooks ride along as ONE
    literal [m][cid][dsub] array indexed by the subspace column, so
    assignment stays a pure JVM expression over the exploded rows."""
    lit3d = F.array(*[
        F.array(*[F.array(*[F.lit(v).cast("long") for v in c]) for c in cm])
        for cm in cents])
    cm = F.element_at(lit3d, m_col + F.lit(1))
    alts = []
    for cid in range(len(cents[0])):
        carr = F.element_at(cm, cid + 1)
        d2 = F.aggregate(F.zip_with(sv_col, carr, lambda x, y: (x - y) * (x - y)),
                         F.lit(0).cast("long"), lambda acc, v: acc + v)
        alts.append(F.struct(d2.alias("d2"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*alts))["cid"]


def pq_train(vectors: DataFrame, m: int = 8, ksub: int = 4, iters: int = 2,
             scale: int = 1024, dim: int = 64) -> list[list[list[int]]]:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): ONE Lloyd's
    k-means per subspace, trained jointly over the exploded
    (vec_id, m, sv) rows so all m quantizers share each iteration's
    single assignment scan + single groupBy — same deterministic
    conventions as kmeans_int (init = the ksub lowest vec_ids' slices,
    ties → lower cid, update = per-dim floor(sum/count)), so the whole
    training is DuckDB-expressible. Returns cents[m][cid] → dsub ints."""
    dsub = dim // m
    vi = vectors.select("vec_id", _quant(F.col("embedding"), scale).alias("vi"))
    init_rows = vi.orderBy("vec_id").limit(ksub).collect()
    cents = [[list(r["vi"])[mm * dsub:(mm + 1) * dsub] for r in init_rows]
             for mm in range(m)]
    sv = _pq_subvectors(vi, m, dsub)
    for _ in range(iters):
        assigned = sv.withColumn("cid", _pq_argmin(F.col("sv"), F.col("m"), cents))
        sums = (assigned.select("m", "cid", F.posexplode("sv").alias("pos", "v"))
                .groupBy("m", "cid", "pos")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect())  # m*ksub*dsub rows — driver-side by design
        by_key: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_key.setdefault((r["m"], r["cid"]), {})[r["pos"]] = (r["s"], r["n"])
        new_cents = []
        for mm in range(m):
            row = []
            for cid in range(ksub):
                d = by_key.get((mm, cid))
                if d:
                    # floor(sum/count) via double: exact for these
                    # magnitudes, same expression in the oracle (see
                    # kmeans_int for the ulp argument)
                    row.append([int(math.floor(d[p][0] * 1.0 / d[p][1]))
                                for p in range(dsub)])
                else:  # empty cluster keeps its previous codeword
                    row.append(cents[mm][cid])
            new_cents.append(row)
        cents = new_cents
    return cents


def pq_topk_int(vectors: DataFrame, queries: DataFrame, k: int,
                m: int = 8, ksub: int = 4, iters: int = 2,
                scale: int = 1024, dim: int = 64) -> DataFrame:
    """PQ asymmetric-distance top-k — the compressed-domain exhaustive
    scan that complements IVF at 100 TB: after training, the scan side
    carries only m small codes per vector (vs dim raw components —
    16× lighter at these defaults), and each query precomputes its ADC
    table (m·ksub partial inner products against the codebooks) ONCE.
    approx_dot(q, v) = Σ_m ⟨q_sub_m, codeword(v.code_m)⟩, realized as a
    broadcast equi-join of the exploded code rows against the tiny
    (qid, m, cid, pdot) table + a groupBy sum — no raw-vector reads, no
    all-pairs arithmetic beyond the m-term sum. Integer end to end ⇒
    bit-identical across engines (DuckDB-oracle-checkable)."""
    dsub = dim // m
    cents = pq_train(vectors, m, ksub, iters, scale, dim)
    vi = vectors.select("vec_id", _quant(F.col("embedding"), scale).alias("vi"))
    codes = _pq_subvectors(vi, m, dsub).select(
        "vec_id", "m", _pq_argmin(F.col("sv"), F.col("m"), cents).alias("cid"))
    qi = queries.select("qid", _quant(F.col("qemb"), scale).alias("qi"))
    legs = []
    for mm in range(m):
        for cid in range(ksub):
            carr = F.array(*[F.lit(v).cast("long") for v in cents[mm][cid]])
            pdot = F.aggregate(
                F.zip_with(F.slice("qi", mm * dsub + 1, dsub), carr,
                           lambda x, y: x * y),
                F.lit(0).cast("long"), lambda acc, v: acc + v)
            legs.append(F.struct(F.lit(mm).cast("int").alias("m"),
                                 F.lit(cid).cast("int").alias("cid"),
                                 pdot.alias("pdot")))
    qtab = qi.select("qid", F.explode(F.array(*legs)).alias("t")).select(
        "qid", F.col("t.m").alias("m"), F.col("t.cid").alias("cid"),
        F.col("t.pdot").alias("pdot"))
    scored = (codes.join(F.broadcast(qtab), ["m", "cid"])
              .groupBy("qid", "vec_id")
              .agg(F.sum("pdot").alias("dot")))
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def neardup_pairs_int(vec_int: DataFrame, threshold_x100: int = 90,
                      n_planes: int = 24, n_bands: int = 3,
                      dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-family member
    for embedding columns: all (vec_a < vec_b) pairs whose cosine
    similarity is >= threshold_x100/100, found WITHOUT an all-pairs
    scan.

    Input is pre-quantized integer vectors (vec_id, vi array<bigint>)
    — see _quant — so every intermediate (band buckets, dot, norms, the
    threshold test itself) is BIGINT and bit-identical across engines.

    100 TB shape (same blocking idiom as minhash_lsh/simhash/phash):
      1. each vector hashes to ``n_bands`` band buckets (sign pattern of
         ``n_planes/n_bands`` integer hyperplanes per band — weights
         from the public modular formula, plane_weights_int);
      2. candidates = self-equi-join on (band, bucket) with
         vec_a < vec_b, distinct — near-identical vectors flip few
         signs, so they collide in >= 1 band w.h.p. (recall, like every
         LSH method, is probabilistic-by-construction but DETERMINISTIC
         for a given input: the oracle mirrors the same pipeline);
      3. verify exactly in integers: accept iff dot > 0 and
         10000*dot^2 >= thr^2 * n2a * n2b  (squared cosine test —
         divisions/sqrts never materialize; compared in decimal(38,0)
         so quantization scales >= 1024 cannot silently wrap int64).

    No all-pairs anywhere: the join is a bucket equi-join; at 10^9+
    vectors raise planes-per-band so bucket occupancy stays bounded.
    """
    if n_planes % n_bands:
        raise ValueError(
            "n_bands must divide n_planes evenly "
            f"(got n_planes={n_planes}, n_bands={n_bands})")
    per_band = n_planes // n_bands
    weights = plane_weights_int(n_planes, dim)

    def band_bucket(vi_col, band: int):
        b = F.lit(0).cast("long")
        for i in range(per_band):
            w = weights[band * per_band + i]
            warr = F.array(*[F.lit(v).cast("long") for v in w])
            dot = F.aggregate(F.zip_with(vi_col, warr, lambda x, y: x * y),
                              F.lit(0).cast("long"), lambda acc, v: acc + v)
            b = b + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long"))
        return b

    banded = vec_int.select(
        "vec_id", "vi",
        F.explode(F.array(*[
            F.struct(F.lit(band).alias("band"),
                     band_bucket(F.col("vi"), band).alias("bucket"))
            for band in range(n_bands)])).alias("bb"),
    ).select("vec_id", "vi", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))

    left = banded.select(F.col("vec_id").alias("vec_a"),
                         F.col("vi").alias("va"), "band", "bucket")
    right = banded.select(F.col("vec_id").alias("vec_b"),
                          F.col("vi").alias("vb"), "band", "bucket")
    cand = (left.join(right, ["band", "bucket"])
            .filter(F.col("vec_a") < F.col("vec_b")))

    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    n2 = lambda c: F.aggregate(c, F.lit(0).cast("long"),  # noqa: E731
                               lambda acc, v: acc + v * v)
    thr = int(threshold_x100)
    verified = cand.select(
        "vec_a", "vec_b", dot.alias("dot"),
        n2(F.col("va")).alias("n2a"), n2(F.col("vb")).alias("n2b"),
    ).filter((F.col("dot") > 0)
             # decimal(38,0) comparison: at quantization scales >= 1024
             # thr^2*n2a*n2b can exceed 2^63 and (ANSI off) would WRAP
             # silently — decimals keep the test exact to ~1e38
             & (F.lit(10000).cast("decimal(38,0)")
                * F.col("dot") * F.col("dot")
                >= F.lit(thr * thr).cast("decimal(38,0)")
                * F.col("n2a") * F.col("n2b")))
    # a pair can collide in several bands — integer rows, exact distinct
    return verified.distinct()


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int, n_planes: int = 6,
             dim: int = 64) -> DataFrame:
    """ANN top-k: cosine ranking within the query's hyperplane bucket.
    Approximate (standard LSH recall tradeoff) — the 100 TB scan path;
    brute-force cosine_topk is the small/exact path."""
    vb = vectors.withColumn("bucket", hyperplane_bucket(F.col("embedding"), n_planes, dim))
    qb = queries.withColumn("bucket", hyperplane_bucket(F.col("qemb"), n_planes, dim))
    ve = F.col("embedding").cast("array<double>")
    qe = F.col("qemb").cast("array<double>")
    nrm = _norm2(ve) * _norm2(qe)
    scored = vb.join(qb, "bucket").select(
        "qid", "vec_id",
        F.when(nrm > 0, _dot(ve, qe) / F.sqrt(nrm))
        .otherwise(F.lit(float("-inf"))).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sq8_topk(vectors: DataFrame, queries: DataFrame,
             k: int) -> DataFrame:
    """SQ8 (per-vector max-abs scalar quantization) asymmetric top-k —
    the standard 4× ANN compression beside PQ: each vector stores
    int8 codes q_i = floor((x_i·127)/m + 0.5) with its own scale
    m = max|x_i|; scoring decompresses nothing — the integer code
    dot is rescaled by (dot·m_v)·m_q for ranking. All ops crossing
    the engines are exact ints or correctly-rounded doubles over
    identical inputs (max/·/÷/floor), so the DuckDB twin is
    bit-identical — the embedding_cosine fold discipline. Exact/small
    broadcast shape like dot_topk_int; the blocked-matmul pattern
    (dot_topk_int_blocked) is the drop-in scale path for the code
    scan. Output (qid, vec_id, dot, rank); zero vectors (m = 0) carry
    all-zero codes."""
    if k < 1:
        raise ValueError("k must be >= 1")

    def maxabs(col):
        return F.array_max(
            F.transform(col, lambda x: F.abs(x.cast("double"))))

    def q8(col, m):
        return F.transform(
            col, lambda x: F.when(
                m > 0,
                F.floor((x.cast("double") * 127.0) / m + 0.5))
            .otherwise(F.lit(0)).cast("long"))

    v = vectors.select(
        "vec_id", F.col("embedding").alias("ve"),
        maxabs(F.col("embedding")).alias("vm"))
    v = v.select("vec_id", "vm", q8(F.col("ve"), F.col("vm")).alias("vq"))
    q = queries.select(
        "qid", F.col("qemb").alias("qe"),
        maxabs(F.col("qemb")).alias("qm"))
    q = q.select("qid", "qm", q8(F.col("qe"), F.col("qm")).alias("qq"))
    scored = v.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id", "vm", "qm",
        F.aggregate(F.zip_with("vq", "qq", lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("dot"))
    scored = scored.select(
        "qid", "vec_id", "dot",
        ((F.col("dot").cast("double") * F.col("vm")) * F.col("qm"))
        .alias("score"))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "vec_id", "dot", "rank"))

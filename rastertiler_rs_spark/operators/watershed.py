"""WATERSHED DELINEATION — D8 basin labeling over a tiled DEM, the
hydrology flagship built from the engine's existing pieces: the halo
exchange supplies each tile its neighbor strips (successors cross
tile borders), the D8 argmax (halo.d8_direction — exact-integer
cross-multiplied slopes) turns pixels into a FUNCTIONAL GRAPH (one
out-edge per pixel, pits are self-loops), and POINTER DOUBLING
resolves every pixel to its terminal pit: J₀ = succ,
J_{k+1}(v) = J_k(J_k(v)) — pits absorb, so ceil(log₂ depth) rounds
suffice (depth is bounded by the strictly-decreasing elevation along
any flow path, ≤ the value range).

Scale shape: per round ONE self-join on the jump table + ONE 1-row
convergence count (pointers not yet at a pit) — the components.py
discipline: the round loop is `_lineage.fixpoint` (pinned repartition,
lazy lineage cut, superseded round released after the next round's
action). Rows never exceed one per valid pixel; the only collect is
the canvas width, once per call.

Nodata discipline: a nodata-neighbor drop is masked to −1 (nothing
flows into nodata); canvas-border pixels therefore drain inward or
become pits — every valid pixel gets a label.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame
from ._lineage import (NotConverged, cut, fixpoint, materialize,
                       persisted, round_parts, unchanged)
from .halo import _D8_OFFSETS, _halo_apply, d8_direction


def _successors(tiles: DataFrame, ts: int,
                nodata: int) -> tuple[DataFrame, int]:
    """(pixel_successors, canvas width W); W = ts without tiles."""
    mx = tiles.agg(F.max("tx")).collect()[0][0]
    if mx is None:
        return local_frame(tiles.sparkSession, [], "v long, p long"), ts
    width = (int(mx) + 1) * ts

    def per_tile(tx: int, ty: int, pad: np.ndarray) -> dict | None:
        c = pad[1:-1, 1:-1]
        valid = c != nodata
        if not valid.any():
            return None
        drops = []
        for dr, dc, _ in _D8_OFFSETS:
            nb = pad[1 + dr:1 + dr + ts, 1 + dc:1 + dc + ts]
            drops.append(np.where(nb == nodata, np.int64(-1), c - nb))
        dirs = d8_direction(drops)
        rr, cc = np.nonzero(valid)
        gid = (ty * ts + rr).astype(np.int64) * width + (tx * ts + cc)
        d = dirs[rr, cc]
        succ = gid.copy()
        for i, (dr, dc, _) in enumerate(_D8_OFFSETS):
            m = d == i
            succ[m] = gid[m] + dr * width + dc
        return {"v": gid, "p": succ}

    return (_halo_apply(tiles, ts, nodata, True, per_tile, "v long, p long"),
            width)


def pixel_successors(tiles: DataFrame, tile_size: int,
                     nodata: int = 0) -> DataFrame:
    """(v, p): global pixel id → D8 successor id (self for
    pits/flats), one row per valid pixel. v = row·W + col in global
    canvas coordinates; W is derived from the tile grid with one tiny
    aggregate."""
    return _successors(tiles, int(tile_size), nodata)[0]


def _labels(succ: DataFrame, max_rounds: int = 48) -> DataFrame:
    """watershed_labels over a successor table."""
    n_parts = round_parts(succ)
    with persisted(succ.repartition(n_parts, "v")) as succ:
        pits = succ.filter(F.col("v") == F.col("p")).select("v")

        def step(jump: DataFrame) -> DataFrame:
            hop = jump.select(F.col("v").alias("p"),
                              F.col("p").alias("p2"))
            return jump.join(hop, "p").select("v", F.col("p2").alias("p"))

        def converged(jump: DataFrame) -> bool:
            # no row whose pointer has not yet reached a pit
            return jump.join(pits.withColumnRenamed("v", "p"),
                             "p", "left_anti").count() == 0

        jump = fixpoint(cut(succ, eager=True), step, converged, max_rounds,
                        "watershed_labels", n_parts, "v")
        return jump.select("v", F.col("p").alias("pit"))


def watershed_labels(tiles: DataFrame, tile_size: int,
                     nodata: int = 0, max_rounds: int = 48) -> DataFrame:
    """(v, pit): every valid pixel's terminal D8 pit, by pointer
    doubling on the successor table. Converges in ceil(log₂ depth)
    rounds; raises after ``max_rounds`` doublings (a DEM whose longest
    flow path exceeds 2^48 pixels does not exist)."""
    return _labels(pixel_successors(tiles, tile_size, nodata), max_rounds)


def _by_tile(df: DataFrame, col: str, width: int, ts: int):
    """``df``'s pixel rows grouped by the tile holding pixel v."""
    return (df.select(F.expr(f"(v % {width}) div {ts}").alias("tx"),
                      F.expr(f"(v div {width}) div {ts}").alias("ty"), col)
            .groupBy("tx", "ty"))


def watershed_stats(tiles: DataFrame, tile_size: int,
                    nodata: int = 0) -> DataFrame:
    """Per-tile basin summary in the halo stats schema: n_valid =
    labeled pixels, sum_g2 = Σ pit id (position-weighted assignment
    pin), max_g2 = distinct basins touching the tile."""
    ts = int(tile_size)
    succ, width = _successors(tiles, ts, nodata)
    lab = _labels(succ)
    return (_by_tile(lab, "pit", width, ts)
            .agg(F.count("*").alias("n_valid"),
                 F.sum("pit").alias("sum_g2"),
                 F.count_distinct("pit").alias("max_g2")))


def basin_sizes(tiles: DataFrame, tile_size: int,
                nodata: int = 0) -> DataFrame:
    """(pit, n_px): drainage-basin size per terminal pit — the flow
    accumulation AT the outlets (one groupBy over the labels)."""
    return (watershed_labels(tiles, tile_size, nodata)
            .groupBy("pit").agg(F.count("*").alias("n_px")))


def flow_accumulation(tiles: DataFrame, tile_size: int,
                      nodata: int = 0,
                      max_rounds: int = 64,
                      iterate_rounds: int = 20) -> DataFrame:
    """(v, acc): D8 flow accumulation — the number of pixels draining
    THROUGH each pixel, itself included (acc = 1 on ridges, the basin
    size at its pit).

    HYBRID exact algorithm (r6): up to ``iterate_rounds`` of the cheap
    level iteration A_{k+1}(v) = 1 + Σ_{u→v} A_k(u) (one join + one
    1-row convergence sum per round — converges in LONGEST-FLOW-PATH
    rounds, which covers typical terrain quickly), then, instead of
    raising like the r5 code did, a SWITCH to the log-round exact
    formulation for deep chains (a river channel at scale is a
    million-step path): acc(v) is the SUBTREE SIZE of v in the D8
    in-forest, read off an EULER TOUR of each pit's tree
    (Tarjan–Vishkin). Between the tour's entry and exit darts of v lie
    exactly 2·size(v) darts, so size(v) = (rank(entry) − rank(exit)
    + 1) / 2 under a to-end ranking; the tour successor is pure
    sibling structure (one window over the child lists) and the
    ranking is pointer doubling with partial-sum weights over (dart,
    next, weight) — the watershed_labels discipline — in EXACTLY
    ceil(log₂ 2E) rounds with NO per-round driver action (the round
    count is computed from the edge count up front). Pits (tour
    roots) take 1 + Σ size(top-level children) in one final join.

    ``iterate_rounds=0`` forces the doubling path (pinned equal to the
    iterative result in tests). ``max_rounds`` bounds the DOUBLING
    rounds: 64 covers 2^63 edges — a safety rail, not a tuning knob."""
    return _accumulate(pixel_successors(tiles, tile_size, nodata),
                       max_rounds, iterate_rounds)


def _accumulate(succ: DataFrame, max_rounds: int = 64,
                iterate_rounds: int = 20) -> DataFrame:
    """flow_accumulation over a successor table."""
    n_parts = round_parts(succ)
    with (persisted(succ.repartition(n_parts, "v")) as succ,
          persisted(succ.filter(F.col("v") != F.col("p"))
                    .select(F.col("v").alias("u"), "p")
                    .repartition(n_parts, "p")) as edges):
        pits = succ.filter(F.col("v") == F.col("p")).select(
            F.col("v").alias("pit"))
        n_edges = edges.count()

        # fast path: shallow forests converge in depth rounds
        def level(acc: DataFrame) -> DataFrame:
            contrib = (edges.join(acc.withColumnRenamed("v", "u"), "u")
                       .groupBy("p").agg(F.sum("acc").alias("up")))
            return (succ.select("v")
                    .join(contrib.withColumnRenamed("p", "v"), "v", "left")
                    .select("v", (F.lit(1)
                                  + F.coalesce(F.col("up"), F.lit(0)))
                            .cast("long").alias("acc")))

        acc = cut(succ.select("v", F.lit(1).cast("long").alias("acc")),
                  n_parts, "v", eager=True)
        total = unchanged(lambda a: a.agg(F.sum("acc")).first()[0])
        try:
            return fixpoint(acc, level, total, iterate_rounds,
                            "flow_accumulation", n_parts, "v")
        except NotConverged:
            pass

        # deep chain: switch to the Euler-tour log-round formulation
        rounds = max(1, int(math.ceil(math.log2(2 * n_edges + 1))))
        if rounds > max_rounds:
            raise ValueError(
                f"flow_accumulation needs {rounds} doubling rounds > "
                f"max_rounds={max_rounds}")

        # sibling structure: children of p ordered by id (any total
        # order yields a valid tour); next-sibling via lead()
        w_sib = Window.partitionBy("p").orderBy("u")
        sib = edges.select("u", "p", F.lead("u").over(w_sib).alias("ns"))
        first_child = edges.groupBy("p").agg(F.min("u").alias("fc"))

        # darts: 2u = enter u from its parent, 2u+1 = leave u.
        # succ(2u)   = first child's entry, else u's own exit.
        # succ(2u+1) = next sibling's entry, else parent's exit, else
        #              END (parent is the pit/root) — NULL terminates.
        down = (sib.join(first_child.withColumnRenamed("p", "u"),
                         "u", "left")
                .select((F.col("u") * 2).alias("dart"),
                        F.when(F.col("fc").isNotNull(), F.col("fc") * 2)
                        .otherwise(F.col("u") * 2 + 1).alias("nxt")))
        up = (sib.join(pits.withColumnRenamed("pit", "p")
                       .withColumn("_root", F.lit(True)), "p", "left")
              .select((F.col("u") * 2 + 1).alias("dart"),
                      F.when(F.col("ns").isNotNull(), F.col("ns") * 2)
                      .when(F.col("_root").isNull(), F.col("p") * 2 + 1)
                      .otherwise(F.lit(None).cast("long")).alias("nxt")))
        jumps = [cut(down.unionByName(up)
                     .withColumn("w", F.lit(1).cast("long")),
                     n_parts, "dart")]

        # pointer doubling with partial sums: invariant w = #darts in
        # [dart, nxt); when nxt is NULL, w = to-end rank inclusive.
        # No per-round action: every round is stored by the final
        # materialize below and released after it.
        for _ in range(rounds):
            jump = jumps[-1]
            b = jump.select(F.col("dart").alias("_d"),
                            F.col("nxt").alias("_n2"),
                            F.col("w").alias("_w2"))
            jumps.append(cut(
                jump.join(b, F.col("nxt") == F.col("_d"), "left")
                .select("dart", F.col("_n2").alias("nxt"),
                        (F.col("w") + F.coalesce(F.col("_w2"), F.lit(0)))
                        .cast("long").alias("w")),
                n_parts, "dart"))

        rank = jumps[-1].select("dart", "w")
        down_rank = (rank.where(F.col("dart") % 2 == 0)
                     .select(F.expr("dart div 2").alias("u"),
                             F.col("w").alias("wd")))
        up_rank = (rank.where(F.col("dart") % 2 == 1)
                   .select(F.expr("dart div 2").alias("u"),
                           F.col("w").alias("wu")))
        sizes = (edges.select("u", "p")
                 .join(down_rank, "u").join(up_rank, "u")
                 .select("u", "p",
                         F.expr("(wd - wu + 1) div 2")
                         .cast("long").alias("acc")))
        pit_acc = (sizes.join(pits, sizes["p"] == pits["pit"])
                   .groupBy("pit").agg(F.sum("acc").alias("kids")))
        pit_rows = (pits.join(pit_acc, "pit", "left")
                    .select(F.col("pit").alias("v"),
                            (F.lit(1) + F.coalesce(F.col("kids"),
                                                   F.lit(0)))
                            .cast("long").alias("acc")))
        return materialize(sizes.select(F.col("u").alias("v"), "acc")
                           .unionByName(pit_rows)
                           .repartition(n_parts, "v"), *jumps)


def flow_accumulation_stats(tiles: DataFrame, tile_size: int,
                            nodata: int = 0) -> DataFrame:
    """Per-tile accumulation summary in the halo stats schema:
    n_valid, Σacc (= total drained-through counts, the stream-power
    mass of the tile), max acc (the tile's largest channel)."""
    ts = int(tile_size)
    succ, width = _successors(tiles, ts, nodata)
    acc = _accumulate(succ)
    return (_by_tile(acc, "acc", width, ts)
            .agg(F.count("*").alias("n_valid"),
                 F.sum("acc").alias("sum_g2"),
                 F.max("acc").alias("max_g2")))

"""kNN via cell-ring expansion (north-star J6; SURVEY.md §2.4).

Distributed plan: points are bucketed on a grid; each query probes an
expanding Chebyshev box of cells (the quadkey k-ring generalization)
until it holds >= k candidates, then a FINAL exact pass widens the box
to ceil(kth_distance / cell_size) so no closer point in an unexplored
cell can exist — the result is exactly the true kNN (verified against
the brute-force SQL oracle). Driver only steers ring radii; all data
movement is cell equi-joins. The widening rounds run on
`_lineage.fixpoint`, which cuts and releases each round's lineage.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from ._lineage import cut, fixpoint, materialize, release


def _candidates(queries: DataFrame, cells: DataFrame, r_col) -> DataFrame:
    """Join queries to all points within Chebyshev radius r (cells)."""
    q = (
        queries.withColumn("_r", r_col.cast("long"))
        .withColumn("probe_x", F.explode(F.sequence(F.col("qcx") - F.col("_r"), F.col("qcx") + F.col("_r"))))
        .withColumn("probe_y", F.explode(F.sequence(F.col("qcy") - F.col("_r"), F.col("qcy") + F.col("_r"))))
    )
    return q.join(cells, (q.probe_x == cells.cell_x) & (q.probe_y == cells.cell_y), "inner")


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell_size: float,
    point_id: str = "pid",
    query_id: str = "qid",
    max_rounds: int = 8,
    max_final_r: int = 64,
    loop_adaptive: bool | None = None,
    loop_shuffle_partitions: int | None = None,
    start_radius: int | None = None,
) -> DataFrame:
    """points(pid, px, py) x queries(qid, qx, qy) → (qid, pid, d2, rank),
    rank 1..k by squared distance (ties broken by pid — deterministic).

    ``max_final_r`` bounds the phase-2 ring: the exact pass explodes a
    (2r+1)^2 probe box per query, so on adversarially sparse data (kth
    distance >> cell_size) an unbounded r is a quadratic blow-up. If any
    query needs a ring wider than the cap the join raises with guidance
    (use a larger cell_size) instead of silently exploding — exactness
    is never traded for completion.

    Phase 1 starts from a density-derived radius instead of r=1, and
    the radius is a SQL scalar broadcast onto the queries — the whole
    phase is one job per round (rank window + checkpoint) with no
    driver-side stats collect; driver round-trips, not data volume,
    dominated knn wall time. Density is points-per-OCCUPIED-cell
    (count / approx distinct cells), not count / bounding-box area: on
    clustered data most of the extent is empty, global density is
    underestimated, and an extent-derived radius overshoots — pulling
    entire clusters as candidates for every clustered query. The start
    radius adds one safety ring (local thinness) and is clamped to
    <= 8 regardless of max_final_r (overshoot costs (2r+1)^2 rows per
    query through the rank window; undershoot costs one doubling
    round). Exactness is unaffected: phase 1 only needs >= k
    candidates per query.

    ``loop_adaptive`` / ``loop_shuffle_partitions`` tune the session
    conf for the DRIVER-STEERED loop actions only (restored before
    returning; the returned DataFrame plans under the caller's conf).
    On small inputs AQE's per-exchange replanning and a wide shuffle
    fan-out cost more driver time than the data: a caller that knows
    its input is modest can pass ``loop_adaptive=False,
    loop_shuffle_partitions≈cores/4`` and save ~25%% of knn wall.
    Defaults (None) leave the session conf untouched — the scale-safe
    choice: at 100 TB the loop's window shuffle wants the session's
    partitioning and AQE exactly as configured. NOTE: the overrides
    mutate SESSION-global SQL conf for the loop's duration — they
    assume a single driver thread; any query planned concurrently on
    the same SparkSession (e.g. a live streaming micro-batch) would
    plan under the tweaked conf, so don't pass them with active
    streams (check spark.streams.active).

    Every round plans with the SAME shape: the probe radius rides the
    pending rows as a `_r` column (doubled in place each round on the
    checkpoint-truncated lineage) instead of a per-round literal, so
    round 2+ hits the whole-stage-codegen source cache compiled by
    round 1 — per-round driver cost is scheduling, not re-compiling a
    new plan family.

    Phase 2 probes only the ANNULUS beyond each query's phase-1 box
    (cells at Chebyshev distance in (r_probe, final_r]) and unions the
    phase-1 top-k: a phase-1 box point outside its box top-k has
    (d2, pid) greater than the box kth, and the final kth over a
    candidate superset can only be <= the box kth, so no excluded
    point can re-enter — re-probing the full (2r+1)^2 box (the old
    plan) recounted every phase-1 cell. Queries whose final_r fits
    inside the already-probed box skip phase 2 entirely (their box
    top-k is provably the exact answer).
    """
    cs = float(cell_size)
    cells = points.withColumn("cell_x", F.floor(F.col("px") / cs)).withColumn(
        "cell_y", F.floor(F.col("py") / cs))
    q = queries.withColumn("qcx", F.floor(F.col("qx") / cs)).withColumn(
        "qcy", F.floor(F.col("qy") / cs))

    # explicit multiplication (not pow) so the value is bit-identical to
    # SQL oracles computing (px-qx)*(px-qx)+...
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy"))
    w = Window.partitionBy(query_id).orderBy("d2", point_id)

    # phase 1: expand r (doubling) until every query sees >= k candidates,
    # one _lineage.fixpoint round per radius over the pending queries.
    # Start radius from per-occupied-cell density, derived as a SQL
    # scalar broadcast onto the queries — no driver-side collect (each
    # driver sync costs a whole job round-trip, which dominates knn
    # wall time on small/medium inputs). approx_count_distinct: the
    # heuristic only needs a rough occupancy figure; the exact
    # two-phase distinct shuffle cost ~2x the whole aggregate. Aim ~2k
    # expected points per probe box, +1 safety ring so a locally-thin
    # box (spatially correlated empty cells that no global density
    # figure can see) usually still reaches k in ONE round — an extra
    # ring triples the window's candidate volume, an extra round costs
    # a full additional pass over the points; the ring wins whenever
    # stragglers are plausible. Cap at 8 regardless of max_final_r
    # (ADVICE: overshoot costs (2r+1)^2 rows per query through the
    # rank window on clustered data).
    if start_radius is not None:
        # caller-supplied start radius (a caller that knows its grid
        # density can skip the whole stats aggregate — one fewer scan +
        # broadcast in every lineage; any r0 yields the same exact
        # result, only the round count differs)
        q = q.withColumn(
            "_r",
            F.lit(max(1, min(int(start_radius), max_final_r))).cast("long"))
    else:
        stats = cells.agg(
            F.count("*").alias("_n"),
            F.approx_count_distinct(
                F.col("cell_x") * F.lit(1 << 32) + F.col("cell_y")).alias("_nc"),
        )
        r0 = F.least(
            F.greatest(
                F.lit(1),
                F.ceil((F.sqrt(F.lit(2.0 * k) / (F.col("_n") / F.col("_nc")))
                        - F.lit(1.0)) / F.lit(2.0)),
            ) + F.lit(1),
            F.lit(8), F.lit(max_final_r)).cast("long")
        q = q.crossJoin(F.broadcast(stats.select(r0.alias("_r"))))
        # degenerate inputs (no points, zero estimate) → null: fall back to 1
        q = q.withColumn("_r", F.coalesce(F.col("_r"), F.lit(1).cast("long")))
        # truncate the stats lineage once: without this every later job
        # that touches q (pending anti-joins, found, phase 2) re-runs the
        # full points scan + aggregate behind the broadcast
        q = cut(q)

    # ONE job AND ONE plan family per round: the round's candidates go
    # through a single Window exec computing BOTH the rank and the
    # per-query candidate count (same partition spec — one shuffle),
    # so done/pending/top-k/phase-2 bookkeeping all derive from
    # ranked_all COLUMNS instead of per-round semi/anti joins. The
    # round's single action is a 1-row aggregate over ranked_all
    # (crossJoined with the pending count), which materializes the
    # lazy checkpoint as a side effect and carries the phase-2 guard,
    # so convergence exits with the widening decision in hand. The
    # anti-join building next round's pending is only PLANNED when a
    # round actually leaves queries pending — on the common converged
    # path the whole call compiles one candidates+window plan and one
    # scalar aggregate, nothing else. In a cold session each distinct
    # job plan costs ~0.5-1 s (codegen + scheduling), so plan count —
    # not data volume — dominates knn wall time at bench scale.
    # ranked_all carries qx/qy/qcx/qcy/_r through the window shuffle
    # (~40 extra bytes per candidate row) so phase 2 never re-joins
    # the query table.
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # exact cell bound for radius D: a point within distance D of the
    # query can sit at most floor(D/cs)+1 cells away in Chebyshev
    # terms (the query sits at offset a ∈ [0,1) inside its cell; the
    # worst case floor(a ± D/cs) lands floor(D/cs)+1 cells out, never
    # more). ceil(D/cs)+1 — the earlier bound — is one full ring wider
    # whenever D/cs is fractional. The (1+4e-16) factor is a 1-ulp
    # margin: kth_dist is a computed sqrt and /cs adds another
    # rounding — a kth distance within ~1 ulp above an exact cell
    # multiple would otherwise floor one ring short and drop a true
    # neighbor; widening is the rare path, so the margin is free.
    final_r_expr = (F.floor((F.sqrt("d2") / F.lit(cs))
                            * F.lit(1.0 + 4e-16)) + 1).cast("long")
    is_kth = F.col("rank") == k  # a rank-k row exists iff the query is done

    ranked: list[DataFrame] = []  # per round: the ranked_all cut
    guards: list = []  # per round: the guard row

    def probe(pending: DataFrame) -> bool:
        # one round: rank the pending queries' candidates, read the guard
        cand = _candidates(pending, cells, F.col("_r")).withColumn("d2", d2)
        ranked.append(cut(
            cand.withColumn("rank", F.row_number().over(w))
            .withColumn("n_cand", F.count("*").over(wall))
            .filter(F.col("rank") <= k)
            .select(query_id, point_id, "d2", "rank",
                    (F.col("n_cand") >= k).alias("_done"),
                    "qx", "qy", "qcx", "qcy", "_r")))
        guards.append((
            ranked[-1].agg(
                F.count(F.when(is_kth, 1)).alias("n_done"),
                F.max(F.when(is_kth, final_r_expr)).alias("r"),
                F.count(F.when(is_kth & (final_r_expr > F.col("_r")), 1)
                        ).alias("n_widen"))
            .crossJoin(F.broadcast(pending.agg(F.count("*").alias("n_in"))))
        ).collect()[0])
        return guards[-1]["n_in"] - guards[-1]["n_done"] == 0

    def stragglers(pending: DataFrame) -> DataFrame:
        return (pending.join(ranked[-1].filter(is_kth).select(query_id),
                             query_id, "left_anti")
                # double the probe radius IN the rows: next round's plan
                # is shape-identical to this one (see docstring)
                .withColumn("_r", (F.col("_r") * F.lit(2)).cast("long")))

    spark = points.sparkSession
    _saved: dict[str, str] = {}
    if loop_adaptive is not None:
        _saved["spark.sql.adaptive.enabled"] = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", str(loop_adaptive).lower())
    if loop_shuffle_partitions is not None:
        _saved["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(loop_shuffle_partitions)))
    try:
        # the last pending table is not read again (fixpoint released
        # the earlier ones, the stats cut q included)
        release(fixpoint(q, stragglers, probe, max_rounds, "kNN"))
    finally:
        for key, val in _saved.items():
            spark.conf.set(key, val)

    def finish(result: DataFrame) -> DataFrame:
        # one round's ranked cut is the result's own stored part; more
        # rounds are stored as one cut of the result, then released
        return result if len(ranked) == 1 else materialize(result, *ranked)

    topk = reduce(DataFrame.unionByName, [
        r.filter("_done").select(query_id, point_id, "d2", "rank")
        for r in ranked])
    widest = max((g["r"] for g in guards if g["r"] is not None),
                 default=None)

    # phase 2: annulus-only exact pass (see docstring proof); the guard
    # stats collected with the last round double as the all-settled
    # short-circuit, so the common dense case (phase-1 box already
    # covers the kth radius for every query) returns the checkpointed
    # top-k with no further jobs at all.
    if widest is not None and widest > max_final_r:
        raise ValueError(
            f"kNN phase-2 ring {widest} exceeds max_final_r={max_final_r}: "
            f"data too sparse for cell_size={cs} — increase cell_size "
            f"(or raise max_final_r knowingly; probe cost grows as r^2)")
    if not sum(g["n_widen"] for g in guards):
        return finish(topk)

    widen = reduce(DataFrame.unionByName, [
        r.filter(is_kth)
        .withColumn("final_r", final_r_expr)
        .filter(F.col("final_r") > F.col("_r"))
        .select(query_id, "qx", "qy", "qcx", "qcy",
                F.col("_r").alias("r_probe"), "final_r")
        for r in ranked])
    settled = topk.join(widen.select(query_id), query_id, "left_anti")

    annulus = (
        widen.withColumn("probe_x", F.explode(
            F.sequence(F.col("qcx") - F.col("final_r"), F.col("qcx") + F.col("final_r"))))
        .withColumn("probe_y", F.explode(
            F.sequence(F.col("qcy") - F.col("final_r"), F.col("qcy") + F.col("final_r"))))
        .filter(F.greatest(F.abs(F.col("probe_x") - F.col("qcx")),
                           F.abs(F.col("probe_y") - F.col("qcy"))) > F.col("r_probe"))
    )
    ann_cand = (
        annulus.join(cells, (annulus.probe_x == cells.cell_x)
                     & (annulus.probe_y == cells.cell_y), "inner")
        .withColumn("d2", d2)
        .select(query_id, point_id, "d2")
    )
    box_cand = topk.join(widen.select(query_id), query_id, "left_semi").select(
        query_id, point_id, "d2")
    widened = (
        ann_cand.unionByName(box_cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "d2", "rank")
    )
    return finish(settled.unionByName(widened))

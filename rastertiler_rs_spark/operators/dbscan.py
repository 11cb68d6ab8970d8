"""DISTRIBUTED DBSCAN (Ester et al., KDD 1996) over integer planar
points — density clustering as a composition of the engine's existing
scale primitives, with a deterministic tie rule so the whole labeling
crosses the SQL value gate.

The grid route (the standard distributed formulation): bucket points
into eps-sized cells, so every eps-neighbor pair shares a (cell,
3×3-probe-cell) key — neighbor finding becomes ONE cell equi-join (no
all-pairs), exactly the spatial_join/knn cell trick. Then:

- CORE points have ≥ min_pts neighbors within eps (self included) —
  one groupBy count over the pair list.
- CLUSTERS are the connected components of the core-core eps-graph
  (operators/components.py min-label propagation — one join + one
  groupBy-min per round); a cluster's name is the min core pid in it.
- BORDER points (non-core with ≥1 core neighbor) attach to the MIN
  cluster id among their core neighbors. Classic DBSCAN leaves border
  assignment order-dependent; the min rule makes it a pure function of
  the input, which is what lets DuckDB restate it.
- NOISE points get cluster -1.

Exactness: coordinates and eps are integers; the predicate is
(ax−bx)² + (ay−by)² ≤ eps² in BIGINT — no float crosses the gate.
At 100 TB the cell join shuffles each point 9× (its probe cells) and
pairs stay cell-local; skewed dense cells are the knn/salting story,
not an all-pairs blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._lineage import materialize, persisted
from .components import connected_components


def _cell(col, eps: int):
    # true floor-div via pmod (exact for negative coords too)
    return ((col - F.pmod(col, F.lit(eps))) / eps).cast("long")


def dbscan(points: DataFrame, eps: int, min_pts: int,
           id_col: str = "pid", x_col: str = "x",
           y_col: str = "y") -> DataFrame:
    """→ (pid, cluster, is_core): cluster = min core pid of the
    point's cluster, -1 for noise; is_core ∈ {0, 1}. Integer coords
    and eps; see module docstring for the exact semantics."""
    if eps < 1 or min_pts < 1:
        raise ValueError("eps and min_pts must be >= 1")
    pts = points.select(F.col(id_col).cast("long").alias("pid"),
                        F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"))
    cx, cy = _cell(F.col("x"), eps), _cell(F.col("y"), eps)
    own = pts.select("pid", "x", "y", cx.alias("cx"), cy.alias("cy"))
    probe = own.select(
        F.col("pid").alias("bpid"), F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.explode(F.expr("sequence(-1, 1)")).alias("dx"), "cx", "cy")
    probe = probe.select(
        "bpid", "bx", "by",
        (F.col("cx") + F.col("dx")).alias("pcx"),
        F.explode(F.expr("sequence(-1, 1)")).alias("dy"), "cy")
    probe = probe.select("bpid", "bx", "by", "pcx",
                         (F.col("cy") + F.col("dy")).alias("pcy"))
    d2 = ((F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
          + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by")))
    pairs = (own.join(probe, (F.col("cx") == F.col("pcx"))
                      & (F.col("cy") == F.col("pcy")))
             .where((d2 <= F.lit(int(eps) * int(eps)))
                    & (F.col("pid") != F.col("bpid")))
             .select("pid", "bpid"))
    with persisted(pairs) as pairs:  # counts, edges and border attach
        counts = pairs.groupBy("pid").agg((F.count("*") + 1).alias("n_nb"))
        core = (own.join(counts, "pid", "left")
                .select("pid",
                        (F.coalesce(F.col("n_nb"), F.lit(1))
                         >= F.lit(int(min_pts))).alias("is_core")))
        core_ids = core.where("is_core").select("pid")
        cc_edges = (pairs
                    .join(core_ids, "pid")
                    .join(core_ids.select(F.col("pid").alias("bpid")), "bpid")
                    .select(F.col("pid").alias("src"), F.col("bpid").alias("dst")))
        comp = connected_components(cc_edges, vertices=core_ids)
        core_lbl = (core_ids.join(comp, core_ids["pid"] == comp["v"], "left")
                    .select("pid", F.coalesce(F.col("lbl"),
                                              F.col("pid")).alias("cluster")))
        # border: min cluster among core neighbors
        border = (pairs.join(core_lbl.withColumnRenamed("pid", "bpid"), "bpid")
                  .groupBy("pid").agg(F.min("cluster").alias("bcluster")))
        out = (core.join(core_lbl, "pid", "left")
               .join(border, "pid", "left")
               .select("pid",
                       F.when(F.col("is_core"), F.col("cluster"))
                       .otherwise(F.coalesce(F.col("bcluster"), F.lit(-1)))
                       .cast("long").alias("cluster"),
                       F.col("is_core").cast("long").alias("is_core")))
        return materialize(out, comp)

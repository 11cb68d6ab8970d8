"""Connected components + canonical-document dedup assignment.

The missing last step of a production dedup pipeline: pair generators
(minhash_lsh / simhash / ngram_jaccard / embedding_neardup) emit
near-dup PAIRS, but what a 100 TB corpus job actually needs is the
partition of documents into duplicate CLUSTERS and one canonical
survivor per cluster. `connected_components` computes the clusters;
`dedup_assign` picks the canonical (min doc_id) member.

Algorithm: min-label propagation — every vertex starts labeled with
its own id; each round every vertex takes the min of its own and its
neighbors' labels; fixed point = component id is the min vertex id of
the component. Rounds needed = graph diameter. Near-dup graphs are
unions of quasi-cliques (similarity is near-transitive), so diameters
are tiny (2-4) and this IS the scale-sane choice; for adversarial
high-diameter graphs the alternating large/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond")
drops rounds to O(log d) at the cost of re-keying edges each round —
not needed here, noted for completeness.

Per round: ONE join of the label table against the (persisted,
pre-partitioned) undirected edge list + ONE groupBy-min back on the
vertex key, both pinned with explicit repartition(n, key) (the AQE
bytes-based coalescing pitfall — see CLAUDE.md), lineage truncated
by `_lineage.fixpoint`: each round's labels are a lazy cut
materialized by the convergence aggregate (one job per round, no
separate isEmpty probe), and the superseded round is released after it.
Convergence is read from an exact decimal sum of labels: labels only
ever decrease, so an unchanged sum IS the fixed point (decimal(38)
keeps the test exact at any corpus size where int64 sums could wrap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._lineage import (cut, fixpoint, persisted, round_parts,
                       unchanged)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         vertices: DataFrame | None = None,
                         max_rounds: int = 50) -> DataFrame:
    """(v, lbl) with lbl = min vertex id of v's component.

    ``edges`` is an undirected pair list (each pair once, either
    orientation); ``vertices`` optionally adds isolated vertices (a
    one-column DataFrame) so singletons appear with lbl = their own id.
    Raises after ``max_rounds`` non-converged rounds (graph diameter
    larger than expected — see module docstring for the star-contraction
    escalation path)."""
    n_parts = round_parts(edges)

    und = edges.select(F.col(src).cast("long").alias("src"),
                       F.col(dst).cast("long").alias("dst"))
    und = (und.unionByName(und.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
           .distinct()
           .repartition(n_parts, "dst"))
    with persisted(und) as und:
        verts = und.select(F.col("src").alias("v"))
        if vertices is not None:
            vcol = vertices.columns[0]
            verts = verts.unionByName(
                vertices.select(F.col(vcol).cast("long").alias("v")))
        labels = cut(verts.distinct().select("v", F.col("v").alias("lbl")),
                     n_parts, "v", eager=True)

        def step(labels: DataFrame) -> DataFrame:
            nbr = (und.join(labels.select(F.col("v").alias("dst"), "lbl"),
                            "dst")
                   .select(F.col("src").alias("v"), "lbl"))
            return (labels.unionByName(nbr)
                    .groupBy("v").agg(F.min("lbl").alias("lbl")))

        total = unchanged(lambda labels: labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0])
        return fixpoint(labels, step, total, max_rounds,
                        "connected_components", n_parts, "v")


def dedup_assign(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Cluster near-dup pairs and pick canonical survivors.

    Returns (id_col, component_id, is_canonical): component_id is the
    min doc id of the duplicate cluster (documents in no pair are their
    own singleton cluster), is_canonical marks the one row per cluster
    a dedup job keeps. Downstream: ``docs.join(result, id_col)
    .filter("is_canonical")`` is the deduplicated corpus."""
    comps = connected_components(pairs, src=src, dst=dst,
                                 vertices=docs.select(id_col))
    return comps.select(F.col("v").alias(id_col),
                        F.col("lbl").alias("component_id"),
                        (F.col("v") == F.col("lbl")).alias("is_canonical"))

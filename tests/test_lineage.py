"""Stored intermediates: a released round stays readable through its
successor, every public operator leaves at most its own result's cut
stored, whatever its round count — or nothing, when it does not
converge — and `operators/_lineage.py` is the package's only persist
or cut site."""

import ast
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from rastertiler_rs_spark.fixtures import NODATA
from rastertiler_rs_spark.operators import knn
from rastertiler_rs_spark.operators._lineage import cut, release
from rastertiler_rs_spark.operators.components import (connected_components,
                                                       dedup_assign)
from rastertiler_rs_spark.operators.dbscan import dbscan
from rastertiler_rs_spark.operators.polygonize import region_label
from rastertiler_rs_spark.operators.quantiles import exact_quantiles
from rastertiler_rs_spark.operators.sketch import frequent_items
from rastertiler_rs_spark.operators.text import (lsh_candidate_pairs,
                                                 lsh_candidate_pairs_int,
                                                 ngram_jaccard_pairs,
                                                 simhash_near_pairs_int)
from rastertiler_rs_spark.operators.watershed import (flow_accumulation,
                                                      watershed_labels,
                                                      watershed_stats)
from rastertiler_rs_spark.png import encode_grayscale8

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "rastertiler_rs_spark")


def _stored(spark) -> set:
    """Ids of the RDDs the context currently keeps stored. Earlier
    tests' leftovers may be freed by GC at any time, so callers only
    look at ids that appear."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _path(spark, n):
    """Path graph 0 - 1 - ... - (n-1): n-1 propagation rounds."""
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                 "src long, dst long")


def _ramp(spark, n, ts=8):
    """A one-pixel-high ramp n pixels long, falling left to right over
    ceil(n/ts) tiles: one D8 flow path of n pixels ending in one pit."""
    w = -(-n // ts) * ts
    band = np.full((ts, w), NODATA, np.uint8)
    band[0, :n] = np.arange(n + 1, 1, -1)
    return spark.createDataFrame(
        [(tx, 0, encode_grayscale8(band[:, tx * ts:(tx + 1) * ts], NODATA))
         for tx in range(w // ts)], "tx long, ty long, png binary")


def test_released_round_readable_through_successor(spark):
    before = _stored(spark)
    a = cut(spark.range(64).withColumn("x", F.col("id") * 2), 4, "id")
    b = cut(a.select("id", (F.col("x") + 1).alias("x")), 4, "id")
    assert b.count() == 64  # the successor's action stores b
    cuts = _stored(spark) - before
    assert len(cuts) == 2
    release(a)
    assert len(cuts & _stored(spark)) == 1
    assert sorted(r["x"] for r in b.collect()) == [2 * i + 1
                                                   for i in range(64)]
    release(b.select("id"))  # not a cut: nothing to free
    assert len(cuts & _stored(spark)) == 1


# (name, call, short input, long input): the two inputs need different
# round counts
OPERATORS = [
    ("connected_components", lambda s, n: connected_components(_path(s, n)),
     8, 32),
    ("watershed_labels", lambda s, n: watershed_labels(_ramp(s, n), 8),
     8, 32),
    ("flow_accumulation_levels",
     lambda s, n: flow_accumulation(_ramp(s, n), 8), 4, 12),
    ("flow_accumulation_doubling",
     lambda s, n: flow_accumulation(_ramp(s, n), 8, iterate_rounds=0),
     8, 32),
]


@pytest.mark.parametrize("name,call,short,long", OPERATORS,
                         ids=[o[0] for o in OPERATORS])
def test_rounds_released(spark, name, call, short, long):
    grown = []
    for n in (short, long):
        before = _stored(spark)
        result = call(spark, n)
        assert len(result.collect()) == n
        grown.append(len(_stored(spark) - before))
        del result
    assert grown[0] == grown[1] <= 1, grown


NOT_CONVERGING = [
    ("connected_components",
     lambda s: connected_components(_path(s, 8), max_rounds=1)),
    ("watershed_labels", lambda s: watershed_labels(_ramp(s, 32), 8,
                                                    max_rounds=1)),
    ("flow_accumulation", lambda s: flow_accumulation(
        _ramp(s, 32), 8, max_rounds=1, iterate_rounds=2)),
]


@pytest.mark.parametrize("name,call", NOT_CONVERGING,
                         ids=[o[0] for o in NOT_CONVERGING])
def test_not_converging_releases_everything(spark, name, call):
    before = _stored(spark)
    with pytest.raises(ValueError, match="converge|max_rounds"):
        call(spark)
    assert not _stored(spark) - before


@pytest.mark.parametrize("iterate_rounds", [20, 0], ids=["levels",
                                                       "doubling"])
def test_flow_accumulation_without_edges(spark, count_jobs, iterate_rounds):
    """A flat DEM: every pixel is its own pit with acc 1, and the
    result is stored, so reading it runs one job instead of the halo
    pass again."""
    band = np.full((8, 8), 7, np.uint8)
    tiles = spark.createDataFrame([(0, 0, encode_grayscale8(band, NODATA))],
                                  "tx long, ty long, png binary")
    acc = flow_accumulation(tiles, 8, iterate_rounds=iterate_rounds)
    rows = []
    assert len(count_jobs(lambda: rows.extend(acc.collect()))) == 1
    assert sorted(rows) == [(v, 1) for v in range(64)]


def test_watershed_stats_collects_width_once(spark, count_jobs):
    """watershed_stats reads the canvas width once: the call runs the
    same jobs as watershed_labels (the width collect plus the rounds)."""
    tiles = _ramp(spark, 32)
    assert (len(count_jobs(lambda: watershed_stats(tiles, 8)))
            == len(count_jobs(lambda: watershed_labels(tiles, 8))))


def _knn_inputs(spark, pts, qs):
    return (spark.createDataFrame(pts, "pid long, px double, py double"),
            spark.createDataFrame(qs, "qid long, qx double, qy double"))


def _dense(spark):
    """One point per unit cell of a 15 x 15 grid: k=3 is reached in
    the first round, at start radius 2 or the density-derived one."""
    return _knn_inputs(
        spark, [(i * 15 + j, i + 0.25, j + 0.75)
                for i in range(15) for j in range(15)],
        [(q, 3.5 + 2 * q, 7.5 - q) for q in range(5)])


def _sparse(spark):
    """test_knn's sparse input: the third neighbour lies tens of cells
    away, so phase 1 doubles its radius over several rounds."""
    return _knn_inputs(
        spark, [(i, float(i * 17 % 230) * 3.0, float(i * 29 % 210) * 3.0)
                for i in range(40)],
        [(j, float(j * 37 % 200) * 3.0 + 0.5,
          float(j * 53 % 190) * 3.0 + 0.5) for j in range(5)])


_BASE = ("the quick brown fox jumps over the lazy dog while the rain "
         "in spain stays mainly on the plain and the band plays on")


def _docs(spark):
    return spark.createDataFrame(
        [(0, _BASE), (1, _BASE.replace("dog", "cat")),
         (2, "completely different text about spark catalyst optimizer"),
         (3, "another unrelated document about tiles pyramids and zooms"),
         (4, _BASE)], "doc_id long, text string")


def _regions(spark):
    """A 32 x 32 canvas of values 1-3 with a nodata band, as 8 x 8
    tiles: regions cross tile borders, so components run rounds."""
    band = np.random.default_rng(3).integers(1, 4, (32, 32)).astype(np.uint8)
    band[5:9, :] = 0
    return spark.createDataFrame(
        [(tx, ty, encode_grayscale8(
            band[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8], 0))
         for ty in range(4) for tx in range(4)],
        "tx long, ty long, png binary")


# (name, call): every public operator that stores an intermediate
LEFTOVERS = [(name, lambda s, call=call, n=short: call(s, n))
             for name, call, short, _ in OPERATORS] + [
    ("knn_one_round", lambda s: knn.knn_join(*_dense(s), k=3, cell_size=1.0,
                                             start_radius=2)),
    ("knn_rounds", lambda s: knn.knn_join(*_sparse(s), k=3, cell_size=1.0,
                                          max_final_r=200)),
    ("knn_density_radius", lambda s: knn.knn_join(*_dense(s), k=3,
                                                  cell_size=1.0)),
    ("dbscan", lambda s: dbscan(s.createDataFrame(
        [(i, (i % 4) // 2 + 40 * (i // 4), i % 2) for i in range(16)],
        "pid long, x long, y long"), eps=2, min_pts=3)),
    ("region_label", lambda s: region_label(_regions(s), 8)),
    ("frequent_items", lambda s: frequent_items(s.createDataFrame(
        [(["a", "b", "a", "c", None, "a"][i % 6],) for i in range(300)],
        "w string").repartition(5), "w", 3)),
    ("exact_quantiles", lambda s: exact_quantiles(
        s.range(1000).select(((F.col("id") * 37) % 101).alias("c")), "c",
        [100, 5000, 9900])),
    ("dedup_assign", lambda s: dedup_assign(
        s.createDataFrame([(i,) for i in range(10)], "doc_id long"),
        s.createDataFrame([(1, 4), (4, 7), (2, 9)],
                          "doc_a long, doc_b long"))),
    ("ngram_jaccard_pairs", lambda s: ngram_jaccard_pairs(_docs(s))),
    ("lsh_candidate_pairs", lambda s: lsh_candidate_pairs(_docs(s))),
    ("lsh_candidate_pairs_int", lambda s: lsh_candidate_pairs_int(_docs(s))),
    ("simhash_near_pairs_int",
     lambda s: simhash_near_pairs_int(_docs(s), max_hamming=16)),
]


@pytest.mark.parametrize("name,call", LEFTOVERS,
                         ids=[o[0] for o in LEFTOVERS])
def test_operator_leaves_at_most_its_result(spark, name, call):
    before = _stored(spark)
    result = call(spark)
    assert result.collect()
    assert len(_stored(spark) - before) <= 1


@pytest.mark.parametrize("inputs,multi_round", [(_dense, False),
                                                 (_sparse, True)],
                         ids=["one_round", "rounds"])
def test_knn_materializes_only_after_rounds(spark, monkeypatch, inputs,
                                            multi_round):
    """One round keeps its plan (its ranked cut is the result's own, so
    no job is added); more rounds end in one materialize of the result,
    which releases every round's cut."""
    real, released = knn.materialize, []

    def materialize(result, *cuts):
        released.append(len(cuts))
        return real(result, *cuts)

    monkeypatch.setattr(knn, "materialize", materialize)
    knn.knn_join(*inputs(spark), k=3, cell_size=1.0, start_radius=2,
                 max_final_r=200).collect()
    if multi_round:
        assert len(released) == 1 and released[0] > 1
    else:
        assert released == []


def _store_calls(path):
    """(line, name) of every persist / unpersist / cache /
    localCheckpoint call in ``path``."""
    tree = ast.parse(open(path).read(), path)
    return [(node.lineno, node.func.attr) for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "unpersist", "cache",
                                   "localCheckpoint")]


def test_lineage_is_the_only_store_site():
    lineage = os.path.join("operators", "_lineage.py")
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), PKG)
            if name.endswith(".py") and rel != lineage:
                calls = _store_calls(os.path.join(root, name))
                if calls:
                    found[rel] = calls
    assert found == {}, (
        f"store and cut through operators/_lineage.py: {found}")
    # the walk sees calls at all: _lineage's own are found
    assert {c[1] for c in _store_calls(os.path.join(PKG, lineage))} == {
        "persist", "unpersist", "localCheckpoint"}

"""Lineage cuts: a released round stays readable through its successor,
and every iterative operator leaves at most its own result's cut
stored, whatever its round count — or nothing, when it does not
converge."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rastertiler_rs_spark.fixtures import NODATA
from rastertiler_rs_spark.operators._lineage import cut, release
from rastertiler_rs_spark.operators.components import connected_components
from rastertiler_rs_spark.operators.watershed import (flow_accumulation,
                                                      watershed_labels,
                                                      watershed_stats)
from rastertiler_rs_spark.png import encode_grayscale8


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


def test_report_knn_dbscan_leftovers(spark, capsys):
    """knn keeps its per-round ranked cuts (the result's parts) and
    dbscan its persisted pair list; report, do not pin, what stays."""
    from rastertiler_rs_spark.operators.dbscan import dbscan
    from rastertiler_rs_spark.operators.knn import knn_join

    pts = [(i, float(i * 17 % 230) * 3.0, float(i * 29 % 210) * 3.0)
           for i in range(40)]
    qs = [(j, float(j * 37 % 200) * 3.0 + 0.5,
           float(j * 53 % 190) * 3.0 + 0.5) for j in range(5)]
    points = spark.createDataFrame(pts, "pid long, px double, py double")
    queries = spark.createDataFrame(qs, "qid long, qx double, qy double")
    before = _stored(spark)
    assert len(knn_join(points, queries, k=3, cell_size=1.0,
                        max_final_r=200).collect()) == 15
    knn_left = len(_stored(spark) - before)

    blobs = spark.createDataFrame(
        [(i, (i % 4) // 2 + 40 * (i // 4), i % 2) for i in range(16)],
        "pid long, x long, y long")
    before = _stored(spark)
    assert len(dbscan(blobs, eps=2, min_pts=3).collect()) == 16
    dbscan_left = len(_stored(spark) - before)
    with capsys.disabled():
        print(f"\nstored after collect: knn_join +{knn_left}, "
              f"dbscan +{dbscan_left}")

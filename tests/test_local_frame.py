"""``session.local_frame``: driver-side rows as a JVM LocalRelation.

The frame must read back exactly as ``createDataFrame(list)`` does, for
every column type the package passes, and collecting it must start no
Spark job — the list path runs a PythonRDD job on a second Python worker
pool. The last test keeps ``local_frame`` the package's only way to turn
a Python list into a frame."""

import ast
import math
import os

import pytest
from pyspark.sql import functions as F

from rastertiler_rs_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "rastertiler_rs_spark")

DDL = ("i int, l long, d double, s string, b binary, t boolean, "
       "a array<double>")
ROWS = [
    (1, 2 ** 40, 1.5, "x", b"\x00\x01", True, [1.0, 2.0]),
    (None, None, None, None, None, None, None),
    (-3, -1, -0.25, "", bytearray(b"z"), False, []),
    (2 ** 31 - 1, -(2 ** 63), 1e300, "ünï", b"", None, [None, 3.0]),
]


@pytest.fixture
def arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_round_trip_equals_list_path(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_nan_and_struct_schema(spark):
    schema = spark.createDataFrame([], "name string, value double").schema
    (row,) = local_frame(spark, [("n", float("nan"))], schema).collect()
    assert row["name"] == "n" and math.isnan(row["value"])


@pytest.mark.parametrize("arrow", ["on", "off"])
def test_collect_runs_no_job(spark, count_jobs, request, arrow):
    if arrow == "off":
        request.getfixturevalue("arrow_off")
    lf = local_frame(spark, ROWS, DDL)
    assert count_jobs(lf.collect) == []
    assert count_jobs(lambda: local_frame(spark, [], "x int").collect()) == []


@pytest.mark.parametrize("arrow", ["on", "off"])
def test_broadcast_join_side_is_local(spark, count_jobs, request, arrow):
    """The broadcast side is a LocalTableScan: its one JVM collect job
    has a task per row and no Python map in front of it. The probe side
    runs its single job either way."""
    if arrow == "off":
        request.getfixturevalue("arrow_off")
    probe = spark.range(64).withColumn("i", (F.col("id") % 4).cast("int"))
    keys = local_frame(spark, [(1,), (2,)], "i int")
    joined = probe.join(F.broadcast(keys), "i")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    jobs = count_jobs(joined.collect)
    tracker = spark.sparkContext.statusTracker()
    tasks = sorted(tracker.getStageInfo(s).numTasks
                   for j in jobs for s in tracker.getJobInfo(j).stageIds)
    assert len(jobs) == 2 and tasks[0] == 2
    assert sorted(r["id"] for r in joined.collect()) == [
        i for i in range(64) if i % 4 in (1, 2)]


def test_partitions_are_min_rows_parallelism(spark):
    dp = spark.sparkContext.defaultParallelism
    for n in (1, 3, dp, 2 * dp + 1):
        lf = local_frame(spark, [(i,) for i in range(n)], "x long")
        assert lf.rdd.getNumPartitions() == min(n, dp)
    assert local_frame(spark, [], "x long").rdd.getNumPartitions() == 0


def _frame_calls(path):
    """(line, name, inside local_frame) of every createDataFrame /
    parallelize call in ``path``."""
    tree = ast.parse(open(path).read(), path)
    allowed = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            allowed.update(id(n) for n in ast.walk(node))
    return [(node.lineno, node.func.attr, id(node) in allowed)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("createDataFrame", "parallelize")]


def test_local_frame_is_the_only_list_to_frame_site():
    found = {}
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                calls = [c[:2] for c in _frame_calls(path) if not c[2]]
                if calls:
                    found[os.path.relpath(path, PKG)] = calls
    assert found == {}, (
        "build driver-side frames with session.local_frame: "
        f"{found}")
    # the walk sees calls at all: local_frame's own one is found
    assert [c[1:] for c in _frame_calls(os.path.join(PKG, "session.py"))] \
        == [("createDataFrame", True)]

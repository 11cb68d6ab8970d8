"""Measure the per-task floor of a Spark Python stage.

Times a no-op ``mapInPandas`` stage of 4, 8 and 16 tasks on
``session.get_spark()`` (median and best of ``--repeats`` runs, after
one warm-up stage that starts the Python workers) and reports what the
workers saw: whether the package's zip-cache stamp
(``rastertiler_rs_spark._worker``) was installed, and how many zip
archives sit on their import path.

    python tools/task_floor.py [--repeats 5]

Parallelism follows ``SPARK_GRAFT_CPUS`` as in every other entry point.
"""
from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers inherit this process's environment, not its sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

from rastertiler_rs_spark.session import get_spark  # noqa: E402

_SCHEMA = "installed boolean, zips int"


def _probe(batches):
    import sys
    import zipimport

    import pandas as pd

    import rastertiler_rs_spark  # noqa: F401  (as any task running package code)

    for _ in batches:
        pass
    # read off the class rather than asking the package, so the tool also
    # measures checkouts that predate the stamp
    stamped = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield pd.DataFrame({"installed": [stamped], "zips": [zips]})


def _stage(spark, n_tasks):
    t0 = time.perf_counter()
    rows = spark.range(0, n_tasks, numPartitions=n_tasks).mapInPandas(
        _probe, _SCHEMA).collect()
    return time.perf_counter() - t0, rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()
    if args.repeats < 1:
        ap.error("--repeats must be >= 1")

    spark = get_spark("task_floor")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"local parallelism: {spark.sparkContext.defaultParallelism}")
    _stage(spark, 16)  # warm-up: fork and import in the workers
    seen = []
    for n in (4, 8, 16):
        walls = []
        for _ in range(args.repeats):
            wall, rows = _stage(spark, n)
            walls.append(wall)
            seen.extend(rows)
        print(f"{n:3d} tasks: median {statistics.median(walls):.3f} s, "
              f"best {min(walls):.3f} s "
              f"({statistics.median(walls) / n * 1000:.1f} ms/task)")
    installed = sum(r.installed for r in seen)
    print(f"zip-cache stamp installed in the worker: {installed}/{len(seen)} "
          f"tasks; zip importers on the worker's path: "
          f"{sorted({r.zips for r in seen})}")
    spark.stop()


if __name__ == "__main__":
    main()

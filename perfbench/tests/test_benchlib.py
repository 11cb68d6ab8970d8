"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last test starts a local Spark session (about a minute on 4 cores).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

from benchlib import eventlog, inputs, runner, spans, stats, tables, workloads  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_regex_and_code():
    spec = _spec()
    for group, code in (("end_to_end", runner.END_TO_END), ("per_layer", runner.PER_LAYER)):
        names = [m["name"] for m in spec[group]]
        assert len(names) == len(set(names))
        for m in spec[group]:
            assert stats.check_name(m["name"]) == m["name"]
            assert m["better"] in ("lower", "higher")
            assert code[m["name"]] == m["unit"]
        assert set(names) == set(code)
    for name in ("a.b_c-1", "spark.top_stage.task_max_over_median"):
        assert stats.check_name(name)
    for bad in ("", "a b", "a/b", "_a", "x" * 65, "ops.q(1)"):
        with pytest.raises(ValueError):
            stats.check_name(bad)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_self_time_on_synthetic_span_tree():
    recs = [
        {"id": 0, "name": "pass", "start": 0.0, "end": 10.0, "parent": None, "pass": "p0"},
        {"id": 1, "name": "render", "start": 1.0, "end": 4.0, "parent": 0, "pass": "p0"},
        {"id": 2, "name": "sink", "start": 3.5, "end": 9.0, "parent": 0, "pass": "p0"},
        {"id": 3, "name": "kernel", "start": 2.0, "end": 3.0, "parent": 1, "pass": "p0"},
        {"id": 4, "name": "kernel", "start": 2.5, "end": 3.5, "parent": 1, "pass": "p0"},
    ]
    own = spans.self_times(recs)
    # children 1 and 2 cover [1, 9]: 8 of the pass's 10 seconds
    assert own[0] == pytest.approx(2.0)
    # overlapping children cover [2, 3.5]
    assert own[1] == pytest.approx(1.5)
    assert own[2] == pytest.approx(5.5)
    assert own[3] == own[4] == pytest.approx(1.0)
    agg = spans.totals_by_name(recs, "p0")
    assert agg["kernel"] == {"calls": 2, "total_s": 2.0, "self_s": 2.0}
    assert spans.covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_spans_recorder_nesting():
    rec = spans.Spans()
    rec.pass_id = "p1"
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.records
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["pass"] == outer["pass"] == "p1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_summary_statistics():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    s = stats.summarize(range(1, 101))
    assert s["median"] == 50.5 and s["n"] == 100 and s["p90"] == 90
    assert stats.iqr_spread([1.0, 1.0, 1.0, 1.0]) == 0.0


def test_seeded_images_are_stratified_and_reproducible():
    a = inputs.image_indices(7, 32)
    assert a == inputs.image_indices(7, 32)
    assert a != inputs.image_indices(8, 32)
    assert all(i < 10 ** 8 for i in a)  # ids stay img%08d
    from rastertiler_rs_spark.functions.hashing import splitmix64
    import numpy as np

    g = splitmix64(np.asarray(a, dtype=np.uint64))
    strata = [int(i % 4) * 4 + int((int(x) >> 30) & 3) for i, x in zip(a, g)]
    assert sorted(strata) == sorted(list(range(16)) * 2)
    assert all((int(x) >> 34) & 7 != 7 for x in g)  # no all-nodata image


def test_digest_is_order_independent():
    tiles = [(3, 1, 2, -5), (0, 0, 0, 9), (3, 1, 1, 7)]
    assert inputs.tile_digest(tiles) == inputs.tile_digest(tiles[::-1])
    assert inputs.tile_digest(tiles) != inputs.tile_digest(tiles[:2])


def test_oracle_digest_is_stable():
    rows = inputs.images_table(inputs.image_indices(3, 16)).to_pylist()
    t1, _ = inputs.oracle_pyramid(rows, 0, 9, 256, 6)
    t2, _ = inputs.oracle_pyramid(rows, 0, 9, 256, 6)
    assert set(range(6, 10)) <= {t[0] for t in t1} <= set(range(10))
    assert inputs.tile_digest(t1) == inputs.tile_digest(t2)


def test_left_wins_merge_expectation():
    left = [(0, 0, 0, 1), (1, 0, 0, 2)]
    right = [(0, 0, 0, 3), (1, 1, 0, 2), (1, 1, 1, 4)]
    merged = inputs.merged_tiles(left, right)
    assert sorted(merged) == [(0, 0, 0, 1), (1, 0, 0, 2), (1, 1, 0, 2), (1, 1, 1, 4)]
    # shard 0 holds z0-1: the merge copies every right blob into it
    assert inputs.merged_blob_count(left, right) == 4


def _write_shard(path, tiles, blobs):
    import sqlite3

    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE map (zoom_level INTEGER, tile_column INTEGER, "
                 "tile_row INTEGER, tile_id INTEGER)")
    conn.execute("CREATE TABLE images (tile_id INTEGER, tile_data BLOB)")
    conn.executemany("INSERT INTO map VALUES (?, ?, ?, ?)", tiles)
    conn.executemany("INSERT INTO images VALUES (?, ?)", blobs.items())
    conn.commit()
    conn.close()


def test_shard_check_catches_missing_and_wrong_blobs(tmp_path):
    tiles = [(0, 0, 0, 11), (1, 0, 0, 12), (1, 1, 0, 11)]
    blobs = {11: b"png-a", 12: b"png-b"}
    _write_shard(str(tmp_path / "shard-00000.mbtiles"), tiles, blobs)
    good = inputs.read_shard_dir(str(tmp_path), blobs)
    assert good["bad_blobs"] == 0 and good["tiles"] == 3 and good["blobs"] == 2

    import sqlite3

    shard = str(tmp_path / "shard-00000.mbtiles")
    conn = sqlite3.connect(shard)
    conn.execute("DELETE FROM images WHERE tile_id = 12")
    conn.commit()
    conn.close()
    assert inputs.read_shard_dir(str(tmp_path), blobs)["bad_blobs"] == 1

    conn = sqlite3.connect(shard)
    conn.execute("INSERT INTO images VALUES (12, ?)", (b"png-c",))
    conn.commit()
    conn.close()
    assert inputs.read_shard_dir(str(tmp_path))["bad_blobs"] == 0
    assert inputs.read_shard_dir(str(tmp_path), blobs)["bad_blobs"] == 1


def test_suite_tables_and_result_digest():
    a, b = tables.make_tables(4), tables.make_tables(4)
    assert all(a[n].equals(b[n]) for n in tables.ROWS)
    assert not a["documents"].equals(tables.make_tables(5)["documents"])
    assert {n: t.num_rows for n, t in a.items()} == tables.ROWS
    rows = [(1, "x", 0.1 + 0.2), (2, None, 1.5)]
    d = tables.result_digest(["k", "s", "v"], rows)
    # order of rows and of columns does not matter
    assert d == tables.result_digest(["v", "k", "s"], [(r[2], r[0], r[1]) for r in rows[::-1]])
    assert d["rows"] == 2
    assert d != tables.result_digest(["k", "s", "v"], rows[:1])
    exp = tables.expected_results(a, ["tile_cover"])
    assert exp == tables.expected_results(b, ["tile_cover"]) and exp["tile_cover"]["rows"] > 0


def test_event_log_fold():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 1e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1e8}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1100, "Completion Time": 1600,
            "Number of Tasks": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700},
    ]
    view = eventlog.pass_view(eventlog.fold(events), "p0")
    assert len(view["jobs"]) == 1 and [s["id"] for s in view["stages"]] == [1]
    m = eventlog.spark_metrics(view, cores=2, pass_wall=1.0)
    assert m["spark.tasks"] == 2 and m["spark.executor_run_s"] == pytest.approx(0.6)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.2)
    assert m["spark.shuffle_write_bytes"] == 10
    assert m["spark.slot_idle_ratio"] == pytest.approx(0.7)
    assert m["spark.top_stage.task_max_over_median"] == pytest.approx(400 / 300)
    assert eventlog.pass_view(eventlog.fold(events), "p1")["jobs"] == []


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pyramid_merge",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_two_engine_passes_match_the_oracle(tmp_path):
    """A small pyramid through the engine and merged into a base set,
    twice: both passes must give the oracle's tile sets, so the digests
    are stable across passes; a blob deleted from a shard fails the check."""
    import sqlite3

    from benchlib import session

    work = str(tmp_path)
    session.configure_env(ROOT, work)
    wl = workloads.Pyramid("tiny", "test", n_images=16, minzoom=0, maxzoom=9,
                           overview_below=6)
    wl.prepare(5)
    assert wl.expected["merged"]["conflicts"] > 0
    spark = None
    try:
        spark = session.start(2)
        in_dir = os.path.join(work, "in")
        wl.make_inputs(in_dir)
        wl.load(spark, in_dir)
        rec = spans.Spans()
        out = os.path.join(work, "out")
        digests = []
        for _ in range(2):
            res = wl.run_pass(spark, rec, out)
            ok, info = wl.check(out, res)
            assert ok, (res, info, wl.expected)
            digests.append((inputs.read_shard_dir(os.path.join(out, "render"))["digest"],
                            inputs.read_shard_dir(os.path.join(out, "merged"))["digest"]))
            session.release_cached(spark)
        assert digests[0] == digests[1] == (wl.expected["digest"],
                                            wl.expected["merged"]["digest"])
        shard = sorted(glob.glob(os.path.join(out, "merged", "shard-*.mbtiles")))[-1]
        conn = sqlite3.connect(shard)
        conn.execute("DELETE FROM images WHERE rowid = (SELECT MIN(rowid) FROM images)")
        conn.commit()
        conn.close()
        assert not wl.check(out, res)[0]
    finally:
        session.shutdown(spark)
    assert stats.descendants(os.getpid()) == []

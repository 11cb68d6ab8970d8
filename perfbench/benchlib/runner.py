"""One benchmark run: set-up, timed passes, checks and the result line.

Before anything is timed, the workload computes the expected output of a
pass from the seed. Then:

Untraced run (``--trace 0``): one JVM; the set-up (new SparkContext
through ``session.get_spark``, seeded input generation, input load,
Python-worker warm-up) is done ``SETUP_REPS`` times and ``setup_s`` is
the median; then passes run back to back for ``--seconds`` (at least
``MIN_PASSES``). The first pass is ``cold_pass_s``; the rest give
``pass_s``.

Traced run (``--trace 1``): an untraced session first (its warm passes
are the baseline for the tracing overhead, its first pass gives the
suite's per-query cold times), then a second SparkContext in the same
JVM with the Spark event log on and the worker wrappers of
``perfbench/worker/sitecustomize.py`` loaded. The other per-layer metrics
are medians over the traced session's warm passes.

Each pass runs under its own Spark job group; after it, the number of
persisted RDDs is recorded and all persisted data is released.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from . import eventlog, session, spans as spanlib, stats
from .workloads import SUITE_QUERIES

SETUP_REPS = 3
MIN_PASSES = 2  # one cold pass and at least one warm one

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cold_pass_s": "s",
    "rows_per_s": "rows/s",
    "out_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "fixtures.images_s": "s",
    "setup.warmup_s": "s",
    "render.call_s": "s",
    "render.call_jobs": "count",
    "kernel.read_tile_block.calls": "count",
    "kernel.read_tile_block.self_s": "s",
    "kernel.mosaic.calls": "count",
    "kernel.mosaic.self_s": "s",
    "kernel.encode_tile.calls": "count",
    "kernel.encode_tile.self_s": "s",
    "kernel.encode_tile.distinct_ratio": "ratio",
    "png.decode_band.calls": "count",
    "png.decode_band.self_s": "s",
    "png.decode_band.per_image": "ratio",
    "overview.render_pyramid.call_s": "s",
    "overview.decode_canvas.calls": "count",
    "overview.decode_canvas.self_s": "s",
    "overview.cascade.stage_s": "s",
    "mbtiles_sink.write.stage_s": "s",
    "mbtiles_sink.write.task_max_over_median": "ratio",
    "mbtiles_sink.write.blobs_per_tile": "ratio",
    "mbtiles_sink.write.bytes": "B",
    "mbtiles_sink.merge.stage_s": "s",
    "mbtiles_sink.merge.task_max_over_median": "ratio",
    "mbtiles_sink.merge.bytes_read": "B",
    "mbtiles_sink.merge.bytes_written": "B",
    **{f"ops.{q}.{m}": u for q in SUITE_QUERIES
       for m, u in (("s", "s"), ("cold_s", "s"), ("jobs", "count"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.slot_idle_ratio": "ratio",
    "spark.top_stage.task_max_over_median": "ratio",
    "spark.cached_rdds_after_pass": "count",
    "trace.pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.encode_calls_mismatch": "count",
    "trace.lost_worker_tasks": "count",
    "trace.timeline_residual_ratio": "ratio",
    "trace.worker_self_over_run": "ratio",
}

WORKER_FNS = ("kernel.read_tile_block", "kernel.mosaic", "kernel.encode_tile",
              "png.decode_band", "overview.decode_canvas")


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


class Run:
    def __init__(self, root: str, workload, seed: int, seconds: float, trace: bool):
        self.root, self.wl, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, "perfbench", ".work")
        self.run_id = f"{workload.name}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.out_dir = os.path.join(self.work, "out", self.run_id)
        self.in_dir = os.path.join(self.work, "inputs", self.run_id)
        self.cores = len(os.sched_getaffinity(0))
        self.spans = spanlib.Spans()
        self._spark = None  # the current session; closed with its JVM at the end

    # -- pieces ------------------------------------------------------------

    def setup(self) -> tuple[object, dict]:
        """New SparkContext, seeded inputs made and loaded, workers warmed."""
        t0 = time.perf_counter()
        with self.spans.span("session.get_spark"):
            spark = session.start(self.cores)
        t1 = time.perf_counter()
        with self.spans.span("fixtures"):
            self.wl.make_inputs(self.in_dir)
        t2 = time.perf_counter()
        with self.spans.span("setup.load"):
            self.wl.load(spark, self.in_dir)
        t3 = time.perf_counter()
        with self.spans.span("setup.warmup"):
            session.warm_up(spark, self.cores)
        t4 = time.perf_counter()
        return spark, {"get_spark_s": t1 - t0, "fixtures_s": t2 - t1, "load_s": t3 - t2,
                       "warmup_s": t4 - t3, "total_s": t4 - t0}

    def run_passes(self, spark, tag: str, budget: float) -> list[dict]:
        """Passes back to back for ``budget`` seconds, at least
        ``MIN_PASSES`` of them; the first is the cold pass."""
        sc = spark.sparkContext
        out: list[dict] = []
        begin = time.perf_counter()
        while len(out) < MIN_PASSES or time.perf_counter() - begin < budget:
            pid = f"{tag}{len(out)}"
            sc.setJobGroup(pid, f"perfbench {self.wl.name} pass {pid}")
            self.spans.pass_id = pid
            rec = {"id": pid, "ok": False, "start": time.time()}
            t0 = time.perf_counter()
            try:
                with self.spans.span("pass"):
                    res = self.wl.run_pass(spark, self.spans, self.out_dir)
                rec["wall_s"] = time.perf_counter() - t0
                rec.update(res)
                rec["ok"], info = self.wl.check(self.out_dir, res)
                rec.update(info)
            except Exception as exc:  # a failed pass is counted, the run goes on
                rec.setdefault("wall_s", time.perf_counter() - t0)
                rec["error"] = repr(exc)[:500]
                traceback.print_exc(file=sys.stderr)
            rec.pop("results", None)
            rec["end"] = rec["start"] + rec["wall_s"]
            self.spans.pass_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["cached_rdds"] = session.release_cached(spark)
            out.append(rec)
        return out

    # -- runs ----------------------------------------------------------------

    def execute(self) -> tuple[dict, dict]:
        facts = stats.run_facts(self.root, self.trace)
        facts["cores_used"] = self.cores
        os.makedirs(self.work, exist_ok=True)
        session.configure_env(self.root, self.work)
        t0 = time.perf_counter()
        self.wl.prepare(self.seed)
        prepare_s = time.perf_counter() - t0
        cpu0 = stats.cpu_sample()
        load0 = os.getloadavg()[0]
        try:
            if self.trace:
                report, metrics, correct = self._traced()
            else:
                report, metrics, correct = self._untraced()
        finally:
            session.shutdown(self._spark)
            shutil.rmtree(self.in_dir, ignore_errors=True)
            shutil.rmtree(self.out_dir, ignore_errors=True)
        facts["steal_pct"] = stats.steal_pct(cpu0, stats.cpu_sample())
        facts["load1_start"] = load0
        facts["load1_end"] = os.getloadavg()[0]
        passes = report["passes"]
        failed = sum(1 for p in passes if not p["ok"])
        report["summary"]["failed_ratio"] = {"unit": "ratio", "median": failed / len(passes),
                                             "n": len(passes)}
        report.update(workload=self.wl.name, seed=self.seed, seconds=self.seconds,
                      facts=facts, attempted=len(passes), failed=failed,
                      prepare_s=prepare_s, expected=self.wl.expected)
        result = {
            "correct": bool(correct and failed == 0),
            "attempted": len(passes),
            "failed": failed,
            "metrics": metrics,
        }
        os.makedirs(os.path.join(self.work, "results"), exist_ok=True)
        base = os.path.join(self.work, "results", self.run_id)
        with open(base + ".json", "w") as f:
            json.dump({"report": report, "result": result}, f, indent=1, default=str)
        self.spans.dump(base + ".spans.jsonl")
        return report, result

    def _untraced(self):
        setups = []
        for _ in range(SETUP_REPS):
            if self._spark is not None:
                self._spark.stop()
            self._spark, timing = self.setup()
            setups.append(timing)
        with stats.PeakRss() as rss:
            passes = self.run_passes(self._spark, "p", self.seconds)
        cold, warm = passes[0], passes[1:]
        ok = [p for p in passes if p["ok"]]
        samples = {
            "setup_s": [s["total_s"] for s in setups],
            "pass_s": [p["wall_s"] for p in warm],
            "cold_pass_s": [cold["wall_s"]],
            "rows_per_s": [p["rows"] / p["wall_s"] for p in warm if p["ok"]],
            "out_bytes_per_row": [p["bytes"] / p["rows"] for p in ok],
            "peak_rss_mb": [rss.peak],
        }
        summary = {name: {"unit": unit, **stats.summarize(samples[name])}
                   for name, unit in END_TO_END.items()}
        metrics = {name: {"value": summary[name]["median"], "unit": unit}
                   for name, unit in END_TO_END.items()}
        report = {"setups": setups, "setup_first_s": setups[0]["total_s"],
                  "passes": passes, "summary": summary}
        return report, metrics, all(m["value"] is not None for m in metrics.values())

    def _traced(self):
        self._spark, setup_u = self.setup()
        untraced = self.run_passes(self._spark, "u", self.seconds / 2)
        ev_dir = os.path.join(self.work, "eventlog", self.run_id)
        tr_dir = os.path.join(self.work, "trace", self.run_id)
        os.makedirs(ev_dir, exist_ok=True)
        os.makedirs(tr_dir, exist_ok=True)
        session.set_jvm_properties(self._spark, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.executorEnv.PERFBENCH_TRACE_DIR": tr_dir,
            "spark.executorEnv.PYTHONPATH": os.path.join(self.root, "perfbench", "worker"),
        })
        self._spark.stop()
        self._spark, setup_t = self.setup()
        with self.spans.around("rastertiler_rs_spark.operators.render", "render",
                               "render.render"):
            traced = self.run_passes(self._spark, "t", self.seconds / 2)
        self._spark.stop()

        folded = eventlog.fold(eventlog.read_events(ev_dir))
        workers = []
        for path in sorted(glob.glob(os.path.join(tr_dir, "w-*.jsonl"))):
            with open(path) as f:
                workers.extend(json.loads(line) for line in f if line.strip())
        per_pass = [self.layer_metrics(p, folded, workers) for p in traced[1:]]
        values = {name: _median([m.get(name) for m in per_pass]) for name in PER_LAYER}
        values["session.get_spark_s"] = setup_u["get_spark_s"]
        values["fixtures.images_s"] = setup_u["fixtures_s"]
        values["setup.warmup_s"] = setup_u["warmup_s"]
        cold = {s["name"]: s["end"] - s["start"] for s in self.spans.records
                if s["pass"] == untraced[0]["id"]}
        for q in SUITE_QUERIES:
            values[f"ops.{q}.cold_s"] = cold.get(f"ops.{q}", 0.0)
        values["trace.pass_s"] = _median([p["wall_s"] for p in traced[1:]])
        base = _median([p["wall_s"] for p in untraced[1:]], None)
        values["trace.overhead_ratio"] = values["trace.pass_s"] / base if base else 0.0
        checks = {
            "encode_calls_equal_tiles": all(
                m["trace.encode_calls_mismatch"] == 0 for m in per_pass),
            "no_lost_worker_tasks": all(m["trace.lost_worker_tasks"] == 0 for m in per_pass),
            "timeline_within_10pct": all(
                m["trace.timeline_residual_ratio"] <= 0.10 for m in per_pass),
            "worker_self_within_run": all(
                m["trace.worker_self_over_run"] <= 1.0 for m in per_pass),
        }
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in PER_LAYER.items()}
        summary = {name: {"unit": unit, "median": values[name], "n": len(per_pass)}
                   for name, unit in PER_LAYER.items()}
        report = {"setups": [setup_u, setup_t], "passes": untraced + traced,
                  "summary": summary,
                  "driver_spans": {p["id"]: spanlib.totals_by_name(self.spans.records, p["id"])
                                   for p in traced},
                  "untraced_passes": [p["id"] for p in untraced],
                  "per_pass_layers": per_pass, "checks": checks}
        correct = bool(per_pass) and all(checks.values())
        return report, metrics, correct

    # -- per-layer metrics of one traced pass --------------------------------

    def layer_metrics(self, p: dict, folded: dict, workers: list) -> dict:
        """Every per-layer figure of traced pass ``p``; a layer the
        workload does not call reports 0."""
        view = eventlog.pass_view(folded, p["id"])
        recs = [w for w in workers if w.get("group") == p["id"]]
        fns = {name: [0, 0.0, 0.0] for name in WORKER_FNS}
        digests = set()
        for r in recs:
            for name, (calls, total, own) in r["fns"].items():
                agg = fns.setdefault(name, [0, 0.0, 0.0])
                agg[0] += calls
                agg[1] += total
                agg[2] += own
            digests.update(r["enc"])
        spans = {s["name"]: s for s in self.spans.records if s["pass"] == p["id"]}

        def call_s(name):
            s = spans.get(name)
            return (s["end"] - s["start"]) if s else 0.0

        def jobs_of(name):
            s = spans.get(name)
            return eventlog.jobs_in(view, s["start"], s["end"]) if s else []

        def last_job_stages(name):
            jobs = jobs_of(name)
            if not jobs:
                return []
            ids = set(jobs[-1]["stages"])
            return [st for st in view["stages"] if st["id"] in ids]

        def stage_block(stages):
            ss = [eventlog.stage_stats(st) for st in stages]
            return (sum(x["wall_s"] for x in ss),
                    max((x["max_over_median"] for x in ss), default=0.0))

        m = {}
        m["render.call_s"] = call_s("render.render")
        m["render.call_jobs"] = len(jobs_of("render.render"))
        for name in WORKER_FNS:
            m[f"{name}.calls"] = fns[name][0]
            m[f"{name}.self_s"] = fns[name][2]
        enc_calls = fns["kernel.encode_tile"][0]
        m["kernel.encode_tile.distinct_ratio"] = len(digests) / enc_calls if enc_calls else 0.0
        images = self.wl.expected.get("images", 0)
        m["png.decode_band.per_image"] = fns["png.decode_band"][0] / images if images else 0.0
        m["overview.render_pyramid.call_s"] = call_s("overview.render_pyramid")

        by_stage: dict[int, list] = {}
        for r in recs:
            if "stage" in r:
                by_stage.setdefault(r["stage"], []).append(r)
        cascade = []
        for st in view["stages"]:
            names = {n for r in by_stage.get(st["id"], []) for n, v in r["fns"].items() if v[0]}
            if "overview.decode_canvas" in names or (
                    "kernel.encode_tile" in names and "kernel.mosaic" not in names):
                cascade.append(st)
        m["overview.cascade.stage_s"] = stage_block(cascade)[0]

        write_s, write_skew = stage_block(last_job_stages("mbtiles_sink.write_mbtiles_shards"))
        written = "mbtiles_sink.write_mbtiles_shards" in spans
        m["mbtiles_sink.write.stage_s"] = write_s
        m["mbtiles_sink.write.task_max_over_median"] = write_skew
        m["mbtiles_sink.write.blobs_per_tile"] = (
            p["blobs"] / p["rows"] if written and p.get("rows") else 0.0)
        m["mbtiles_sink.write.bytes"] = p.get("bytes", 0) if written else 0
        merge_s, merge_skew = stage_block(last_job_stages("mbtiles_sink.merge_mbtiles_shards"))
        m["mbtiles_sink.merge.stage_s"] = merge_s
        m["mbtiles_sink.merge.task_max_over_median"] = merge_skew
        m["mbtiles_sink.merge.bytes_read"] = p.get("bytes_read", 0)
        m["mbtiles_sink.merge.bytes_written"] = p.get("merged_bytes", 0)
        for q in SUITE_QUERIES:
            m[f"ops.{q}.s"] = call_s(f"ops.{q}")
            m[f"ops.{q}.jobs"] = len(jobs_of(f"ops.{q}"))

        m.update(eventlog.spark_metrics(view, self.cores, p["wall_s"]))
        m["spark.cached_rdds_after_pass"] = p["cached_rdds"]

        # reconciliation
        m["trace.encode_calls_mismatch"] = abs(enc_calls - p.get("tiles_rendered", 0))
        # tasks that ran Python without leaving a worker record; a stage
        # with records but no SQL Python metrics ran Python in every task
        lost = 0
        for st in view["stages"]:
            seen = {r["partition"] for r in by_stage.get(st["id"], [])}
            python = [t for t in st["tasks"] if t["python"]] or (st["tasks"] if seen else [])
            lost += sum(1 for t in python if t["partition"] not in seen)
        m["trace.lost_worker_tasks"] = lost
        stage_cover = spanlib.covered((st["start"], st["end"]) for st in view["stages"])
        job_cover = spanlib.covered(
            (max(j["start"], p["start"]), min(j["end"] or p["end"], p["end"]))
            for j in view["jobs"])
        gaps = p["wall_s"] - job_cover
        m["trace.timeline_residual_ratio"] = abs(stage_cover + gaps - p["wall_s"]) / p["wall_s"]
        ratio = 0.0
        for st in view["stages"]:
            own = sum(v[2] for r in by_stage.get(st["id"], []) for v in r["fns"].values())
            run = eventlog.stage_stats(st)["run_s"]
            if own:
                ratio = max(ratio, own / run if run else float("inf"))
        m["trace.worker_self_over_run"] = ratio
        return m

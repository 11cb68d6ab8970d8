"""Fold a Spark event log into per-pass job, stage and task figures.

The benchmark sets the job group to the pass id before each pass, so every
job carries ``spark.jobGroup.id`` in its properties. The log is written
uncompressed (``spark.eventLog.compress=false``) and read after the
session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold(events) -> dict:
    """Jobs, stages and tasks keyed by id, each job with its group."""
    jobs, stages, stage_job = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0, "end": None,
                "stages": list(e.get("Stage IDs", [])),
            }
            for s in e.get("Stage IDs", []):
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.setdefault(si["Stage ID"], {"tasks": []})
            st.update(id=si["Stage ID"], name=si.get("Stage Name", ""),
                      n_tasks=si.get("Number of Tasks", 0),
                      start=(si.get("Submission Time") or 0) / 1000.0,
                      end=(si.get("Completion Time") or 0) / 1000.0,
                      job=stage_job.get(si["Stage ID"]))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            # SQL Python operators report these per task; RDD ones do not
            python = any("Python workers" in (a.get("Name") or "")
                         for a in info.get("Accumulables", []))
            stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append({
                "partition": info.get("Partition ID", info.get("Index")),
                "python": python,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "start": info.get("Launch Time", 0) / 1000.0,
                "end": info.get("Finish Time", 0) / 1000.0,
            })
    for st in stages.values():
        st.setdefault("job", stage_job.get(st.get("id")))
    return {"jobs": jobs, "stages": stages}


def stage_stats(st: dict) -> dict:
    runs = [t["run_s"] for t in st["tasks"]]
    med = statistics.median(runs) if runs else 0.0
    return {
        "wall_s": max(0.0, st.get("end", 0) - st.get("start", 0)),
        "tasks": len(runs),
        "run_s": sum(runs),
        "max_over_median": (max(runs) / med) if med > 0 else 0.0,
    }


def pass_view(folded: dict, pass_id: str) -> dict:
    """Jobs and completed stages of one pass (job group ``pass_id``)."""
    jobs = [j for j in folded["jobs"].values() if j["group"] == pass_id]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in folded["stages"].values()
              if s.get("job") in job_ids and "start" in s]
    return {"jobs": sorted(jobs, key=lambda j: j["start"]),
            "stages": sorted(stages, key=lambda s: s["start"])}


def spark_metrics(view: dict, cores: int, pass_wall: float) -> dict:
    """The ``spark.*`` per-layer figures of one pass."""
    tasks = [t for s in view["stages"] for t in s["tasks"]]
    run = sum(t["run_s"] for t in tasks)
    top = max(view["stages"], key=lambda s: stage_stats(s)["wall_s"], default=None)
    return {
        "spark.jobs": len(view["jobs"]),
        "spark.stages": len(view["stages"]),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.slot_idle_ratio": (1.0 - run / (cores * pass_wall)) if pass_wall > 0 else 0.0,
        "spark.top_stage.task_max_over_median":
            stage_stats(top)["max_over_median"] if top else 0.0,
    }


def jobs_in(view: dict, start: float, end: float) -> list[dict]:
    """Jobs of the pass submitted within [start, end]."""
    return [j for j in view["jobs"] if start <= j["start"] <= end]

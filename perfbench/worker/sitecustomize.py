"""Worker-side tracing for the traced benchmark run.

Python imports ``sitecustomize`` at start-up from the first directory on
``sys.path`` that has one. The benchmark puts this directory on the Spark
Python workers' ``PYTHONPATH`` and sets ``PERFBENCH_TRACE_DIR`` only for
the traced run, so in every other process this module does nothing.

When active it runs in the PySpark daemon before ``pyspark.daemon`` binds
``pyspark.worker.main``, and before any task closure is unpickled. It
replaces the layer functions with timing wrappers in their defining
modules and in the modules that imported them by name
(``operators.render``, ``operators.overview``), so both closures pickled
by reference and module-level helpers resolve to the wrappers.

Each task appends one JSON line to ``w-<pid>.jsonl``: stage, partition,
attempt and job group (the benchmark's pass id) from ``TaskContext``,
the task's start and end, per-function calls / total / self seconds, and
an 8-byte digest of every encoded tile.
"""

import os

_DIR = os.environ.get("PERFBENCH_TRACE_DIR")


def _install(trace_dir):
    import hashlib
    import importlib
    import json
    import time

    import pyspark.worker
    from pyspark.taskcontext import TaskContext

    clock = time.perf_counter
    state = {"ctx": None, "fns": {}, "enc": [], "stack": [0.0]}

    def wrap(name, fn, digest=False):
        def wrapper(*args, **kwargs):
            stack = state["stack"]
            stack.append(0.0)
            t0 = clock()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = clock() - t0
                child = stack.pop()
                stack[-1] += dt
                rec = state["fns"].setdefault(name, [0, 0.0, 0.0])
                rec[0] += 1
                rec[1] += dt
                rec[2] += dt - child
            if digest:
                state["enc"].append(hashlib.blake2b(out, digest_size=8).hexdigest())
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__qualname__ = getattr(fn, "__qualname__", name)
        return wrapper

    targets = [
        # (span name, defining module, attribute, modules that import it by name)
        ("kernel.read_tile_block", "rastertiler_rs_spark.kernel", "read_tile_block",
         ["rastertiler_rs_spark.operators.render"]),
        ("kernel.mosaic", "rastertiler_rs_spark.kernel", "mosaic",
         ["rastertiler_rs_spark.operators.render"]),
        ("kernel.encode_tile", "rastertiler_rs_spark.kernel", "encode_tile",
         ["rastertiler_rs_spark.operators.render",
          "rastertiler_rs_spark.operators.overview"]),
        ("png.decode_band", "rastertiler_rs_spark.png.codec", "decode_band",
         ["rastertiler_rs_spark.png", "rastertiler_rs_spark.operators.render"]),
        ("overview.decode_canvas", "rastertiler_rs_spark.operators.overview",
         "decode_canvas", []),
    ]
    for name, home, attr, users in targets:
        mod = importlib.import_module(home)
        w = wrap(name, getattr(mod, attr), digest=(name == "kernel.encode_tile"))
        for m in [home] + users:
            setattr(importlib.import_module(m), attr, w)

    orig_set = TaskContext._setTaskContext.__func__

    def _set_task_context(cls, tc):
        # main() clears the context when a task ends; keep the last one
        if tc is None and cls._taskContext is not None:
            state["ctx"] = cls._taskContext
        orig_set(cls, tc)

    TaskContext._setTaskContext = classmethod(_set_task_context)

    orig_main = pyspark.worker.main

    def main(infile, outfile):
        state.update(ctx=None, fns={}, enc=[], stack=[0.0])
        start = time.time()
        t0 = clock()
        try:
            return orig_main(infile, outfile)
        finally:
            dur = clock() - t0
            ctx = state["ctx"]
            rec = {
                "pid": os.getpid(), "start": start, "end": start + dur,
                "self_s": dur - state["stack"][0],
                "fns": state["fns"], "enc": state["enc"],
            }
            if ctx is not None:
                rec.update(stage=ctx.stageId(), partition=ctx.partitionId(),
                           attempt=ctx.attemptNumber(),
                           group=ctx.getLocalProperty("spark.jobGroup.id"))
            # one file per forked worker, so records never interleave
            with open(os.path.join(trace_dir, f"w-{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")

    pyspark.worker.main = main


if _DIR:
    _install(_DIR)

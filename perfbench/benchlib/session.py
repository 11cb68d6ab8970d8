"""Spark session lifecycle for one benchmark run.

One JVM per run. Every set-up starts a new SparkContext in it through the
package's ``session.get_spark`` (so a later change to the session's
configuration shows in ``setup_s``); the run ends by stopping the context,
closing the gateway JVM and waiting for every process it started.
"""

from __future__ import annotations

import os
import shlex
import signal
import time

from . import stats


def configure_env(root: str, work: str) -> None:
    """Environment for the JVM this process launches and, through it,
    for the Python workers. Everything writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = root
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the session asks for 48g of driver memory by default; these inputs
    # need far less, and the benchmark must fit on small hosts
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the spark-submit launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def start(cores: int):
    from rastertiler_rs_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_jvm_properties(spark, props: dict) -> None:
    """System properties the next SparkContext in this JVM picks up."""
    system = spark.sparkContext._jvm.java.lang.System
    for key, value in props.items():
        system.setProperty(key, str(value))


def warm_up(spark, cores: int) -> None:
    """Start one Python worker per core and import the package in it."""

    def _import(batches):
        import rastertiler_rs_spark.operators.mbtiles_sink  # noqa: F401
        import rastertiler_rs_spark.operators.overview  # noqa: F401
        import rastertiler_rs_spark.operators.render  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(_import, "id long").collect()


def release_cached(spark) -> int:
    """Drop all persisted data; returns how many RDDs were persisted."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the gateway JVM and wait for all descendants."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout: float = 10.0) -> None:
    """Terminate and wait for any process this one started that is left."""
    me = os.getpid()
    left = stats.descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout
        while left and time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = stats.descendants(me)
            time.sleep(0.1)
        if not left:
            return

"""Stop PySpark Python workers from re-parsing unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
that makes every ``zipimport.zipimporter`` on the worker's import path
re-read and re-parse its archive's central directory. One of those
archives is ``pyspark.zip`` (3.5 MB, ~1.3k entries): about 150 ms a
call, paid again by every task of every Python stage whatever its work.

``install_if_worker()`` replaces ``zipimporter.invalidate_caches`` with a
version that remembers, per importer, the ``(st_ino, st_size,
st_mtime_ns)`` stamp of its archive and runs the original method only
when the stamp differs: on the first call, when the archive was
rewritten (a re-shipped ``--py-files`` or ``addPyFile`` zip) and when the
stat fails. What is importable after the call is what the original would
give.

It installs only in PySpark daemon and worker processes, recognised by
``PYTHON_WORKER_FACTORY_SECRET`` in the environment, which the JVM sets
for them and never for the driver. The package's ``__init__`` calls it,
so the first task that unpickles package code installs it in its
worker, and a daemon that imports the package at start-up hands it to
every worker it forks. The stamp reaches only workers that import the
package: a worker that runs no package code (the PythonRDD map behind
``createDataFrame(list)``, whose pool is separate from the Arrow UDF
workers') keeps re-parsing, which is one reason the package builds its
driver-side frames with ``session.local_frame``.
"""

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stamped_invalidate_caches(self):
    """Reload the archive's file data only if the archive changed."""
    # stat before reading: a rewrite between the two leaves an older
    # stamp, so the next call reads again rather than missing it
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _original_invalidate_caches(self)
    self._archive_stamp = stamp


def install_if_worker():
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches


def installed():
    return zipimport.zipimporter.invalidate_caches is _stamped_invalidate_caches

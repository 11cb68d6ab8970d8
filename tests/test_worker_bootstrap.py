"""The worker-side zip-cache stamp (``rastertiler_rs_spark._worker``).

PySpark invalidates import caches at the start of every task; the stamp
makes a ``zipimporter`` re-read its archive only when the archive
changed. The first tests drive ``zipimporter`` directly with a counting
``_read_directory`` and no Spark; the last two check the install in real
Spark workers and that a zip added mid-session with ``addPyFile`` is
still importable, which is what the cache invalidation is for."""

import importlib.util
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from rastertiler_rs_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Install the stamp for one test and count directory reads per archive."""
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._stamped_invalidate_caches)
    return reads


def test_unchanged_archive_read_once(reads, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": 1})
    importer = zipimport.zipimporter(path)
    del reads[:]
    for _ in range(5):
        importer.invalidate_caches()
    assert reads == [path]
    assert _load(importer, "mod_a").VALUE == 1


def test_rewritten_archive_reread(reads, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": 1})
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert importer.find_spec("mod_b") is None
    _write_zip(path, {"mod_a": 1, "mod_b": 2})
    del reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [path]
    assert _load(importer, "mod_b").VALUE == 2


def test_deleted_archive_falls_back(reads, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a": 1})
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()
    os.remove(path)
    del reads[:]
    importer.invalidate_caches()  # the original swallows the failed read
    importer.invalidate_caches()
    assert reads == [path, path]
    assert importer.find_spec("mod_a") is None
    assert path not in zipimport._zip_directory_cache
    # a re-created archive is read again
    _write_zip(path, {"mod_c": 3})
    importer.invalidate_caches()
    assert _load(importer, "mod_c").VALUE == 3


def test_driver_import_does_not_patch():
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert not _worker.installed()
    code = ("import rastertiler_rs_spark, zipimport; "
            "from rastertiler_rs_spark import _worker; "
            "print(_worker.installed(), zipimport.zipimporter.invalidate_caches.__module__)")
    env = dict(os.environ, PYTHONPATH=REPO)
    driver = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                            capture_output=True, text=True, check=True)
    assert driver.stdout.split() == ["False", "zipimport"]
    env["PYTHON_WORKER_FACTORY_SECRET"] = "x"
    worker = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                            capture_output=True, text=True, check=True)
    assert worker.stdout.split() == ["True", "rastertiler_rs_spark._worker"]


def test_stamp_installed_in_spark_workers(spark):
    def probe(batches):
        import pandas as pd

        from rastertiler_rs_spark import _worker as w

        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [w.installed()]})

    rows = spark.range(0, 8, numPartitions=8).mapInPandas(
        probe, "installed boolean").collect()
    assert len(rows) == 8 and all(r.installed for r in rows)


def test_add_py_file_mid_session(spark, tmp_path):
    sc = spark.sparkContext
    name = f"fresh_{uuid.uuid4().hex[:12]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: 7})

    def probe(batches):
        import importlib

        import pandas as pd

        import rastertiler_rs_spark  # noqa: F401  (installs the stamp)

        for _ in batches:
            pass
        try:
            value = importlib.import_module(name).VALUE
        except ImportError:
            value = -1
        yield pd.DataFrame({"value": [value]})

    df = spark.range(0, 8, numPartitions=8)
    # the workers already run with the stamp when the zip arrives
    assert {r.value for r in df.mapInPandas(probe, "value int").collect()} == {-1}
    sc.addPyFile(path)
    try:
        assert {r.value for r in df.mapInPandas(probe, "value int").collect()} == {7}
    finally:
        sys.path[:] = [p for p in sys.path if not p.endswith(f"{name}.zip")]

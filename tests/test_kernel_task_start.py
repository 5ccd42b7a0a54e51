"""Task start in a reused Python worker reads no zip directory, and its
imported heap is out of the daemon's per-task collection.

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start; before CPython 3.13 each zipimporter then reads its archive's
central directory again. Importing ``t2p_spark.kernel`` makes that read
happen only for an archive whose mtime or size changed.

PySpark's daemon runs ``gc.collect()`` after every task of a reused
worker. The extract kernel freezes the worker's heap at its first call,
so that collection no longer scans the imported modules.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

zip_stamps = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimport caches lazily; the kernel "
           "leaves zipimport alone there")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@zip_stamps
def test_invalidate_caches_reads_only_changed_zips(tmp_path, monkeypatch):
    import t2p_spark.kernel  # noqa: F401 — installs the stamp check

    archive = str(tmp_path / "mods.zip")
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    _write_zip(archive, {"t2p_zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import t2p_zipmod_a

        assert t2p_zipmod_a.X == 1
        del reads[:]
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"t2p_zipmod_a": "X = 1\n",
                             "t2p_zipmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) >= 1
        import t2p_zipmod_b

        assert t2p_zipmod_b.Y == 2
    finally:
        for name in ("t2p_zipmod_a", "t2p_zipmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@zip_stamps
def test_reused_worker_task_start_reads_no_zip_directory():
    """Two one-task jobs on one reused worker (local[1]): the first
    imports the kernel and counts ``_read_directory`` calls from then on,
    the second returns the count its own task start left."""
    code = """
import zipimport
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
sc = spark.sparkContext

def count_reads(_):
    import t2p_spark.kernel  # noqa: F401
    read = zipimport._read_directory
    zipimport.t2p_reads = reads = []

    def counted(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counted
    return 0

sc.parallelize([0], 1).map(count_reads).collect()
print("READS", sc.parallelize([0], 1)
      .map(lambda _: len(zipimport.t2p_reads)).collect()[0])
spark.stop()
"""
    assert _run_driver(code, "READS ") == ["READS 0"]


def _run_driver(code, prefix):
    """Run ``code`` as a Spark driver script; its stdout lines that start
    with ``prefix``."""
    from tests.conftest import REPO

    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return [line for line in out.stdout.splitlines()
            if line.startswith(prefix)]


def test_reused_worker_heap_is_frozen_not_the_driver():
    """One extract-kernel job, then one job that reads the freeze count,
    on one reused worker (local[1]); then the kernel runs in the driver,
    whose count stays 0."""
    code = """
import gc
import pyarrow as pa
from pyspark.sql import SparkSession
from t2p_spark.kernel import extract_kernel
from t2p_spark.schema import EXTRACTED_SCHEMA

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
docs = spark.createDataFrame(
    [("d1", 10, 10, "", '{"Blocks": []}')],
    "doc_id string, width int, height int, media_ref string, "
    "json_text string")
assert docs.mapInArrow(extract_kernel, EXTRACTED_SCHEMA).count() == 1

def freeze_count(batches):
    for _ in batches:
        pass
    yield pa.RecordBatch.from_arrays(
        [pa.array([gc.get_freeze_count()], pa.int64())], names=["n"])

worker = spark.range(1, numPartitions=1).mapInArrow(
    freeze_count, "n long").collect()[0][0]
print("WORKER_FROZEN", worker > 0)
batch = docs.toArrow().to_batches()[0]
assert len(list(extract_kernel(iter([batch])))) == 1
print("DRIVER_FROZEN", gc.get_freeze_count())
spark.stop()
"""
    assert _run_driver(code, ("WORKER_FROZEN", "DRIVER_FROZEN")) == [
        "WORKER_FROZEN True", "DRIVER_FROZEN 0"]

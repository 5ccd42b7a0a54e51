"""Task start in a reused Python worker reads no zip directory.

PySpark's worker calls ``importlib.invalidate_caches()`` at every task
start; before CPython 3.13 each zipimporter then reads its archive's
central directory again. Importing ``t2p_spark.kernel`` makes that read
happen only for an archive whose mtime or size changed.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimport caches lazily; the kernel "
           "leaves zipimport alone there")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


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


def test_reused_worker_task_start_reads_no_zip_directory():
    """Two one-task jobs on one reused worker (local[1]): the first
    imports the kernel and counts ``_read_directory`` calls from then on,
    the second returns the count its own task start left."""
    from tests.conftest import REPO

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
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    reads = [line for line in out.stdout.splitlines()
             if line.startswith("READS ")]
    assert reads == ["READS 0"], out.stdout[-2000:]

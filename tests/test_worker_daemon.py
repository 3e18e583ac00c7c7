"""The Python worker daemon (``worker_daemon.py``): a zip importer
re-reads its archive's directory only when the archive changed.

Unit tests of the rule run in this process; the rest run Python
stages under the session's daemon. Re-reads are pinned by count
(calls to ``zipimport._read_directory``), never by time.
"""
from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from collections import defaultdict

import pytest

from google_sheets_etl_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.fixture()
def patched_reads(monkeypatch):
    """The daemon's rule installed in this process; yields the list of
    archive paths ``_read_directory`` is called on."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_archive_is_reread_only_when_it_changed(tmp_path, patched_reads, monkeypatch):
    archive = str(tmp_path / "wd_unit.zip")
    _write_zip(archive, {"wd_unit_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_unit_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        patched_reads.clear()  # the importer's own first read
        importlib.invalidate_caches()  # first call: no key yet, stock read
        assert patched_reads.count(archive) == 1
        assert importer._read_key is not None

        # unchanged: no re-read, however often
        patched_reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert patched_reads.count(archive) == 0
        # the stock rule would have read it each time
        worker_daemon._stock_invalidate_caches(importer)
        assert patched_reads.count(archive) == 1

        # a new member: re-read, and the new module imports
        patched_reads.clear()
        _write_zip(archive, {"wd_unit_a.py": "VALUE = 1\n", "wd_unit_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert patched_reads.count(archive) == 1
        assert importlib.import_module("wd_unit_b").VALUE == 2
        patched_reads.clear()
        importlib.invalidate_caches()
        assert patched_reads.count(archive) == 0

        # deleted: no exception, and the stock behaviour (an emptied
        # importer, the archive out of the directory cache)
        os.remove(archive)
        importlib.invalidate_caches()
        assert importer._files == {}
        assert archive not in zipimport._zip_directory_cache
        assert importer._read_key is None
        importlib.invalidate_caches()  # still no key: stock again, no raise
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("wd_unit_a", "wd_unit_b"):
            sys.modules.pop(name, None)


def test_get_spark_names_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "google_sheets_etl_spark.worker_daemon"


def test_reused_worker_task_rereads_no_archive(spark):
    """In a reused worker, a task's set-up re-reads 0 archive
    directories; under the stock daemon it re-reads one per zip
    importer (16 on ``pyspark.zip`` with pyspark 4.1 on CPython 3.11)."""
    from tools.python_stage_cost import TASK_READS_SCHEMA, task_archive_reads

    one = spark.range(1).coalesce(1)
    by_worker, later = defaultdict(list), []
    for _ in range(10 * spark.sparkContext.defaultParallelism):
        r = one.mapInArrow(task_archive_reads, TASK_READS_SCHEMA).collect()[0]
        # a worker's first sample counts what ran there before this test
        if by_worker[r.pid]:
            later.append(r)
        by_worker[r.pid].append(r)
        if len(later) == 4:
            break
    assert later, "no worker ran two of the tasks"
    assert [r.reads for r in later] == [0] * len(later)
    assert all(r.patch != "zipimport" and r.zip_importers > 0 for r in later)


def _imports(names):
    def kernel(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"v": [sum(importlib.import_module(n).VALUE for n in names)]})

    return kernel


def test_py_file_added_mid_session_imports(spark, tmp_path):
    sc = spark.sparkContext
    n = sc.defaultParallelism
    frame = spark.range(n, numPartitions=n)
    # workers exist and have run tasks before either zip is added
    frame.mapInArrow(lambda it: it, "id long").collect()
    first, second = str(tmp_path / "wd_added_a.zip"), str(tmp_path / "wd_added_b.zip")
    _write_zip(first, {"wd_added_a.py": "VALUE = 1\n"})
    sc.addPyFile(first)
    got = frame.mapInArrow(_imports(["wd_added_a"]), "v long").collect()
    assert [r.v for r in got] == [1] * n
    _write_zip(second, {"wd_added_b.py": "VALUE = 10\n"})
    sc.addPyFile(second)
    got = frame.mapInArrow(_imports(["wd_added_a", "wd_added_b"]), "v long").collect()
    assert [r.v for r in got] == [11] * n


DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    from google_sheets_etl_spark.session import get_spark
    spark = get_spark("worker-daemon-outside")
    spark.sparkContext.setLogLevel("OFF")
    try:
        n = spark.range(6, numPartitions=2).mapInArrow(lambda it: it, "id long").count()
        print("rows", n)
    finally:
        spark.stop()
""")


def _outside_driver(tmp_path, pythonpath):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    return subprocess.run([sys.executable, "-c", DRIVER, REPO], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)


def test_driver_outside_checkout_runs_python_stage(tmp_path):
    """perfbench's layout: the driver runs elsewhere, the checkout on
    ``PYTHONPATH``, which Spark passes on to the daemon."""
    proc = _outside_driver(tmp_path, REPO)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 6" in proc.stdout


def test_daemon_that_cannot_import_the_package_fails_fast(tmp_path):
    """Without the checkout on ``PYTHONPATH`` the daemon cannot start:
    the stage fails with Spark's launch error instead of hanging."""
    proc = _outside_driver(tmp_path, None)
    assert proc.returncode != 0
    assert "rows" not in proc.stdout
    assert "google_sheets_etl_spark" in proc.stderr

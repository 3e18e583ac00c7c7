#!/usr/bin/env python
"""The fixed cost of one Python task, and where it goes. Usage:

    SPARK_GRAFT_CPUS=4 python tools/python_stage_cost.py [reps]

On a ``get_spark`` session (``local[SPARK_GRAFT_CPUS]``, the event log
on, in a temporary directory removed at exit), after a warm-up that
starts every worker, it prints one JSON line with:

- ``jvm_collect_ms`` / ``python_collect_ms``: medians over ``reps``
  (default 15) of ``spark.range(10).coalesce(1).collect()`` and of the
  same frame through a no-op ``mapInArrow`` kernel;
- ``kernel_start_ms``: median, min and max of the delay from a no-op
  kernel's task launch (the event log's ``Launch Time``) to the
  kernel's first line, on the same host clock;
- ``archive_reads_per_task``: for each task that ran in a worker which
  had already run one, the calls to ``zipimport._read_directory`` over
  that task (its set-up included); ``zip_importers``, how many zip
  importers the worker holds, which is what CPython 3.11's stock
  ``invalidate_caches`` re-reads per task; ``stock_invalidate_ms``,
  that stock re-read timed inside the worker;
- ``daemon_patch``: whether the workers' ``zipimporter.invalidate_caches``
  is the worker daemon's (``worker_daemon.py``) or CPython's own.

On CPython 3.13+ the stock ``invalidate_caches`` only drops the cached
directory and the next import re-reads it once: ``stock_reads`` is 0
there, and ``archive_reads_per_task`` under ``pyspark.daemon`` shows
what is left.
"""
from __future__ import annotations

import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TASK_READS_SCHEMA = ("pid long, reads long, zip_importers long, stock_reads long, "
                     "stock_ms double, patch string")


def task_archive_reads(batches):
    """``mapInArrow`` kernel: one row of this worker's pid and the
    archive directory reads since its previous task's kernel ended
    (-1 in a worker's first task, when the counter is installed), the
    zip importers it holds, and the stock ``invalidate_caches`` over
    them (reads and ms). The count resets when the kernel ends."""
    import zipimport

    import pyarrow as pa

    counter = getattr(zipimport, "_task_reads", None)
    if counter is None:
        counter = zipimport._task_reads = [-1]
        stock_read = zipimport._read_directory

        def counting(path):
            counter[0] += 1
            return stock_read(path)

        zipimport._read_directory = counting
    reads = counter[0]
    for _ in batches:
        pass
    zip_importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
    patched = zipimport.zipimporter.invalidate_caches
    stock = getattr(sys.modules.get(patched.__module__), "_stock_invalidate_caches", patched)
    before, cached = counter[0], dict(zipimport._zip_directory_cache)
    t0 = time.perf_counter()
    for imp in zip_importers:
        stock(imp)
    stock_ms = (time.perf_counter() - t0) * 1e3
    stock_reads = counter[0] - before
    # a lazy stock rule (3.13+) only drops the cache: put it back, so
    # the next task's count is not this probe's doing
    zipimport._zip_directory_cache.update(cached)
    counter[0] = 0
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()], "reads": [reads],
        "zip_importers": [len(zip_importers)], "stock_reads": [stock_reads],
        "stock_ms": [stock_ms], "patch": [patched.__module__],
    })


def _kernel_start(batches):
    import pyarrow as pa

    t = time.time()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"t": [t]})


def _timed(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(out), 1)


def _launch_times(events: str) -> list[float]:
    """Every task's launch time (epoch seconds) in the event log."""
    (path,) = glob.glob(os.path.join(events, "*"))
    with open(path) as f:
        return sorted(e["Task Info"]["Launch Time"] / 1e3
                      for e in map(json.loads, f)
                      if e["Event"] == "SparkListenerTaskStart")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    events = tempfile.mkdtemp(prefix="python-stage-cost-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={events}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell"])
    import pyspark

    from google_sheets_etl_spark.session import get_spark

    spark = get_spark("python-stage-cost")
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        cpus = sc.defaultParallelism
        one = spark.range(10).coalesce(1)
        # start every worker the measured tasks may land in
        spark.range(cpus, numPartitions=cpus).mapInArrow(
            lambda it: it, "id long").collect()
        jvm = _timed(lambda: one.collect(), reps)
        python = _timed(lambda: one.mapInArrow(lambda it: it, "id long").collect(), reps)
        starts = [one.mapInArrow(_kernel_start, "t double").collect()[0].t
                  for _ in range(reps)]
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        launches = _launch_times(events)
        delays = [(t - max(x for x in launches if x <= t)) * 1e3 for t in starts]
        rows = [one.mapInArrow(task_archive_reads, TASK_READS_SCHEMA).collect()[0]
                for _ in range(reps + 2 * cpus)]
        reused = [r for r in rows if r.reads >= 0]
        print(json.dumps({
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "cpus": cpus, "reps": reps,
            "daemon_module": sc.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
            "jvm_collect_ms": jvm, "python_collect_ms": python,
            "kernel_start_ms": {"median": round(statistics.median(delays), 1),
                                "min": round(min(delays), 1),
                                "max": round(max(delays), 1)},
            "archive_reads_per_task": sorted({r.reads for r in reused}),
            "reused_tasks": len(reused),
            "zip_importers": sorted({r.zip_importers for r in reused}),
            "stock_reads": sorted({r.stock_reads for r in reused}),
            "stock_invalidate_ms": round(statistics.median(r.stock_ms for r in reused), 1),
            "daemon_patch": sorted({r.patch for r in rows}),
        }))
    finally:
        spark.stop()
        shutil.rmtree(events, ignore_errors=True)


if __name__ == "__main__":
    main()

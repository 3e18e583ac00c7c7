#!/usr/bin/env python
"""Time ONE registered query N times (min + all times) — the bisect
probe for drift attribution. Usage:
    python tools/one_query_bench.py <query_name> [iters] [sf_dir]

Each iteration runs under its own job group and also prints the Spark
jobs the query started (``jobs``) and how many of them carry no job
group (``ungrouped``), read from the status tracker: the jobs in the
iteration's group plus the jobs with no group that appeared during it
(a job started on a thread that dropped the caller's group lands in
the second set). The core count is ``SPARK_GRAFT_CPUS`` (see
``session.get_spark``).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_sheets_etl_spark.queries import QUERIES  # noqa: E402
from google_sheets_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark("one-query-bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    import pandas as _pd  # noqa: F401
    spark.range(1000, numPartitions=32).selectExpr("sum(id)").collect()
    spark.range(1000, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    fn = QUERIES[name]
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
    times, jobs, ungrouped = [], [], []
    for i in range(iters):
        group = f"one-query-bench:{name}:{i}"
        # job events reach the status store asynchronously: drain the
        # listener bus before each reading
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        times.append(round(time.perf_counter() - t0, 3))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        n_free = len(set(tracker.getJobIdsForGroup(None)) - before)
        jobs.append(len(tracker.getJobIdsForGroup(group)) + n_free)
        ungrouped.append(n_free)
        spark.catalog.clearCache()
    getloadavg = getattr(os, "getloadavg", None)
    load = [round(x, 2) for x in getloadavg()] if getloadavg else None
    print(f"{name}: min={min(times)} times={times} jobs={jobs} "
          f"ungrouped={ungrouped} loadavg={load}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Time registered queries N times each (min + all times) — the bisect
probe for drift attribution, and the per-query stage census. Usage:
    python tools/one_query_bench.py <query_name>[,<query_name>...] [iters] [sf_dir]

Every named query runs in ONE session, one after another. Each
iteration runs under its own job group and also prints the Spark jobs
the query started (``jobs``) and how many of them carry no job group
(``ungrouped``), read from the status tracker: the jobs in the
iteration's group plus the jobs with no group that appeared during it
(a job started on a thread that dropped the caller's group lands in
the second set). From the session's event log (uncompressed, not
rolling, in a temporary directory removed at exit) it prints the
stages those jobs ran (``stages``; a stage skipped because its shuffle
output was reused does not count) and how many of them are Python
stages (``python_stages``): stages whose RDD scopes name a Python
operator (:data:`PYTHON_OPERATOR`). The core count is
``SPARK_GRAFT_CPUS`` (see ``session.get_spark``).
"""
from __future__ import annotations

import glob
import json
import os
import re
import shlex
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the physical operators that run a Python worker, as RDD scope names
PYTHON_OPERATOR = re.compile(
    r"InPandas|InArrow|EvalPython|WindowPython|AggregatePython"
    r"|PythonUDTF|PythonDataSource|PythonRDD"
)


def stage_census(events: str, job_ids: set) -> tuple[int, int]:
    """(stages, python_stages) the jobs ``job_ids`` ran, read from the
    event log directory ``events``."""
    (path,) = glob.glob(os.path.join(events, "*"))
    stage_ids, submitted = set(), {}
    with open(path) as f:
        # the writer flushes whole events at job and stage ends, but a
        # full buffer can leave a partial last line
        lines = [line for line in f if line.endswith("\n")]
        for e in map(json.loads, lines):
            if e["Event"] == "SparkListenerJobStart" and e["Job ID"] in job_ids:
                stage_ids.update(e["Stage IDs"])
            elif e["Event"] == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                names = [r.get("Name", "") for r in info["RDD Info"]]
                names += [json.loads(r["Scope"]).get("name", "")
                          for r in info["RDD Info"] if "Scope" in r]
                submitted[info["Stage ID"]] = any(
                    PYTHON_OPERATOR.search(n) for n in names
                )
    ran = [submitted[s] for s in stage_ids if s in submitted]
    return len(ran), sum(ran)


def main() -> None:
    names = sys.argv[1].split(",")
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    events = tempfile.mkdtemp(prefix="one-query-bench-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={events}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell"])
    from google_sheets_etl_spark.session import get_spark

    spark = get_spark("one-query-bench")
    try:
        run(spark, names, iters, sf_dir, events)
    finally:
        spark.stop()
        shutil.rmtree(events, ignore_errors=True)


def run(spark, names: list, iters: int, sf_dir: str, events: str) -> None:
    from google_sheets_etl_spark.queries import QUERIES

    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    import pandas as _pd  # noqa: F401
    spark.range(1000, numPartitions=32).selectExpr("sum(id)").collect()
    spark.range(1000, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
    for name in names:
        fn = QUERIES[name]
        times, jobs, ungrouped, stages, py_stages = [], [], [], [], []
        for i in range(iters):
            group = f"one-query-bench:{name}:{i}"
            # job events reach the status store asynchronously: drain
            # the listener bus before each reading
            bus.waitUntilEmpty()
            before = set(tracker.getJobIdsForGroup(None))
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            bus.waitUntilEmpty()
            free = set(tracker.getJobIdsForGroup(None)) - before
            ids = set(tracker.getJobIdsForGroup(group)) | free
            jobs.append(len(ids))
            ungrouped.append(len(free))
            n_stages, n_py = stage_census(events, ids)
            stages.append(n_stages)
            py_stages.append(n_py)
            spark.catalog.clearCache()
        getloadavg = getattr(os, "getloadavg", None)
        load = [round(x, 2) for x in getloadavg()] if getloadavg else None
        print(f"{name}: min={min(times)} times={times} jobs={jobs} "
              f"ungrouped={ungrouped} stages={stages} "
              f"python_stages={py_stages} loadavg={load}", flush=True)


if __name__ == "__main__":
    main()

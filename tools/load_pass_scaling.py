#!/usr/bin/env python
"""How one load pass scales with the number of changed sheets.

One target table (``_rowid`` on) holds 32 synced sheets of 200 ragged
rows. For N = 1, 8 and 32, N of them change and one
``load_updated_spreadsheets`` pass runs under a Spark job group; the
pass's jobs, stages, tasks and wall time are printed, one line per
pass (three passes per N, after one untimed warm-up pass). Usage:

    SPARK_GRAFT_CPUS=4 python tools/load_pass_scaling.py [seed]

The warehouse is a temporary directory, removed at exit.
"""
from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_sheets_etl_spark.config import EtlJob  # noqa: E402
from google_sheets_etl_spark.etl import SheetsEtlEngine  # noqa: E402
from google_sheets_etl_spark.session import get_spark  # noqa: E402
from google_sheets_etl_spark.sources.sheet_source import (  # noqa: E402
    FixtureSheetSource, SpreadsheetMeta,
)

SHEETS, ROWS, REPEATS = 32, 200, 3
HEADER = ["Item", "Qty", "Price", "Day", "Note"]
MAPPING = {"item": "Item", "qty": 1, "day": "Day", "note": 4}


def sheet_rows(rnd: random.Random) -> list[list[str]]:
    """A header plus ``ROWS`` rows whose trailing cells are often
    absent, some padded with spaces."""
    rows = [[f" {h} " if i % 2 else h for i, h in enumerate(HEADER)]]
    for _ in range(ROWS):
        width = len(HEADER) if rnd.random() < 0.6 else rnd.randrange(1, len(HEADER))
        rows.append([f" w{rnd.randrange(10**6)} " if rnd.random() < 0.2
                     else f"w{rnd.randrange(10**6)}" for _ in range(width)])
    return rows


def measure(spark, group: str, fn) -> tuple[int, int, int, float]:
    """Jobs, stages and tasks ``fn()`` starts under job group ``group``,
    and its wall time."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(info.numTasks for info in map(tracker.getStageInfo, stages) if info)
    return len(tracker.getJobIdsForGroup(group)), len(stages), tasks, wall


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    rnd = random.Random(seed)
    spark = get_spark("load-pass-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    src = FixtureSheetSource()
    clock = [0]

    def put(gid: str) -> None:
        clock[0] += 1
        c = clock[0]
        stamp = f"2026-01-01T{c // 3600:02d}:{c // 60 % 60:02d}:{c % 60:02d}.000Z"
        src.put_sheet(SpreadsheetMeta(gid, stamp, gid), "S", sheet_rows(rnd))

    gids = [f"scaling-{seed}-{i:02d}" for i in range(SHEETS)]
    jobs = [EtlJob(g, "S", "scaled", MAPPING) for g in gids]
    work = tempfile.mkdtemp(prefix="load-pass-scaling-")
    try:
        engine = SheetsEtlEngine(spark, os.path.join(work, "wh"), src, rowid=True)
        engine.set_up_accounting()
        for g in gids:
            put(g)
        engine.find_updated_spreadsheets(now=1)
        engine.load_updated_spreadsheets(jobs)

        def changed_pass(n: int, group: str | None = None):
            for g in rnd.sample(gids, n):
                put(g)
            engine.find_updated_spreadsheets(now=2)
            run = lambda: engine.load_updated_spreadsheets(jobs)  # noqa: E731
            got = measure(spark, group, run) if group else run()
            assert not engine.last_load_failures, engine.last_load_failures
            return got

        changed_pass(1)  # warm-up, untimed
        print(f"seed {seed}, {SHEETS} sheets x {ROWS} rows, one table, "
              f"defaultParallelism {spark.sparkContext.defaultParallelism}")
        print("N   jobs  stages  tasks  wall_s")
        for n in (1, 8, 32):
            walls = []
            for r in range(REPEATS):
                jobs_n, stages, tasks, wall = changed_pass(n, f"load-pass-{n}-{r}")
                walls.append(wall)
                print(f"{n:<3} {jobs_n:>4} {stages:>7} {tasks:>6}  {wall:.3f}", flush=True)
            print(f"{n:<3} median wall_s {statistics.median(walls):.3f}")
        assert engine.target("scaled").read().count() == SHEETS * ROWS
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

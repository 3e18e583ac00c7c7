"""The workloads. Each one sets up, then runs a closed loop of
operations (one client: the next operation starts when the previous
one has finished) for a number of passes set by ``seconds``, and checks
every operation's output outside the timed window.

A pass is one operation of each kind: an edit cycle and a no-change
cycle for ``sync_incremental``, one execution of each hot query for
``queries_hot``. A run reports the pass latency as the sum over kinds
of each kind's median latency.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter

import gen

HOT_QUERIES = ("suffix_dedup_spans", "typed_profile_incremental", "mixed_format_image_dedup")
SHEET_ROWS = 200
# Nominal pass lengths, near those measured on 4 cores. A run makes
# ``pass_count(seconds, ...)`` passes: the count follows from ``seconds``
# alone, never from measured speed, so every run medians the same
# passes and a faster engine cannot change which ones.
SYNC_PASS_S = 15.0
QUERY_PASS_S = 5.0
N_SHEETS = 6
# the documents and orders row counts of the testdata at sf0.001
N_DOCS, N_ORDERS = 500, 1500


def pass_count(seconds: float, pass_s: float) -> int:
    return max(1, round(seconds / pass_s))


class Run:
    """Measurement state of one benchmark run."""

    def __init__(self, spark, work: str, tracer, procs, corrupt: bool):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.procs = procs
        self.corrupt = corrupt
        self.latencies: dict[str, list[float]] = {}
        self.windows: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def measure(self, kind: str, fn):
        """Run one timed operation. Returns (ok, result)."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.op = len(self.windows)
        self.procs.begin()
        t0, p0 = time.time(), time.perf_counter()
        ok, result = True, None
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            ok = False
            self.fail(f"{kind}: {type(exc).__name__}: {exc}")
        finally:
            self.latencies.setdefault(kind, []).append(time.perf_counter() - p0)
            self.procs.end()
            self.windows.append((t0, time.time()))
            if self.tracer is not None:
                self.tracer.op = None
        return ok, result

    def passes(self) -> float:
        return len(self.windows) / len(self.latencies)

    def pass_s(self) -> float:
        return sum(statistics.median(v) for v in self.latencies.values())

    def check(self, name: str, problems: list[str]) -> None:
        """Count an operation whose output failed verification."""
        if problems:
            self.fail(f"{name}: " + "; ".join(problems[:3]))

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message)

    def span(self, name: str):
        return _Span(self.tracer, name)


class _Span:
    def __init__(self, tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer is not None:
            self.idx = self.tracer.open(self.name)

    def __exit__(self, *exc):
        if self.tracer is not None:
            self.tracer.close(self.idx)


# -- sync workloads --------------------------------------------------------


class SheetSet:
    """The spreadsheets of the sync workload, one sheet each, with
    strictly increasing modified times: ``n_sheets`` ordinary jobs
    dealt round the four target tables, and one job whose mapping names
    a header the sheet lacks."""

    def __init__(self, seed: int, n_sheets: int):
        from google_sheets_etl_spark.config import EtlJob
        from google_sheets_etl_spark.sources.sheet_source import FixtureSheetSource

        self.rnd = random.Random(seed)
        self.source = FixtureSheetSource()
        self.clock = 0
        tables = sorted(gen.MAPPINGS)
        self.jobs = []
        for i in range(n_sheets):
            table = tables[i % len(tables)]
            self.jobs.append(EtlJob(f"sheet-{seed}-{i:02d}", "Sheet1", table, gen.MAPPINGS[table]))
        self.bad = EtlJob(f"sheet-{seed}-bad", "Sheet1", "orders_d", gen.BAD_MAPPING)
        # edits land in tables that hold two sheets or more
        self.edited_tables = sorted(t for t in tables if len(self.of(t)) > 1)
        first = self.rnd.choice(self.of(self.rnd.choice(self.edited_tables)))
        self.header_only = {first.google_spreadsheet_id}  # sheet ids
        for job in self.jobs + [self.bad]:
            self.put(job, gen.sheet_rows(self.rnd, 0 if job is first else SHEET_ROWS))

    def of(self, table: str) -> list:
        return [j for j in self.jobs if j.target_table == table]

    def put(self, job, rows: list[list[str]]) -> None:
        from google_sheets_etl_spark.sources.sheet_source import SpreadsheetMeta

        self.clock += 1
        stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(1_700_000_000 + self.clock))
        gid = job.google_spreadsheet_id
        self.source.put_sheet(SpreadsheetMeta(gid, stamp, gid), "Sheet1", rows)

    def rows(self, job) -> list[list[str]]:
        return self.source.sheets[(job.google_spreadsheet_id, "Sheet1")]

    def plan_edits(self):
        """The next edit cycle's roles, all drawn from the seed: in one
        table, a sheet that holds content shrinks to its header and the
        other one gets new content; a sheet of another table gets a new
        modified time over the same content."""
        table = self.rnd.choice(self.edited_tables)
        sheets = self.of(table)
        empty = [j for j in sheets if j.google_spreadsheet_id in self.header_only]
        grow = empty[0] if empty else self.rnd.choice(sheets)
        shrink = self.rnd.choice([j for j in sheets if j is not grow])
        touch = self.rnd.choice([j for j in self.jobs if j.target_table != table])
        return grow, shrink, touch

    def edit(self, grow, shrink, touch) -> None:
        self.put(grow, gen.sheet_rows(self.rnd, self.rnd.randrange(150, 250)))
        self.put(shrink, gen.sheet_rows(self.rnd, 0))
        self.put(touch, self.rows(touch))
        self.header_only -= {grow.google_spreadsheet_id}
        self.header_only.add(shrink.google_spreadsheet_id)

    def expected(self, table: str) -> int:
        """Rows the table holds when its loads are current."""
        return sum(len(self.rows(j)) - 1 for j in self.of(table))


def check_warehouse(engine, sheets: SheetSet, corrupt: bool) -> list[str]:
    """Every ordinary job's rows in its target table equal the pure
    Python projection of its sheet (as multisets), its accounting hash
    equals the fingerprint of the sheet's current rows, and the
    bad-header job was never accounted."""
    from pyspark.sql import functions as F

    from google_sheets_etl_spark.sources.sheet_source import payload_fingerprint

    problems = []
    gids = {r["id"]: r["google_spreadsheet_id"] for r in engine.spreadsheets.read().collect()}
    accounted = {gids.get(r["spreadsheet_id"]): r for r in engine.etl_jobs.read().collect()}
    if sheets.bad.google_spreadsheet_id in accounted:
        problems.append("the bad-header job was accounted")
    by_table: dict[str, list] = {t: [] for t in gen.MAPPINGS}
    for job in sheets.jobs:
        rows = sheets.rows(job)
        acc = accounted.get(job.google_spreadsheet_id)
        if acc is None:
            problems.append(f"job {job.google_spreadsheet_id} not accounted")
            continue
        if acc["raw_columns_rows_hash"] != payload_fingerprint(rows):
            problems.append(f"job {job.google_spreadsheet_id}: stale accounting hash")
        by_table[job.target_table].extend(
            (acc["id"],) + row for row in gen.expected_rows(rows, job.column_mapping))
    for table, expected in sorted(by_table.items()):
        if corrupt and expected:
            expected[0] = expected[0][:-1] + ("corrupted",)
            corrupt = False
        target = engine.target(table)
        actual = []
        if target.exists():
            cols = ["_origin_etl_job_id", "_origin_row"] + list(gen.MAPPINGS[table])
            actual = [tuple(r) for r in target.read().select(*[F.col(c) for c in cols]).collect()]
        if Counter(actual) != Counter(expected):
            problems.append(f"table {table}: {len(actual)} rows differ from "
                            f"{len(expected)} expected")
    return problems


def _load_outcome(engine, results, loaded: list, skipped: list, bad) -> list[str]:
    """The jobs a load pass loaded and hash-skipped are exactly the
    expected ones, and the bad-header job, only it, failed on its
    header."""
    from google_sheets_etl_spark.operators.rows import RequiredColumnNotFound

    problems = []
    got = sorted((r.job.google_spreadsheet_id, r.skipped_unchanged) for r in results)
    want = sorted([(j.google_spreadsheet_id, False) for j in loaded]
                  + [(j.google_spreadsheet_id, True) for j in skipped])
    if got != want:
        problems.append(f"results {got} != {want}")
    failures = engine.last_load_failures
    if [j for j, _e in failures] != [bad] or not isinstance(failures[0][1], RequiredColumnNotFound):
        problems.append(f"failures {failures}")
    return problems


def sync_incremental(run: Run, seed: int, seconds: float):
    """Set-up: one full sync of every spreadsheet into a cold
    warehouse, the first sync of the process as one run of the
    command-line tool does it. One sheet holds only its header (its
    load writes no rows and deletes the job's partition), and the
    bad-header job fails with RequiredColumnNotFound while the others
    go on. Then one untimed pass warms the cycle's code paths.

    A pass is two cron cycles, each timed from its start until its
    reads have finished:
    - an edit cycle (``SheetSet.plan_edits``): in one table a sheet
      shrinks to its header and another gets new content, and a sheet
      of another table gets a new modified time over the same content
      (the hash short-circuit skips it); discovery and the load pass
      run, then the typed view of the edited table is read;
    - a no-change cycle: discovery and the load pass find nothing to
      load, the most common cron case.
    The bad-header job stays configured, so every cycle retries it and
    it fails again."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from google_sheets_etl_spark.etl import SheetsEtlEngine

    sheets = SheetSet(seed, N_SHEETS)
    jobs = sheets.jobs + [sheets.bad]
    engine = SheetsEtlEngine(run.spark, os.path.join(run.work, "warehouse"), sheets.source)

    def edit_cycle(grow, shrink, touch):
        sheets.edit(grow, shrink, touch)
        engine.find_updated_spreadsheets()
        results = engine.load_updated_spreadsheets(jobs)
        view = engine.typed_target(grow.target_table)
        rows = Observation()
        with run.span("bench.typed_view_scan"):
            (view.observe(rows, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        return results, rows.get["n"]

    def check_edit(roles, out) -> None:
        grow, shrink, touch = roles
        results, view_rows = out
        with run.span("bench.verify"):
            problems = _load_outcome(engine, results, [grow, shrink], [touch], sheets.bad)
            problems += check_warehouse(engine, sheets, run.corrupt)
        if view_rows != sheets.expected(grow.target_table):
            problems.append(f"typed view: {view_rows} rows")
        run.check("edit cycle", problems)

    def idle_cycle():
        engine.find_updated_spreadsheets()
        return engine.load_updated_spreadsheets(jobs)

    def check_idle(results) -> None:
        run.check("no-change cycle", _load_outcome(engine, results, [], [], sheets.bad))

    run.attempted += 3
    engine.set_up_accounting()
    engine.find_updated_spreadsheets()
    results = engine.load_updated_spreadsheets(jobs)
    problems = _load_outcome(engine, results, sheets.jobs, [], sheets.bad)
    run.check("full sync", problems + check_warehouse(engine, sheets, run.corrupt))
    roles = sheets.plan_edits()
    check_edit(roles, edit_cycle(*roles))
    check_idle(idle_cycle())
    yield  # set-up ends here

    for _ in range(pass_count(seconds, SYNC_PASS_S)):
        roles = sheets.plan_edits()
        ok, out = run.measure("edit_cycle", lambda: edit_cycle(*roles))
        if ok:
            check_edit(roles, out)
        ok, results = run.measure("idle_cycle", idle_cycle)
        if ok:
            check_idle(results)


# -- hot queries -------------------------------------------------------------


def queries_hot(run: Run, seed: int, seconds: float):
    """Generate the corpus, execute every hot query once untimed and
    compare its rows with its DuckDB oracle, run one untimed pass, then
    time passes over the queries, each written to the noop sink."""
    from google_sheets_etl_spark.queries import ORACLE, QUERIES
    from tools.driver_mimic import canon, connect_views

    corpus = os.path.join(run.work, "corpus")
    gen.write_corpus(corpus, seed, n_docs=N_DOCS, n_orders=N_ORDERS)
    con = connect_views(corpus)
    for name in HOT_QUERIES:
        run.attempted += 1
        try:
            df = QUERIES[name](run.spark, corpus)
            got = canon([tuple(r) for r in df.collect()], df.columns)
            pdf = con.execute(ORACLE[name]).df()
            want = canon(list(pdf.itertuples(index=False, name=None)), list(pdf.columns),
                         from_pandas=True)
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            run.fail(f"{name}: {type(exc).__name__}: {exc}")
            continue
        if run.corrupt and want:
            want[0] = ("corrupted",) + want[0][1:]
        run.check(name, [] if got == want else [f"{len(got)} rows differ from oracle's {len(want)}"])
    con.close()
    # one untimed pass more: the first timed pass would still run slow
    for name in HOT_QUERIES:
        QUERIES[name](run.spark, corpus).write.format("noop").mode("overwrite").save()
    yield  # set-up ends here

    for _ in range(pass_count(seconds, QUERY_PASS_S)):
        for name in HOT_QUERIES:
            def execute(name=name):
                with run.span(f"q.{name}"):
                    QUERIES[name](run.spark, corpus).write.format("noop").mode("overwrite").save()

            run.measure(name, execute)


WORKLOADS = {"sync_incremental": sync_incremental, "queries_hot": queries_hot}

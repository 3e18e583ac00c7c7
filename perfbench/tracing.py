"""The traced run: spans recorded around calls into the package's
public functions, wrapped from here (the package itself is not
changed), and Spark's event log read back and attributed to those
spans by time window.

Spans stay in memory until the run ends. A span's self time is its
duration minus the part its child spans cover. Lazy operators (those
returning a DataFrame) only build a plan inside their span; the jobs
that execute the plan fall in the span of the caller that runs it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        self.spans.append(Span(name, time.time(), parent=stack[-1] if stack else None,
                               op=self.op))
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        self._stack().pop()
        if span.parent is not None:
            self.spans[span.parent].children_s += span.end - span.start
        return span

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``after(span,
        args, result)`` may add attributes once the call returns."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            except Exception:
                self.spans[idx].attrs["errors"] = 1
                raise
            finally:
                span = self.close(idx)
            if after is not None:
                after(span, args, result)
            return result

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _written_files(span: Span, args, result) -> None:
    """Files and bytes a target-table write left behind: files under
    the table modified since the span started."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(args[0].path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                if st.st_mtime >= span.start - 1e-3:
                    files += 1
                    nbytes += st.st_size
    span.attrs.update(files=files, bytes=nbytes)


def _load_result(span: Span, args, result) -> None:
    span.attrs["skipped"] = int(result.skipped_unchanged)


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of each sync-loop layer."""
    from google_sheets_etl_spark import etl
    from google_sheets_etl_spark.operators import change_filter, rows, typed_views, watermark
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.plans.target_table import TargetTable
    from google_sheets_etl_spark.sources.sheet_source import FixtureSheetSource

    for m in ("set_up_accounting", "find_updated_spreadsheets", "record_spreadsheets_seen",
              "filter_extractable", "load_updated_spreadsheets", "typed_target",
              "refresh_load_profiles"):
        tracer.wrap(etl.SheetsEtlEngine, m, f"etl.{m}")
    tracer.wrap(etl.SheetsEtlEngine, "load_sheet", "etl.load_sheet", after=_load_result)
    tracer.wrap(rows, "header_row", "operators.rows.header_row")
    tracer.wrap(watermark, "greatest_modified", "operators.watermark.greatest_modified")
    tracer.wrap(change_filter, "filter_extractable", "operators.change_filter.filter_extractable")
    for m in ("profile_counters", "merge_profiles", "decide_profile"):
        tracer.wrap(typed_views, m, f"operators.typed_views.{m}")
    tracer.wrap(FixtureSheetSource, "get_sheet", "sources.get_sheet")
    tracer.wrap(FixtureSheetSource, "list_spreadsheets", "sources.list_spreadsheets")
    tracer.wrap(TargetTable, "overwrite_job_partition", "plans.target_table.overwrite_job_partition",
                after=_written_files)
    tracer.wrap(TargetTable, "delete_job_partition", "plans.target_table.delete_job_partition")
    for m in ("read", "upsert", "overwrite"):
        tracer.wrap(StateTable, m, f"plans.state_table.{m}")


# -- Spark event log -----------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


@dataclass
class Job:
    start: float
    end: float = 0.0
    grouped: bool = False
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_s: float = 0.0
    py_sent: int = 0
    py_back: int = 0


def read_event_log(directory: str) -> list[Job]:
    """Jobs with their task metrics summed, from the one uncompressed,
    non-rolling event log file the traced run writes."""
    (path,) = glob.glob(os.path.join(directory, "*"))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                job = jobs[e["Job ID"]] = Job(
                    e["Submission Time"] / 1000,
                    grouped="spark.jobGroup.id" in (e.get("Properties") or {}))
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
                    job.stages.add(sid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                job = jobs[stage_job[e["Stage ID"]]]
                m = e.get("Task Metrics") or {}
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                rd = m.get("Shuffle Read Metrics", {})
                job.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                job.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if not isinstance(upd, (int, float, str)) or name not in (_PY_TIME, _PY_SENT, _PY_BACK):
                        continue
                    upd = int(upd)
                    if name == _PY_TIME:
                        job.py_s += upd / 1e3  # a "timing" SQL metric: milliseconds
                    elif name == _PY_SENT:
                        job.py_sent += upd
                    else:
                        job.py_back += upd
    return [j for j in jobs.values() if j.end]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spark_counters(jobs: list[Job], windows: list[tuple[float, float]], spans: list[Span]) -> dict:
    """Spark counters for the jobs submitted inside ``windows``.
    ``jobs_outside_etl`` counts those not inside any ``etl.*`` span."""
    inside = [j for j in jobs if any(a <= j.start <= b for a, b in windows)]
    etl = [(s.start, s.end) for s in spans if s.name.startswith("etl.")]
    wall = sum(b - a for a, b in windows)
    covered = sum(_covered([(j.start, j.end) for j in inside], a, b) for a, b in windows)
    return {
        "jobs": len(inside),
        "stages": sum(len(j.stages) for j in inside),
        "tasks": sum(j.tasks for j in inside),
        "executor_run_s": sum(j.run_s for j in inside),
        "executor_cpu_s": sum(j.cpu_s for j in inside),
        "shuffle_read_bytes": sum(j.shuffle_read for j in inside),
        "shuffle_write_bytes": sum(j.shuffle_write for j in inside),
        "spill_bytes": sum(j.spill for j in inside),
        "python_worker_s": sum(j.py_s for j in inside),
        "python_bytes_sent": sum(j.py_sent for j in inside),
        "python_bytes_returned": sum(j.py_back for j in inside),
        "driver_only_s": wall - covered,
        "jobs_ungrouped": sum(1 for j in inside if not j.grouped),
        "jobs_outside_etl": sum(1 for j in inside if not any(a <= j.start <= b for a, b in etl)),
    }


def layer_totals(spans: list[Span]) -> dict:
    """Per span name: total and self seconds, call count, and summed
    attributes."""
    out: dict = defaultdict(lambda: defaultdict(float))
    for s in spans:
        agg = out[s.name]
        agg["s"] += s.end - s.start
        agg["self_s"] += s.end - s.start - s.children_s
        agg["calls"] += 1
        for k, v in s.attrs.items():
            agg[k] += v
    return out

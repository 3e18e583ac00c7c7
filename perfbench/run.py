"""Benchmark of the sheet-sync loop and the hot queries.

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout; Spark runs on ``local[<cores available>]``. Everything the run
writes goes under ``.perfbench_work/`` in the checkout, which it removes
when it ends. ``--spans-out PATH`` also writes a traced run's spans to
PATH, one JSON object a line.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. ``--corrupt-expected`` alters one expected row in the
output check, which must then fail (see ``selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str, trace: bool) -> None:
    """Set before pyspark starts the JVM, which passes it on to the
    Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # workers import the engine too: sys.path alone does not reach them
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    args = [
        # a fixed, pre-touched heap keeps GC sizing out of peak RSS
        "--driver-java-options", "-Xms2g -XX:+AlwaysPreTouch",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={os.path.join(work, 'events')}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop(spark, jvm: subprocess.Popen) -> None:
    """Stop Spark, then wait for the JVM and every process under it."""
    import procstat

    workers = procstat.descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 30
    for pid in workers:
        while procstat.alive(pid):
            if time.time() > deadline:
                os.kill(pid, 9)
                deadline = time.time() + 5
            time.sleep(0.05)


def _per_layer(names: list[str], tracer, run, procs, events_dir: str) -> dict:
    """Every per-layer metric, each as a mean per pass."""
    import tracing

    n = run.passes()
    spans = [s for s in tracer.spans if s.op is not None]
    layers = tracing.layer_totals(spans)
    jobs = tracing.read_event_log(events_dir)
    spark = tracing.spark_counters(jobs, run.windows, spans)
    per_span = {}
    for name in {s.name for s in spans if s.name.startswith(("q.", "bench."))}:
        mine = [s for s in spans if s.name == name]
        c = tracing.spark_counters(jobs, [(s.start, s.end) for s in mine], [])
        c["shuffle_bytes"] = c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
        c["s"] = sum(s.end - s.start for s in mine)
        per_span[name] = c
    out = {}
    for name in names:
        head, field = name.rsplit(".", 1)
        if name == "trace.wall_s":
            v = run.pass_s()
        elif name == "trace.spans":
            v = len(spans)
        elif name == "proc.cpu_s":
            v = procs.cpu_s
        elif head == "spark":
            v = spark[field]
        elif head in per_span:
            v = per_span[head][field]
        else:
            v = layers.get(head, {}).get(field, 0)
        out[name] = v if name == "trace.wall_s" else v / n
    return out


def _run(args, work: str, t0: float) -> dict:
    _environment(work, args.trace)
    sys.path[:0] = [ROOT, HERE]
    import procstat
    import tracing
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.instrument(tracer)

    from google_sheets_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    procs = procstat.ProcessSet(jvm.pid)
    run = workloads.Run(spark, work, tracer, procs, args.corrupt_expected)
    try:
        steps = workloads.WORKLOADS[args.workload](run, args.seed, args.seconds)
        next(steps)
        setup_s = time.perf_counter() - t0
        for _ in steps:
            pass
    finally:
        procs.close()
        _stop(spark, jvm)

    for e in run.errors:
        print(f"FAILED {e}", file=sys.stderr)
    n = run.passes()
    if args.trace:
        metrics = _per_layer([m["name"] for m in spec["per_layer"]], tracer, run, procs,
                             os.path.join(work, "events"))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if args.spans_out:
            tracer.dump(args.spans_out)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": run.pass_s(),
            "peak_rss_mb": procs.peak_rss_mb,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: metrics[k] for k in units}
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    for kind, lat in run.latencies.items():
        print(f"{kind}: n = {len(lat)}, p50 = {statistics.median(lat):.4g} s, "
              f"all = {' '.join(f'{x:.3g}' for x in lat)}")
    print(f"passes = {n:g}, failed_frac = {run.failed / run.attempted:.4g} "
          f"({run.failed} of {run.attempted})")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["sync_incremental", "queries_hot"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true")
    ap.add_argument("--spans-out", metavar="PATH", help="file for a traced run's spans")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "google_sheets_etl_spark", "etl.py")):
        print("perfbench: no google_sheets_etl_spark package beside perfbench/", file=sys.stderr)
        return 2

    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    try:
        result = _run(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

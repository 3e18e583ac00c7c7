#!/usr/bin/env python
"""Benchmark: run the query registry's benched set (``benched()``) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; print ONE JSON line.

Each query executes to completion via the noop sink (full computation,
no driver-side result materialization skewing the numbers).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from google_sheets_etl_spark.queries import QUERIES, benched  # noqa: E402
from google_sheets_etl_spark.session import get_spark  # noqa: E402


def _calibration_probes() -> dict:
    """Host-speed probes (round-11, the DRIFT_r10 lesson: shared rows
    drifted +1-2 s across rounds with zero source change and loadavg
    alone could not attribute it): three ~100-500 ms probes whose
    cross-round RATIO normalizes query deltas for host speed before
    any regression hunt. r13: runs at START and END of the bench
    (probes used to run once, after the last query — a window that
    degrades mid-run poisoned two rounds' artifacts with no way to
    see it; bracketing attributes drift per-half)."""
    out: dict = {}
    try:
        import hashlib as _hl
        import time as _t

        import numpy as _np

        t0 = _t.monotonic()
        _h = _hl.sha256()
        for i in range(200000):
            _h.update(str(i).encode() * 20)
        out["calib_sha_ms"] = round((_t.monotonic() - t0) * 1000, 1)
        t0 = _t.monotonic()
        x = 0
        for i in range(2_000_000):
            x += i * i
        out["calib_pyloop_ms"] = round((_t.monotonic() - t0) * 1000, 1)
        _a = _np.arange(1_000_000, dtype=_np.float64).reshape(1000, 1000)
        t0 = _t.monotonic()
        for _ in range(4):
            _a @ _a
        out["calib_matmul_ms"] = round((_t.monotonic() - t0) * 1000, 1)
    except Exception:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        sf = float(m.group(1).rstrip(".")) if m else -1.0
    except ValueError:
        sf = -1.0  # cosmetic dir-name oddity must not abort the bench
    spark = get_spark("sheets-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    calib_start = _calibration_probes()

    # untimed warm-up: spin the JVM codegen paths and the Python worker
    # fleet once, so per-query numbers measure steady-state compute,
    # not one-time process spawn
    import pandas as _pd  # noqa: F401

    spark.range(1000, numPartitions=32).selectExpr("sum(id)").collect()
    spark.range(1000, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    # min of two executions per query: the first run can absorb Python
    # worker spawn, codegen compilation, and host scheduling noise; the
    # min is the steady-state per-query cost (what a warmed cluster
    # sees). Single-JVM local mode makes runs share worker fleets, so
    # run-to-run interference is real and the min filters it.
    # one red query must never zero the whole artifact: each query is
    # exception-isolated; failures are recorded under "errors" and the
    # run keeps going with a valid JSON line either way
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in benched():
        fn = QUERIES[name]
        best = float("inf")
        try:
            # adaptive iteration count (round-9 drift root cause): some
            # queries have a MULTI-iteration warm-up curve (Python
            # worker fleet reuse + JIT), e.g. typed_profile_incremental
            # at sf0.1 runs 13.2 → 6.0 → 3.9 → 3.7 → 3.2 s — a fixed
            # min-of-2 reports the curve's SECOND point and looks like a
            # +73% regression when nothing changed (the r7→r8 "drift").
            # Keep iterating while the min is still improving by >12%,
            # up to 4 iterations; stable queries still stop after 2.
            for it in range(4):
                start = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                t = time.perf_counter() - start
                # operators that persist() intermediates (LSH candidate
                # reuse) would otherwise accumulate cache blocks across
                # queries and distort later timings
                spark.catalog.clearCache()
                still_warming = t < best * 0.88
                best = min(best, t)
                if it >= 1 and not still_warming:
                    break
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — survive any one query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            if best != float("inf"):
                # iteration 1 measured clean before iteration 2 died:
                # keep the valid measurement instead of silently
                # shrinking the headline total
                timings[name] = round(best, 3)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass

    total = round(sum(timings.values()), 3)
    # full per-query timings go to a detail file; the stdout line stays
    # compact (top-10 only) so it fits any driver tail capture —
    # BENCH_r03 ran clean (rc=0) but its 91-entry single line exceeded
    # the capture window and parsed as null.
    # environment provenance (round-4 verdict directive #7): the r3→r4
    # artifacts drifted a UNIFORM ~1.5× from machine load alone; these
    # fields let a reader attribute cross-round drift to environment
    # vs plan without redoing that analysis.
    env: dict = {"iterations_per_query": "2-4 adaptive (stop when min "
                                          "stops improving >12%)",
                 "spark": spark.version}
    getloadavg = getattr(os, "getloadavg", None)  # absent on Windows
    try:
        if getloadavg is not None:
            env["loadavg_1m_5m_15m"] = [round(x, 2) for x in getloadavg()]
    except OSError:
        pass
    try:
        env["cpus"] = os.cpu_count()
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    env["cpu_model"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    # r13 (verdict directive #2): the artifact must be SELF-DESCRIBING
    # about which core count actually executed — env["cpus"] is the
    # HOST's os.cpu_count() (provenance), which made the driver's
    # 8-core scaling artifact read "cpus: 32". Record the real master
    # and the session's task-slot count alongside it.
    try:
        env["master"] = spark.sparkContext.master
        env["cpus_spark"] = spark.sparkContext.defaultParallelism
    except Exception:
        pass
    # host-speed calibration: END-of-run probes keep their r11 keys
    # (cross-round comparability); the START-of-run values (r13,
    # bracketing) land under *_start so window drift is attributable
    # per-half instead of poisoning the whole artifact silently.
    env.update(_calibration_probes())
    env.update({k + "_start": v for k, v in calib_start.items()})
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env": env,
    }
    if errors:
        detail["errors"] = errors
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    # per-round archive (round-7 verdict directive #6): BENCH_DETAIL
    # used to be overwritten every round, making per-query regressions
    # unattributable. The round number is the driver's next
    # BENCH_r{N}.json slot (max existing + 1); re-runs within a round
    # overwrite the same archive, which is the desired semantics.
    rounds = [
        int(m.group(1))
        for n in os.listdir(repo)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", n))
    ]
    this_round = (max(rounds) + 1) if rounds else 1
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=2, sort_keys=True)
        with open(
            os.path.join(repo, f"BENCH_DETAIL_r{this_round:02d}.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=2, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout line still carries the totals
    # top-20 round-over-round deltas to STDERR (the stdout contract
    # stays ONE JSON line): prior round = the newest archived detail
    # older than this round
    prior = sorted(
        (
            int(m.group(1))
            for n in os.listdir(repo)
            if (m := re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", n))
            and int(m.group(1)) < this_round
        ),
        reverse=True,
    )
    if prior:
        try:
            with open(
                os.path.join(repo, f"BENCH_DETAIL_r{prior[0]:02d}.json")
            ) as fh:
                prev = json.load(fh).get("queries", {})
            deltas = sorted(
                (
                    (timings[q] - prev[q], q)
                    for q in timings.keys() & prev.keys()
                ),
                key=lambda t: abs(t[0]),
                reverse=True,
            )[:20]
            print(
                f"-- top deltas vs r{prior[0]:02d} (sec; +slower) --",
                file=sys.stderr,
            )
            for d, q in deltas:
                print(
                    f"{d:+8.2f}  {q}  ({prev[q]:.2f} -> {timings[q]:.2f})",
                    file=sys.stderr,
                )
        except (OSError, json.JSONDecodeError):
            pass
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
        "env": env,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

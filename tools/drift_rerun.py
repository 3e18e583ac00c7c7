#!/usr/bin/env python
"""Cross-round drift attribution: idle-machine re-run of the queries
that drifted between two bench rounds with ZERO source change on
their paths, at 3 iterations each, recording loadavg before/after.

Usage: python tools/drift_rerun.py [sf_dir] > DRIFT_r09.json
       DRIFT_ROUND=r10 python tools/drift_rerun.py [sf_dir] > DRIFT_r10.json
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_sheets_etl_spark.queries import QUERIES  # noqa: E402
from google_sheets_etl_spark.session import get_spark  # noqa: E402

# the drifted common-set queries from the r8 verdict, plus two stable
# anchors (events_hourly, cosine_topk) to detect machine-wide noise
TARGETS = [
    "typed_profile_incremental",
    "near_dup_clusters_lsh",
    "bpe_learn_merges",
    "near_dup_lsh",
    "dedup_keep_best_quality",
    "incremental_near_dup_admission",
    "typed_view_cast_stats",
    "incremental_dedup_clusters",
    "incremental_embedding_admission",
    "bpe_doc_token_counts",
    "image_dhash_near_dup",
    "typed_view_apply",
    # anchors (r7≈r8, no code change): control for machine noise
    "events_hourly",
    "cosine_topk",
]

R7 = {"typed_profile_incremental": 3.57, "near_dup_clusters_lsh": 2.54,
      "bpe_learn_merges": 6.53, "near_dup_lsh": 1.76,
      "dedup_keep_best_quality": 3.53, "incremental_near_dup_admission": 1.90,
      "typed_view_cast_stats": 2.81, "incremental_dedup_clusters": 5.23,
      "incremental_embedding_admission": 1.08, "bpe_doc_token_counts": 2.50,
      "image_dhash_near_dup": 4.60, "typed_view_apply": 4.56}
R8 = {"typed_profile_incremental": 6.16, "near_dup_clusters_lsh": 4.09,
      "bpe_learn_merges": 7.79, "near_dup_lsh": 2.73,
      "dedup_keep_best_quality": 4.38, "incremental_near_dup_admission": 2.58,
      "typed_view_cast_stats": 3.40, "incremental_dedup_clusters": 5.76,
      "incremental_embedding_admission": 1.60, "bpe_doc_token_counts": 2.96,
      "image_dhash_near_dup": 5.04, "typed_view_apply": 4.97}


# round-10 drifted cogroup rows (VERDICT.md round 10, "What's wrong"
# #2: +0.8-2.3 s vs r9 with zero source change), plus the same two
# stable anchors
TARGETS_R10 = [
    "suffix_dedup_spans",
    "suffix_dedup_apply",
    "near_dup_clusters_lsh",
    "simgraph_pagerank",
    "incremental_near_dup_admission",
    "typed_profile_incremental",
    "bpe_learn_merges",
    # anchors: control for machine-wide noise
    "events_hourly",
    "cosine_topk",
]

R9 = {"suffix_dedup_spans": 5.25, "suffix_dedup_apply": 5.60,
      "near_dup_clusters_lsh": 2.39, "simgraph_pagerank": 4.56,
      "incremental_near_dup_admission": 1.63,
      "typed_profile_incremental": 3.86, "bpe_learn_merges": 6.02}
R10 = {"suffix_dedup_spans": 7.50, "suffix_dedup_apply": 6.85,
       "near_dup_clusters_lsh": 3.44, "simgraph_pagerank": 5.53,
       "incremental_near_dup_admission": 2.50,
       "typed_profile_incremental": 4.63, "bpe_learn_merges": 7.18}


# round-11 contention-inflated rows (VERDICT.md round 11, "What's
# wrong" #1: BENCH_r11.json ran at loadavg 11.7 with calib_matmul_ms
# 702.7 vs the 275 ms steady state; these rows exceeded 2x r10 on the
# official artifact with zero source change on their paths), plus the
# same two stable anchors
TARGETS_R11 = [
    "typed_view_apply",
    "opq_recall_at_k",
    "nsw_recall_at_k",
    "typed_view_cast_stats",
    "ivf_pq_search",
    # anchors: control for machine-wide noise
    "events_hourly",
    "cosine_topk",
]

R10B = {"typed_view_apply": 3.823, "opq_recall_at_k": 4.019,
        "nsw_recall_at_k": 1.785, "typed_view_cast_stats": 2.158,
        "ivf_pq_search": 0.953}
R11 = {"typed_view_apply": 11.835, "opq_recall_at_k": 10.749,
       "nsw_recall_at_k": 4.994, "typed_view_cast_stats": 5.67,
       "ivf_pq_search": 1.834}


def _calibration() -> dict:
    """Same three host-speed probes as bench.py (round-11), so the
    drift artifact carries the normalization denominators itself."""
    import hashlib as _hl

    import numpy as _np

    out = {}
    t0 = time.monotonic()
    h = _hl.sha256()
    for i in range(200000):
        h.update(str(i).encode() * 20)
    out["calib_sha_ms"] = round((time.monotonic() - t0) * 1000, 1)
    t0 = time.monotonic()
    x = 0
    for i in range(2_000_000):
        x += i * i
    out["calib_pyloop_ms"] = round((time.monotonic() - t0) * 1000, 1)
    a = _np.arange(1_000_000, dtype=_np.float64).reshape(1000, 1000)
    t0 = time.monotonic()
    for _ in range(4):
        a @ a
    out["calib_matmul_ms"] = round((time.monotonic() - t0) * 1000, 1)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rnd = os.environ.get("DRIFT_ROUND", "r9")
    if rnd == "r11":
        targets, base_lo, base_hi = TARGETS_R11, R10B, R11
    elif rnd == "r10":
        targets, base_lo, base_hi = TARGETS_R10, R9, R10
    else:
        targets, base_lo, base_hi = TARGETS, R7, R8
    iters = int(os.environ.get("DRIFT_ITERS", "3"))
    calib = _calibration() if rnd == "r11" else None
    spark = get_spark("drift-rerun")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench.py
    import pandas as _pd  # noqa: F401
    spark.range(1000, numPartitions=32).selectExpr("sum(id)").collect()
    spark.range(1000, numPartitions=32).mapInPandas(
        lambda it: it, "id long").selectExpr("count(*)").collect()

    getloadavg = getattr(os, "getloadavg", lambda: None)  # absent on Windows
    load_before = getloadavg()
    out = {}
    for name in targets:
        fn = QUERIES[name]
        times = []
        for _ in range(iters):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.monotonic() - t0, 3))
        out[name] = {"times": times, "min": min(times),
                     "median": sorted(times)[len(times) // 2],
                     "prior": base_lo.get(name),
                     "drifted": base_hi.get(name)}
        print(f"  {name}: {times}  (prior={base_lo.get(name)}"
              f" drifted={base_hi.get(name)})",
              file=sys.stderr)
    load_after = getloadavg()
    payload = {"round": rnd, "sf_dir": sf_dir, "iters": iters,
               "loadavg_before": load_before,
               "loadavg_after": load_after,
               "results": out}
    if calib is not None:
        payload["calibration"] = calib
    print(json.dumps(payload))


if __name__ == "__main__":
    main()

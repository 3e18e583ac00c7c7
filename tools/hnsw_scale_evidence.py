"""One-off scale evidence for the HNSW hierarchy (round-10 verdict
directive #5): at gate-scale cells (~60-250 nodes) the r9 head-to-head
honestly certified the multi-layer stack COST-NEUTRAL vs the flat NSW
beam; the claimed asymptotic win needs a >=10^4-node cell. The sf0.1
embeddings table tops out at 2 000 rows, so this run builds a
deterministic 16 384-node corpus (seeded numpy, dim 64 — the same shape
as the testdata embeddings; NOT a driver query input) and runs BOTH
searchers through the graph-ANN kernel at n_cells=1: one multi-walk
call (``similarity._graph_walks``) builds the graph once and runs all
six (method, ef) walks over it — each walk returns exactly what its
public operator (``cosine_topk_nsw_beam``, ``cosine_topk_hnsw``) would.

Prints a markdown table of (method, ef, recall@10, mean visited
fraction, mean nodes scored) ready for SCALE.md, then the wall time of
the one build-and-walk pass. Evidence only — not a bench row, not
registered.

Usage: python tools/hnsw_scale_evidence.py [n_nodes] [n_queries]
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from google_sheets_etl_spark.operators.similarity import (
    _graph_walks,
    cosine_topk_bruteforce,
    recall_at_k,
)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 16384
NQ = int(sys.argv[2]) if len(sys.argv) > 2 else 32
DIM, K, SEED = 64, 10, 42
EFS = (16, 32, 64)


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .appName("hnsw-scale-evidence")
        .getOrCreate()
    )
    rng = np.random.default_rng(SEED)
    # clustered corpus (mixture of 64 gaussians) — a pure-isotropic
    # cloud has no neighborhood structure for ANY graph index to
    # exploit; real embedding spaces are clustered, so the evidence
    # corpus should be too.
    centers = rng.normal(size=(64, DIM))
    assign = rng.integers(0, 64, size=N)
    corpus = centers[assign] + 0.35 * rng.normal(size=(N, DIM))
    qidx = rng.choice(N, size=NQ, replace=False)
    queries = corpus[qidx] + 0.05 * rng.normal(size=(NQ, DIM))

    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in corpus[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).repartition(8).cache()
    qdf = spark.createDataFrame(
        [(int(1_000_000 + i), [float(x) for x in queries[i]]) for i in range(NQ)],
        "vec_id long, embedding array<double>",
    ).cache()
    cdf.count(), qdf.count()

    exact = cosine_topk_bruteforce(qdf, cdf, k=K).cache()
    exact.count()

    # the public operators' defaults: m=6, and 2 entries for the beam
    walks = {f"flat beam/{ef}": ("beam", 6, 2, ef) for ef in EFS}
    walks.update({f"hnsw/{ef}": ("hnsw", 6, ef) for ef in EFS})
    t0 = time.time()
    res = _graph_walks(
        qdf, cdf, walks, k=K, n_cells=1, n_probe=1, include_stats=True,
        max_cell_nodes=N,
    ).cache()
    stats = (
        res.groupBy("variant", "query_id")
        .agg(F.max("n_visited").alias("v"), F.max("cell_n").alias("n"))
        .collect()
    )
    wall = time.time() - t0

    print(f"corpus={N} nodes, dim={DIM}, {NQ} queries, k={K}, n_cells=1, m=6")
    print("| method | ef | recall@10 | mean visited frac | mean nodes scored |")
    print("|---|---|---|---|---|")
    for name in walks:
        label, ef = name.split("/")
        ranked = res.filter(F.col("variant") == name).withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("neighbor_id")
                )
            ),
        )
        rec = recall_at_k(exact, ranked, K)
        visited = np.array([r["v"] for r in stats if r["variant"] == name], dtype=float)
        celln = np.array([r["n"] for r in stats if r["variant"] == name], dtype=float)
        print(
            f"| {label} | {ef} | {rec:.3f} | "
            f"{float((visited / celln).mean()):.4f} | "
            f"{float(visited.mean()):.0f} |"
        )
    print(f"one graph build, six walks: {wall:.1f} s")
    res.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()

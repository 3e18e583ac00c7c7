#!/usr/bin/env python
"""Capture the INTERNAL suffix-dedup pipeline plans, one per grain.

The declared ``suffix_dedup_*`` plans are checkpoint scans (the
operator materializes its result), so ``tools/explain_query.py``
cannot show the pipeline behind them. This probe disables the
checkpoint cut (plan capture only — nothing executes) and dumps the
full formatted plan of the char and the token pipeline to
``plans/<round>/suffix_<grain>_probe.txt`` (``SPARK_GRAFT_PLAN_ROUND``,
default r14).

Usage: python tools/suffix_plan_probe.py
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_sheets_etl_spark.operators import suffix  # noqa: E402
from google_sheets_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r14"),
    )
    # identity cut: keep the whole pipeline as one unexecuted plan
    suffix._cut_tools = lambda df: (lambda d: (d, set()), lambda ids: None)

    spark = get_spark("suffix-plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    from pyspark.sql import functions as F
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok"),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("pos"),
        (F.abs(F.hash("tok")) % (1 << 20)).alias("tok_id"),
    )
    cases = {
        "suffix_char": lambda: suffix.duplicate_spans(docs, min_len=40),
        "suffix_tokens": lambda: suffix.duplicate_spans_tokens(toks, min_len=8),
    }
    for name, build in cases.items():
        df = build()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{name}_probe.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

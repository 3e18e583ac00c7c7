"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose the operator inventory from SURVEY.md §2 plus
the north-star extensions, each cross-checked against DuckDB at the
scale its ``@q`` site declares, otherwise at the scale it is given.
Implementation lives in the ``google_sheets_etl_spark/queries`` package.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from google_sheets_etl_spark.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q5_region_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+extensions)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for EVERY query — approximate
    operators included, via verified-equality contracts (LSH: exact
    verify on candidates + recall 1.0 pinned by tests at the gate
    scale) or full algorithmic twins in SQL (IVF, simhash, rolling
    fingerprint, winnowing)."""
    return dict(ORACLE)

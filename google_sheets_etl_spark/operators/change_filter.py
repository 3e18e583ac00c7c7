"""The change filter (J2+J3): which configured jobs need a (re)load?

The reference answers this with a SQL left-join + row-value ``IN``
returning *up-to-date* jobs, then a PHP set-difference keeping the rest
(``src/DatabaseAgentMysql.php:52-87``). Both halves collapse into one
Catalyst-native plan here (SURVEY.md §2.3 J2/J3):

    configured jobs  LEFT JOIN  spreadsheets  LEFT JOIN  etl_jobs
    up-to-date = loaded google_modified == seen google_modified

A job is extractable when it was never loaded OR its spreadsheet's
seen ``google_modified`` differs from the one recorded at last load.
The same left joins carry the J1 lookups a load needs (the
spreadsheet's surrogate id, the job's etl id and content hash), so one
metadata query answers the filter and the lookups together.

Scale: configs and accounting are metadata tables (≤ millions of rows,
small relative to data) — Catalyst picks broadcast-hash for both joins
automatically; the explicit ``broadcast`` hint pins that choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def job_lookups(
    configured: DataFrame, spreadsheets: DataFrame, etl_jobs: DataFrame
) -> DataFrame:
    """J1+J2+J3: every configured ``(google_spreadsheet_id,
    sheet_name)`` row with ``spreadsheet_id`` and ``seen_modified``
    (null when discovery never saw the file), ``etl_job_id``,
    ``loaded_modified`` and ``raw_columns_rows_hash`` (null when never
    loaded), and ``extractable``. Up-to-date is the SQL equality of the
    two ``google_modified`` values (``DatabaseAgentMysql.php:64-71``),
    so a null on either side is extractable."""
    seen = spreadsheets.select(
        "google_spreadsheet_id",
        F.col("id").alias("spreadsheet_id"),
        F.col("google_modified").alias("seen_modified"),
    )
    loaded = etl_jobs.select(
        "spreadsheet_id",
        "sheet_name",
        F.col("id").alias("etl_job_id"),
        F.col("google_modified").alias("loaded_modified"),
        "raw_columns_rows_hash",
    )
    return (
        configured.join(F.broadcast(seen), "google_spreadsheet_id", "left")
        .join(F.broadcast(loaded), ["spreadsheet_id", "sheet_name"], "left")
        .withColumn(
            "extractable",
            ~F.coalesce(F.col("loaded_modified") == F.col("seen_modified"), F.lit(False)),
        )
    )


def filter_extractable(
    configured: DataFrame, spreadsheets: DataFrame, etl_jobs: DataFrame
) -> DataFrame:
    """J2+J3: configured jobs *not* up to date (the reference's PHP
    hash-map filter, ``DatabaseAgentMysql.php:75-86``, folded into the
    plan)."""
    return (
        job_lookups(configured, spreadsheets, etl_jobs)
        .filter("extractable")
        .select(*configured.columns)
    )

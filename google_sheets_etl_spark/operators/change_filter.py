"""The change filter (J2+J3): which configured jobs need a (re)load?

The reference answers this with a SQL left-join + row-value ``IN``
returning *up-to-date* jobs, then a PHP set-difference keeping the rest
(``src/DatabaseAgentMysql.php:52-87``). Both halves collapse into one
left-outer join chain here (SURVEY.md §2.3 J2/J3):

    configured jobs  LEFT JOIN  spreadsheets  LEFT JOIN  etl_jobs
    up-to-date = loaded google_modified == seen google_modified

A job is extractable when it was never loaded OR its spreadsheet's
seen ``google_modified`` differs from the one recorded at last load.
The same left joins carry the J1 lookups a load needs (the
spreadsheet's surrogate id, the job's etl id and content hash), so one
metadata query answers the filter and the lookups together.

The inputs are ``pyarrow.Table`` snapshots of the accounting tables
(``StateTable.snapshot()``), and the joins run on the driver with
Arrow compute: the loop's metadata questions start no Spark job. The
accounting tables are metadata (≤10^6 rows); the registry's
``change_filter_anti_join`` keeps the Spark shape for a data-scale
anti-join.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def job_lookups(
    configured: pa.Table, spreadsheets: pa.Table, etl_jobs: pa.Table
) -> pa.Table:
    """J1+J2+J3: every configured ``(google_spreadsheet_id,
    sheet_name)`` row with ``spreadsheet_id`` and ``seen_modified``
    (null when discovery never saw the file), ``etl_job_id``,
    ``loaded_modified`` and ``raw_columns_rows_hash`` (null when never
    loaded), and ``extractable``. Up-to-date is the SQL equality of the
    two ``google_modified`` values (``DatabaseAgentMysql.php:64-71``),
    so a null on either side is extractable; a null key matches no
    row, as in SQL."""
    seen = spreadsheets.select(
        ["google_spreadsheet_id", "id", "google_modified"]
    ).rename_columns(["google_spreadsheet_id", "spreadsheet_id", "seen_modified"])
    loaded = etl_jobs.select(
        ["spreadsheet_id", "sheet_name", "id", "google_modified", "raw_columns_rows_hash"]
    ).rename_columns(
        ["spreadsheet_id", "sheet_name", "etl_job_id", "loaded_modified", "raw_columns_rows_hash"]
    )
    out = (
        configured.join(seen, "google_spreadsheet_id", join_type="left outer")
        .join(loaded, ["spreadsheet_id", "sheet_name"], join_type="left outer")
    )
    up_to_date = pc.fill_null(pc.equal(out["loaded_modified"], out["seen_modified"]), False)
    return out.append_column("extractable", pc.invert(up_to_date))


def filter_extractable(
    configured: pa.Table, spreadsheets: pa.Table, etl_jobs: pa.Table
) -> pa.Table:
    """J2+J3: configured jobs *not* up to date (the reference's PHP
    hash-map filter, ``DatabaseAgentMysql.php:75-86``, folded into the
    join)."""
    lookups = job_lookups(configured, spreadsheets, etl_jobs)
    return lookups.filter(lookups["extractable"]).select(configured.column_names)

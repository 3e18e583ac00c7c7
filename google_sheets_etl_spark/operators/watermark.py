"""Watermark cursor reads (A1/A2) and the residual tuple filter (S2).

The reference's incremental discovery rests on a lexicographic
``(modifiedTime, id)`` tuple cursor over RFC-3339 strings
(``src/DatabaseAgentMysql.php:24-49``, ``src/GoogleSheetsAgent.php:78-82,
114-119``). RFC-3339 with a fixed ``Z`` offset sorts identically
lexically and temporally (SURVEY.md §1.2), so the cursor is a plain
string-tuple max/min. The reads take the ``pyarrow.Table`` snapshot of
``__meta_spreadsheets`` (``StateTable.snapshot()``) and answer with
Arrow compute on the driver, so the loop's watermark starts no Spark
job; the registry's ``watermark_tuple_max`` keeps the Spark shape (a
partial ``max(struct)`` aggregate) for a data-scale table.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The reference seeds an unseen warehouse at 2001-01-01 (Tasks.php:36-41).
EPOCH_WATERMARK = ("2001-01-01T00:00:00Z", "")


def greatest_modified(spreadsheets: pa.Table) -> tuple[str, str]:
    """A1: greatest ``(google_modified, google_spreadsheet_id)`` tuple
    ever recorded (``DatabaseAgentMysql.php:24-35``), or the epoch seed.

    ``ORDER BY google_modified DESC, google_spreadsheet_id DESC LIMIT
    1`` (nulls last) as two O(n) maxima: the greatest modified time,
    then the greatest id among its rows."""
    if spreadsheets.num_rows == 0:
        return EPOCH_WATERMARK
    modified = spreadsheets["google_modified"]
    top = pc.max(modified)
    rows = spreadsheets if not top.is_valid else spreadsheets.filter(pc.equal(modified, top))
    return (top.as_py(), pc.max(rows["google_spreadsheet_id"]).as_py())


def longest_unseen(spreadsheets: pa.Table) -> str | None:
    """A2: the spreadsheet id not confirmed for the longest time —
    ``ORDER BY last_seen LIMIT 1`` (``DatabaseAgentMysql.php:38-49``):
    a row with the minimum ``last_seen``; None when there is none."""
    last_seen = spreadsheets["last_seen"]
    oldest = pc.min(last_seen)
    if not oldest.is_valid:
        return None
    i = pc.index(last_seen, oldest).as_py()
    return spreadsheets["google_spreadsheet_id"][i].as_py()


def after_cursor(files: DataFrame, watermark: str, cursor_id: str) -> DataFrame:
    """S2: residual tuple filter — keep files strictly past the cursor,
    with the id tie-break the Drive query language cannot express
    (``GoogleSheetsAgent.php:114-119``):
    ``modifiedTime > wm OR (modifiedTime == wm AND id >= cursor_id)``."""
    m, i = F.col("modifiedTime"), F.col("id")
    return files.filter((m > watermark) | ((m == watermark) & (i >= cursor_id)))

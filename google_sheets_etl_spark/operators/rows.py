"""The sheet transform kernel (T1-T4, T6) over ragged string arrays.

A sheet is rows of cells, ragged (trailing cells absent), mirroring the
reference's ``RowsOfColumns`` (``src/RowsOfColumns.php:7-28``). The
sync loop holds each fetched sheet's rows on the driver, so it runs
:func:`raw_header` and :func:`project_raw_rows` there. DataFrame input
of schema ``(row_idx: long, cells: array<string>)`` (the ``gsheets``
DataSource, ``reference_ops.sheet_ingest_kernel``) runs the Spark
functions, which stay distributed: nothing collects data except
:func:`header_row`'s one row. A seeded test pins the two equal.

Operator map (SURVEY.md §2.2):

- T1 cell trim            → :func:`trim_cells`
  (``RowsOfColumns.php:23`` trims every cell on construction)
- T2 header resolution    → :func:`resolve_column_selectors`
  (``RowsOfColumns.php:37-60``; exact case-sensitive name match, bounds-
  checked int positions, same error messages)
- T3 projection+null-pad  → :func:`project_rows`
  (``RowsOfColumns.php:70-81``; ``?? null`` ≡ ``element_at`` past end)
- T4 row skip / re-index  → folded into :func:`project_rows`
  (``RowsOfColumns.php:73`` ``array_slice``; re-indexed from 0)
- T6 provenance           → :func:`with_provenance`
  (``DatabaseAgentMysql.php:266-273``; deterministic ``_origin_row``
  from the source row index, never ``monotonically_increasing_id``)

The Spark functions are built-in ``pyspark.sql.functions`` — the whole
kernel stays inside WholeStageCodegen; there is no Python UDF and no
shuffle (narrow transformations only), so it scales linearly with input
splits on any cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROW_IDX = "row_idx"
CELLS = "cells"
# VARCHAR(100) parity (DatabaseAgentMysql.php:172)
CELL_WIDTH = 100


class ColumnIndexOutOfBounds(Exception):
    """Reference error text: ``Column index out of bounds: N``
    (``RowsOfColumns.php:46``)."""


class RequiredColumnNotFound(Exception):
    """Reference error text: ``Required column not found: name``
    (``RowsOfColumns.php:52``)."""


def trim_cells(sheet: DataFrame, cells_col: str = CELLS) -> DataFrame:
    """T1: trim whitespace from every cell (narrow, codegen'd).

    The lambda must be single-arg: ``F.transform`` feeds a two-arg
    callable ``(element, index)``, and ``F.trim``'s optional second
    parameter is a trim-*character set* — passing the index would trim
    digits out of the data.
    """
    return sheet.withColumn(cells_col, F.transform(F.col(cells_col), lambda c: F.trim(c)))


def header_row(sheet: DataFrame, header_row_idx: int = 0) -> list[str]:
    """Collect the single header row (the only driver materialization in
    the kernel — one row, bounded by sheet width)."""
    row = (
        sheet.filter(F.col(ROW_IDX) == header_row_idx)
        .select(CELLS)
        .limit(1)
        .collect()
    )
    if not row:
        raise RequiredColumnNotFound(f"Header row not found: {header_row_idx}")
    return list(row[0][0])


def _trim(cell) -> str | None:
    """T1 for one driver-held cell, as :func:`trim_cells` trims it:
    ``F.trim`` strips only U+0020, so this is ``str.strip(" ")``, not
    ``str.strip()`` (which would also strip tabs, newlines and U+00A0)."""
    return None if cell is None else str(cell).strip(" ")


def raw_header(raw_rows: list[list], header_row_idx: int = 0) -> list[str | None]:
    """T1+T2 input for rows the driver already holds: the header row of
    a fetched sheet, trimmed, with no Spark job."""
    if not 0 <= header_row_idx < len(raw_rows):
        raise RequiredColumnNotFound(f"Header row not found: {header_row_idx}")
    return [_trim(c) for c in raw_rows[header_row_idx]]


def project_raw_rows(raw_rows: list[list], selectors: list[int], skip_rows: int) -> list[tuple]:
    """T1+T3+T4 and the width rule for rows the driver already holds:
    ``(_origin_row, *cells)`` per row at or past ``skip_rows``, as
    ``enforce_cell_width(project_rows(trim_cells(sheet), ...))`` gives
    them (``F.substring`` and Python slicing both count code points)."""
    out = []
    for i, row in enumerate(raw_rows[skip_rows:]):
        cells = [_trim(row[s]) if s < len(row) else None for s in selectors]
        out.append((i, *(c and c[:CELL_WIDTH] for c in cells)))
    return out


def resolve_column_selectors(
    header: list[str], specifiers: list[int | str]
) -> list[int]:
    """T2: map each configured specifier to a 0-based column index.

    ``int`` → bounds-checked position; ``str`` → exact, case-sensitive
    match in the header (the case-insensitive variant is commented out
    in the reference, ``RowsOfColumns.php:49``).
    """
    selectors: list[int] = []
    for spec in specifiers:
        if isinstance(spec, bool):  # bool is an int subclass; reject
            raise TypeError(f"Invalid column specifier: {spec}")
        if isinstance(spec, int):
            # both bounds: a negative spec would silently wrap to the
            # LAST cell (element_at semantics) or crash on index 0
            if 0 <= spec < len(header):
                selectors.append(spec)
            else:
                raise ColumnIndexOutOfBounds(f"Column index out of bounds: {spec}")
        elif isinstance(spec, str):
            try:
                selectors.append(header.index(spec))
            except ValueError:
                raise RequiredColumnNotFound(f"Required column not found: {spec}") from None
        else:
            raise TypeError(f"Invalid column specifier: {spec}")
    return selectors


def project_rows(
    sheet: DataFrame,
    selectors: list[int],
    output_names: list[str],
    skip_rows: int = 1,
) -> DataFrame:
    """T3+T4: skip the first ``skip_rows`` physical rows, emit the
    selected cells (in mapping order) under ``output_names``, null-pad
    ragged rows, and re-index ``_origin_row`` from 0.

    ``try_element_at(cells, i+1)`` returns NULL past the array end
    (ANSI-safe in Spark 4) — exactly the reference's ``$row[$sel] ??
    null`` (``RowsOfColumns.php:76``). Filter + select are narrow;
    Catalyst prunes ``cells`` elements it can.
    """
    if len(selectors) != len(output_names):
        raise ValueError("selectors and output_names must align")
    cols: list[Column] = [
        F.try_element_at(F.col(CELLS), F.lit(sel + 1)).alias(name)
        for sel, name in zip(selectors, output_names)
    ]
    origin_row = (F.col(ROW_IDX) - F.lit(skip_rows)).cast("long").alias("_origin_row")
    return sheet.filter(F.col(ROW_IDX) >= skip_rows).select(origin_row, *cols)


def with_provenance(data: DataFrame, etl_job_id: int) -> DataFrame:
    """T6: stamp ``_origin_etl_job_id`` (the partition key of the
    target table — one job rewrite touches one partition, U4)."""
    return data.withColumn("_origin_etl_job_id", F.lit(etl_job_id).cast("long"))


def enforce_cell_width(data: DataFrame, width: int = CELL_WIDTH) -> DataFrame:
    """VARCHAR(100) parity (``DatabaseAgentMysql.php:172``): truncate
    every data column (not provenance) to ``width`` chars."""
    exprs = [
        F.substring(F.col(c), 1, width).alias(c)
        if not c.startswith("_origin") and c != "_rowid"
        else F.col(c)
        for c in data.columns
    ]
    return data.select(*exprs)

"""ETL job configuration (S5) — declarative (sheet → table) specs.

Parses the same nested JSON shape as the reference
(``src/EtlConfig.php:34-54``; schema ``config-schema.json:17-59``):

    { "$schema": "...",
      "<spreadsheetId>": {
        "<sheetName>": {
          "targetTable": "...",
          "columnMapping": {"out_col": "Header Name" | <0-based index>},
          "headerRow": 0,        # optional, default 0
          "skipRows": 1          # optional, default 1
        } } }

Driver-side only — config is not data-plane.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .operators.normalize import RESERVED, normalized_column_names


@dataclass(frozen=True)
class EtlJob:
    google_spreadsheet_id: str
    sheet_name: str
    target_table: str
    # output column name → header name (str) or 0-based position (int)
    column_mapping: dict[str, str | int] = field(default_factory=dict)
    header_row: int = 0   # EtlConfig.php:16 default
    skip_rows: int = 1    # EtlConfig.php:17 default

    def __post_init__(self):
        entry = f"(spreadsheet {self.google_spreadsheet_id} sheet {self.sheet_name})"
        # a negative row offset has no single reading (PHP's
        # array_slice keeps the LAST rows), a non-integer one is
        # malformed: both refused, not coerced
        for key, value in (("headerRow", self.header_row), ("skipRows", self.skip_rows)):
            if isinstance(value, bool) or not isinstance(value, int) or value < 0:
                raise ValueError(
                    f"{key} must be a non-negative integer, got {value!r} {entry}")
        # a mapping key normalizing to a provenance or partition column
        # would collide with it in the target table
        clash = sorted(RESERVED.intersection(normalized_column_names(list(self.column_mapping))))
        if clash:
            raise ValueError(f"columnMapping keys {clash} are reserved column names {entry}")


def parse_config(config: dict) -> list[EtlJob]:
    """Flatten the nested JSON into jobs, skipping the ``$schema`` key
    (``EtlConfig.php:38-40``)."""
    jobs: list[EtlJob] = []
    for spreadsheet_id, sheets in config.items():
        if spreadsheet_id == "$schema":
            continue
        for sheet_name, spec in sheets.items():
            jobs.append(
                EtlJob(
                    google_spreadsheet_id=spreadsheet_id,
                    sheet_name=sheet_name,
                    target_table=spec["targetTable"],
                    column_mapping=dict(spec.get("columnMapping", {})),
                    header_row=spec.get("headerRow", 0),
                    skip_rows=spec.get("skipRows", 1),
                )
            )
    return jobs


def parse_config_file(path: str) -> list[EtlJob]:
    with open(path) as f:
        return parse_config(json.load(f))

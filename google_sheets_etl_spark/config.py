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
        # a negative offset has no single reading (PHP's array_slice
        # keeps the LAST rows, the Spark kernel every row): refused
        if (isinstance(self.skip_rows, bool) or not isinstance(self.skip_rows, int)
                or self.skip_rows < 0):
            raise ValueError(
                f"skipRows must be a non-negative integer, got {self.skip_rows!r} "
                f"(spreadsheet {self.google_spreadsheet_id} sheet {self.sheet_name})")


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
                    header_row=int(spec.get("headerRow", 0)),
                    skip_rows=spec.get("skipRows", 1),
                )
            )
    return jobs


def parse_config_file(path: str) -> list[EtlJob]:
    with open(path) as f:
        return parse_config(json.load(f))

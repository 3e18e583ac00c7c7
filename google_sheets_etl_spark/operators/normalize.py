"""Column-name normalization (T5).

Re-expresses ``normalizedQuotedColumnNames`` (reference:
``src/DatabaseAgentMysql.php:327-344``) as pure Python. The reference's
pipeline, in order, per column:

1. ``iconv('UTF-8','ASCII//TRANSLIT')``  → here: NFKD decompose + drop
   non-ASCII (fixed, locale-independent transliteration; SURVEY.md §7.4).
2. lowercase
3. strip every char not in ``[a-z0-9_ ]``
4. trim
5. prefix ``_`` when the name does not start ``[a-z_]`` (so an empty
   name becomes ``_``, and only a *second* empty collides into the
   fallback)
6. fallback to ``col_<index+1>`` when the name matches ``^col_[0-9]+$``
   or duplicates an earlier output name.

Note on the duplicate check: the reference compares the bare name
against already-*backticked* outputs (``in_array($column, $retval)`` vs
``array_push($retval, '`'.$column.'`')``, ``DatabaseAgentMysql.php:339-341``),
so its dedup can never fire; the documented intent (unique identifiers)
is implemented here, without quoting — Spark identifiers need none.

Known reference edge (``DatabaseAgentMysql.php:320``): a column named
``_rowid_`` collides with provenance columns. Here ``EtlJob`` refuses a
mapping whose normalized names meet ``RESERVED`` (the surrogate key,
the provenance columns and the partition column).
"""

from __future__ import annotations

import re
import unicodedata

RESERVED = {"_rowid", "_origin_etl_job_id", "_origin_row"}

_NOT_ALLOWED = re.compile(r"[^a-z0-9_ ]")
_STARTS_OK = re.compile(r"^[a-z_]")
_COL_N = re.compile(r"^col_[0-9]+$")


def normalize_column_name(raw: str) -> str:
    """Steps 1-5 (everything except the positional/dedup fallback)."""
    s = unicodedata.normalize("NFKD", raw)
    s = s.encode("ascii", "ignore").decode("ascii")
    s = s.lower()
    s = _NOT_ALLOWED.sub("", s)
    s = s.strip()
    if not _STARTS_OK.match(s):
        s = "_" + s
    return s


def normalized_column_names(columns: list[str]) -> list[str]:
    """Full T5: normalize each name, falling back to ``col_<i+1>`` on
    ``col_N``-pattern names and duplicates. (An empty raw name arrives
    here as ``"_"`` — the prefix step guarantees non-empty output — and
    collides into the fallback via the duplicate check when repeated.)
    """
    out: list[str] = []
    for index, column in enumerate(columns):
        name = normalize_column_name(column)
        if _COL_N.match(name) or name in out:
            name = f"col_{index + 1}"
        out.append(name)
    return out

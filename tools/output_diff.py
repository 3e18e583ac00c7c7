#!/usr/bin/env python
"""Output equality of registered queries between another checkout
(typically the parent commit) and this one. Usage:
    python tools/output_diff.py <parent_checkout> <sf_dir> <query>[,<query>...]

Each side runs every named query once, in its own subprocess and Spark
session (``session.get_spark`` of that checkout, cores from
``SPARK_GRAFT_CPUS``), on the corpus directory ``sf_dir`` as given.
Each side's rows are canonicalized (doubles by ``float.hex``, so
``equal`` means bit-equal; NULL, NaN and -0.0 stay distinct) and
sorted. Per query it prints ``equal`` or the first differing row.
Exits 1 if any query differs or fails.
"""
from __future__ import annotations

import datetime
import decimal
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(v) -> str:
    """One cell as a type-tagged string that sorts and compares
    exactly."""
    if v is None:
        return "n"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v.hex()}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    if isinstance(v, dict):
        return "m:{" + ",".join(
            f"{canon(k)}={canon(x)}" for k, x in sorted(v.items())
        ) + "}"
    if isinstance(v, (list, tuple)):  # arrays and structs (Row)
        return "l:[" + ",".join(canon(x) for x in v) + "]"
    return f"s:{v}"


def dump(checkout: str, sf_dir: str, names: list, out: str) -> None:
    """Run ``names`` in the checkout's package and write each query's
    columns and sorted canonical rows (or its error) to ``out``."""
    sys.path.insert(0, checkout)
    from google_sheets_etl_spark.queries import QUERIES
    from google_sheets_etl_spark.session import get_spark

    spark = get_spark("output-diff")
    spark.sparkContext.setLogLevel("ERROR")
    result = {}
    try:
        for name in names:
            try:
                df = QUERIES[name](spark, sf_dir)
                result[name] = {
                    "columns": df.columns,
                    "rows": sorted(
                        [canon(x) for x in row] for row in df.collect()
                    ),
                }
            except Exception as e:  # noqa: BLE001 — reported per query
                result[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
    finally:
        spark.stop()
    with open(out, "w") as f:
        json.dump(result, f)


def run_side(checkout: str, sf_dir: str, names: list) -> dict:
    with tempfile.TemporaryDirectory(prefix="output-diff-") as tmp:
        out = os.path.join(tmp, "rows.json")
        # the Python workers import the package too: point them at the
        # same checkout
        env = dict(os.environ, PYTHONPATH=checkout)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--dump", checkout,
             sf_dir, ",".join(names), out],
            cwd=checkout, env=env, stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE, text=True,
        )
        if proc.returncode != 0 or not os.path.exists(out):
            sys.exit(f"{checkout}: exit {proc.returncode}\n"
                     + proc.stderr[-3000:])
        with open(out) as f:
            return json.load(f)


def compare(name: str, a: dict, b: dict) -> str | None:
    """None when equal, else what differs first."""
    if "error" in a or "error" in b:
        return f"parent {a.get('error', 'ok')} | change {b.get('error', 'ok')}"
    if a["columns"] != b["columns"]:
        return f"columns: parent {a['columns']} | change {b['columns']}"
    for i, (x, y) in enumerate(zip(a["rows"], b["rows"])):
        if x != y:
            return f"sorted row {i}: parent {x} | change {y}"
    if len(a["rows"]) != len(b["rows"]):
        longer, side = max((a, "parent"), (b, "change"),
                           key=lambda s: len(s[0]["rows"]))
        i = min(len(a["rows"]), len(b["rows"]))
        return (f"rows: parent {len(a['rows'])} | change {len(b['rows'])}; "
                f"first extra ({side}) {longer['rows'][i]}")
    return None


def main() -> int:
    if sys.argv[1] == "--dump":
        dump(sys.argv[2], sys.argv[3], sys.argv[4].split(","), sys.argv[5])
        return 0
    parent, sf_dir, names = (
        os.path.abspath(sys.argv[1]), sys.argv[2], sys.argv[3].split(",")
    )
    before = run_side(parent, sf_dir, names)
    after = run_side(HERE, sf_dir, names)
    bad = 0
    for name in names:
        diff = compare(name, before[name], after[name])
        bad += diff is not None
        rows = len(after[name].get("rows", []))
        print(f"{name}: equal ({rows} rows)" if diff is None
              else f"{name}: DIFFERENT: {diff}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

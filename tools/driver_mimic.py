"""Local replica of the evaluation driver's correctness gate.

Runs each ``queries()`` entry in a VANILLA SparkSession (none of
``session.get_spark``'s confs — exactly the fragility that broke 10
rows in round 1) and its ``oracle_sql()`` twin in DuckDB, comparing
row count, sorted column names, and a TYPE-SENSITIVE order-insensitive
value multiset (so DuckDB HUGEINT→float vs Spark long mismatches are
caught locally, unlike a numeric-equality compare).

A row whose ``@q`` site declares a ``scale`` (the corpus its oracle
contract is pinned to) is checked on that scale's corpus, the sibling
of ``sf_dir`` (``oracle_sf_dir``), as ``tests/test_queries_oracle.py``
checks it.

Usage:  python tools/driver_mimic.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def connect_views(sf_dir: str):
    """One DuckDB connection with every testdata table registered as a
    view — the single definition the mimic AND the oracle tests share
    (three hand-copies drifted before)."""
    import duckdb

    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tname}.parquet')"
        )
    return con


def nonscalar_columns(df) -> list[str]:
    """Output columns the REAL driver's pandas canonicalizer cannot
    sort (lists/dicts are unhashable in pandas' factorize) — any
    array/map/struct column makes a query driver-RED even when its
    values are correct. The round-6 ``pq_encode_codes`` red row was
    exactly this shape."""
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]


def normalize(v, from_pandas: bool = False):
    import datetime
    import decimal

    if type(v).__module__ == "numpy":
        # np.int64/float64/bool_ scalars -> python; ndarray (a LIST
        # column through the pandas fetch) -> python list, so list
        # oracles normalize instead of crashing the sweep on .item()
        v = v.tolist() if hasattr(v, "ndim") and v.ndim > 0 else v.item()
    if v is None:
        return "s:None"
    if v != v:  # noqa: PLR0124 — NaN/NaT self-inequality
        # ONLY on the pandas fetch path is NaN/NaT a NULL in disguise
        # (nullable int/date columns surface NULL as NaN/NaT there).
        # A Spark collect() row's NaN is a GENUINE NaN value and must
        # stay distinct, or a query computing NaN where the oracle
        # yields NULL would pass silently.
        return "s:None" if from_pandas else "f:nan"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        return f"f:{float(v) + 0.0:.6f}"
    if isinstance(v, float):
        return f"f:{v + 0.0:.6f}"  # +0.0 folds -0.0 into 0.0
    if isinstance(v, datetime.datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.date):
        # DELIBERATE equivalence: promote DATE to midnight timestamp.
        # DuckDB's pandas fetch turns DATE into Timestamp 00:00 while
        # Spark collect() gives datetime.date — same value, two
        # engine-fetch shapes. A genuine date-vs-midnight-timestamp
        # type drift is already caught by schema checks in tests that
        # pin dtypes; the value gate accepts the fetch-path shape.
        return f"t:{v.isoformat()}T00:00:00"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(normalize(x, from_pandas) for x in v) + "]"
    return f"s:{v}"


def canon(rows, columns, from_pandas: bool = False):
    """Order-insensitive value multiset. Pass ``from_pandas=True`` for
    rows fetched via a pandas frame (DuckDB ``.df()``), where NaN is
    NULL's wire shape; Spark ``collect()`` rows keep NaN distinct."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        tuple(normalize(row[i], from_pandas) for i in order)
        for row in rows
    )


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from google_sheets_etl_spark.queries import oracle_sf_dir

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # deliberately vanilla: mimic the driver's own session
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("driver-mimic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
    cons = {}  # one DuckDB connection per corpus directory

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2  # a typo'd filter must not report success
    results: dict[str, dict] = {}
    n_green = n_red = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        row: dict = {}
        t0 = time.time()
        row_dir = oracle_sf_dir(name, sf_dir)
        if row_dir != sf_dir:
            row["sf_dir"] = row_dir
            print(f"     {name}: checked at {os.path.basename(row_dir)}, its declared scale")
        if row_dir not in cons:
            cons[row_dir] = connect_views(row_dir)
        con = cons[row_dir]
        try:
            qdf = fn(spark, row_dir)
            # fail non-scalar outputs HERE so local green predicts
            # driver green (this mimic used to stringify lists and
            # green-lit a shape the driver rejects)
            bad = nonscalar_columns(qdf)
            if bad:
                raise TypeError(
                    f"non-scalar output column(s) {bad}: the driver's "
                    "pandas canonicalizer cannot sort array/map/struct "
                    "cells — explode or concat_ws to scalars"
                )
            spark_cols = qdf.columns
            spark_rows = [tuple(r) for r in qdf.collect()]
            row["spark_rows"] = len(spark_rows)
        except Exception as e:  # noqa: BLE001
            row["err"] = f"spark: {type(e).__name__}: {e}"
            results[name] = row
            n_red += 1
            print(f"RED  {name}: {row['err'][:300]}")
            continue
        if name not in oracles:
            row["err"] = "no_oracle"
            results[name] = row
            print(f"ROWS {name}: rows-only ({len(spark_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            # fetch through pandas (the likely driver path): DuckDB
            # HUGEINT → float64 happens HERE, so un-cast SUM(int)
            # oracles mismatch exactly as they would in the real gate
            pdf = con.execute(oracles[name]).df()
            duck_cols = list(pdf.columns)
            # itertuples, NOT to_numpy(): the latter upcasts mixed
            # numeric frames to one dtype and would fake mismatches
            duck_rows = list(pdf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            row["err"] = f"oracle: {type(e).__name__}: {e}"
            results[name] = row
            n_red += 1
            print(f"RED  {name}: {row['err'][:300]}")
            continue
        row["oracle_rows"] = len(duck_rows)
        row["rows_match"] = len(spark_rows) == len(duck_rows)
        row["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
        try:
            sc = canon(spark_rows, spark_cols)
            dc = canon(duck_rows, duck_cols, from_pandas=True)
        except Exception as e:  # noqa: BLE001 — one bad value must
            # not abort the sweep; record the query RED and continue
            row["err"] = f"canon: {type(e).__name__}: {e}"
            results[name] = row
            n_red += 1
            print(f"RED  {name}: {row['err'][:300]}")
            continue
        row["hash_match"] = sc == dc
        if row["rows_match"] and row["schema_match"] and row["hash_match"]:
            n_green += 1
            print(f"OK   {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
        else:
            n_red += 1
            why = []
            if not row["rows_match"]:
                why.append(f"rows {len(spark_rows)}!={len(duck_rows)}")
            if not row["schema_match"]:
                why.append(f"cols {sorted(spark_cols)}!={sorted(duck_cols)}")
            if not row["hash_match"]:
                mism = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:2]
                why.append(
                    f"values e.g. {[(sc[i], dc[i]) for i in mism] if mism else 'len-diff tail'}"
                )
            print(f"RED  {name}: {'; '.join(why)[:500]}")
        results[name] = row

    print(f"\n{n_green} green, {n_red} red, "
          f"{sum(1 for r in results.values() if r.get('err') == 'no_oracle')} rows-only")
    with open("/tmp/driver_mimic.json", "w") as f:
        json.dump(results, f, indent=1, default=str)
    for con in cons.values():
        con.close()
    spark.stop()
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Seeded inputs for every workload. The engine only ever sees what
these functions return: sheet fixtures for the sync workloads and a
small parquet corpus for the query workload. Same seed, same inputs.
"""

from __future__ import annotations

import datetime
import os
import random

# Header of every generated sheet. Mappings select columns by header
# name or by 0-based index, so both resolution paths run.
HEADER = ["Item", "Qty", "Price", "Day", "Note", "Extra"]
# The 32 words the testdata corpus (documents.parquet) is drawn from.
VOCAB = (
    "scan column window order sort part agg value line key join merge "
    "group query vector hash slow stream filter fast batch spark table "
    "small data big customer row a the"
).split()


def _cell(rnd: random.Random, col: int, row: int) -> str:
    """One raw cell: padded with spaces to trim, occasionally longer
    than the 100-character target width."""
    if col == 0:
        v = f"item-{row}-{rnd.randrange(10**6)}"
    elif col == 1:
        v = str(rnd.randrange(1, 500))
    elif col == 2:
        v = f"{rnd.randrange(1, 10**5) / 100:.2f}"
    elif col == 3:
        v = (datetime.date(2020, 1, 1)
             + datetime.timedelta(days=rnd.randrange(1500))).isoformat()
    else:
        n = rnd.choice((3, 5, 8, 30)) if rnd.random() < 0.9 else 0
        v = " ".join(rnd.choice(VOCAB) for _ in range(n))
    pad = rnd.choice(("", " ", "  ", "   "))
    return pad + v + rnd.choice(("", " ", "  "))


def sheet_rows(rnd: random.Random, n_rows: int, header=HEADER) -> list[list[str]]:
    """A ragged sheet: header plus ``n_rows`` rows whose trailing cells
    are often absent."""
    rows = [[f" {h} " if i % 2 else h for i, h in enumerate(header)]]
    for r in range(n_rows):
        width = len(header) if rnd.random() < 0.6 else rnd.randrange(1, len(header))
        rows.append([_cell(rnd, c, r) for c in range(width)])
    return rows


# Target tables and their mappings: mixed header names and indexes.
MAPPINGS = {
    "orders_a": {"item": "Item", "qty": 1, "price": "Price", "note": 4},
    "orders_b": {"item": 0, "day": "Day", "note": "Note", "extra": 5},
    "orders_c": {"item": "Item", "qty": "Qty", "day": 3},
    "orders_d": {"item": "Item", "price": 2, "day": "Day"},
}
# The bad-header job's mapping: "Missing" never appears in a header.
BAD_MAPPING = {**MAPPINGS["orders_d"], "missing": "Missing"}


def expected_rows(rows: list[list[str]], mapping: dict, header_row=0, skip_rows=1):
    """The transform kernel in pure Python, the reference the loaded
    tables are checked against: trim, resolve header, skip rows,
    null-pad ragged rows, truncate to 100 characters, number
    ``_origin_row`` from 0. Returns row tuples, ``_origin_row`` first."""
    trimmed = [[c.strip(" ") for c in r] for r in rows]
    header = trimmed[header_row]
    sel = [s if isinstance(s, int) else header.index(s) for s in mapping.values()]
    out = []
    for i, r in enumerate(trimmed[skip_rows:]):
        vals = tuple(r[s][:100] if s < len(r) else None for s in sel)
        out.append((i,) + vals)
    return out


def write_corpus(path: str, seed: int, n_docs: int, n_orders: int) -> None:
    """The parquet tables the hot queries read, in the testdata schema
    and with the distributions measured on its sf0.1 tables (see
    README.md, "Inputs"). Tables none of them reads are written empty
    so that the shared DuckDB view set binds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed)
    os.makedirs(path, exist_ok=True)

    # Lengths spread evenly over 50-540 characters (the measured
    # deciles run evenly from 103 to 493), and a fixed 5% of documents
    # are near-duplicates: an earlier document copied whole, plus the
    # word " dup". Neither depends on the seed, so the work the
    # queries do varies little between seeds.
    lengths = [50 + (i * 490) // n_docs for i in range(n_docs)]
    rnd.shuffle(lengths)
    copies = set(rnd.sample(range(1, n_docs), n_docs // 20))
    texts: list[str] = []
    for i, limit in enumerate(lengths):
        if i in copies:
            texts.append(rnd.choice(texts) + " dup")
            continue
        words = [rnd.choice(VOCAB)]
        while len(words) + sum(len(w) for w in words) < limit:
            words.append(rnd.choice(VOCAB))
        texts.append(" ".join(words))
    langs = rnd.choices(["en", "zh", "es", "fr", "de"], [41, 15, 15, 15, 14], k=n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))

    day0 = datetime.datetime(1995, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(n_orders // 10) for _ in range(n_orders)],
                              pa.int64()),
        "o_orderstatus": [rnd.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [rnd.randrange(100000, 50000000) / 100 for _ in range(n_orders)],
        "o_orderdate": pa.array(
            [day0 + datetime.timedelta(days=rnd.randrange(2405)) for _ in range(n_orders)],
            pa.timestamp("us")),
        "o_orderpriority": [rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)],
    }), os.path.join(path, "orders.parquet"))

    ts = pa.timestamp("us")
    empty = {
        "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
        "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())],
        "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                     ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                     ("c_mktsegment", pa.string())],
        "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                     ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
        "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
                 ("p_brand", pa.string()), ("p_type", pa.string()),
                 ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
        "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                     ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                     ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                     ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                     ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                     ("l_shipdate", ts)],
        "events": [("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()),
                   ("props", pa.string())],
        "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                       ("label", pa.int32())],
    }
    for name, fields in empty.items():
        pq.write_table(pa.schema(fields).empty_table(),
                       os.path.join(path, f"{name}.parquet"))

"""Sheet kernel tests (T1-T6; reference src/RowsOfColumns.php)."""

import random

import pytest
from pyspark.sql import functions as F

from google_sheets_etl_spark.operators import rows as K
from google_sheets_etl_spark.operators.fingerprint import sheet_fingerprint

RAGGED = [
    (0, ["  Name ", "Age", " City"]),          # header, messy whitespace
    (1, ["alice  ", "30", "nyc"]),
    (2, ["bob", "25"]),                        # ragged: missing city
    (3, ["", "  ", "chicago"]),                # empty + whitespace-only cells
    (4, ["dave", "40", "la", "extra"]),        # extra trailing cell
]


@pytest.fixture()
def sheet(spark):
    return spark.createDataFrame(RAGGED, "row_idx long, cells array<string>")


def test_trim_cells(spark, sheet):
    out = K.trim_cells(sheet).orderBy("row_idx").collect()
    assert out[0]["cells"] == ["Name", "Age", "City"]
    assert out[1]["cells"] == ["alice", "30", "nyc"]
    assert out[3]["cells"] == ["", "", "chicago"]


def test_header_row_and_selectors(spark, sheet):
    header = K.header_row(K.trim_cells(sheet), 0)
    assert header == ["Name", "Age", "City"]
    # name (exact case-sensitive), position, mixed
    assert K.resolve_column_selectors(header, ["Name", "City"]) == [0, 2]
    assert K.resolve_column_selectors(header, [2, "Age"]) == [2, 1]


def test_header_errors(spark, sheet):
    header = K.header_row(K.trim_cells(sheet), 0)
    with pytest.raises(K.RequiredColumnNotFound, match="Required column not found: name"):
        K.resolve_column_selectors(header, ["name"])  # case-sensitive!
    with pytest.raises(K.ColumnIndexOutOfBounds, match="Column index out of bounds: 3"):
        K.resolve_column_selectors(header, [3])
    with pytest.raises(TypeError):
        K.resolve_column_selectors(header, [True])


def test_project_nullpad_and_reindex(spark, sheet):
    out = (
        K.project_rows(K.trim_cells(sheet), [0, 2], ["name", "city"], skip_rows=1)
        .orderBy("_origin_row")
        .collect()
    )
    assert [r["_origin_row"] for r in out] == [0, 1, 2, 3]
    assert [r["name"] for r in out] == ["alice", "bob", "", "dave"]
    # ragged row null-pads (element_at past end → NULL, like PHP ?? null)
    assert [r["city"] for r in out] == ["nyc", None, "chicago", "la"]


def test_skip_rows_2(spark, sheet):
    out = K.project_rows(sheet, [0], ["name"], skip_rows=2).orderBy("_origin_row").collect()
    assert len(out) == 3
    assert out[0]["_origin_row"] == 0  # re-indexed from 0 post-skip


def test_provenance_and_width(spark, sheet):
    data = K.project_rows(K.trim_cells(sheet), [0], ["name"], 1)
    data = K.with_provenance(data, 7)
    assert data.select("_origin_etl_job_id").distinct().collect()[0][0] == 7
    wide = spark.createDataFrame([("x" * 150,)], "v string")
    cut = K.enforce_cell_width(wide, 100).collect()[0]["v"]
    assert len(cut) == 100


def test_fingerprint_stability_and_sensitivity(spark, sheet):
    f1 = sheet_fingerprint(sheet)
    # stable across partitioning
    f2 = sheet_fingerprint(sheet.repartition(5))
    assert f1 == f2
    # sensitive to a single cell change
    changed = sheet.withColumn(
        "cells",
        F.when(F.col("row_idx") == 2, F.array(F.lit("bob"), F.lit("26")))
        .otherwise(F.col("cells")),
    )
    assert sheet_fingerprint(changed) != f1
    # sensitive to raggedness (["bob","25"] vs ["bob","25",None-absent)
    padded = sheet.withColumn(
        "cells",
        F.when(F.col("row_idx") == 2, F.array(F.lit("bob"), F.lit("25"), F.lit("")))
        .otherwise(F.col("cells")),
    )
    assert sheet_fingerprint(padded) != f1


def test_fingerprint_invariant_across_shuffle_configs(spark):
    """The change-detection hash must be one value per CONTENT — not
    per session config. The per-partition Merkle form broke this (its
    boundaries moved with spark.sql.shuffle.partitions); the XOR-lane
    form is structurally layout-free, pinned here."""
    rows = [(i, [f"a{i}", f"b{i}"]) for i in range(50)]
    sheet = spark.createDataFrame(rows, "row_idx long, cells array<string>")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        f_a = sheet_fingerprint(sheet.repartition(13))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        f_b = sheet_fingerprint(sheet.repartition(2))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert f_a == f_b


_EMOJI = "\U0001F600"
_CELLS = [
    None, "", "  ", "plain", " padded ", "\ttab\t", "\u00a0nbsp\u00a0", " \u00a0 nb ",
    "\u3000ideo\u3000", " \t mixed   ", "x" * 150,
    _EMOJI * 99, _EMOJI * 100, " " + _EMOJI * 101 + " ", "é" * 101,
    7, -3, 1.5, 2.0,
]


def _ragged_sheet(rnd):
    width = rnd.randint(1, 5)
    header = [rnd.choice(["Name", " Qty ", "\tTab", " Nb", f"h{i}"]) + str(i)
              for i in range(width)]
    return [header] + [[rnd.choice(_CELLS) for _ in range(rnd.randint(0, width + 2))]
                       for _ in range(rnd.randint(0, 8))]


@pytest.mark.parametrize("seed", range(4))
def test_driver_kernel_equals_spark_kernel(spark, seed):
    """``raw_header`` + ``project_raw_rows`` (the load pass, on the
    driver) give the Spark kernel's header and, as a multiset, its
    rows: U+0020-only trim against tab/NBSP/U+3000 edges, null-padded
    ragged rows, ``None`` cells, non-BMP text cut at 100 code points,
    non-string cells through ``str()``, every ``skip_rows`` edge and
    selectors by index and by name."""
    from collections import Counter
    from functools import reduce

    from google_sheets_etl_spark.session import local_frame

    rnd = random.Random(seed)
    want, got = [], Counter()
    for _ in range(3):
        raw = _ragged_sheet(rnd)
        sheet = local_frame(
            spark, [(i, [None if c is None else str(c) for c in r]) for i, r in enumerate(raw)],
            "row_idx long, cells array<string>")
        header = K.raw_header(raw, 0)
        assert header == K.header_row(K.trim_cells(sheet), 0)
        by_index = [rnd.randrange(len(header)) for _ in range(rnd.randint(1, 4))]
        by_name = rnd.sample(header, rnd.randint(1, len(header)))
        for specs in (by_index, by_name):
            sel = K.resolve_column_selectors(header, specs)
            for skip in (0, 1, len(raw), len(raw) + 3):
                case = len(want)  # one Spark action for every case
                kernel = K.with_provenance(K.enforce_cell_width(K.project_rows(
                    K.trim_cells(sheet), sel, [f"c{i}" for i in range(len(sel))], skip),
                    100), case)
                want.append(kernel.select("_origin_etl_job_id", F.array(
                    *[F.col(c) for c in kernel.columns[1:-1]]).alias("cells"), "_origin_row"))
                got.update((case, r[1:], r[0]) for r in K.project_raw_rows(raw, sel, skip))
    rows = reduce(lambda a, b: a.unionByName(b), want).collect()
    assert Counter((r[0], tuple(r[1]), r[2]) for r in rows) == got

"""Typed views over the string warehouse (operators/typed_views.py,
round-4 verdict directive #2): profile-driven try_cast typing applied
to a REAL engine-loaded target table, plus the decision-rule and
hostile-column-name invariants the oracle queries can't see."""

from __future__ import annotations

import datetime

import pytest

from google_sheets_etl_spark.operators import typed_views
from google_sheets_etl_spark.session import arrow_rows


def _wh(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_profile_decides_most_specific_type(spark):
    df = _wh(
        spark,
        [
            ("1", "1.5", "2026-01-02", "true", "x1", ""),
            ("2", "2", "2026-01-03", "no", "7", None),
            (" 3 ", "-0.25", "2026-1-4", "1", "zebra", ""),
        ],
        "a string, b string, c string, d string, e string, f string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "a": "bigint",       # whitespace-padded ints still type
        "b": "decimal(3,2)",  # '2' casts too; bigint blocked by '1.5';
                              # most specific exact type wins (r5 #2)
        "c": "date",
        "d": "boolean",      # spark token set: true/no/1
        "e": "string",       # mixed → safe floor
        "f": "string",       # all blank → no evidence, stays string
    }


def test_typed_view_casts_blanks_and_failures_to_null(spark):
    df = _wh(
        spark,
        [("1", "ok"), ("", "ok"), ("oops", "ok")],
        "n string, s string",
    )
    out = typed_views.typed_view(df, {"n": "bigint"})
    assert dict(out.dtypes) == {"n": "bigint", "s": "string"}
    vals = [r["n"] for r in out.orderBy("s", "n").collect()]
    assert sorted(v for v in vals if v is not None) == [1]
    assert vals.count(None) == 2  # blank AND unparsable both NULL


def test_typed_view_handles_hostile_column_names(spark):
    df = spark.createDataFrame(
        [("17", "2026-01-01")], ["order id", "loaded `at`"]
    )
    types = typed_views.decide_types(df)
    assert types == {"order id": "bigint", "loaded `at`": "date"}
    out = typed_views.auto_typed_view(df)
    assert out.columns == ["order id", "loaded `at`"]
    row = out.collect()[0]
    assert row["order id"] == 17
    assert row["loaded `at`"] == datetime.date(2026, 1, 1)


def test_user_override_beats_profile(spark):
    df = _wh(spark, [("1",), ("0",)], "flagish string")
    # profile would say bigint (or boolean); the consumer knows better
    out = typed_views.typed_view(df, {"flagish": "boolean"})
    assert dict(out.dtypes) == {"flagish": "boolean"}
    assert {r["flagish"] for r in out.collect()} == {True, False}


def test_typed_view_over_engine_loaded_target(spark, tmp_path):
    """The directive's lifecycle shape: sheet → engine load (VARCHAR
    warehouse, reference parity) → typed view on top. The stored
    table stays all-string; the view reads typed."""
    from google_sheets_etl_spark.config import EtlJob
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import (
        FixtureSheetSource, SpreadsheetMeta,
    )

    ss = "SST" + "t" * 41
    src = FixtureSheetSource()
    src.put_sheet(
        SpreadsheetMeta(ss, "2026-04-01T00:00:00.000Z", "T"),
        "Books",
        [
            ["Title", "Pages", "Price", "Published"],
            ["Dune", "412", "9.99", "1965-08-01"],
            ["Hyperion", "482", "", "1989-05-26"],
            ["TBD", "", "1.50", ""],
        ],
    )
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh_typed"), src)
    engine.set_up_accounting()
    jobs = [EtlJob(ss, "Books", "books", {
        "title": "Title", "pages": "Pages",
        "price": "Price", "published": "Published",
    })]
    engine.find_updated_spreadsheets(now=1000)
    engine.load_updated_spreadsheets(jobs)

    stored = engine.target("books").read()
    data_cols = ["title", "pages", "price", "published"]
    assert all(t == "string" for c, t in stored.dtypes if c in data_cols)

    tv = typed_views.auto_typed_view(stored.select(*data_cols))
    assert dict(tv.dtypes) == {
        "title": "string", "pages": "bigint",
        "price": "decimal(3,2)", "published": "date",
    }
    rows = {r["title"]: r for r in tv.collect()}
    assert rows["Dune"]["pages"] == 412
    import decimal
    assert rows["Dune"]["price"] == decimal.Decimal("9.99")
    assert rows["Dune"]["published"] == datetime.date(1965, 8, 1)
    assert rows["Hyperion"]["price"] is None     # blank → NULL
    assert rows["TBD"]["pages"] is None
    assert rows["TBD"]["published"] is None


def test_engine_typed_target_surface(spark, tmp_path):
    """engine.typed_target: typed data columns, provenance columns
    pass through with stored types, overrides pin profile mistakes."""
    from google_sheets_etl_spark.config import EtlJob
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import (
        FixtureSheetSource, SpreadsheetMeta,
    )

    ss = "SSZ" + "z" * 41
    src = FixtureSheetSource()
    src.put_sheet(
        SpreadsheetMeta(ss, "2026-04-02T00:00:00.000Z", "Z"),
        "Sheet1",
        [["Zip", "Qty"], ["02134", "7"], ["90210", "12"]],
    )
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh_tt"), src)
    engine.set_up_accounting()
    jobs = [EtlJob(ss, "Sheet1", "parcels", {"zip": "Zip", "qty": "Qty"})]
    engine.find_updated_spreadsheets(now=1000)
    engine.load_updated_spreadsheets(jobs)

    tv = engine.typed_target("parcels")
    dt = dict(tv.dtypes)
    assert dt["qty"] == "bigint"
    assert dt["zip"] == "bigint"  # the profile's honest-but-wrong call
    prov = [c for c in tv.columns if c.startswith("_")]
    assert prov, "provenance columns must survive the view"
    stored = dict(engine.target("parcels").read().dtypes)
    assert all(dt[c] == stored[c] for c in prov)  # untyped passthrough

    pinned = engine.typed_target("parcels", overrides={"zip": "string"})
    assert dict(pinned.dtypes)["zip"] == "string"
    assert {r["zip"] for r in pinned.collect()} == {"02134", "90210"}


def test_profile_empty_column_list_returns_empty_profile(spark):
    df = spark.createDataFrame([("x",)], "_origin_only string")
    prof = typed_views.profile_cast_stats(df, [])
    assert prof.count() == 0
    assert prof.columns[0] == "column_name"
    assert typed_views.decide_types(df, []) == {}


def test_timestamp_candidate_midnight_strict_date(spark):
    """Datetime-bearing columns must type timestamp (not lossily
    date); pure dates and explicit midnights stay date; bare years
    are midnight by construction and stay date."""
    df = _wh(
        spark,
        [
            ("2026-01-02 14:30:05", "2026-01-02", "2026-01-02 00:00:00"),
            ("2026-01-03 09:00:00", "2026-1-4", "1500"),
        ],
        "dt string, d string, m string",
    )
    assert typed_views.decide_types(df) == {
        "dt": "timestamp", "d": "date", "m": "date",
    }
    out = typed_views.auto_typed_view(df)
    assert dict(out.dtypes) == {
        "dt": "timestamp", "d": "date", "m": "date",
    }
    got = {r["dt"].isoformat() for r in out.collect()}
    assert got == {"2026-01-02T14:30:05", "2026-01-03T09:00:00"}


def test_locale_date_format_inference(spark):
    """The sheets reality: a zero-padded MM/dd/yyyy column types as
    date[MM/dd/yyyy] and the view parses it to real dates; dotted
    European dates likewise; mixed formats fall back to string; the
    strict parser rejects unpadded forms."""
    import datetime

    df = _wh(
        spark,
        [
            ("02/28/1996", "28.02.1996", "02/28/1996"),
            ("12/01/2020", "01.12.2020", "3/4/2020"),  # unpadded!
        ],
        "us string, eu string, sloppy string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "us": "date[MM/dd/yyyy]",
        "eu": "date[dd.MM.yyyy]",
        "sloppy": "string",
    }
    out = typed_views.auto_typed_view(df)
    assert dict(out.dtypes)["us"] == "date"
    assert dict(out.dtypes)["eu"] == "date"
    got = {r["us"]: r["eu"] for r in out.collect()}
    assert got == {
        datetime.date(1996, 2, 28): datetime.date(1996, 2, 28),
        datetime.date(2020, 12, 1): datetime.date(2020, 12, 1),
    }


def test_grouped_number_inference(spark):
    """Comma-grouped columns type as bigint[grouped]/double[grouped]
    with commas stripped behind the shape gate; malformed grouping
    stays NULL; plain numerics keep the base types."""
    df = _wh(
        spark,
        [
            ("1,234,567", "1,234.56", "123", "12,34"),
            ("42", "987", "4567", "1,234"),
        ],
        "gi string, gd string, plain string, bad string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "gi": "bigint[grouped]",
        "gd": "decimal(6,2)[grouped]",  # grouped money is exact (r6)
        "plain": "bigint",
        "bad": "string",  # '12,34' breaks the strict grouping shape
    }
    out = typed_views.auto_typed_view(df)
    assert dict(out.dtypes) == {
        "gi": "bigint", "gd": "decimal(6,2)", "plain": "bigint",
        "bad": "string",
    }
    import decimal
    rows = {r["plain"]: r for r in out.collect()}
    assert rows[123]["gi"] == 1234567
    assert rows[123]["gd"] == decimal.Decimal("1234.56")
    assert rows[4567]["gi"] == 42
    assert rows[4567]["gd"] == decimal.Decimal("987.00")


def test_profile_partition_invariant_and_view_preserves_rows(spark):
    """Invariants the oracles can't see: the decision is a pure
    function of the value multiset (any partitioning), and the view
    is row-preserving for every decided type."""
    import random

    rng = random.Random(11)
    pools = {
        "ints": lambda: str(rng.randint(-5000, 5000)),
        "decs": lambda: f"{rng.randint(0, 99)}.{rng.randint(0, 99):02d}",
        "dates": lambda: f"20{rng.randint(10, 25)}-0{rng.randint(1, 9)}"
                         f"-1{rng.randint(0, 9)}",
        "us": lambda: f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}"
                      f"/19{rng.randint(10, 99)}",
        "grouped": lambda: f"{rng.randint(1, 999)},{rng.randint(0, 999):03d}",
        "words": lambda: rng.choice(["alpha", "beta", "12x", ""]),
    }
    rows = [tuple(g() for g in pools.values()) for _ in range(300)]
    schema = ", ".join(f"{k} string" for k in pools)
    df = spark.createDataFrame(rows, schema)
    t1 = typed_views.decide_types(df)
    t2 = typed_views.decide_types(df.repartition(13))
    assert t1 == t2
    assert t1["ints"] == "bigint"
    assert t1["decs"] == "decimal(4,2)"
    assert t1["dates"] == "date"
    assert t1["us"] == "date[MM/dd/yyyy]"
    assert t1["grouped"] == "bigint[grouped]"
    assert t1["words"] == "string"
    out = typed_views.typed_view(df, t1)
    assert out.count() == 300


def test_sampled_profile_decides_same_on_clean_columns(spark):
    """The 100 TB knob: a sampled profile reaches the same decisions
    on homogeneous columns, and its failure mode is the safe one
    (optimistic typing -> try_cast NULL, never an error)."""
    rows = [(str(i), f"2026-01-{(i % 27) + 1:02d}") for i in range(2000)]
    df = _wh(spark, rows, "n string, d string")
    full = typed_views.decide_types(df)
    sampled = typed_views.decide_types(df, sample_fraction=0.2)
    assert full == sampled == {"n": "bigint", "d": "date"}
    # optimistic mis-typing degrades to NULL, not an error: force the
    # 'wrong' decision a sample could make on a dirty column
    dirty = _wh(spark, [("1",), ("oops",)], "n string")
    out = typed_views.typed_view(dirty, {"n": "bigint"}).collect()
    assert sorted([r["n"] for r in out], key=str) == [1, None]


def test_decimal_candidate_decides_money_and_bignum(spark):
    """Round-5 verdict directive #2: fraction-bearing numeric columns
    type decimal(p,s) with profiled digits (exact aggregation), and
    integers past the bigint range type decimal(p,0) instead of
    double."""
    import decimal

    df = _wh(
        spark,
        [
            ("12345.67", "99999999999999999999", "1e4"),
            ("-0.05", "12345678901234567890123", ".5"),
        ],
        "money string, bignum string, expo string",
    )
    types = typed_views.decide_types(df)
    assert types["money"] == "decimal(7,2)"
    # 23 raw digits, no fraction; bigint try_cast overflows to NULL
    assert types["bignum"] == "decimal(23,0)"
    # exponent and bare-dot forms fall through to double, documented
    assert types["expo"] == "double"
    out = {tuple(r) for r in typed_views.typed_view(df, types).collect()}
    assert (decimal.Decimal("12345.67"),
            decimal.Decimal("99999999999999999999"), 10000.0) in out


def test_decimal_digit_budget_gate_nulls_never_rounds(spark):
    """The decimal view cast is gated on the decided digit budget: a
    value longer than the profile saw (the sampled-profile
    degradation case) becomes NULL — Spark's ungated cast would
    silently ROUND half-up, a wrong value."""
    df = _wh(spark, [("1.55",), ("2.999",)], "v string")
    out = typed_views.typed_view(df, {"v": "decimal(3,2)"}).collect()
    vals = sorted((str(r["v"]) for r in out), key=str)
    assert vals == ["1.55", "None"]  # 2.999 NULLed, NOT rounded to 3.00

    import pytest

    with pytest.raises(ValueError, match="decimal"):
        typed_views.typed_view(df, {"v": "decimal(40,2)"})
    with pytest.raises(ValueError, match="decimal"):
        typed_views.typed_view(df, {"v": "decimal(2,3)"})


def test_slash_date_evidence_rule(spark):
    """Round-5 verdict directive #7: dd/MM/yyyy wins only on day>12
    evidence; pure-ambiguity slash columns stay string rather than
    guessing a locale."""
    import datetime

    df = _wh(
        spark,
        [
            ("01/13/2020", "13/01/2020", "01/02/2020"),
            ("02/05/2020", "02/05/2020", "03/04/2021"),
        ],
        "us string, eu string, amb string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "us": "date[MM/dd/yyyy]",
        "eu": "date[dd/MM/yyyy]",
        "amb": "string",
    }
    rows = typed_views.typed_view(df, types).collect()
    got = {(r["us"], r["eu"], r["amb"]) for r in rows}
    assert (datetime.date(2020, 1, 13), datetime.date(2020, 1, 13),
            "01/02/2020") in got
    assert (datetime.date(2020, 2, 5), datetime.date(2020, 5, 2),
            "03/04/2021") in got


def test_auto_sample_fraction_from_footer_stats(spark, tmp_path, monkeypatch):
    """Round-5 verdict directive #8: sample_fraction='auto' profiles a
    seeded sample when footer-stats row counts exceed the threshold,
    and the full table below it; non-parquet inputs (no stats) fall
    back to the full profile."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "wide")
    spark.range(2000).select(
        F.col("id").cast("string").alias("k"),
        F.concat((F.col("id") % 97).cast("string"), F.lit(".25"))
        .alias("m"),
    ).write.parquet(path)
    df = spark.read.parquet(path)

    # below threshold -> full profile
    full = typed_views.decide_types(df, sample_fraction="auto")
    assert full == {"k": "bigint", "m": "decimal(4,2)"}

    # force the sampled path: threshold under the table size, target
    # a ~50% sample — decisions stay correct on this clean data
    monkeypatch.setattr(typed_views, "AUTO_SAMPLE_THRESHOLD_ROWS", 1000)
    monkeypatch.setattr(typed_views, "AUTO_SAMPLE_TARGET_ROWS", 1000)
    sampled = typed_views.decide_types(df, sample_fraction="auto")
    assert sampled == full

    # no footer stats (in-memory frame) -> silently full profile
    mem = _wh(spark, [("10", "2.5")], "k string, m string")
    assert typed_views.decide_types(mem, sample_fraction="auto") == {
        "k": "bigint", "m": "decimal(2,1)"
    }


def test_locale_timestamp_formats_evidence_and_seconds_gate(spark):
    """HH:mm locale datetimes type timestamp[<fmt>] under the same
    slash-evidence rule as dates; an all-ambiguous datetime column
    stays string; a ':ss'-bearing column falls through rather than
    silently truncating seconds."""
    import datetime

    df = _wh(
        spark,
        [
            ("01/13/2020 14:30", "13/01/2020 14:30", "01/02/2020 10:00",
             "13.01.2020 08:15", "01/13/2020 14:30:59"),
            ("02/05/2020 00:01", "02/05/2020 23:59", "03/04/2021 11:11",
             "28.02.2021 23:00", "02/05/2020 00:01:02"),
        ],
        "us string, eu string, amb string, dot string, secs string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "us": "timestamp[MM/dd/yyyy HH:mm]",
        "eu": "timestamp[dd/MM/yyyy HH:mm]",
        "amb": "string",
        "dot": "timestamp[dd.MM.yyyy HH:mm]",
        "secs": "string",
    }
    rows = typed_views.typed_view(df, types).collect()
    got = {(r["us"], r["eu"], r["dot"], r["secs"]) for r in rows}
    assert (datetime.datetime(2020, 1, 13, 14, 30),
            datetime.datetime(2020, 1, 13, 14, 30),
            datetime.datetime(2020, 1, 13, 8, 15),
            "01/13/2020 14:30:59") in got


def test_grouped_decimal_candidate(spark):
    """Grouped money ('1,234.56') decides decimal(p,s)[grouped] —
    the grouped mirror of the decimal candidate, with the same
    digit-budget NULL-not-round degradation on the stripped value."""
    import decimal

    df = _wh(
        spark,
        [("1,234.56", "12,345"), ("999,999.99", "999")],
        "money string, ints string",
    )
    types = typed_views.decide_types(df)
    assert types == {
        "money": "decimal(8,2)[grouped]",
        "ints": "bigint[grouped]",
    }
    rows = {r["ints"]: r["money"]
            for r in typed_views.typed_view(df, types).collect()}
    assert rows[12345] == decimal.Decimal("1234.56")
    assert rows[999] == decimal.Decimal("999999.99")
    # budget gate: a longer value than profiled NULLs, never rounds
    out = typed_views.typed_view(
        df, {"money": "decimal(6,2)[grouped]"}
    ).collect()
    assert sorted(str(r["money"]) for r in out) == ["1234.56", "None"]


def test_merge_profiles_equals_full_profile(spark):
    """Mergeable-profile invariant: counters over disjoint slices,
    merged then decided, equal the full-table profile exactly —
    including the digit maxima that size decimals and the evidence
    counts behind the slash rules."""
    rows = [
        ("1", "1.5", "01/13/2020", "1,234.56"),
        ("2", "22.25", "02/05/2020", "999"),
        ("30", "3", "11/30/2021", "12,000"),
        ("44", "444.125", "06/01/1999", "1,000,000.5"),
    ]
    df = _wh(spark, rows, "a string, b string, c string, d string")
    full = {
        (r["column_name"], r["decided_type"])
        for r in typed_views.profile_cast_stats(df).collect()
    }
    half1 = typed_views.profile_counters(df.limit(2)).toArrow()
    # disjoint complement via anti-join on all columns
    half2 = typed_views.profile_counters(
        df.exceptAll(df.limit(2))
    ).toArrow()
    merged = {
        (r["column_name"], r["decided_type"])
        for r in typed_views.decide_profile(
            typed_views.merge_profiles(half1, half2)
        ).to_pylist()
    }
    assert merged == full
    assert dict(full)["b"] == "decimal(6,3)"
    assert dict(full)["c"] == "date[MM/dd/yyyy]"
    assert dict(full)["d"] == "decimal(9,2)[grouped]"


def test_min_frac_threshold_typing(spark):
    """Threshold typing (round-6 verdict directive #4): a 99%-clean
    bigint column with one dirty cell types bigint at min_frac=0.99
    (the dirty cell NULLs in the view — safe degradation) and string
    at the default totality. The slash-evidence rule generalizes:
    equal US/EU evidence stays ambiguous at ANY threshold."""
    rows = [(str(i), "01/13/2020" if i else "N/A") for i in range(100)]
    rows.append(("oops", "06/06/2020"))
    df = _wh(spark, rows, "nums string, dates string")
    strict = typed_views.decide_types(df)
    assert strict == {"nums": "string", "dates": "string"}
    loose = typed_views.decide_types(df, min_frac=0.98)
    # dates: 99 values parse ONLY as MM/dd (day>12 evidence), the
    # 'N/A' fails both, the ambiguous 06/06 parses under BOTH -> US
    # clears the threshold and out-parses EU
    assert loose == {"nums": "bigint", "dates": "date[MM/dd/yyyy]"}
    out = typed_views.typed_view(df, loose).collect()
    nums = [r["nums"] for r in out]
    assert sorted(n for n in nums if n is not None) == list(range(100))
    assert nums.count(None) == 1  # 'oops' -> NULL, never an error


def test_min_frac_ambiguity_still_falls_through(spark):
    """Pure slash ambiguity (every value day<=12 AND month<=12) stays
    string even under a relaxed threshold — both formats clear the
    bar with EQUAL evidence, so neither out-parses the other."""
    df = _wh(
        spark,
        [("01/02/2020",), ("03/04/2021",), ("05/06/2019",)],
        "amb string",
    )
    assert typed_views.decide_types(df, min_frac=0.6) == {"amb": "string"}


def test_min_frac_validation(spark):
    import pytest

    df = _wh(spark, [("1",)], "a string")
    with pytest.raises(ValueError, match="min_frac"):
        typed_views.decide_types(df, min_frac=0.0)
    with pytest.raises(ValueError, match="min_frac"):
        typed_views.decide_types(df, min_frac=1.5)


def test_incremental_profile_store_lifecycle(spark, tmp_path):
    """Round-6 verdict directive #8: per-load profile counters persist
    in the ``__meta_profiles`` accounting table; ``typed_target``
    decides from MERGED counters and re-profiles only loads whose
    counters are missing or hash-stale. Lifecycle: load → type (one
    load profiled) → re-type (nothing profiled) → second load → re-type
    (ONLY the new load's partition scanned — plan-asserted) → decisions
    equal the full-table profile; a reload re-profiles just that job."""
    from pyspark.sql import functions as F
    from google_sheets_etl_spark.config import EtlJob
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import (
        FixtureSheetSource, SpreadsheetMeta,
    )

    ss1 = "SSA" + "a" * 41
    ss2 = "SSB" + "b" * 41
    src = FixtureSheetSource()
    src.put_sheet(
        SpreadsheetMeta(ss1, "2026-05-01T00:00:00.000Z", "A"),
        "S",
        [["Qty", "When"], ["1", "2024-01-01"], ["2", "2024-02-03"]],
    )
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh_inc"), src)
    engine.set_up_accounting()
    j1 = EtlJob(ss1, "S", "ledger", {"qty": "Qty", "when": "When"})
    engine.find_updated_spreadsheets(now=1000)
    engine.load_updated_spreadsheets([j1])

    tv = engine.typed_target("ledger")
    assert engine.last_profiled_job_ids == [1]
    assert dict(tv.dtypes)["qty"] == "bigint"
    assert dict(tv.dtypes)["when"] == "date"

    # second call: counters are fresh — NOTHING re-profiled
    engine.typed_target("ledger")
    assert engine.last_profiled_job_ids == []

    # a second spreadsheet loads into the same target; its dirty qty
    # cell must flip the MERGED decision — proving the new load's
    # counters actually participate
    src.put_sheet(
        SpreadsheetMeta(ss2, "2026-05-02T00:00:00.000Z", "B"),
        "S",
        [["Qty", "When"], ["x9", "2024-03-04"], ["4", "2024-04-05"]],
    )
    engine.find_updated_spreadsheets(now=2000)
    j2 = EtlJob(ss2, "S", "ledger", {"qty": "Qty", "when": "When"})
    engine.load_updated_spreadsheets([j2])
    tv2 = engine.typed_target("ledger")
    assert engine.last_profiled_job_ids == [2]
    assert dict(tv2.dtypes)["qty"] == "string"  # merged totality
    assert dict(tv2.dtypes)["when"] == "date"
    # ... and the threshold knob re-decides from the SAME counters
    tv2l = engine.typed_target("ledger", min_frac=0.75)
    assert dict(tv2l.dtypes)["qty"] == "bigint"

    # plan assert: the refresh scan was partition-PRUNED to job 2
    plan = engine.last_profile_slice_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_origin_etl_job_id" in plan

    # decisions from merged counters == the full-table profile
    stored = engine.target("ledger").read()
    full = typed_views.decide_types(
        stored, ["qty", "when"], sample_fraction=None
    )
    inc = {
        c: t for c, t in
        ((r["column_name"], r["decided_type"]) for r in
         typed_views.decide_profile(
             typed_views.merge_profiles(
                 engine.profiles.read()
                 .filter(F.col("column_name").isNotNull())
                 .drop("target_table", "etl_job_id",
                       "raw_columns_rows_hash").toArrow())).to_pylist())
    }
    assert inc == full

    # reload of spreadsheet 1 with a changed cell: hash changes, ONLY
    # job 1 re-profiles, and its new value flips the date column
    src.put_sheet(
        SpreadsheetMeta(ss1, "2026-05-03T00:00:00.000Z", "A"),
        "S",
        [["Qty", "When"], ["1", "not-a-date"], ["2", "2024-02-03"]],
    )
    engine.find_updated_spreadsheets(now=3000)
    engine.load_updated_spreadsheets([j1])
    tv3 = engine.typed_target("ledger")
    assert engine.last_profiled_job_ids == [1]
    assert dict(tv3.dtypes)["when"] == "string"


def test_profile_store_sheds_dropped_columns_and_marks_empty_loads(
    spark, tmp_path
):
    """Edge contracts of the per-load profile store: (1) a reload that
    DROPS a column sheds the old column's counters instead of leaking
    them into the merge (per-(table, job) replacement); (2) a reload
    to ZERO rows records a sentinel so the job is not re-scanned
    forever, and its old counters vanish from the merge."""
    from pyspark.sql import functions as F
    from google_sheets_etl_spark.config import EtlJob
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import (
        FixtureSheetSource, SpreadsheetMeta,
    )

    ss = "SSC" + "c" * 41
    src = FixtureSheetSource()
    src.put_sheet(
        SpreadsheetMeta(ss, "2026-06-01T00:00:00.000Z", "C"),
        "S",
        [["A", "B"], ["1", "x"], ["2", "y"]],
    )
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh_shed"), src)
    engine.set_up_accounting()
    engine.find_updated_spreadsheets(now=1000)
    j = EtlJob(ss, "S", "tbl", {"a": "A", "b": "B"})
    engine.load_updated_spreadsheets([j])
    engine.typed_target("tbl")
    cols1 = {
        r["column_name"]
        for r in engine.profiles.read().collect()
        if r["column_name"] is not None
    }
    assert cols1 == {"a", "b"}

    # reload mapping only column A: column b's counters must vanish
    src.put_sheet(
        SpreadsheetMeta(ss, "2026-06-02T00:00:00.000Z", "C"),
        "S",
        [["A", "B"], ["7", "zz"]],
    )
    engine.find_updated_spreadsheets(now=2000)
    j2 = EtlJob(ss, "S", "tbl", {"a": "A"})
    engine.load_updated_spreadsheets([j2])
    engine.typed_target("tbl")
    rows = engine.profiles.read().collect()
    assert {r["column_name"] for r in rows if r["column_name"]} == {"a"}

    # a SECOND spreadsheet loads into the table, then reloads to ZERO
    # data rows: its counters become a sentinel row (not re-scanned
    # forever), while job 1 keeps the table non-empty
    ss2 = "SSD" + "d" * 41
    src.put_sheet(
        SpreadsheetMeta(ss2, "2026-06-03T00:00:00.000Z", "D"),
        "S",
        [["A"], ["9"]],
    )
    engine.find_updated_spreadsheets(now=3000)
    j3 = EtlJob(ss2, "S", "tbl", {"a": "A"})
    engine.load_updated_spreadsheets([j3])
    engine.typed_target("tbl")
    assert engine.last_profiled_job_ids == [2]

    src.put_sheet(
        SpreadsheetMeta(ss2, "2026-06-04T00:00:00.000Z", "D"),
        "S",
        [["A"]],
    )
    engine.find_updated_spreadsheets(now=4000)
    engine.load_updated_spreadsheets([j3])
    engine.typed_target("tbl")
    assert engine.last_profiled_job_ids == [2]
    by_job = {}
    for r in engine.profiles.read().collect():
        by_job.setdefault(int(r["etl_job_id"]), []).append(r["column_name"])
    assert by_job[2] == [None]            # sentinel for the empty load
    assert set(by_job[1]) == {"a"}        # job 1 untouched
    engine.typed_target("tbl")
    assert engine.last_profiled_job_ids == []  # sentinel stops rescans


def test_min_frac_monotone_specificity(spark):
    """Relaxing the threshold can only move a column's decision
    EARLIER in the most-specific-first chain (each branch's predicate
    is monotone in the threshold; the slash-evidence out-parses-rival
    conjunct is threshold-free) — randomized over 400 arbitrary
    counter rows, including degenerate ones (n_values=0, counts at
    the bounds)."""
    import random

    rng = random.Random(42)
    SUM = list(typed_views._SUM_COUNTERS)
    MAX = list(typed_views._MAX_COUNTERS)
    rows = []
    for i in range(400):
        n = rng.randint(0, 50)
        vals = {"n_values": n}
        for c in SUM[1:]:
            vals[c] = rng.randint(0, n) if n else 0
        for c in MAX:
            vals[c] = rng.randint(0, 40)
        rows.append(
            tuple([f"c{i}"] + [vals[c] for c in SUM] + [vals[c] for c in MAX])
        )
    schema = (
        "column_name string, "
        + ", ".join(f"{c} long" for c in SUM)
        + ", "
        + ", ".join(f"{c} int" for c in MAX)
    )
    counters = arrow_rows(rows, schema)

    chain = [
        "boolean", "bigint", "decimal(", "double", "date", "timestamp",
        "date[MM/dd/yyyy]", "date[dd/MM/yyyy]", "date[dd.MM.yyyy]",
        "timestamp[MM/dd/yyyy HH:mm]", "timestamp[dd/MM/yyyy HH:mm]",
        "timestamp[dd.MM.yyyy HH:mm]", "bigint[grouped]",
        "decimal)grouped", "double[grouped]", "string",
    ]

    def rank(t: str) -> int:
        if t.endswith(")[grouped]"):
            return chain.index("decimal)grouped")
        if t.startswith("decimal("):
            return chain.index("decimal(")
        return chain.index(t)

    decided = {}
    for mf in (0.6, 0.8, 1.0):
        decided[mf] = {
            r["column_name"]: r["decided_type"]
            for r in typed_views.decide_profile(counters, min_frac=mf).to_pylist()
        }
    for c in decided[1.0]:
        r06, r08, r10 = (rank(decided[m][c]) for m in (0.6, 0.8, 1.0))
        assert r06 <= r08 <= r10, (c, decided[0.6][c], decided[0.8][c],
                                   decided[1.0][c])


def test_min_frac_threshold_exact_int64_at_huge_n(spark):
    """The ceil(a·n/10^6) threshold must be integer end to end
    (ADVICE r7): at n_values ≈ 1.6e12 the numerator exceeds 2^53 and
    DOUBLE division drifts by 1 — n = 1_604_699_000_084 is a concrete
    witness where floor(double-div) = exact+1, so a column with
    exactly threshold-many castable values would wrongly fall to
    string. Pin the exact-integer decision on hand-built counters."""
    n = 1_604_699_000_084
    thr = (999_999 * n + 999_999) // 10**6   # 1_604_697_395_385
    assert (999_999 * n + 999_999) > 2**53   # the overflow is real
    import math
    assert math.floor((999_999 * n + 999_999) / 10**6) == thr + 1

    counters = arrow_rows(
        [("c", n, 0, thr, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
          None, None, None, None)],
        "column_name string, n_values long, n_boolean long, "
        "n_bigint long, n_decimal long, n_double long, n_date long, "
        "n_timestamp long, _f0 long, _f1 long, _f2 long, _h0 long, "
        "_h1 long, _h2 long, _g0 long, _g1 long, _di int, _ds int, "
        "_gdi int, _gds int",
    )
    got = {
        r["column_name"]: r["decided_type"]
        for r in typed_views.decide_profile(
            counters, min_frac=0.999999
        ).to_pylist()
    }
    assert got == {"c": "bigint"}  # double division would say string


# One hand-built counter row per branch of the decision chain, plus its
# edges: (id, counters set on an all-zero row of n_values=10 with NULL
# digit maxima, min_frac, decided type).
_BRANCHES = [
    ("boolean", {"n_boolean": 10, "n_bigint": 10}, 1.0, "boolean"),
    ("bigint", {"n_bigint": 10, "n_double": 10}, 1.0, "bigint"),
    ("decimal", {"n_decimal": 10, "_di": 4, "_ds": 2}, 1.0, "decimal(6,2)"),
    ("decimal-p38", {"n_decimal": 10, "_di": 36, "_ds": 2}, 1.0, "decimal(38,2)"),
    ("decimal-p39-to-double",
     {"n_decimal": 10, "_di": 37, "_ds": 2, "n_double": 10}, 1.0, "double"),
    ("decimal-p39-to-string", {"n_decimal": 10, "_di": 37, "_ds": 2}, 1.0, "string"),
    ("decimal-null-maxima", {"n_decimal": 10}, 1.0, "decimal(0,0)"),
    ("double", {"n_double": 10, "n_date": 10}, 1.0, "double"),
    ("date", {"n_date": 10, "n_timestamp": 10}, 1.0, "date"),
    ("timestamp", {"n_timestamp": 10}, 1.0, "timestamp"),
    ("date-us", {"_f0": 10, "_f1": 9}, 1.0, "date[MM/dd/yyyy]"),
    ("date-eu", {"_f0": 9, "_f1": 10}, 1.0, "date[dd/MM/yyyy]"),
    ("date-slash-tie", {"_f0": 10, "_f1": 10}, 1.0, "string"),
    ("date-slash-tie-falls-to-dot", {"_f0": 10, "_f1": 10, "_f2": 10}, 1.0,
     "date[dd.MM.yyyy]"),
    ("date-slash-null-rival", {"_f0": 10, "_f1": None}, 1.0, "string"),
    ("date-dot", {"_f2": 10, "_h0": 10}, 1.0, "date[dd.MM.yyyy]"),
    ("timestamp-us", {"_h0": 10, "_h1": 2}, 1.0, "timestamp[MM/dd/yyyy HH:mm]"),
    ("timestamp-eu", {"_h0": 2, "_h1": 10}, 1.0, "timestamp[dd/MM/yyyy HH:mm]"),
    ("timestamp-slash-tie", {"_h0": 10, "_h1": 10}, 1.0, "string"),
    ("timestamp-dot", {"_h2": 10, "_g0": 10}, 1.0, "timestamp[dd.MM.yyyy HH:mm]"),
    ("bigint-grouped", {"_g0": 10, "_g1": 10}, 1.0, "bigint[grouped]"),
    ("decimal-grouped", {"_g1": 10, "_gdi": 7, "_gds": 2}, 1.0,
     "decimal(9,2)[grouped]"),
    ("decimal-grouped-p38", {"_g1": 10, "_gdi": 36, "_gds": 2}, 1.0,
     "decimal(38,2)[grouped]"),
    ("decimal-grouped-p39", {"_g1": 10, "_gdi": 37, "_gds": 2}, 1.0,
     "double[grouped]"),
    ("decimal-grouped-null-maxima", {"_g1": 10}, 1.0, "decimal(0,0)[grouped]"),
    ("string", {"n_boolean": 9, "n_bigint": 9, "_f0": 9}, 1.0, "string"),
    ("no-values", {"n_values": 0}, 1.0, "string"),
    ("no-values-relaxed", {"n_values": 0}, 0.5, "string"),
    ("null-n-values", {"n_values": None, "n_bigint": 10}, 1.0, "string"),
    ("null-count-skipped", {"n_boolean": None, "n_bigint": 10}, 1.0, "bigint"),
    ("threshold-met", {"n_bigint": 8}, 0.75, "bigint"),
    ("threshold-missed", {"n_bigint": 7}, 0.75, "string"),
    ("relaxed-slash-out-parses", {"_f0": 8, "_f1": 7}, 0.75, "date[MM/dd/yyyy]"),
]


@pytest.mark.parametrize(
    "counters, min_frac, expected",
    [case[1:] for case in _BRANCHES],
    ids=[case[0] for case in _BRANCHES],
)
def test_decide_profile_branch_table(counters, min_frac, expected):
    """Every branch of the most-specific-first chain, the 38/39 digit
    precision edge of both decimal forms, slash ties, NULL maxima and
    NULL counts, decided from one hand-built counter row."""
    import pyarrow as pa

    schema = pa.schema(
        [("column_name", pa.string())]
        + [(c, pa.int64()) for c in typed_views._SUM_COUNTERS]
        + [(c, pa.int32()) for c in typed_views._MAX_COUNTERS])
    row = {c: 0 for c in typed_views._SUM_COUNTERS}
    row.update(column_name="c", n_values=10)
    row.update(counters)
    table = pa.Table.from_pylist([row], schema)
    decided = typed_views.decide_profile(table, min_frac=min_frac)
    assert decided.column_names == [
        "column_name", "n_values", "n_boolean", "n_bigint", "n_decimal",
        "n_double", "n_date", "n_timestamp", "decided_type"]
    assert decided["decided_type"].to_pylist() == [expected]

# Values that reach a branch of the decision chain from data, by the
# branch's id in _BRANCHES (the min_frac=1.0 branches data can reach).
_BRANCH_VALUES = {
    "boolean": ["true", "no", "Y"],
    "bigint": ["1", "-20", " 300 "],
    "decimal": ["12.50", "1234.5"],
    "decimal-p38": ["1" * 36 + ".25"],
    "decimal-p39-to-double": ["1" * 37 + ".25"],
    "double": ["1e3", "2.5e-1"],
    "date": ["2026-01-02", "2026-03-04"],
    "timestamp": ["2026-01-02 10:30:00", "2026-01-03 00:00:01"],
    "date-us": ["01/13/2020", "12/01/2020"],
    "date-eu": ["13/01/2020", "01/12/2020"],
    "date-slash-tie": ["01/02/2020", "03/04/2020"],
    "date-dot": ["13.01.2020", "01.02.2021"],
    "timestamp-us": ["01/13/2020 10:30", "12/01/2020 23:59"],
    "timestamp-eu": ["13/01/2020 10:30", "01/12/2020 23:59"],
    "timestamp-slash-tie": ["01/02/2020 10:30", "03/04/2020 11:00"],
    "timestamp-dot": ["13.01.2020 10:30"],
    "bigint-grouped": ["1,234", "12,345,678"],
    "decimal-grouped": ["1,234,567.25", "12.5"],
    "decimal-grouped-p38": ["100" + ",000" * 11 + ".25"],
    "decimal-grouped-p39": ["1" + ",000" * 12 + ".25"],
    "string": ["abc", "1"],
    "no-values": ["", "  ", None],
}


def test_profile_counters_bind_hostile_names(spark):
    """The counter statement takes column names that break naive SQL
    text (a quote, a backtick, formatter braces, a parameter marker,
    non-ASCII, a space), grouped and ungrouped. Each column holds the
    values of one branch of the decision chain, and the decisions over
    its counters are the branch table's. Zero-row ungrouped input still
    yields one all-zero row per column."""
    hostile = ["a'b", "x`y", "{df}", ":c0", "é", "a space"]
    branches = list(_BRANCH_VALUES)
    names = hostile + [f"{b} {hostile[i % len(hostile)]}"
                       for i, b in enumerate(branches[len(hostile):])]
    want = {n: next(e for i, _c, _m, e in _BRANCHES if i == b)
            for n, b in zip(names, branches)}
    depth = max(len(v) for v in _BRANCH_VALUES.values())
    rows = [tuple(vals[r] if r < len(vals) else None for vals in _BRANCH_VALUES.values())
            + (r % 2,) for r in range(depth)]
    df = spark.createDataFrame(rows, [*names, "g"]).repartition(3)

    def decided(counters):
        d = typed_views.decide_profile(counters)
        return dict(zip(d["column_name"].to_pylist(), d["decided_type"].to_pylist()))

    flat = typed_views.profile_counters(df, names).toArrow()
    assert sorted(flat["column_name"].to_pylist()) == sorted(names)
    assert decided(flat) == want
    grouped = typed_views.profile_counters(df, group_cols=["g"]).toArrow()
    assert grouped.column_names[:2] == ["g", "column_name"]
    assert decided(typed_views.merge_profiles(grouped)) == want

    empty = typed_views.profile_counters(df.limit(0), names).toArrow()
    assert sorted(empty["column_name"].to_pylist()) == sorted(names)
    assert set(empty["n_values"].to_pylist()) == {0}
    assert typed_views.profile_counters(
        df.limit(0), group_cols=["g"]).toArrow().num_rows == 0


def test_decimal_p_p_override_all_fraction(spark):
    """decimal(p,p) — zero integer digits — is valid Spark and must be
    accepted as an OVERRIDE (round-7 verdict directive #7; a profile
    never emits it since its integer-digit max is >= 1): values
    within the all-fraction budget cast, everything else NULLs under
    the digit-budget gate (never rounds)."""
    df = _wh(
        spark,
        [("0.99",), (".5",), ("0",), ("1.5",), ("12.34",), ("",)],
        "c string",
    )
    tv = typed_views.typed_view(df, {"c": "decimal(2,2)"})
    assert dict(tv.dtypes)["c"] == "decimal(2,2)"
    vals = [r["c"] for r in tv.collect()]
    from decimal import Decimal

    assert vals[0] == Decimal("0.99")
    assert vals[1] == Decimal("0.50")
    assert vals[2] == Decimal("0.00")
    assert vals[3] is None   # integer digit exceeds the zero budget
    assert vals[4] is None
    assert vals[5] is None   # blank -> NULL


def test_profile_store_sheds_orphaned_jobs(spark, tmp_path):
    """A job that DISAPPEARS from etl_jobs (deregistered load) must
    have its profile rows shed on the next refresh (ADVICE r7) —
    orphaned counters would otherwise keep voting in typing decisions
    forever. Build two loads where load 2's dirty cell flips a column
    to string, drop job 2 from the accounting table, and assert the
    next typed_target decides from job 1's counters alone."""
    from pyspark.sql import functions as F
    from google_sheets_etl_spark.config import EtlJob
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import (
        FixtureSheetSource, SpreadsheetMeta,
    )

    ss1 = "SSA" + "a" * 41
    ss2 = "SSB" + "b" * 41
    src = FixtureSheetSource()
    src.put_sheet(
        SpreadsheetMeta(ss1, "2026-05-01T00:00:00.000Z", "A"),
        "S",
        [["Qty"], ["1"], ["2"]],
    )
    src.put_sheet(
        SpreadsheetMeta(ss2, "2026-05-02T00:00:00.000Z", "B"),
        "S",
        [["Qty"], ["x9"], ["4"]],
    )
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh_orph"), src)
    engine.set_up_accounting()
    engine.find_updated_spreadsheets(now=1000)
    engine.load_updated_spreadsheets([
        EtlJob(ss1, "S", "ledger", {"qty": "Qty"}),
        EtlJob(ss2, "S", "ledger", {"qty": "Qty"}),
    ])
    tv = engine.typed_target("ledger")
    assert dict(tv.dtypes)["qty"] == "string"  # x9 vetoes totality

    # deregister job 2: drop its accounting row, as a replaced /
    # retired load would
    jobs = engine.etl_jobs.read()
    sheet_ids = {
        r["google_spreadsheet_id"]: int(r["id"])
        for r in engine.spreadsheets.read().collect()
    }
    job2 = [
        int(r["id"]) for r in jobs.collect()
        if int(r["spreadsheet_id"]) == sheet_ids[ss2]
    ][0]
    engine.etl_jobs.overwrite(jobs.filter(F.col("id") != job2))

    tv2 = engine.typed_target("ledger")
    assert dict(tv2.dtypes)["qty"] == "bigint"  # orphan counters shed
    remaining = {
        int(r["etl_job_id"])
        for r in engine.profiles.read()
        .filter(F.col("target_table") == "ledger")
        .select("etl_job_id").distinct().collect()
    }
    assert job2 not in remaining

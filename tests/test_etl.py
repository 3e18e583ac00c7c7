"""End-to-end engine tests (SURVEY.md §7.2 minimum slice):
discover → change-filter → load → re-run no-op (hash short-circuit) →
change one cell → exactly that job's partition rewritten."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from google_sheets_etl_spark.config import EtlJob, parse_config
from google_sheets_etl_spark.etl import SheetsEtlEngine
from google_sheets_etl_spark.operators import change_filter
from google_sheets_etl_spark.sources.sheet_source import (
    FixtureSheetSource, SpreadsheetMeta,
)

SHEET_A = [
    ["Name", "Amount Due", "Café"],
    ["alice", "10", "x"],
    ["bob", "20"],            # ragged
    ["carol", "30", "z"],
]
SHEET_B = [
    ["preamble junk"],
    ["Id", "Val"],
    ["1", "a"],
    ["2", "b"],
]


@pytest.fixture()
def source():
    src = FixtureSheetSource()
    src.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-02T00:00:00.000Z", "Sheet A"),
                  "Tab1", SHEET_A)
    src.put_sheet(SpreadsheetMeta("SSB" + "b" * 41, "2026-01-03T00:00:00.000Z", "Sheet B"),
                  "Tab2", SHEET_B)
    return src


@pytest.fixture()
def jobs():
    return [
        EtlJob("SSA" + "a" * 41, "Tab1", "table_a",
               {"name": "Name", "amount": "Amount Due", "cafe": 2}),
        EtlJob("SSB" + "b" * 41, "Tab2", "table_b",
               {"id": "Id", "val": "Val"}, header_row=1, skip_rows=2),
    ]


@pytest.fixture()
def engine(spark, tmp_path, source):
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh"), source)
    eng.set_up_accounting()
    return eng


def test_accounting_idempotent(engine):
    engine.set_up_accounting()  # twice: no error, no data loss (U7)
    assert engine.spreadsheets.read().count() == 0


def test_discovery_and_watermark(engine, source):
    n = engine.find_updated_spreadsheets(now=1000)
    assert n == 2
    meta = engine.spreadsheets.read().orderBy("google_modified").collect()
    assert [m["google_spreadsheet_id"][:3] for m in meta] == ["SSA", "SSB"]
    assert all(m["last_seen"] == 1000 for m in meta)
    # second discovery: watermark cursor includes the last tuple (>=) →
    # re-sees the newest file only, upsert keeps ids stable
    n2 = engine.find_updated_spreadsheets(now=2000)
    assert n2 == 1
    again = {m["google_spreadsheet_id"]: m for m in engine.spreadsheets.read().collect()}
    assert again["SSB" + "b" * 41]["last_seen"] == 2000
    assert again["SSA" + "a" * 41]["last_seen"] == 1000
    assert engine.spreadsheets.read().count() == 2


def test_full_load_cycle(engine, jobs, source, spark):
    engine.find_updated_spreadsheets(now=1000)

    # all jobs extractable on first run
    assert len(engine.filter_extractable(jobs)) == 2
    results = engine.load_updated_spreadsheets(jobs)
    assert [r.skipped_unchanged for r in results] == [False, False]
    assert [r.rows_loaded for r in results] == [3, 2]

    # normalized names + provenance in the target
    ta = engine.target("table_a").read()
    assert set(ta.columns) == {"name", "amount", "cafe", "_origin_row", "_origin_etl_job_id"}
    got = {r["name"]: r for r in ta.collect()}
    assert got["bob"]["cafe"] is None  # ragged → null-pad
    assert got["alice"]["amount"] == "10"

    # header_row=1/skip_rows=2 job
    tb = engine.target("table_b").read().orderBy("_origin_row").collect()
    assert [r["id"] for r in tb] == ["1", "2"]

    # re-run: nothing extractable (up-to-date anti-join drops both)
    assert engine.filter_extractable(jobs) == []

    # touch A's modifiedTime without changing content → extractable,
    # but hash short-circuit skips the data load (U3)
    source.metas["SSA" + "a" * 41] = SpreadsheetMeta(
        "SSA" + "a" * 41, "2026-01-04T00:00:00.000Z", "Sheet A")
    engine.find_updated_spreadsheets(now=3000)
    extract = engine.filter_extractable(jobs)
    assert [j.target_table for j in extract] == ["table_a"]
    res = engine.load_updated_spreadsheets(jobs)
    assert len(res) == 1 and res[0].skipped_unchanged

    # accounting advanced → no longer extractable
    assert engine.filter_extractable(jobs) == []

    # change one cell → real reload, same partition id, new data visible
    new_sheet = [row[:] for row in SHEET_A]
    new_sheet[1][1] = "99"
    source.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-05T00:00:00.000Z", "Sheet A"),
                     "Tab1", new_sheet)
    engine.find_updated_spreadsheets(now=4000)
    res = engine.load_updated_spreadsheets(jobs)
    assert len(res) == 1 and not res[0].skipped_unchanged
    ta2 = engine.target("table_a").read()
    got2 = {r["name"]: r for r in ta2.collect()}
    assert got2["alice"]["amount"] == "99"
    assert ta2.count() == 3  # partition replaced, not appended (U4)
    # table_b untouched
    assert engine.target("table_b").read().count() == 2


def test_error_context_on_missing_column(engine, jobs):
    engine.find_updated_spreadsheets(now=1000)
    bad = EtlJob("SSA" + "a" * 41, "Tab1", "table_bad", {"x": "Nope"})
    with pytest.raises(Exception, match="Required column not found: Nope.*docs.google.com"):
        engine.load_sheet(bad)


def test_verify_oldest(engine, source):
    engine.find_updated_spreadsheets(now=1000)
    assert engine.verify_oldest_spreadsheet(now=5000) is True
    meta = {m["google_spreadsheet_id"]: m for m in engine.spreadsheets.read().collect()}
    # oldest-seen (SSA, tie on last_seen broken by min_by impl) refreshed
    assert max(m["last_seen"] for m in meta.values()) == 5000
    # revoke access → False
    victim = min(meta.values(), key=lambda m: m["last_seen"])["google_spreadsheet_id"]
    del source.metas[victim]
    assert engine.verify_oldest_spreadsheet(now=6000) is False


def test_parse_config():
    cfg = {
        "$schema": "http://example/schema.json",
        "SS1": {"Tab": {"targetTable": "t", "columnMapping": {"a": "A", "b": 1}}},
    }
    jobs = parse_config(cfg)
    assert len(jobs) == 1
    j = jobs[0]
    assert (j.header_row, j.skip_rows) == (0, 1)
    assert j.column_mapping == {"a": "A", "b": 1}


_BAD_OFFSETS = [-1, True, 1.0, "1", None]


@pytest.mark.parametrize(
    "key, skip",
    [pytest.param("skipRows", v, id=str(v)) for v in _BAD_OFFSETS]
    + [pytest.param("headerRow", v, id=f"headerRow-{v}") for v in _BAD_OFFSETS])
def test_skip_rows_must_be_a_non_negative_int(key, skip):
    """A negative ``skipRows`` has no single reading (PHP's
    ``array_slice`` keeps the last rows; the Spark kernel kept every
    row), and a non-integer one is malformed: both are refused, naming
    the entry, not clamped. ``headerRow`` is refused alike."""
    arg = {"skipRows": "skip_rows", "headerRow": "header_row"}[key]
    with pytest.raises(ValueError, match=rf"{key}.*\(spreadsheet SS1 sheet Tab\)"):
        EtlJob("SS1", "Tab", "t", {"a": "A"}, **{arg: skip})
    cfg = {"SS0": {"Ok": {"targetTable": "t", key: 0}},
           "SS1": {"Tab": {"targetTable": "t", key: skip}}}
    with pytest.raises(ValueError, match=rf"{key}.*\(spreadsheet SS1 sheet Tab\)"):
        parse_config(cfg)


@pytest.mark.parametrize("key", ["_rowid", "_Origin_Row", " _origin_etl_job_id"])
def test_mapping_keys_must_not_name_reserved_columns(key):
    """A ``columnMapping`` key that normalizes to the surrogate key, a
    provenance column or the partition column would collide with it in
    the target table: refused, naming the entry."""
    with pytest.raises(ValueError, match=r"reserved.*\(spreadsheet SS1 sheet Tab\)"):
        EtlJob("SS1", "Tab", "t", {"a": "A", key: "B"})
    cfg = {"SS1": {"Tab": {"targetTable": "t", "columnMapping": {key: 0}}}}
    with pytest.raises(ValueError, match=r"reserved.*\(spreadsheet SS1 sheet Tab\)"):
        parse_config(cfg)
    assert EtlJob("SS1", "Tab", "t", {"_origin note": "B"}).column_mapping


# -- U8: schema/tablePrefix qualification (DatabaseAgent.php:53-61,118-125) --

def test_qualified_name_composition(spark, tmp_path, source):
    def eng(**kw):
        return SheetsEtlEngine(spark, str(tmp_path / "whq"), source, **kw)

    # bare: no prefix, no schema, unquoted (reference quirk preserved)
    assert eng().quoted_fully_qualified_table_name("t") == "t"
    # prefix only: prepended, still unquoted
    assert eng(table_prefix="pfx_").quoted_fully_qualified_table_name("t") == "pfx_t"
    # schema only: schema dot-qualifier outside the backticks
    assert eng(schema="other").quoted_fully_qualified_table_name("t") == "other.`t`"
    # both: prefix inside the quotes, schema outside
    assert (eng(schema="other", table_prefix="pfx_")
            .quoted_fully_qualified_table_name("t") == "other.`pfx_t`")


def test_table_path_composition(spark, tmp_path, source):
    wh = str(tmp_path / "whp")
    e = SheetsEtlEngine(spark, wh, source, schema="other", table_prefix="pfx_")
    import os
    assert e.table_path("t") == os.path.join(wh, "other", "pfx_t")
    # accounting tables are qualified the same way (reference applies
    # quotedFullyQualifiedTableName to SPREADSHEETS_TABLE/ETL_JOBS_TABLE)
    assert e.spreadsheets.path == os.path.join(wh, "other", "pfx___meta_spreadsheets")
    assert e.etl_jobs.path == os.path.join(wh, "other", "pfx___meta_etl_jobs")


def test_qualified_engine_end_to_end(spark, tmp_path, source, jobs):
    import os
    wh = str(tmp_path / "whe")
    e = SheetsEtlEngine(spark, wh, source, schema="ns", table_prefix="p_")
    e.set_up_accounting()
    e.find_updated_spreadsheets(now=1000)
    res = e.load_updated_spreadsheets(jobs)
    assert len(res) == 2 and all(not r.skipped_unchanged for r in res)
    # data lands under the schema dir with the prefixed leaf name
    assert os.path.isdir(os.path.join(wh, "ns", "p_table_a"))
    assert e.target("table_a").read().count() == 3
    # an unqualified engine over the same warehouse sees nothing
    plain = SheetsEtlEngine(spark, wh, source)
    assert not os.path.isdir(os.path.join(wh, "table_a"))


def test_rowid_surrogate_key(spark, tmp_path, source, jobs):
    """_rowid parity (DatabaseAgentMysql.php:159): auto-increment ids
    continue from the table max; a partition-replacing reload gets
    fresh ids, like MySQL never reusing deleted auto-increment ids."""
    e = SheetsEtlEngine(spark, str(tmp_path / "whr"), source, rowid=True)
    e.set_up_accounting()
    e.find_updated_spreadsheets(now=1000)
    e.load_updated_spreadsheets(jobs)
    ta = e.target("table_a").read()
    ids = sorted(r["_rowid"] for r in ta.collect())
    assert ids == [1, 2, 3]
    # change a cell -> reload table_a's job partition
    new_sheet = [row[:] for row in SHEET_A]
    new_sheet[1][1] = "99"
    source.put_sheet(
        SpreadsheetMeta("SSA" + "a" * 41, "2026-01-09T00:00:00.000Z", "Sheet A"),
        "Tab1", new_sheet)
    e.find_updated_spreadsheets(now=4000)
    e.load_updated_spreadsheets(jobs)
    ids2 = sorted(r["_rowid"] for r in e.target("table_a").read().collect())
    assert ids2 == [4, 5, 6]  # fresh ids past the previous max


def test_dynamic_overwrite_is_write_local(spark, tmp_path):
    """Two jobs land in one target; rewriting one job's partition must
    not depend on the session's partitionOverwriteMode conf."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    tt = TargetTable(spark, str(tmp_path / "t"))
    mk = lambda job, vals: spark.createDataFrame(
        [(job, i, v) for i, v in enumerate(vals)],
        "_origin_etl_job_id long, _origin_row long, v string")
    tt.overwrite_job_partition(mk(1, ["a", "b"]))
    tt.overwrite_job_partition(mk(2, ["c"]))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        tt.overwrite_job_partition(mk(2, ["d", "e"]))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {(r["_origin_etl_job_id"], r["v"]) for r in tt.read().collect()}
    assert got == {(1, "a"), (1, "b"), (2, "d"), (2, "e")}


def test_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    import os

    from google_sheets_etl_spark.plans.compaction import (
        compact_partitions, partition_file_stats,
    )

    tbl = str(tmp_path / "ctbl")
    schema = "k long, job string, v string"
    # job=a: 8 tiny files (fragmented); job=b: 1 file (healthy)
    frag = spark.createDataFrame(
        [(i, "a", f"v{i}") for i in range(64)], schema
    ).repartition(8)
    frag.write.partitionBy("job").parquet(tbl)
    spark.createDataFrame([(100, "b", "x")], schema).coalesce(1) \
        .write.mode("append").partitionBy("job").parquet(tbl)

    before = {n: (f, b) for n, f, b in partition_file_stats(tbl)}
    assert before["job=a"][0] == 8 and before["job=b"][0] == 1
    b_files = sorted(os.listdir(os.path.join(tbl, "job=b")))
    content_before = sorted(
        map(tuple, spark.read.parquet(tbl).collect()))

    assert compact_partitions(spark, tbl, "job", max_files=4) == ["a"]

    after = {n: (f, b) for n, f, b in partition_file_stats(tbl)}
    assert after["job=a"][0] == 1          # compacted to one file
    assert sorted(os.listdir(os.path.join(tbl, "job=b"))) == b_files  # untouched
    assert sorted(map(tuple, spark.read.parquet(tbl).collect())) \
        == content_before                   # bit-identical content
    # healthy table: second run is a no-op
    assert compact_partitions(spark, tbl, "job", max_files=4) == []


def test_empty_reload_clears_stale_partition(spark, tmp_path, source):
    """U4 DELETE semantics: a sheet whose data rows were ALL deleted
    must empty its target partition — dynamic overwrite of an empty
    frame replaces nothing, and accounting's hash short-circuit would
    otherwise serve the stale rows forever (found in review)."""
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_empty"), source)
    eng.set_up_accounting()
    jobs = [EtlJob("SSA" + "a" * 41, "Tab1", "table_a",
                   {"name": "Name", "amount": "Amount Due"})]
    eng.find_updated_spreadsheets()
    r1 = eng.load_updated_spreadsheets(jobs)
    assert r1[0].rows_loaded == 3
    assert eng.target("table_a").read().count() == 3

    # header survives, every data row deleted
    source.put_sheet(
        SpreadsheetMeta("SSA" + "a" * 41, "2026-02-01T00:00:00.000Z", "Sheet A"),
        "Tab1", [["Name", "Amount Due", "Café"]],
    )
    eng.find_updated_spreadsheets()
    r2 = eng.load_updated_spreadsheets(jobs)
    assert not r2[0].skipped_unchanged and r2[0].rows_loaded == 0
    tbl = eng.target("table_a")
    assert (not tbl.exists()) or tbl.read().count() == 0
    # and the run after THAT hash-short-circuits without resurrecting
    r3 = eng.load_updated_spreadsheets(jobs)
    assert r3 == [] or r3[0].skipped_unchanged


def test_exists_false_for_success_only_dir(spark, tmp_path):
    """A _SUCCESS-only directory (empty first write) is NOT a table:
    counting it as one makes every later read crash on schema
    inference (found in review)."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    d = tmp_path / "success_only"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    assert TargetTable(spark, str(d)).exists() is False


def test_after_cursor_matches_source_residual_filter(spark):
    """S2's DataFrame form and the sources' Python/Drive-query forms
    implement ONE contract: strictly-newer OR same-timestamp-and-id>=
    cursor. Pin the DataFrame operator against the fixture source's
    in-Python filter so the three sites cannot drift silently."""
    from google_sheets_etl_spark.operators.watermark import after_cursor

    t0, t1 = "2026-01-01T00:00:00Z", "2026-01-02T00:00:00Z"
    rows = [
        ("a", t0), ("b", t0), ("c", t0), ("d", t1),
    ]
    files = spark.createDataFrame(rows, "id string, modifiedTime string")
    got = sorted(r["id"] for r in after_cursor(files, t0, "b").collect())
    assert got == ["b", "c", "d"]  # 'a' is behind the tuple cursor

    src = FixtureSheetSource()
    for i, ts in rows:
        src.put_sheet(SpreadsheetMeta(i, ts, i), "S", [["H"]])
    metas = src.list_spreadsheets(t0, "b", count=10)
    assert sorted(m.id for m in metas) == got


def test_crash_between_manifest_and_accounting_heals_to_fully_new(
    spark, tmp_path, source, jobs, monkeypatch
):
    """U6 crash injection, window 2: kill AFTER the data write + commit
    manifest rename, BEFORE the accounting apply. A fresh engine must
    replay the manifest: accounting lands fully-new WITHOUT re-reading
    the sheet, and the next pass change-filters the job out."""
    from google_sheets_etl_spark.plans.state_table import StateTable

    wh = str(tmp_path / "wh")
    eng = SheetsEtlEngine(spark, wh, source)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=100)
    eng.load_updated_spreadsheets(jobs)
    old_jobs = {
        (r["spreadsheet_id"], r["sheet_name"]): r["raw_columns_rows_hash"]
        for r in eng.etl_jobs.read().collect()
    }

    # change a cell, rediscover, then crash inside the accounting apply
    changed = [row[:] for row in SHEET_A]
    changed[1][1] = "99"
    source.put_sheet(
        SpreadsheetMeta("SSA" + "a" * 41, "2026-01-04T00:00:00.000Z", "Sheet A"),
        "Tab1", changed,
    )
    eng.find_updated_spreadsheets(now=200)
    real_upsert = StateTable.upsert

    def crash(self, updates, keys):
        raise RuntimeError("injected crash before accounting apply")

    monkeypatch.setattr(StateTable, "upsert", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        # continue_on_error=False: these tests simulate PROCESS death
        # mid-transaction; per-job exception isolation (the default)
        # would catch the injected error, which a real crash cannot be
        eng.load_updated_spreadsheets(jobs, continue_on_error=False)
    monkeypatch.setattr(StateTable, "upsert", real_upsert)

    # torn state on disk: data + manifest new, accounting old
    import os

    assert any(
        n.startswith("commit_") for n in os.listdir(os.path.join(wh, "_commits"))
    )
    torn = SheetsEtlEngine(spark, wh, source)
    assert {
        (r["spreadsheet_id"], r["sheet_name"]): r["raw_columns_rows_hash"]
        for r in torn.etl_jobs.read().collect()
    } == old_jobs

    # fresh startup heals: accounting fully-new, manifests cleared,
    # and the job is no longer selected for extraction
    healed = SheetsEtlEngine(spark, wh, source)
    healed.set_up_accounting()
    new_jobs = {
        (r["spreadsheet_id"], r["sheet_name"]): r["raw_columns_rows_hash"]
        for r in healed.etl_jobs.read().collect()
    }
    changed_key = next(
        k for k in old_jobs if k[1] == "Tab1"
    )
    assert new_jobs[changed_key] != old_jobs[changed_key]
    assert not any(
        n.startswith("commit_") for n in os.listdir(os.path.join(wh, "_commits"))
    )
    assert healed.filter_extractable(jobs) == []
    tgt = healed.target("table_a").read()
    assert tgt.filter("name = 'alice'").first()["amount"] == "99"


def test_crash_before_manifest_leaves_fully_old_then_retries(
    spark, tmp_path, source, jobs, monkeypatch
):
    """U6 crash injection, window 1: kill AFTER the data write, BEFORE
    the manifest rename. Accounting must read fully-OLD (the
    transaction never committed), and the next run re-selects the job
    and completes it idempotently."""
    wh = str(tmp_path / "wh")
    eng = SheetsEtlEngine(spark, wh, source)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=100)
    eng.load_updated_spreadsheets(jobs)
    old_jobs = {
        (r["spreadsheet_id"], r["sheet_name"]): r["raw_columns_rows_hash"]
        for r in eng.etl_jobs.read().collect()
    }

    changed = [row[:] for row in SHEET_A]
    changed[1][1] = "77"
    source.put_sheet(
        SpreadsheetMeta("SSA" + "a" * 41, "2026-01-05T00:00:00.000Z", "Sheet A"),
        "Tab1", changed,
    )
    eng.find_updated_spreadsheets(now=300)

    def crash(self, *a, **k):
        raise RuntimeError("injected crash before manifest rename")

    monkeypatch.setattr(SheetsEtlEngine, "_commit_job", crash)
    with pytest.raises(RuntimeError, match="before manifest"):
        eng.load_updated_spreadsheets(jobs, continue_on_error=False)
    monkeypatch.undo()

    # fully-old accounting: no manifest, hashes unchanged, the job is
    # still selected for extraction
    recovered = SheetsEtlEngine(spark, wh, source)
    recovered.set_up_accounting()
    assert {
        (r["spreadsheet_id"], r["sheet_name"]): r["raw_columns_rows_hash"]
        for r in recovered.etl_jobs.read().collect()
    } == old_jobs
    still = recovered.filter_extractable(jobs)
    assert [(j.google_spreadsheet_id, j.sheet_name) for j in still] == [
        ("SSA" + "a" * 41, "Tab1")
    ]
    # the retry completes the transaction (idempotent partition rewrite)
    results = recovered.load_updated_spreadsheets(jobs)
    assert [r.skipped_unchanged for r in results] == [False]
    tgt = recovered.target("table_a").read()
    assert tgt.filter("name = 'alice'").first()["amount"] == "77"
    assert tgt.count() == 3  # partition rewritten, not appended


def test_probe_refresh_never_advances_discovery_watermark(
    spark, tmp_path, source, jobs,
):
    """Round-4 review fix: the O4 probe must refresh last_seen with
    the STORED google_modified — recording the probe's fresh
    modifiedTime would advance the discovery watermark past files
    never yet listed, silently skipping them."""
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_probe"), source)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=100)
    from google_sheets_etl_spark.operators import watermark as wm

    before, _ = wm.greatest_modified(eng.spreadsheets.snapshot())
    # the probed (longest-unseen) file gets edited FAR in the future,
    # before discovery has listed that edit
    ssa = "SSA" + "a" * 41
    source.put_sheet(
        SpreadsheetMeta(ssa, "2027-12-31T00:00:00.000Z", "Sheet A"),
        "Tab1", SHEET_A,
    )
    assert eng.verify_oldest_spreadsheet(now=200) is True
    after, _ = wm.greatest_modified(eng.spreadsheets.snapshot())
    assert after == before  # watermark untouched; discovery owns it


def test_batch_load_isolates_per_job_failures(spark, tmp_path, source, jobs):
    """Round-4 review fix: one sheet with a broken header must not
    wedge jobs ordered after it; the failure is recorded and the rest
    of the batch loads."""
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_iso"), source)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=100)
    broken = EtlJob(
        "SSA" + "a" * 41, "Tab1", "iso_broken",
        {"name": "No Such Header"},
    )
    ok = jobs[1]  # SSB job, ordered after the broken one
    results = eng.load_updated_spreadsheets([broken, ok])
    assert [r.job.target_table for r in results] == [ok.target_table]
    assert len(eng.last_load_failures) == 1
    failed_job, exc = eng.last_load_failures[0]
    assert failed_job.target_table == "iso_broken"
    assert "No Such Header" in str(exc)
    # the healthy sheet actually landed
    assert eng.target(ok.target_table).read().count() > 0


# -- the batched load pass ---------------------------------------------------


def _sheet(i: int, modified: str) -> tuple[SpreadsheetMeta, list[list[str]]]:
    gid = f"SSP{i:02d}" + "p" * 39
    rows = [["Name", "Qty"], [f"n{i}", modified[:10]], [f"m{i}", "1"]]
    return SpreadsheetMeta(gid, modified, f"P{i}"), rows


def test_load_pass_job_count_flat_in_changed_sheets(spark, tmp_path, jobs_started):
    """A pass costs the same Spark jobs, and the same stages, for 2 and
    for 6 changed sheets of one target table."""
    src = FixtureSheetSource()
    jobs = []
    for i in range(6):
        meta, rows = _sheet(i, "2026-03-01T00:00:00.000Z")
        src.put_sheet(meta, "S", rows)
        jobs.append(EtlJob(meta.id, "S", "flat", {"name": "Name", "qty": 1}))
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_flat"), src)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)
    eng.load_updated_spreadsheets(jobs)

    tracker = spark.sparkContext.statusTracker()
    counts, stages = [], []
    for n, stamp in ((2, "2026-03-02T00:00:00.000Z"), (6, "2026-03-03T00:00:00.000Z")):
        for i in range(n):
            meta, rows = _sheet(i, stamp)
            src.put_sheet(meta, "S", rows)
        eng.find_updated_spreadsheets(now=2)
        group = f"load-pass-{n}-changed"
        counts.append(jobs_started(group, lambda: eng.load_updated_spreadsheets(jobs)))
        assert not eng.last_load_failures
        stages.append(sum(len(tracker.getJobInfo(j).stageIds)
                          for j in tracker.getJobIdsForGroup(group)))
    assert counts[0] == counts[1] > 0
    assert stages[0] == stages[1] >= counts[0]
    assert eng.target("flat").read().count() == 12


def test_one_pass_into_one_table_equals_serial_passes(spark, tmp_path):
    """Two jobs with different mappings into one table: one batched
    write reads back (rows and _rowid) as two serial passes do."""
    src = FixtureSheetSource()
    src.put_sheet(SpreadsheetMeta("SSX" + "x" * 41, "2026-01-02T00:00:00.000Z", "X"),
                  "S", [["A", "B"], ["a1", "b1"], ["a2"]])
    src.put_sheet(SpreadsheetMeta("SSY" + "y" * 41, "2026-01-03T00:00:00.000Z", "Y"),
                  "S", [["D", "A"], ["d1", "a3"], [" d2 ", "a4"], ["d3", "a5"]])
    jx = EtlJob("SSX" + "x" * 41, "S", "mixed", {"a": "A", "b": "B"})
    jy = EtlJob("SSY" + "y" * 41, "S", "mixed", {"a": "A", "d": 0})

    def table(name, passes):
        eng = SheetsEtlEngine(spark, str(tmp_path / name), src, rowid=True)
        eng.set_up_accounting()
        eng.find_updated_spreadsheets(now=1)
        results = [r for p in passes for r in eng.load_updated_spreadsheets(p)]
        assert [(r.etl_job_id, r.rows_loaded) for r in results] == [(1, 2), (2, 3)]
        return sorted(tuple(sorted(r.asDict().items()))
                      for r in eng.target("mixed").read().collect())

    batched = table("wh_batched", [[jx, jy]])
    assert batched == table("wh_serial", [[jx], [jy]])
    assert len(batched) == 5
    assert {dict(r)["d"] for r in batched} == {None, "d1", "d2", "d3"}


def test_rowid_offsets_follow_job_ids_not_job_order(spark, tmp_path):
    """A pass reloading two jobs of one table numbers ``_rowid`` past
    the table max in job-id order, whatever the order of its job list."""
    src = FixtureSheetSource()
    jobs = []
    for i in range(2):
        meta, rows = _sheet(i, "2026-02-01T00:00:00.000Z")
        src.put_sheet(meta, "S", rows)
        jobs.append(EtlJob(meta.id, "S", "t", {"name": "Name"}))
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_order"), src, rowid=True)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)
    assert [r.etl_job_id for r in eng.load_updated_spreadsheets(jobs)] == [1, 2]
    for i in range(2):
        meta, rows = _sheet(i, "2026-02-02T00:00:00.000Z")
        src.put_sheet(meta, "S", rows)
    eng.find_updated_spreadsheets(now=2)
    eng.load_updated_spreadsheets(jobs[::-1])
    assert sorted((r["_rowid"], r["_origin_etl_job_id"], r["_origin_row"])
                  for r in eng.target("t").read().collect()) == [
        (5, 1, 0), (6, 1, 1), (7, 2, 0), (8, 2, 1)]


def test_new_jobs_get_consecutive_ids_past_pending_manifest(
    engine, jobs, source,
):
    """Never-seen sheets of one pass get max+1, max+2 in job order,
    where the max counts a manifest committed but not yet applied."""
    engine.find_updated_spreadsheets(now=1)
    [first] = engine.load_updated_spreadsheets(jobs[:1])
    assert first.etl_job_id == 1
    ssb = engine.spreadsheets.read().filter(
        "google_spreadsheet_id LIKE 'SSB%'").first()
    engine._commit_job(2, ssb["id"], jobs[1], ssb["google_modified"], "pending")

    new = []
    for i, stamp in ((0, "2026-01-06T00:00:00.000Z"), (1, "2026-01-07T00:00:00.000Z")):
        meta, rows = _sheet(i, stamp)
        source.put_sheet(meta, "S", rows)
        new.append(EtlJob(meta.id, "S", "table_new", {"name": "Name"}))
    engine.find_updated_spreadsheets(now=2)
    results = engine.load_updated_spreadsheets(new)
    assert [r.etl_job_id for r in results] == [3, 4]
    assert sorted(r["id"] for r in engine.etl_jobs.read().collect()) == [1, 2, 3, 4]


def test_header_trim_matches_spark_trim(spark, tmp_path):
    """Headers resolve on the driver with F.trim's rule (U+0020 only):
    a tab-led header does not match, a space-padded one does."""
    from google_sheets_etl_spark.operators import rows as K
    from google_sheets_etl_spark.operators.rows import RequiredColumnNotFound

    raw = [["\tName", " Name ", "Name ", "\nQty"], ["t", "s", "n", "q"]]
    header = K.raw_header(raw, 0)
    assert header == ["\tName", "Name", "Name ", "\nQty"]
    sheet = spark.createDataFrame(list(enumerate(raw)), "row_idx long, cells array<string>")
    assert K.header_row(K.trim_cells(sheet), 0) == header
    with pytest.raises(RequiredColumnNotFound, match="Header row not found: 2"):
        K.raw_header(raw, 2)

    src = FixtureSheetSource()
    src.put_sheet(SpreadsheetMeta("SST" + "t" * 41, "2026-01-02T00:00:00.000Z", "T"), "S", raw)
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_trim"), src)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)
    ok = EtlJob("SST" + "t" * 41, "S", "trim_ok", {"name": "Name"})
    bad = EtlJob("SST" + "t" * 41, "S", "trim_bad", {"qty": "Qty"})
    eng.load_updated_spreadsheets([ok])
    assert [r["name"] for r in eng.target("trim_ok").read().collect()] == ["s"]
    with pytest.raises(RequiredColumnNotFound, match="Required column not found: Qty"):
        eng.load_sheet(bad)


def test_failed_table_write_fails_only_its_jobs(
    engine, jobs, monkeypatch,
):
    """One target table's write raises: its jobs fail and commit no
    manifest; the other table's jobs load; the next pass retries."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    real_write = TargetTable.overwrite_job_partition

    def write(self, data, **kw):
        if self.path.endswith("table_a"):
            raise OSError("injected table_a write failure")
        return real_write(self, data, **kw)

    committed = []
    real_commit = SheetsEtlEngine._commit_job

    def commit(self, job_id, *a):
        committed.append(job_id)
        return real_commit(self, job_id, *a)

    monkeypatch.setattr(TargetTable, "overwrite_job_partition", write)
    monkeypatch.setattr(SheetsEtlEngine, "_commit_job", commit)
    engine.find_updated_spreadsheets(now=1)
    results = engine.load_updated_spreadsheets(jobs)
    assert [r.job.target_table for r in results] == ["table_b"]
    assert [(j.target_table, str(e)) for j, e in engine.last_load_failures] == [
        ("table_a", "injected table_a write failure")]
    assert committed == [results[0].etl_job_id]
    assert [r["sheet_name"] for r in engine.etl_jobs.read().collect()] == ["Tab2"]

    monkeypatch.setattr(TargetTable, "overwrite_job_partition", real_write)
    retry = engine.load_updated_spreadsheets(jobs)
    assert [r.job.target_table for r in retry] == ["table_a"]
    assert engine.target("table_a").read().count() == 3


def test_duplicate_job_keys_rejected(engine, jobs):
    with pytest.raises(ValueError, match="SSA.* sheet Tab1"):
        engine.load_updated_spreadsheets([jobs[0], jobs[1], jobs[0]])


def test_duplicate_accounting_rows_fail_only_their_job(engine, jobs, source):
    """A file recorded twice under two surrogate ids fails its job; the
    later jobs of the pass keep their own ids and partitions. A file
    recorded twice under one id loads, with its newest modified time."""
    meta, rows = _sheet(0, "2026-01-04T00:00:00.000Z")
    source.put_sheet(meta, "S", rows)
    job_c = EtlJob(meta.id, "S", "table_c", {"name": "Name"})
    engine.find_updated_spreadsheets(now=1)
    current = engine.spreadsheets.read()
    ssa = current.filter("google_spreadsheet_id LIKE 'SSA%'")
    ssb = current.filter("google_spreadsheet_id LIKE 'SSB%'")
    engine.spreadsheets.overwrite(
        current.unionByName(ssa.withColumn("id", F.lit(99).cast("long")))
        .unionByName(ssb.withColumn("google_modified", F.lit("2026-01-01T00:00:00.000Z"))))

    results = engine.load_updated_spreadsheets([jobs[0], jobs[1], job_c])
    [(failed, exc)] = engine.last_load_failures
    assert failed is jobs[0]
    assert "found 2 (spreadsheet ids [1, 99]" in str(exc)
    assert [(r.job.target_table, r.etl_job_id) for r in results] == [
        ("table_b", 1), ("table_c", 2)]
    sids = {r["google_spreadsheet_id"][:3]: r["id"]
            for r in engine.spreadsheets.read().collect()}
    assert sorted((r["id"], r["spreadsheet_id"], r["google_modified"])
                  for r in engine.etl_jobs.read().collect()) == [
        (1, sids["SSB"], "2026-01-03T00:00:00.000Z"),
        (2, sids["SSP"], "2026-01-04T00:00:00.000Z")]
    for table, job_id in (("table_b", 1), ("table_c", 2)):
        assert {r["_origin_etl_job_id"]
                for r in engine.target(table).read().collect()} == {job_id}
    assert not engine.target("table_a").exists()

    # discovery keeps both ids of the file (and stamps both), so its
    # job keeps failing rather than guessing
    source.put_sheet(SpreadsheetMeta(jobs[0].google_spreadsheet_id,
                                     "2026-01-08T00:00:00.000Z", "Sheet A"),
                     "Tab1", SHEET_A)
    engine.find_updated_spreadsheets(now=2)
    assert sorted((r["id"], r["google_modified"]) for r in engine.spreadsheets.read()
                  .filter("google_spreadsheet_id LIKE 'SSA%'").collect()) == [
        (1, "2026-01-08T00:00:00.000Z"), (99, "2026-01-08T00:00:00.000Z")]
    assert engine.load_updated_spreadsheets(jobs[:1]) == []
    assert "found 2" in str(engine.last_load_failures[0][1])


def test_new_job_ids_stable_across_crash_after_table_write(
    spark, tmp_path, monkeypatch,
):
    """New jobs of two interleaved tables: a crash after the second
    table's write, before its manifest, leaves the first table
    committed; the retry gives the second table's job the same id, so
    its overwrite replaces what had landed instead of duplicating it."""
    src = FixtureSheetSource()
    jobs = []
    for i, table in enumerate(("t1", "t2", "t1")):
        meta, rows = _sheet(i, f"2026-02-0{i + 1}T00:00:00.000Z")
        src.put_sheet(meta, "S", rows)
        jobs.append(EtlJob(meta.id, "S", table, {"name": "Name"}))
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_crash"), src)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)

    real_commit = SheetsEtlEngine._commit_job

    def commit(self, job_id, spreadsheet_id, job, *a):
        if job.target_table == "t2":
            raise RuntimeError("injected crash before t2 manifest")
        return real_commit(self, job_id, spreadsheet_id, job, *a)

    monkeypatch.setattr(SheetsEtlEngine, "_commit_job", commit)
    with pytest.raises(RuntimeError, match="t2 manifest"):
        eng.load_updated_spreadsheets(jobs, continue_on_error=False)
    monkeypatch.undo()
    assert {r["_origin_etl_job_id"] for r in eng.target("t2").read().collect()} == {3}

    retry = eng.load_updated_spreadsheets(jobs)
    assert [(r.job.target_table, r.etl_job_id) for r in retry] == [("t2", 3)]
    assert eng.target("t2").read().count() == 2
    assert sorted(r["id"] for r in eng.etl_jobs.read().collect()) == [1, 2, 3]


def test_failed_table_write_drops_its_landed_new_partitions(
    engine, jobs, monkeypatch,
):
    """A table write that raises after its data landed: the pass
    deletes its new jobs' partitions, so the retry, which gives them
    other ids (a later table committed a higher one), does not
    duplicate their rows."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    real_write = TargetTable.overwrite_job_partition

    def write(self, data, **kw):
        real_write(self, data, **kw)
        if self.path.endswith("table_a"):
            raise OSError("injected failure after table_a landed")

    monkeypatch.setattr(TargetTable, "overwrite_job_partition", write)
    engine.find_updated_spreadsheets(now=1)
    results = engine.load_updated_spreadsheets(jobs)
    assert [(r.job.target_table, r.etl_job_id) for r in results] == [("table_b", 2)]
    assert not engine.target("table_a").exists()

    monkeypatch.setattr(TargetTable, "overwrite_job_partition", real_write)
    retry = engine.load_updated_spreadsheets(jobs)
    assert [(r.job.target_table, r.etl_job_id) for r in retry] == [("table_a", 3)]
    assert engine.target("table_a").read().count() == 3


def test_failed_zero_row_delete_lands_no_new_data(spark, tmp_path, monkeypatch):
    """One table holds a sheet shrunk to its header and a new sheet. The
    shrunk sheet's partition delete raises: both jobs fail, the new
    sheet's rows never land, and the retry loads each sheet once."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    src = FixtureSheetSource()
    meta_x, rows_x = _sheet(0, "2026-02-01T00:00:00.000Z")
    src.put_sheet(meta_x, "S", rows_x)
    job_x = EtlJob(meta_x.id, "S", "t", {"name": "Name"})
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_delete"), src)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)
    [loaded_x] = eng.load_updated_spreadsheets([job_x])

    src.put_sheet(SpreadsheetMeta(meta_x.id, "2026-02-02T00:00:00.000Z", meta_x.name),
                  "S", rows_x[:1])
    meta_y, rows_y = _sheet(1, "2026-02-03T00:00:00.000Z")
    src.put_sheet(meta_y, "S", rows_y)
    job_y = EtlJob(meta_y.id, "S", "t", {"name": "Name"})
    eng.find_updated_spreadsheets(now=2)

    real_delete = TargetTable.delete_job_partition

    def delete(self, job_id):
        if job_id == loaded_x.etl_job_id:
            raise OSError("injected delete failure")
        return real_delete(self, job_id)

    monkeypatch.setattr(TargetTable, "delete_job_partition", delete)
    assert eng.load_updated_spreadsheets([job_x, job_y]) == []
    assert [j for j, _e in eng.last_load_failures] == [job_x, job_y]
    assert sorted(r["name"] for r in eng.target("t").read().collect()) == ["m0", "n0"]
    assert not os.listdir(eng._commits_dir())

    monkeypatch.setattr(TargetTable, "delete_job_partition", real_delete)
    retry = eng.load_updated_spreadsheets([job_x, job_y])
    assert [(r.rows_loaded, r.etl_job_id) for r in retry] == [(0, 1), (2, 2)]
    assert sorted(r["name"] for r in eng.target("t").read().collect()) == ["m1", "n1"]


def test_load_pass_error_not_masked_and_failures_reset(engine, jobs, monkeypatch):
    """A pass that raises resets ``last_load_failures`` and reports its
    own error even when the closing accounting apply fails too."""
    engine.find_updated_spreadsheets(now=1)
    engine.last_load_failures = [("stale", None)]
    real_apply = SheetsEtlEngine._apply_pending_commits
    calls = []

    def apply(self):
        calls.append(1)
        if len(calls) > 1:
            raise OSError("injected apply failure")
        return real_apply(self)

    def lookups(*a):
        raise RuntimeError("injected metadata query failure")

    monkeypatch.setattr(SheetsEtlEngine, "_apply_pending_commits", apply)
    monkeypatch.setattr(change_filter, "job_lookups", lookups)
    with pytest.raises(RuntimeError, match="metadata query"):
        engine.load_updated_spreadsheets(jobs)
    assert len(calls) == 2
    assert engine.last_load_failures == []


def test_warm_cycles_start_only_their_commits_and_writes(engine, jobs, source, jobs_started):
    """On a warmed engine the metadata plane starts no Spark job: the
    metadata questions are answered and the accounting commits written
    on the driver. A no-change cycle starts no job, and a cycle that
    reloads one sheet starts one, the target write."""
    def cycle():
        engine.find_updated_spreadsheets(now=5)
        return engine.load_updated_spreadsheets(jobs)

    engine.find_updated_spreadsheets(now=1)
    engine.load_updated_spreadsheets(jobs)
    cycle()
    assert jobs_started("no-change-cycle", cycle) == 0

    changed = [row[:] for row in SHEET_A]
    changed[1][1] = "99"
    source.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-09T00:00:00.000Z", "Sheet A"),
                     "Tab1", changed)
    assert jobs_started("one-sheet-cycle", cycle) == 1
    assert engine.target("table_a").read().filter("name = 'alice'").first()["amount"] == "99"
    assert engine.filter_extractable(jobs) == []


def test_warm_typed_target_starts_only_the_reads_jobs(engine, jobs, jobs_started):
    """With no stale profile, the typed view's decision is driver work,
    and the target's read takes its schema from the table's sidecar:
    reading the table and building ``typed_target`` start no Spark
    job."""
    engine.find_updated_spreadsheets(now=1)
    engine.load_updated_spreadsheets(jobs)
    engine.typed_target("table_a")
    read = jobs_started("table-read", lambda: engine.target("table_a").read())
    typed = jobs_started("typed-target", lambda: engine.typed_target("table_a"))
    assert engine.last_profiled_job_ids == []
    assert read == 0
    assert typed == 0


def test_typed_target_with_a_stale_load_starts_only_the_counters_jobs(
        engine, jobs, source, spark, jobs_started):
    """A typed view after one sheet's reload profiles that load: its
    only Spark jobs are the counters' collect, none a footer merge of
    the target."""
    from google_sheets_etl_spark.operators import typed_views

    engine.find_updated_spreadsheets(now=1)
    engine.load_updated_spreadsheets(jobs)
    engine.typed_target("table_a")
    changed = [row[:] for row in SHEET_A]
    changed[1][1] = "99"
    source.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-09T00:00:00.000Z", "Sheet A"),
                     "Tab1", changed)
    engine.find_updated_spreadsheets(now=5)
    engine.load_updated_spreadsheets(jobs)

    n = jobs_started("typed-target-stale", lambda: engine.typed_target("table_a"))
    assert len(engine.last_profiled_job_ids) == 1
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s).name
              for j in tracker.getJobIdsForGroup("typed-target-stale")
              for s in tracker.getJobInfo(j).stageIds]
    # the counters are collected in etl.py; a footer merge is a
    # "parquet at ..." job
    assert stages and all(s.startswith("collect at") and "etl.py" in s
                          for s in stages), stages
    slice_df = engine.last_profile_slice_df
    alone = jobs_started("counters-alone", lambda: typed_views.profile_counters(
        slice_df, [c for c in slice_df.columns if not c.startswith("_")],
        group_cols=["_origin_etl_job_id"]).collect())
    assert n == alone


def test_typed_target_reads_the_target_once(engine, jobs, monkeypatch):
    """``typed_target`` reads the target table once per call, whether
    it profiles a stale load (the stale slice is cut from that read)
    or not."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    engine.find_updated_spreadsheets(now=1)
    engine.load_updated_spreadsheets(jobs)
    reads = []
    real = TargetTable.read

    def read(self):
        reads.append(self.path)
        return real(self)

    monkeypatch.setattr(TargetTable, "read", read)
    engine.typed_target("table_a")
    assert len(engine.last_profiled_job_ids) == 1
    assert len(reads) == 1
    engine.typed_target("table_a")
    assert engine.last_profiled_job_ids == []
    assert len(reads) == 2


def test_typed_target_without_profile_store(spark, tmp_path, source, jobs):
    """A warehouse whose ``__meta_profiles`` was never created gets
    every load profiled by the first typed view: the full-table
    decision."""
    from google_sheets_etl_spark.operators import typed_views

    eng = SheetsEtlEngine(spark, str(tmp_path / "wh_noprof"), source)
    eng.spreadsheets.create_if_not_exists()
    eng.etl_jobs.create_if_not_exists()
    eng.find_updated_spreadsheets(now=1)
    eng.load_updated_spreadsheets(jobs)
    assert not eng.profiles.exists()
    tv = eng.typed_target("table_a")
    assert eng.profiles.exists()
    assert len(eng.last_profiled_job_ids) == 1
    stored = eng.target("table_a").read()
    full = typed_views.decide_types(stored, ["name", "amount", "cafe"])
    assert full["amount"] == "bigint"
    assert tv.dtypes == typed_views.typed_view(stored, full).dtypes
    assert sorted(tv.collect()) == sorted(typed_views.typed_view(stored, full).collect())


# -- the Arrow metadata operators against their Spark statements ---------------

_STAMPS = [None, "2026-01-01T00:00:00Z", "2026-01-02T00:00:00Z", "2026-01-03T00:00:00Zé"]


def _accounting_state(seed: int):
    """Seeded accounting rows with the cases the metadata queries must
    agree on: null ``google_modified`` on either side, files discovery
    never saw, jobs never loaded, one file under two surrogate ids, two
    ``etl_jobs`` rows for one sheet, ties on ``google_modified``, and
    null ``last_seen``."""
    rnd = random.Random(seed)
    gids = [f"g{i}" for i in range(7)]  # g5, g6: never discovered
    spreadsheets, sid = [], 0
    for i, g in enumerate(gids[:5]):
        for _ in range(2 if i == 0 else rnd.choice([1, 1, 1, 2])):  # g0: two ids
            sid += 1
            # g1 and g2 tie on the greatest stamp; g3 has none
            stamp = {1: _STAMPS[-1], 2: _STAMPS[-1], 3: None}.get(i, rnd.choice(_STAMPS))
            spreadsheets.append((sid, g, stamp, g.upper(), rnd.choice([None, 3, 5, 5, 8])))
    etl_jobs, eid = [], 0
    forced = {(1, "S1"): 1, (2, "S1"): 2, (sid + 1, "S1"): 1}
    for s in range(1, sid + 2):  # sid + 1: a spreadsheet id discovery never gave
        for sheet in ("S1", "S2"):
            for _ in range(forced.get((s, sheet), rnd.choice([0, 1, 1, 1, 2]))):
                eid += 1
                stamp = None if eid == 1 else rnd.choice(_STAMPS)
                etl_jobs.append((eid, s, sheet, "t", stamp, f"h{eid}"))
    configured = [(pos, g, sheet) for pos, (g, sheet) in
                  enumerate((g, sheet) for g in gids for sheet in ("S1", "S2", "S3"))]
    return spreadsheets, etl_jobs, configured


_CONFIGURED = "pos int, google_spreadsheet_id string, sheet_name string"


@pytest.mark.parametrize("seed", range(6))
def test_arrow_job_lookups_equal_reference_statement(spark, seed):
    """``change_filter.job_lookups`` over Arrow snapshots returns, per
    ``pos``, the rows of the reference's left-join statement run by
    Spark over the same rows; ``filter_extractable`` keeps exactly the
    configured rows with an extractable lookup."""
    from google_sheets_etl_spark.etl import ETL_JOBS_SCHEMA, SPREADSHEETS_SCHEMA
    from google_sheets_etl_spark.session import arrow_rows, local_frame

    ss, ej, conf = _accounting_state(seed)
    tables = {"spreadsheets": arrow_rows(ss, SPREADSHEETS_SCHEMA),
              "etl_jobs": arrow_rows(ej, ETL_JOBS_SCHEMA),
              "configured": arrow_rows(conf, _CONFIGURED)}
    for name, t in tables.items():
        local_frame(spark, t).createOrReplaceTempView(f"lookup_{name}")
    cols = ["pos", "google_spreadsheet_id", "sheet_name", "spreadsheet_id", "seen_modified",
            "etl_job_id", "loaded_modified", "raw_columns_rows_hash", "extractable"]
    want = spark.sql("""
        SELECT c.pos, c.google_spreadsheet_id, c.sheet_name,
               s.id AS spreadsheet_id, s.google_modified AS seen_modified,
               e.id AS etl_job_id, e.google_modified AS loaded_modified,
               e.raw_columns_rows_hash,
               NOT coalesce(e.google_modified = s.google_modified, false) AS extractable
        FROM lookup_configured c
        LEFT JOIN lookup_spreadsheets s ON s.google_spreadsheet_id = c.google_spreadsheet_id
        LEFT JOIN lookup_etl_jobs e ON e.spreadsheet_id = s.id AND e.sheet_name = c.sheet_name
    """).collect()
    got = change_filter.job_lookups(
        tables["configured"], tables["spreadsheets"], tables["etl_jobs"]).to_pylist()

    def per_pos(rows):
        out: dict[int, list] = {}
        for r in rows:
            out.setdefault(r["pos"], []).append(tuple(r[c] for c in cols))
        return {p: sorted(v, key=repr) for p, v in out.items()}

    assert per_pos(got) == per_pos(want)
    assert sorted(per_pos(got)) == list(range(len(conf)))
    kept = change_filter.filter_extractable(
        tables["configured"], tables["spreadsheets"], tables["etl_jobs"])
    assert kept.column_names == ["pos", "google_spreadsheet_id", "sheet_name"]
    assert sorted(r["pos"] for r in kept.to_pylist()) == sorted(
        r["pos"] for r in want if r["extractable"])


@pytest.mark.parametrize("seed", [None] + list(range(6)))
def test_arrow_watermark_reads_equal_spark_operators(spark, seed):
    """``greatest_modified`` equals ``ORDER BY google_modified DESC,
    google_spreadsheet_id DESC LIMIT 1`` and the Spark ``max(struct)``
    operator it replaced; ``longest_unseen`` returns a row with the
    minimum ``last_seen`` (None when no row has one)."""
    from google_sheets_etl_spark.etl import SPREADSHEETS_SCHEMA
    from google_sheets_etl_spark.operators import watermark
    from google_sheets_etl_spark.session import arrow_rows, local_frame

    rows = [] if seed is None else _accounting_state(seed)[0]
    if seed == 0:
        rows = [(i, g, None, n, None) for i, g, _m, n, _s in rows]  # every stamp null
    table = arrow_rows(rows, SPREADSHEETS_SCHEMA)
    df = local_frame(spark, table)
    df.createOrReplaceTempView("wm_spreadsheets")
    top = spark.sql("""
        SELECT google_modified, google_spreadsheet_id FROM wm_spreadsheets
        ORDER BY google_modified DESC, google_spreadsheet_id DESC LIMIT 1""").collect()
    struct_max = df.select(F.max(F.struct("google_modified", "google_spreadsheet_id"))
                           .alias("wm")).first()["wm"]
    got = watermark.greatest_modified(table)
    if not rows:
        assert top == [] and struct_max is None
        assert got == watermark.EPOCH_WATERMARK
    else:
        assert got == tuple(top[0]) == tuple(struct_max)

    oldest = watermark.longest_unseen(table)
    least = spark.sql("""
        SELECT google_spreadsheet_id FROM wm_spreadsheets
        WHERE last_seen = (SELECT min(last_seen) FROM wm_spreadsheets)""").collect()
    if least:
        assert oldest in {r[0] for r in least}
    else:
        assert oldest is None


# -- driver-built frames: one Arrow builder, no Python workers ----------------

_LONG = "é" * 150 + "x" * 150  # a 300-character non-ASCII cell


@pytest.mark.parametrize("schema,rows", [
    ("sheet", [(0, ["Name", " Amount Due ", "Café"]), (1, ["bob", "20"]),
               (2, ["carol", None, _LONG]), (3, None), (4, [])]),
    ("etl_jobs", [(1, 10, "Tab1", "table_a", "2026-01-02T00:00:00.000Z", "ab" * 32),
                  (2, 11, "Straße", None, None, None)]),
    ("spreadsheets", [(7, "SS" + "x" * 42, "2026-01-02T00:00:00.000Z", "名前", 1000),
                      (8, "SSy", None, _LONG, None)]),
    ("k long, v string, a array<string>", [(1, "v", ["a", None]), (None, None, None)]),
    ("sheet", []),
    ("k long, v string, a array<string>", []),
])
def test_local_frame_matches_create_data_frame(spark, schema, rows):
    """``local_frame`` gives ``createDataFrame``'s rows and schema, over
    the engine's schemas and a DDL string, and its plan has no
    ``PythonRDD``: evaluating it runs no Python worker."""
    from google_sheets_etl_spark.etl import ETL_JOBS_SCHEMA, SPREADSHEETS_SCHEMA
    from google_sheets_etl_spark.session import local_frame

    schema = {"sheet": "row_idx long, cells array<string>", "etl_jobs": ETL_JOBS_SCHEMA,
              "spreadsheets": SPREADSHEETS_SCHEMA}.get(schema, schema)
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()

    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" not in lineage(got)
    if rows:
        assert "PythonRDD" in lineage(want)  # what the builder replaces


@pytest.mark.parametrize("row,error", [
    ((1,), ValueError),                         # too few cells
    ((1, "v", ["a"], "extra"), ValueError),     # too many cells
    (("1", "v", ["a"]), TypeError),
    ((1.5, "v", ["a"]), TypeError),             # Arrow alone would truncate it
    ((1, "v", "abc"), TypeError),               # Arrow alone would split it
    ((1, ["v"], ["a"]), TypeError),
])
def test_local_frame_rejects_malformed_rows(spark, row, error):
    """A row of the wrong arity or a wrongly typed cell raises, as
    ``createDataFrame``'s ``verifySchema`` did, instead of a silently
    truncated or coerced frame."""
    from google_sheets_etl_spark.session import local_frame

    with pytest.raises(error):
        local_frame(spark, [(0, "ok", []), row], "k long, v string, a array<string>")


def test_sync_loop_builds_frames_only_through_local_frame():
    """No ``createDataFrame`` call in the sync loop's modules: a frame
    built there from a Python list would put Python workers back into
    every job that reads it."""
    import ast

    import google_sheets_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    for rel in ("etl.py", "plans/state_table.py", "plans/target_table.py",
                "operators/typed_views.py"):
        with open(os.path.join(root, rel)) as fh:
            tree = ast.parse(fh.read(), rel)
        calls = [
            n.lineno for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
        ]
        assert not calls, (rel, calls)


# -- file: URIs map to their paths for the POSIX calls ------------------------

def test_file_uri_target_table_continues_rowid(spark, tmp_path):
    """A ``file://`` target table reads its ``_rowid`` max from its own
    footers, so a second write's ids continue past the first's."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    tt = TargetTable(spark, (tmp_path / "t").as_uri())
    mk = lambda job, vals: spark.createDataFrame(
        [(job, i, v, tt.max_rowid() + i + 1) for i, v in enumerate(vals)],
        "_origin_etl_job_id long, _origin_row long, v string, _rowid long")
    assert tt.max_rowid() == 0
    tt.overwrite_job_partition(mk(1, ["a", "b", "c"]))
    assert tt._rowid_max_from_footers() == tt.max_rowid() == 3
    tt.overwrite_job_partition(mk(2, ["d", "e"]))
    got = sorted((r["v"], r["_rowid"]) for r in tt.read().collect())
    assert got == [("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5)]


def test_file_uri_warehouse_keeps_manifests_inside(spark, tmp_path, source):
    """An engine on a ``file://`` warehouse stages its commit manifests
    under the warehouse, not in a relative ``file:`` directory."""
    eng = SheetsEtlEngine(spark, (tmp_path / "wh").as_uri(), source)
    assert eng._commits_dir() == str(tmp_path / "wh" / "_commits")


def test_commit_manifests_replay_through_hadoop_fs(spark, tmp_path, source, jobs, monkeypatch):
    """The manifests' Hadoop FileSystem branch (the one ``hdfs://`` and
    ``s3a://`` warehouses take), on a local directory: a manifest
    staged there lands under the warehouse, not the working directory,
    and a fresh engine replays and clears it."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    wh = (tmp_path / "wh").as_uri()
    eng = SheetsEtlEngine(spark, wh, source)
    eng._commits.local = None
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=1)
    ssa = eng.spreadsheets.read().filter("google_spreadsheet_id LIKE 'SSA%'").first()
    eng._commit_job(7, ssa["id"], jobs[0], ssa["google_modified"], "staged")

    def staged():  # the local Hadoop FS keeps a hidden .crc beside each file
        return [n for n in os.listdir(tmp_path / "wh" / "_commits") if not n.startswith(".")]

    assert staged() == ["commit_7.json"]
    assert os.listdir(cwd) == []

    fresh = SheetsEtlEngine(spark, wh, source)
    fresh._commits.local = None
    fresh.set_up_accounting()
    assert [(r["id"], r["sheet_name"], r["raw_columns_rows_hash"])
            for r in fresh.etl_jobs.read().collect()] == [(7, "Tab1", "staged")]
    assert staged() == []
    assert os.listdir(cwd) == []

"""End-to-end engine tests (SURVEY.md §7.2 minimum slice):
discover → change-filter → load → re-run no-op (hash short-circuit) →
change one cell → exactly that job's partition rewritten."""

from __future__ import annotations

import pytest

from google_sheets_etl_spark.config import EtlJob, parse_config
from google_sheets_etl_spark.etl import SheetsEtlEngine
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


def _four_sheet_source():
    """SHEET_A's spreadsheet plus three one-tab spreadsheets, each its
    own job on its own target table."""
    src = FixtureSheetSource()
    src.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-02T00:00:00.000Z",
                                  "Sheet A"), "Tab1", SHEET_A)
    jobs = [EtlJob("SSA" + "a" * 41, "Tab1", "table_a",
                   {"name": "Name", "amount": "Amount Due"})]
    for i, c in enumerate("CDE"):
        gid = "SS" + c + c.lower() * 41
        src.put_sheet(SpreadsheetMeta(gid, f"2026-01-0{3 + i}T00:00:00.000Z", c),
                      "T", [["Id", "Val"], [str(i), c], [str(i + 10), c]])
        jobs.append(EtlJob(gid, "T", f"table_{c.lower()}", {"id": "Id", "val": "Val"}))
    return src, jobs


def _job_ids(eng):
    sheets = {r["id"]: r["google_spreadsheet_id"] for r in eng.spreadsheets.read().collect()}
    return {(sheets[r["spreadsheet_id"]], r["sheet_name"]): r["id"]
            for r in eng.etl_jobs.read().collect()}


def test_crash_in_pass_end_apply_replays_every_manifest(
    spark, tmp_path, monkeypatch
):
    """U6 crash injection for the batched apply: one pass commits three
    sheets (one reloaded, two new) by manifest rename, then dies in the
    pass-end etl_jobs upsert. A fresh engine replays every manifest:
    ids distinct and in load order, nothing re-selected, every target
    partition present. A direct load_sheet of a fourth, new sheet made
    while those manifests are pending must not claim one of their ids."""
    import os
    import shutil

    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.plans.target_table import PARTITION_COL

    source, jobs = _four_sheet_source()
    wh = str(tmp_path / "wh")
    eng = SheetsEtlEngine(spark, wh, source)
    eng.set_up_accounting()
    eng.find_updated_spreadsheets(now=100)
    assert [r.etl_job_id for r in eng.load_updated_spreadsheets(jobs[:1])] == [1]

    changed = [row[:] for row in SHEET_A]
    changed[1][1] = "55"
    source.put_sheet(SpreadsheetMeta("SSA" + "a" * 41, "2026-01-09T00:00:00.000Z",
                                     "Sheet A"), "Tab1", changed)
    eng.find_updated_spreadsheets(now=200)

    def crash(self, updates, keys):
        raise RuntimeError("injected crash in pass-end apply")

    monkeypatch.setattr(StateTable, "upsert", crash)
    with pytest.raises(RuntimeError, match="pass-end apply"):
        eng.load_updated_spreadsheets(jobs[:3])  # A reloads; C, D are new
    monkeypatch.undo()
    assert sorted(os.listdir(os.path.join(wh, "_commits"))) == [
        "commit_1.json", "commit_2.json", "commit_3.json"]
    key = [(j.google_spreadsheet_id, j.sheet_name) for j in jobs]
    assert _job_ids(SheetsEtlEngine(spark, wh, source)) == {key[0]: 1}  # torn

    # the same torn warehouse, twice: a direct load_sheet of the fourth
    # sheet (E) replays first, so it takes the next id after the manifests
    wh2 = str(tmp_path / "wh2")
    shutil.copytree(wh, wh2)
    direct = SheetsEtlEngine(spark, wh2, source)
    res = direct.load_sheet(jobs[3])
    assert (res.skipped_unchanged, res.etl_job_id) == (False, 4)
    assert _job_ids(direct) == {key[0]: 1, key[1]: 2, key[2]: 3, key[3]: 4}
    assert not os.listdir(os.path.join(wh2, "_commits"))

    healed = SheetsEtlEngine(spark, wh, source)
    healed.set_up_accounting()
    assert _job_ids(healed) == {key[0]: 1, key[1]: 2, key[2]: 3}
    assert not os.listdir(os.path.join(wh, "_commits"))
    assert healed.filter_extractable(jobs[:3]) == []
    assert healed.load_updated_spreadsheets(jobs[:3]) == []
    for job, jid in zip(jobs[:3], (1, 2, 3)):
        got = healed.target(job.target_table).read()
        assert {r[PARTITION_COL] for r in got.collect()} == {jid}
    tgt = healed.target("table_a").read()
    assert tgt.filter("name = 'alice'").first()["amount"] == "55"


def test_one_etl_jobs_upsert_per_pass(spark, tmp_path, monkeypatch):
    """A pass over N changed sheets applies accounting with exactly one
    etl_jobs upsert (N = 3 cold, N = 1 after one edit); a pass that
    selects nothing runs no lookup and no upsert."""
    from google_sheets_etl_spark.plans.state_table import StateTable

    source, jobs = _four_sheet_source()
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh"), source)
    eng.set_up_accounting()
    calls = {"upsert": 0, "lookup": 0}
    real_upsert, real_lookup = StateTable.upsert, SheetsEtlEngine._lookup

    def counting_upsert(self, *a, **k):
        if self.path == eng.etl_jobs.path:
            calls["upsert"] += 1
        return real_upsert(self, *a, **k)

    def counting_lookup(self, *a, **k):
        calls["lookup"] += 1
        return real_lookup(self, *a, **k)

    monkeypatch.setattr(StateTable, "upsert", counting_upsert)
    monkeypatch.setattr(SheetsEtlEngine, "_lookup", counting_lookup)

    def one_pass(now):
        calls.update(upsert=0, lookup=0)
        eng.find_updated_spreadsheets(now=now)
        return eng.load_updated_spreadsheets(jobs[1:])

    cold = one_pass(100)
    assert [(r.skipped_unchanged, r.etl_job_id) for r in cold] == [
        (False, 1), (False, 2), (False, 3)]
    assert calls == {"upsert": 1, "lookup": 1}

    gid = jobs[2].google_spreadsheet_id
    source.put_sheet(SpreadsheetMeta(gid, "2026-02-01T00:00:00.000Z", "D"),
                     "T", [["Id", "Val"], ["7", "d"]])
    one = one_pass(200)
    assert [(r.skipped_unchanged, r.etl_job_id, r.rows_loaded) for r in one] == [
        (False, 2, 1)]
    assert calls == {"upsert": 1, "lookup": 1}

    assert one_pass(300) == []
    assert calls == {"upsert": 0, "lookup": 0}


@pytest.mark.parametrize("header_row", [0, 1, 2, 3, -1, 4])
def test_driver_side_header_matches_spark_trim(spark, tmp_path, header_row):
    """The header load_sheet resolves from the rows it already holds is
    the one the Spark kernel reads: trim strips ASCII space only (tab,
    newline and NBSP stay), None cells stay None, and a header row past
    either end raises the kernel's error."""
    from google_sheets_etl_spark.etl import _raw_header
    from google_sheets_etl_spark.operators import rows as rows_ops

    raw = [
        ["  Name ", "\tAmount\t", " Café\n", " Id ", None, ""],
        [None, "  ", " \t x \t ", "\n\n", "  y  ", 7],
        [],
        ["a"],
    ]
    eng = SheetsEtlEngine(spark, str(tmp_path / "wh"), FixtureSheetSource())
    sheet = rows_ops.trim_cells(eng._sheet_df(raw))
    if 0 <= header_row < len(raw):
        assert _raw_header(raw, header_row) == rows_ops.header_row(sheet, header_row)
        return
    for read in (lambda: _raw_header(raw, header_row),
                 lambda: rows_ops.header_row(sheet, header_row)):
        with pytest.raises(rows_ops.RequiredColumnNotFound,
                           match=f"^Header row not found: {header_row}$"):
            read()


def test_state_table_upserts_past_gc_window_keep_contents(spark, tmp_path):
    """More than _KEEP_VERSIONS successive upserts, each built from the
    table's current snapshot (read lazily while the next one is written
    and older ones are garbage-collected), keep exactly the expected
    rows."""
    from pyspark.sql import functions as F

    from google_sheets_etl_spark.plans.state_table import _KEEP_VERSIONS, StateTable

    schema = "k long, v long"
    table = StateTable(spark, str(tmp_path / "st"), spark.createDataFrame([], schema).schema)
    table.create_if_not_exists()
    want: dict[int, int] = {}
    for step in range(_KEEP_VERSIONS + 3):
        current = table.read()
        updates = current.filter(F.col("k") % 2 == step % 2).select(
            "k", (F.col("v") + 10).alias("v")
        ).unionByName(spark.createDataFrame([(step, step)], schema))
        table.upsert(updates, keys=["k"])
        want = {k: v + 10 if k % 2 == step % 2 else v for k, v in want.items()}
        want[step] = step
        assert {r["k"]: r["v"] for r in table.read().collect()} == want
    table.overwrite(table.read().filter(F.col("k") > 1))
    assert {r["k"]: r["v"] for r in table.read().collect()} == {
        k: v for k, v in want.items() if k > 1}


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

    before, _ = wm.greatest_modified(eng.spreadsheets.read())
    # the probed (longest-unseen) file gets edited FAR in the future,
    # before discovery has listed that edit
    ssa = "SSA" + "a" * 41
    source.put_sheet(
        SpreadsheetMeta(ssa, "2027-12-31T00:00:00.000Z", "Sheet A"),
        "Tab1", SHEET_A,
    )
    assert eng.verify_oldest_spreadsheet(now=200) is True
    after, _ = wm.greatest_modified(eng.spreadsheets.read())
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

"""Tests of the benchmark itself: generator, model, tracing arithmetic.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus as cp  # noqa: E402
from perfbench import metrics, tables  # noqa: E402
from perfbench.spans import Span, Tracer, self_time, tail  # noqa: E402


def _snapshot(c: cp.Corpus):
    return (sorted(c.source.metas.items()), sorted(c.source.sheets.items()), c.jobs)


def test_generator_is_deterministic_per_seed():
    tabs = (1, 2, 1)
    assert _snapshot(cp.make_corpus(5, tabs, 3, big_at=(0,), big_rows=(50, 60))) == \
        _snapshot(cp.make_corpus(5, tabs, 3, big_at=(0,), big_rows=(50, 60)))
    assert _snapshot(cp.make_corpus(5, tabs)) != _snapshot(cp.make_corpus(6, tabs))
    a = cp.make_corpus(3, tabs, big_at=(0,), big_rows=(50, 60))
    b = cp.make_corpus(3, tabs, big_at=(0,), big_rows=(50, 60))
    for cycle in range(4):
        pa, pb = cp.plan_edits(3, cycle, a), cp.plan_edits(3, cycle, b)
        assert pa == pb
        assert cp.apply_edits(3, cycle, a, pa) == cp.apply_edits(3, cycle, b, pb)
    assert _snapshot(a) == _snapshot(b)


def test_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    one = tables.write_tables(str(tmp_path / "a"), 11, n_orders=300, n_docs=20, n_vecs=20)
    two = tables.write_tables(str(tmp_path / "b"), 11, n_orders=300, n_docs=20, n_vecs=20)
    for name in tables.TABLE_NAMES:
        assert pq.read_table(f"{one}/{name}.parquet").equals(
            pq.read_table(f"{two}/{name}.parquet"))


def test_model_pads_trims_truncates_and_skips():
    from google_sheets_etl_spark.config import EtlJob

    raw = [["title"], [" id ", "memo", "x"], ["units"],
           ["  7", "m" * 120 + "  ", "junk"], ["8"], []]
    job = EtlJob("g", "t", "ledger", {"entry_id": "id", "memo": 1}, header_row=1, skip_rows=3)
    rows = cp.expected_rows(raw, job, 4)
    assert rows == [
        {"entry_id": "7", "memo": "m" * 100, "_origin_row": 0, "_origin_etl_job_id": 4},
        {"entry_id": "8", "memo": None, "_origin_row": 1, "_origin_etl_job_id": 4},
        {"entry_id": None, "memo": None, "_origin_row": 2, "_origin_etl_job_id": 4},
    ]
    with pytest.raises(IndexError):
        cp.expected_rows(raw, EtlJob("g", "t", "ledger", {"entry_id": 3}, 1, 3), 1)


def test_tail_percentile_rule():
    assert tail([1.0] * 19) == (None, None, 19)
    assert tail([float(i) for i in range(20)]) == (50.0, 9.0, 20)
    assert tail([float(i) for i in range(100)])[:2] == (90.0, 89.0)
    assert tail([float(i) for i in range(1000)])[:2] == (99.0, 989.0)


def test_self_time_arithmetic():
    assert self_time((0.0, 10.0), []) == 10.0
    # overlapping children count once; the part past the parent's end not at all
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == 5.0
    assert self_time((0.0, 10.0), [(0.0, 10.0), (3.0, 4.0)]) == 0.0
    tr = Tracer()
    tr.spans = [Span(0, "a", 0.0, None, None, end=6.0),
                Span(1, "b", 1.0, 0, None, end=3.0),
                Span(2, "c", 1.5, 1, None, end=2.0),
                Span(3, "b", 4.0, 0, None, end=5.0)]
    by = tr.by_name()
    assert by["a"]["self_s"] == 3.0 and by["a"]["s"] == 6.0
    assert by["b"]["calls"] == 2 and by["b"]["self_s"] == 2.5


def test_metric_names_are_unique_and_within_limits():
    names = [n for n, _, _ in metrics.END_TO_END] + [
        n for n, _, _ in metrics.per_layer_names(("q",))]
    assert len(names) == len(set(names))
    assert len(metrics.per_layer_names(("a", "b", "c", "d"))) <= 128


# -- against the engine ----------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from google_sheets_etl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _run(spark, tmp_path, traced: bool):
    from perfbench import workloads as wl

    return wl.Run(spark, Tracer(spark if traced else None), 21, 1.0, str(tmp_path))


def test_model_matches_engine_on_tiny_corpus(spark, tmp_path):
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from perfbench import workloads as wl

    run = _run(spark, tmp_path, traced=False)
    corpus = cp.make_corpus(21, (1, 2, 1), 2, big_at=(0,), big_rows=(20, 30), rows=(4, 12),
                            tables=("contacts", "ledger"))
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh"), corpus.source)
    engine.set_up_accounting()
    p = wl.sync_pass(run, engine, corpus.jobs)
    assert p["loaded"] == len(corpus.jobs)
    ids = {(r.job.google_spreadsheet_id, r.job.sheet_name): r.etl_job_id for r in p["results"]}
    wl.check_warehouse(run, engine, corpus, ids)
    for table in sorted({j.target_table for j in corpus.jobs}):
        _, types, row = wl.typed_read(run, engine, table)
        wl.check_typed_read(run, corpus, ids, table, types, row)
    want = cp.apply_edits(21, 0, corpus, cp.plan_edits(21, 0, corpus))
    p = wl.sync_pass(run, engine, corpus.jobs)
    assert {"loaded": p["loaded"], "skipped": p["skipped"],
            "unselected": len(corpus.jobs) - p["selected"]} == want
    wl.check_warehouse(run, engine, corpus, ids)
    assert run.failures == []
    assert run.failed == 0 and run.attempted > 0


def test_model_mismatch_is_reported(spark, tmp_path):
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from perfbench import workloads as wl

    run = _run(spark, tmp_path, traced=False)
    corpus = cp.make_corpus(22, (1,), rows=(3, 5))
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh"), corpus.source)
    engine.set_up_accounting()
    p = wl.sync_pass(run, engine, corpus.jobs)
    ids = {(r.job.google_spreadsheet_id, r.job.sheet_name): r.etl_job_id for r in p["results"]}
    corpus.source.sheets[(corpus.jobs[0].google_spreadsheet_id, corpus.jobs[0].sheet_name)][-1] = ["x"]
    wl.check_warehouse(run, engine, corpus, ids)
    assert run.failed >= 1


def _jobs_per_sheet(spark, tmp_path, inject: bool) -> float:
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from perfbench import workloads as wl

    orig = SheetsEtlEngine.load_sheet
    if inject:
        def load_sheet(self, job):
            spark.sparkContext.parallelize([1]).count()  # one extra Spark job per sheet
            return orig(self, job)

        SheetsEtlEngine.load_sheet = load_sheet
    run = _run(spark, tmp_path, traced=True)
    try:
        wl.instrument(run.tracer, full=True)
        corpus = cp.make_corpus(23, (1, 1), rows=(3, 6))
        engine = SheetsEtlEngine(spark, str(tmp_path / f"wh{int(inject)}"), corpus.source)
        engine.set_up_accounting()
        wl.sync_pass(run, engine, corpus.jobs)
        run.tracer.harvest()
    finally:
        run.tracer.restore()
        SheetsEtlEngine.load_sheet = orig
    return metrics.per_layer(run, ())["etl.spark_jobs_per_sheet"]


def test_injected_job_per_load_shows_in_jobs_per_sheet(spark, tmp_path):
    base = _jobs_per_sheet(spark, tmp_path, inject=False)
    more = _jobs_per_sheet(spark, tmp_path, inject=True)
    assert base > 0
    assert more == base + 1


@pytest.mark.xfail(strict=True, reason="known defect: TargetTable.read() cannot infer a "
                   "schema once every partition of the table was reloaded to empty")
def test_typed_read_of_fully_emptied_table(spark, tmp_path):
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from perfbench import workloads as wl

    run = _run(spark, tmp_path, traced=False)
    corpus = cp.make_corpus(24, (1,), rows=(3, 5))
    engine = SheetsEtlEngine(spark, str(tmp_path / "wh"), corpus.source)
    engine.set_up_accounting()
    wl.sync_pass(run, engine, corpus.jobs)
    job = corpus.jobs[0]
    key = (job.google_spreadsheet_id, job.sheet_name)
    corpus.source.sheets[key] = corpus.rows(job)[: job.skip_rows]
    corpus.touch(job.google_spreadsheet_id)
    assert wl.sync_pass(run, engine, corpus.jobs)["loaded"] == 1
    assert engine.typed_target(job.target_table).count() == 0


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import json

    from perfbench import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == \
        metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        metrics.per_layer_names(workloads.SUITE)

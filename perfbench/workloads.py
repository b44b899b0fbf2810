"""The two workloads, their correctness checks and their metrics.

Every workload runs in one process on one ``local[nproc]`` session and
receives only generated inputs: a ``FixtureSheetSource`` plus ``EtlJob``
list, or a directory of seeded parquet tables. Layers are timed from
outside, by wrapping the package's public functions (see ``spans.py``);
no package file is changed for the benchmark.

End-to-end metrics mean the same thing on both workloads:

- ``setup_s``: session start + the median of three repeated engine set-ups
  (sheet_sync), or session start + the median of three table generations
  + the checked first execution of every query (operator_suite);
- ``wall_s``: seconds per repeated unit of work, median: the sync work of
  one edit cycle, its change pass plus its no-op pass (sheet_sync), one
  execution of the query list (operator_suite, the sum of each query's
  median);
- ``op_p50_s``: median latency of the user-facing operation: a
  ``load_sheet`` call of the cold pass (sheet_sync; the cycles' calls are
  faster, half of them hash short-circuits, so a median over both kinds
  flips between them), one query (operator_suite, the median of the queries' medians);
- ``ops_per_s``: sheets loaded per second of the cold pass (sheet_sync;
  200 / ops_per_s is the reference's 300 s yardstick), queries per second
  of the median timed round (operator_suite).
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import corpus as cp
from . import tables as tb
from .spans import Tracer, tail

#: operator_suite: one control, the suffix, ANN and typed rows that
#: ROADMAP directions 3-4 and the typed residual touch. Recall rows whose
#: oracle is a constant pinned to one dataset (hnsw/nsw_beam/opq) cannot be
#: checked on seeded tables. Rows that round a float cosine to 4 places
#: (cosine_topk, ann_ivf_topk, ivf_pq_search) disagree with DuckDB at a
#: rounding boundary on some seeds, so the NSW search, which ranks on
#: integer micro-units, stands in for ANN.
SUITE = ("q5_region_revenue", "suffix_dedup_spans", "nsw_topk",
         "typed_profile_incremental")

_KIND_OF_TYPE = {"LongType": "bigint", "DecimalType": "decimal", "DateType": "date",
                 "BooleanType": "boolean", "StringType": "string"}
_KINDS = {c: k for cols in cp.TABLES.values() for c, k in cols}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    mark: int = 0  # index of the first span of the timed section
    jvm_pid: int = 0
    named: dict[str, float] = field(default_factory=dict)  # issue-named metrics
    e2e: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the JVM."""
        t = os.times()
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return t.user + t.system + (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")

    def jvm_s(self) -> tuple[float, float]:
        """Seconds the JVM has spent so far in garbage collection and in
        JIT compilation, from its management beans."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
        return gc / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def fresh_dir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.work)


# -- instrumentation -----------------------------------------------------------

def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def instrument(tracer: Tracer, full: bool) -> None:
    """Wrap the layers. ``full=False`` wraps only ``load_sheet`` (its
    latency is an end-to-end number); ``full=True`` wraps every layer."""
    from google_sheets_etl_spark import etl
    from google_sheets_etl_spark.operators import change_filter, rows, typed_views, watermark
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.plans.target_table import TargetTable
    from google_sheets_etl_spark.sources import FixtureSheetSource

    def job_req(self, job, *a, **k):
        return f"{job.google_spreadsheet_id}/{job.sheet_name}"

    tracer.wrap(etl.SheetsEtlEngine, "load_sheet", "etl.load_sheet", request=job_req)
    if not full:
        return
    for fn in ("set_up_accounting", "find_updated_spreadsheets", "record_spreadsheets_seen",
               "filter_extractable", "load_updated_spreadsheets", "refresh_load_profiles",
               "typed_target"):
        tracer.wrap(etl.SheetsEtlEngine, fn, f"etl.{fn}")

    def cells(sp, out, _state, *a, **k):
        sp.counts["cells"] = sum(len(r) for r in out[0])

    tracer.wrap(FixtureSheetSource, "get_sheet", "sources.get_sheet",
                request=lambda self, gid, sheet: f"{gid}/{sheet}", count=cells)
    tracer.wrap(FixtureSheetSource, "list_spreadsheets", "sources.list_spreadsheets")
    for mod, fns in ((rows, ("trim_cells", "header_row", "resolve_column_selectors",
                             "project_rows", "enforce_cell_width", "with_provenance")),
                     (watermark, ("greatest_modified", "longest_unseen")),
                     (change_filter, ("filter_extractable", "up_to_date_jobs")),
                     (typed_views, ("profile_counters", "merge_profiles", "decide_profile",
                                    "decide_types", "typed_view"))):
        layer = mod.__name__.replace("google_sheets_etl_spark.", "")
        for fn in fns:
            tracer.wrap(mod, fn, f"{layer}.{fn}")

    def files_before(self, *a, **k):
        return _files(self.path)

    def written(sp, _out, before, self, *a, **k):
        new = [v for p, v in _files(self.path).items() if before.get(p) != v]
        sp.counts["files_written"] = len(new)
        sp.counts["bytes_written"] = sum(size for size, _ in new)

    for fn in ("upsert", "overwrite", "create_if_not_exists"):
        tracer.wrap(StateTable, fn, f"plans.state_table.{fn}", before=files_before, count=written)
    tracer.wrap(StateTable, "read", "plans.state_table.read")
    tracer.wrap(TargetTable, "overwrite_job_partition", "plans.target_table.overwrite_job_partition",
                before=files_before, count=written)
    tracer.wrap(TargetTable, "read", "plans.target_table.read")
    tracer.wrap(TargetTable, "delete_job_partition", "plans.target_table.delete_job_partition")


def load_latencies(tracer: Tracer, since: int = 0) -> list[float]:
    return [s.end - s.start for s in tracer.spans[since:] if s.name == "etl.load_sheet"]


# -- shared pieces ---------------------------------------------------------------

def sync_pass(run: Run, engine, jobs) -> dict:
    """One O1 + O2 pass; returns its counts and duration."""
    t0 = time.perf_counter()
    discovered = engine.find_updated_spreadsheets()
    results = engine.load_updated_spreadsheets(jobs)
    dt = time.perf_counter() - t0
    failures = engine.last_load_failures
    for job, exc in failures:
        run.check(False, f"load {job.google_spreadsheet_id}/{job.sheet_name}: {exc!r}")
    loaded = [r for r in results if not r.skipped_unchanged]
    out = {"s": dt, "discovered": discovered, "selected": len(results) + len(failures),
           "loaded": len(loaded), "skipped": len(results) - len(loaded),
           "failed": len(failures), "results": results}
    run.attempted += out["selected"]
    return out


def tally(run: Run, p: dict) -> None:
    for k in ("discovered", "selected", "loaded", "failed"):
        run.counts[f"etl.{k}"] += p[k]
    run.counts["etl.skipped_unchanged"] += p["skipped"]


def committed_jobs(engine) -> dict[tuple[str, str], dict]:
    """etl_jobs joined to spreadsheets: (gid, sheet) -> accounting row."""
    sheets = {int(r["id"]): r["google_spreadsheet_id"]
              for r in engine.spreadsheets.read().collect()}
    return {(sheets[int(r["spreadsheet_id"])], r["sheet_name"]): r.asDict()
            for r in engine.etl_jobs.read().collect()}


def check_warehouse(run: Run, engine, corpus: cp.Corpus, expected_ids: dict) -> None:
    """etl_jobs ids/hashes/mtimes and every target table against the model."""
    got = committed_jobs(engine)
    run.check(set(got) == set(expected_ids),
              f"etl_jobs keys: {len(got)} committed vs {len(expected_ids)} expected")
    by_key = {(j.google_spreadsheet_id, j.sheet_name): j for j in corpus.jobs}
    for key, jid in expected_ids.items():
        row, job = got.get(key), by_key[key]
        want = (jid, job.target_table, corpus.source.metas[key[0]].modified_time,
                cp.payload_fingerprint(corpus.rows(job)))
        have = row and (row["id"], row["target_table"], row["google_modified"],
                        row["raw_columns_rows_hash"])
        run.check(have == want, f"etl_jobs row {key}: {have} != {want}")
    for table in sorted({by_key[k].target_table for k in expected_ids}):
        df = engine.target(table).read()
        cols = sorted(df.columns)
        have = cp.canon_rows([r.asDict() for r in df.collect()], cols)
        want = cp.canon_rows(cp.expected_table(corpus, expected_ids, table), cols)
        run.check(have == want, f"target {table}: {len(have)} rows vs {len(want)} expected"
                  + ("" if len(have) != len(want) else " (values differ)"))


def stored_ratio(engine, corpus: cp.Corpus, keys) -> float:
    """Live warehouse bytes (target files + current accounting snapshots)
    per byte of fixture cell text in the loaded sheets."""
    live = 0
    for t in {j.target_table for j in corpus.jobs}:
        live += sum(s for s, _ in _files(engine.table_path(t)).values())
    for st in (engine.spreadsheets, engine.etl_jobs, engine.profiles):
        v = st.current_version()
        if v is not None:
            live += sum(s for s, _ in _files(st._version_dir(v)).values())
    by_key = {(j.google_spreadsheet_id, j.sheet_name): j for j in corpus.jobs}
    cell_bytes = sum(len(c.encode()) for k in keys for r in corpus.rows(by_key[k]) for c in r)
    return live / max(1, cell_bytes)


def _p50_and_tail(run: Run, name: str, xs: list[float]) -> None:
    if not xs:
        return
    run.named[f"{name}_p50_s"] = statistics.median(xs)
    pct, val, n = tail(xs)
    run.named[f"{name}_tail_s"] = val or 0.0
    run.named[f"{name}_tail_pct"] = pct or 0.0
    run.named[f"{name}_samples"] = n


# -- sheet_sync ------------------------------------------------------------------

#: configured tabs per spreadsheet in discovery order; spreadsheet 0 is big.
#: Four tabs over two tables (between them every column kind): each table
#: keeps a live partition when a cycle empties one tab, because reading a
#: target table with no live partition fails (see
#: test_typed_read_of_fully_emptied_table).
TABS = (1, 2, 1)
SYNC_TABLES = ("contacts", "ledger")
#: spreadsheets discovery lists that no job loads (a few dozen in all)
UNCONFIGURED = 27


def typed_read(run: Run, engine, table: str) -> tuple[float, dict, dict]:
    """``typed_target`` plus a fixed aggregate: (seconds, column kinds, row)."""
    t0 = time.perf_counter()
    df = engine.typed_target(table)
    data_cols = [c for c in df.columns if not c.startswith("_")]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in data_cols:
        k = _KINDS[c]
        if k == "string":
            continue
        aggs.append(F.count(c).alias(f"nn_{c}"))
        if k in ("bigint", "decimal"):
            aggs.append(F.sum(c).alias(f"sum_{c}"))
        elif k == "boolean":
            aggs.append(F.sum(F.col(c).cast("int")).alias(f"sum_{c}"))
        elif k == "date":
            aggs.append(F.max(c).alias(f"max_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    dt = time.perf_counter() - t0
    run.attempted += 1
    types = {f.name: _KIND_OF_TYPE.get(type(f.dataType).__name__, "?")
             for f in df.schema.fields if f.name in data_cols}
    return dt, types, row


def check_typed_read(run: Run, corpus: cp.Corpus, ids: dict, table: str,
                     types: dict, row: dict) -> None:
    """Typed-view types equal the generator's kinds; the aggregate equals
    the model's over the table's expected rows."""
    run.check(types == {c: _KINDS[c] for c in types}, f"typed view {table} types {types}")
    got = {k: (v.isoformat() if hasattr(v, "isoformat") else v) for k, v in row.items()}
    want = cp.typed_aggregate(cp.expected_table(corpus, ids, table))
    want = {k: (0 if v is None and k.startswith("sum_") else v) for k, v in want.items()}
    got = {k: (0 if v is None and k.startswith("sum_") else v) for k, v in got.items()}
    run.check(got == want, f"typed aggregate {table}: {got} != {want}")


def sheet_sync(run: Run) -> None:
    """The paper's sync path, cold then steady. One cold pass over an empty
    warehouse, as a fresh cron process runs it, discovers every spreadsheet
    of a few dozen and loads the configured ones (one with ten thousand
    rows). Edit cycles follow while they fit in the seconds (at least one):
    apply the cycle's edit plan, run a sync pass and a no-op pass, then read
    every target table through its typed view (timed on its own: the reads'
    spread would swamp the passes'; the first cycle's reads profile every
    load). Checks run outside the timed sections."""
    from google_sheets_etl_spark.etl import SheetsEtlEngine
    from google_sheets_etl_spark.sources import FixtureSheetSource

    corpus = cp.make_corpus(run.seed, TABS, n_unconfigured=UNCONFIGURED, big_at=(0,),
                            big_rows=(10_000, 10_000), rows=(200, 200), tables=SYNC_TABLES)
    # three engine set-ups (empty warehouse + accounting DDL); the last
    # one's engine is the one the workload runs
    setups = []
    for source in (FixtureSheetSource(), FixtureSheetSource(), corpus.source):
        t0 = time.perf_counter()
        engine = SheetsEtlEngine(run.spark, run.fresh_dir("sync-"), source)
        engine.set_up_accounting()
        setups.append(time.perf_counter() - t0)
    setup_s = run.named["engine_setup_s"] = statistics.median(setups)
    run.tracer.harvest()
    run.mark = len(run.tracer.spans)
    c0 = run.cpu_s()
    cold = sync_pass(run, engine, corpus.jobs)
    run.named["cold_pass_cpu_s"] = run.cpu_s() - c0
    tally(run, cold)
    cold_loads = load_latencies(run.tracer, run.mark)
    tables = sorted({j.target_table for j in corpus.jobs})
    ids = {(r.job.google_spreadsheet_id, r.job.sheet_name): r.etl_job_id
           for r in cold["results"]}
    run.tracer.harvest()
    run.check(cold["discovered"] == len(corpus.source.metas),
              f"discovered {cold['discovered']} of {len(corpus.source.metas)}")
    run.check(cold["loaded"] == len(corpus.jobs),
              f"cold pass loaded {cold['loaded']} of {len(corpus.jobs)}")
    run.check(sorted(ids.values()) == list(range(1, len(ids) + 1)),
              "etl job ids are not allocated 1..n in load order")
    for r in cold["results"]:
        want = len(cp.expected_rows(corpus.rows(r.job), r.job, r.etl_job_id))
        run.check(r.rows_loaded == want, f"rows_loaded {r.rows_loaded} != {want}")

    cycles, cycle_cpu, change, noop, reads = [], [], [], [], []
    n_spans = len(run.tracer.spans)
    t_run = time.perf_counter()
    cycle = 0
    # a cycle is long next to the run, so start one only if a cycle of
    # the average length so far still ends within the seconds
    while not cycles or (time.perf_counter() - t_run) * (cycle + 1) / cycle <= run.seconds:
        plan = cp.plan_edits(run.seed, cycle, corpus)
        want = cp.apply_edits(run.seed, cycle, corpus, plan)
        t0, c0 = time.perf_counter(), run.cpu_s()
        p = sync_pass(run, engine, corpus.jobs)
        q = sync_pass(run, engine, corpus.jobs)
        cycles.append(time.perf_counter() - t0)
        cycle_cpu.append(run.cpu_s() - c0)
        rs = [typed_read(run, engine, t) for t in tables]
        tally(run, p)
        tally(run, q)
        change.append(p["s"])
        noop.append(q["s"])
        reads += [dt for dt, _, _ in rs]
        have = {"loaded": p["loaded"], "skipped": p["skipped"],
                "unselected": len(corpus.jobs) - p["selected"]}
        run.check(have == want, f"cycle {cycle} change pass counts {have} != {want}")
        run.check(q["selected"] == 0, f"cycle {cycle} no-op pass selected {q['selected']}")
        for t, (_, types, row) in zip(tables, rs):
            check_typed_read(run, corpus, ids, t, types, row)
        run.tracer.harvest()
        cycle += 1

    loads = cold_loads + load_latencies(run.tracer, n_spans)
    n_rows = sum(r.rows_loaded for r in cold["results"])
    run.named.update(cold_pass_s=cold["s"], sheets_per_s=cold["loaded"] / cold["s"],
                     rows_per_s=n_rows / cold["s"], cycles=len(cycles),
                     cycle_cpu_s=statistics.median(cycle_cpu),
                     noop_pass_s=statistics.median(noop),
                     change_pass_s=statistics.median(change))
    _p50_and_tail(run, "sheet_load", loads)
    _p50_and_tail(run, "typed_read", reads)
    run.e2e.update(setup_s=setup_s, wall_s=statistics.median(cycles),
                   op_p50_s=statistics.median(cold_loads), ops_per_s=run.named["sheets_per_s"])
    check_warehouse(run, engine, corpus, ids)
    live = [k for k in ids if k not in corpus.empty_tabs]
    run.named["stored_bytes_per_input_byte"] = stored_ratio(engine, corpus, live)


# -- operator_suite ----------------------------------------------------------------

#: operator_suite: untimed suite rounds after the checked execution, and
#: the fewest timed rounds a run makes
WARMUP_ROUNDS = 3
MIN_ROUNDS = 3


def operator_suite(run: Run) -> None:
    """The query list on seeded tables: one checked execution per query
    (compared with its DuckDB ``oracle_sql`` twin), ``WARMUP_ROUNDS``
    untimed rounds of noop-sink executions, then timed rounds until the
    seconds are spent (at least ``MIN_ROUNDS``)."""
    import duckdb

    from google_sheets_etl_spark.queries import ORACLE, QUERIES
    from tools.driver_mimic import canon

    t0 = time.perf_counter()
    gen = []
    for i in range(3):
        t1 = time.perf_counter()
        data = tb.write_tables(os.path.join(run.work, f"tables-{i}"), run.seed)
        gen.append(time.perf_counter() - t1)
    con = duckdb.connect()
    for name in tb.TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, name)}.parquet')")
    for name in SUITE:
        df = QUERIES[name](run.spark, data)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        pdf = con.execute(ORACLE[name]).df()
        want = canon(list(pdf.itertuples(index=False, name=None)), list(pdf.columns),
                     from_pandas=True)
        run.check(bool(rows) and canon(rows, cols) == want,
                  f"{name}: {len(rows)} rows differ from its oracle ({len(pdf)} rows)")
        run.spark.catalog.clearCache()
    con.close()
    setup_s = time.perf_counter() - t0 - sum(gen) + statistics.median(gen)
    run.named["tables_s"] = statistics.median(gen)
    run.named["checked_exec_s"] = time.perf_counter() - t0 - sum(gen)

    def one_round(times: dict | None) -> float:
        t0 = time.perf_counter()
        for name in SUITE:
            with run.tracer.span(f"queries.{name}", request=name) as sp:
                QUERIES[name](run.spark, data).write.mode("overwrite").format("noop").save()
            if times is not None:
                times[name].append(sp.end - sp.start)
                run.attempted += 1
            run.spark.catalog.clearCache()
        run.tracer.harvest()
        return time.perf_counter() - t0

    # untimed rounds: JIT and Python workers keep speeding the suite up for
    # a few rounds after its first execution
    t0 = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        one_round(None)
    run.named["warmup_s"] = time.perf_counter() - t0
    times: dict[str, list[float]] = {n: [] for n in SUITE}
    run.mark = len(run.tracer.spans)
    t_run, jvm0 = time.perf_counter(), run.jvm_s()
    rounds: list[float] = []
    while len(rounds) < MIN_ROUNDS or time.perf_counter() - t_run < run.seconds:
        rounds.append(one_round(times))
    run.named["timed_gc_s"], run.named["timed_jit_s"] = (
        b - a for a, b in zip(jvm0, run.jvm_s()))
    med = {n: statistics.median(v) for n, v in times.items()}
    run.named.update({f"query_{n}_s": v for n, v in med.items()})
    run.named["suite_rounds"] = len(rounds)
    run.e2e.update(setup_s=setup_s, wall_s=sum(med.values()),
                   op_p50_s=statistics.median(med.values()),
                   ops_per_s=len(SUITE) / statistics.median(rounds))


WORKLOADS = {"sheet_sync": sheet_sync, "operator_suite": operator_suite}

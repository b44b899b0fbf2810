"""Metric names, units and directions, and their computation from a run.

``END_TO_END`` and ``per_layer_names()`` are the lists ``BENCHMARK.json``
declares; README.md says which per-layer metric should move which
end-to-end metric on which workload. Per-layer numbers cover the timed
section only (spans from ``Run.mark`` on), except the set-up figures.
"""

from __future__ import annotations

from collections import defaultdict

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

_UNIT = {"calls": "count", "s": "s", "spark_jobs": "count", "executor_run_s": "s",
         "shuffle_bytes": "bytes", "bytes_written": "bytes", "files_written": "count",
         "cells": "count"}

#: span (or span-name prefix, for a whole module) -> reported fields;
#: ``s`` is self time, the span's duration minus its child spans
SPANS = [
    ("sources.get_sheet", ("calls", "s", "cells")),
    ("sources.list_spreadsheets", ("calls", "s")),
    ("etl.find_updated_spreadsheets", ("calls", "s", "spark_jobs")),
    ("etl.filter_extractable", ("calls", "s", "spark_jobs")),
    ("etl.load_sheet", ("calls", "s", "spark_jobs", "executor_run_s", "shuffle_bytes")),
    ("etl.refresh_load_profiles", ("calls", "s", "spark_jobs")),
    ("etl.typed_target", ("calls", "s", "spark_jobs")),
    ("operators.rows", ("calls", "s", "spark_jobs")),
    ("operators.watermark", ("calls", "s", "spark_jobs")),
    ("operators.change_filter", ("calls", "s")),
    ("operators.typed_views", ("calls", "s", "spark_jobs", "executor_run_s", "shuffle_bytes")),
    ("plans.state_table.upsert",
     ("calls", "s", "spark_jobs", "executor_run_s", "shuffle_bytes", "bytes_written")),
    ("plans.state_table.overwrite", ("calls", "s", "spark_jobs", "bytes_written")),
    ("plans.state_table.read", ("calls", "s")),
    ("plans.target_table.overwrite_job_partition",
     ("calls", "s", "spark_jobs", "executor_run_s", "files_written", "bytes_written")),
    ("plans.target_table.read", ("calls", "s")),
    ("plans.target_table.delete_job_partition", ("calls", "s")),
]

#: queries.<name>.* are inclusive of the spans nested in the query
QUERY_FIELDS = ("s", "spark_jobs", "executor_run_s", "shuffle_bytes")

NAMED = [
    ("session.get_spark_s", "s", "lower"),
    ("etl.set_up_accounting.s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("plans.state_table.bytes_written", "bytes", "lower"),
    ("etl.spark_jobs_per_sheet", "count", "lower"),
    ("etl.discovered", "count", "higher"),
    ("etl.selected", "count", "higher"),
    ("etl.loaded", "count", "higher"),
    ("etl.skipped_unchanged", "count", "higher"),
    ("etl.failed", "count", "lower"),
    ("etl.load_useful_ratio", "ratio", "higher"),
    ("sheets_per_s", "1/s", "higher"),
    ("rows_per_s", "1/s", "higher"),
    ("sheet_load_p50_s", "s", "lower"),
    ("sheet_load_tail_s", "s", "lower"),
    ("sheet_load_tail_pct", "%", "lower"),
    ("sheet_load_samples", "count", "higher"),
    ("cold_pass_cpu_s", "s", "lower"),
    ("cycle_cpu_s", "s", "lower"),
    ("noop_pass_s", "s", "lower"),
    ("change_pass_s", "s", "lower"),
    ("typed_read_p50_s", "s", "lower"),
    ("typed_read_tail_s", "s", "lower"),
    ("typed_read_tail_pct", "%", "lower"),
    ("typed_read_samples", "count", "higher"),
    ("failed_fraction", "ratio", "lower"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),
    ("traced_wall_s", "s", "lower"),
    ("trace_spans", "count", "lower"),
]


def _better(field: str) -> str:
    return "higher" if field == "cells" else "lower"


def per_layer_names(suite) -> list[tuple[str, str, str]]:
    out = [(f"{span}.{f}", _UNIT[f], _better(f)) for span, fields in SPANS for f in fields]
    out += [(f"queries.{q}.{f}", _UNIT[f], "lower") for q in suite for f in QUERY_FIELDS]
    return out + NAMED


def end_to_end(run) -> dict[str, float]:
    return {n: run.e2e.get(n, 0.0) for n, _, _ in END_TO_END}


def per_layer(run, suite) -> dict[str, float]:
    by = run.tracer.by_name(run.mark)
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for name, fields in by.items():
        for span, _ in SPANS:
            if name == span or name.startswith(span + "."):
                for k, v in fields.items():
                    agg[span][k] += v
    out: dict[str, float] = {}
    for span, fields in SPANS:
        for f in fields:
            out[f"{span}.{f}"] = agg[span]["self_s" if f == "s" else f]
    for q in suite:
        fields = by.get(f"queries.{q}", {})
        for f in QUERY_FIELDS:
            key = {"s": "s", "spark_jobs": "spark_jobs_inclusive",
                   "executor_run_s": "executor_run_s_inclusive",
                   "shuffle_bytes": "shuffle_bytes_inclusive"}[f]
            out[f"queries.{q}.{f}"] = fields.get(key, 0.0)
    loads = by.get("etl.load_sheet", {})
    c = run.counts
    out["session.get_spark_s"] = run.named.get("session_s", 0.0)
    out["etl.set_up_accounting.s"] = run.named.get("engine_setup_s", 0.0)
    out["plans.state_table.bytes_written"] = sum(
        by.get(f"plans.state_table.{f}", {}).get("bytes_written", 0.0)
        for f in ("upsert", "overwrite", "create_if_not_exists"))
    out["etl.spark_jobs_per_sheet"] = (loads.get("spark_jobs_inclusive", 0.0)
                                       / loads["calls"] if loads.get("calls") else 0.0)
    for k in ("discovered", "selected", "loaded", "skipped_unchanged", "failed"):
        out[f"etl.{k}"] = c.get(f"etl.{k}", 0.0)
    out["etl.load_useful_ratio"] = (c["etl.loaded"] / c["etl.selected"]
                                    if c.get("etl.selected") else 0.0)
    for n, _, _ in NAMED:
        if n in run.named:
            out[n] = float(run.named[n])
    out["failed_fraction"] = run.failed / max(1, run.attempted)
    out["traced_wall_s"] = run.e2e.get("wall_s", 0.0)
    out["trace_spans"] = len(run.tracer.spans)
    return out

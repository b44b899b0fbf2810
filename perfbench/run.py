"""Benchmark entry point.

    python3 perfbench/run.py --workload sheet_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds nothing: the package is imported
from the checkout. Generates the workload's inputs from ``--seed``, runs it
on a ``local[nproc]`` Spark session for about ``--seconds`` of timed work,
checks every output against the model or the query's oracle, and prints:

- one line ``perfbench-detail {...}`` with every named metric, the checks
  that failed, host context (nproc, Spark master, loadavg at start and end,
  calibration probes at start and end) and, when traced, the trace file;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).

Exits 1 when any check fails, 2 when the package cannot be imported.
All scratch files live under ``.perfbench_work/`` in the current directory
and are removed at exit; a traced run also writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc (no psutil)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> None:
    """Everything Spark and its Python workers write goes under ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no /tmp/hsperfdata_* file: the JVM's perf counters are not read here
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway process
    ends when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the script's own directory must not shadow stdlib modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        import google_sheets_etl_spark  # noqa: F401
        from bench import _calibration_probes
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench import workloads as wl
    from perfbench.spans import Tracer

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    host = {"nproc": _nproc(), "loadavg_start": _loadavg(),
            "calibration_start": _calibration_probes()}

    from google_sheets_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    host["master"] = spark.sparkContext.master
    tracer = Tracer(spark if args.trace else None)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    run = wl.Run(spark, tracer, args.seed, args.seconds, work,
                 jvm_pid=jvm_pid)
    try:
        wl.instrument(tracer, full=bool(args.trace))
        t0 = time.perf_counter()
        try:
            wl.WORKLOADS[args.workload](run)
        except Exception as exc:  # noqa: BLE001 — report the run as failed
            import traceback

            traceback.print_exc()
            run.check(False, f"workload raised {exc!r}")
        run.named["run_s"] = time.perf_counter() - t0
        tracer.harvest()
        run.e2e["setup_s"] = run.e2e.get("setup_s", 0.0) + session_s
        run.named["peak_rss_mb"] = _hwm_mb("self") + _hwm_mb(jvm_pid)
        run.named["session_s"] = session_s
    finally:
        tracer.restore()
        _stop(spark)
    host.update(loadavg_end=_loadavg(), calibration_end=_calibration_probes())

    names = (metrics.END_TO_END if not args.trace
             else metrics.per_layer_names(wl.SUITE))
    values = (metrics.end_to_end(run) if not args.trace
              else metrics.per_layer(run, wl.SUITE))
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "named": run.named, "e2e": run.e2e, "failures": run.failures[:20],
              "host": host}
    if args.trace:
        os.makedirs(os.path.join(os.getcwd(), ".perfbench_out"), exist_ok=True)
        out = os.path.join(os.getcwd(), ".perfbench_out",
                           f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"spans": tracer.dump(), "per_layer": values}, fh)
        detail["trace_file"] = out
    print("perfbench-detail " + json.dumps(detail, default=str))
    shutil.rmtree(work, ignore_errors=True)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u, _ in names},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

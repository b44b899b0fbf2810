"""Spans and Spark-job attribution recorded from outside the package.

A :class:`Tracer` replaces public functions of the package with wrappers
that open a span around each call. Spans are kept in memory: name, start,
end, parent span and a request id (the spreadsheet/sheet or query the work
is for). When a Spark session is attached, each span also sets its own
Spark job group for the duration of the call, restoring the enclosing
span's group on exit, so every job is attributed to the innermost span
that started it. ``harvest`` reads the jobs of finished spans and their
stage metrics from the status store; the store keeps a bounded number of
jobs, so callers harvest once per pass.
"""

from __future__ import annotations

import math
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    jobs: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``spark=None`` records timings only (no job groups)."""

    _GROUP = "spark.jobGroup.id"

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._unharvested: list[Span] = []
        self._group = f"perfbench-{uuid.uuid4().hex[:8]}-"  # unique per tracer

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent.id if parent else None,
                  request if request is not None else (parent.request if parent else None))
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty(self._GROUP, f"{self._group}{sp.id}")
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(self._GROUP, f"{self._group}{parent.id}" if parent else None)
                self._unharvested.append(sp)

    def wrap(self, owner, attr: str, name: str, request=None, before=None, count=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``request(*args)``
        names the request; ``before(*args)`` takes state ahead of the call
        and ``count(span, result, state, *args)`` adds counts after it."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            req = request(*args, **kwargs) if request else None
            with tracer.span(name, req) as sp:
                state = before(*args, **kwargs) if before else None
                out = orig(*args, **kwargs)
                if count:
                    count(sp, out, state, *args, **kwargs)
                return out

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, owner.__dict__.get(attr, orig)
                              if isinstance(owner, type) else orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def harvest(self) -> None:
        """Attach Spark job counts and stage metrics to finished spans."""
        if self.spark is None or not self._unharvested:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for sp in self._unharvested:
            for jid in tracker.getJobIdsForGroup(f"{self._group}{sp.id}"):
                sp.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — stage evicted from the store
                        continue
                    sp.executor_run_s += st.executorRunTime() / 1000.0
                    sp.shuffle_bytes += st.shuffleWriteBytes()
        self._unharvested.clear()

    # -- derived numbers ------------------------------------------------------

    def children(self, since: int = 0) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans[since:]:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        return kids

    def by_name(self, since: int = 0) -> dict[str, dict]:
        """Per span name, over the spans from index ``since`` on: calls,
        inclusive and self seconds, jobs attributed to the span itself
        (innermost wins) and to it plus its descendants, executor run
        seconds, shuffle bytes and summed counts."""
        kids = self.children(since)
        incl: dict[int, tuple[int, float, int]] = {}
        for sp in reversed(self.spans[since:]):  # children always follow parents
            sub = [incl[k.id] for k in kids[sp.id]]
            incl[sp.id] = (sp.jobs + sum(x[0] for x in sub),
                           sp.executor_run_s + sum(x[1] for x in sub),
                           sp.shuffle_bytes + sum(x[2] for x in sub))
        out: dict[str, dict] = {}
        for sp in self.spans[since:]:
            agg = out.setdefault(sp.name, defaultdict(float))
            agg["calls"] += 1
            agg["s"] += sp.end - sp.start
            agg["self_s"] += self_time((sp.start, sp.end),
                                       [(k.start, k.end) for k in kids[sp.id]])
            agg["spark_jobs"] += sp.jobs
            agg["executor_run_s"] += sp.executor_run_s
            agg["shuffle_bytes"] += sp.shuffle_bytes
            for i, k in enumerate(("spark_jobs", "executor_run_s", "shuffle_bytes")):
                agg[k + "_inclusive"] += incl[sp.id][i]
            for k, v in sp.counts.items():
                agg[k] += v
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "request": s.request, "jobs": s.jobs,
                 "executor_run_s": s.executor_run_s, "shuffle_bytes": s.shuffle_bytes,
                 **s.counts} for s in self.spans]


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it the children's intervals cover
    (overlapping children count once; parts outside the span not at all)."""
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(samples: list[float]) -> tuple[float | None, float | None, int]:
    """(percentile, value, n): the highest of ``TAIL_PERCENTILES`` that has
    at least ten samples above its nearest-rank position, or ``(None,
    None, n)`` when even the median has fewer than ten beyond it."""
    xs = sorted(samples)
    n = len(xs)
    best = (None, None, n)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))  # nearest-rank, 1-based
        if n - rank >= 10:
            best = (p, xs[rank - 1], n)
    return best

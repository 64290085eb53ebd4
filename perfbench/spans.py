"""In-memory span tracer for the traced benchmark run.

A span has a name, a start, an end and a parent. While a span is open
on a thread, Spark jobs launched from that thread carry the span's own
job group (the ``spark.jobGroup.id`` local property), so the status
tracker can later attribute job and task counts to the innermost span.

The package itself is never edited: :func:`install` wraps the public
functions of each layer from here, and :func:`uninstall` puts the
originals back. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children
    cover (children of threaded code may overlap; the union counts)."""
    kids = children_of(spans)
    return {
        s.sid: s.dur - union_length(
            [(c.start, c.end) for c in kids.get(s.sid, ())], s.start, s.end
        )
        for s in spans
    }


def coverage(span: Span, spans: list[Span]) -> float:
    """Share of ``span``'s wall covered by its direct children."""
    kids = children_of(spans).get(span.sid, ())
    if span.dur <= 0:
        return 0.0
    return union_length([(c.start, c.end) for c in kids], span.start, span.end) / span.dur


def subtree(root: Span, spans: list[Span]) -> list[Span]:
    kids = children_of(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, ()))
    return out


class Tracer:
    """Collects spans; one stack per thread. A thread with no open span
    (a streaming ``foreachBatch`` callback) parents its spans to the
    innermost span of the thread that opened the tracer's root."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] | None = None
        self._lock = threading.Lock()
        self.wrapper_s = 0.0  # bookkeeping time spent inside span()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if self._main_stack is None:
                self._main_stack = st
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        main = self._main_stack
        return main[-1] if main else None

    def group(self, span: Span) -> str:
        return f"perfbench-{span.sid}"

    def open(self, name: str, **attrs) -> tuple[Span, str | None]:
        t0 = time.perf_counter()
        parent = self.current()
        span = Span(next(self._ids), name, parent.sid if parent else None, 0.0, attrs=attrs)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, self.group(span))
        self._stack().append(span)
        with self._lock:
            self.spans.append(span)
        span.start = time.perf_counter()
        self.wrapper_s += span.start - t0
        return span, prev

    def close(self, span: Span, prev: str | None) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, prev)
        self.wrapper_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span, prev = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span, prev)

    def wrap(self, fn, name, when=None, attrs=None):
        """``fn`` wrapped in a span called ``name`` (a string, or a
        callable of the call's arguments). ``when(parent)`` restricts
        the span to calls made directly under a matching parent span;
        ``attrs(result, *args)`` adds attributes after the call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if when is not None:
                parent = self.current()
                if parent is None or not when(parent):
                    return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            span, prev = self.open(label)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span, prev)
            if attrs is not None:
                span.attrs.update(attrs(result, *args, **kwargs))
            return result

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper

    def count_jobs(self) -> None:
        """Attribute job, task and failed-task counts to every span
        (call once, after the traced work has finished)."""
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for span in self.spans:
            jobs = list(tracker.getJobIdsForGroup(self.group(span)))
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st = tracker.getStageInfo(sid)
                    if st:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            span.attrs.update(jobs=len(jobs), tasks=tasks, tasks_failed=failed)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "self": selfs[s.sid],
                    **s.attrs,
                }) + "\n")


def _patch(owner, attr, new, undo):
    undo.append((owner, attr, getattr(owner, attr)))
    setattr(owner, attr, new)


def install(tracer: Tracer) -> list:
    """Wrap each layer's public functions; returns the undo list."""
    try:  # Spark 4: the classic DataFrame overrides the base-class methods
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline import runner
    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.ledger import FileLedger
    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import (
        SnapshotTable,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming import ingest

    undo: list = []
    under = lambda *names: (lambda parent: parent.name in names)  # noqa: E731

    _patch(runner, "run_entity", tracer.wrap(
        runner.run_entity, "runner.run_entity",
        attrs=lambda out, spark, wh, spec, *a, **k: {"entity": spec.name},
    ), undo)
    merge_batch = tracer.wrap(runner.merge_entity_batch, "runner.merge_entity_batch")
    _patch(runner, "merge_entity_batch", merge_batch, undo)
    _patch(ingest, "merge_entity_batch", merge_batch, undo)
    for fn in ("merge_upsert", "apply_scd2", "latest_per_key"):
        _patch(runner, fn, tracer.wrap(getattr(runner, fn), "merge.plan"), undo)
    for fn in ("unprocessed", "pending_fingerprint", "mark"):
        _patch(FileLedger, fn, tracer.wrap(getattr(FileLedger, fn), "ledger"), undo)

    def write_name(table, df, *a, **k):
        layer = "clean" if table.dir.rstrip("/").split("/")[-2] == "clean" else "consumption"
        return f"snapshot.write_{layer}"

    def written_bytes(version, table, df, *a, **k):
        return {"bytes": dir_bytes(table._path(version))}

    _patch(SnapshotTable, "write",
           tracer.wrap(SnapshotTable.write, write_name, attrs=written_bytes), undo)
    _patch(SnapshotTable, "read", tracer.wrap(SnapshotTable.read, "snapshot.read"), undo)
    _patch(ingest, "merge_microbatch",
           tracer.wrap(ingest.merge_microbatch, "stream.merge_microbatch"), undo)
    _patch(DataFrame, "head", tracer.wrap(
        DataFrame.head, "stream.head", when=under("stream.merge_microbatch")), undo)
    _patch(DataFrame, "localCheckpoint", tracer.wrap(
        DataFrame.localCheckpoint, "stream.checkpoint",
        when=under("runner.merge_entity_batch")), undo)
    _patch(DataFrame, "count", tracer.wrap(
        DataFrame.count, "runner.stats", when=under("runner.run_entity")), undo)
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def dir_bytes(path: str) -> int:
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total

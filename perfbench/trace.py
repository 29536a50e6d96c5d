"""Spans recorded from the benchmark's own code, a timing wrapper for
the checkpoint sink, and the fold of Spark's event log into per-span
counters.

Spans live in memory until the run ends.  Spark work is tied to a span
by its job group, which the span sets on the calling thread.  Jobs
submitted from other threads (``run_with_resume``'s shard pool) carry no
group and go to the innermost span open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

from markdown_articles_tool_spark.io_sinks import TableSink


@dataclass
class Span:
    span_id: str
    name: str
    start: float            # epoch seconds, comparable with event-log times
    end: float = 0.0
    parent: Optional[str] = None
    run_id: str = ''
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._lock = threading.Lock()

    def span(self, name: str) -> '_SpanCtx':
        return _SpanCtx(self, name)

    def add(self, name: str, start: float, end: float, parent: Optional[str]) -> Span:
        """A span measured elsewhere (e.g. by a pool thread)."""
        with self._lock:
            s = Span(f'{self.run_id}:{len(self.spans)}', name, start, end, parent, self.run_id)
            self.spans.append(s)
        return s

    def current(self) -> Optional[str]:
        return self._stack[-1].span_id if self._stack else None

    def by_name(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        s = t.add(self.name, time.time(), 0.0, t.current())
        t._stack.append(s)
        t.sc.setJobGroup(s.span_id, s.name)
        self.span = s
        return s

    def __exit__(self, *exc):
        t = self.tracer
        self.span.end = time.time()
        t._stack.pop()
        if t._stack:
            t.sc.setJobGroup(t._stack[-1].span_id, t._stack[-1].name)
        else:
            t.sc.setLocalProperty('spark.jobGroup.id', None)
        return False


class TimingSink(TableSink):
    """Wraps a ``TableSink``: every write and read becomes a child span
    of the span open when the sink was made, plus byte and file counts
    of what each write left on disk (parquet sinks only)."""

    def __init__(self, inner, tracer: Tracer, root: Optional[str] = None):
        self.inner = inner
        self.tracer = tracer
        self.parent = tracer.current()
        self.root = root
        self.written_bytes = 0
        self.files_written = 0

    def _timed(self, op: str, name: str, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.tracer.add(f'io_sinks.{op}', t0, time.time(), self.parent).counters['table'] = name

    def write(self, df, name: str) -> None:
        self._timed('write', name, lambda: self.inner.write(df, name))
        if self.root is not None:
            nbytes, nfiles = parquet_footprint(os.path.join(self.root, name))
            with self.tracer._lock:
                self.written_bytes += nbytes
                self.files_written += nfiles

    def read(self, spark, name: str):
        return self._timed('read', name, lambda: self.inner.read(spark, name))

    def mark_committed(self, marker: str) -> None:
        self.inner.mark_committed(marker)

    def is_committed(self, marker: str) -> bool:
        return self.inner.is_committed(marker)


def parquet_footprint(path: str) -> tuple:
    """(bytes, files) of the parquet files under ``path``."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith('.parquet'):
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
    return nbytes, nfiles


def read_event_log(event_dir: str) -> list:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, '**', 'events_*'), recursive=True)):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_event_log(events: list, spans: list) -> None:
    """Attach Spark counters to each span (inclusive of child spans):
    executor CPU, GC, shuffle fetch wait, shuffle bytes written, tasks,
    failed tasks, task-time skew of the span's heaviest stage, bytes
    sent to Python workers and the Python operators that ran."""
    by_id = {s.span_id: s for s in spans}

    def innermost(t_s: float) -> Optional[Span]:
        live = [s for s in spans if s.start <= t_s <= s.end and s.end > 0]
        return max(live, key=lambda s: s.start) if live else None

    def owner(group: Optional[str], t_ms: float) -> Optional[Span]:
        if group in by_id:
            return by_id[group]
        return innermost(t_ms / 1000.0)

    stage_span: dict = {}
    self_c = {s.span_id: _zero() for s in spans}
    stage_tasks: dict = {}
    accum_max: dict = {}     # (span_id, accumulator id) -> value
    for e in events:
        kind = e['Event']
        if kind == 'SparkListenerJobStart':
            group = (e.get('Properties') or {}).get('spark.jobGroup.id')
            s = owner(group, e.get('Submission Time', 0))
            for sid in e.get('Stage IDs', ()):
                stage_span[sid] = s
        elif kind == 'SparkListenerTaskEnd':
            s = stage_span.get(e['Stage ID'])
            if s is None:
                continue
            c = self_c[s.span_id]
            m = e.get('Task Metrics') or {}
            info = e['Task Info']
            c['tasks'] += 1
            if info.get('Failed') or (e.get('Task End Reason') or {}).get('Reason') != 'Success':
                c['failed_tasks'] += 1
            c['executor_cpu_s'] += m.get('Executor CPU Time', 0) / 1e9
            c['gc_s'] += m.get('JVM GC Time', 0) / 1e3
            c['shuffle_fetch_wait_s'] += (m.get('Shuffle Read Metrics') or {}).get('Fetch Wait Time', 0) / 1e3
            c['shuffle_write_mb'] += (m.get('Shuffle Write Metrics') or {}).get('Shuffle Bytes Written', 0) / 1e6
            key = (s.span_id, e['Stage ID'])
            stage_tasks.setdefault(key, []).append((info['Finish Time'] - info['Launch Time']) / 1e3)
        elif kind == 'SparkListenerStageCompleted':
            s = stage_span.get(e['Stage Info']['Stage ID'])
            if s is None:
                continue
            for a in e['Stage Info'].get('Accumulables', ()):
                if a.get('Name') == 'data sent to Python workers':
                    k = (s.span_id, a['ID'])
                    accum_max[k] = max(accum_max.get(k, 0), int(a.get('Value') or 0))
    # every Python operator of an executed plan owns one 'data sent to
    # Python workers' metric: the operators that moved bytes are the
    # JVM -> Python crossings that ran (a cached subtree is not re-run,
    # so it is not counted again)
    for (span_id, _aid), v in accum_max.items():
        self_c[span_id]['python_in_mb'] += v / 1e6
        self_c[span_id]['python_crossings'] += v > 0
    # skew of the stage that used the most task time in each span
    heaviest: dict = {}
    for (span_id, _stage), durs in stage_tasks.items():
        if span_id not in heaviest or sum(durs) > sum(heaviest[span_id]):
            heaviest[span_id] = durs
    for span_id, durs in heaviest.items():
        med = statistics.median(durs)
        self_c[span_id]['task_skew'] = max(durs) / med if med > 0 else 1.0
    # inclusive counters: a span's interval covers its children's
    for s in spans:
        s.counters.update({k: v for k, v in self_c[s.span_id].items() if k != 'task_skew'})
        s.counters['task_skew'] = self_c[s.span_id]['task_skew']
    for s in sorted(spans, key=lambda x: -_depth(x, by_id)):
        if s.parent in by_id:
            p = by_id[s.parent]
            for k in _SUMMED:
                p.counters[k] += s.counters[k]


_SUMMED = ('tasks', 'failed_tasks', 'executor_cpu_s', 'gc_s', 'shuffle_fetch_wait_s',
           'shuffle_write_mb', 'python_in_mb', 'python_crossings')


def _zero() -> dict:
    return {k: 0 for k in _SUMMED} | {'task_skew': 0.0}


def _depth(s: Span, by_id: dict) -> int:
    d = 0
    while s.parent in by_id:
        s = by_id[s.parent]
        d += 1
    return d

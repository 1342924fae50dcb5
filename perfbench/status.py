"""Spans and the one status-store reader the traced run uses.

Everything here observes Spark from outside the package: the benchmark
times its own calls into ``apache_arrow_spark`` and reads Spark's
AppStatusStore (jobs, stages) and SQLAppStatusStore (SQL executions and
their plan metrics).  ``read_status`` is the only function that touches
either store, so a later package-level profiler can replace it in one
place.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

# SQL plan metrics the Python-evaluation nodes (mapInArrow, mapInPandas,
# Arrow UDFs) publish; each maps to a per-layer counter and its unit scale.
PYWORKER_METRICS = {
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)")

COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "shuffle_records", "fetch_wait_s",
    *PYWORKER_METRICS.values(),
)


@dataclass
class Marks:
    """Watermarks: the highest job, stage and SQL execution ids already read."""

    job: int = -1
    stage: int = -1
    execution: int = -1


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span list; ``dump`` returns it for writing at run end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, parent: int | None = None) -> int:
        self.spans.append(Span(name, time.time(), parent=parent))
        return len(self.spans) - 1

    def close(self, idx: int, **attrs) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        span.attrs.update(attrs)
        return span

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
            for i, s in enumerate(self.spans)
        ]


def _parse_metric(text: str, kind: str) -> float:
    """Value of a formatted SQL metric ('total (min, med, max ...)\\n12.3 MiB
    (...)' or a bare '0 ms') in MB or seconds."""
    m = _VALUE.search(text.split("\n", 1)[-1])
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return num * _SIZE.get(unit, 1) / 1e6
    return num * _TIME.get(unit, 1.0)


def _stores(spark):
    sc = spark.sparkContext._jsc.sc()
    return sc, sc.statusStore(), spark._jsparkSession.sharedState().statusStore()


def read_status(spark, marks: Marks) -> tuple[dict, list[tuple[int, int]], Marks]:
    """Counters for everything that ran since ``marks``.

    Drains the listener bus, then reads jobs with id > marks.job, their
    stages with id > marks.stage (a stage id at or under the watermark is
    an earlier operation's stage that this one reused and skipped), and
    SQL executions with id > marks.execution.  Returns (counters, stage
    intervals in epoch ms, advanced marks)."""
    sc, store, sql = _stores(spark)
    sc.listenerBus().waitUntilEmpty()
    out = dict.fromkeys(COUNTERS, 0.0)
    intervals: list[tuple[int, int]] = []
    new = Marks(marks.job, marks.stage, marks.execution)
    stage_ids: set[int] = set()
    job = marks.job + 1
    while True:
        try:
            data = store.job(job)
        except Exception:  # py4j NoSuchElementException: no such job yet
            break
        ids = data.stageIds()
        stage_ids.update(s for s in (ids.apply(i) for i in range(ids.size())) if s > marks.stage)
        new.job = job
        out["jobs"] += 1
        job += 1
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        new.stage = max(new.stage, sid)
        if s.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["run_s"] += s.executorRunTime() / 1e3
        out["cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        out["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
        out["shuffle_records"] += s.shuffleWriteRecords()
        out["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        sub, done = s.submissionTime(), s.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime(), done.get().getTime()))
    execution = marks.execution + 1
    while True:
        opt = sql.execution(execution)
        if not opt.isDefined():
            break
        metrics, values = opt.get().metrics(), sql.executionMetrics(execution)
        seen: set[int] = set()
        for i in range(metrics.size()):
            m = metrics.apply(i)
            key = PYWORKER_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += _parse_metric(v.get(), m.metricType())
        new.execution = execution
        execution += 1
    return out, intervals, new


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

"""Measurement from outside the package: spans, progress, status store.

- ``Tracer`` keeps spans in memory (name, start, end, parent, key,
  table, thread) and installs timing wrappers around the public calls
  into each layer; ``restore()`` puts the originals back. Wrappers are
  installed only in a traced run.
- ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` of the streaming query.
- ``stage_totals`` / ``jobs_in_window`` read Spark's status store
  after the timer has stopped.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    key: str | None = None  # micro-batch id or query name
    table: str | None = None
    thread: int = 0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.current_key: str | None = None  # the micro-batch in flight
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def record(self, name: str, start: float, end: float, key=None, table=None) -> Span:
        span = Span(next(self._ids), name, start, end, key, table, threading.get_ident())
        with self._lock:
            self.spans.append(span)
        return span

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counts[counter] = self.counts.get(counter, 0) + value

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until ``restore()``."""
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, owner, attr: str, name: str, table_fn=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``,
        keyed by the micro-batch in flight; ``table_fn(args)`` names the
        table the call works on."""

        def make(original):
            def wrapper(*args, **kwargs):
                key = self.current_key
                t0 = time.perf_counter()
                try:
                    return original(*args, **kwargs)
                finally:
                    table = table_fn(args) if table_fn else None
                    self.record(name, t0, time.perf_counter(), key, table)

            return wrapper

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def link_parents(self, parent_name: str) -> None:
        """Parent every span with a key to the ``parent_name`` span of
        the same key (micro-batch id), whatever thread it ran on."""
        parents = {s.key: s.id for s in self.spans if s.name == parent_name}
        for s in self.spans:
            if s.name != parent_name and s.key in parents:
                s.parent = parents[s.key]

    def self_time(self, span: Span) -> float:
        children = [
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.id and c.end > span.start and c.start < span.end
        ]
        return span.dur - union_length(children)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


class ProgressListener(StreamingQueryListener):
    """Keeps the progress of every micro-batch that read input."""

    def __init__(self) -> None:
        self.progress: list = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if event.progress.numInputRows > 0:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


STAGE_FIELDS = {
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),  # plus memoryBytesSpilled below
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def stage_totals(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks and summed stage metrics of ``job_ids``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
    out.update({k: 0.0 for k in STAGE_FIELDS})
    for job_id in job_ids:
        job = store.job(job_id)
        out["spark.jobs"] += 1
        for stage_id in _seq(job.stageIds()):
            stage = store.lastStageAttempt(stage_id)
            if stage.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["spark.stages"] += 1
            out["spark.tasks"] += stage.numCompleteTasks()
            for k, (method, scale) in STAGE_FIELDS.items():
                out[k] += getattr(stage, method)() * scale
            out["spark.spill_bytes"] += stage.memoryBytesSpilled()
    return out


def jobs_in_window(spark, windows: list[tuple[int, int]]) -> list[list[int]]:
    """Job ids submitted inside each ``(start_ms, end_ms)`` window, for
    attributing jobs to micro-batches (which never overlap)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    submitted = []
    for job in _seq(store.jobsList(None)):
        sub = job.submissionTime()
        if sub.isDefined():
            submitted.append((sub.get().getTime(), job.jobId()))
    return [[j for t, j in submitted if lo <= t <= hi] for lo, hi in windows]


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning of ``df``'s plan, from its
    query-execution phase tracker (planning is forced if still lazy)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""
    from pyspark import SparkContext

    def hwm_kb(pid) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    jvm = SparkContext._gateway.proc.pid
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024.0


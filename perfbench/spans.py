"""Spans around calls into the engine's layers, recorded from outside the
package, plus per-span Spark counters from the AppStatusStore.

A span records its name, id, parent id, start and end (``perf_counter``
seconds) and the Spark job-id watermark at both ends. Jobs are numbered in
submission order, so the jobs a span caused are the ids in
``[job_lo, job_hi)``. Spans are opened on the driver's main thread only
(the engine's own thread pools run inside a span and their jobs land in
it). Job and stage figures are looked up after the pass, outside the timed
region, by :class:`JobStats`.

:func:`install` wraps the layer functions under the names ``pipeline``
imports them by, the sink methods and the concrete classic
``DataFrame.count`` (the PySpark 4 facade ``pyspark.sql.DataFrame.count``
is not what ``process_day`` calls). Wrappers record only while a pass is
being traced; otherwise they call straight through.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            "job_lo": self.job_lo,
            "job_hi": self.job_hi,
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder. ``watermark`` returns the id the next
    Spark job will get."""

    def __init__(self, watermark):
        self.watermark = watermark
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, parent, time.perf_counter(), self.watermark(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.job_hi = self.watermark()
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap the ingest layers. ``process_day`` looks these names up in its
    own module globals at call time, so patching ``pipeline.<name>`` puts
    a span around every call it makes."""
    from pyspark.sql.classic.dataframe import DataFrame

    from etl_from_s3_to_postgresql_template_spark import pipeline
    from etl_from_s3_to_postgresql_template_spark.sinks.base import ParquetSink

    def files_listed(sp, args, out):
        sp.attrs["files"] = len(out)

    def files_kept(sp, args, out):
        sp.attrs["files_in"] = len(args[1])
        sp.attrs["files"] = len(out)

    def columns_dropped(sp, args, out):
        sp.attrs["columns_dropped"] = len(args[0].columns) - len(out.columns)

    tracer.wrap(pipeline, "process_day", "pipeline.process_day")
    tracer.wrap(pipeline, "list_files", "csv_ingest.list_files", files_listed)
    tracer.wrap(pipeline, "prune_paths_by_date", "csv_ingest.prune_paths_by_date", files_kept)
    tracer.wrap(pipeline, "probe_headers", "csv_ingest.probe_headers")
    tracer.wrap(pipeline, "ingest_day_plan", "pipeline.ingest_day_plan")
    tracer.wrap(pipeline, "drop_all_null_columns", "cleanse.drop_all_null_columns", columns_dropped)
    tracer.wrap(pipeline, "dedup_exact", "cleanse.dedup_exact")
    tracer.wrap(ParquetSink, "write_day", "sinks.write_day")
    tracer.wrap(ParquetSink, "write_audit", "sinks.write_audit")
    tracer.wrap(DataFrame, "count", "dataframe.count")


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0

    def as_dict(self) -> dict:
        return dict(self.__dict__)


class JobStats:
    """Per-job figures from Spark's AppStatusStore (the store
    ``tools/profile_jobs.py`` reads), cached by job id. Stages that were
    skipped (their shuffle output reused) count in no job; a stage shared
    by several jobs counts once per span."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._dag = sc._jsc.sc().dagScheduler()
        self._jobs: dict[int, list[int]] = {}
        self._stages: dict[int, tuple] = {}

    def watermark(self) -> int:
        return int(self._dag.nextJobId())

    def _stage(self, sid: int) -> tuple:
        if sid not in self._stages:
            sd = self._store.lastStageAttempt(sid)
            self._stages[sid] = (
                sd.status().toString(),
                sd.numCompleteTasks(),
                sd.executorRunTime() / 1000.0,
                sd.inputBytes(),
                sd.inputRecords(),
                sd.shuffleWriteBytes(),
            )
        return self._stages[sid]

    def counters(self, lo: int, hi: int) -> Counters:
        c = Counters()
        seen: set[int] = set()
        for jid in range(lo, hi):
            if jid not in self._jobs:
                info = self._tracker.getJobInfo(jid)
                self._jobs[jid] = list(info.stageIds) if info is not None else []
            c.jobs += 1
            for sid in self._jobs[jid]:
                if sid in seen:
                    continue
                seen.add(sid)
                status, tasks, run_s, in_b, in_r, sw_b = self._stage(sid)
                if status == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += tasks
                c.executor_run_s += run_s
                c.input_bytes += in_b
                c.input_records += in_r
                c.shuffle_write_bytes += sw_b
        return c

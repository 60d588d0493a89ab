"""Spans and Spark-side counters for the benchmark's traced runs.

Spans are recorded only by the benchmark's own files, around the calls it
makes into each layer's public functions, and kept in memory until the run
ends. Job, stage and task numbers come from Spark's status tracker and its
application status store, which are populated with the UI disabled too.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import sys
import threading
import time

from aws_glue_pyspark_incrementality_and_parallelism_spark import parallel, pipeline
from aws_glue_pyspark_incrementality_and_parallelism_spark.sources import incremental, io

PACKAGE = "aws_glue_pyspark_incrementality_and_parallelism_spark"


class Tracer:
    """Thread-aware span recorder: (name, start, end, parent, op) per span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, object]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def context(self) -> tuple[int, object] | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, op=None, context: tuple[int, object] | None = None, **attrs):
        """Record one span. ``op`` starts a new operation; otherwise the
        enclosing span (or ``context``, for work handed to another thread)
        supplies the parent and the operation id."""
        outer = context or self.context()
        parent, op_id = (outer if outer else (None, None))
        if op is not None:
            op_id = op
        sid = next(self._ids)
        stack = self._stack()
        stack.append((sid, op_id))
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def catalyst_ms(df) -> dict[str, float]:
    """Plan ``df`` through physical planning and return Catalyst's phase
    times from its QueryExecution tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        p: (phases.apply(p).durationMs() if phases.contains(p) else 0.0)
        for p in ("analysis", "optimization", "planning")
    }


@contextlib.contextmanager
def installed(tracer: Tracer, spark):
    """Wrap the ETL layers' public functions and every engine module's
    ``load_table`` so each call records a span; restore them on exit."""
    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def timed(name):
        def make(orig):
            def wrapper(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)

            return wrapper

        return make

    orig_load = io.load_table
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, "load_table", None) is orig_load:
            patch(mod, "load_table", timed("io.load_table"))
    patch(pipeline, "incremental_read", timed("incremental.read"))
    patch(incremental.IncrementalBatch, "pending_hwm", timed("incremental.hwm_probe"))
    patch(incremental.BookmarkStore, "commit", timed("incremental.commit"))

    def make_write(orig):
        def write_parquet(df, path, *a, **k):
            with tracer.span("io.write_parquet") as rec:
                with tracer.span("catalyst.plan") as cat:
                    cat.update(catalyst_ms(df))
                orig(df, path, *a, **k)
                parts = [e for e in os.scandir(path) if e.name.startswith("part-")]
                rec["files"] = len(parts)
                rec["bytes"] = sum(e.stat().st_size for e in parts)

        return write_parquet

    patch(pipeline, "write_parquet", make_write)

    def make_run_concurrent(orig):
        def run_concurrent(spark_, jobs, max_workers=None):
            with tracer.span("parallel.run_concurrent"):
                ctx = tracer.context()

                def wrap(job):
                    def fn():
                        with tracer.span("parallel.job", context=ctx, job=job.name):
                            return job.fn()

                    return parallel.ReportJob(job.name, fn, job.pool)

                return orig(spark_, [wrap(j) for j in jobs], max_workers)

        return run_concurrent

    patch(parallel, "run_concurrent", make_run_concurrent)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


class StageStats:
    """Reads job and stage metrics from the application status store."""

    FIELDS = (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_read", "shuffle_write", "spill", "input_records", "wait_ms",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def window_jobs(self, start: float, end: float) -> list[int]:
        """Jobs submitted within [start, end] (epoch seconds)."""
        out = []
        for jd in self._conv.asJava(self._store.jobsList(None)):
            sub = jd.submissionTime()
            if sub.isDefined() and start * 1000 <= sub.get().getTime() <= end * 1000:
                out.append(jd.jobId())
        return out

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        t = dict.fromkeys(self.FIELDS, 0.0)
        t["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(self._conv.asJava(self._store.job(jid).stageIds()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks()
            t["run_ms"] += st.executorRunTime()
            t["cpu_ns"] += st.executorCpuTime()
            t["gc_ms"] += st.jvmGcTime()
            t["shuffle_read"] += st.shuffleReadBytes()
            t["shuffle_write"] += st.shuffleWriteBytes()
            t["spill"] += st.diskBytesSpilled()
            t["input_records"] += st.inputRecords()
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                t["wait_ms"] += max(0, first.get().getTime() - sub.get().getTime())
        return t

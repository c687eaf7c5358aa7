"""Span tracer for the benchmark's traced runs.

Spans are recorded from outside the program: ``install`` wraps the public
entry points of each layer (``merge_into.apply_changes`` under both names
it is called by, ``compact``, the ``SnapshotTable`` commit-path methods and
``LineageLog``), and the workloads open spans of their own around calls
whose result is lazy (``SnapshotTable.read``, each parity leg's callable),
so the span covers the action that consumes it.

Every span runs its Spark jobs under a job group of its own, so each job
is attributed to the innermost open span. Stage metrics (executor run
time, shuffle bytes, spill, task counts) are read from the status store
when the run ends, and codegen compile time from Spark's compile-time
counter, read at each span boundary. Micro-batch phase durations come
from ``StreamingQueryProgress.durationMs`` via a ``StreamingQueryListener``,
kept per query run id.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    start: float
    group: str
    parent: int | None
    end: float = 0.0
    codegen_ns: int = 0
    counts: dict = field(default_factory=dict)


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report of every query, and the
    run ids of the queries started and terminated, in arrival order."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> int:
        with self._lock:
            return len(self.started)

    def epochs_of_next_query(self, mark: int, timeout: float = 30.0) -> list[dict]:
        """Progress reports that carried data, of the first query started
        after ``mark``.

        Listener events arrive asynchronously, but a query's terminated
        event comes after all of its progress reports, so wait for it
        (or for the timeout) and keep only that query's reports."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                run_id = self.started[mark] if len(self.started) > mark else None
                done = run_id in self.terminated
                if done or time.monotonic() > deadline:
                    return [p for p in self.progress
                            if p["run_id"] == run_id and p["rows"] > 0]
            time.sleep(0.05)


def progress_interval(p: dict, clock_offset: float) -> tuple[float, float]:
    """A progress report's trigger as a (start, end) on the perf_counter clock."""
    ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    start = ts.timestamp() - clock_offset
    return start, start + p["duration_ms"].get("triggerExecution", 0) / 1000.0


class Tracer:
    """In-memory span recorder. A disabled tracer's ``span`` costs nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # spans are recorded only between install and uninstall, so that
        # set-up and warm-up calls stay out of the timed window's figures
        self.installed = False
        self._compile_time = None
        if enabled:
            jvm = spark.sparkContext._jvm
            self._compile_time = (
                jvm.java.lang.Class.forName(
                    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
                ).getField("MODULE$").get(None)
            )

    def codegen_ns(self) -> int:
        return int(self._compile_time.compileTime()) if self.enabled else 0

    @contextlib.contextmanager
    def span(self, name: str, runs_jobs: bool = True):
        """Record one span while installed. ``runs_jobs=False`` is for calls
        that run no Spark job (manifest reads): no job group and no codegen
        reading, which keeps the span's own cost to two clock reads."""
        if not self.installed:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = Span(name=name, start=time.perf_counter(),
                   group=f"perfbench-{next(self._ids)}" if runs_jobs else "",
                   parent=stack[-1] if stack else None)
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        if not runs_jobs:
            try:
                yield rec
            finally:
                rec.end = time.perf_counter()
                stack.pop()
            return
        sc = self.spark.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        sc.setJobGroup(rec.group, name)
        cg0 = self.codegen_ns()
        try:
            yield rec
        finally:
            rec.codegen_ns = self.codegen_ns() - cg0
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            rec.end = time.perf_counter()
            stack.pop()

    # ------------------------------------------------------------ patching
    def _wrap(self, owner, attr: str, name: str, count=None,
              runs_jobs: bool = True) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, runs_jobs) as rec:
                out = orig(*args, **kwargs)
            # counted after the span closes, so counting costs it nothing
            if rec is not None and count is not None:
                rec.counts.update(count(args, out))
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap each layer's public entry points and start recording spans
        (no-op when disabled)."""
        if not self.enabled:
            return
        self.installed = True
        from arango_etl_spark.operators import merge_into
        from arango_etl_spark.plans.lakehouse import SnapshotTable
        from arango_etl_spark.streaming import lineage, runner

        def applied(args, res):
            return {"keys_applied": res.keys_applied or 0}

        def staged(args, res):
            table, (rel, files) = args[0], res
            return {"files": sum(len(fs) for fs in files.values()),
                    "bytes": sum(os.path.getsize(os.path.join(table.root, f))
                                 for fs in files.values() for f in fs)}

        def committed(args, m):
            table = args[0]
            return {"live_files": sum(len(fs) for fs in m["files"].values()),
                    "manifest_bytes": os.path.getsize(
                        os.path.join(table.meta_dir, f"v{m['version']}.json"))}

        self._wrap(merge_into, "apply_changes", "merge_into.apply", applied)
        self._wrap(runner, "apply_changes", "merge_into.apply", applied)
        self._wrap(merge_into, "compact", "merge_into.compact")
        self._wrap(SnapshotTable, "stage_write", "lakehouse.stage_write", staged)
        self._wrap(SnapshotTable, "commit", "lakehouse.commit", committed)
        self._wrap(SnapshotTable, "manifest", "lakehouse.manifest", runs_jobs=False)
        self._wrap(SnapshotTable, "read_stored", "lakehouse.read_stored")
        self._wrap(lineage.LineageLog, "record_batch", "lineage.record")
        self._wrap(lineage.LineageLog, "failure_count", "lineage.failure_count")

    def uninstall(self) -> None:
        self.installed = False
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ stage metrics
    def stage_metrics(self, groups: list[str]) -> dict[str, dict]:
        """Summed stage metrics of every job run under each job group."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = {}
        for g in groups:
            m = {"jobs": 0, "tasks": 0, "executor_run_ms": 0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "spill_bytes": 0}
            for job_id in tracker.getJobIdsForGroup(g):
                m["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for sid in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage evicted from the status store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    m["tasks"] += sd.numTasks()
                    m["executor_run_ms"] += sd.executorRunTime()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out[g] = m
        return out


def covered_share(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Share of [start, end] covered by the union of ``intervals``."""
    covered, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            covered += b - a
            reach = b
    return covered / (end - start) if end > start else 0.0

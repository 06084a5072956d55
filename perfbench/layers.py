"""Per-layer readings for one key, taken from outside the engine (only
traced runs import this module).

Nothing here reaches into ``sparkgraft``: every figure comes from timing a
call into a public function, or from Spark's own public handles:

- ``statusTracker`` with one job group per key phase (job, stage and task
  counts) and ``statusStore().stageAttempt`` (executor time, shuffle,
  spill, input and output volumes);
- ``queryExecution().tracker().phases()`` (Catalyst phase times);
- the SQL metrics of the executed plan, walked through
  ``AdaptiveSparkPlanExec.executedPlan`` and each ``*QueryStageExec.plan``
  (scan time and files, Python worker times and bytes);
- a ``StreamingQueryListener`` (micro-batch trigger phases).
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# executed-plan SQL metric -> per-layer metric name
_PLAN_METRICS = {
    "scanTime": "scan.time_ms",
    "numFiles": "scan.files",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.total_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}
# StreamingQueryProgress.durationMs phase -> per-layer metric name
_TRIGGER_PHASES = {
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "queryPlanning": "stream.query_planning_ms",
}


class Tracer:
    """In-memory spans: name, start, end, parent and key id (epoch s)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, key: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        if key is None and parent is not None:
            key = self.spans[parent]["key"]
        self.spans.append(
            {"id": sid, "name": name, "key": key, "parent": parent,
             "start": time.time(), "end": None}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        assert self._stack and self._stack[-1] == sid, "spans close in order"
        self._stack.pop()
        self.spans[sid]["end"] = time.time()

    def close_through(self, sid: int) -> None:
        """Close ``sid`` and every span still open inside it."""
        while self._stack[-1] != sid:
            self.close(self._stack[-1])
        self.close(sid)

    def add(self, name: str, start: float, end: float, parent: int, key: str) -> None:
        """Attach a finished span, such as a stream trigger, under ``parent``."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "key": key, "parent": parent,
             "start": start, "end": end}
        )


class StreamRecorder(StreamingQueryListener):
    """Attributes every stream, and each of its triggers, to the key that
    started it. ``onQueryStarted`` runs while ``DataStreamWriter.start()``
    is still inside the key's build call, so the active key is known."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.active: tuple[str, int] | None = None  # (key, key span id)
        self.owner: dict[str, tuple[str, int]] = {}
        self.started: dict[str, float] = {}
        self.events: list[tuple] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            if self.active is not None:
                run = str(event.runId)
                self.owner[run] = self.active
                self.started[run] = time.time()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.events.append(("progress", str(p.runId), p.timestamp,
                                int(p.numInputRows), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.events.append(("end", str(event.runId), time.time()))

    def run_ids(self, key_span: int) -> list[str]:
        with self._lock:
            return [r for r, (_, s) in self.owner.items() if s == key_span]

    def harvest(self, tracer: Tracer) -> dict[int, dict[str, float]]:
        """Per key span: stream figures, with stream and trigger spans
        added to ``tracer`` under that key's span."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        stream_span: dict[str, int] = {}
        with self._lock:
            events, owner, started = list(self.events), dict(self.owner), dict(self.started)
        ends = {e[1]: e[2] for e in events if e[0] == "end"}
        for run, (key, parent) in owner.items():
            m = out[parent]
            m["stream.queries"] += 1
            end = ends.get(run, started[run])
            m["stream.overhead_ms"] += (end - started[run]) * 1000.0
            tracer.add("stream", started[run], end, parent, key)
            stream_span[run] = len(tracer.spans) - 1
        for ev in events:
            if ev[0] != "progress" or ev[1] not in owner:
                continue
            _, run, stamp, rows, durations = ev
            key, parent = owner[run]
            m = out[parent]
            m["stream.batches"] += 1
            m["stream.empty_batches"] += rows == 0
            for phase, name in _TRIGGER_PHASES.items():
                m[name] += durations.get(phase, 0)
            trigger = durations.get("triggerExecution", 0)
            m["stream.overhead_ms"] -= trigger
            start = _iso_epoch(stamp)
            tracer.add("trigger", start, start + trigger / 1000.0, stream_span[run], key)
        return out


def _iso_epoch(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning and read Catalyst's phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_metrics(df, sf_dir: str) -> tuple[dict[str, float], set[str]]:
    """SQL metrics of the executed plan after it ran, and the catalog tables
    (files under ``sf_dir``) that its scans read."""
    totals: dict[str, float] = defaultdict(float)
    tables: set[str] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for sql_name, name in _PLAN_METRICS.items():
            opt = metrics.get(sql_name)
            if opt.isDefined():
                totals[name] += float(opt.get().value())
        if cls == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            for i in range(roots.size()):
                path = roots.apply(i).toUri().getPath()
                if os.path.dirname(path) == sf_dir and path.endswith(".parquet"):
                    tables.add(os.path.basename(path)[: -len(".parquet")])
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return totals, tables


def job_metrics(sc, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and stage-level task metrics of every job that
    ran under ``groups``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    m: dict[str, float] = defaultdict(float)
    stage_ids: set[int] = set()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            m["exec.jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        s = store.stageAttempt(sid, info.currentAttemptId, False, None, False, None)._1()
        if s.status().toString() == "SKIPPED":
            continue
        m["exec.stages"] += 1
        m["exec.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        m["exec.tasks_failed"] += s.numFailedTasks()
        run_ms, cpu_ms = float(s.executorRunTime()), s.executorCpuTime() / 1e6
        m["exec.run_ms"] += run_ms
        m["exec.cpu_ms"] += cpu_ms
        m["exec.wait_ms"] += max(run_ms - cpu_ms, 0.0)
        m["exec.gc_ms"] += s.jvmGcTime()
        m["shuffle.write_bytes"] += s.shuffleWriteBytes()
        m["shuffle.read_bytes"] += s.shuffleReadBytes()
        m["spill.bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["exec.peak_memory_bytes"] = max(m["exec.peak_memory_bytes"], s.peakExecutionMemory())
        m["scan.input_bytes"] += s.inputBytes()
        m["scan.input_rows"] += s.inputRecords()
        m["sink.output_bytes"] += s.outputBytes()
        m["sink.output_rows"] += s.outputRecords()
    return m


def file_snapshot(root: str) -> set[tuple[str, int, int]]:
    """(path, inode, mtime) of every file under ``root``; a file that is
    new or rewritten between two snapshots appears only in the later one."""
    out = set()
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:  # removed while walking
                continue
            out.add((path, st.st_ino, st.st_mtime_ns))
    return out

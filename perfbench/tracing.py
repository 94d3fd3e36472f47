"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around calls into the
program's public functions; nothing inside the program is changed.
Engine counters come from Spark's status stores, read as a window of
job, stage and SQL-execution ids that begin during one operation (the
benchmark is one closed-loop client, so every job in the window is the
operation's own; streaming micro-batches run under the stream's own job
group, which is why the window is by id and not by group).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


@dataclass
class Spans:
    """In-memory span log, written out once when the run ends."""

    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op_id: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def total(self, name: str, op_id: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name and s.op_id == op_id)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {"id": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op_id": s.op_id}
                        for i, s in enumerate(self.spans)
                    ],
                },
                f,
                indent=1,
            )


@contextlib.contextmanager
def patched(obj, attr: str, wrap):
    """Replace obj.attr by wrap(original) for the duration of the block."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrap(original))
    try:
        yield
    finally:
        setattr(obj, attr, original)


def timed(spans: Spans, name: str, op_id: str):
    """Wrapper factory for `patched`: run the original inside a span."""

    def wrap(fn):
        def inner(*a, **kw):
            with spans.span(name, op_id):
                return fn(*a, **kw)

        return inner

    return wrap


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Per-operation engine counters from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm

    def _drain(self) -> None:
        # listener events arrive asynchronously; let the store catch up
        self.sc.listenerBus().waitUntilEmpty()

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def peak_rss_mb(self) -> float:
        pid = self.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def mark(self) -> dict:
        self._drain()
        jobs = _seq(self.sc.statusStore().jobsList(None))
        execs = _seq(self.spark._jsparkSession.sharedState().statusStore().executionsList())
        return {
            "job": max((j.jobId() for j in jobs), default=-1),
            "exec": max((e.executionId() for e in execs), default=-1),
            "gc_ms": self.gc_ms(),
        }

    def since(self, mark: dict, wall: float) -> dict:
        self._drain()
        store = self.sc.statusStore()
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() > mark["job"]]
        stage_ids = sorted({sid for j in jobs for sid in _seq(j.stageIds())})
        out = dict.fromkeys(
            ("tasks", "task_run_s", "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "input_records", "input_bytes", "output_bytes"), 0)
        stages = 0
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if str(s.status()) == "SKIPPED":
                continue
            stages += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_run_s"] += s.executorRunTime() / 1000.0
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_records"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
        out["jobs"] = len(jobs)
        out["stages"] = stages
        out["parallelism"] = out["task_run_s"] / wall if wall > 0 else 0.0
        out["binary_files_read"] = self._files_read(mark["exec"], "Scan binaryFile")
        out["parquet_files_read"] = self._files_read(mark["exec"], "Scan parquet")
        out["gc_s"] = (self.gc_ms() - mark["gc_ms"]) / 1000.0
        return out

    def _files_read(self, after_exec: int, scan: str) -> int:
        """Σ 'number of files read' over every scan node named `scan`
        of the SQL executions that began after `after_exec`."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid <= after_exec:
                continue
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                if not node.name().startswith(scan):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of files read":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total

"""Spans and Spark counters for the benchmark's traced runs.

Spans are recorded only around the benchmark's own calls into the
engine's public functions; nothing inside the package is instrumented.
Counters come from the Spark status store (readable with the UI off),
per job group, after the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from collections import defaultdict

#: Upper bound on the wait for the listener bus to deliver an op's
#: task and stage events to the status store.
LISTENER_DRAIN_MS = 10_000


class Tracer:
    """In-memory span recorder: name, start, end, parent and op id.

    Disabled, ``span`` is a no-op, so traced and untraced runs execute
    the same code path.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, within: set[int]) -> dict[str, float]:
        """Total self time per span name over the spans whose ids are in
        ``within``: a span's duration minus the time its child spans
        cover (children run one after another)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or s["id"] not in within:
                continue
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def descendants(self, root: int) -> set[int]:
        """Ids of ``root`` and every span below it."""
        ids = {root}
        for s in self.spans[root + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every event posted so far,
    or for ``LISTENER_DRAIN_MS``; counters read after a timeout may
    miss the latest events."""
    from py4j.protocol import Py4JJavaError

    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_DRAIN_MS)
    except Py4JJavaError:  # the JVM's TimeoutException
        pass


def job_counters(sc, job_ids) -> dict[str, float]:
    """Stage and task totals for ``job_ids`` from the status store.

    ``task_skew`` is the slowest task's run time over the median
    task's, in the stage with the most executor run time.
    """
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_core_s": 0.0,
           "cpu_core_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
           "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    if not job_ids:
        return out
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    longest = (-1, None)
    for sid in sorted(stage_ids):
        for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_quantiles)):
            done = sd.numCompleteTasks()
            if done == 0:  # skipped: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += done
            run_ms = sd.executorRunTime()
            out["run_core_s"] += run_ms / 1e3
            out["cpu_core_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            if run_ms > longest[0]:
                longest = (run_ms, (sid, sd.attemptId()))
    if longest[1] is not None:
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        dist = store.taskSummary(longest[1][0], longest[1][1], quantiles)
        if dist.isDefined():
            run = dist.get().executorRunTime()
            median, slowest = run.apply(0), run.apply(1)
            out["task_skew"] = slowest / median if median > 0 else 1.0
    return out


def stream_counters(progress: list[dict]) -> dict[str, float]:
    """Per-batch figures from a streaming query's ``recentProgress``.

    Latencies are medians over every micro-batch, the no-data batches
    that advance the watermark included; rates are over data batches;
    state size is the peak over batches.
    """
    def med(values):
        return statistics.median(values) if values else 0.0

    state = [p["stateOperators"] for p in progress]
    return {
        "batches": len(progress),
        "batch_p50_s": med([p["durationMs"].get("triggerExecution", 0) / 1e3
                            for p in progress]),
        "add_batch_s": med([p["durationMs"].get("addBatch", 0) / 1e3
                            for p in progress]),
        "state_commit_s": med([sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
                               for ops in state]),
        "state_rows": max((sum(o.get("numRowsTotal", 0) for o in ops)
                           for ops in state), default=0),
        "state_mb": max((sum(o.get("memoryUsedBytes", 0) for o in ops)
                         for ops in state), default=0) / 1e6,
        "input_rows_per_s": med([p["processedRowsPerSecond"] for p in progress
                                 if p["numInputRows"]]),
    }

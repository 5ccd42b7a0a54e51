"""Spans around the benchmark's calls into each layer, plus Spark stages.

A span records name, start, end, parent and run id, and the process-tree
CPU over its interval. Spark stages launched while a span is open become
its children: the span notes the DAG scheduler's next stage id on entry and
exit, and the stages in between are read from Spark's status store once,
after the measured passes. The id interval (rather than the job group, which
is set too) also catches stages that streaming queries launch from their
own threads; the benchmark is a closed loop, so no other job overlaps.

Spans are held in memory and written out once, at the end of the run. A
disabled tracer records nothing and touches neither the JVM nor /proc.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self, run_id: str, enabled: bool, meter) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.meter = meter
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose stages the next spans collect."""
        self._sc = sc

    def _next_stage_id(self) -> Optional[int]:
        if self._sc is None:
            return None
        # an AtomicInteger; py4j hands it over as a Python int
        return int(self._sc._jsc.sc().dagScheduler().nextStageId())

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[dict]]:
        if not self.enabled:
            yield None
            return
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "app_id": self._sc.applicationId if self._sc else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["id"], name)
        rec["stage_lo"] = self._next_stage_id()
        cpu0 = self.meter.cpu_s()
        read0 = self.meter.read_bytes()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            cpu1 = self.meter.cpu_s()
            rec["tree_cpu_s"] = cpu1["total"] - cpu0["total"]
            rec["python_cpu_s"] = (cpu1["python_workers"]
                                   - cpu0["python_workers"])
            rec["jvm_read_bytes"] = self.meter.read_bytes() - read0
            rec["stage_hi"] = self._next_stage_id()
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    self._sc.setJobGroup(self._stack[-1]["id"],
                                         self._stack[-1]["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_stages(self) -> None:
        """Attach stage records to this context's spans (call after the
        measured passes, before the context stops)."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        app = self._sc.applicationId
        for rec in self.spans:
            if rec.get("app_id") != app or "stages" in rec \
                    or rec.get("stage_lo") is None:
                continue
            rec["stages"] = [
                s for s in (_stage(store, sid)
                            for sid in range(rec["stage_lo"], rec["stage_hi"]))
                if s is not None]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans},
                      f, indent=1, default=str)


def _stage(store, stage_id: int) -> Optional[dict]:
    try:
        s = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — py4j error: id never ran or evicted
        return None
    if s.numCompleteTasks() == 0:
        return None  # skipped (reused shuffle output) or never started
    durations = []
    it = store.taskList(stage_id, s.attemptId(), 1 << 30).iterator()
    while it.hasNext():
        d = it.next().duration()
        if d.isDefined():
            durations.append(int(d.get()))
    return {"stage_id": stage_id, "tasks": s.numCompleteTasks(),
            "status": s.status().toString(),
            "executor_run_ms": s.executorRunTime(),
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "task_ms": durations}


def stage_summary(spans: List[dict]) -> Dict[str, float]:
    """Stage totals over the spans' child stages.

    task_skew: sum over stages of the slowest task / sum of the median
    task, over stages with at least two tasks (1.0 when there are none).
    """
    stages = [s for rec in spans for s in rec.get("stages", [])]
    slow = med = 0.0
    for s in stages:
        if len(s["task_ms"]) >= 2:
            slow += max(s["task_ms"])
            med += statistics.median(s["task_ms"])
    return {
        "stages": float(len(stages)),
        "jvm_cpu_s": sum(s["executor_cpu_s"] for s in stages),
        "shuffle_bytes": float(sum(s["shuffle_write_bytes"] for s in stages)),
        "spill_bytes": float(sum(s["spill_bytes"] for s in stages)),
        "task_skew": slow / med if med > 0 else 1.0,
    }

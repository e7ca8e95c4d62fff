"""Spans around single layer calls, with the Spark stage counters of
exactly the stages each call submitted.

Stages are attributed by stage-id range, the way
``introspect.scan_records`` does it: the highest stage id is read
before the call and every later stage belongs to it. Job groups would
miss work, because ``run_validation`` submits from its own thread pool
and pool threads do not inherit the caller's job group. Calls are
therefore traced one at a time, never concurrently.

Spans stay in memory and are written out once, when the run ends. Each
span records ``trace_s``, the time its own status-store reads took
before and after the call: the whole cost tracing adds to a call.
"""

from __future__ import annotations

import statistics
import time

SETTLE_READS = 20  # re-read the status store at most this often
SETTLE_PAUSE_S = 0.1


class StageCounters:
    """Reads the application status store of one SparkSession."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus;
        # drain it so every stage of a returned action is visible (this
        # Spark's waitUntilEmpty raises a TimeoutException after 10 s)
        self._sc.listenerBus().waitUntilEmpty(10000)

    def _stages(self) -> list:
        store = self._sc.statusStore()
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        stages = store.stageList(self._jvm.java.util.Collections.emptyList(), *defaults)
        return [stages.apply(i) for i in range(stages.size())]

    def _job_ids(self) -> list[int]:
        jobs = self._sc.statusStore().jobsList(self._jvm.java.util.Collections.emptyList())
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def mark(self) -> tuple[int, int]:
        """(highest stage id, highest job id) so far."""
        self._drain()
        return (
            max((s.stageId() for s in self._stages()), default=-1),
            max(self._job_ids(), default=-1),
        )

    def _read_since(self, mark: tuple[int, int]) -> dict:
        new = [s for s in self._stages() if s.stageId() > mark[0]]
        return {
            "stages": len(new),
            "jobs": sum(1 for j in self._job_ids() if j > mark[1]),
            "tasks": sum(s.numTasks() for s in new),
            "input_records": sum(s.inputRecords() for s in new),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in new),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new),
            "task_run_s": sum(s.executorRunTime() for s in new) / 1000.0,
            "failed_tasks": sum(s.numFailedTasks() for s in new),
        }

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters summed over the stages and jobs after ``mark``.
        Stage metrics can lag the action's return under host load, so
        the store is re-read until two consecutive readings agree."""
        self._drain()
        prev = self._read_since(mark)
        for _ in range(SETTLE_READS):
            time.sleep(SETTLE_PAUSE_S)
            cur = self._read_since(mark)
            if cur == prev:
                return cur
            prev = cur
        raise RuntimeError(f"stage counters did not settle: {prev}")

    def task_skew(self, mark: tuple[int, int]) -> float:
        """max / median task run time of the stage, among those after
        ``mark``, that read the most shuffle records."""
        new = [s for s in self._stages() if s.stageId() > mark[0]]
        readers = [s for s in new if s.shuffleReadRecords() > 0]
        if not readers:
            return 1.0
        stage = max(readers, key=lambda s: s.shuffleReadRecords())
        store = self._sc.statusStore()
        tasks = store.taskList(stage.stageId(), stage.attemptId(), 100000)
        runs = [
            tasks.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().isDefined()
        ]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0


class Tracer:
    """Collects spans; ``span`` is a context manager yielding the
    span's dict, so the caller can add layer-specific figures."""

    def __init__(self, spark, workload: str):
        self.counters = StageCounters(spark)
        self.workload = workload
        self.spans: list[dict] = []

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.record = {"workload": tracer.workload, "name": name}

    def __enter__(self) -> dict:
        t = time.perf_counter()
        self.record["mark"] = self.tracer.counters.mark()
        self.record["start_unix_s"] = time.time()
        self.t0 = time.perf_counter()
        self.enter_s = self.t0 - t
        return self.record

    def __exit__(self, exc_type, exc, tb) -> None:
        t1 = time.perf_counter()
        self.record["call_s"] = t1 - self.t0
        self.record["end_unix_s"] = time.time()
        self.record.update(self.tracer.counters.since(self.record["mark"]))
        self.record["trace_s"] = self.enter_s + time.perf_counter() - t1
        self.record["error"] = None if exc is None else repr(exc)
        self.tracer.spans.append(self.record)

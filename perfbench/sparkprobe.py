"""Counters read from outside the program while a traced run executes: the
Spark status store (per-entry stage diff), the Catalyst phase tracker, and a
StreamingQueryListener.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# StageData getter -> (per-entry key, scale to the reported unit)
_STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("run_s", 1e-3),  # ms
    "executorCpuTime": ("cpu_s", 1e-9),  # ns
    "jvmGcTime": ("gc_s", 1e-3),  # ms
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),  # ms
    "diskBytesSpilled": ("spill_bytes", 1),
}
_PHASES = ("analysis", "optimization", "planning")
# durationMs keys of a micro-batch progress, summed per layer metric
_BATCH_KEYS = {
    "trigger_s": ("triggerExecution",),
    "add_batch_s": ("addBatch",),
    "commit_s": ("walCommit", "commitOffsets"),
    "query_planning_s": ("queryPlanning",),
    "latest_offset_s": ("latestOffset",),
}


def _newest(seq, key, floor: int) -> list:
    """Items of a status-store Scala Seq (newest first) whose key exceeds
    floor. The five-argument stageList returns a Seq: read it with .apply."""
    out = []
    for i in range(seq.size()):
        item = seq.apply(i)
        if key(item) <= floor:
            break
        out.append(item)
    return out


class _ProgressLog(StreamingQueryListener):
    """Keeps every query start, progress and termination event. Events come
    on the listener bus thread, after the query's own thread has moved on."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self.lock:
            self.progress.setdefault(str(p.id), []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.id))


class SparkProbe:
    """Per-entry layer counters for a closed loop: everything the status store
    gained between mark() and diff() belongs to the entry that ran in
    between, including the jobs of streaming queries, which run under their
    own job group."""

    TERMINATION_WAIT_S = 30.0

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = self.sc._jvm
        self._stage_args = (
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        self.log = _ProgressLog()
        spark.streams.addListener(self.log)

    def _settle(self) -> None:
        # The status store is fed by the listener bus; let it drain first.
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self, tag: str) -> dict:
        self._settle()
        self.sc.setJobGroup(tag, tag)
        jobs = self.store.jobsList(None)
        stages = self.store.stageList(*self._stage_args)
        with self.log.lock:
            started = len(self.log.started)
        return {
            "tag": tag,
            "job": jobs.apply(0).jobId() if jobs.size() else -1,
            "stage": stages.apply(0).stageId() if stages.size() else -1,
            "queries": started,
        }

    def diff(self, mark: dict) -> dict:
        """Executor and streaming counters of the entry begun at ``mark``."""
        self._settle()
        self.sc.setJobGroup("perfbench", "perfbench")
        jobs = _newest(self.store.jobsList(None), lambda j: j.jobId(), mark["job"])
        out = {k: 0.0 for k, _ in _STAGE_FIELDS.values()}
        out["jobs"] = len(jobs)
        out["tagged_jobs"] = sum(1 for j in jobs if str(j.jobGroup()) == f"Some({mark['tag']})")
        stages = _newest(
            self.store.stageList(*self._stage_args), lambda s: s.stageId(), mark["stage"]
        )
        out["stages"] = len(stages)
        for st in stages:
            for getter, (key, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        out["streaming"] = self._streaming(mark["queries"])
        return out

    def _streaming(self, first_query: int) -> dict:
        """Progress of the streaming queries started since the mark. Waits for
        each query's terminated event, because progress events arrive on the
        listener bus after the drain inside the entry has returned."""
        deadline = time.monotonic() + self.TERMINATION_WAIT_S
        while True:
            with self.log.lock:
                ids = self.log.started[first_query:]
                running = sum(1 for q in ids if q not in self.log.terminated)
                batches = [b for q in ids for b in self.log.progress.get(q, [])]
            if not running or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        out = {"queries": len(ids), "unterminated": running}
        out["batches"] = sum(1 for b in batches if b["input_rows"] > 0)
        out["input_rows"] = sum(b["input_rows"] for b in batches)
        for key, parts in _BATCH_KEYS.items():
            out[key] = sum(b["duration_ms"].get(p, 0) for b in batches for p in parts) / 1e3
        out["state_rows"] = sum(b["state_rows"] for b in batches)
        out["state_memory_bytes"] = max((b["state_memory_bytes"] for b in batches), default=0)
        out["state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1e3
        out["batch_latency_s"] = [
            b["duration_ms"]["triggerExecution"] / 1e3 for b in batches if b["input_rows"] > 0
        ]
        return out

    def catalyst(self, df) -> dict:
        """Catalyst phase times (s) of the entry's result DataFrame. The noop
        write plans a separate command, so the DataFrame's own execution is
        optimized and planned here, after the timed write has returned."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in _PHASES:
            opt = phases.get(name)
            out[name + "_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

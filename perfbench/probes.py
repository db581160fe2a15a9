"""Measurements taken from outside the engine: process-tree RSS, Spark's
status store, the block manager's storage list, temp views, and a
streaming-query listener. Nothing here changes what the engine does."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (children, grandchildren, ...)."""
    out, stack = [], _children(root)
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """High-water RSS (``VmHWM``, in MB) of ``root`` and each live
    descendant, keyed ``<pid>:<command>``. The kernel keeps the high-water
    mark, so nothing is sampled."""
    out: dict[str, float] = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report (phase ``durationMs`` and the
    state operators) with the wall time it arrived."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "arrived": time.time(),
            "duration_ms": dict(p.durationMs),
            "state": [
                (s.numRowsTotal, s.memoryUsedBytes, s.numShufflePartitions)
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


def storage_blocks(spark) -> dict[int, tuple[int, int]]:
    """rdd id → (cached blocks, bytes in memory and on disk) for every RDD
    the block manager holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        i.id(): (i.numCachedPartitions(), i.memSize() + i.diskSize())
        for i in infos
        if i.numCachedPartitions() > 0
    }


def temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages Spark's status store still holds: jobs with
    their submission time (epoch ms) and stage ids, stages with their
    summed task metrics."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(None)
    for k in range(seq.size()):
        j = seq.apply(k)
        ids = j.stageIds().mkString(",")
        jobs.append(
            {
                "id": j.jobId(),
                "submitted_ms": _opt_ms(j.submissionTime()),
                "stages": [int(s) for s in ids.split(",")] if ids else [],
            }
        )
    stages: dict[int, dict] = {}
    seq = store.stageList(
        None, False, False, getattr(store, "stageList$default$4")(), None
    )
    for k in range(seq.size()):
        s = seq.apply(k)
        if s.status().toString() != "COMPLETE":
            continue
        stages[s.stageId()] = {
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input": s.inputBytes(),
            "tasks": s.numCompleteTasks(),
        }
    return jobs, stages

"""Per-op Spark counters, read from outside the library.

Each public operator call runs under its own job group. Right after the
call returns, the group's jobs are looked up in the status tracker and
each job's stages in the application status store. The store keeps a
bounded number of jobs and stages, so the counters are read per op; a job
or stage that has already been evicted raises ``LostStageData`` instead of
being silently undercounted.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# counter -> unit, in report order
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "busy_s": "s",
    "idle_share": "ratio",
}


class LostStageData(RuntimeError):
    pass


class Tracer:
    """Times every op; with ``counters=True`` also tags the op's jobs and
    reads their stage data. ``ops`` maps op name to the counters of its
    most recent call; a call that raised records only ``wall_s``."""

    def __init__(self, sc, counters: bool):
        self.sc = sc
        self.counters = counters
        self.slots = sc.defaultParallelism
        self.ops: dict[str, dict[str, float]] = {}
        self._seq = 0

    @contextmanager
    def op(self, name: str):
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        if self.counters:
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.ops[name] = {"wall_s": wall}
            if self.counters:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        if self.counters:
            self.ops[name].update(self._read(group, wall))

    def _read(self, group: str, wall: float) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise LostStageData(f"{group}: job {jid} evicted from the status store")
            stage_ids.update(info.stageIds)
        stages = tasks = shuffle = run_ms = 0
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError as e:  # JVM NoSuchElementException
                raise LostStageData(f"{group}: stage {sid} evicted: {e}") from e
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numTasks()
            shuffle += sd.shuffleWriteBytes()
            run_ms += sd.executorRunTime()
        busy = run_ms / 1000.0
        return {
            "jobs": len(job_ids),
            "stages": stages,
            "tasks": tasks,
            "shuffle_bytes": shuffle,
            "busy_s": busy,
            "idle_share": 1.0 - busy / (wall * self.slots) if wall > 0 else 0.0,
        }

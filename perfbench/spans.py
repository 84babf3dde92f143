"""In-memory spans and the Spark-side counters of a traced run.

Spans are recorded only around the benchmark's own calls into the
engine (session start, artifact builds, the query function, Catalyst
planning, execution); none are recorded inside the package. They are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """Spans with a name, start, end, parent span and trace id (all spans
    of one query share the trace id)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Jobs, stages, tasks and bytes of the jobs run under a job group,
    read from the driver's status tracker and status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def jobs(self, group: str) -> list[int]:
        """Job ids of a group; waits until the listener bus has delivered
        every event posted so far, so the status store is complete."""
        self._jsc.listenerBus().waitUntilEmpty()
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, int]:
        """Stages that ran (skipped ones excluded) and their tasks and bytes."""
        store = self._jsc.statusStore()
        out = dict(stages=0, tasks=0, input_bytes=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0)
        seen: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted: not in the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

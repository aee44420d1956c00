"""Span recorder for the benchmark's traced runs.

Spans are recorded around the benchmark's own calls into the engine's
public API: name, start, end, parent span and a trace id shared by every
span of one top-level operation. Each span tags its Spark jobs with
``setJobGroup`` and reads job and task counts from the public
``statusTracker`` once the call returns. Spans stay in memory and are
written out once, at the end of the run.

With tracing off, ``span`` only yields and records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        #: wall seconds spent in the tracer's own bookkeeping
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._n,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else self._n,
            "group": f"perfbench-{self._n}",
            **attrs,
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        self.self_s += time.perf_counter() - t0
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            self._restore_group()
            sp["jobs"], sp["tasks"] = self._count(sp["group"])
            self.spans.append(sp)
            self.self_s += time.perf_counter() - t1

    def _restore_group(self) -> None:
        cur = self._stack[-1] if self._stack else None
        if cur:
            self.sc.setJobGroup(cur["group"], cur["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _drain(self) -> None:
        """Wait until the status store has seen every event posted so far.

        The store is fed by the asynchronous listener bus, so a job that
        just ended may not be visible yet. A one-task JVM-only barrier job
        is run after it; once the barrier shows as finished, every earlier
        job event has been processed too (the bus delivers in order).
        """
        st = self.sc.statusTracker()
        group = f"perfbench-barrier-{self._n}"
        self.sc.setJobGroup(group, "barrier")
        self.spark.range(0, 1, 1, 1).collect()
        self._restore_group()
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            ids = st.getJobIdsForGroup(group)
            info = st.getJobInfo(ids[0]) if ids else None
            if info is not None and info.status == "SUCCEEDED":
                return
            time.sleep(0.005)
        raise RuntimeError("listener bus did not drain within 10 s")

    def _count(self, group: str) -> tuple[int, int]:
        """Jobs and completed tasks run under ``group`` itself (not its
        children, which carry their own groups)."""
        self._drain()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return len(jobs), tasks

    def total(self, sp: dict, key: str) -> int:
        """``key`` (jobs or tasks) of ``sp`` plus all its descendants."""
        kids = [s for s in self.spans if s["parent"] == sp["id"]]
        return sp[key] + sum(self.total(k, key) for k in kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

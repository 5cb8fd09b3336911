"""In-memory spans around the benchmark's calls into the engine.

A span records its name, parent, start and end, and the Spark jobs and
stages launched inside it: each span sets its own Spark job group and
reads the group's jobs back from ``statusTracker`` when it closes, then
restores its parent's group. Spans stay in memory and are written out
once, at exit. A disabled tracer records nothing and costs one branch.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        # job groups are per session: a second tracer on the same
        # session must not read back the first one's jobs
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        # the tracer's own bookkeeping: job-group calls and
        # statusTracker reads, i.e. what a traced run adds over an
        # untraced one
        self.overhead_ns = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter_ns()
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "parent": parent["id"] if parent else None,
               "name": name, "group": f"{self._prefix}-{self._next}"}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start_ns"] = time.perf_counter_ns()
        self.overhead_ns += rec["start_ns"] - t0
        try:
            yield
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()
            tracker = self.sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            infos = [tracker.getJobInfo(j) for j in jobs]
            rec["jobs"] = len(jobs)
            rec["stages"] = sum(len(i.stageIds) for i in infos if i is not None)
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.overhead_ns += time.perf_counter_ns() - rec["end_ns"]

    def self_times(self) -> dict[int, float]:
        """Span id -> seconds not covered by its child spans (children
        of one span run one after another, so their durations add)."""
        child_ns: dict[int, int] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + (
                    s["end_ns"] - s["start_ns"])
        return {
            s["id"]: (s["end_ns"] - s["start_ns"] - child_ns.get(s["id"], 0)) / 1e9
            for s in self.spans
        }

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: median self time (s), jobs and stages."""
        selfs = self.self_times()
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        return {
            name: {
                "n": len(ss),
                "s": statistics.median(selfs[s["id"]] for s in ss),
                "jobs": statistics.median(s["jobs"] for s in ss),
                "stages": statistics.median(s["stages"] for s in ss),
            }
            for name, ss in by_name.items()
        }

    def traced_seconds(self) -> float:
        return sum(
            s["end_ns"] - s["start_ns"] for s in self.spans if s["parent"] is None
        ) / 1e9

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")

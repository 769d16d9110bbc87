"""Spans around the benchmark's calls into the engine's layers.

Nothing here reaches inside the engine: a span brackets one call the
benchmark makes (``OzoneAnalytics.list_keys``, ``resync.run_sync``,
...). A span that owns a Spark job group tags every job the call
launches, so job, stage and task counts can be read back from the
status tracker once the run is over, when the listener bus has caught
up. Job-group spans never nest. Spans stay in memory and are written
out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SETTLE_S = 1.0  # time the listener bus gets to drain before counts are read


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request_id: str | None = None, job_group: bool = False):
        """Record ``name`` around the body. With ``job_group`` the span
        tags the jobs launched inside it with a fresh Spark job group."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id or (parent["request_id"] if parent else None),
            "group": f"bench-{len(self.spans)}" if job_group else None,
        }
        self.spans.append(rec)
        if job_group:
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def resolve_counts(self) -> None:
        """Attach ``jobs``/``stages``/``tasks`` to every span that owns a
        job group, from the status tracker."""
        if not self.enabled:
            return
        time.sleep(SETTLE_S)
        count_jobs(self.sc.statusTracker(), [s for s in self.spans if s["group"]])

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def count_jobs(tracker, spans: list[dict]) -> None:
    """Set ``jobs``, ``stages`` and ``tasks`` on each span from the jobs
    of its group. A stage is counted once, in the first span (in order)
    whose jobs list it, and only if tasks of it completed: a shuffle map
    stage that ran in its own job is listed again, skipped, by the job
    that reads it, and a later call may reuse an earlier call's shuffle.
    ``tasks`` counts completed tasks."""
    seen: set[int] = set()
    for rec in spans:
        jobs = tracker.getJobIdsForGroup(rec["group"])
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)


def ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0

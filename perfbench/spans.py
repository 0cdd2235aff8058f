"""Outside-in tracing for the benchmark: spans around calls into the
package's public functions, with Spark job and task counts per span.

A span records name, start, end, parent and the benchmark job it
belongs to. Each span runs its Spark work under its own job group, so
``statusTracker`` attributes jobs to the innermost open span; inclusive
counts are summed over the span's subtree when the run ends. Spans stay
in memory until ``dump``. Nothing here changes what a job computes.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{outer['id']}", outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a span-recording wrapper for the
        duration of the block. Callers that look the function up at call
        time (the graph registry imports its operators lazily) see it."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def _own_counts(self, sid: int) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(f"perfbench-{sid}"))
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for stage in info.stageIds if info else ():
                sinfo = st.getStageInfo(stage)
                tasks += sinfo.numCompletedTasks if sinfo else 0
        return len(jobs), tasks

    def settle(self) -> None:
        """Fill in job/task counts once the listener bus has caught up
        (status updates arrive asynchronously after an action returns):
        re-read until two reads 0.2 s apart agree, for at most 3 s."""
        deadline = time.perf_counter() + 3.0
        prev = None
        while True:
            own = [self._own_counts(s["id"]) for s in self.spans]
            if own == prev or time.perf_counter() > deadline:
                break
            prev = own
            time.sleep(0.2)
        for s, (jobs, tasks) in zip(self.spans, own):
            s["own_jobs"], s["own_tasks"] = jobs, tasks
        for s in reversed(self.spans):  # children come after parents
            s.setdefault("jobs", 0)
            s.setdefault("tasks", 0)
            s["jobs"] += s["own_jobs"]
            s["tasks"] += s["own_tasks"]
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                p["jobs"] = p.get("jobs", 0) + s["jobs"]
                p["tasks"] = p.get("tasks", 0) + s["tasks"]

    def find(self, name: str, job: int) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["job"] == job]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)

"""In-memory spans recorded by the benchmark around calls into miru_spark.

A span holds name, start, end, parent and request id. With tracing off,
`Tracer.span` records nothing and sets no Spark job group. With tracing on,
a span opened with `spark=True` runs its calls under a job group of its
own, and on close reads the jobs and tasks of that group from
`SparkContext.statusTracker()`.

A span name is `<layer>:<call>`, e.g. `query.engine:search_collect`. A
layer's self time is the time of its spans minus the time of their child
spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request = 0
        self._status = None

    def new_request(self) -> int:
        self._request += 1
        return self._request

    def current_request(self) -> int:
        return self._request

    @contextmanager
    def span(self, name: str, request: int | None = None, spark: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "start_ns": 0,
            "end_ns": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        if spark and self.sc is not None:
            self.sc.setJobGroup(group, name)
        rec["start_ns"] = time.perf_counter_ns()
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()
            if spark and self.sc is not None:
                rec.update(self._job_counts(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_counts(self, group: str) -> dict:
        if self._status is None:
            self._status = self.sc.statusTracker()
        st = self._status
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"spark_jobs": len(jobs), "tasks": tasks,
                "failed_tasks": failed}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def duration_ms(rec: dict) -> float:
    return (rec["end_ns"] - rec["start_ns"]) / 1e6


def self_ms(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus its children's."""
    out = {rec["id"]: duration_ms(rec) for rec in spans}
    for rec in spans:
        if rec["parent"] is not None:
            out[rec["parent"]] -= duration_ms(rec)
    return out


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer, in ms."""
    own = self_ms(spans)
    out: dict[str, float] = {}
    for rec in spans:
        layer = rec["name"].split(":", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[rec["id"]]
    return out

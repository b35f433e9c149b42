"""In-memory spans around calls into the engine's layers, plus Spark stage
metrics per span.

A span records a name (``<layer>.<operation>``), start, end, its parent
span and the statement it belongs to. A span opened with ``jobs=True``
runs under its own Spark job group; after the run, :meth:`Tracer.finish`
waits for Spark's listener bus to drain and reads each group's jobs and
their stages from the status store. Nothing here reaches inside the
engine: spans wrap the benchmark's own calls into public functions.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one branch
    per span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._statement: str | None = None
        #: attributes copied into every span opened from now on
        self.tags: dict = {}
        self._children: dict[int, list[dict]] = {}

    @contextmanager
    def statement(self, statement_id: str):
        """Spans opened inside share ``statement_id``."""
        prev, self._statement = self._statement, statement_id
        try:
            yield
        finally:
            self._statement = prev

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "statement": self._statement,
            "group": None,
            **self.tags,
            **attrs,
        }
        outer_group = self._current_group()
        if jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            self.spark.sparkContext.setJobGroup(rec["group"], name, False)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", outer_group
                )
            self.spans.append(rec)

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open."""
        return any(rec["name"] == name for rec in self._stack)

    def _current_group(self) -> str | None:
        for rec in reversed(self._stack):
            if rec["group"]:
                return rec["group"]
        return None

    def finish(self) -> None:
        """Attach each span's own Spark job and stage metrics; call once,
        after the last span closed."""
        for rec in self.spans:
            if rec["parent"] is not None:
                self._children.setdefault(rec["parent"], []).append(rec)
        if not self.spans:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            stats = dict.fromkeys(STAGE_FIELDS, 0)
            stats["jobs"] = 0
            if rec["group"]:
                seen: set[int] = set()
                for job_id in tracker.getJobIdsForGroup(rec["group"]):
                    stats["jobs"] += 1
                    ids = store.job(job_id).stageIds()
                    for i in range(ids.size()):
                        seen.add(ids.apply(i))
                for sid in seen:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks()
                    stats["failed_tasks"] += st.numFailedTasks()
                    stats["executor_run_s"] += st.executorRunTime() / 1e3
                    stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    stats["input_bytes"] += st.inputBytes()
                    stats["shuffle_read_bytes"] += st.shuffleReadBytes()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["own"] = stats

    def inclusive(self, rec: dict) -> dict:
        """A span's stage metrics plus those of every span nested in it."""
        total = dict(rec["own"])
        for child in self._children.get(rec["id"], []):
            for k, v in self.inclusive(child).items():
                total[k] += v
        return total

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct children (children of
        one span never overlap: the benchmark is single-threaded)."""
        covered = sum(
            c["end"] - c["start"] for c in self._children.get(rec["id"], [])
        )
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str) -> None:
        origin = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            row = {k: v for k, v in s.items() if k not in ("start", "end")}
            row["start_s"] = round(s["start"] - origin, 6)
            row["end_s"] = round(s["end"] - origin, 6)
            out.append(row)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=0)

"""Spans around the benchmark's calls into each layer of the program.

A span records name, start, end, parent and run id, plus counts taken at
the same boundary. Spans stay in memory and are written once at the end.
Each span also tags the Spark jobs it starts with its own job group, so
Spark's status tracker can attribute jobs, stages, tasks and shuffle
bytes to a run or to one span.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(rec), name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(self._group(parent), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, rec: dict) -> str:
        return f"{rec['run']}#{rec['id']}"

    def run_spans(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ------------------------------------------------------------ Spark status

    def stage_stats(self, spans: list[dict]) -> list[dict]:
        """One entry per stage that ran tasks under `spans`' job groups."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out, seen = [], set()
        for rec in spans:
            for job in tracker.getJobIdsForGroup(self._group(rec)):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    si = tracker.getStageInfo(sid)
                    if sid in seen or si is None or si.numCompletedTasks == 0:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    tasks = store.taskList(sid, sd.attemptId(), 100_000)
                    durations = []
                    for i in range(tasks.length()):
                        d = tasks.apply(i).duration()
                        if d.isDefined():
                            durations.append(d.get() / 1000.0)
                    out.append({
                        "stage": sid,
                        "job": job,
                        "span": rec["name"],
                        "tasks": si.numCompletedTasks,
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "executor_run_s": sd.executorRunTime() / 1000.0,
                        "task_s": durations,
                    })
        return out


def self_seconds(spans: list[dict], name: str) -> float:
    """Summed self time of the spans called `name`: each span's duration
    minus the part its child spans cover (children run one after another
    in this benchmark, so their durations do not overlap)."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        child = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
        total += (s["end"] - s["start"]) - child
    return total


def max_over_median(values: list[float]) -> float:
    return max(values) / statistics.median(values) if values else 0.0

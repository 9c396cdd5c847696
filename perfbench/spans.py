"""Spans recorded around the benchmark's calls into the program's layers.

A span has a name, start, end, parent span and operation id (spans of one
request, batch or refresh share it). Each span tags the Spark jobs it
launches with a job group of its own; when it closes, the jobs of that
group are read from Spark's status store (jobs, tasks, shuffle and spill
bytes, and the task-time skew of the heaviest stage). Spans stay in
memory and are written out when the run ends.

With tracing off, ``span()`` records nothing and sets no job group, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import json
import time

from stats import self_times

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span; yields its record (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans) + 1
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent - 1]["op"] if parent else f"{name}#{sid}"
        group = f"perfbench-span-{sid}"
        prev = (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
        )
        sc.setJobGroup(group, name)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": op,
            "start": time.perf_counter(),
            "end": None,
            "job_group": group,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            rec["job_ids"] = sorted(sc.statusTracker().getJobIdsForGroup(group))
            rec.update(job_counters(self.spark, rec["job_ids"]))

    def add(self, name: str, start: float, end: float, parent: dict | None, **fields) -> dict:
        """Record a span measured elsewhere (a streaming progress event)."""
        sid = len(self.spans) + 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else f"{name}#{sid}",
            "start": start,
            "end": end,
            "job_ids": [],
            **fields,
        }
        self.spans.append(rec)
        return rec

    def attach_jobs(self, rec: dict, job_group: str) -> None:
        """Count into ``rec`` the jobs another thread ran under
        ``job_group`` (a streaming query runs its batches under its run id)."""
        ids = sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(job_group))
        rec["job_ids"] = sorted(set(rec["job_ids"]) | set(ids))
        rec.update(job_counters(self.spark, rec["job_ids"]))

    def by_name(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, and the Spark
        counters of the jobs its spans and their descendants launched."""
        selfs = self_times(self.spans)
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])

        def subtree_jobs(sid: int) -> set[int]:
            out = set(self.spans[sid - 1].get("job_ids", []))
            for k in kids.get(sid, []):
                out |= subtree_jobs(k)
            return out

        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(
                s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "job_ids": set()}
            )
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += selfs[s["id"]]
            agg["job_ids"] |= subtree_jobs(s["id"])
        for agg in out.values():
            agg.update(job_counters(self.spark, sorted(agg.pop("job_ids"))))
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1, default=str)


def job_counters(spark, job_ids: list[int]) -> dict:
    """Jobs, tasks run, shuffle read+write and spill (MB) of ``job_ids``,
    and max/median task time of the stage that ran longest."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tasks = 0
    shuffle = spill = 0
    seen: set[int] = set()
    worst = (-1, -1, -1)  # (executorRunTime, stage, attempt)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            worst = max(worst, (sd.executorRunTime(), sid, sd.attemptId()))
    skew = 1.0
    if worst[1] >= 0:
        gw = sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(worst[1], worst[2], qs)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            skew = mx / med if med > 0 else 1.0
    return {
        "jobs": len(job_ids),
        "tasks": tasks,
        "shuffle_mb": shuffle / MB,
        "spill_mb": spill / MB,
        "task_skew": skew,
    }

"""Layer spans, Spark job accounting and event-log parsing for the benchmark.

Everything here observes the engine from outside: spans are opened around
calls into ``sol_spark``'s public functions, job/stage/task counts come from
``SparkContext.statusTracker()`` under one job group per operation, and the
executor-side numbers come from Spark's own JSON-lines event log, read with
the standard library after the traced session stops.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Spans:
    """Spans kept in memory (name, start, end, parent, attributes) and
    written out once, at the end of a traced run. Recording is off until
    ``enabled`` is set; the untraced phase pays one attribute test per span."""

    def __init__(self) -> None:
        self.enabled = False
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.records, **extra}, fh, indent=1)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran at least one task, and tasks run, for every job
    submitted under ``group`` — read from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            stages += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def persisted_rdds(sc) -> set[int]:
    """Ids of the RDDs the context currently holds persisted."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the finished application log under ``log_dir`` (a
    single file, or the directory of rolled files Spark 4 writes)."""
    events: list[dict] = []
    for base, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):  # checksums, status marker
                continue
            with open(os.path.join(base, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer(events: list[dict], group_to_op: dict[str, dict]) -> list[dict]:
    """Per-operation executor metrics and job spans from the event log.

    ``group_to_op`` maps a job group id to the operation record (with
    ``start_ms``/``end_ms`` wall bounds) whose jobs ran under it. Returns one
    dict per operation record that had jobs, in input order."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            job_span[jid] = [float(ev["Submission Time"]), float(ev["Submission Time"])]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)  # the earliest job runs the stage
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = float(ev["Completion Time"])

    per_op: dict[str, dict] = {}
    for group, op in group_to_op.items():
        per_op[group] = {
            "op": op,
            "executor_run_ms": 0,
            "gc_ms": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "failed_tasks": 0,
            "job_spans": [],
        }
    for jid, group in job_group.items():
        if group in per_op:
            per_op[group]["job_spans"].append(tuple(job_span[jid]))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev.get("Stage ID"))
        acc = per_op.get(job_group.get(jid, ""))
        if acc is None:
            continue
        info = ev.get("Task Info", {})
        if info.get("Failed") or info.get("Killed"):
            acc["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        acc["executor_run_ms"] += m.get("Executor Run Time", 0)
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    out = []
    for acc in per_op.values():
        op = acc["op"]
        lo, hi = op["start_ms"], op["end_ms"]
        clipped = [(max(s, lo), min(e, hi)) for s, e in acc["job_spans"] if min(e, hi) > max(s, lo)]
        acc["driver_gap_ms"] = (hi - lo) - _union_ms(clipped)
        out.append(acc)
    return out

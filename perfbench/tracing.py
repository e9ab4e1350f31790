"""Spans recorded by the benchmark around calls into the program, and
the Spark event-log reader that turns a traced run into per-layer
numbers.

A span is ``(id, name, start, end, parent, ref)``: wall-clock seconds,
the id of the span that caused it, and the row it belongs to (CDC
micro-batches come from a StreamingQueryListener instead).  Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Spans:
    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, ref: str = ""):
        sid = len(self.items)
        rec = {"id": sid, "name": name, "ref": ref,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.items.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.items) + "\n")


def percentile(sorted_xs: list[float], q: float) -> float:
    """The ``q`` quantile of an ascending list, by rank (no interpolation)."""
    return sorted_xs[min(len(sorted_xs) - 1, int(q * len(sorted_xs)))]


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


class EventLog:
    """Jobs, stages, tasks and SQL executions from one Spark JSON event
    log, keyed by job group."""

    def __init__(self, path: Path) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, int] = {}  # stage id -> task count
        self.tasks: list[dict] = []
        self.sql_start: dict[int, float] = {}
        self.sql_plan: dict[int, str] = {}  # execution id -> physical plan text
        self.stage_rdds: dict[int, list[str]] = {}  # stage id -> RDD names
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    exe = props.get("spark.sql.execution.id")
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"],
                        "exec": int(exe) if exe is not None else None,
                        "stages": ev["Stage IDs"],
                    }
                    for sid in ev["Stage IDs"]:
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:  # skipped stages never ran
                        self.stages[info["Stage ID"]] = info["Number of Tasks"]
                        self.stage_rdds[info["Stage ID"]] = [
                            r.get("Name", "") for r in info.get("RDD Info") or []
                        ]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"], "finish": info["Finish Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.sql_start[ev["executionId"]] = ev["time"]
                    self.sql_plan[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    def summary(self, groups: set[str], windows: list[tuple[float, float]]) -> dict:
        """Engine counters for the jobs whose group is in ``groups``;
        ``windows`` are the timed row intervals (epoch seconds) over
        which idle time — wall with no task running — is measured."""
        jids = {j for j, v in self.jobs.items() if v["group"] in groups}
        stage_ids = {s for j in jids for s in self.jobs[j]["stages"] if s in self.stages}
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jids]
        first_job: dict[int, float] = {}
        for j in jids:
            exe = self.jobs[j]["exec"]
            if exe is not None and exe in self.sql_start:
                first_job[exe] = min(first_job.get(exe, float("inf")), self.jobs[j]["submit"])
        plan_ms = sum(t - self.sql_start[e] for e, t in first_job.items())
        busy = [(t["launch"], t["finish"]) for t in tasks]
        idle_ms = 0.0
        for ws, we in windows:
            ws, we = ws * 1000.0, we * 1000.0
            inside = [(max(s, ws), min(e, we)) for s, e in busy if e > ws and s < we]
            idle_ms += (we - ws) - _union_ms(inside)
        return {
            "spark.jobs": len(jids),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "spark.plan_s": plan_ms / 1000.0,
            "spark.idle_s": idle_ms / 1000.0,
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "spark.input_bytes": sum(t["input"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
        }

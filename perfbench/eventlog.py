"""Spark event-log tracing for the benchmark's traced run.

A traced run starts its SparkSession with the event log on, as one
uncompressed, non-rolling JSON-lines file (Spark 4 otherwise writes rolling
zstd logs that the standard library cannot read). Every public engine call
the benchmark makes runs under a job description (``Labels.span``); after
the session stops, ``parse_event_log`` reads the file with ``json`` and sums
the task metrics of each description.

Jobs that ``run_pipeline`` starts itself inherit the description of the
call around them. In warehouse mode each stage is its own parquet write, so
``stage_walls`` splits a commit into stages by the write target in the SQL
plan.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark-level counters reported for every top-level label.
COUNTERS = ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes")

_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput: [^\n]*\n"
    r"Arguments: ([^,\s]+)")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one plain JSON event-log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Labels:
    """Job descriptions plus wall-clock spans around each public call.

    Spans are kept in memory: label -> list of seconds. Labels are set in
    untraced runs too (``setJobDescription`` costs nothing measurable), so
    traced and untraced runs execute the same code."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, label: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[label].append(time.perf_counter() - t0)
            sc.setJobDescription(None)

    def total(self, label: str) -> float:
        return sum(self.walls.get(label, ()))


@dataclass
class LabelStats:
    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_ms: int = 0
    # stage id -> task run times (ms), for the skew ratio
    stage_task_ms: dict[int, list[int]] = field(
        default_factory=lambda: defaultdict(list))

    def counters(self) -> dict[str, float]:
        return {"jobs": self.jobs, "tasks": self.tasks,
                "task_s": self.task_ms / 1000.0,
                "shuffle_bytes": self.shuffle_bytes,
                "spill_bytes": self.spill_bytes}

    def task_skew(self) -> float:
        """max / median task time of the stage with the most task time
        (0 when no stage has two or more tasks)."""
        stages = [t for t in self.stage_task_ms.values() if len(t) >= 2]
        if not stages:
            return 0.0
        heaviest = max(stages, key=sum)
        med = statistics.median(heaviest)
        return max(heaviest) / med if med > 0 else 0.0


@dataclass
class SqlExecution:
    exec_id: int
    start_ms: int
    end_ms: int = 0
    write_target: str | None = None
    label: str | None = None


@dataclass
class EventLog:
    labels: dict[str, LabelStats]
    executions: dict[int, SqlExecution]

    def rollup(self, prefix: str) -> LabelStats:
        """Sum of every label equal to ``prefix`` or starting with
        ``prefix + '.'``."""
        out = LabelStats()
        for name, s in self.labels.items():
            if name == prefix or name.startswith(prefix + "."):
                out.jobs += s.jobs
                out.tasks += s.tasks
                out.task_ms += s.task_ms
                out.shuffle_bytes += s.shuffle_bytes
                out.spill_bytes += s.spill_bytes
                out.python_ms += s.python_ms
                for sid, ts in s.stage_task_ms.items():
                    out.stage_task_ms[sid].extend(ts)
        return out

    def stage_walls(self, label: str, stage_re: str = r"/(t0\d_[a-z]+)$"
                    ) -> dict[str, float]:
        """Seconds per committed stage among the SQL executions of ``label``.

        Stage writes are ordered by the time they finish; a stage's wall
        runs from the previous stage write's end (for the first, from the
        label's first execution) to its own end. Work that writes nothing
        (counts, connected-components rounds) therefore lands in the stage
        whose write it precedes, and the walls add up to the span from the
        first execution to the last stage write. Where two stages commit
        concurrently, the one that finishes second is charged only for the
        time after the first finished."""
        pat = re.compile(stage_re)
        execs = [x for x in self.executions.values()
                 if x.label == label and x.end_ms]
        writes = sorted((x.end_ms, m.group(1)) for x in execs
                        if (m := pat.search(x.write_target or "")))
        if not writes:
            return {}
        prev = min(x.start_ms for x in execs)
        walls = {}
        for end, stage in writes:
            walls[stage] = walls.get(stage, 0.0) + (end - prev) / 1000.0
            prev = end
        return walls


def _task_python_ms(task_info: dict) -> int:
    total = 0
    for acc in task_info.get("Accumulables") or ():
        if acc.get("Name") == "time to run Python workers":
            try:
                total += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(path: str) -> EventLog:
    """Read one uncompressed event-log file into per-description stats.

    A task is attributed to the description of the stage it ran in (the
    ``StageSubmitted`` properties); jobs are counted on ``JobStart``. SQL
    executions are tied to a description through the jobs they ran."""
    stats: dict[str, LabelStats] = defaultdict(LabelStats)
    stage_label: dict[int, str] = {}
    execs: dict[int, SqlExecution] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                label = props.get("spark.job.description") or ""
                stats[label].jobs += 1
                xid = props.get("spark.sql.execution.id")
                if xid is not None and int(xid) in execs and label:
                    execs[int(xid)].label = label
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                sid = e["Stage Info"]["Stage ID"]
                stage_label[sid] = props.get("spark.job.description") or ""
            elif ev == "SparkListenerTaskEnd":
                sid = e.get("Stage ID")
                s = stats[stage_label.get(sid, "")]
                tm = e.get("Task Metrics") or {}
                run_ms = int(tm.get("Executor Run Time", 0))
                s.tasks += 1
                s.task_ms += run_ms
                s.stage_task_ms[sid].append(run_ms)
                sw = tm.get("Shuffle Write Metrics") or {}
                s.shuffle_bytes += int(sw.get("Shuffle Bytes Written", 0))
                s.spill_bytes += int(tm.get("Disk Bytes Spilled", 0))
                s.python_ms += _task_python_ms(e.get("Task Info") or {})
            elif ev.endswith("SQLExecutionStart"):
                m = _WRITE_TARGET.search(e.get("physicalPlanDescription", ""))
                target = m.group(1).rstrip("/") if m else None
                execs[e["executionId"]] = SqlExecution(
                    e["executionId"], int(e["time"]), write_target=target)
            elif ev.endswith("SQLExecutionEnd"):
                x = execs.get(e["executionId"])
                if x is not None:
                    x.end_ms = int(e["time"])
    return EventLog(labels=dict(stats), executions=execs)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
             if not n.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]

"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Stages are attributed to benchmark layers by their names: Spark names a
job's stages after the ``callSite.short`` local property, which the
tracer sets to a label such as ``op:3`` or ``prefix:1:operators.enrich``
around each call. Only the standard library is used.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


@dataclass
class Task:
    stage_id: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    overhead_ms: int  # deserialize + result serialize + getting result
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class Stage:
    stage_id: int
    name: str
    wall_ms: int
    accumulables: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    failed = bool(info.get("Failed") or info.get("Killed")) or (
        ev.get("Task End Reason", {}).get("Reason") != "Success"
    )
    return Task(
        stage_id=ev["Stage ID"],
        duration_ms=info["Finish Time"] - info["Launch Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        overhead_ms=m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0),
        failed=failed,
    )


def read_stages(log_dir: Path) -> list[Stage]:
    """Completed stages, with their tasks, from every log in ``log_dir``."""
    stages: dict[int, Stage] = {}
    tasks: list[Task] = []
    for path in sorted(Path(log_dir).iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info:  # skipped stage
                        continue
                    stages[info["Stage ID"]] = Stage(
                        stage_id=info["Stage ID"],
                        name=info["Stage Name"],
                        wall_ms=info["Completion Time"] - info["Submission Time"],
                        accumulables={
                            a["Name"]: int(a["Value"])
                            for a in info.get("Accumulables", [])
                            if str(a.get("Value", "")).lstrip("-").isdigit()
                        },
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    for t in tasks:
        if t.stage_id in stages:
            stages[t.stage_id].tasks.append(t)
    return list(stages.values())


def labelled(stages: list[Stage], label: str) -> list[Stage]:
    """Stages run under ``label`` or under a label nested in it."""
    return [s for s in stages if s.name == label or s.name.startswith(label + ":")]


def stage_wall_s(stages: list[Stage], label: str) -> float:
    return sum(s.wall_ms for s in labelled(stages, label)) / 1000


def spark_metrics(stages: list[Stage], op_labels: list[str]) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics, per operation (median over the
    operations named by ``op_labels``), except ``spark.tasks_failed``,
    which counts every failed task attempt in the log."""
    per_op: list[dict[str, float]] = []
    for label in op_labels:
        ss = labelled(stages, label)
        ts = [t for s in ss for t in s.tasks]
        run = sum(t.run_ms for t in ts) / 1000
        cpu = sum(t.cpu_ns for t in ts) / 1e9
        longest = max(ss, key=lambda s: s.wall_ms, default=None)
        durations = [t.duration_ms for t in longest.tasks] if longest else []
        med = statistics.median(durations) if durations else 0
        per_op.append(
            {
                "spark.executor_run_s": run,
                "spark.executor_cpu_s": cpu,
                "spark.cpu_busy_ratio": cpu / run if run else 0.0,
                "spark.gc_s": sum(t.gc_ms for t in ts) / 1000,
                "spark.scheduler_delay_s": sum(
                    max(0, t.duration_ms - t.run_ms - t.overhead_ms) for t in ts
                )
                / 1000,
                "spark.task_skew": max(durations) / med if med else 1.0,
                "spark.shuffle_read_bytes": sum(t.shuffle_read for t in ts),
                "spark.shuffle_write_bytes": sum(t.shuffle_write for t in ts),
                "spark.spill_bytes": sum(t.spill for t in ts),
                "spark.tasks": len(ts),
                "spark.python_bytes_sent": sum(s.accumulables.get(PYTHON_SENT, 0) for s in ss),
                "spark.python_bytes_returned": sum(
                    s.accumulables.get(PYTHON_RETURNED, 0) for s in ss
                ),
            }
        )
    out = {k: statistics.median(d[k] for d in per_op) for k in per_op[0]} if per_op else {}
    out["spark.tasks_failed"] = sum(t.failed for s in stages for t in s.tasks)
    return out

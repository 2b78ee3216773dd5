"""Offline reader for Spark's JSON event log.

The traced run starts Spark with ``spark.eventLog.enabled`` (uncompressed,
one file) and parses the log after the session stops. ``Switch`` keeps the
log's listener attached only around the traced pass. Jobs carry the
``spark.jobGroup.id`` the tracer set, so each job attributes to the span
that launched it; micro-batch jobs carry the stream's run id instead.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

from .tracing import covered

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    succeeded: bool | None = None


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    deserialize_ms: int
    serialize_ms: int
    getting_result_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int

    @property
    def scheduler_delay_ms(self) -> int:
        d = self.finish_ms - self.launch_ms
        overhead = self.run_ms + self.deserialize_ms + self.serialize_ms + self.getting_result_ms
        return max(0, d - overhead)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


class Switch:
    """Attaches and detaches the session's event-log listener.

    The listener exists only if the session started with the event log
    enabled. Detached, it writes nothing and the run pays no event logging, so
    set-up and the untraced passes of a traced run do the same work as in
    an untraced run. Uses the JVM SparkContext's ``listenerBus`` and
    ``eventLogger`` (Scala ``private[spark]``, public to py4j).
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._listener = jsc.eventLogger().get()

    def attach(self) -> None:
        self._bus.addToEventLogQueue(self._listener)

    def detach(self) -> None:
        # stops the listener's queue once it has written what was posted
        self._bus.removeListener(self._listener)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
                job.succeeded = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                Task(
                    stage_id=e["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    failed=bool(info.get("Failed") or info.get("Killed")),
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    deserialize_ms=m.get("Executor Deserialize Time", 0),
                    serialize_ms=m.get("Result Serialization Time", 0),
                    getting_result_ms=info.get("Getting Result Time", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )
    return log


def read_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (one per application)."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full) and not name.startswith("."):
            with open(full) as f:
                lines.extend(f)
    return parse_lines(lines)


def summarize(log: EventLog, start_ms: float, end_ms: float, cores: int) -> dict[str, float]:
    """Runtime metrics for the jobs submitted in [start_ms, end_ms] and
    the tasks of their stages."""
    jobs = [j for j in log.jobs.values() if start_ms <= j.submit_ms <= end_ms]
    stages = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t.stage_id in stages]
    wall_ms = max(1.0, end_ms - start_ms)
    busy_ms = sum(t.finish_ms - t.launch_ms for t in tasks)
    job_ms = covered(
        [(max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms)) for j in jobs]
    )
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len({t.stage_id for t in tasks}),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.scheduler_delay_s": sum(t.scheduler_delay_ms for t in tasks) / 1e3,
        "spark.shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / MB,
        "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
        "spark.spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "spark.core_busy_share": busy_ms / (cores * wall_ms),
        "spark.no_job_share": max(0.0, 1.0 - job_ms / wall_ms),
        "spark.failed_task_ratio": (sum(t.failed for t in tasks) / len(tasks)) if tasks else 0.0,
    }


def jobs_per_group(log: EventLog) -> Counter:
    return Counter(j.group for j in log.jobs.values())

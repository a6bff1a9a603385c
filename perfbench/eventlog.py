"""Parser for Spark's JSON event log, with the per-layer sums the benchmark reports.

Spark writes one JSON object per line: to a single file, or (rolling
format, the Spark 4 default) to ``events_<n>_<app>`` files inside an
``eventlog_v2_<app>`` directory. Only the job, stage and task events are
read. Times are converted to epoch seconds.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

from perfbench.stats import union_length

#: SQL metrics that Python evaluation nodes (pandas UDFs, mapInPandas) report
PY_BYTES_SENT = "data sent to Python workers"
PY_RUN_TIME = "time to run Python workers"
#: job properties that Structured Streaming sets on micro-batch jobs
STREAM_QUERY_ID = "sql.streaming.queryId"
STREAM_BATCH_ID = "streaming.sql.batchId"
#: stages whose median task is shorter than this do not count towards skew
SKEW_MIN_MEDIAN_S = 0.01


@dataclass
class Task:
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    python_bytes_sent: int
    python_run_s: float


@dataclass
class Stage:
    id: int
    attempt: int
    submit: float = 0.0
    complete: float = 0.0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    props: dict = field(default_factory=dict)


def event_files(path: str) -> list[str]:
    """The files of one event log: ``path`` itself, or the rolled parts in order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def find_logs(log_dir: str) -> list[str]:
    """Every event log (file or rolled directory) directly under ``log_dir``."""
    return sorted(
        os.path.join(log_dir, name)
        for name in os.listdir(log_dir)
        if not name.startswith(".")
    )


def _accum(task_info: dict, name: str) -> float:
    total = 0.0
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == name:
            total += float(acc.get("Update", 0) or 0)
    return total


def _task(event: dict) -> Task:
    info, m = event["Task Info"], event.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics", {})
    write = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    return Task(
        launch=info["Launch Time"] / 1e3,
        finish=info["Finish Time"] / 1e3,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        input_bytes=inp.get("Bytes Read", 0),
        input_records=inp.get("Records Read", 0),
        shuffle_write_bytes=write.get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        python_bytes_sent=int(_accum(info, PY_BYTES_SENT)),
        python_run_s=_accum(info, PY_RUN_TIME) / 1e3,
    )


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[tuple[int, int], Stage] = {}

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        for name in event_files(path):
            with open(name, encoding="utf-8") as f:
                for line in f:
                    if line.strip():
                        log.add(json.loads(line))
        return log

    def add(self, event: dict) -> None:
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[event["Job ID"]] = Job(
                id=event["Job ID"],
                submit=event["Submission Time"] / 1e3,
                stage_ids=list(event.get("Stage IDs", [])),
                props=event.get("Properties") or {},
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(event["Job ID"])
            if job is not None:
                job.end = event["Completion Time"] / 1e3
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = event["Stage Info"]
            stage = self._stage(info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info:
                stage.submit = info["Submission Time"] / 1e3
            if "Completion Time" in info:
                stage.complete = info["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and event.get("Task Info"):
            stage = self._stage(event["Stage ID"], event["Stage Attempt ID"])
            stage.tasks.append(_task(event))

    def _stage(self, stage_id: int, attempt: int) -> Stage:
        key = (stage_id, attempt)
        if key not in self.stages:
            self.stages[key] = Stage(stage_id, attempt)
        return self.stages[key]

    def jobs_between(self, start: float, end: float) -> list[Job]:
        """Jobs submitted in ``[start, end)``."""
        return sorted(
            (j for j in self.jobs.values() if start <= j.submit < end), key=lambda j: j.id
        )

    def stages_between(self, start: float, end: float) -> list[Stage]:
        """Stages that ran and were submitted in ``[start, end)``."""
        return sorted(
            (s for s in self.stages.values() if s.submit and start <= s.submit < end),
            key=lambda s: (s.id, s.attempt),
        )

    def job_of_stage(self, stage: Stage) -> int | None:
        """The first job that lists the stage, i.e. the one that ran it."""
        ids = [j.id for j in self.jobs.values() if stage.id in j.stage_ids]
        return min(ids) if ids else None


def stage_skew(stages: list[Stage]) -> float:
    """Largest ratio of a stage's slowest task time to its median task time.

    Only stages with at least two tasks and a median task time of at least
    ``SKEW_MIN_MEDIAN_S`` count, so millisecond tasks do not dominate. 1.0
    when no stage qualifies.
    """
    worst = 1.0
    for stage in stages:
        times = [t.finish - t.launch for t in stage.tasks]
        if len(times) >= 2:
            med = statistics.median(times)
            if med >= SKEW_MIN_MEDIAN_S:
                worst = max(worst, max(times) / med)
    return worst


def window_sums(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Task, scan, shuffle, Python and streaming sums over one time window."""
    stages = log.stages_between(start, end)
    tasks = [t for s in stages for t in s.tasks]
    batches: dict[tuple[str, str], list[float]] = {}
    for job in log.jobs_between(start, end):
        batch = job.props.get(STREAM_BATCH_ID)
        if batch is not None:
            key = (job.props.get(STREAM_QUERY_ID, ""), batch)
            span = batches.setdefault(key, [job.submit, job.end])
            span[0], span[1] = min(span[0], job.submit), max(span[1], job.end)
    return {
        "stages": len(stages),
        "task_run_s": sum(t.run_s for t in tasks),
        "task_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "scan_bytes": sum(t.input_bytes for t in tasks),
        "scan_records": sum(t.input_records for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "python_bytes_sent": sum(t.python_bytes_sent for t in tasks),
        "python_run_s": sum(t.python_run_s for t in tasks),
        "stream_batches": len(batches),
        "stream_batch_s": sum(e - s for s, e in batches.values()),
        "stage_busy_s": union_length((s.submit, s.complete) for s in stages if s.complete),
    }

"""Per-layer metrics of a traced run, measured from outside each layer.

Query workloads take their Spark numbers from the event log the session
wrote, attributing each job and stage to the query that was running when
it was submitted (one query runs at a time). Each time or count is a
total over one warm pass; the reported value is the median over the warm
passes. The MapReduce workload reports medians over its warm jobs.
A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.eventlog import EventLog, find_logs, stage_skew, window_sums
from perfbench.stats import median

#: per-layer sums taken from ``eventlog.window_sums``
WINDOW_KEYS = {
    "exec.task_run_s": "task_run_s",
    "exec.task_cpu_s": "task_cpu_s",
    "exec.gc_s": "gc_s",
    "sources.scan_bytes": "scan_bytes",
    "sources.scan_records": "scan_records",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "python.bytes_to_worker": "python_bytes_sent",
    "python.eval_s": "python_run_s",
    "streaming.batches": "stream_batches",
    "streaming.batch_s": "stream_batch_s",
}
SPARK_KEYS = [
    "operators.build_s", "operators.build_jobs", "exec.sink_s", "exec.jobs",
    "exec.stages", *WINDOW_KEYS, "driver.idle_s", "exec.stage_skew",
]
MR_KEYS = [
    "mrlite.map_stage_s", "mrlite.reduce_stage_s", "mrlite.finalize_s",
    "mrlite.task_events", "mrlite.useful_task_ratio", "mrlite.malformed", "mrlite.worker.cpu_s",
]


def query_layers(ctx, tracer, records) -> dict:
    logs = find_logs(str(ctx.run_dir / "eventlog"))
    log = EventLog.read(logs[0])
    per_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    warm_stages = []
    for rec in records:
        if not rec["ok"]:
            continue
        w0, w1, w2 = rec["wall"]
        _add_spark_spans(tracer, log, rec)
        if rec["pass"] == 0:
            continue
        sums = window_sums(log, w0, w2)
        p = per_pass[rec["pass"]]
        p["operators.build_s"] += rec["build_s"]
        p["operators.build_jobs"] += len(log.jobs_between(w0, w1))
        p["exec.sink_s"] += rec["sink_s"]
        p["exec.jobs"] += len(log.jobs_between(w1, w2))
        p["exec.stages"] += len(log.stages_between(w1, w2))
        for key, src in WINDOW_KEYS.items():
            p[key] += sums[src]
        p["driver.idle_s"] += (w2 - w0) - sums["stage_busy_s"]
        warm_stages += log.stages_between(w0, w2)
    out = {key: 0.0 for key in MR_KEYS}
    for key in SPARK_KEYS:
        out[key] = median(p[key] for p in per_pass.values())
    out["exec.stage_skew"] = stage_skew(warm_stages)
    return out


def _add_spark_spans(tracer, log: EventLog, rec: dict) -> None:
    """Nest the query's Spark jobs under its build or sink span, stages under jobs."""
    w0, w1, w2 = rec["wall"]
    build_span, sink_span = rec["spans"]
    job_spans = {}
    for job in log.jobs_between(w0, w2):
        parent = build_span if job.submit < w1 else sink_span
        job_spans[job.id] = tracer.add(
            "spark_job", job.submit, job.end or job.submit, parent, job_id=job.id
        )
    for stage in log.stages_between(w0, w2):
        job_id = log.job_of_stage(stage)
        tracer.add(
            "stage", stage.submit, stage.complete or stage.submit,
            job_spans.get(job_id, sink_span), stage_id=stage.id, tasks=len(stage.tasks),
        )


def mr_layers(tracer, run_span, warm_jobs, clock, tasks_per_job, malformed) -> dict:
    """Stage split of each warm MR job from the manager's ``finished`` messages."""
    map_s, reduce_s, finalize_s, events, cpu = [], [], [], [], []
    total_events = 0
    for job in warm_jobs:
        w0, w1 = job["wall"]
        stamps = clock.between(w0, w1)
        total_events += len(stamps)
        events.append(len(stamps))
        cpu.append(job["cpu_s"])
        maps = [t for t, ev in stamps if any("maptask" in p for p in ev.get("output_paths", []))]
        reduces = [t for t, ev in stamps if any("/part-" in p for p in ev.get("output_paths", []))]
        if not maps or not reduces:
            continue
        t_map, t_red = max(maps), max(reduces)
        map_s.append(t_map - w0)
        reduce_s.append(t_red - t_map)
        finalize_s.append(w1 - t_red)
        op = f"job-{job['index']}"
        job_span = tracer.add("mr_job", w0, w1, run_span, op=op)
        tracer.add("map_stage", w0, t_map, job_span, op=op)
        tracer.add("reduce_stage", t_map, t_red, job_span, op=op)
        tracer.add("finalize", t_red, w1, job_span, op=op)
    out = {key: 0.0 for key in SPARK_KEYS}
    out["cached_blocks_left"] = 0
    out.update(
        {
            "mrlite.map_stage_s": median(map_s),
            "mrlite.reduce_stage_s": median(reduce_s),
            "mrlite.finalize_s": median(finalize_s),
            "mrlite.task_events": median(events),
            "mrlite.useful_task_ratio": (
                tasks_per_job * len(warm_jobs) / total_events if total_events else 0.0
            ),
            "mrlite.malformed": malformed,
            "mrlite.worker.cpu_s": median(cpu),
        }
    )
    return out

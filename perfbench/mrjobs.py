"""MapReduce workload: word-count jobs submitted to ``mrlite.MRManagerServer`` over TCP.

The manager runs in this process with a fleet of ``--worker`` processes
started through the ``python -m eeecs485_p4_mapreduce_spark.mrlite``
CLI. One client sends one ``new_manager_job`` message at a time and
waits until the manager's job record is done and the part files exist.
Every job's output is checked against a golden computed independently
here: a ``Counter`` over the corpus tokens, placed by
``mrlite.partitioner.md5_partition``.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path

from perfbench import procfs
from perfbench.stats import median, tail
from perfbench.trace import Tracer

MIN_WARM_JOBS = 2
EXEC_DIR = Path(__file__).resolve().parent / "mr_exec"
JOB_TIMEOUT_S = 60.0
REGISTER_TIMEOUT_S = 30.0


def golden(input_dir: Path, num_reducers: int) -> list[list[str]]:
    """Expected ``part-%05d`` lines: word counts, md5-partitioned, sorted."""
    from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

    counts: Counter[str] = Counter()
    for path in sorted(input_dir.iterdir()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                counts.update(line.rstrip("\n").lower().replace("\t", " ").split(" "))
    parts: list[list[str]] = [[] for _ in range(num_reducers)]
    for word, n in counts.items():
        parts[md5_partition(word, num_reducers)].append(f"{word}\t{n}")
    return [sorted(p) for p in parts]


def verify_output(out_dir: Path, expected: list[list[str]]) -> str | None:
    """None when the job's output matches the contract and the golden."""
    from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

    names = [f"part-{r:05d}" for r in range(len(expected))]
    found = sorted(os.listdir(out_dir))
    if found != names:
        return f"output files {found} != {names}"
    for r, name in enumerate(names):
        lines = (out_dir / name).read_text(encoding="utf-8").splitlines()
        if lines != sorted(lines):
            return f"{name} is not sorted"
        for line in lines:
            key = line.partition("\t")[0]
            if md5_partition(key, len(expected)) != r:
                return f"key {key!r} in {name} belongs to partition {md5_partition(key, len(expected))}"
        if lines != expected[r]:
            return f"{name} counts differ from the golden"
    return None


def submit(port: int, message: dict) -> None:
    with socket.create_connection(("localhost", port), timeout=10) as sock:
        sock.sendall(json.dumps(message).encode("utf-8"))


class Fleet:
    """A manager in this process plus ``n`` worker processes."""

    def __init__(self, n_workers: int, log_dir: Path) -> None:
        from eeecs485_p4_mapreduce_spark.mrlite import MRManagerServer

        self.server = MRManagerServer(None, host="localhost", port=0, hb_port=0).start()
        self.procs = []
        for _ in range(n_workers):
            log = open(log_dir / f"worker{len(os.listdir(log_dir))}.log", "w")
            self.procs.append(
                subprocess.Popen(
                    [sys.executable, "-m", "eeecs485_p4_mapreduce_spark.mrlite", "--worker",
                     "--host", "localhost", "--port", "0",
                     "--manager-port", str(self.server.port),
                     "--manager-hb-port", str(self.server.hb_port)],
                    stdout=log, stderr=subprocess.STDOUT,
                )
            )
            log.close()
        deadline = time.monotonic() + REGISTER_TIMEOUT_S
        while len(self.server.workers) < n_workers:
            if time.monotonic() > deadline or any(p.poll() is not None for p in self.procs):
                self.close()
                raise RuntimeError("workers did not register")
            time.sleep(0.005)

    def worker_pids(self) -> list[int]:
        return [p.pid for p in self.procs]

    def close(self) -> None:
        """Shut the manager down over TCP; it forwards shutdown to the workers."""
        try:
            submit(self.server.port, {"message_type": "shutdown"})
        except OSError:
            self.server.stop()
        self.server.join(timeout=10)
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


class TaskEventClock:
    """Timestamps each ``finished`` message as it reaches the manager."""

    def __init__(self, server) -> None:
        self.server = server
        self.stamps: list[tuple[float, dict]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)
        self._thread.start()

    def _watch(self) -> None:
        cond = self.server.task_event
        with cond:
            cursor = len(self.server.task_events)
            while not self._stop.is_set():
                cond.wait(timeout=0.1)
                now = time.time()
                while cursor < len(self.server.task_events):
                    self.stamps.append((now, self.server.task_events[cursor]))
                    cursor += 1

    def between(self, start: float, end: float) -> list[tuple[float, dict]]:
        return [(t, ev) for t, ev in list(self.stamps) if start <= t <= end]

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _wait_record(server, position: int) -> object:
    """The manager's record of the job submitted when it held ``position`` records."""
    deadline = time.monotonic() + JOB_TIMEOUT_S
    while len(server.jobs) <= position:
        if time.monotonic() > deadline:
            raise TimeoutError("manager never recorded the job")
        time.sleep(0.0005)
    rec = server.jobs[position]
    if not rec.done.wait(timeout=max(0.0, deadline - time.monotonic())):
        raise TimeoutError("job did not finish")
    return rec


def run(ctx) -> dict:
    spec = ctx.spec
    n_map, n_red = spec["num_mappers"], spec["num_reducers"]
    log_dir = ctx.run_dir / "logs"
    log_dir.mkdir()
    setups = []
    for _ in range(spec["setups"] - 1):
        t0 = time.perf_counter()
        Fleet(spec["workers"], log_dir).close()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    fleet = Fleet(spec["workers"], log_dir)
    setups.append(time.perf_counter() - t0)
    server = fleet.server

    expected = golden(ctx.data_dir, n_red)
    tracer = Tracer()
    run_span = tracer.add("run", time.time(), 0.0, workload=ctx.workload, seed=ctx.seed)
    clock = TaskEventClock(server) if ctx.trace else None
    out_root = ctx.run_dir / "mr_out"
    lines: list[str] = []
    jobs: list[dict] = []
    failed = 0

    def one_job(index: int) -> None:
        nonlocal failed
        out_dir = out_root / f"job-{index:05d}"
        message = {
            "message_type": "new_manager_job",
            "input_directory": str(ctx.data_dir),
            "output_directory": str(out_dir),
            "mapper_executable": str(EXEC_DIR / "wc_map.py"),
            "reducer_executable": str(EXEC_DIR / "wc_reduce.py"),
            "num_mappers": n_map,
            "num_reducers": n_red,
        }
        job = {"index": index, "ok": False}
        cpu0 = sum(procfs.cpu_seconds(p) for p in fleet.worker_pids())
        try:
            position = len(server.jobs)
            w0, t0 = time.time(), time.perf_counter()
            submit(server.port, message)
            rec = _wait_record(server, position)
            if rec.error:
                raise RuntimeError(rec.error)
            if not all((out_dir / f"part-{r:05d}").exists() for r in range(n_red)):
                raise RuntimeError("job done but part files missing")
            w1, t1 = time.time(), time.perf_counter()
            job.update(latency_s=t1 - t0, wall=(w0, w1), ok=True)
            job["cpu_s"] = sum(procfs.cpu_seconds(p) for p in fleet.worker_pids()) - cpu0
            problem = verify_output(out_dir, expected)
            if problem:
                job["ok"] = False
                lines.append(f"FAILED job {index}: {problem}")
        except Exception as exc:  # noqa: BLE001 — a failing job is counted, not fatal
            job["ok"] = False
            lines.append(f"FAILED job {index}: {type(exc).__name__}: {exc}")
        shutil.rmtree(out_dir, ignore_errors=True)
        failed += not job["ok"]
        jobs.append(job)

    one_job(0)
    window = time.perf_counter()
    index = 1
    while index <= MIN_WARM_JOBS or time.perf_counter() - window < ctx.seconds:
        one_job(index)
        index += 1

    rss_peak = max(procfs.status_kib(p, "VmHWM") for p in fleet.worker_pids()) / 1024
    if clock is not None:
        clock.close()
    malformed = server.malformed_count
    fleet.close()
    tracer.spans[0]["end"] = time.time()

    warm = [j for j in jobs[1:] if j["ok"]]
    warm_lat = [j["latency_s"] for j in warm]
    metrics = {
        "setup_s": median(setups),
        "cold_s": jobs[0].get("latency_s", 0.0),
        "warm_pass_s": median(warm_lat),
        "op_p50_s": median(warm_lat),
        "worker_rss_peak_mib": rss_peak,
    }
    t = tail(warm_lat)
    lines.append(
        f"op_tail_s: p{t[0]:.1f} = {t[1]:.4f} s over {len(warm_lat)} warm jobs"
        if t else f"op_tail_s: fewer than 11 warm jobs ({len(warm_lat)}); no tail percentile"
    )
    lines.append(f"setup_s: median of {len(setups)} fleet start-ups")
    lines.append(f"warm_pass_s and op_p50_s: median over {len(warm_lat)} warm jobs (a pass is one job)")
    lines.append(f"failed_ratio: {failed}/{len(jobs)} = {failed / len(jobs):.4f}")
    if ctx.trace:
        from perfbench.layers import mr_layers

        metrics.update(mr_layers(tracer, run_span, warm, clock, n_map + n_red, malformed))
        tracer.write(str(ctx.trace_file))
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics,
        "lines": lines,
    }

"""TCP submit-endpoint parity tests: the reference's OWN client script
(/root/reference/mapreduce/submit.py, run as a subprocess at test time —
never copied) must be able to submit a job to MRManagerServer and get the
golden word-count output, proving C1's network hop works unchanged for
existing user scripts."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import time
from pathlib import Path

import pytest

REF = Path("/root/reference")
REF_DATA = REF / "tests/testdata"

needs_ref = pytest.mark.skipif(
    not REF_DATA.is_dir(), reason="reference testdata not available"
)


@pytest.fixture()
def server(spark):
    from eeecs485_p4_mapreduce_spark.mrlite import MREngine, MRManagerServer

    srv = MRManagerServer(MREngine(spark), port=0).start()
    yield srv
    srv.stop()
    srv.join(timeout=10)


def _send(port: int, message: dict) -> None:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", port))
        sock.sendall(json.dumps(message).encode())


def _wait_jobs(server, n: int, timeout: float = 120.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if len(server.jobs) >= n and all(
            rec.done.is_set() for rec in server.jobs[:n]
        ):
            return
        time.sleep(0.2)
    raise TimeoutError(f"jobs not finished: {[(r.error, r.result) for r in server.jobs]}")


@needs_ref
def test_reference_submit_client_runs_wc_job(server, tmp_path):
    """Drive the endpoint with the reference's actual mapreduce-submit
    client: its fire-and-forget TCP JSON message must produce the golden
    2x2 word count."""
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable,
            str(REF / "mapreduce/submit.py"),
            "--port", str(server.port),
            "--input", str(REF_DATA / "input"),
            "--output", str(out_dir),
            "--mapper", str(REF_DATA / "exec/wc_map.sh"),
            "--reducer", str(REF_DATA / "exec/wc_reduce.sh"),
        ],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    assert "Submitted job" in proc.stdout

    _wait_jobs(server, 1)
    rec = server.jobs[0]
    assert rec.error is None
    assert rec.result is not None and len(rec.result.output_paths) == 2
    golden = (REF_DATA / "correct/word_count_correct.txt").read_text().splitlines()
    assert sorted(rec.result.read_lines()) == sorted(golden)


@needs_ref
def test_fifo_queueing_and_malformed_messages(server, tmp_path):
    """Two jobs submitted back-to-back run FIFO with increasing job ids
    (reference tests/test_manager_05/06 queue behavior); malformed JSON
    is discarded without killing the server, and each discard increments
    the observable malformed_count."""
    assert server.malformed_count == 0
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", server.port))
        sock.sendall(b"this is not json {")
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.connect(("localhost", server.port))
        sock.sendall(b"\xff\xfe not utf-8 either \x80")
    deadline = time.monotonic() + 5
    while server.malformed_count < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert server.malformed_count == 2
    base = {
        "message_type": "new_manager_job",
        "input_directory": str(REF_DATA / "input_small"),
        "mapper_executable": str(REF_DATA / "exec/wc_map.sh"),
        "reducer_executable": str(REF_DATA / "exec/wc_reduce.sh"),
        "num_mappers": 1,
        "num_reducers": 1,
    }
    _send(server.port, {**base, "output_directory": str(tmp_path / "a")})
    _send(server.port, {**base, "output_directory": str(tmp_path / "b")})
    _wait_jobs(server, 2)
    a, b = server.jobs
    assert a.error is None and b.error is None
    assert b.result.job_id == a.result.job_id + 1
    assert a.result.read_lines() == b.result.read_lines()


def test_shutdown_message_stops_server(server):
    """The reference's shutdown message terminates both server threads."""
    _send(server.port, {"message_type": "shutdown"})
    deadline = time.monotonic() + 10
    while server.is_alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not server.is_alive()


def test_shutdown_drains_queued_jobs(server):
    """Jobs still queued (or newly dispatched) at shutdown must have
    ``done`` set with an error rather than hanging a client that waits on
    the record — shutdown resolves every outstanding JobRecord."""
    server.stop()
    deadline = time.monotonic() + 10
    while server.is_alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    # Dispatch after shutdown: the runner loop is gone, so the record
    # must be resolved immediately instead of queued forever.
    server._dispatch(
        {
            "message_type": "new_manager_job",
            "input_directory": "/nonexistent",
            "output_directory": "/nonexistent",
            "mapper_executable": "true",
            "reducer_executable": "true",
        }
    )
    (rec,) = server.jobs
    assert rec.done.wait(timeout=5)
    assert rec.error == "dropped: shutdown"


@needs_ref
def test_cli_serve_mode(tmp_path):
    """`python -m ...mrlite --serve` starts the endpoint, accepts the
    reference protocol, and exits cleanly on the shutdown message."""
    import re

    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "eeecs485_p4_mapreduce_spark.mrlite",
            "--serve",
            "--port",
            "0",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd="/root/repo",
    )
    try:
        line = proc.stdout.readline()
        m = re.search(r"listening on ([\w.]+):(\d+)", line)
        assert m, line
        port = int(m.group(2))
        base = {
            "message_type": "new_manager_job",
            "input_directory": str(REF_DATA / "input_small"),
            "output_directory": str(tmp_path / "out"),
            "mapper_executable": str(REF_DATA / "exec/wc_map.sh"),
            "reducer_executable": str(REF_DATA / "exec/wc_reduce.sh"),
            "num_mappers": 1,
            "num_reducers": 1,
        }
        _send(port, base)
        deadline = time.monotonic() + 90
        out_file = tmp_path / "out" / "part-00000"
        while time.monotonic() < deadline and not out_file.exists():
            time.sleep(0.3)
        assert out_file.exists(), "job output never appeared"
        _send(port, {"message_type": "shutdown"})
        assert proc.wait(timeout=60) == 0
    finally:
        if proc.poll() is None:
            proc.kill()


@needs_ref
def test_dead_fleet_falls_back_to_spark_engine(spark, tmp_path):
    """Routing rule: workers execute jobs only while heartbeat-ALIVE.
    A worker that registered and then died (no heartbeats for 5
    intervals) must NOT strand the queue — the job runs on the Spark
    engine instead and still produces the golden output."""
    from eeecs485_p4_mapreduce_spark.mrlite import (
        MREngine,
        MRManagerServer,
        MRWorker,
    )

    server = MRManagerServer(
        MREngine(spark), port=0, hb_port=0, heartbeat_interval=0.2
    ).start()
    worker = MRWorker(
        port=0,
        manager_port=server.port,
        manager_hb_port=server.hb_port,
        heartbeat_interval=0.2,
    ).start()
    try:
        assert worker.registered.wait(timeout=10)
        worker.stop()  # silent death: no more heartbeats
        worker.join(timeout=5)
        time.sleep(6 * 0.2)  # > 5 missed intervals
        assert server.alive_workers() == []
        out = tmp_path / "out"
        _send(
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(REF_DATA / "input"),
                "output_directory": str(out),
                "mapper_executable": str(REF_DATA / "exec/wc_map.sh"),
                "reducer_executable": str(REF_DATA / "exec/wc_reduce.sh"),
                "num_mappers": 2,
                "num_reducers": 2,
            },
        )
        _wait_jobs(server, 1)
        rec = server.jobs[0]
        assert rec.error is None
        # No worker ever saw a task.
        assert server.task_events == []
        golden = (
            (REF_DATA / "correct/word_count_correct.txt")
            .read_text()
            .splitlines()
        )
        assert sorted(rec.result.read_lines()) == sorted(golden)
    finally:
        worker.stop()
        server.stop()
        server.join(timeout=10)


def test_nonceless_finished_fails_fast_unless_legacy(monkeypatch):
    """A worker that drops the unknown ``wave`` field (e.g. reference
    manager-test mock workers send ``finished`` with no wave) must not
    hang ``_dispatch_wave`` forever under the strict default: the
    nonce-less finished from the assigned worker raises a RuntimeError
    naming ``legacy_wave_compat`` (the remedy), while with the flag set
    the sender+tid match completes the wave as documented."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    def run(legacy: bool):
        srv = mgr.MRManagerServer(
            None, port=0, hb_port=None, legacy_wave_compat=legacy
        )
        wkey = ("localhost", 7001)
        srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

        def fake_send(host, port, message):
            # Legacy-style worker: instant finished WITHOUT the wave
            # field (it dropped the unknown key from the task message).
            ev = {
                "message_type": "finished",
                "task_id": message["task_id"],
                "worker_host": host,
                "worker_port": port,
            }
            with srv.task_event:
                srv.task_events.append(ev)
                srv.task_event.notify_all()

        monkeypatch.setattr(mgr, "send_json", fake_send)
        return srv._dispatch_wave(
            [{"task_id": 0, "message_type": "new_map_task"}]
        )

    with pytest.raises(RuntimeError, match="legacy_wave_compat"):
        run(False)

    done = run(True)
    assert [int(ev["task_id"]) for ev in done] == [0]


def test_single_spoofed_nonceless_event_does_not_kill_job(monkeypatch):
    """Sender identity in ``finished`` is body-reported, not
    socket-peer, so ONE spoofed nonce-less packet must not abort the
    job: the struck worker is quarantined for the wave, its task is
    requeued to the other (compliant) worker, and the wave completes.
    The struck worker's own later nonce-echo for the reassigned task
    is skipped by the sender check (task now belongs elsewhere)."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wa = ("localhost", 7003)
    wb = ("localhost", 7004)
    srv.workers[wa] = mgr.WorkerRecord(host=wa[0], port=wa[1])
    srv.workers[wb] = mgr.WorkerRecord(host=wb[0], port=wb[1])
    spoofed = {"sent": False}

    def fake_send(host, port, message):
        events = []
        if not spoofed["sent"]:
            # Attacker forges a nonce-less finished claiming the
            # assigned worker's identity before the worker replies.
            spoofed["sent"] = True
            events.append(
                {
                    "message_type": "finished",
                    "task_id": message["task_id"],
                    "worker_host": host,
                    "worker_port": port,
                }
            )
        else:
            # Compliant worker: echoes the wave nonce.
            events.append(
                {
                    "message_type": "finished",
                    "task_id": message["task_id"],
                    "worker_host": host,
                    "worker_port": port,
                    "wave": message["wave"],
                }
            )
        with srv.task_event:
            srv.task_events.extend(events)
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    done = srv._dispatch_wave(
        [{"task_id": 0, "message_type": "new_map_task"}]
    )
    assert [int(ev["task_id"]) for ev in done] == [0]
    assert done[0].get("wave") is not None


def test_stale_prior_wave_nonce_still_skipped(monkeypatch):
    """The fail-fast path must not weaken the original guarantee: an
    event WITH a wave field from a previous wave (stale echo) is still
    silently skipped, and the wave completes when the real echo
    arrives."""
    from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr

    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    wkey = ("localhost", 7002)
    srv.workers[wkey] = mgr.WorkerRecord(host=wkey[0], port=wkey[1])

    def fake_send(host, port, message):
        stale = {
            "message_type": "finished",
            "task_id": message["task_id"],
            "worker_host": host,
            "worker_port": port,
            "wave": message["wave"] - 1 if message["wave"] else -1,
        }
        good = {**stale, "wave": message["wave"]}
        with srv.task_event:
            srv.task_events.extend([stale, good])
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    done = srv._dispatch_wave(
        [{"task_id": 0, "message_type": "new_map_task"}]
    )
    assert [int(ev["task_id"]) for ev in done] == [0]
    assert done[0]["wave"] is not None

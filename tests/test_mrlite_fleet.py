"""mrlite manager/worker tests that need no reference checkout.

Everything here is generated in ``tmp_path``: the corpus, the word-count
executables and the goldens. The tests pin the dispatch wave's exit rule
(no idle wait after the last ``finished`` event), the server's prompt
shutdown, the map side's bounded partition memo, the reduce side's
``\\n``-only record splitting, and the byte-exact output of a real
manager + two-worker fleet.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import pytest

from eeecs485_p4_mapreduce_spark.mrlite import manager as mgr
from eeecs485_p4_mapreduce_spark.mrlite import worker as wkr
from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

WC_MAP = """
import io, sys
out = io.TextIOWrapper(sys.stdout.buffer, encoding="utf-8")
for line in io.TextIOWrapper(sys.stdin.buffer, encoding="utf-8"):
    for token in line.rstrip("\\n").lower().replace("\\t", " ").split(" "):
        out.write(f"{token}\\t1\\n")
out.flush()
"""

WC_REDUCE = """
import io, sys
out = io.TextIOWrapper(sys.stdout.buffer, encoding="utf-8")
current, count = None, 0
for line in io.TextIOWrapper(sys.stdin.buffer, encoding="utf-8"):
    key = line.rstrip("\\n").partition("\\t")[0]
    if key != current:
        if current is not None:
            out.write(f"{current}\\t{count}\\n")
        current, count = key, 0
    count += 1
if current is not None:
    out.write(f"{current}\\t{count}\\n")
out.flush()
"""

IDENTITY = """
import shutil, sys
shutil.copyfileobj(sys.stdin.buffer, sys.stdout.buffer)
"""


def _script(directory: Path, name: str, body: str) -> str:
    path = directory / name
    path.write_text(f"#!{sys.executable}\n{body}", encoding="utf-8")
    path.chmod(0o755)
    return str(path)


class RecordingCondition(threading.Condition):
    """A Condition that counts the waits that timed out."""

    def __init__(self):
        super().__init__()
        self.timed_out = 0

    def wait(self, timeout=None):
        notified = super().wait(timeout)
        self.timed_out += not notified
        return notified


def test_dispatch_wave_returns_on_last_finished_without_timed_out_wait(
    monkeypatch,
):
    """Workers that reply synchronously while tasks are dealt: the wave
    must read those queued events before it waits, and return on the
    last one instead of sleeping out a 0.2 s wait timeout."""
    srv = mgr.MRManagerServer(None, port=0, hb_port=None)
    srv.task_event = RecordingCondition()
    for port in (7101, 7102):
        srv.workers[("localhost", port)] = mgr.WorkerRecord("localhost", port)
    sent = []

    def fake_send(host, port, message):
        sent.append((port, message["task_id"]))
        with srv.task_event:
            srv.task_events.append(
                {
                    "message_type": "finished",
                    "task_id": message["task_id"],
                    "output_paths": [],
                    "worker_host": host,
                    "worker_port": port,
                    "wave": message["wave"],
                }
            )
            srv.task_event.notify_all()

    monkeypatch.setattr(mgr, "send_json", fake_send)
    tasks = [{"task_id": t, "message_type": "new_map_task"} for t in range(4)]
    done = srv._dispatch_wave(tasks)
    assert [ev["task_id"] for ev in done] == [0, 1, 2, 3]
    assert {port for port, _ in sent} == {7101, 7102}
    assert srv.task_event.timed_out == 0


@pytest.mark.parametrize("how", ["message", "stop"])
def test_server_threads_end_within_100ms_of_shutdown(how):
    """Neither the heartbeat loop's recvfrom nor the accept loop may sit
    out its 0.5 s poll timeout once shutdown has begun."""
    srv = mgr.MRManagerServer(None, port=0, hb_port=0).start()
    t0 = time.monotonic()
    if how == "message":
        wkr.send_json("localhost", srv.port, {"message_type": "shutdown"})
    else:
        srv.stop()
    while srv.is_alive() and time.monotonic() - t0 < 0.1:
        time.sleep(0.002)
    assert not srv.is_alive()
    srv.join(timeout=5)
    assert srv.malformed_count == 0


def test_partition_memo_stays_within_its_cap():
    memo = wkr.PartitionMemo(5)
    for i in range(3 * memo.MAX_ENTRIES + 7):
        key = f"key-{i}"
        assert memo(key) == md5_partition(key, 5)
        assert len(memo.cache) <= memo.MAX_ENTRIES
    long_key = "k" * (memo.MAX_KEY_CHARS + 1)
    assert memo(long_key) == md5_partition(long_key, 5)
    assert long_key not in memo.cache


def test_records_split_at_newline_only(tmp_path, monkeypatch):
    """Regression: the reduce side split its inputs with str.splitlines,
    which also breaks at \\x0b, \\x0c, \\x1c-\\x1e, \\x85, U+2028 and U+2029,
    so a sorted record could be cut in two and its halves interleaved
    with other records. Map keeps such records whole; reduce must too,
    and still end a final line that lacks its newline."""
    sent = []
    monkeypatch.setattr(wkr, "send_json", lambda h, p, m: sent.append(m))
    identity = _script(tmp_path, "identity.py", IDENTITY)
    inputs = tmp_path / "in"
    inter = tmp_path / "inter"
    out = tmp_path / "out"
    for d in (inputs, inter, out):
        d.mkdir()
    records = [
        "ab\u2028cd\t7",
        "alpha\t1",
        "b\x0bz\t2",
        "c\x0c\x1c\x1d\x1e\x85\u2029d\t3",
    ]
    (inputs / "f0").write_text(f"{records[0]}\n{records[1]}", encoding="utf-8")
    (inputs / "f1").write_text(
        f"{records[3]}\n{records[2]}\n", encoding="utf-8"
    )
    worker = wkr.MRWorker(port=0)
    worker._dispatch(
        {
            "message_type": "new_map_task",
            "task_id": 0,
            "executable": identity,
            "input_paths": [str(inputs / "f0"), str(inputs / "f1")],
            "output_directory": str(inter),
            "num_partitions": 1,
        }
    )
    worker._dispatch(
        {
            "message_type": "new_reduce_task",
            "task_id": 0,
            "executable": identity,
            "input_paths": [str(inter / "maptask00000-part00000")],
            "output_directory": str(out),
        }
    )
    assert [m.get("error") for m in sent] == [None, None]
    expected = "".join(f"{r}\n" for r in sorted(records))
    assert (out / "part-00000").read_text(encoding="utf-8") == expected


def _write_corpus(directory: Path) -> Counter:
    """Mixed case, tabs, blank lines, non-ASCII keys, CRLF line ends and
    a file without a final newline; returns the word-count golden."""
    words = ["Hello", "hello", "WORLD", "naïve", "Straße", "日本", "ÉTÉ", "x"]
    directory.mkdir()
    counts: Counter = Counter()
    for f in range(5):
        lines = []
        for i in range(300 + 37 * f):
            if i % 11 == 0:
                line = ""
            else:
                picks = [words[(i * 7 + j * 3 + f) % len(words)] for j in range(i % 5 + 1)]
                line = ("\t" if i % 3 == 0 else " ").join(picks)
            lines.append(line)
            counts.update(line.lower().replace("\t", " ").split(" "))
        end = "\r\n" if f % 2 else "\n"
        text = end.join(lines) + ("" if f == 4 else end)
        (directory / f"file{f:02d}").write_bytes(text.encode("utf-8"))
    return counts


def test_fleet_word_count_is_byte_exact(tmp_path, monkeypatch):
    """A manager with two in-process workers runs word count over the
    TCP protocol; every part file equals the md5-partitioned, sorted
    Counter golden byte for byte."""
    monkeypatch.chdir(tmp_path)  # the manager's tmp/job-N scratch
    counts = _write_corpus(tmp_path / "input")
    num_reducers = 3
    server = mgr.MRManagerServer(None, port=0, hb_port=0).start()
    workers = [
        wkr.MRWorker(
            port=0,
            manager_port=server.port,
            manager_hb_port=server.hb_port,
            heartbeat_interval=0.1,
        ).start()
        for _ in range(2)
    ]
    try:
        for w in workers:
            assert w.registered.wait(timeout=10)
        out = tmp_path / "out"
        wkr.send_json(
            "localhost",
            server.port,
            {
                "message_type": "new_manager_job",
                "input_directory": str(tmp_path / "input"),
                "output_directory": str(out),
                "mapper_executable": _script(tmp_path, "wc_map.py", WC_MAP),
                "reducer_executable": _script(tmp_path, "wc_reduce.py", WC_REDUCE),
                "num_mappers": 3,
                "num_reducers": num_reducers,
            },
        )
        deadline = time.monotonic() + 60
        while not server.jobs and time.monotonic() < deadline:
            time.sleep(0.01)
        (rec,) = server.jobs
        assert rec.done.wait(timeout=max(0.0, deadline - time.monotonic()))
        assert rec.error is None
    finally:
        server.stop()
        server.join(timeout=10)
        for w in workers:
            w.join(timeout=5)
    assert not server.is_alive()
    assert not any(w.is_alive() for w in workers)
    parts =[[] for _ in range(num_reducers)]
    for word, n in counts.items():
        parts[md5_partition(word, num_reducers)].append(f"{word}\t{n}\n")
    assert sorted(os.listdir(out)) == [
        f"part-{r:05d}" for r in range(num_reducers)
    ]
    for r, lines in enumerate(parts):
        expected = "".join(sorted(lines)).encode("utf-8")
        assert (out / f"part-{r:05d}").read_bytes() == expected
    assert not (tmp_path / "tmp" / "job-0").exists()

"""Worker-side wire parity: the reference's ``mapreduce-worker`` network
surface — C3 (register/ack) and C4 (UDP heartbeats), which SURVEY §2.6
previously delegated to Spark's executor heartbeating, plus the two task
messages the reference's worker unit tests pin. With this module the
ONLY remaining reference surface is nothing: every message type any
reference test sends or expects has a native speaker here.

Protocol — pinned by the reference's own tests (its framework code is
starter stubs, so the tests ARE the spec):

- **register** (reference: tests/test_worker_02.py:70-77): on startup
  the worker opens its own TCP listen socket, then TCP-connects to the
  manager and sends ``{"message_type": "register", "worker_host",
  "worker_port"}``. It does no work until the manager replies
  ``register_ack`` on the worker's own socket
  (tests/test_worker_01.py:12-24).
- **heartbeat** (reference: tests/test_worker_02.py:77-92; 2 s cadence
  per tests/utils/__init__.py:21-22): only AFTER the ack, a UDP socket
  ``connect()``-ed to ``(manager_host, manager_hb_port)`` carries
  ``{"message_type": "heartbeat", "worker_host", "worker_port"}`` every
  ``TIME_BETWEEN_HEARTBEATS`` seconds. The reference test asserts the
  exact socket family (SOCK_DGRAM) and the connect-then-send shape, and
  that 2 ≤ heartbeats < 4 arrive in 1.5 intervals — i.e. one heartbeat
  is sent IMMEDIATELY on ack, then one per interval.
- **new_map_task** (reference: tests/test_worker_03.py:24-34, field
  set; tests/test_worker_08.py:159-175, one output file per partition
  whether or not rows landed in it): run the executable once per input
  path with that file as stdin, route each stdout line to partition
  ``md5(key) % num_partitions`` (key = text before the first tab —
  mrlite/partitioner.py, pinned by test_worker_08's observed layout),
  write ``maptask{task_id:05d}-part{p:05d}`` under ``output_directory``
  UNSORTED (this fork's M3 contract: the reference's own reduce
  fixtures, tests/testdata/test_worker_07/maptask00000-part00000, are
  unsorted — sorting is reduce-side), and reply ``{"message_type":
  "finished", "task_id", "output_paths", "worker_host",
  "worker_port"}`` (tests/test_worker_03.py:85-101). Lines stream
  through O(1) memory while partitioning (tests/test_worker_11.py
  profiles the map stage). Keys repeat heavily, so each task memoizes
  key → partition in a ``PartitionMemo``: at most 2048 entries (emptied
  when full) and no key longer than 64 characters, which keeps the
  memo under 1 MiB however many distinct keys a mapper emits.
- **new_reduce_task** (reference: tests/test_worker_07.py:27-38 field
  set, :117-125 grouped output): merge-sort the input partition files
  lexicographically by whole ``(key, value)`` line (R1 — required:
  ``wc_reduce.sh`` is ``uniq -c``, which only groups sorted input, and
  the reference's fixture inputs are unsorted) into the reduce
  executable's stdin, streaming its stdout to ``part-{task_id:05d}``.
  The sort is external: each input file is sorted alone in memory and
  spilled to a run file, then ``heapq.merge`` streams the runs — peak
  memory is O(largest single input file), never O(partition), which is
  what lets one reduce task take a whole skewed partition at 100 TB
  shard sizes without this shim becoming the weak link. Runs are UTF-8
  bytes and the merge goes to a binary stdin through ``writelines``
  (UTF-8 byte order is code-point order, so the order is a str sort's).
  Records split at ``\n`` only, after ``\r\n`` and a lone ``\r`` are
  read as ``\n`` (as the map side reads its mapper's stdout): ``\x0b``,
  ``\x0c``, ``\x1c``-``\x1e``, ``\x85``, U+2028 and U+2029 stay inside
  their record, and a final line without a newline gets one.
- **shutdown**: stop the loops, close the sockets, exit 0
  (tests/test_worker_01.py catches SystemExit(0); here ``join()``
  returns and ``exit_code`` reads 0).

Replies to the manager are fire-and-forget TCP connects (connect →
sendall → close), the same shape ``MRManagerServer`` already accepts
and the reference's ``submit.py`` client uses.

Scale note: this is the reference-contract layer, not the analytics
engine — the Spark layer keeps using executors + cluster-manager
heartbeats for real work. The worker exists so tooling written against
the reference's wire protocol (its own test harness included) can drive
this repo unchanged, and so mrlite can run a genuine multi-process
mini-cluster in tests (manager dispatch → worker exec → finished).
"""

from __future__ import annotations

import heapq
import json
import os
import socket
import subprocess
import tempfile
import threading
from contextlib import ExitStack
from pathlib import Path

from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

#: Seconds between heartbeats — in the reference spec
#: (reference: tests/utils/__init__.py:21-22).
TIME_BETWEEN_HEARTBEATS = 2.0


class PartitionMemo:
    """``md5_partition`` for one map task, memoized per key.

    Mapper keys repeat heavily (a word count emits each word once per
    occurrence), and the md5 + hexdigest + int parse dominates the
    per-line cost. The memo is bounded so the map stage's streaming
    memory envelope holds for high-cardinality keys: keys longer than
    ``MAX_KEY_CHARS`` are never stored, and the memo is emptied when it
    reaches ``MAX_ENTRIES`` (the hot keys come straight back). At worst,
    2048 keys of 64 four-byte code points, it holds about 0.7 MiB.
    """

    MAX_ENTRIES = 2048
    MAX_KEY_CHARS = 64

    def __init__(self, num_partitions: int):
        self.num_partitions = num_partitions
        self.cache: dict[str, int] = {}

    def __call__(self, key: str) -> int:
        part = self.cache.get(key)
        if part is None:
            part = md5_partition(key, self.num_partitions)
            if len(key) <= self.MAX_KEY_CHARS:
                if len(self.cache) >= self.MAX_ENTRIES:
                    self.cache.clear()
                self.cache[key] = part
        return part


def send_json(
    host: str, port: int, message: dict, timeout: float = 5.0
) -> None:
    """Fire-and-forget one JSON message over a fresh TCP connection —
    the wire shape of every control message in the reference protocol
    (reference: mapreduce/submit.py:80-89). The timeout keeps a
    black-holed peer (SYNs silently dropped) from stalling the caller
    for the kernel's multi-minute connect default — callers treat
    socket.timeout like any other OSError (peer presumed dead)."""
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as sock:
        sock.settimeout(timeout)
        sock.connect((host, port))
        sock.sendall(json.dumps(message).encode("utf-8"))


def serve_json_loop(sock, shutdown, on_message, on_malformed) -> None:
    """The shared accept → recv-until-EOF → JSON-decode → dispatch loop
    both mrlite daemons run (manager accept loop, worker listen loop).
    A dispatch exception is contained per-message: a bad task/message
    must never kill the daemon's network thread (the heartbeat thread
    would keep advertising a worker that can no longer hear anything)."""
    while not shutdown.is_set():
        try:
            conn, _addr = sock.accept()
        except socket.timeout:
            continue
        except OSError:
            break
        with conn:
            chunks = []
            try:
                while chunk := conn.recv(65536):
                    chunks.append(chunk)
            except OSError:
                continue
        try:
            message = json.loads(b"".join(chunks).decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            on_malformed()  # discard, observably
            continue
        try:
            on_message(message)
        except Exception:  # noqa: BLE001 — survive bad messages/tasks
            pass  # the dispatcher reports failures itself
    sock.close()


class MRWorker:
    """A worker node speaking the reference's exact wire protocol.

    ``port=0`` binds an ephemeral port (read ``self.port`` after
    ``start()``). ``heartbeat_interval`` defaults to the spec's 2 s;
    tests shrink it to keep wall-clock short without changing the
    message shape.
    """

    def __init__(
        self,
        host: str = "localhost",
        port: int = 6001,
        manager_host: str = "localhost",
        manager_port: int = 6000,
        manager_hb_port: int = 5999,
        heartbeat_interval: float = TIME_BETWEEN_HEARTBEATS,
    ):
        self.host = host
        self.port = port
        self.manager_host = manager_host
        self.manager_port = manager_port
        self.manager_hb_port = manager_hb_port
        self.heartbeat_interval = heartbeat_interval
        self.registered = threading.Event()
        self.exit_code: int | None = None
        #: finished-message dicts this worker has sent (observability)
        self.finished: list[dict] = []
        self.malformed_count = 0
        self._sock: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._shutdown = threading.Event()

    # -- lifecycle -----------------------------------------------------

    def start(self) -> "MRWorker":
        sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind((self.host, self.port))
        self.port = sock.getsockname()[1]
        sock.listen()
        sock.settimeout(0.5)  # so the accept loop notices shutdown
        self._sock = sock
        t = threading.Thread(target=self._listen_loop, daemon=True)
        t.start()
        self._threads.append(t)
        # Register AFTER our own socket listens: the ack races back on it.
        send_json(
            self.manager_host,
            self.manager_port,
            {
                "message_type": "register",
                "worker_host": self.host,
                "worker_port": self.port,
            },
        )
        return self

    def stop(self) -> None:
        """Local equivalent of receiving a shutdown message."""
        self._shutdown.set()

    def join(self, timeout: float | None = None) -> None:
        for t in self._threads:
            t.join(timeout)

    def is_alive(self) -> bool:
        return any(t.is_alive() for t in self._threads)

    # -- network side ----------------------------------------------------

    def _listen_loop(self) -> None:
        assert self._sock is not None

        def bump():
            self.malformed_count += 1

        serve_json_loop(self._sock, self._shutdown, self._dispatch, bump)
        if self.exit_code is None:
            self.exit_code = 0

    def _dispatch(self, message: dict) -> None:
        mtype = message.get("message_type")
        if mtype == "register_ack":
            if not self.registered.is_set():
                self.registered.set()
                t = threading.Thread(target=self._heartbeat_loop, daemon=True)
                t.start()
                self._threads.append(t)
        elif mtype in ("new_map_task", "new_reduce_task"):
            # A failing task must neither kill this loop nor hang the
            # manager: report it as finished-with-error (an extra field
            # reference tooling ignores; our manager requeues on it).
            try:
                if mtype == "new_map_task":
                    self._run_map_task(message)
                else:
                    self._run_reduce_task(message)
            except Exception as exc:  # noqa: BLE001 — report, don't die
                self._send_finished(
                    int(message.get("task_id", -1)),
                    [],
                    error=f"{type(exc).__name__}: {exc}",
                    wave=message.get("wave"),
                )
        elif mtype == "shutdown":
            self._shutdown.set()

    def _heartbeat_loop(self) -> None:
        beat = json.dumps(
            {
                "message_type": "heartbeat",
                "worker_host": self.host,
                "worker_port": self.port,
            }
        ).encode("utf-8")
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            sock.connect((self.manager_host, self.manager_hb_port))
            while not self._shutdown.is_set():
                try:
                    sock.send(beat)
                except OSError:
                    break
                # wait() (not sleep) so shutdown interrupts mid-interval
                self._shutdown.wait(self.heartbeat_interval)

    def _attempt_tag(self) -> str:
        """Unique-per-attempt temp-file suffix: host + port + pid."""
        return f"{self.host}-{self.port}-{os.getpid()}"

    def _send_finished(
        self,
        task_id: int,
        output_paths: list[str],
        error: str | None = None,
        wave=None,
    ) -> None:
        message = {
            "message_type": "finished",
            "task_id": task_id,
            "output_paths": output_paths,
            "worker_host": self.host,
            "worker_port": self.port,
        }
        if error is not None:
            message["error"] = error
        if wave is not None:
            # Echo the manager's per-wave nonce so a delayed finished
            # from a prior wave (task ids restart at 0 each wave) can
            # never be matched to the wrong stage. Reference-driven
            # tasks carry no nonce; the field is simply absent then.
            message["wave"] = wave
        self.finished.append(message)
        send_json(self.manager_host, self.manager_port, message)

    # -- task side ---------------------------------------------------------

    def _run_map_task(self, message: dict) -> None:
        task_id = int(message["task_id"])
        executable = str(message["executable"])
        out_dir = Path(str(message["output_directory"]))
        num_partitions = int(message["num_partitions"])
        partition_of = PartitionMemo(num_partitions)
        part_paths = [
            out_dir / f"maptask{task_id:05d}-part{p:05d}"
            for p in range(num_partitions)
        ]
        # C7 makes reassignment presumptive: a worker that merely missed
        # 5 heartbeats may still be running and writing. Two attempts
        # open('w')-ing the SAME file interleave and corrupt it, so each
        # attempt streams into a private temp name and os.replace()s the
        # whole set into place only on success — last completed attempt
        # wins atomically, a half-done loser leaves nothing behind. The
        # suffix is (host, port, pid): port alone would collide across
        # HOSTS of a shared-filesystem fleet (every reference worker
        # defaults to port 6001), re-enabling the interleaving; pid
        # disambiguates same-(host, port) restarts racing their
        # predecessor's orphaned mapper.
        tmp_paths = [
            p.with_name(f"{p.name}.tmp-{self._attempt_tag()}")
            for p in part_paths
        ]
        try:
            with ExitStack() as stack:
                # One output file per partition, created up front: the
                # reference reports every partition file in finished even
                # when empty (tests/test_worker_08.py:159-162).
                parts = [
                    stack.enter_context(p.open("w", encoding="utf-8"))
                    for p in tmp_paths
                ]
                for input_path in message["input_paths"]:
                    with (
                        Path(str(input_path)).open("rb") as infile,
                        subprocess.Popen(
                            [executable],
                            stdin=infile,
                            stdout=subprocess.PIPE,
                            text=True,
                        ) as proc,
                    ):
                        assert proc.stdout is not None
                        for line in proc.stdout:  # streams: O(1) memory
                            # A mapper whose final stdout line lacks its
                            # newline must not concatenate with the next
                            # input file's first line routed to the same
                            # partition (mirror of the reduce-side patch).
                            if not line.endswith("\n"):
                                line += "\n"
                            key = line.partition("\t")[0]
                            parts[partition_of(key)].write(line)
                    if proc.returncode:
                        raise RuntimeError(
                            f"mapper exited {proc.returncode} on {input_path}"
                        )
            for tmp, final in zip(tmp_paths, part_paths):
                os.replace(tmp, final)
        except BaseException:
            for tmp in tmp_paths:
                tmp.unlink(missing_ok=True)
            raise
        self._send_finished(
            task_id,
            [str(p) for p in part_paths],
            wave=message.get("wave"),
        )

    def _run_reduce_task(self, message: dict) -> None:
        task_id = int(message["task_id"])
        executable = str(message["executable"])
        out_dir = Path(str(message["output_directory"]))
        out_path = out_dir / f"part-{task_id:05d}"
        # Same atomic-rename discipline as the map side: a presumed-dead
        # worker's late writes must not interleave with the replacement
        # attempt's output file.
        tmp_path = out_path.with_name(
            f"{out_path.name}.tmp-{self._attempt_tag()}"
        )
        with ExitStack() as stack:
            # External merge-sort: one sorted run per (unsorted) input
            # file, spilled to disk, then a streaming k-way merge. Peak
            # memory = the largest single input file, not the partition.
            # Runs hold UTF-8 bytes: UTF-8 byte order is code-point
            # order, so the sort matches a str sort without a text layer.
            runs = []
            for p in message["input_paths"]:
                data = Path(str(p)).read_bytes()
                data.decode("utf-8")  # a non-UTF-8 input fails the task
                if b"\r" in data:
                    # Universal newlines, as the map side reads its
                    # mapper's stdout: \r\n and a lone \r end a record.
                    data = data.replace(b"\r\n", b"\n").replace(b"\r", b"\n")
                # Records end at \n only (bytes.splitlines would also
                # split at \r, but none is left): \x0b, \x0c, \x1c-\x1e,
                # \x85 and U+2028/U+2029 stay inside their record.
                lines = data.splitlines(keepends=True)
                # A mapper whose final line lacks its newline must not
                # concatenate two records in the merged stream (and a
                # bare line sorts differently from its terminated twin).
                if lines and not lines[-1].endswith(b"\n"):
                    lines[-1] += b"\n"
                lines.sort()
                run = stack.enter_context(tempfile.TemporaryFile("w+b"))
                run.writelines(lines)
                run.seek(0)
                runs.append(run)
            stack.callback(tmp_path.unlink, missing_ok=True)
            outfile = stack.enter_context(tmp_path.open("wb"))
            proc = stack.enter_context(
                subprocess.Popen(
                    [executable], stdin=subprocess.PIPE, stdout=outfile
                )
            )
            assert proc.stdin is not None
            proc.stdin.writelines(heapq.merge(*runs))  # streaming k-way merge
            proc.stdin.close()
            if proc.wait():
                raise RuntimeError(f"reducer exited {proc.returncode}")
            os.replace(tmp_path, out_path)
        self._send_finished(
            task_id, [str(out_path)], wave=message.get("wave")
        )

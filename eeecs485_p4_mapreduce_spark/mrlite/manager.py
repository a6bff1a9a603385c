"""TCP job-submission endpoint: the reference's ``mapreduce-manager``
network surface (the C1 hop that SURVEY §2.6 initially left out).

Protocol — pinned by the reference's own client
(reference: mapreduce/submit.py:70-89): a client opens a TCP connection,
sends ONE JSON message, and closes without waiting for a response
(fire-and-forget). Message types handled:

- ``new_manager_job`` with fields ``input_directory``,
  ``output_directory``, ``mapper_executable``, ``reducer_executable``,
  ``num_mappers``, ``num_reducers`` — exactly the dict the reference
  client builds (submit.py:70-78).
- ``shutdown`` — stop accepting work, finish the in-flight job, drop the
  queue, fan the shutdown out to every registered worker, exit
  (reference: tests/test_manager_00 sends shutdown as the clean exit
  path; its ``test_shutdown_workers`` pins the fan-out).
- ``register`` — record the worker and reply ``register_ack`` on the
  worker's own TCP socket (reference: tests/test_manager_02.py:13-17,
  :126-133 — C3).
- ``finished`` — a worker reporting task completion; recorded in
  ``self.task_events`` (the dispatch side consumes these).

Heartbeats (C4): when constructed with ``hb_port`` not ``None``, a UDP
socket bound to ``(host, hb_port)`` receives the workers' 2-second
``heartbeat`` datagrams (reference: tests/test_manager_00.py asserts the
SOCK_DGRAM bind; cadence tests/utils/__init__.py:21-22). A worker that
misses 5 consecutive intervals is considered dead — the spec's
liveness rule — computed on read by ``alive_workers()`` so there is no
reaper thread to race the tests.

Jobs run FIFO on a single runner thread — the reference manager also
serializes jobs (FIFO ids from 0; tests/test_manager_05/06 queue a second
job behind the first). The data plane is Spark via ``MREngine`` when no
workers are registered; when live registered workers exist the job is
instead DISPATCHED to them exactly as the reference manager would (C5):
input files dealt round-robin into ``new_map_task`` messages to idle
workers, map ``finished`` events collected, intermediate partition files
grouped into ``new_reduce_task`` messages, final ``part-%05d`` files in
the job's output directory. A worker that stops heartbeating (C4's
miss-5 rule) or refuses a connection has its in-flight task requeued to
the survivors (C7 fault tolerance — untested in the reference fork, so
the semantics here are the published spec's). Reassignment is
presumptive — a worker that merely missed 5 heartbeats may still be
running — so safety comes from the worker's write discipline, not from
an exactly-once assumption: each attempt writes to a private temp name
and os.replace()s into place only on success (mrlite/worker.py), so two
live attempts at the same task never interleave bytes and the last
completed attempt wins atomically. Scripts that today call
``mapreduce-submit`` against the reference can point at this endpoint
unchanged, with or without a worker fleet.

Malformed messages are ignored, matching the reference manager's
behavior of discarding undecodable JSON rather than crashing — but the
drop is OBSERVABLE: ``malformed_count`` increments per discarded
message so an operator can tell "client never sent" apart from "server
discarded garbage" without packet captures.
"""

from __future__ import annotations

import json
import queue
import itertools
import shutil
import socket
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from eeecs485_p4_mapreduce_spark.mrlite.engine import MREngine, MRJobResult
from eeecs485_p4_mapreduce_spark.mrlite.worker import (
    TIME_BETWEEN_HEARTBEATS,
    send_json,
    serve_json_loop,
)


@dataclass
class WorkerRecord:
    """One registered worker's liveness state (C3/C4 bookkeeping)."""

    host: str
    port: int
    #: monotonic seconds of the last heartbeat (or the register, which
    #: counts as proof-of-life until the first heartbeat lands)
    last_seen: float = field(default_factory=time.monotonic)
    #: bumped on re-register: a worker that crashed and came back on the
    #: same (host, port) is a NEW process that never saw the old task —
    #: the dispatcher requeues in-flight work when the epoch moves even
    #: though the key never left the liveness table
    epoch: int = 0


@dataclass
class JobRecord:
    """One submitted job's lifecycle, observable by tests/tools."""

    message: dict
    result: MRJobResult | None = None
    error: str | None = None
    done: threading.Event = field(default_factory=threading.Event)


class MRManagerServer:
    """Threaded TCP server speaking the reference's submit protocol.

    ``port=0`` binds an ephemeral port (read ``self.port`` after
    ``start()``). ``start()`` returns immediately; ``join()`` blocks until
    a shutdown message (or ``stop()``) has been processed.
    """

    def __init__(
        self,
        engine: MREngine | None,
        host: str = "localhost",
        port: int = 6000,
        hb_port: int | None = None,
        heartbeat_interval: float = TIME_BETWEEN_HEARTBEATS,
        legacy_wave_compat: bool = False,
    ):
        #: Accept nonce-less finished events (workers predating the
        #: per-wave nonce). Every in-repo worker echoes the nonce, so
        #: the strict default closes the stale-echo-across-waves race
        #: for reused task_ids; set True only when driving third-party
        #: workers that drop unknown task-message fields.
        self.legacy_wave_compat = legacy_wave_compat
        self.engine = engine
        self.host = host
        self.port = port
        #: UDP heartbeat port; None disables the C3/C4 worker surface,
        #: 0 binds ephemeral (read back after start())
        self.hb_port = hb_port
        self.heartbeat_interval = heartbeat_interval
        self.jobs: list[JobRecord] = []
        #: registered workers keyed by (host, port) — C3
        self.workers: dict[tuple[str, int], WorkerRecord] = {}
        #: finished messages received from workers, in arrival order
        self.task_events: list[dict] = []
        self.task_event = threading.Condition()
        #: messages discarded as undecodable JSON (observability counter;
        #: the discard itself is reference-matching behavior)
        self.malformed_count = 0
        self._queue: queue.Queue[JobRecord | None] = queue.Queue()
        #: per-wave nonce source — task ids restart at 0 every wave, so
        #: finished-event correlation needs a wave-scoped discriminator
        self._wave_seq = itertools.count()
        self._sock: socket.socket | None = None
        self._hb_sock: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._shutdown = threading.Event()

    def start(self) -> "MRManagerServer":
        sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind((self.host, self.port))
        self.port = sock.getsockname()[1]
        sock.listen()
        sock.settimeout(0.5)  # so the accept loop notices shutdown
        self._sock = sock
        targets = [self._accept_loop, self._runner_loop]
        if self.hb_port is not None:
            hb = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            hb.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            hb.bind((self.host, self.hb_port))
            self.hb_port = hb.getsockname()[1]
            hb.settimeout(0.5)
            self._hb_sock = hb
            targets.append(self._heartbeat_loop)
        for target in targets:
            t = threading.Thread(target=target, daemon=True)
            t.start()
            self._threads.append(t)
        return self

    # -- network side ------------------------------------------------------

    def _accept_loop(self) -> None:
        assert self._sock is not None

        def bump():
            # reference behavior: discard undecodable messages (but
            # count the drop so operators can see it happening)
            self.malformed_count += 1

        serve_json_loop(self._sock, self._shutdown, self._dispatch, bump)

    def _dispatch(self, message: dict) -> None:
        mtype = message.get("message_type")
        if mtype == "new_manager_job":
            rec = JobRecord(message=message)
            self.jobs.append(rec)
            if self._shutdown.is_set():
                # The runner loop has exited (or is exiting); queueing now
                # would leave rec.done forever unset for a waiting client.
                rec.error = "dropped: shutdown"
                rec.done.set()
            else:
                self._queue.put(rec)
        elif mtype == "register":
            # C3: record the worker, ack on the worker's own TCP socket
            # (reference: tests/test_manager_02.py:126-133).
            whost = str(message["worker_host"])
            wport = int(message["worker_port"])
            prev = self.workers.get((whost, wport))
            self.workers[(whost, wport)] = WorkerRecord(
                whost, wport, epoch=(prev.epoch + 1) if prev else 0
            )
            try:
                send_json(
                    whost,
                    wport,
                    {
                        "message_type": "register_ack",
                        "worker_host": whost,
                        "worker_port": wport,
                    },
                )
            except OSError:
                # Worker vanished between register and ack; forget it.
                self.workers.pop((whost, wport), None)
        elif mtype == "finished":
            with self.task_event:
                self.task_events.append(message)
                self.task_event.notify_all()
        elif mtype == "shutdown":
            self._begin_shutdown()

    def _begin_shutdown(self) -> None:
        """Stop accepting work and wake every loop that waits on a
        socket or queue, so the server's threads end at once instead of
        at their next poll timeout."""
        self._shutdown.set()
        self._queue.put(None)  # wake the runner
        if self._hb_sock is not None:
            # An empty datagram ends the heartbeat loop's recvfrom.
            try:
                with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
                    s.sendto(b"", (self.host, self.hb_port))
            except OSError:
                pass  # the loop still ends at its next recv timeout
        self._shutdown_workers()

    def _shutdown_workers(self) -> None:
        """C6 fan-out: forward shutdown to every registered worker
        (reference: tests/test_manager_00.py test_shutdown_workers)."""
        for rec in list(self.workers.values()):
            try:
                send_json(rec.host, rec.port, {"message_type": "shutdown"})
            except OSError:
                pass  # already gone — the goal state anyway

    def _heartbeat_loop(self) -> None:
        """C4: receive worker heartbeat datagrams, refresh liveness."""
        assert self._hb_sock is not None
        while not self._shutdown.is_set():
            try:
                data, _addr = self._hb_sock.recvfrom(65536)
            except socket.timeout:
                continue
            except OSError:
                break
            if self._shutdown.is_set():
                break  # the wake datagram from _begin_shutdown
            try:
                message = json.loads(data.decode("utf-8"))
            except (ValueError, UnicodeDecodeError):
                self.malformed_count += 1
                continue
            if message.get("message_type") != "heartbeat":
                continue
            key = (str(message["worker_host"]), int(message["worker_port"]))
            rec = self.workers.get(key)
            if rec is not None:  # heartbeats from unregistered hosts: drop
                rec.last_seen = time.monotonic()
        self._hb_sock.close()

    def alive_workers(self) -> list[WorkerRecord]:
        """Workers seen within 5 heartbeat intervals — the spec's
        liveness rule, computed on read (no reaper thread)."""
        cutoff = time.monotonic() - 5 * self.heartbeat_interval
        # snapshot: the accept thread inserts on register concurrently
        return [w for w in list(self.workers.values()) if w.last_seen >= cutoff]

    # -- worker dispatch (C5/C7) --------------------------------------------

    #: give up on a task after this many distinct dispatch attempts —
    #: a deterministically-failing executable must fail the JOB, not
    #: ping-pong across the fleet forever
    MAX_TASK_ATTEMPTS = 3

    def _dispatch_wave(self, tasks: list[dict]) -> list[dict]:
        """Run one stage's tasks across the live worker fleet: send each
        task to an idle worker, collect its ``finished`` event, requeue
        tasks whose worker died, re-registered (epoch bump), or reported
        a task error (C7). Returns finished messages in task_id order.
        Raises if the fleet empties, a task exhausts its attempts, or
        shutdown arrives — a queued job must never hang its submitter.

        Exit rule: completion is re-tested right after each batch of
        events is consumed, so the wave returns on its last accepted
        ``finished`` event with no idle wait. The loop blocks on
        ``task_event`` only when every queued event has been read (events
        a synchronous sender appends while tasks are dealt are read
        first); the 0.2 s timeout only bounds how long liveness goes
        unchecked while tasks run.

        Correlation is (wave nonce AND task_id AND assigned worker): a
        straggler ``finished`` from a presumed-dead worker whose task
        was already reassigned must not complete the wrong wave/stage
        (task ids restart at 0 every wave, and a worker that fell out
        of liveness can re-register and be handed the SAME tid in the
        next wave — sender+tid alone would accept its stale map-stage
        finished as the reduce result). Dispatched tasks carry a
        ``wave`` nonce the worker echoes; an event whose echoed nonce
        mismatches is skipped. Events WITHOUT the field (a worker
        predating the nonce, or reference tooling) are accepted on the
        sender+tid match only under ``legacy_wave_compat=True``. By
        default the first nonce-less finished from an assigned worker
        quarantines THAT worker for the wave and requeues its task
        (sender identity is body-reported, so one spoofed packet must
        not kill the job); a second struck worker, or a wave with no
        un-struck live workers left, fails the job fast with an error
        naming the flag — never a silent indefinite hang (a compliant
        worker always echoes the nonce, so repeated nonce-less events
        prove a fleet that drops unknown fields and whose tasks can
        never complete the nonce check)."""
        from collections import deque

        wave_nonce = next(self._wave_seq)
        pending = deque(tasks)
        inflight: dict[int, tuple[tuple[str, int], int, dict]] = {}
        done: dict[int, dict] = {}
        busy: set[tuple[str, int]] = set()
        attempts: dict[int, int] = {}
        # Workers that sent a nonce-less finished for their assigned
        # task under strict mode: quarantined from further dispatch
        # this wave (see the nonce-less branch below).
        nonceless_struck: set[tuple[str, int]] = set()
        legacy_remedy = (
            " without echoing the wave nonce; it likely predates the"
            " nonce protocol — start the manager with"
            " legacy_wave_compat=True to accept nonce-less finished"
            " events"
        )
        with self.task_event:
            # Events from completed waves are never re-read (each wave
            # cursors forward from its start); prune so a long-lived
            # daemon does not leak one dict per task forever. The
            # threshold keeps recent history inspectable by tests/tools.
            if len(self.task_events) > 10_000:
                del self.task_events[:-1_000]
            cursor = len(self.task_events)
            while True:
                # Consume finished events that arrived since last look.
                while cursor < len(self.task_events):
                    ev = self.task_events[cursor]
                    cursor += 1
                    tid = int(ev["task_id"])
                    if tid not in inflight or tid in done:
                        continue
                    wkey, _epoch, task = inflight[tid]
                    sender = (
                        str(ev.get("worker_host")),
                        int(ev.get("worker_port", -1)),
                    )
                    if sender != wkey:
                        continue  # straggler from a reassigned worker
                    if ev.get("wave") != wave_nonce:
                        if "wave" in ev:
                            continue  # stale echo from a previous wave
                        # Nonce-less event from the ASSIGNED worker of
                        # an inflight task. Tasks here were dispatched
                        # WITH a nonce, so a compliant worker always
                        # echoes it (even its stale prior-wave echoes
                        # carry the OLD nonce, and stragglers from a
                        # reassigned worker fail the sender check
                        # above). Under legacy_wave_compat the
                        # sender+tid match is accepted as-is (reference
                        # tooling / a worker predating the nonce).
                        # Strict default: the event proves this worker
                        # drops unknown fields, so its tasks can NEVER
                        # complete the nonce check. But the sender
                        # identity is body-reported, not socket-peer —
                        # one spoofed packet must not kill the job. So:
                        # first offense per worker QUARANTINES that
                        # worker for the wave and requeues its task
                        # elsewhere (C7-safe: task writes are atomic,
                        # re-execution is the normal reassignment
                        # path); a SECOND struck worker — or a wave
                        # left with no eligible workers (checked below)
                        # — proves a legacy fleet, not a stray packet,
                        # and fails fast with the remedy.
                        if not self.legacy_wave_compat:
                            nonceless_struck.add(wkey)
                            if len(nonceless_struck) >= 2:
                                raise RuntimeError(
                                    "two workers reported finished"
                                    + legacy_remedy
                                )
                            del inflight[tid]
                            busy.discard(wkey)
                            pending.append(task)
                            continue
                    if ev.get("error"):
                        # Worker survived but the task failed: requeue
                        # elsewhere (bounded attempts), free the worker.
                        del inflight[tid]
                        busy.discard(wkey)
                        if attempts.get(tid, 1) >= self.MAX_TASK_ATTEMPTS:
                            raise RuntimeError(
                                f"task {tid} failed "
                                f"{attempts[tid]} times: {ev['error']}"
                            )
                        pending.append(task)
                        continue
                    done[tid] = ev
                    busy.discard(wkey)
                    del inflight[tid]
                if len(done) == len(tasks):
                    break
                if self._shutdown.is_set():
                    raise RuntimeError("shutdown during job dispatch")
                # C7: requeue tasks whose worker fell out of liveness or
                # re-registered (a fresh process never saw the task).
                alive = {
                    (w.host, w.port): w.epoch for w in self.alive_workers()
                }
                for tid, (wkey, epoch, task) in list(inflight.items()):
                    if alive.get(wkey) == epoch:
                        continue
                    del inflight[tid]
                    busy.discard(wkey)
                    if wkey not in alive:
                        self.workers.pop(wkey, None)  # dead until re-register
                    pending.append(task)
                # C5: deal pending tasks to idle live workers
                # (nonce-less offenders stay quarantined this wave).
                idle = [
                    k
                    for k in sorted(set(alive) - busy - nonceless_struck)
                    if k in self.workers
                ]
                while pending and idle:
                    wkey = idle.pop()
                    task = pending.popleft()
                    try:
                        send_json(
                            wkey[0],
                            wkey[1],
                            {
                                **task,
                                "wave": wave_nonce,
                                "worker_host": wkey[0],
                                "worker_port": wkey[1],
                            },
                        )
                    except OSError:
                        # Refused/timed out = dead now, don't wait 5 beats.
                        self.workers.pop(wkey, None)
                        pending.appendleft(task)
                        continue
                    busy.add(wkey)
                    tid = int(task["task_id"])
                    attempts[tid] = attempts.get(tid, 0) + 1
                    inflight[tid] = (wkey, alive[wkey], task)
                if pending and not inflight:
                    live = {
                        (w.host, w.port) for w in self.alive_workers()
                    }
                    if not live:
                        raise RuntimeError(
                            "no live workers left for dispatch"
                        )
                    if not (live - nonceless_struck):
                        # Every live worker struck out nonce-less:
                        # that's a legacy fleet, not a spoofed packet.
                        raise RuntimeError(
                            "every live worker reported finished"
                            + legacy_remedy
                        )
                if cursor == len(self.task_events):
                    self.task_event.wait(timeout=0.2)
        return [done[int(t["task_id"])] for t in tasks]

    def _run_job_on_workers(self, message: dict, job_id: int) -> MRJobResult:
        """Execute one new_manager_job by dispatching to registered
        workers — the reference manager's own execution model: S2
        round-robin file splits, map wave, partition-grouped reduce
        wave, ``part-%05d`` output (same stage contract MREngine.
        submit_job implements on Spark)."""
        in_dir = Path(message["input_directory"])
        if not in_dir.is_dir():
            raise FileNotFoundError(f"input directory {in_dir} not found")
        files = sorted(
            str(p)
            for p in in_dir.iterdir()
            if p.is_file() and not p.name.startswith((".", "_"))
        )
        if not files:
            raise FileNotFoundError(f"no input files in {in_dir}")
        num_mappers = int(message.get("num_mappers", 2))
        num_reducers = int(message.get("num_reducers", 2))
        out_dir = Path(message["output_directory"])
        out_dir.mkdir(parents=True, exist_ok=True)
        # Shared scratch in the reference's pinned layout:
        # <cwd>/tmp/job-{id}/intermediate (reference:
        # tests/test_manager_01.py:26-29 waits for these exact dirs;
        # tests/test_manager_02.py:145 asserts the map message's
        # output_directory is "tmp/job-0/intermediate"; tests/utils
        # is_map_message requires "intermediate" in the path). The
        # directory tree lives under the MANAGER's cwd, but the path
        # dispatched to workers is made ABSOLUTE first: a worker daemon
        # started from a different working directory must not resolve
        # "tmp/job-0/..." against its own cwd (the reference sidesteps
        # this only because its deployment starts every process from
        # the project root). Still assumes a filesystem all workers
        # see — true for localhost fleets and NFS-style tmp. If
        # another fleet in the same cwd already owns tmp/job-{id}
        # (ids restart at 0 per manager), fall back to a
        # port-suffixed sibling that still contains "intermediate".
        job_root = Path.cwd() / "tmp" / f"job-{job_id}"
        fallback = False
        try:
            job_root.mkdir(parents=True, exist_ok=False)
        except FileExistsError:
            # Nest the fallback INSIDE tmp/job-{id} so the reference's
            # pinned prefix survives the collision (tooling asserting
            # tmp/job-{id}/... still matches; is_map_message's
            # "intermediate" substring contract holds either way).
            fallback = True
            job_root = job_root / f"m{self.port}"
            job_root.mkdir(parents=True, exist_ok=True)
        inter = job_root / "intermediate"
        inter.mkdir(exist_ok=True)
        try:
            n_map = min(num_mappers, len(files))
            map_finished = self._dispatch_wave(
                [
                    {
                        "message_type": "new_map_task",
                        "task_id": i,
                        "executable": str(message["mapper_executable"]),
                        "input_paths": files[i::n_map],  # S2 round-robin
                        "output_directory": str(inter),
                        "num_partitions": num_reducers,
                    }
                    for i in range(n_map)
                ]
            )
            by_partition: dict[str, list[str]] = {}
            for ev in map_finished:
                for path in ev["output_paths"]:
                    by_partition.setdefault(path[-5:], []).append(path)
            reduce_finished = self._dispatch_wave(
                [
                    {
                        "message_type": "new_reduce_task",
                        "task_id": r,
                        "executable": str(message["reducer_executable"]),
                        "input_paths": sorted(
                            by_partition.get(f"{r:05d}", [])
                        ),
                        "output_directory": str(out_dir),
                    }
                    for r in range(num_reducers)
                ]
            )
            output_paths = sorted(
                p for ev in reduce_finished for p in ev["output_paths"]
            )
            return MRJobResult(job_id, str(out_dir), output_paths)
        finally:
            self._cleanup_job_root(job_root, inter, fallback)

    @staticmethod
    def _cleanup_job_root(
        job_root: Path, inter: Path, fallback: bool
    ) -> None:
        """A colliding fleet may have nested its m{port} fallback
        INSIDE this fleet's tmp/job-{id} (see _run_job_on_workers), so
        the owner must never rmtree the whole root — that would vanish
        the other fleet's in-flight map outputs. Each fleet deletes
        only the subtree it created, then reaps the shared root iff it
        is the last one out (rmdir only succeeds on an empty dir)."""
        if fallback:
            shutil.rmtree(job_root, ignore_errors=True)
            try:
                job_root.parent.rmdir()
            except OSError:
                pass
        else:
            shutil.rmtree(inter, ignore_errors=True)
            try:
                job_root.rmdir()
            except OSError:
                pass

    # -- job side ----------------------------------------------------------

    def _runner_loop(self) -> None:
        while True:
            rec = self._queue.get()
            if rec is None or self._shutdown.is_set():
                # Drain everything still queued (including the record we
                # may have just dequeued): a client blocked on rec.done
                # must never hang because shutdown raced its submit.
                leftovers = [] if rec is None else [rec]
                while not self._queue.empty():
                    extra = self._queue.get_nowait()
                    if extra is not None:
                        leftovers.append(extra)
                for dropped in leftovers:
                    if not dropped.done.is_set():
                        dropped.error = "dropped: shutdown"
                        dropped.done.set()
                break
            try:
                if self.alive_workers():
                    # C5: a live registered fleet executes the job the
                    # reference way; Spark is the no-fleet data plane.
                    rec.result = self._run_job_on_workers(
                        rec.message, job_id=self.jobs.index(rec)
                    )
                elif self.engine is None:
                    raise RuntimeError(
                        "no live workers registered and no Spark engine"
                    )
                else:
                    rec.result = self.engine.submit_job(
                        input_directory=rec.message["input_directory"],
                        output_directory=rec.message["output_directory"],
                        mapper_executable=rec.message["mapper_executable"],
                        reducer_executable=rec.message["reducer_executable"],
                        num_mappers=int(rec.message.get("num_mappers", 2)),
                        num_reducers=int(rec.message.get("num_reducers", 2)),
                    )
            except Exception as exc:  # noqa: BLE001 — survive bad jobs
                rec.error = f"{type(exc).__name__}: {exc}"
            finally:
                rec.done.set()

    # -- lifecycle ---------------------------------------------------------

    def stop(self) -> None:
        """Local equivalent of receiving a shutdown message."""
        self._begin_shutdown()
        if self._sock is not None:
            # The accept loop is not the caller here: shutting the
            # listening socket down ends its blocked accept() on Linux
            # (elsewhere the loop still ends at its 0.5 s accept timeout).
            try:
                self._sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass

    def join(self, timeout: float | None = None) -> None:
        for t in self._threads:
            t.join(timeout)

    def is_alive(self) -> bool:
        return any(t.is_alive() for t in self._threads)

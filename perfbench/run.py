#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads are defined in ``perfbench/spec.json``; metric names and units
in ``BENCHMARK.json``. The run generates its inputs from ``--seed`` under
``.perfbench/runs/<run>/``, then starts the measured program in a fresh
child process in its own process group, with its own ``TMPDIR`` and Spark
local dirs and ``PYTHONPATH`` pointing at this checkout. The child sets
up, runs the closed loop for ``--seconds`` seconds, checks every output
and writes its result; this process prints one line per metric and, as
its last line, the JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones, and the spans go to
``.perfbench/traces/``. A traced run also prints its tracing overhead
against earlier untraced runs of the same code, workload, seed and
``--seconds`` (kept in ``.perfbench/history.jsonl``), or says that none
exists. Every process the run started has ended when it
exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

PACKAGE = "eeecs485_p4_mapreduce_spark"
#: the whole run, inputs and teardown included, ends within this
RUN_BUDGET_S = 170.0


@dataclass
class Context:
    """What the child process knows about its run."""

    workload: str
    spec: dict
    seed: int
    seconds: float
    trace: bool
    run_dir: Path
    spawn_wall: float

    @property
    def data_dir(self) -> Path:
        return self.run_dir / "input"

    @property
    def tmp_dir(self) -> Path:
        return self.run_dir / "tmp"

    @property
    def trace_file(self) -> Path:
        path = ROOT / ".perfbench" / "traces" / f"{self.workload}-seed{self.seed}.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        return path


def load_json(path: Path) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--run-dir", help=argparse.SUPPRESS)
    p.add_argument("--spawn-wall", type=float, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def child_env(run_dir: Path) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    env["TMPDIR"] = str(run_dir / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    # spark-submit's launcher JVM: keep its temp and perf-data files in the run dir
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def make_inputs(spec: dict, seed: int, data_dir: Path) -> None:
    from perfbench import datagen

    if spec["kind"] == "queries":
        datagen.write_tables(str(data_dir), seed, spec["sf"])
    else:
        corpus = spec["corpus"]
        datagen.write_corpus(str(data_dir), seed, corpus["files"], corpus["bytes"])


def reap_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process of the group to end, then signal."""
    from perfbench.procfs import group_members

    for sig, grace in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace
        while group_members(pgid):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


#: tracing overhead: traced minus untraced value of these end-to-end metrics
OVERHEAD_OF = ("warm_pass_s", "op_p50_s")


def code_key() -> str:
    """Digest of the engine package and the benchmark: which code a run measured."""
    import hashlib

    digest = hashlib.sha256()
    for top in (ROOT / PACKAGE, ROOT / "perfbench"):
        for path in sorted(top.rglob("*")):
            if path.suffix in (".py", ".json") and "__pycache__" not in path.parts:
                digest.update(str(path.relative_to(ROOT)).encode() + b"\0")
                digest.update(path.read_bytes())
    return digest.hexdigest()


def tracing_overhead(history: Path, run_key: dict, traced: dict) -> list[str]:
    """Traced minus untraced values, against untraced runs with the same ``run_key``.

    ``run_key`` names the code, workload, seed and ``--seconds``; earlier
    untraced runs of this checkout are matched on all of them. Without a
    match the overhead is reported as unavailable.
    """
    from perfbench.stats import median

    base = []
    if history.exists():
        base = [rec for rec in map(json.loads, history.read_text().splitlines())
                if rec.get("key") == run_key]
    if not base:
        return ["trace overhead: unavailable, no untraced run of this code, workload, "
                "seed and --seconds in this checkout (run it with --trace 0 first)"]
    return [
        f"trace overhead {metric}: {traced[metric] - median(r[metric] for r in base):+.4f} s "
        f"(traced {traced[metric]:.4f} s minus the median of {len(base)} untraced runs "
        "of the same code, workload, seed and --seconds)"
        for metric in OVERHEAD_OF
    ]


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def parent_main(args: argparse.Namespace) -> int:
    started = time.monotonic()
    # so a terminated run still reaps the child's process group
    signal.signal(signal.SIGTERM, _exit_on_signal)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    bench = load_json(ROOT / "BENCHMARK.json")
    spec = load_json(ROOT / "perfbench" / "spec.json")["workloads"]
    if args.workload not in spec:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    out = ROOT / ".perfbench"
    run_dir = out / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    try:
        make_inputs(spec[args.workload], args.seed, run_dir / "input")
        log_path = run_dir / "child.log"
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--child",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir), "--spawn-wall", repr(time.time()),
        ]
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=child_env(run_dir), stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            rc = None
            try:
                rc = proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                print("perfbench: run exceeded its time budget", file=sys.stderr)
            finally:
                # a child that exited lets its JVM and workers wind down first
                reap_group(proc.pid, grace_s=10.0 if rc is not None else 0.0)
                proc.wait()
        result_path = run_dir / "result.json"
        if rc != 0 or not result_path.exists():
            sys.stderr.write(log_path.read_text()[-4000:])
            print(f"perfbench: child exited with {rc}", file=sys.stderr)
            return 1
        result = load_json(result_path)
        metrics = result["metrics"]
        history = out / "history.jsonl"
        run_key = {"code": code_key(), "workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds}
        if args.trace:
            metrics["leaked_tmp_entries"] = len(os.listdir(run_dir / "tmp"))
            result["lines"] += tracing_overhead(history, run_key, metrics)
        elif result["correct"]:
            record = {"key": run_key, **{m: metrics[m] for m in OVERHEAD_OF}}
            with open(history, "a") as f:
                f.write(json.dumps(record) + "\n")
        chosen = bench["per_layer" if args.trace else "end_to_end"]
        for line in result["lines"]:
            print(line)
        for m in chosen:
            print(f"{m['name']}: {metrics[m['name']]:.6g} {m['unit']}")
        print(
            json.dumps(
                {
                    "correct": result["correct"],
                    "attempted": result["attempted"],
                    "failed": result["failed"],
                    "metrics": {
                        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in chosen
                    },
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def child_main(args: argparse.Namespace) -> int:
    spec = load_json(ROOT / "perfbench" / "spec.json")["workloads"][args.workload]
    ctx = Context(
        workload=args.workload, spec=spec, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), run_dir=Path(args.run_dir), spawn_wall=args.spawn_wall,
    )
    if spec["kind"] == "queries":
        from perfbench.queries import run
    else:
        from perfbench.mrjobs import run
    result = run(ctx)
    tmp = ctx.run_dir / "result.json.part"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(result, f)
    os.replace(tmp, ctx.run_dir / "result.json")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    return child_main(args) if args.child else parent_main(args)


if __name__ == "__main__":
    sys.exit(main())

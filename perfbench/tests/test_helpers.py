"""Tests of the benchmark's own helpers.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.eventlog import EventLog, stage_skew, window_sums  # noqa: E402
from perfbench.mrjobs import EXEC_DIR, golden, verify_output  # noqa: E402
from perfbench.run import tracing_overhead  # noqa: E402
from perfbench.stats import tail, union_length  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"
T = 1000.0  # the fixture's epoch, in seconds


# -- the "at least 10 samples beyond" tail rule ---------------------------


def test_tail_needs_more_than_ten_samples():
    assert tail(range(10)) is None
    assert tail([]) is None


def test_tail_eleven_samples_is_the_minimum():
    pct, value = tail(range(11))
    assert value == 0  # ten samples (1..10) lie beyond it
    assert pct == pytest.approx(100 / 11)


def test_tail_hundred_samples_is_p90():
    values = [float(v) for v in range(100, 0, -1)]
    pct, value = tail(values)
    assert pct == pytest.approx(90.0)
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_twenty_samples_is_the_median():
    pct, value = tail(range(20))
    assert pct == pytest.approx(50.0)
    assert sum(v > value for v in range(20)) == 10


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(3, 4), (0, 10)]) == pytest.approx(10.0)


# -- event log parsing ------------------------------------------------------


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.read(str(FIXTURE))


def test_eventlog_jobs_and_stages(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert log.jobs[0].submit == pytest.approx(T)
    assert log.jobs[0].end == pytest.approx(T + 0.65)
    assert log.jobs[0].props["spark.jobGroup.id"] == "perfbench:p1:q"
    assert [j.id for j in log.jobs_between(T, T + 1)] == [0]
    assert [s.id for s in log.stages_between(T, T + 1)] == [0, 1]
    stage0 = log.stages[(0, 0)]
    assert (stage0.submit, stage0.complete) == (pytest.approx(T + 0.01), pytest.approx(T + 0.41))
    assert len(stage0.tasks) == 3
    # stage 0 is listed by jobs 0 and 4; job 0 ran it
    assert log.job_of_stage(stage0) == 0


def test_eventlog_window_sums(log):
    s = window_sums(log, T, T + 1)
    assert s["stages"] == 2
    assert s["task_run_s"] == pytest.approx(0.76)
    assert s["task_cpu_s"] == pytest.approx(0.58)
    assert s["gc_s"] == pytest.approx(0.02)
    assert s["scan_bytes"] == 6000
    assert s["scan_records"] == 60
    assert s["shuffle_write_bytes"] == 3000
    assert s["shuffle_read_bytes"] == 3000
    assert s["python_bytes_sent"] == 4096
    assert s["python_run_s"] == pytest.approx(0.025)
    assert s["stream_batches"] == 0
    # stages ran over [0.01, 0.41] and [0.5, 0.6]
    assert s["stage_busy_s"] == pytest.approx(0.5)


def test_eventlog_streaming_batches(log):
    s = window_sums(log, T + 2, T + 4)
    assert s["stream_batches"] == 2
    # batch 0: two jobs over [2.0, 2.5]; batch 1: one job over [3.0, 3.4]
    assert s["stream_batch_s"] == pytest.approx(0.9)


def test_stage_skew(log):
    # stage 0 task times 0.1, 0.4, 0.2 s: max / median = 2
    assert stage_skew([log.stages[(0, 0)]]) == pytest.approx(2.0)
    # single-task stages do not qualify
    assert stage_skew([log.stages[(1, 0)]]) == 1.0


def test_eventlog_rolled_directory(tmp_path):
    lines = FIXTURE.read_text().splitlines(keepends=True)
    rolled = tmp_path / "eventlog_v2_local-1"
    rolled.mkdir()
    (rolled / "events_2_local-1").write_text("".join(lines[10:]))
    (rolled / "events_1_local-1").write_text("".join(lines[:10]))
    (rolled / "appstatus_local-1").write_text("")
    whole, parts = EventLog.read(str(FIXTURE)), EventLog.read(str(rolled))
    assert window_sums(parts, 0, 2e9) == window_sums(whole, 0, 2e9)


# -- spans ------------------------------------------------------------------


def test_tracer_nesting_and_write(tmp_path):
    tr = Tracer()
    run = tr.add("run", 0.0, 10.0)
    q = tr.add("query", 1.0, 5.0, run, op="p1:q")
    tr.add("build", 1.0, 2.0, q, op="p1:q")
    tr.add("sink", 2.0, 5.0, q, op="p1:q")
    with tr.span("pass", run) as pass_id:
        pass
    assert [s["name"] for s in tr.spans if s["parent"] == run] == ["query", "pass"]
    out = tmp_path / "spans.json"
    tr.write(str(out))
    spans = json.loads(out.read_text())["spans"]
    assert {s["id"] for s in spans} == {run, q, q + 1, q + 2, pass_id}
    assert all(s["end"] >= s["start"] for s in spans)


# -- tracing overhead against keyed untraced runs ---------------------------


def test_tracing_overhead_matches_code_workload_seed_and_seconds(tmp_path):
    key = {"code": "abc", "workload": "relational", "seed": 1, "seconds": 10.0}
    history = tmp_path / "history.jsonl"
    records = [
        {"key": key, "warm_pass_s": 4.0, "op_p50_s": 0.5},
        {"key": key, "warm_pass_s": 6.0, "op_p50_s": 0.7},
        {"key": {**key, "seed": 2}, "warm_pass_s": 99.0, "op_p50_s": 99.0},
        {"key": {**key, "code": "def"}, "warm_pass_s": 99.0, "op_p50_s": 99.0},
    ]
    history.write_text("".join(json.dumps(r) + "\n" for r in records))
    lines = tracing_overhead(history, key, {"warm_pass_s": 5.5, "op_p50_s": 0.6})
    assert lines[0].startswith("trace overhead warm_pass_s: +0.5000 s")
    assert "median of 2 untraced runs" in lines[0]
    assert lines[1].startswith("trace overhead op_p50_s: +0.0000 s")


def test_tracing_overhead_unavailable_without_a_matching_run(tmp_path):
    key = {"code": "abc", "workload": "relational", "seed": 1, "seconds": 10.0}
    traced = {"warm_pass_s": 5.0, "op_p50_s": 0.5}
    (lines,) = tracing_overhead(tmp_path / "missing.jsonl", key, traced)
    assert "unavailable" in lines
    history = tmp_path / "history.jsonl"
    history.write_text(json.dumps({"key": {**key, "seconds": 20.0}, **traced}) + "\n")
    (lines,) = tracing_overhead(history, key, traced)
    assert "unavailable" in lines


# -- MapReduce inputs, executables and golden -------------------------------


def _run_job_by_hand(input_dir: Path, out_dir: Path, num_reducers: int) -> None:
    """Map every file, route by md5, sort each partition, reduce: the job contract."""
    from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition

    parts: list[list[str]] = [[] for _ in range(num_reducers)]
    for path in sorted(input_dir.iterdir()):
        with open(path, "rb") as f:
            mapped = subprocess.run(
                [str(EXEC_DIR / "wc_map.py")], stdin=f, capture_output=True, check=True, text=True
            ).stdout
        for line in mapped.splitlines(keepends=True):
            parts[md5_partition(line.partition("\t")[0], num_reducers)].append(line)
    out_dir.mkdir()
    for r, lines in enumerate(parts):
        reduced = subprocess.run(
            [str(EXEC_DIR / "wc_reduce.py")], input="".join(sorted(lines)),
            capture_output=True, check=True, text=True,
        ).stdout
        (out_dir / f"part-{r:05d}").write_text(reduced)


def test_corpus_shape_and_determinism(tmp_path):
    a = datagen.write_corpus(str(tmp_path / "a"), seed=7, n_files=3, total_bytes=30_000)
    b = datagen.write_corpus(str(tmp_path / "b"), seed=7, n_files=3, total_bytes=30_000)
    c = datagen.write_corpus(str(tmp_path / "c"), seed=8, n_files=3, total_bytes=30_000)
    texts = [Path(p).read_text() for p in a]
    assert texts == [Path(p).read_text() for p in b]
    assert texts != [Path(p).read_text() for p in c]
    assert [Path(p).name for p in a] == ["file01", "file02", "file03"]
    for text in texts:
        lines = text.split("\n")[:-1]
        assert "" in lines  # blank lines
        assert any(ch.isupper() for ch in text)  # mixed case
        assert any(len(line.split()) == 4 for line in lines)  # short lines
    assert any("product" in t.lower() for t in texts)
    assert 25_000 < sum(len(t) for t in texts) < 40_000


def test_executables_match_builtin_contract():
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b

    text = "Hello World\tbye  World\n\nPRODUCT x\n"
    mapped = subprocess.run(
        [str(EXEC_DIR / "wc_map.py")], input=text, capture_output=True, check=True, text=True
    ).stdout.splitlines()
    expected = [f"{k}\t{v}" for line in text.splitlines() for k, v in b.wc_map(line)]
    assert mapped == expected
    reduced = subprocess.run(
        [str(EXEC_DIR / "wc_reduce.py")], input="".join(sorted(x + "\n" for x in mapped)),
        capture_output=True, check=True, text=True,
    ).stdout.splitlines()
    counts = Counter(m.partition("\t")[0] for m in mapped)
    assert reduced == sorted(f"{k}\t{n}" for k, n in counts.items())
    assert counts[""] == 2  # the blank line and the double space


def test_golden_and_verify_output(tmp_path):
    inp = tmp_path / "in"
    datagen.write_corpus(str(inp), seed=3, n_files=4, total_bytes=40_000)
    expected = golden(inp, 2)
    out = tmp_path / "out"
    _run_job_by_hand(inp, out, 2)
    assert verify_output(out, expected) is None
    # a miscount, an unsorted file, a misplaced key and a stray file are each caught
    first = (out / "part-00000").read_text().splitlines()
    bad = tmp_path / "bad"
    for case in ("count", "order", "partition", "extra"):
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(out, bad)
        lines = list(first)
        if case == "count":
            word, n = lines[0].split("\t")
            lines[0] = f"{word}\t{int(n) + 1}"
        elif case == "order":
            lines.reverse()
        elif case == "partition":
            lines.append((out / "part-00001").read_text().splitlines()[-1])
        else:
            (bad / "part-00002").write_text("")
        (bad / "part-00000").write_text("\n".join(lines) + "\n")
        assert verify_output(bad, expected) is not None, case


# -- tables -------------------------------------------------------------------


def test_tables_deterministic_with_catalog_schema():
    a = datagen.make_tables(seed=5, sf=0.001)
    b = datagen.make_tables(seed=5, sf=0.001)
    c = datagen.make_tables(seed=6, sf=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    from eeecs485_p4_mapreduce_spark.catalog import TABLES

    assert sorted(a) == sorted(TABLES)
    assert a["lineitem"].num_rows == 6000
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(ts)
    docs = a["documents"].column("text").to_pylist()
    assert any(d.endswith(" dup") and d[:-4] in docs for d in docs)

"""Query workloads: registered queries run in closed-loop passes on one Spark session.

One client, one session, one query at a time. Per query the benchmark
sets a job group, times the call into ``registry.QUERIES[name]`` (plan
build, including any barrier jobs it launches) and then the noop-sink
write that executes the plan. The first pass is the cold pass; once it
has ended, every query of it is collected, untimed, and compared with
its DuckDB oracle over the same parquet files. Warm passes follow until
the measuring window has passed, at least the workload's
``min_warm_passes`` of them, each in a seed-permuted order.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench import procfs
from perfbench.stats import median, tail
from perfbench.trace import Tracer

def _spark_conf(ctx) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp_dir} -XX:-UsePerfData",
    }
    if ctx.trace:
        log_dir = ctx.run_dir / "eventlog"
        log_dir.mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


class Oracle:
    """The registry's DuckDB oracles over the run's parquet files."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        from eeecs485_p4_mapreduce_spark.catalog import TABLES, table_path

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
            )

    def check(self, name: str, spark_pdf) -> str | None:
        """None when the Spark result matches the oracle, else why not."""
        from eeecs485_p4_mapreduce_spark.registry import ORACLES
        from tools.oracle_check import canon_lines, lines_hash

        s_lines = canon_lines(spark_pdf)
        if name not in ORACLES:
            return None  # rows-only query: canonicalizing it is the check
        d_pdf = self.con.sql(ORACLES[name]).df()
        if sorted(spark_pdf.columns) != sorted(d_pdf.columns):
            return f"columns {sorted(spark_pdf.columns)} != {sorted(d_pdf.columns)}"
        if len(spark_pdf) != len(d_pdf):
            return f"rows {len(spark_pdf)} != {len(d_pdf)}"
        if lines_hash(s_lines) != lines_hash(canon_lines(d_pdf)):
            return "value hash mismatch"
        return None


def _cached_blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.numCachedPartitions() for info in infos)


def _rss_peak_mib(pid: int) -> float:
    """Largest VmHWM among this process's descendants (the Spark JVM runs the executors)."""
    return max((procfs.status_kib(p, "VmHWM") for p in procfs.descendants(pid)), default=0) / 1024


def run(ctx) -> dict:
    from eeecs485_p4_mapreduce_spark import get_spark
    from eeecs485_p4_mapreduce_spark.registry import QUERIES, load_all

    names = ctx.spec["queries"]
    data_dir = str(ctx.data_dir)
    spark = get_spark(f"perfbench-{ctx.workload}", extra_conf=_spark_conf(ctx))
    spark.range(1000).selectExpr("sum(id)").collect()
    load_all()
    setup_s = time.time() - ctx.spawn_wall
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    oracle = Oracle(data_dir)
    tracer = Tracer()
    run_span = tracer.add("run", time.time(), 0.0, workload=ctx.workload, seed=ctx.seed)
    rng = random.Random(ctx.seed)
    lines: list[str] = []
    records: list[dict] = []  # one per query execution
    passes: list[dict] = []
    failed = 0

    def run_pass(index: int) -> list[tuple[dict, object]]:
        """Run every query once; returns each succeeded record with its DataFrame."""
        nonlocal failed
        order = rng.sample(names, len(names))
        done = []
        with tracer.span("pass", run_span, index=index) as pass_id:
            p_start = time.perf_counter()
            for name in order:
                op = f"p{index}:{name}"
                sc.setJobGroup(f"perfbench:{op}", name)
                rec = {"pass": index, "name": name, "ok": False}
                try:
                    w0, t0 = time.time(), time.perf_counter()
                    df = QUERIES[name](spark, data_dir)
                    w1, t1 = time.time(), time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    w2, t2 = time.time(), time.perf_counter()
                    rec.update(wall=(w0, w1, w2), build_s=t1 - t0, sink_s=t2 - t1,
                               latency_s=t2 - t0, ok=True)
                    q = tracer.add("query", w0, w2, pass_id, op=op)
                    rec["spans"] = (tracer.add("build", w0, w1, q, op=op),
                                    tracer.add("sink", w1, w2, q, op=op))
                    done.append((rec, df))
                except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                    rec["ok"] = False
                    lines.append(f"FAILED {name}: {type(exc).__name__}: {str(exc)[:300]}")
                    traceback.print_exc()
                failed += not rec["ok"]
                records.append(rec)
            passes.append({"index": index, "wall_s": time.perf_counter() - p_start})
        return done

    def verify(rec: dict, df) -> None:
        nonlocal failed
        try:
            problem = oracle.check(rec["name"], df.toPandas())
        except Exception as exc:  # noqa: BLE001
            problem = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc()
        if problem:
            rec["ok"] = False
            failed += 1
            lines.append(f"FAILED {rec['name']}: oracle check: {problem}")

    # the whole cold pass first, so no check warms a later cold query
    for rec, df in run_pass(0):
        verify(rec, df)
    window = time.perf_counter()
    index = 1
    while index <= ctx.spec["min_warm_passes"] or time.perf_counter() - window < ctx.seconds:
        run_pass(index)
        index += 1

    warm = [r for r in records if r["pass"] > 0 and r["ok"]]
    warm_lat = [r["latency_s"] for r in warm]
    metrics = {
        "setup_s": setup_s,
        "cold_s": sum(r.get("latency_s", 0.0) for r in records if r["pass"] == 0),
        "warm_pass_s": median(p["wall_s"] for p in passes if p["index"] > 0),
        "op_p50_s": median(warm_lat),
        "worker_rss_peak_mib": _rss_peak_mib(os.getpid()),
    }
    cached_blocks = _cached_blocks(spark)
    spark.stop()
    tracer.spans[0]["end"] = time.time()

    t = tail(warm_lat)
    lines.append(
        f"op_tail_s: p{t[0]:.1f} = {t[1]:.4f} s over {len(warm_lat)} warm queries"
        if t else f"op_tail_s: fewer than 11 warm queries ({len(warm_lat)})"
    )
    lines.append(f"op_p50_s over {len(warm_lat)} warm queries; warm passes: {len(passes) - 1}")
    for name in names:
        cold = [r["latency_s"] for r in records if r["pass"] == 0 and r["name"] == name and "latency_s" in r]
        lat = [r["latency_s"] for r in warm if r["name"] == name]
        lines.append(
            f"query {name}: cold {cold[0] if cold else float('nan'):.3f} s, "
            f"warm median {median(lat):.3f} s over {len(lat)}"
        )
    lines.append(f"failed_ratio: {failed}/{len(records)} = {failed / len(records):.4f}")
    if ctx.trace:
        from perfbench.layers import query_layers

        metrics.update(query_layers(ctx, tracer, records))
        metrics["cached_blocks_left"] = cached_blocks
        tracer.write(str(ctx.trace_file))
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
        "lines": lines,
    }

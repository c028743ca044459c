#!/usr/bin/env python3
"""byconity_spark benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 16 --trace 0

Run from the repository root.  Per run:

1. input: the engine's sf0.1 fixture tables in `perfbench/data/sf0.1/`;
2. set-up (timed as `setup_s`): imports, a fresh session on
   local[<cpus>] with the engine's own configuration, `register_views`,
   and a warm-up of the JVM and of the Python workers;
3. the statement sequence, drawn from the seed (pools.py);
4. host anchors: a fixed `spark.range` aggregate and a fixed numpy loop;
5. output check: every distinct statement of the sequence is collected
   once and compared with its DuckDB oracle on the same parquet; this is
   also each statement's untimed first run;
6. warm pass: every distinct statement once more, untimed, with the noop
   sink;
7. timed loop: the whole sequence once, then from its start again until
   `--seconds` have elapsed, each statement built and materialized with
   the noop sink;
8. session-hygiene counts, the memory the session retains, then shutdown of the session and its JVM.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the statements run under `tracing.Tracer` and it carries the
per-layer metrics.  Everything else (spans, per-statement records, host and
hygiene values) goes to `.perfbench_work/runs/`.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# scratch files of this process; runs sharing a checkout never share it
TMP = WORK / "tmp" / f"run-{os.getpid()}"
# every workload reads the same sf0.1 tables: byte copies of the engine's
# seed-42 fixture tables, kept next to the benchmark (data/sf0.1/SHA256SUMS)
DATA_DIR = HERE / "data" / "sf0.1"
# a run stops starting statements after this many seconds, whatever
# --seconds says, so that it ends well inside its 180 s limit
HARD_STOP_S = 120.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host
def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def proc_stat() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def rss_mb(pid: int | str) -> float:
    return status_mb(pid, "VmRSS")


def hwm_mb(pid: int | str) -> float:
    return status_mb(pid, "VmHWM")


def retained_memory(spark, jvm_pid: int) -> dict:
    """Resident memory the session keeps once its statements are done: a
    full collection, then a second for the JVM to hand the heap it no
    longer needs back to the system.  What statements still hold (cached
    blocks, leaked objects, loaded classes, threads) stays."""
    hwm = {"hwm_jvm_mb": hwm_mb(jvm_pid), "hwm_driver_mb": hwm_mb("self")}
    spark._jvm.java.lang.System.gc()
    time.sleep(1.0)
    return {"retained_jvm_mb": rss_mb(jvm_pid), "retained_driver_mb": rss_mb("self"), **hwm}


def anchor_py_ms() -> float:
    """A fixed numpy workload, best of three."""
    import numpy as np

    best = float("inf")
    for _ in range(3):
        rng = np.random.default_rng(7)
        t0 = time.perf_counter()
        for _ in range(10):
            np.sort(rng.random(200_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def anchor_jvm_ms(spark) -> float:
    """A fixed `spark.range` aggregate, best of three."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


# ------------------------------------------------------------- session
def prepare_env() -> None:
    """Keep every file the engine, Spark and the Python workers write
    inside the checkout, and put the repository on the workers' path.
    Scratch directories left by runs that no longer exist are removed."""
    for old in (WORK / "tmp").glob("run-*"):
        if not Path(f"/proc/{old.name[4:]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    tmp = TMP
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_STATS_DIR"] = str(tmp / "stats")
    os.environ["SPARK_GRAFT_BACKUP_ROOT"] = str(tmp / "backups")
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def redirect_fixed_tmp_roots() -> None:
    """Two workload modules build their scratch paths under a fixed /tmp
    root; point those roots into the checkout."""
    from byconity_spark.workloads import sources_suite, writes

    tmp = TMP
    for mod, sub in ((writes, "writes"), (sources_suite, "sources")):
        original = mod._tmp
        mod._tmp = lambda sf, tag, _o=original, _s=sub: str(tmp / _s / Path(_o(sf, tag)).name)


def start_session():
    from byconity_spark import get_spark

    tmp = TMP
    return get_spark(
        app_name="byconity-spark-perfbench",
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )


def warm_up(spark, qdefs, data_dir: str) -> None:
    """JVM and Python-worker warm-up: one scan query, one pandas UDF and
    one grouped applyInPandas."""
    from pyspark.sql import functions as F

    def identity(v: pd.Series) -> pd.Series:
        return v

    qdefs["q6_forecast_revenue"].builder(spark, data_dir).collect()
    ident = F.pandas_udf(identity, "double")
    spark.range(64).select(ident(F.col("id").cast("double"))).collect()
    spark.range(64).withColumn("g", F.col("id") % 2).groupBy("g").applyInPandas(
        lambda p: p, "id long, g long"
    ).collect()


def stop_session(spark) -> None:
    """Stop streams, the session and the JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------- hygiene
def hygiene(spark) -> dict:
    temp_views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    return {
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "threads": threading.active_count() + spark._jvm.java.lang.Thread.activeCount(),
        "streams": len(spark.streams.active),
        "conf": dict(spark.conf.getAll),
        "temp_views": temp_views,
    }


def hygiene_counts(start: dict, end: dict) -> dict:
    keys = set(start["conf"]) | set(end["conf"])
    return {
        "engine.persisted_rdds_end": end["persisted_rdds"],
        "engine.threads_delta": end["threads"] - start["threads"],
        "engine.streams_active_end": end["streams"],
        "engine.conf_changed_keys": sum(
            1 for k in keys if start["conf"].get(k) != end["conf"].get(k)
        ),
        "engine.temp_views_delta": end["temp_views"] - start["temp_views"],
    }


# ---------------------------------------------------------------- check
def check_pool(spark, qdefs, names, data_dir: str, oracle) -> dict[str, str]:
    """Collect each distinct statement once and compare it with its oracle;
    returns {name: reason} for every statement that failed.  The oracles
    run on a thread of their own while the engine collects."""
    from concurrent.futures import ThreadPoolExecutor

    from check import compare

    distinct = sorted(set(names))
    bad: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=1) as oracle_thread:
        expected = {n: oracle_thread.submit(oracle.run, qdefs[n].oracle)
                    for n in distinct if qdefs[n].oracle is not None}
        for name in distinct:
            try:
                df = qdefs[name].builder(spark, data_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                if name in expected:
                    reason = compare(cols, rows, *expected[name].result())
                else:
                    # rows-only by design (random or stubbed output)
                    reason = None if rows else "rows-only statement returned no rows"
            except Exception as exc:  # a failing statement is a result, not a crash
                reason = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"
            if reason is not None:
                bad[name] = reason
                log(f"check {name}: MISMATCH {reason}")
    return bad


def count_failed(executed: list[str], errors: int, mismatched: dict[str, str]) -> int:
    """Statements that raised, plus every timed execution of a statement
    whose output did not match its oracle."""
    return errors + sum(1 for n in executed if n in mismatched)


# ----------------------------------------------------------------- loop
def warm_pass(spark, qdefs, sequence: list[str], data_dir: str) -> None:
    """One untimed noop run of every distinct statement: with the output
    check, each has run twice before its first timed run.  Without it,
    the first timed runs on kernels_ingest took 1.5 times their reference
    time; with it, 1.03 times."""
    for name in sorted(set(sequence)):
        try:
            qdefs[name].builder(spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # counted when the timed loop meets it
            log(f"warm-up of {name} failed:\n{traceback.format_exc(limit=3)}")


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def timed_loop(spark, qdefs, sequence: list[str], seconds: float, data_dir: str,
               tracer, jvm_pid: int, t_process: float) -> dict:
    """Run the whole sequence once, then from its start again until
    `seconds` have elapsed: every band of the draw is timed."""
    from byconity_spark.workloads import streaming_suite

    batch_s = streaming_suite.LAST_BATCH_SECONDS
    records: list[dict] = []
    executed: list[str] = []
    errors = 0
    peak_rss = 0.0
    start = time.perf_counter()
    for stmt_id, name in enumerate(itertools.cycle(sequence)):
        now = time.perf_counter()
        if (now - start >= seconds and stmt_id >= len(sequence)) or now - t_process > HARD_STOP_S:
            break
        qd = qdefs[name]
        batch_s.pop(name, None)
        executed.append(name)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                qd.builder(spark, data_dir).write.format("noop").mode("overwrite").save()
                rec = {"stmt": stmt_id, "name": name, "wall_s": time.perf_counter() - t0}
            else:
                rec = tracer.statement(stmt_id, name, qd.builder, spark, data_dir)
        except Exception:  # a failing statement is a result, not a crash
            errors += 1
            log(f"statement {name} failed:\n{traceback.format_exc(limit=3)}")
            continue
        rec["pass"] = stmt_id // len(sequence)
        if name in batch_s:
            rec["stream_batch_s"] = batch_s[name]
        records.append(rec)
        peak_rss = max(peak_rss, rss_mb("self") + rss_mb(jvm_pid))
    return {
        "records": records, "executed": executed, "errors": errors,
        "loop_s": time.perf_counter() - start, "peak_rss_mb": peak_rss,
    }


# ------------------------------------------------------------- metrics
def latencies_ms(loop: dict) -> list[float]:
    return [r["wall_s"] * 1e3 for r in loop["records"]]


def lat_p50_ms(loop: dict, statements: dict[str, dict]) -> float:
    """The pool's median statement latency as this run measures it: the
    median, over the timed statements, of wall / reference time, times the
    pool's median reference time.  Scaling each statement by its own
    reference time keeps the draw from moving the figure: which statements
    happen to sit mid-sample moved the plain sample median by up to 0.37
    of itself between seeds."""
    ratios = [r["wall_s"] * 1e3 / statements[r["name"]]["ref_ms"] for r in loop["records"]]
    return statistics.median(ratios) * statistics.median(s["ref_ms"] for s in statements.values())


def end_to_end(setup_s: float, loop: dict, statements: dict[str, dict]) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "lat_p50_ms": (lat_p50_ms(loop, statements), "ms"),
    }


def ungated(loop: dict) -> dict:
    """Figures kept in the run record, not reported as end-to-end metrics:
    the plain sample median moves with the draw; with 10-25 timed
    statements a run, p90 has fewer than ten samples beyond it; one
    client's throughput is the reciprocal of its mean latency.  Memory,
    which differs from draw to draw by more than any bound allows, is a
    per-layer metric of the traced run."""
    return {
        "sample_p50_ms": percentile(latencies_ms(loop), 50),
        "lat_p90_ms": percentile(latencies_ms(loop), 90),
        "stmts_per_s": len(loop["records"]) / loop["loop_s"],
        "peak_rss_mb": loop["peak_rss_mb"],
    }


LAYERS = ("frontend", "engine", "builder", "catalyst", "exec")


def per_layer(tracer, loop: dict, counts: dict, host: dict, memory: dict,
              failed: int) -> tuple[dict, list]:
    recs = loop["records"]
    fe = tracer.frontend_engine_by_stmt()
    spans = tracer.spans
    build_s: dict[int, float] = {}
    action_s: dict[int, float] = {}
    for s in spans:
        if s["name"] == "workloads.build":
            build_s[s["stmt"]] = s["end"] - s["start"]
        elif s["name"] == "exec.action":
            action_s[s["stmt"]] = s["end"] - s["start"]

    def total(key: str) -> float:
        return sum(r.get(key, 0.0) for r in recs)

    wall_ms = total("wall_s") * 1e3
    m: dict[str, tuple[float, str]] = {}
    m["frontend.rewrite_ms"] = (sum(v.get("frontend.rewrite", 0.0) for v in fe.values()) * 1e3, "ms")
    m["frontend.ch_sql_ms"] = (sum(v.get("frontend.ch_sql", 0.0) for v in fe.values()) * 1e3, "ms")
    m["frontend.statements"] = (sum(v.get("frontend.ch_sql.calls", 0.0) for v in fe.values()), "count")
    m["engine.register_views_ms"] = (
        sum(v.get("engine.register_views", 0.0) for v in fe.values()) * 1e3, "ms")
    m["engine.register_views_calls"] = (
        sum(v.get("engine.register_views.calls", 0.0) for v in fe.values()), "count")
    for k, v in counts.items():
        m[k] = (float(v), "count")
    analysis_ms = total("catalyst.analysis_ms")
    build_ms = sum(build_s.get(r["stmt"], 0.0) for r in recs) * 1e3 - analysis_ms
    m["workloads.build_ms"] = (build_ms, "ms")
    m["workloads.build_jobs"] = (total("build_jobs"), "count")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (total(f"catalyst.{phase}_ms"), "ms")
    # the noop write optimizes and plans before it executes
    action_ms = (sum(action_s.get(r["stmt"], 0.0) for r in recs) * 1e3
                 - total("catalyst.optimization_ms") - total("catalyst.planning_ms"))
    m["exec.action_ms"] = (action_ms, "ms")
    for key, unit in (
        ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
        ("exec.input_rows", "count"), ("exec.input_bytes", "B"),
        ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
        ("exec.spill_bytes", "B"), ("exec.output_bytes", "B"), ("exec.failed_tasks", "count"),
    ):
        m[key] = (total(key), unit)
    run_ms = total("exec.task_run_ms")
    m["exec.cpu_to_run_ratio"] = (total("exec.task_cpu_ms") / run_ms if run_ms else 0.0, "ratio")
    for key, unit in (
        ("kernels.python_run_ms", "ms"), ("kernels.python_boot_ms", "ms"),
        ("kernels.python_init_ms", "ms"), ("kernels.arrow_sent_bytes", "B"),
        ("kernels.arrow_recv_bytes", "B"),
    ):
        m[key] = (total(key), unit)
    streams = [r for r in recs if "stream_batch_s" in r]
    m["streaming.batch_ms"] = (sum(r["stream_batch_s"] for r in streams) * 1e3, "ms")
    m["streaming.startup_ms"] = (
        sum(max(r["wall_s"] - r["stream_batch_s"], 0.0) for r in streams) * 1e3, "ms")
    m["host.anchor_jvm_ms"] = (host["anchor_jvm_ms"], "ms")
    m["host.anchor_py_ms"] = (host["anchor_py_ms"], "ms")
    m["host.steal_pct"] = (host["steal_pct"], "%")
    m["memory.retained_rss_mb"] = (memory["retained_jvm_mb"] + memory["retained_driver_mb"], "MB")
    m["memory.peak_rss_mb"] = (loop["peak_rss_mb"], "MB")
    m["failed_frac"] = (failed / max(len(loop["executed"]), 1), "ratio")
    m["trace.statements"] = (float(len(recs)), "count")
    m["trace.overhead_pct"] = (100.0 * tracer.overhead_s / wall_ms * 1e3, "%")
    accounted = build_ms + sum(m[f"catalyst.{p}_ms"][0] for p in
                               ("analysis", "optimization", "planning")) + action_ms
    m["trace.accounted_pct"] = (100.0 * accounted / wall_ms if wall_ms else 0.0, "%")

    # dominant layer of the ten slowest statements
    slow = []
    for r in sorted(recs, key=lambda r: -r["wall_s"])[:10]:
        f = fe.get(r["stmt"], {})
        frontend = (f.get("frontend.rewrite", 0.0) + f.get("frontend.ch_sql", 0.0)) * 1e3
        engine = f.get("engine.register_views", 0.0) * 1e3
        analysis, optimization, planning = (
            r.get(f"catalyst.{p}_ms", 0.0) for p in ("analysis", "optimization", "planning"))
        builder = max(build_s.get(r["stmt"], 0.0) * 1e3 - analysis - frontend - engine, 0.0)
        action = action_s.get(r["stmt"], 0.0) * 1e3 - optimization - planning
        layers = dict(zip(LAYERS, (frontend, engine, builder,
                                   analysis + optimization + planning, action)))
        slow.append({"name": r["name"], "wall_ms": r["wall_s"] * 1e3,
                     "dominant": max(layers, key=layers.get), "layers_ms": layers})
    for layer in LAYERS:
        m[f"trace.slow10_dominant_{layer}"] = (
            float(sum(1 for s in slow if s["dominant"] == layer)), "count")
    return m, slow


# ----------------------------------------------------------------- main
def parse_args(argv):
    from pools import WORKLOADS

    ap = argparse.ArgumentParser(description="byconity_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "byconity_spark" / "__init__.py").is_file():
        log(f"no byconity_spark package under {ROOT}; run from the repository root")
        return 2
    prepare_env()
    from pools import WORKLOADS, draw, load, missing

    from check import Oracle

    workload = WORKLOADS[args.workload]
    data_dir = str(DATA_DIR)
    steal0 = proc_stat()

    t0 = time.perf_counter()
    from byconity_spark.workloads import all_queries

    qdefs = all_queries()
    spark = start_session()
    phases: dict[str, float] = {}

    @contextmanager
    def phase(name: str):
        t1 = time.perf_counter()
        yield
        phases[name] = time.perf_counter() - t1

    try:
        from byconity_spark import register_views

        register_views(spark, data_dir)
        warm_up(spark, qdefs, data_dir)
        setup_s = phases["setup"] = time.perf_counter() - t0

        statements = load()[workload.name]["statements"]
        lost = missing(statements, qdefs)
        if lost:
            log(f"pool statements not registered: {lost}")
            return 3
        sequence = draw(statements, workload.bands, args.seed)
        redirect_fixed_tmp_roots()
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with phase("anchors"):
            host = {"anchor_jvm_ms": anchor_jvm_ms(spark), "anchor_py_ms": anchor_py_ms()}
        start_state = hygiene(spark)
        with phase("check"):
            oracle = Oracle(data_dir)
            try:
                mismatched = check_pool(spark, qdefs, sequence, data_dir, oracle)
            finally:
                oracle.close()
        with phase("warm"):
            warm_pass(spark, qdefs, sequence, data_dir)

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        try:
            loop = timed_loop(spark, qdefs, sequence, args.seconds, data_dir,
                              tracer, jvm_pid, t_process)
        finally:
            if tracer is not None:
                tracer.uninstall()
        phases["loop"] = loop["loop_s"]
        memory = retained_memory(spark, jvm_pid)
        counts = hygiene_counts(start_state, hygiene(spark))
        steal1 = proc_stat()
        host["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    finally:
        with phase("shutdown"):
            stop_session(spark)
        shutil.rmtree(TMP, ignore_errors=True)
    phases["process"] = time.perf_counter() - t_process

    failed = count_failed(loop["executed"], loop["errors"], mismatched)
    attempted = len(loop["executed"])
    if not loop["records"]:
        log("no statement completed")
        return 4
    if args.trace:
        metrics, slow = per_layer(tracer, loop, counts, host, memory, failed)
    else:
        metrics, slow = end_to_end(setup_s, loop, statements), []

    record = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpu_count(), "phases_s": phases,
        "sequence": sequence, "host": host,
        "hygiene": counts, "memory": memory, "mismatched": mismatched, "attempted": attempted,
        "failed": failed, "statements": loop["records"], "slowest": slow,
        "ungated": ungated(loop), "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    if tracer is not None:
        record["spans"] = tracer.dump()
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    out = runs / f"{workload.name}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1))

    log(f"{workload.name} seed={args.seed}: {len(loop['records'])} statements in "
        f"{loop['loop_s']:.1f}s, setup {setup_s:.2f}s, failed {failed}/{attempted}")
    log("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    log("ungated " + " ".join(f"{k}={v:.2f}" for k, v in record["ungated"].items()))
    log("host " + " ".join(f"{k}={v:.2f}" for k, v in host.items()))
    log("memory " + " ".join(f"{k}={v:.0f}" for k, v in memory.items()))
    log("hygiene " + " ".join(f"{k}={v}" for k, v in counts.items()))
    for s in slow:
        log(f"slow {s['name']}: {s['wall_ms']:.0f} ms, dominant layer {s['dominant']}")
    log(f"run record: {out}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

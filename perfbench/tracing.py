"""Spans and per-layer counters for the traced benchmark run.

`Tracer.install()` wraps the engine's public entry points — the frontend's
`ch_sql` and `rewrite_ch_sql` and `engine.catalog.register_views` — in
every `byconity_spark` module that holds a reference to them, so calls made
from inside builders are recorded too.  Spans (name, start, end, parent,
statement id) stay in memory and are written out when the run ends; a
layer's self time is its spans' duration minus the time their child spans
cover.

Per statement, `Tracer.statement()` also reads what Spark recorded for it:
Catalyst phase times, stage metrics from `statusStore().lastStageAttempt`
for every job of the statement's job groups, and the Python worker SQL
metrics of the statement's SQL executions.  Analysis runs eagerly when the
builder creates its DataFrame, so its time comes from that DataFrame's
`QueryExecution.tracker`; optimization and planning run inside the noop
write, so theirs come from the write command's own `QueryExecution`, which
a `QueryExecutionListener` hands over.  No plan is built twice.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# physical operators that run Python workers
PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsIn|FlatMapCoGroupsIn|MapInPandas|"
    r"MapInArrow|AggregateInPandas|WindowInPandas|ArrowWindowPython|PythonUDTF|EvalPython"
)

# display name of each Python SQL metric (PythonSQLMetrics) -> per-layer key
PYTHON_METRICS = {
    "time to run Python workers": "kernels.python_run_ms",
    "time to start Python workers": "kernels.python_boot_ms",
    "time to initialize Python workers": "kernels.python_init_ms",
    "data sent to Python workers": "kernels.arrow_sent_bytes",
    "data returned from Python workers": "kernels.arrow_recv_bytes",
}

# StageData accessor -> (per-layer key, scale to the key's unit)
STAGE_FIELDS = {
    "numTasks": ("exec.tasks", 1),
    "numFailedTasks": ("exec.failed_tasks", 1),
    "executorRunTime": ("exec.task_run_ms", 1),
    "executorCpuTime": ("exec.task_cpu_ms", 1e-6),
    "jvmGcTime": ("exec.gc_ms", 1),
    "inputRecords": ("exec.input_rows", 1),
    "inputBytes": ("exec.input_bytes", 1),
    "shuffleReadBytes": ("exec.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("exec.shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("exec.spill_bytes", 1),
    "diskBytesSpilled": ("exec.spill_bytes", 1),
    "outputBytes": ("exec.output_bytes", 1),
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_FORMATTED = re.compile(r"(-?[0-9][0-9.,]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")


def parse_metric(text: str) -> float:
    """Value of an `executionMetrics` string such as "8.6 s", "2.9 MiB"
    or "total (min, med, max ...)\\n120 ms (10 ms, ...)": the total, in
    ms for timings and bytes for sizes."""
    body = text.split("\n", 1)[-1]
    m = _FORMATTED.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class _CommandPhases:
    """QueryExecutionListener (a py4j callback) that keeps the Catalyst
    phase times of the last command that finished."""

    def __init__(self):
        self.last: dict[str, float] = {}

    def onSuccess(self, func_name, qe, duration_ns):
        self.last = _phase_ms(qe, ("optimization", "planning"))

    def onFailure(self, func_name, qe, exception):
        self.last = {}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phase_ms(qe, phases) -> dict[str, float]:
    tracked = qe.tracker().phases()
    return {
        f"catalyst.{p}_ms": float(tracked.apply(p).durationMs()) if tracked.contains(p) else 0.0
        for p in phases
    }


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.stmt: int | None = None
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._main = threading.get_ident()
        self._installed: list[tuple[object, str, object]] = []
        self._commands = _CommandPhases()

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self.stack[-1] if self.stack else None, "stmt": self.stmt,
        })
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def install(self) -> None:
        """Replace each entry point in every loaded engine module and start
        listening for finished commands."""
        from pyspark.java_gateway import ensure_callback_server_started

        from byconity_spark.engine import catalog
        from byconity_spark.frontend import sql

        targets = {
            id(sql.ch_sql): self._wrap("frontend.ch_sql", sql.ch_sql),
            id(sql.rewrite_ch_sql): self._wrap("frontend.rewrite", sql.rewrite_ch_sql),
            id(catalog.register_views): self._wrap("engine.register_views", catalog.register_views),
        }
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("byconity_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in targets:
                    self._installed.append((mod, attr, val))
                    setattr(mod, attr, targets[id(val)])
        ensure_callback_server_started(self.sc._gateway)
        self.spark._jsparkSession.listenerManager().register(self._commands)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._installed):
            setattr(mod, attr, val)
        self._installed.clear()
        self.spark._jsparkSession.listenerManager().unregister(self._commands)

    # ------------------------------------------------------- statements
    def statement(self, stmt_id: int, name: str, builder, spark, sf_dir: str) -> dict:
        """Build and run one statement with the noop sink; return its layer
        record.  Raises what the builder or the action raises."""
        sc = self.sc
        group = f"perfbench-{stmt_id}"
        sql_store = spark._jsparkSession.sharedState().statusStore()
        execs_before = sql_store.executionsCount()
        self.stmt = stmt_id
        rec = {"stmt": stmt_id, "name": name}
        self._commands.last = {}
        t0 = time.perf_counter()
        try:
            with self.span("statement"):
                sc.setJobGroup(f"{group}-build", name)
                with self.span("workloads.build"):
                    df = builder(spark, sf_dir)
                sc.setJobGroup(f"{group}-action", name)
                with self.span("exec.action"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.stmt = None
        rec["wall_s"] = time.perf_counter() - t0
        t_book = time.perf_counter()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        rec.update(_phase_ms(df._jdf.queryExecution(), ("analysis",)))
        rec.update(self._commands.last)
        tracker = sc.statusTracker()
        build_jobs = list(tracker.getJobIdsForGroup(f"{group}-build"))
        action_jobs = list(tracker.getJobIdsForGroup(f"{group}-action"))
        rec["build_jobs"] = len(build_jobs)
        rec.update(self._stages(tracker, build_jobs + action_jobs))
        rec.update(self._python_metrics(sql_store, execs_before))
        self.overhead_s += time.perf_counter() - t_book
        return rec

    def _stages(self, tracker, job_ids: list[int]) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out: dict[str, float] = defaultdict(float)
        out["exec.jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: its shuffle was reused, it never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                for field, (key, scale) in STAGE_FIELDS.items():
                    out[key] += float(getattr(st, field)()) * scale
        return dict(out)

    @staticmethod
    def _python_metrics(sql_store, execs_before: int) -> dict:
        out: dict[str, float] = defaultdict(float)
        n_new = sql_store.executionsCount() - execs_before
        if n_new <= 0:
            return {}
        execs = sql_store.executionsList(execs_before, n_new)
        for i in range(execs.size()):
            ex_id = execs.apply(i).executionId()
            nodes = sql_store.planGraph(ex_id).allNodes()
            values = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not PYTHON_NODE.search(node.name()):
                    continue
                if values is None:
                    values = sql_store.executionMetrics(ex_id)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PYTHON_METRICS.get(m.name())
                    text = values.get(m.accumulatorId()) if key else None
                    if text is not None and text.isDefined():
                        out[key] += parse_metric(text.get())
        return dict(out)

    # ------------------------------------------------------ aggregation
    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        selfs = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                selfs[s["parent"]] -= s["end"] - s["start"]
        return selfs

    def frontend_engine_by_stmt(self) -> dict[int, dict[str, float]]:
        """Self time (s) of the wrapped entry points, per statement."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, self_s in zip(self.spans, self.self_times()):
            if s["stmt"] is not None and s["name"].startswith(("frontend.", "engine.")):
                out[s["stmt"]][s["name"]] += self_s
                out[s["stmt"]][s["name"] + ".calls"] += 1
        return out

    def dump(self) -> list[dict]:
        return [dict(s, self_s=v) for s, v in zip(self.spans, self.self_times())]

#!/usr/bin/env python3
"""Measure every candidate statement once and write the workload pools.

    python3 perfbench/survey.py        # about 25 minutes on 4 vCPUs

A candidate is every registered query (`workloads.all_queries()`) in one
of a workload's families (`pools.family`).  In one session, after the
runner's set-up, each candidate is built and collected once (its cold run),
compared with its DuckDB oracle, run twice more with the noop sink, and
watched for a catalog change and, for `sql_interactive`, a Python exec
node.  `decide` then keeps or excludes it, with the reason, and
`perfbench/pools.json` records per workload the kept statements with their
family and reference time (mean of the two noop runs) and the excluded ones
with their reasons.  The per-statement records go to
`.perfbench_work/survey.jsonl`.

The pools are frozen in that file on purpose: a query registered later
does not change what the benchmark measures until the survey is run again.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time

import run
from check import Oracle, compare
from pools import POOLS_FILE, WORKLOADS, family
from tracing import PYTHON_NODE

# the output check of a pool statement (cold run plus oracle) must fit a
# run's budget
CHECK_LIMIT_S = 8.0
ORACLE_TIMEOUT_S = 10.0
# side effects the survey does not observe
SIDE_EFFECTS = {
    "cbo_stats_broadcast": "writes table statistics that every later statement's optimizer reads",
    "mv_rollup_rewrite": "writes its view under a fixed /tmp path outside the checkout",
    "stream_watermark_late_drop": "writes its feed under a fixed /tmp path outside the checkout",
}


def measure(spark, qd, data: str, oracle) -> dict:
    def catalog():
        tables = sorted((t.name, t.database, t.isTemporary) for t in spark.catalog.listTables())
        return tables, spark.catalog.currentDatabase()

    rec: dict = {"has_oracle": qd.oracle is not None}
    try:
        before = catalog()
        t0 = time.perf_counter()
        df = qd.builder(spark, data)
        rec["python"] = bool(PYTHON_NODE.search(df._jdf.queryExecution().executedPlan().toString()))
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        rec["cold_s"] = time.perf_counter() - t0
        rec["rows"] = len(rows)
        if qd.oracle is not None:
            t1 = time.perf_counter()
            try:
                rec["match"] = compare(cols, rows, *oracle.run(qd.oracle, ORACLE_TIMEOUT_S)) is None
            except Exception as exc:  # an interrupted or failing oracle excludes the statement
                rec["match"] = f"oracle error {type(exc).__name__}"
            rec["oracle_s"] = time.perf_counter() - t1
        rec["warm_s"] = []
        for _ in range(2):
            t2 = time.perf_counter()
            qd.builder(spark, data).write.format("noop").mode("overwrite").save()
            rec["warm_s"].append(time.perf_counter() - t2)
        rec["catalog_changed"] = catalog() != before
    except Exception as exc:  # recorded; the statement is excluded
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    return rec


def decide(workload: str, name: str, rec: dict) -> str | None:
    """None to keep the statement in the workload's pool, else the reason
    to leave it out."""
    if name in SIDE_EFFECTS:
        return SIDE_EFFECTS[name]
    if "error" in rec:
        return f"raises at sf0.1: {rec['error'].splitlines()[0][:120]}"
    if isinstance(rec.get("match"), str):
        return f"its DuckDB oracle fails or runs past {ORACLE_TIMEOUT_S:.0f} s ({rec['match']})"
    if rec.get("match") is False:
        return "its result differs from its oracle at sf0.1"
    if not rec["has_oracle"] and not rec["rows"]:
        return "rows-only statement returned no rows"
    if workload == "sql_interactive" and rec["python"]:
        return "plans a Python exec node"
    if workload == "sql_interactive" and rec["catalog_changed"]:
        return "changes the catalog"
    check_s = rec["cold_s"] + rec.get("oracle_s", 0.0)
    if check_s > CHECK_LIMIT_S:
        return f"its output check takes {check_s:.1f} s"
    return None


def build_pools(qdefs, records: dict[str, dict]) -> dict:
    pools = {}
    for w in WORKLOADS.values():
        kept, excluded = {}, {}
        for name in sorted(records):
            fam = family(name, qdefs[name])
            if fam not in w.families:
                continue
            reason = decide(w.name, name, records[name])
            if reason is None:
                ref_ms = statistics.mean(records[name]["warm_s"]) * 1e3
                kept[name] = {"family": fam, "ref_ms": round(ref_ms, 1)}
            else:
                excluded[name] = reason
        pools[w.name] = {"statements": kept, "excluded": excluded}
    return pools


def main() -> int:
    run.prepare_env()
    from byconity_spark import register_views
    from byconity_spark.workloads import all_queries

    data = str(run.DATA_DIR)
    qdefs = all_queries()
    names = [n for n in qdefs
             if any(family(n, qdefs[n]) in w.families for w in WORKLOADS.values())]
    spark = run.start_session()
    oracle = Oracle(data)
    records: dict[str, dict] = {}
    out = run.WORK / "survey.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    try:
        register_views(spark, data)
        run.warm_up(spark, qdefs, data)
        run.redirect_fixed_tmp_roots()
        with out.open("w") as f:
            for name in names:
                records[name] = measure(spark, qdefs[name], data, oracle)
                f.write(json.dumps({"name": name, **records[name]}) + "\n")
                run.log(f"survey {name}: {records[name].get('warm_s')}")
    finally:
        oracle.close()
        run.stop_session(spark)
        shutil.rmtree(run.TMP, ignore_errors=True)
    POOLS_FILE.write_text(json.dumps(build_pools(qdefs, records), indent=1, sort_keys=True) + "\n")
    run.log(f"wrote {POOLS_FILE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

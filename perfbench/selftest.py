#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks that the same seed gives the same statement sequence, that every
name in pools.json is registered in its recorded family, that the input
tables are the fixture copies SHA256SUMS names, that the
output check catches a corrupted result, that no `sql_interactive`
statement plans a Python exec node, and that none changes the catalog.
Exits 0 when every check passes.
"""

from __future__ import annotations

import shutil
import sys
import traceback

import run
from pools import WORKLOADS, bands, draw, family, load, missing
from tracing import PYTHON_NODE, parse_metric


def test_same_seed_same_sequence(ctx) -> None:
    for w in WORKLOADS.values():
        statements = ctx["pools"][w.name]["statements"]
        a = draw(statements, w.bands, 11)
        assert a == draw(statements, w.bands, 11), f"{w.name}: same seed, different sequences"
        assert a != draw(statements, w.bands, 12), f"{w.name}: two seeds, one sequence"
        for band in bands(statements, w.bands):
            drawn = sum(1 for n in a if n in band)
            assert drawn == 1, f"{w.name}: a band drawn {drawn} times"


def test_pools_registered(ctx) -> None:
    qdefs = ctx["qdefs"]
    for w in WORKLOADS.values():
        pool = ctx["pools"][w.name]
        lost = missing(list(pool["statements"]) + list(pool["excluded"]), qdefs)
        assert not lost, f"{w.name}: not in all_queries(): {lost}"
        for name, st in pool["statements"].items():
            fam = family(name, qdefs[name])
            assert fam == st["family"] and fam in w.families, f"{w.name}: {name} is in {fam}"


def test_data_matches_checksums(ctx) -> None:
    import hashlib

    data = run.DATA_DIR
    for line in (data / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        actual = hashlib.sha256((data / name).read_bytes()).hexdigest()
        assert actual == digest, f"{name} differs from the fixture it copies"


def test_parse_formatted_metrics(ctx) -> None:
    assert parse_metric("8.6 s") == 8600.0
    assert parse_metric("2.0 MiB") == 2.0 * 2**20
    assert parse_metric("total (min, med, max (stageId: taskId))\n120 ms (10 ms, 50 ms, 60 ms (stage 3.0: task 7))") == 120.0


def test_corrupted_result_is_caught(ctx) -> None:
    from pyspark.sql import functions as F

    spark, qdefs, data = ctx["spark"], ctx["qdefs"], ctx["data"]
    name = "q1_pricing_summary"
    real = qdefs[name]

    def corrupted(s, sf):
        df = real.builder(s, sf)
        col = df.columns[-1]
        # one cell of one row changes; every other row stays intact
        first = df.orderBy(*df.columns).limit(1)
        rest = df.exceptAll(first)
        return rest.unionByName(first.withColumn(col, F.col(col) + F.lit(1)))

    bad_defs = dict(qdefs)
    bad_defs[name] = type(real)(corrupted, real.oracle)
    assert run.check_pool(spark, qdefs, (name,), data, ctx["oracle"]) == {}, "clean result flagged"
    caught = run.check_pool(spark, bad_defs, (name,), data, ctx["oracle"])
    assert name in caught, "corrupted result passed the output check"
    assert run.count_failed([name, "q6_forecast_revenue", name], 0, caught) == 2


def _catalog(spark) -> tuple:
    dbs = sorted(r[0] for r in spark.sql("SHOW DATABASES").collect())
    tables = sorted(
        (r[0], r[1], bool(r[2])) for d in dbs for r in spark.sql(f"SHOW TABLES IN `{d}`").collect()
    )
    return spark.catalog.currentDatabase(), tuple(dbs), tuple(tables)


def test_sql_interactive_has_no_python_and_keeps_catalog(ctx) -> None:
    spark, qdefs, data = ctx["spark"], ctx["qdefs"], ctx["data"]
    python_plans, changed = [], []
    for name in sorted(ctx["pools"]["sql_interactive"]["statements"]):
        before = _catalog(spark)
        df = qdefs[name].builder(spark, data)
        if PYTHON_NODE.search(df._jdf.queryExecution().executedPlan().toString()):
            python_plans.append(name)
        df.write.format("noop").mode("overwrite").save()
        if _catalog(spark) != before:
            changed.append(name)
    assert not python_plans, f"Python exec node in: {python_plans}"
    assert not changed, f"catalog changed by: {changed}"


TESTS = [
    test_same_seed_same_sequence,
    test_pools_registered,
    test_data_matches_checksums,
    test_parse_formatted_metrics,
    test_corrupted_result_is_caught,
    test_sql_interactive_has_no_python_and_keeps_catalog,
]


def main() -> int:
    from check import Oracle

    run.prepare_env()
    from byconity_spark import register_views
    from byconity_spark.workloads import all_queries

    data = str(run.DATA_DIR)
    spark = run.start_session()
    oracle = Oracle(data)
    failures = 0
    try:
        register_views(spark, data)
        ctx = {"spark": spark, "qdefs": all_queries(), "data": data, "oracle": oracle,
               "pools": load()}
        for test in TESTS:
            try:
                test(ctx)
                print(f"PASS {test.__name__}", flush=True)
            except Exception:  # report every test, then fail the run
                failures += 1
                print(f"FAIL {test.__name__}\n{traceback.format_exc()}", flush=True)
    finally:
        oracle.close()
        run.stop_session(spark)
        shutil.rmtree(run.TMP, ignore_errors=True)
    print(f"{len(TESTS) - failures}/{len(TESTS)} passed", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

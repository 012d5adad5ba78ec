"""``catalog`` workload: catalog queries forced through the noop sink.

Untimed warm passes, then timed passes, each in a seed-permuted order,
until the run's seconds are spent. Every query's wall is the call that
builds its DataFrame plus its noop write; the figures are per-query
medians, never a percentile pooled across queries. After the timed
passes (and the RSS reading) every query is checked against its DuckDB
oracle.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

from common import (geomean, job_group_stats, last_execution_id,
                    peak_rss_mb, planning_phases_ms, python_node_stats, start_spark,
                    workload_config)

HERE = os.path.dirname(os.path.abspath(__file__))
# set-ups per run; setup_s is their median, which leaves out the first
# one's JVM launch
SETUP_REPS = 3

# untimed passes first: the first pass pays every first execution (11-17
# s on 4 vCPUs) and the next ones are still slower while the JVM compiles
# its code paths (2.0-4.2 s). The 6-11 timed passes that follow (1.4-3.8
# s each) still fall by up to a quarter from first to last; each query's
# figure is its median over them, so a few slow passes, early on that
# slope or in a slow stretch of the host, do not move it
WARM_PASSES = 4


def _run_query(spark, queries, name, fx, tracer, trace_rows):
    """Build and execute one query; returns its wall in seconds."""
    sc = spark.sparkContext
    tag = f"{name}-{len(trace_rows)}"
    t0 = time.perf_counter()
    with tracer.span("plans.build", query=name):
        if tracer.enabled:
            sc.setJobGroup(f"build-{tag}", name)
        df = queries[name](spark, fx)
    t1 = time.perf_counter()
    with tracer.span("operators.exec", query=name):
        if tracer.enabled:
            sc.setJobGroup(f"exec-{tag}", name)
            first_exec = last_execution_id(spark)
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if tracer.enabled:
        sc.setJobGroup("idle", "idle")
        row = {"query": name, "build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3,
               "build_jobs": job_group_stats(spark, f"build-{tag}")["operators.jobs"],
               **job_group_stats(spark, f"exec-{tag}")}
        row.update(python_node_stats(spark, first_exec))
        row.update(planning_phases_ms(df))  # after the timed wall: a re-plan
        trace_rows.append(row)
    return t2 - t0


def run(ctx) -> dict:
    from flink_ms_spark.oracle import compare
    from flink_ms_spark.plans.catalog import ORACLE_SQL, QUERIES
    from flink_ms_spark.schemas import FIXTURE_TABLES
    from flink_ms_spark.sources.tables import load_table

    tracer = ctx.tracer
    fx = os.path.join(ctx.work, "fixtures")
    # in a child process, so that the peak RSS read below covers the
    # session, the builders and execution, not the fixture generator
    rows = json.loads(subprocess.run(
        [sys.executable, os.path.join(HERE, "fixtures.py"), fx, str(ctx.seed)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=120).stdout)
    # each stratum groups queries whose time sits mostly in one layer, so
    # an optimisation of that layer moves one stratum
    strata = workload_config("catalog")["strata"]
    names = [q for qs in strata.values() for q in qs]

    setup, starts = [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_spark(ctx.work)
        t1 = time.perf_counter()
        with tracer.span("sources.load_tables"):
            for t in FIXTURE_TABLES:
                load_table(spark, fx, t)
        setup.append(time.perf_counter() - t0)
        starts.append(t1 - t0)

    rng = random.Random(ctx.seed)
    failures: dict[str, int] = {}
    walls: dict[str, list[float]] = {q: [] for q in names}
    t_warm = time.perf_counter()
    order = names[:]
    warm_walls = []
    for _ in range(WARM_PASSES):
        t_pass = time.perf_counter()
        rng.shuffle(order)
        for q in order:
            try:
                _run_query(spark, QUERIES, q, fx, ctx.null_tracer, [])
            except Exception:  # noqa: BLE001 - counted when a timed pass fails too
                traceback.print_exc()
        warm_walls.append(round(time.perf_counter() - t_pass, 3))
    warm_s = time.perf_counter() - t_warm

    trace_rows: list[dict] = []
    attempted = 0
    t_start = time.perf_counter()
    t_end = t_start + ctx.seconds
    passes = 0
    # at least two passes; no pass that would end past the run's seconds
    while passes < 2 or time.perf_counter() + (time.perf_counter() - t_start) / passes <= t_end:
        rng.shuffle(order)
        for q in order:
            attempted += 1
            try:
                walls[q].append(_run_query(spark, QUERIES, q, fx, tracer, trace_rows))
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                traceback.print_exc()
                walls[q].append(float("inf"))
                failures["exception"] = failures.get("exception", 0) + 1
        passes += 1
    timed_s = time.perf_counter() - t_start
    rss = peak_rss_mb()

    t_verify = time.perf_counter()
    os.environ["SPARK_GRAFT_SF_ORACLE"] = fx
    mismatched = []
    for q in names:
        attempted += 1
        oracle = ORACLE_SQL[q]
        try:
            ok, msg = compare(QUERIES[q](spark, fx), oracle() if callable(oracle) else oracle, fx)
        except Exception as exc:  # noqa: BLE001 - reported as a failed check
            ok, msg = False, f"exception: {exc}"
        if not ok:
            mismatched.append(f"{q}: {msg[:300]}")
            failures["mismatch"] = failures.get("mismatch", 0) + 1

    verify_s = time.perf_counter() - t_verify
    med = {q: statistics.median(w) for q, w in walls.items()}
    report = {
        "query_geomean_ms": geomean([v * 1e3 for v in med.values()]),
        "catalog_wall_s": sum(med.values()),
        "passes": passes,
        "warm_pass_s": warm_s,
        "warm_pass_walls_s": warm_walls,
        "timed_s": timed_s,
        "verify_s": verify_s,
        "fixture_rows": rows,
        "per_query_median_ms": {q: round(v * 1e3, 2) for q, v in med.items()},
        "per_query_walls_ms": {q: [round(v * 1e3, 2) for v in w] for q, w in walls.items()},
        "mismatches": mismatched,
    }
    e2e = {
        "setup_s": statistics.median(setup),
        "py_peak_rss_mb": rss,
        "typical_ms": report["query_geomean_ms"],
        "slow_ms": report["catalog_wall_s"] * 1e3,
    }
    layer = {"session.start_s": statistics.median(starts), "catalog.warm_pass_s": warm_s}
    if tracer.enabled:
        layer.update(_strata_layers(trace_rows, strata))
    return {"spark": spark, "e2e": e2e, "layer": layer, "report": report,
            "attempted": attempted, "failures": failures, "correct": not mismatched}


def _strata_layers(trace_rows: list[dict], strata: dict[str, list[str]]) -> dict[str, float]:
    """Per-stratum sums over the timed passes, divided by the pass count
    so that each figure is per catalog pass."""
    stratum_of = {q: s for s, qs in strata.items() for q in qs}
    n_pass = max(1, len(trace_rows) // len(stratum_of))
    out: dict[str, float] = {}
    keys = {"build_ms": "plans.build_ms", "build_jobs": "plans.build_jobs",
            "exec_ms": "operators.exec_ms"}
    for row in trace_rows:
        s = stratum_of[row["query"]]
        for k, v in row.items():
            if k == "query":
                continue
            name = f"{keys.get(k, k)}.{s}"
            out[name] = out.get(name, 0.0) + v / n_pass
    return out

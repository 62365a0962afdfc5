"""``query_headline``: the 13 ``bench.py`` HEADLINE registry queries.

Set-up generates the seeded star schema (``perfbench/datagen.py``) and
resolves every table, several times, and hashes each query's DuckDB
``oracle_sql()`` result once. Then each query runs back to back to a
full result (``collect``: every column computed and delivered): once
untimed, which warms its code paths (the first query also warms the
session: JVM codegen, Arrow/pandas Python workers), then once timed.
Further rounds of timed executions follow until ``--seconds`` is spent
(the run-to-run spread here is host drift, which more rounds in one run
do not reduce). Every input table is then scanned in full (noop sink)
``SCANS`` times. Every result is hashed and checked against its oracle
after the clock stops.
"""

from __future__ import annotations

import shutil
import time
import traceback
from contextlib import nullcontext

from bench import HEADLINE
from perfbench import datagen, oracle
from perfbench.harness import log
from perfbench.stats import geomean, median
from perfbench.trace import EXECUTOR_KEYS, Tracer, inclusive

SF = 0.02
SETUP_REPS = 3
MAX_ROUNDS = 3
SCANS = 2
# executed-plan nodes that run Python (UDF, Arrow/pandas map and
# grouped-map stages)
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def python_stages(plan_string: str) -> int:
    """Python-eval nodes in an executed plan's string form (the final
    adaptive plan only, when AQE printed both)."""
    import re

    final = plan_string.split("== Initial Plan ==")[0]
    pat = re.compile(r"\b(" + "|".join(PYTHON_NODES) + r")\b")
    return sum(1 for line in final.splitlines() if pat.search(line))


def plan_seconds(df) -> float:
    """Analysis + optimization + planning from the query's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total / 1000.0


def _scan_all(spark, data_dir: str) -> float:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    for t in entry.TABLES:
        spark.read.parquet(f"{data_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()
    return time.perf_counter() - t0


def _run_query(spark, name, data_dir, expected, tracer: Tracer | None = None):
    """One execution to a full result. Returns (seconds or None if it
    raised, result matches the oracle, plan facts when traced)."""
    import __spark_entry__ as entry

    try:
        with tracer.span(f"query.{name}") if tracer else nullcontext():
            t0 = time.perf_counter()
            df = entry.queries()[name](spark, data_dir)
            rows = df.collect()
            secs = time.perf_counter() - t0
    except Exception:  # a failing query is a failed operation
        log(f"{name} failed:\n{traceback.format_exc(limit=5)}")
        return None, False, {}
    ok = oracle.result_hash(df.columns, rows) == expected[name]
    if not ok:
        log(f"{name}: result differs from its oracle")
    plan = {}
    if tracer:
        plan = {
            "plan_s": plan_seconds(df),
            "python_stages": python_stages(
                df._jdf.queryExecution().executedPlan().toString()
            ),
        }
    return secs, ok, plan


def run(spark, work, seed: int, seconds: float, trace: bool) -> dict:
    import __spark_entry__ as entry

    names = list(HEADLINE)

    # -- set-up, several times: seeded tables + relation resolution ------
    setups, data_dir = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        d = datagen.write_tables(work.sub(f"data{i}"), SF, seed)
        for t in entry.TABLES:
            spark.read.parquet(f"{d}/{t}.parquet").schema  # noqa: B018
        setups.append(time.perf_counter() - t0)
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
        data_dir = d
    expected = oracle.oracle_hashes(data_dir, names)

    # each query back to back: one untimed execution warms its code
    # paths (the first also warms the session: JVM codegen, Python
    # workers), then a timed one; more rounds of timed executions follow
    # until --seconds is spent. Every result is checked
    tracer = Tracer(trace, f"query_headline-{seed}", spark)
    attempted = failed = 0
    samples: dict[str, list[float]] = {n: [] for n in names}
    plans: dict[str, dict] = {}
    warm_s = 0.0
    t_window = time.perf_counter()
    rounds = 0
    while rounds == 0 or (
        rounds < MAX_ROUNDS and sum(map(sum, samples.values())) < seconds
    ):
        for name in names:
            if rounds == 0:
                t0 = time.perf_counter()
                _, ok, _ = _run_query(spark, name, data_dir, expected)
                warm_s += time.perf_counter() - t0
                attempted += 1
                failed += not ok
            secs, ok, plans[name] = _run_query(
                spark, name, data_dir, expected, tracer if trace else None
            )
            attempted += 1
            failed += not ok
            if secs is not None:
                samples[name].append(secs)
        rounds += 1
    scans = [_scan_all(spark, data_dir) for _ in range(SCANS)]
    window_s = time.perf_counter() - t_window - warm_s
    per_query = {n: median(v) for n, v in samples.items() if v}
    total = sum(per_query.values())
    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": median(setups),
        "throughput_per_s": len(per_query) / total,
        "latency_s": geomean(per_query.values()),
        "read_s": median(scans),
        "record": {
            "sf": SF,
            "setups_s": setups,
            "warm_s": warm_s,
            "window_s": window_s,
            "rounds": rounds,
            "samples": samples,
            "scans_s": scans,
            "queries_total_s": total,
            "queries_geomean_s": geomean(per_query.values()),
        },
    }
    log(f"query_headline timed window {window_s:.2f}s: total {total:.3f}s")

    if trace:
        tracer.attach_executor_metrics()
        layers = {}
        for n in names:
            layers[f"query.{n}.s"] = per_query.get(n, 0.0)
            layers[f"query.{n}.plan_s"] = plans.get(n, {}).get("plan_s", 0.0)
            layers[f"query.{n}.python_stages"] = plans.get(n, {}).get("python_stages", 0)
        tot = dict.fromkeys(EXECUTOR_KEYS, 0)
        for s in tracer.spans:
            if s.parent is None:
                for k, v in inclusive(tracer.spans, s.id).items():
                    tot[k] += v
        for k in EXECUTOR_KEYS:
            layers[f"spark.{k}"] = tot[k]
        layers["trace.overhead_s"] = tracer.overhead_s
        out["layers"] = layers
        out["spans"] = tracer
    return out

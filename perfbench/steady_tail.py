"""``steady_tail``: small Iceberg-landed batches against a built table.

Set-up generates a seeded wide-keyspace change stream (500 repos x 5000
paths) and builds the lake table from most of it with a cold-table
catch-up replay over the staged parquet (one large copy-on-write
epoch, the plain thin LWW path). The timed window then runs whole fold
cycles over the rest: each step lands one batch into an Iceberg
landing zone with ``write_iceberg`` (the seeded producer retry lands one
delta batch of each cycle twice, verbatim), replays it with
``ReplayRunner(events_format="iceberg")`` in ``merge_mode`` auto, and
reads the whole table back (every column) as a consumer would. The
producer lands the next batch only after that read: a closed loop.

Steps are sized below 5% of the table, so auto commits them as
merge-on-read deltas. The table folds a delta chain of ``FOLD_CHAIN``
(the engine's ``max_delta_chain``, default 8, lowered here so that a
whole cycle fits one run): the fourth commit of a cycle folds it
copy-on-write. Each cycle starts from a fresh copy of the built table
and an empty landing zone, and replays the same batches.
"""

from __future__ import annotations

import random
import shutil
import time

from perfbench import oracle
from perfbench.harness import dir_bytes, log
from perfbench.stats import median
from perfbench.trace import EXECUTOR_KEYS, Tracer, inclusive

N_REPOS = 500
PATHS_PER_REPO = 5000
STEP_EVENTS = 200
FOLD_CHAIN = 3
CYCLE_STEPS = FOLD_CHAIN + 1  # the delta commits + the fold
BUILD_EPOCHS = 1
BUILD_EVENTS = 30 * STEP_EVENTS  # a step is under 5% of the built rows
TAIL_EVENTS = CYCLE_STEPS * STEP_EVENTS
NUM_PARTITIONS = 4
MAX_CYCLES = 3


def _drive(runner, table, tracer: Tracer, end_seq: int | None = None) -> list[dict]:
    """Apply the events past the table's cursor (up to ``end_seq``, or to
    the polled end of the source), driving ``run_epoch`` exactly the way
    ``ReplayRunner.run()`` does."""
    stream_end = end_seq
    if stream_end is None:
        with tracer.span("runner.poll"):
            stream_end = runner.max_seq()
    out = []
    while True:
        with tracer.span("table.snapshot"):
            snap = table.snapshot()
        next_seq = snap.end_seq + 1
        if next_seq > stream_end:
            return out
        end = min(next_seq + runner.batch_size - 1, stream_end)
        with tracer.span("runner.epoch") as sp:
            m = runner.run_epoch(snap.epoch + 1, next_seq, end)
        if sp is not None:
            sp.attrs.update(m)
        out.append(m)


def _apply_probe(spark, land: str, lo: int, hi: int, tracer: Tracer) -> None:
    """The epoch's batch through last_writer_wins -> fingerprint into a
    noop sink (traced runs only; outside every timed window)."""
    from pyspark.sql import functions as F

    from arc_spark.cdc.apply import last_writer_wins, normalize_and_fingerprint
    from arc_spark.lake.iceberg_read import read_iceberg

    batch = read_iceberg(spark, land, min_seq=lo - 1, max_seq=hi).filter(
        (F.col("seq") >= lo) & (F.col("seq") <= hi) & (F.col("op") != "schema-change")
    )
    with tracer.span("apply.winners"):
        normalize_and_fingerprint(
            last_writer_wins(batch, ["repo", "path"], "seq")
        ).write.format("noop").mode("overwrite").save()


def _table(root: str):
    """The engine's ``LakeTable`` at ``root``, with ``auto`` merges
    folding a delta chain of ``FOLD_CHAIN``."""
    from arc_spark.lake.table import LakeTable

    class _FoldingTable(LakeTable):
        def merge(self, *args, **kwargs):
            kwargs.setdefault("max_delta_chain", FOLD_CHAIN)
            return super().merge(*args, **kwargs)

    return _FoldingTable(root)


def _cycle(spark, work, built_root: str, stream: str, tail_start: int,
           relanded: int, tracer: Tracer, label: str,
           n_steps: int = CYCLE_STEPS) -> dict:
    from pyspark.sql import functions as F

    from arc_spark.cdc.runner import ReplayRunner
    from arc_spark.lake.iceberg_export import write_iceberg

    root = work.sub(f"table-{label}")
    land = work.sub(f"land-{label}")
    shutil.copytree(built_root, root)
    table = _table(root)
    bytes_before = dir_bytes(root)
    events = spark.read.parquet(stream)
    runner = ReplayRunner(
        spark, land, table, batch_size=2 * STEP_EVENTS, events_format="iceberg"
    )
    steps = []
    for k in range(n_steps):
        lo = tail_start + k * STEP_EVENTS
        hi = lo + STEP_EVENTS - 1
        batch = events.filter((F.col("seq") >= lo) & (F.col("seq") <= hi))
        with tracer.span("tail.step", step=k):
            t0 = time.perf_counter()
            with tracer.span("iceberg_export.land"):
                write_iceberg(spark, batch, land)
            if k == relanded:  # at-least-once producer retry
                with tracer.span("iceberg_export.land"):
                    write_iceberg(spark, batch, land)
            recs = _drive(runner, table, tracer)
            t1 = time.perf_counter()
            with tracer.span("table.snapshot"):
                snap = table.snapshot()
            chain = max((len(v) for v in snap.delta_files.values()), default=0)
            with tracer.span("consumer.read"):
                table.read(spark).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if tracer.enabled:
            _apply_probe(spark, land, lo, hi, tracer)
        steps.append(
            {
                "freshness_s": t1 - t0,
                "read_s": t2 - t1,
                "step_s": t2 - t0,
                "delta_chain": chain,
                "epochs": recs,
            }
        )
    shutil.rmtree(land, ignore_errors=True)
    return {
        "table": table,
        "steps": steps,
        "bytes_added": dir_bytes(root) - bytes_before,
    }


def _summarise(cycles: list[dict]) -> dict:
    steps = [s for c in cycles for s in c["steps"]]
    total = sum(s["step_s"] for s in steps)
    return {
        "tail_events_per_s": len(steps) * STEP_EVENTS / total,
        "freshness_p50_s": median(s["freshness_s"] for s in steps),
        "read_p50_s": median(s["read_s"] for s in steps),
        # deltas, the re-landed batch and the fold differ in cost, and the
        # delta chain grows through a cycle until the fold resets it: the
        # means over whole cycles are what a producer and a consumer see
        "freshness_mean_s": sum(s["freshness_s"] for s in steps) / len(steps),
        "read_mean_s": sum(s["read_s"] for s in steps) / len(steps),
    }


def run(spark, work, seed: int, seconds: float, trace: bool) -> dict:
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.cdc.runner import ReplayRunner

    import duckdb

    rng = random.Random(seed)
    # one delta step of the cycle is re-landed; the seed picks which
    relanded = rng.randrange(CYCLE_STEPS - 1)
    n_events = BUILD_EVENTS + TAIL_EVENTS
    off = Tracer(False, "")

    # -- set-up: stream + cold-table catch-up build ----------------------
    t_setup = time.perf_counter()
    stream = write_change_stream(
        spark, work.sub("stream"), n_events, seed=seed,
        num_partitions=NUM_PARTITIONS, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
    )
    built = work.sub("built")
    table, _ = create_table_for_stream(spark, stream, built)
    catchup = ReplayRunner(
        spark, stream, table, batch_size=BUILD_EVENTS // BUILD_EPOCHS
    )
    t_cu = time.perf_counter()
    build_recs = _drive(catchup, table, off, BUILD_EVENTS - 1)
    catchup_s = time.perf_counter() - t_cu
    setup_s = time.perf_counter() - t_setup
    log(f"steady_tail set-up {setup_s:.2f}s (catch-up {catchup_s:.2f}s)")

    # -- warm-up: the cycle's first step on a throwaway copy, so the timed
    # steps do not pay the process's first Iceberg landing, delta commit
    # and merge-on-read
    t_warm = time.perf_counter()
    warm = _cycle(spark, work, built, stream, BUILD_EVENTS, relanded, off,
                  "warm", n_steps=1)
    shutil.rmtree(warm["table"].root, ignore_errors=True)
    warm_s = time.perf_counter() - t_warm

    # -- timed: whole fold cycles ----------------------------------------
    cycles: list[dict] = []
    tracer = Tracer(trace, f"steady_tail-{seed}", spark)
    t_window = time.perf_counter()
    while len(cycles) < MAX_CYCLES and (
        not cycles or time.perf_counter() - t_window < seconds
    ):
        cycles.append(_cycle(spark, work, built, stream, BUILD_EVENTS, relanded,
                             tracer, f"c{len(cycles)}"))
    res = _summarise(cycles)
    log(f"steady_tail {len(cycles)} cycle(s): {res}")

    # -- correctness: every cycle's final table vs the DuckDB oracle ------
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE expected AS "
        + oracle.expected_state_sql(
            f"read_parquet('{stream}/*.parquet')", BUILD_EVENTS + TAIL_EVENTS - 1
        )
    )
    attempted = len(build_recs)
    failed = 0
    checks = []
    for i, c in enumerate(cycles):
        rel = oracle.table_digest(spark, c["table"], work.sub(f"digest-{i}"))
        chk = oracle.compare_digests(con, rel, "expected")
        checks.append(chk)
        n_ops = len(c["steps"])
        attempted += n_ops
        if not oracle.digest_ok(chk):
            failed += n_ops
        shutil.rmtree(c["table"].root, ignore_errors=True)
    con.close()
    modes = [e.get("mode") for s in cycles[0]["steps"] for e in s["epochs"]]
    record = {
        "relanded_step": relanded,
        "cycles": len(cycles),
        "catchup_s": catchup_s,
        "warm_s": warm_s,
        "catchup_events_per_s": BUILD_EVENTS / catchup_s,
        "build_epochs": build_recs,
        "modes": modes,
        "steps": [
            {k: v for k, v in s.items() if k != "epochs"}
            for c in cycles for s in c["steps"]
        ],
        "checks": checks,
        **res,
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "throughput_per_s": res["tail_events_per_s"],
        "latency_s": res["freshness_mean_s"],
        "read_s": res["read_mean_s"],
        "record": record,
    }
    if trace:
        out["layers"] = _layers(tracer, cycles, record)
        out["spans"] = tracer
    return out


def _layers(tracer: Tracer, cycles: list[dict], record: dict) -> dict:
    tracer.attach_executor_metrics()
    steps = [s for c in cycles for s in c["steps"]]
    epochs = [e for s in steps for e in s["epochs"]]
    epoch_spans = tracer.named("runner.epoch")

    def span_sum(name: str) -> float:
        return sum(s.duration for s in tracer.named(name))

    def incl_sum(name: str, key: str) -> float:
        return sum(inclusive(tracer.spans, s.id)[key] for s in tracer.named(name))

    applied = sum(e.get("keys_applied", 0) for e in epochs)
    read = sum(e.get("events_read", 0) for e in epochs)
    # executor totals of the steps (the apply probes run between steps,
    # outside them)
    cyc = dict.fromkeys(EXECUTOR_KEYS, 0)
    for sp in tracer.named("tail.step"):
        for k, v in inclusive(tracer.spans, sp.id).items():
            cyc[k] += v
    layers = {
        "runner.poll_s": span_sum("runner.poll"),
        "runner.epoch_s": span_sum("runner.epoch"),
        "runner.events_read": read,
        "runner.keys_applied": applied,
        "runner.events_deduped": sum(e.get("events_deduped", 0) for e in epochs),
        "runner.events_redelivered": sum(e.get("events_redelivered", 0) for e in epochs),
        "runner.applied_ratio": applied / read if read else 0.0,
        "apply.winners_s": span_sum("apply.winners"),
        "apply.shuffle_bytes": incl_sum("apply.winners", "shuffle_write_bytes"),
        "table.materialize_s": sum(e.get("materialize_sec") or 0 for e in epochs),
        "table.write_s": sum(e.get("write_sec") or 0 for e in epochs),
        "table.finalize_s": sum(e.get("finalize_sec") or 0 for e in epochs),
        "table.snapshot_s": span_sum("table.snapshot"),
        "table.cow_epochs": sum(e.get("mode") == "cow" for e in epochs),
        "table.delta_epochs": sum(e.get("mode") == "delta" for e in epochs),
        "table.bytes_written_per_event": (
            sum(c["bytes_added"] for c in cycles) / applied if applied else 0.0
        ),
        "table.delta_chain": median(s["delta_chain"] for s in steps),
        "iceberg_read.input_bytes": sum(
            inclusive(tracer.spans, s.id)["input_bytes"] for s in epoch_spans
        ),
        "iceberg_export.land_s": span_sum("iceberg_export.land"),
        "catchup.events_per_s": record["catchup_events_per_s"],
        "trace.overhead_s": tracer.overhead_s,
    }
    for k in EXECUTOR_KEYS:
        layers[f"spark.{k}"] = cyc[k]
    return layers

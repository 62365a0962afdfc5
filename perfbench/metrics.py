"""Metric names, units and directions. ``BENCHMARK.json`` at the repo
root lists exactly these (``perfbench/tests`` checks that it does).

End-to-end metrics are reported by every workload (the workload's own
reading of each is in README.md). Per-layer metrics are reported by every
traced run; a layer the workload bypasses reads 0.
"""

from __future__ import annotations

from bench import HEADLINE
from perfbench.trace import EXECUTOR_KEYS

WORKLOADS = {
    "steady_tail": "Iceberg-landed small batches with a redelivered retry, "
    "delta commits, periodic COW folds and a consumer read per step, after "
    "a cold COW catch-up build",
    "query_headline": "the 13 HEADLINE registry queries with their Python "
    "UDF stages on seeded star-schema data; bypasses the lake",
}

# name -> (unit, better, bound)
END_TO_END = {
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_s": ("s", "lower", 0.25),
    "read_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
}

_EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_run_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes", "output_bytes": "bytes",
}

# name -> (unit, better)
PER_LAYER = {
    "runner.poll_s": ("s", "lower"),
    "runner.epoch_s": ("s", "lower"),
    "runner.events_read": ("count", "higher"),
    "runner.keys_applied": ("count", "higher"),
    "runner.events_deduped": ("count", "higher"),
    "runner.events_redelivered": ("count", "higher"),
    "runner.applied_ratio": ("ratio", "higher"),
    "catchup.events_per_s": ("1/s", "higher"),
    "apply.winners_s": ("s", "lower"),
    "apply.shuffle_bytes": ("bytes", "lower"),
    "table.materialize_s": ("s", "lower"),
    "table.write_s": ("s", "lower"),
    "table.finalize_s": ("s", "lower"),
    "table.snapshot_s": ("s", "lower"),
    "table.cow_epochs": ("count", "lower"),
    "table.delta_epochs": ("count", "higher"),
    "table.bytes_written_per_event": ("bytes/event", "lower"),
    "table.delta_chain": ("count", "lower"),
    "iceberg_read.input_bytes": ("bytes", "lower"),
    "iceberg_export.land_s": ("s", "lower"),
    **{
        f"query.{q}.{m}": u
        for q in HEADLINE
        for m, u in (
            ("s", ("s", "lower")),
            ("plan_s", ("s", "lower")),
            ("python_stages", ("count", "lower")),
        )
    },
    **{
        f"spark.{k}": (_EXEC_UNITS[k], "lower")
        for k in EXECUTOR_KEYS
    },
    # the JVM heap grows lazily towards -Xmx and where G1 settles varies
    # run to run (3.0-8.1 GB measured on one seed set), too wide for an
    # end-to-end bound
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

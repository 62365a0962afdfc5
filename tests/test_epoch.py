"""The one epoch kernel behind every replay driver (arc_spark/cdc/epoch.py):
the same stream through ReplayRunner, StreamingReplay and
MultiTableReplay gives the same epoch.complete schema, the same counters
and the same final state — including a verbatim at-least-once
redelivery, which must land once whatever the source format."""

from __future__ import annotations

import json

import pytest

from arc_spark.cdc.bootstrap import create_table_for_stream
from arc_spark.cdc.multi import MultiTableReplay, bootstrap_catalog_for_stream
from arc_spark.cdc.runner import ReplayRunner
from arc_spark.streaming.replay import StreamingReplay

SCHEMA = "seq long, table string, repo string, path string, op string, content string"
ROWS = [
    (0, "t", "r", "a", "insert", "a0"),
    (1, "t", "r", "b", "insert", "b1"),
    (2, "t", "r", None, "schema-change", None),
    (3, "t", "r", "a", "update", "a3"),
    (3, "t", "r", "a", "update", "a3"),  # verbatim redelivery
    (4, "t", "r", "b", "delete", "b1"),
]

CORE = {
    "event", "epoch", "start_seq", "end_seq", "duration_sec", "status", "mode",
    "events_read", "schema_changes", "events_bad", "keys_applied", "deletes",
    "events_deduped", "events_redelivered",
    "rows_written", "buckets_rewritten", "materialize_sec", "write_sec",
    "finalize_sec",
}


def _runner(spark, events, root):
    table, _ = create_table_for_stream(spark, events, f"{root}/lake", num_buckets=2)
    return ReplayRunner(spark, events, table).run(), table.read(spark), set()


def _streaming(spark, events, root):
    table, _ = create_table_for_stream(spark, events, f"{root}/lake", num_buckets=2)
    recs = StreamingReplay(
        spark, events, table, checkpoint_dir=f"{root}/ckpt"
    ).run_available()
    return recs, table.read(spark), {"batch_id"}


def _multi(spark, events, root):
    catalog = bootstrap_catalog_for_stream(spark, events, f"{root}/cat", num_buckets=2)
    recs = MultiTableReplay(spark, events, catalog, num_buckets=2).run()
    return recs, catalog.read(spark, "t"), {"tables", "catalog_version", "events_ignored"}


@pytest.mark.parametrize("drive", [_runner, _streaming, _multi],
                         ids=["runner", "streaming", "multi"])
def test_drivers_share_record_counters_and_state(spark, tmp_path, drive):
    events = str(tmp_path / "events")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(events)
    recs, state, extras = drive(spark, events, str(tmp_path))

    assert len(recs) == 1
    rec = recs[0]
    assert rec["event"] == "epoch.complete" and rec["status"] == "committed"
    assert set(rec) - extras == CORE
    # the counter identity, with the redelivered copy inside events_deduped
    assert rec["events_read"] == (
        rec["schema_changes"] + rec["keys_applied"] + rec["events_deduped"]
        + rec["events_bad"]
    )
    assert {k: rec[k] for k in (
        "events_read", "schema_changes", "keys_applied", "deletes",
        "events_deduped", "events_redelivered", "events_bad",
    )} == {
        "events_read": 6, "schema_changes": 1, "keys_applied": 2, "deletes": 1,
        "events_deduped": 3, "events_redelivered": 1, "events_bad": 0,
    }
    # one row per key: the redelivered update landed once, b was deleted
    got = [tuple(r) for r in state.select("repo", "path", "seq", "content").collect()]
    assert got == [("r", "a", 3, "a3")]


def test_dedup_transform_default_collapses_redelivered_rows(spark):
    """A DedupTransform with default settings gives one row per key when a
    (keys, seq) row arrives twice — the replay drivers' guarantee, through
    the same entry (apply.dedup_by_key)."""
    from arc_spark.pipeline import run_config

    spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("a", 2, "y"), ("b", 5, "z")],
        "k string, seq long, payload string",
    ).createOrReplaceTempView("dedup_dups")
    cfg = {"stages": [{
        "type": "DedupTransform", "name": "dedup",
        "inputView": "dedup_dups", "outputView": "dedup_out", "keys": ["k"],
    }]}
    out, _ = run_config(spark, json.dumps(cfg))
    assert sorted(tuple(r) for r in out.collect()) == [("a", 2, "y"), ("b", 5, "z")]


@pytest.mark.parametrize("strategy", ["window", "sort_partitions"])
def test_salt_rejected_where_it_would_be_ignored(spark, tmp_path, strategy):
    """Only thin aggregates in salted phases: a salt with any other
    strategy is an error naming the strategy, from the pipeline stage and
    from a driver's constructor — before any epoch commits."""
    from arc_spark.pipeline import run_config

    spark.createDataFrame([("a", 1)], "k string, seq long").createOrReplaceTempView(
        "salt_in"
    )
    cfg = {"stages": [{
        "type": "DedupTransform", "name": "dedup", "inputView": "salt_in",
        "outputView": "salt_out", "keys": ["k"], "strategy": strategy,
        "saltBuckets": 4,
    }]}
    with pytest.raises(ValueError, match=strategy):
        run_config(spark, json.dumps(cfg))

    events = str(tmp_path / "events")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(events)
    table, _ = create_table_for_stream(spark, events, str(tmp_path / "lake"), num_buckets=2)
    before = table.snapshot()
    with pytest.raises(ValueError, match=strategy):
        ReplayRunner(spark, events, table, strategy=strategy, salt_buckets=4)
    after = table.snapshot()
    assert (after.version, after.epoch) == (before.version, before.epoch)


def test_retired_strategies_and_kernels_raise(spark):
    from arc_spark.cdc.apply import last_writer_wins, normalize_and_fingerprint

    df = spark.createDataFrame([("a", 1, "x")], "k string, seq long, content string")
    for strategy in ("max_by", "thin_window"):
        with pytest.raises(ValueError, match="unknown LWW strategy"):
            last_writer_wins(df, ["k"], "seq", strategy=strategy)
    with pytest.raises(ValueError, match="impl must be"):
        normalize_and_fingerprint(df, impl="pandas")


def test_relanded_iceberg_epoch_job_shape(spark, tmp_path):
    """A 400-event Iceberg epoch whose batch was landed twice verbatim
    (a producer retry) costs at most 2 Spark jobs more than a clean
    400-event epoch, and both run exactly one localCheckpoint job: the
    fused thin LWW keeps its one winner aggregate and collapses copies
    among the winners (the dirty keys' semi join and dropDuplicates)
    instead of re-running collapse_redelivered and a second thin LWW
    (13 more jobs and a second checkpoint before it was fused)."""
    from pyspark.sql import functions as F

    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.lake.iceberg_export import write_iceberg

    stream = write_change_stream(spark, str(tmp_path / "ev"), 400, seed=3, num_partitions=4)
    events = spark.read.parquet(stream)
    sc = spark.sparkContext

    def epoch(tag, batches):
        land = str(tmp_path / f"land-{tag}")
        table, _ = create_table_for_stream(
            spark, stream, str(tmp_path / f"lake-{tag}"), num_buckets=2
        )
        for lo, hi in batches:
            write_iceberg(
                spark, events.filter((F.col("seq") >= lo) & (F.col("seq") <= hi)), land
            )
        runner = ReplayRunner(spark, land, table, events_format="iceberg", batch_size=400)
        group = f"test-relanded-shape-{tag}"
        sc.setJobGroup(group, group)
        try:
            (rec,) = runner.run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        names = []
        for j in sorted(st.getJobIdsForGroup(group)):
            stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
            names.append(" ".join(s.name for s in stages if s is not None))
        return rec, names

    clean, clean_jobs = epoch("clean", [(0, 399)])
    relanded, relanded_jobs = epoch("relanded", [(0, 199), (0, 199)])
    assert clean["events_read"] == relanded["events_read"] == 400
    assert clean["events_redelivered"] == 0
    assert relanded["events_redelivered"] == 200 - relanded["schema_changes"] // 2
    assert relanded["mode"] == clean["mode"]
    assert len(relanded_jobs) <= len(clean_jobs) + 2, (clean_jobs, relanded_jobs)
    for jobs in (clean_jobs, relanded_jobs):
        assert sum("localCheckpoint" in n for n in jobs) == 1, jobs

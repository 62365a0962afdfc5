"""Structured-Streaming surface: file-tail CDC replay (foreachBatch +
fenced merge), resume from checkpoint, rate source, watermark windowed agg
(SURVEY.md §2.7)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from arc_spark.cdc.bootstrap import create_table_for_stream
from arc_spark.cdc.generator import write_change_stream
from arc_spark.cdc.reference import reference_replay
from arc_spark.streaming.replay import StreamingReplay

N = 3000


@pytest.fixture(scope="module")
def stream_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sstream")
    # many files so maxFilesPerTrigger yields multiple micro-batches
    return write_change_stream(spark, str(d / "events"), N, seed=3, num_partitions=12)


@pytest.fixture(scope="module")
def expected(spark, stream_path):
    events = [r.asDict() for r in spark.read.parquet(stream_path).collect()]
    return {k: v["sha256"] for k, v in reference_replay(events).items()}


def test_streaming_replay_matches_reference(spark, stream_path, expected, tmp_path):
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake"))
    replay = StreamingReplay(
        spark, stream_path, table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=4,
    )
    batches = replay.run_available()
    assert len(batches) >= 2  # multiple micro-batches
    committed = [b for b in batches if b["status"] == "committed"]
    assert sum(b["events_read"] for b in committed) == N
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.read(spark).collect()
    }
    assert got == expected


def test_streaming_restart_is_exactly_once(spark, stream_path, expected, tmp_path):
    """Run once, then start again on the same checkpoint — no re-apply."""
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake2"))
    ckpt = str(tmp_path / "ckpt2")
    StreamingReplay(spark, stream_path, table, checkpoint_dir=ckpt).run_available()
    v1 = table.current_version()
    # restart on the same checkpoint: availableNow finds nothing new
    replay2 = StreamingReplay(spark, stream_path, table, checkpoint_dir=ckpt)
    replay2.run_available()
    assert table.current_version() == v1
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.read(spark).collect()
    }
    assert got == expected


def test_streaming_replay_keys_come_from_the_table(spark, tmp_path):
    """A table keyed on one ``id`` column: LWW runs over the table's keys
    (not a fixed repo/path pair) and the result matches the LWW oracle."""
    rows = [
        (seq % 7, seq, "delete" if seq % 5 == 4 else "update", f"v{seq}")
        for seq in range(40)
    ]
    events = spark.createDataFrame(rows, "id long, seq long, op string, content string")
    stream = str(tmp_path / "id_events")
    events.repartition(3).write.parquet(stream)
    table, _ = create_table_for_stream(
        spark, stream, str(tmp_path / "id_lake"), key_cols=["id"], num_buckets=2
    )
    StreamingReplay(
        spark, stream, table, checkpoint_dir=str(tmp_path / "id_ckpt")
    ).run_available()
    last = {}
    for id_, seq, op, content in rows:
        last[id_] = (seq, op, content)
    want = {(k, s, c) for k, (s, op, c) in last.items() if op != "delete"}
    got = {(r["id"], r["seq"], r["content"]) for r in table.read(spark).collect()}
    assert got == want


def test_duplicate_batch_id_is_fenced(spark, stream_path, tmp_path):
    """Simulate Spark replaying a micro-batch after a crash-before-
    checkpoint: same batch_id re-applied → merge is a fenced no-op."""
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake3"))
    replay = StreamingReplay(
        spark, stream_path, table, checkpoint_dir=str(tmp_path / "ckpt3")
    )
    batch = spark.read.parquet(stream_path).filter(F.col("seq") < 500)
    replay._apply_batch(batch, 0)
    v1 = table.current_version()
    replay._apply_batch(batch, 0)  # replayed micro-batch
    assert table.current_version() == v1
    assert replay.batches[-1]["status"] == "skipped"


def test_rate_source_and_console_smoke(spark, tmp_path):
    from arc_spark.pipeline import run_config

    cfg = {
        "stages": [
            {"type": "RateExtract", "name": "rate", "outputView": "rates",
             "rowsPerSecond": 50, "numPartitions": 2},
            {"type": "SQLTransform", "name": "double", "outputView": "doubled",
             "sql": "SELECT timestamp, value * 2 AS v2 FROM rates"},
            {"type": "ParquetLoad", "name": "sink", "inputView": "doubled",
             "outputURI": str(tmp_path / "rateout"),
             "checkpointLocation": str(tmp_path / "rateckpt")},
        ]
    }
    df, ctx = run_config(spark, cfg, streaming=True)
    queries = ctx.user_data["streaming_queries"]
    assert len(queries) == 1
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            n = spark.read.parquet(str(tmp_path / "rateout")).count()
            if n > 0:
                break
        except Exception:
            pass
        time.sleep(1)
    for q in queries:
        q.stop()
    assert spark.read.parquet(str(tmp_path / "rateout")).count() > 0


def test_watermark_windowed_aggregation(spark, stream_path, tmp_path):
    """Tumbling-window agg with watermark over the event-time column —
    the reference expresses this in SQLTransform (SURVEY.md §2.7)."""
    schema = spark.read.parquet(stream_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(stream_path)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute"), F.col("op"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("win_counts").agg(F.sum("n")).first()[0]
    assert got == N


def test_streaming_quarantine_diverts_bad_events(spark, tmp_path):
    """on_bad='quarantine' parity with the batch runner: malformed events
    (unknown op / NULL key on a row op) land under quarantine_path per
    micro-batch, good events apply, and the counter invariant holds with
    events_bad excluded from the applied set."""
    from pyspark.sql import functions as F

    good = [("r", f"p{i}", f"c{i}", i, "update", f"v{i}") for i in range(10)]
    bad = [("r", None, "cx", 100, "update", "vx"), ("r", "px", "cy", 101, "bogus-op", "vy")]
    df = spark.createDataFrame(
        good + bad,
        "repo string, path string, commit string, seq long, op string, content string",
    )
    stream = str(tmp_path / "q_events")
    df.repartition(2).write.parquet(stream)
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "q_lake"))
    qdir = str(tmp_path / "quarantine")
    replay = StreamingReplay(
        spark, stream, table,
        checkpoint_dir=str(tmp_path / "q_ckpt"),
        on_bad="quarantine", quarantine_path=qdir,
    )
    batches = replay.run_available()
    committed = [b for b in batches if b["status"] == "committed"]
    assert sum(b.get("events_bad", 0) for b in committed) == 2
    qrows = spark.read.parquet(qdir)
    assert qrows.count() == 2
    assert {r["seq"] for r in qrows.collect()} == {100, 101}
    applied = {r["path"] for r in table.read(spark).collect()}
    assert applied == {f"p{i}" for i in range(10)}  # bad rows never applied

    with pytest.raises(ValueError, match="quarantine_path"):
        StreamingReplay(
            spark, stream, table, checkpoint_dir=str(tmp_path / "x"),
            on_bad="quarantine",
        )


def test_streaming_all_bad_batch_still_reports_counters(spark, tmp_path):
    """A micro-batch whose every row is malformed has nothing to merge,
    but its events must not vanish: the batch record carries the read/bad
    counters (status no_mergeable_events) and the rows land in
    quarantine."""
    bad_only = spark.createDataFrame(
        [("r", None, "c1", 7, "update", "v"), ("r", "p", "c2", 8, "bogus", "v")],
        "repo string, path string, commit string, seq long, op string, content string",
    )
    stream = str(tmp_path / "ab_events")
    bad_only.coalesce(1).write.parquet(stream)
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "ab_lake"))
    qdir = str(tmp_path / "ab_quar")
    replay = StreamingReplay(
        spark, stream, table, checkpoint_dir=str(tmp_path / "ab_ckpt"),
        on_bad="quarantine", quarantine_path=qdir,
    )
    batches = replay.run_available()
    assert len(batches) == 1
    b = batches[0]
    assert b["status"] == "no_mergeable_events"
    assert b["events_read"] == 2 and b["events_bad"] == 2
    assert spark.read.parquet(qdir).count() == 2
    assert table.read(spark).count() == 0


def test_streaming_metrics_persist_and_survive_restart(spark, stream_path, tmp_path):
    """metrics_path parity with the batch runner: per-micro-batch counter
    records land as JSON lines on an arc_spark.fs scheme after EVERY
    batch (crash-safe up to the last committed record), and a restarted
    run on the same checkpoint EXTENDS the log instead of clobbering the
    first run's records."""
    import json

    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lakem"))
    ckpt = str(tmp_path / "ckptm")
    mpath = str(tmp_path / "metrics.jsonl")
    r1 = StreamingReplay(
        spark, stream_path, table, checkpoint_dir=ckpt,
        max_files_per_trigger=4, metrics_path=mpath,
    )
    batches = r1.run_available()
    lines = [json.loads(x) for x in open(mpath).read().splitlines()]
    assert lines == batches and len(lines) >= 2
    committed = [b for b in lines if b["status"] == "committed"]
    assert sum(b["events_read"] for b in committed) == N

    # restart on the same checkpoint: nothing new to process, but if a
    # record IS produced later, it must append after the first run's
    r2 = StreamingReplay(
        spark, stream_path, table, checkpoint_dir=ckpt, metrics_path=mpath,
    )
    r2.run_available()
    assert [json.loads(x) for x in open(mpath).read().splitlines()] == lines
    # simulate a post-restart record: the prior log is preserved
    r2._record({"batch_id": 99, "status": "committed", "events_read": 0})
    lines2 = [json.loads(x) for x in open(mpath).read().splitlines()]
    assert lines2[: len(lines)] == lines
    assert lines2[-1]["batch_id"] == 99


def test_cdc_stream_execute_stage(spark, stream_path, expected, tmp_path):
    """Declarative streaming replay: CDCStreamExecute bootstraps the
    table, tails the event directory with availableNow, merges per
    micro-batch, and surfaces the per-batch counters as pipeline events.
    A second run on the same checkpoint finds nothing new (exactly-once);
    final state matches the single-process reference replay."""
    from arc_spark.pipeline import run_config

    cfg = {"stages": [{
        "type": "CDCStreamExecute", "name": "stream",
        "eventsURI": stream_path,
        "tableURI": str(tmp_path / "slake"),
        "checkpointURI": str(tmp_path / "sckpt"),
        "maxFilesPerTrigger": 4,
        "metricsURI": str(tmp_path / "smetrics.jsonl"),
        "outputView": "final",
    }]}
    df, ctx = run_config(spark, cfg)
    batch_events = [e for e in ctx.events if e.get("stage") == "stream"]
    committed = [e for e in batch_events if e.get("status") == "committed"]
    assert len(committed) >= 2
    assert sum(e["events_read"] for e in committed) == N
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in df.collect()}
    assert got == expected
    import os

    assert os.path.exists(str(tmp_path / "smetrics.jsonl"))

    # second run, same checkpoint: no new files -> no new commits
    from arc_spark.lake.table import LakeTable

    v1 = LakeTable(str(tmp_path / "slake")).current_version()
    df2, ctx2 = run_config(spark, cfg)
    assert LakeTable(str(tmp_path / "slake")).current_version() == v1
    assert not [e for e in ctx2.events
                if e.get("stage") == "stream" and e.get("status") == "committed"]


def test_cdc_stream_execute_iceberg_mirror(spark, stream_path, tmp_path):
    """icebergMirror on the STREAMING twin: after availableNow drains,
    one Iceberg snapshot is published for the drained state and the
    spec read equals the lake read (MOR debt included)."""
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import run_config

    cfg = {"stages": [{
        "type": "CDCStreamExecute", "name": "stream",
        "eventsURI": stream_path,
        "tableURI": str(tmp_path / "mlake"),
        "checkpointURI": str(tmp_path / "mckpt"),
        "maxFilesPerTrigger": 4,
        "mergeMode": "delta",
        "icebergMirror": True,
    }]}
    _, ctx = run_config(spark, cfg)
    mirror = [e for e in ctx.events if e.get("event") == "iceberg.mirror"]
    assert len(mirror) == 1 and mirror[0]["data_files"] > 0
    got = read_iceberg(spark, str(tmp_path / "mlake"))
    want = LakeTable(str(tmp_path / "mlake")).read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

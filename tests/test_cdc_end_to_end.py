"""End-to-end CDC replay vs the brute-force reference oracle.

Correctness invariant (BASELINE.json input_hint): after replaying the full
change stream, per-(repo,path) sha256(content) equality against the
reference replay.
"""

from __future__ import annotations

import pytest

from arc_spark.cdc.bootstrap import create_table_for_stream
from arc_spark.cdc.generator import change_stream, write_change_stream
from arc_spark.cdc.reference import reference_replay
from arc_spark.cdc.runner import ReplayRunner

N_EVENTS = 4000


@pytest.fixture(scope="module")
def stream_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    return write_change_stream(spark, str(d / "events"), N_EVENTS, seed=42, num_partitions=8)


@pytest.fixture(scope="module")
def expected_state(spark, stream_path):
    events = [r.asDict() for r in spark.read.parquet(stream_path).collect()]
    return reference_replay(events)


def _final_state(spark, table):
    rows = table.read(spark).collect()
    return {(r["repo"], r["path"]): r for r in rows}


@pytest.mark.parametrize("strategy", ["thin", "window", "sort_partitions"])
def test_replay_matches_reference(spark, stream_path, expected_state, tmp_path, strategy):
    # thin runs salted: the two-phase hot-key aggregation behind the
    # redelivery collapse (the unsalted fused path is every other test's)
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / f"lake_{strategy}"))
    runner = ReplayRunner(
        spark, stream_path, table, batch_size=1000, strategy=strategy,
        salt_buckets=4 if strategy == "thin" else None,
    )
    metrics = runner.run()
    assert len(metrics) == 4  # 4000 events / 1000 batch

    got = _final_state(spark, table)
    assert set(got) == set(expected_state)
    for key, exp in expected_state.items():
        row = got[key]
        assert row["content_sha256"] == exp["sha256"], key
        assert row["seq"] == exp["seq"], key
        assert row["commit"] == exp["commit"], key

    # lineage counters are consistent
    total_read = sum(m["events_read"] for m in metrics)
    assert total_read == N_EVENTS
    for m in metrics:
        assert m["events_read"] == m["schema_changes"] + m["keys_applied"] + m["events_deduped"]


def test_single_epoch_equivalent_to_many(spark, stream_path, expected_state, tmp_path):
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake_one"))
    ReplayRunner(spark, stream_path, table, batch_size=10**9).run()
    got = _final_state(spark, table)
    assert {k: v["content_sha256"] for k, v in got.items()} == {
        k: v["sha256"] for k, v in expected_state.items()
    }


def test_compact_preserves_state_and_vacuums_tombstones(spark, stream_path, expected_state, tmp_path):
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake_c"))
    ReplayRunner(spark, stream_path, table, batch_size=1000).run()
    pre_files = len(table.snapshot().file_list())
    assert table.read(spark, include_tombstones=True).filter("_tombstone").count() > 0

    res = table.compact(spark, vacuum_tombstones_below_seq=N_EVENTS + 1)
    assert res["status"] == "compacted"
    assert len(table.snapshot().file_list()) <= pre_files
    assert table.read(spark, include_tombstones=True).filter("_tombstone").count() == 0

    got = _final_state(spark, table)
    assert {k: v["content_sha256"] for k, v in got.items()} == {
        k: v["sha256"] for k, v in expected_state.items()
    }


def test_expire_snapshots_keeps_current_state(spark, stream_path, expected_state, tmp_path):
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake_x"))
    ReplayRunner(spark, stream_path, table, batch_size=1000).run()
    n_versions = table.current_version() + 1
    res = table.expire_snapshots(keep_last=1)
    assert res["manifests_removed"] == n_versions - 1
    assert res["data_files_removed"] > 0  # superseded epoch files gone
    got = _final_state(spark, table)
    assert {k: v["content_sha256"] for k, v in got.items()} == {
        k: v["sha256"] for k, v in expected_state.items()
    }
    # table still mergeable after expiry
    snap = table.snapshot()
    assert snap.end_seq == N_EVENTS - 1
    # no empty directories linger under data/ — leaf _bucket=* dirs AND
    # their epoch=*/compact-* ancestors are pruned
    import os as _os

    data_root = str(tmp_path / "lake_x" / "data")
    for d, subdirs, files in _os.walk(data_root):
        assert subdirs or files or d == data_root, f"empty dir left behind: {d}"


def test_generator_deterministic(spark):
    a = change_stream(spark, 500, seed=7, num_partitions=4).collect()
    b = change_stream(spark, 500, seed=7, num_partitions=2).collect()
    sa = sorted(a, key=lambda r: r["seq"])
    sb = sorted(b, key=lambda r: r["seq"])
    assert sa == sb
    ops = {r["op"] for r in sa}
    assert ops <= {"insert", "update", "delete", "schema-change"}
    # skew exists: top repo has many more events than median
    from collections import Counter

    c = Counter(r["repo"] for r in sa)
    counts = sorted(c.values(), reverse=True)
    assert counts[0] >= 5 * counts[len(counts) // 2]


def test_cdc_replay_execute_stage(spark, tmp_path):
    """The whole replay as one declarative stage: config-driven tail ->
    LWW -> fenced MERGE, per-epoch lineage in ctx.events, resumable
    (rerunning the same config is a fenced no-op)."""
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.pipeline import run_config

    stream = write_change_stream(
        spark, str(tmp_path / "ev"), 3000, seed=7, num_partitions=8
    )
    cfg = {"stages": [
        {"type": "CDCReplayExecute", "name": "replay", "eventsURI": stream,
         "tableURI": str(tmp_path / "lake"), "batchSize": 1000,
         "outputView": "lake_state"},
    ]}
    df, ctx = run_config(spark, cfg)
    epochs = [e for e in ctx.events if e.get("event") == "epoch.complete"]
    assert len(epochs) == 3
    for e in epochs:
        assert e["events_read"] == e["schema_changes"] + e["keys_applied"] + e["events_deduped"]
    n = df.count()
    assert n > 0
    # resumable / exactly-once: a rerun applies nothing new
    df2, ctx2 = run_config(spark, cfg)
    assert not [e for e in ctx2.events if e.get("event") == "epoch.complete"]
    assert df2.count() == n


def test_cdc_replay_execute_with_commit_lock(spark, tmp_path):
    """commitLockURI routes every epoch's manifest commit through the
    ConditionalPutLocker — same final state, lock released after each
    commit (the lock store is empty when the stage returns)."""
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.fs import get_fs
    from arc_spark.pipeline import run_config

    stream = write_change_stream(
        spark, str(tmp_path / "lk_ev"), 2000, seed=3, num_partitions=4
    )
    lock_root = "memory://locks/replay_test"
    cfg = {"stages": [
        {"type": "CDCReplayExecute", "name": "replay", "eventsURI": stream,
         "tableURI": str(tmp_path / "lk_lake"), "batchSize": 1000,
         "commitLockURI": lock_root, "commitLockLeaseSeconds": 120,
         "outputView": "lk_state"},
    ]}
    # the lease config must reach the constructed locker
    import arc_spark.fs as _afs

    orig_locker = _afs.ConditionalPutLocker
    seen: dict = {}

    class _Spy(orig_locker):
        def __init__(self, *a, **kw):
            seen.update(kw)
            super().__init__(*a, **kw)

    _afs.ConditionalPutLocker = _Spy
    try:
        df, ctx = run_config(spark, cfg)
    finally:
        _afs.ConditionalPutLocker = orig_locker
    assert seen.get("lease_seconds") == 120.0
    assert df.count() > 0
    epochs = [e for e in ctx.events if e.get("event") == "epoch.complete"]
    assert len(epochs) == 2 and all(e["status"] == "committed" for e in epochs)
    assert get_fs(lock_root).listdir(lock_root) == []  # all locks released


def test_lake_changes_extract_cursor_protocol(spark, tmp_path):
    """Incremental consumption: first run emits full history and stages
    the cursor; LakeCursorCommitExecute persists it; the next run emits
    only the delta; a run WITHOUT the commit stage replays the window
    (at-least-once)."""
    import json as _json

    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import run_config

    t = LakeTable(str(tmp_path / "cons_lake"))
    df0 = spark.createDataFrame(
        [(1, "a", 0, "upsert"), (2, "b", 1, "upsert")],
        "k: long, v: string, seq: long, op: string",
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=4)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=1)
    cursor = str(tmp_path / "cursor.json")
    cfg = {"stages": [
        {"type": "LakeChangesExtract", "name": "c", "tableURI": t.root,
         "cursorURI": cursor, "outputView": "changes"},
        {"type": "LakeCursorCommitExecute", "name": "commit"},
    ]}
    df, _ = run_config(spark, cfg)
    got = {(r["k"], r["op"]) for r in df.collect()}
    assert got == {(1, "upsert"), (2, "upsert")}
    assert _json.loads(open(cursor).read())["seq"] == 1

    # advance the table; next run sees only the delta
    delta = spark.createDataFrame(
        [(2, None, 2, "delete"), (3, "c", 3, "upsert")],
        "k: long, v: string, seq: long, op: string",
    )
    t.merge(spark, delta, epoch=1, start_seq=2, end_seq=3, mode="delta")
    # no-commit config: window replays until committed
    cfg_nc = {"stages": [cfg["stages"][0]]}
    df1, _ = run_config(spark, cfg_nc)
    w1 = {(r["k"], r["op"]) for r in df1.collect()}
    assert w1 == {(2, "delete"), (3, "upsert")}
    df2, _ = run_config(spark, cfg_nc)
    assert {(r["k"], r["op"]) for r in df2.collect()} == w1  # replayed
    df3, _ = run_config(spark, cfg)  # with commit
    assert {(r["k"], r["op"]) for r in df3.collect()} == w1
    assert _json.loads(open(cursor).read())["seq"] == 3
    # caught up: empty window
    df4, _ = run_config(spark, cfg)
    assert df4.count() == 0


def test_bucket_lineage_counters(spark, stream_path, tmp_path):
    """lineage="bucket" emits per-partition counters whose sums equal the
    global observe counters, whose bucket ids match the table's bucket
    function, and which agree with independently computed per-bucket
    ground truth."""
    from pyspark.sql import functions as F

    table, _ = create_table_for_stream(
        spark, stream_path, str(tmp_path / "lake_lin"), num_buckets=8
    )
    runner = ReplayRunner(
        spark, stream_path, table, batch_size=1000, lineage="bucket"
    )
    metrics = runner.run()
    assert len(metrics) == 4

    snap = table.snapshot()
    events = spark.read.parquet(stream_path)
    for m in metrics:
        lin = m["bucket_lineage"]
        # bucket ids are valid
        assert all(0 <= int(b) < snap.num_buckets for b in lin)
        # per-bucket sums == the global counters from df.observe
        assert sum(v["events_read"] for v in lin.values()) == (
            m["events_read"] - m["schema_changes"]
        )
        assert sum(v["keys_applied"] for v in lin.values()) == m["keys_applied"]
        assert sum(v["events_deduped"] for v in lin.values()) == m["events_deduped"]
        for v in lin.values():
            assert v["events_deduped"] == v["events_read"] - v["keys_applied"]
            assert 0 <= v["deletes"] <= v["keys_applied"]

    # independent ground truth for epoch 1's reads: hash the keys ourselves
    m1 = metrics[0]
    epoch1 = events.filter(
        (F.col("seq") >= m1["start_seq"])
        & (F.col("seq") <= m1["end_seq"])
        & (F.col("op") != "schema-change")
    )
    truth = {
        str(r["_b"]): r["n"]
        for r in epoch1.groupBy(
            F.pmod(F.xxhash64("repo", "path"), F.lit(8)).alias("_b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {b: v["events_read"] for b, v in m1["bucket_lineage"].items() if v["events_read"]}
    assert got == {b: n for b, n in truth.items() if n}

    # counters also landed in the committed manifest (last epoch's)
    assert "bucket_lineage" in snap.counters


def test_jvm_fingerprint_matches_arrow(spark, stream_path, expected_state, tmp_path):
    """The codegen regexp_replace+sha2 twin produces byte-identical
    normalization + fingerprints to the Arrow kernel (Java vs Python regex
    semantics pinned on adversarial inputs AND on the full stream)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from arc_spark.cdc.apply import normalize_and_fingerprint

    nasty = [
        "plain",
        "trail space \n",
        "a \t\nb\t \n",
        "crlf\r\nline\r\n",
        "ends with tabs\t\t",
        "multi\n\n\n",
        " \t\r\n",
        "",
        None,
        "unicode café  \n",  # NBSP is \s in neither Java nor Python re
        "inner  spaces kept\nnext",
    ]
    df = spark.createDataFrame(pd.DataFrame({"content": pd.Series(nasty, dtype="object")}))
    a = normalize_and_fingerprint(df, impl="arrow").collect()
    j = normalize_and_fingerprint(df, impl="jvm").collect()
    key = lambda rows: sorted(
        (r["content"] or "", r["content_sha256"] or "") for r in rows
    )
    assert key(a) == key(j)

    # full-stream replay with the jvm impl matches the Python reference
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake_jvm"))
    ReplayRunner(spark, stream_path, table, batch_size=10**9, fingerprint="jvm").run()
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.read(spark).collect()
    }
    assert got == {k: v["sha256"] for k, v in expected_state.items()}


def _stream_with_bad_events(spark, tmp_path):
    """A clean 300-event stream plus two malformed tail events: an unknown
    op and a row op with a NULL path."""
    from pyspark.sql import functions as F

    clean = write_change_stream(
        spark, str(tmp_path / "clean_ev"), 300, seed=13, num_partitions=4
    )
    base = spark.read.parquet(clean)
    donor = base.filter(F.col("op") == "update").limit(1)
    bad1 = donor.withColumn("seq", F.lit(300).cast("long")).withColumn(
        "op", F.lit("chaos")
    )
    bad2 = donor.withColumn("seq", F.lit(301).cast("long")).withColumn(
        "path", F.lit(None).cast("string")
    )
    mixed = str(tmp_path / "mixed_ev")
    base.union(bad1).union(bad2).repartition(4).write.parquet(mixed)
    return clean, mixed


def test_bad_events_error_mode_fails_before_commit(spark, tmp_path):
    _, mixed = _stream_with_bad_events(spark, tmp_path)
    table, _ = create_table_for_stream(spark, mixed, str(tmp_path / "lake_err"))
    runner = ReplayRunner(spark, mixed, table, batch_size=10**9)  # on_bad defaults to error
    with pytest.raises(Exception, match="malformed change event"):
        runner.run()
    # nothing committed: the epoch failed before the manifest advanced
    assert table.snapshot().end_seq == -1


def test_bad_events_quarantine_and_ignore(spark, tmp_path):
    clean, mixed = _stream_with_bad_events(spark, tmp_path)

    # ground truth: replay of the clean stream only
    ref, _ = create_table_for_stream(spark, clean, str(tmp_path / "lake_ref"))
    ReplayRunner(spark, clean, ref, batch_size=10**9).run()
    want = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in ref.read(spark).collect()
    }

    qdir = str(tmp_path / "quarantine")
    tq, _ = create_table_for_stream(spark, mixed, str(tmp_path / "lake_q"))
    mq = ReplayRunner(
        spark, mixed, tq, batch_size=10**9, on_bad="quarantine", quarantine_path=qdir
    ).run()
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in tq.read(spark).collect()
    }
    assert got == want
    assert mq[0]["events_bad"] == 2
    assert mq[0]["events_read"] == (
        mq[0]["schema_changes"] + mq[0]["keys_applied"]
        + mq[0]["events_deduped"] + mq[0]["events_bad"]
    )
    qrows = spark.read.parquet(f"{qdir}/epoch=0").collect()
    assert {r["seq"] for r in qrows} == {300, 301}

    ti, _ = create_table_for_stream(spark, mixed, str(tmp_path / "lake_i"))
    mi = ReplayRunner(spark, mixed, ti, batch_size=10**9, on_bad="ignore").run()
    got_i = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in ti.read(spark).collect()
    }
    assert got_i == want
    assert mi[0]["events_bad"] == 2


def test_metrics_path_any_scheme(spark, stream_path, tmp_path):
    """metrics_path goes through arc_spark.fs — an in-memory object-store
    URI works, proving cloud parity for the metrics sink."""
    import json as _json

    from arc_spark.fs import get_fs

    uri = "memory://metrics/replay_run.jsonl"
    table, _ = create_table_for_stream(spark, stream_path, str(tmp_path / "lake_m"))
    ReplayRunner(spark, stream_path, table, batch_size=2000, metrics_path=uri).run()
    lines = get_fs(uri).read_bytes(uri).decode().splitlines()
    ms = [_json.loads(l) for l in lines]
    assert len(ms) == 2 and all(m["event"] == "epoch.complete" for m in ms)
    assert sum(m["events_read"] for m in ms) == N_EVENTS


def test_stream_gains_column_midway(spark, tmp_path):
    """Schema evolution THROUGH THE BINLOG ITSELF: the stream's early
    parquet files lack `lang`; later files (after a schema-change event)
    carry it. The runner must see the merged stream schema (mergeSchema)
    and the table must evolve additively — early keys read back with
    lang NULL, later winners carry their lang."""
    from pyspark.sql import functions as F

    ev_dir = tmp_path / "gain_ev"
    early = spark.createDataFrame(
        [(0, "update", "r", "a", "c0", "v0"), (1, "update", "r", "b", "c1", "v1")],
        "seq long, op string, repo string, path string, commit string, content string",
    )
    early.repartition(1).write.mode("append").parquet(str(ev_dir))
    late = spark.createDataFrame(
        [
            (2, "schema-change", "r", None, "c2", None, None),
            (3, "update", "r", "b", "c3", "v1b", "py"),
        ],
        "seq long, op string, repo string, path string, commit string, content string, lang string",
    )
    late.repartition(1).write.mode("append").parquet(str(ev_dir))

    table, _ = create_table_for_stream(spark, str(ev_dir), str(tmp_path / "gain_lake"))
    ReplayRunner(spark, str(ev_dir), table, batch_size=10**9).run()
    snap = table.snapshot()
    assert "lang" in {f.name for f in snap.schema.fields}
    got = {r["path"]: (r["content"], r["lang"]) for r in table.read(spark).collect()}
    assert got == {"a": ("v0", None), "b": ("v1b", "py")}


def test_fingerprint_kernel_empty_and_allnull_batches(spark):
    """The mapInArrow kernel handles empty DataFrames and all-null content
    batches (None Arrow buffers)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from arc_spark.cdc.apply import normalize_and_fingerprint

    schema = StructType([StructField("content", StringType(), True)])
    empty = spark.createDataFrame([], schema)
    assert normalize_and_fingerprint(empty).collect() == []

    allnull = spark.createDataFrame([(None,), (None,)], schema)
    rows = normalize_and_fingerprint(allnull).collect()
    assert [r["content_sha256"] for r in rows] == [None, None]


@pytest.mark.parametrize("strategy", ["thin", "window", "sort_partitions"])
def test_lww_null_keys_collapse_identically(spark, strategy):
    """NULL keys form ONE group in every strategy (the window SQL
    semantics). Regression: sort_partitions' boundary mask used a bare
    `!=`, and Arrow hands nullable ints to pandas as float NaN — NaN !=
    NaN is True, so a null-keyed run never collapsed and every null-key
    row survived. Covers both a nullable-int and a string key column."""
    from arc_spark.cdc.apply import last_writer_wins

    int_rows = [(None, 1, "a"), (None, 2, "b"), (None, 3, "c"), (7, 4, "d"), (7, 5, "e")]
    df = spark.createDataFrame(int_rows, "k int, seq long, payload string")
    got = sorted(
        [(r.k, r.seq, r.payload) for r in
         last_writer_wins(df, ["k"], "seq", strategy=strategy).collect()],
        key=lambda t: (t[0] is None, t[1]),
    )
    assert got == [(7, 5, "e"), (None, 3, "c")]

    str_rows = [("r1", None, 1, "a"), ("r1", None, 2, "b"), ("r1", "p", 3, "c")]
    df2 = spark.createDataFrame(str_rows, "repo string, path string, seq long, payload string")
    got2 = sorted(
        [(r.repo, r.path, r.seq) for r in
         last_writer_wins(df2, ["repo", "path"], "seq", strategy=strategy).collect()],
        key=lambda t: (t[1] is None, t[2]),
    )
    assert got2 == [("r1", "p", 3), ("r1", None, 2)]


def test_lake_changes_extract_pins_one_snapshot(spark, tmp_path, monkeypatch):
    """A merge committing CONCURRENTLY with the extract must not advance
    the cursor past changes the emitted frame doesn't contain.
    Regression: the stage read the manifest twice (changes_since, then a
    separate snapshot().end_seq) — a merge landing in between was skipped
    forever. Now one pinned snapshot feeds both, so the racing merge's
    events surface in the NEXT window."""
    import json as _json

    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import run_config

    t = LakeTable(str(tmp_path / "race_lake"))
    df0 = spark.createDataFrame(
        [(1, "a", 0, "upsert")], "k: long, v: string, seq: long, op: string"
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=4)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=0)

    racer = spark.createDataFrame(
        [(2, "b", 1, "upsert")], "k: long, v: string, seq: long, op: string"
    )
    orig = LakeTable.changes_since
    state = {"raced": False}

    def racing_changes_since(self, spark_, since_seq, **kw):
        out = orig(self, spark_, since_seq, **kw)
        if not state["raced"]:
            state["raced"] = True
            # concurrent writer lands AFTER the extract's snapshot read
            LakeTable(t.root).merge(
                spark_, racer, epoch=1, start_seq=1, end_seq=1
            )
        return out

    monkeypatch.setattr(LakeTable, "changes_since", racing_changes_since)
    cursor = str(tmp_path / "race_cursor.json")
    cfg = {"stages": [
        {"type": "LakeChangesExtract", "name": "c", "tableURI": t.root,
         "cursorURI": cursor, "outputView": "changes"},
        {"type": "LakeCursorCommitExecute", "name": "commit"},
    ]}
    df, _ = run_config(spark, cfg)
    assert {r["k"] for r in df.collect()} == {1}  # pre-race window only
    # cursor must NOT cover the racer's seq
    assert _json.loads(open(cursor).read())["seq"] == 0
    # the racer's event is delivered in the next window, not dropped
    df2, _ = run_config(spark, cfg)
    assert {(r["k"], r["op"]) for r in df2.collect()} == {(2, "upsert")}
    assert _json.loads(open(cursor).read())["seq"] == 1


def test_lake_changes_extract_detects_rollback(spark, tmp_path):
    """A rollback republishes seqs the consumer already advanced past —
    with a plain seq cursor the corrected events would be skipped
    forever. The versioned cursor + undone_since walk detect it: the
    default errors loudly; onRollback: reset re-delivers from the
    restored position (at-least-once)."""
    import json as _json

    import pytest as _pytest

    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import run_config

    t = LakeTable(str(tmp_path / "rb_cons_lake"))
    df0 = spark.createDataFrame(
        [(1, "a", 0, "upsert")], "k: long, v: string, seq: long, op: string"
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=4)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=0)
    v_good = t.current_version()
    bad = spark.createDataFrame(
        [(2, "BAD", 1, "upsert")], "k: long, v: string, seq: long, op: string"
    )
    t.merge(spark, bad, epoch=1, start_seq=1, end_seq=1)

    cursor = str(tmp_path / "rb_cursor.json")
    cfg = {"stages": [
        {"type": "LakeChangesExtract", "name": "c", "tableURI": t.root,
         "cursorURI": cursor, "outputView": "changes"},
        {"type": "LakeCursorCommitExecute", "name": "commit"},
    ]}
    run_config(spark, cfg)  # consumer saw the bad event, cursor -> seq 1
    cur = _json.loads(open(cursor).read())
    assert cur == {"seq": 1, "version": t.current_version()}

    # operator undoes the bad batch and re-applies a corrected seq 1
    t.rollback(v_good)
    fixed = spark.createDataFrame(
        [(2, "good", 1, "upsert")], "k: long, v: string, seq: long, op: string"
    )
    t.merge(spark, fixed, epoch=1, start_seq=1, end_seq=1)

    # default: loud failure (continuing would skip the correction forever)
    with _pytest.raises(ValueError, match="rolled back"):
        run_config(spark, cfg)

    # onRollback: reset → the corrected event is re-delivered
    cfg["stages"][0]["onRollback"] = "reset"
    df, _ = run_config(spark, cfg)
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert (2, "good") in got
    assert _json.loads(open(cursor).read())["seq"] == 1

    # and the now-clean cursor passes the walk: next window is empty
    df2, _ = run_config(spark, cfg)
    assert df2.count() == 0


def test_sharded_tail_replay(spark, stream_path, expected_state, tmp_path):
    """events_path as a LIST of directories (one per Debezium-style topic
    partition): epochs window on the GLOBAL seq, so shard layout is
    irrelevant to the final state — equal to the single-dir replay."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(stream_path)
    shards = []
    for i in range(3):
        p = str(tmp_path / f"shard{i}")
        # round-robin by seq — each shard holds an interleaved slice,
        # like a key-hash-partitioned topic would
        ev.filter(F.pmod(F.col("seq"), F.lit(3)) == i).write.parquet(p)
        shards.append(p)
    table, _ = create_table_for_stream(spark, shards, str(tmp_path / "lake_sharded"))
    ReplayRunner(spark, shards, table, batch_size=1000).run()
    got = _final_state(spark, table)
    assert set(got) == set(expected_state)
    for key, exp in expected_state.items():
        assert got[key]["content_sha256"] == exp["sha256"], key
        assert got[key]["seq"] == exp["seq"], key

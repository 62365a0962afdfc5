"""Merge-on-read (delta) commits: equivalence with copy-on-write, delta
chaining, compaction folding, tombstones through the delta path, and the
auto mode-selection policy."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from arc_spark.cdc.bootstrap import create_table_for_stream
from arc_spark.cdc.generator import write_change_stream
from arc_spark.cdc.runner import ReplayRunner
from arc_spark.lake.table import LakeTable

N = 3000


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mor")
    return write_change_stream(spark, str(d / "ev"), N, seed=7, num_partitions=8)


def _replay(spark, stream, root, merge_mode, batch_size):
    table, _ = create_table_for_stream(spark, stream, root, num_buckets=8)
    runner = ReplayRunner(
        spark, stream, table, batch_size=batch_size, merge_mode=merge_mode
    )
    runner.run()
    return table, runner


def test_delta_replay_equals_cow_replay(spark, stream, tmp_path):
    cow, _ = _replay(spark, stream, str(tmp_path / "cow"), "cow", batch_size=N)
    # 1 big COW epoch then 4 small delta epochs
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "mor"), num_buckets=8)
    ReplayRunner(spark, stream, table, batch_size=2000, merge_mode="cow").run(max_epochs=1)
    base_files = dict(table.snapshot().files)
    ReplayRunner(spark, stream, table, batch_size=250, merge_mode="delta").run()
    snap = table.snapshot()
    # delta commits never rewrote the base
    assert snap.files == base_files
    assert sum(len(v) for v in snap.delta_files.values()) > 0
    a, b = table.read(spark), cow.read(spark)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_delta_tombstone_blocks_resurrection(spark, tmp_path):
    from pyspark.sql import Row

    root = str(tmp_path / "t")
    table = LakeTable(root)
    df = spark.createDataFrame(
        [Row(repo="r", path="p", seq=1, content="v1", op="upsert")]
    )
    table.create(df.drop("op").schema, ["repo", "path"], num_buckets=4)
    table.merge(spark, df, epoch=0, start_seq=0, end_seq=1, mode="cow")
    # delete arrives as a DELTA commit
    d = spark.createDataFrame(
        [("r", "p", 5, None, "delete")], "repo string, path string, seq long, content string, op string"
    )
    table.merge(spark, d, epoch=1, start_seq=5, end_seq=5, mode="delta")
    assert table.read(spark).count() == 0
    # a LATE lower-seq upsert (also delta) must not resurrect the key
    late = spark.createDataFrame([Row(repo="r", path="p", seq=3, content="late", op="upsert")])
    table.merge(spark, late, epoch=2, start_seq=3, end_seq=6, mode="delta")
    assert table.read(spark).count() == 0


def test_compact_folds_deltas(spark, stream, tmp_path):
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "c"), num_buckets=8)
    ReplayRunner(spark, stream, table, batch_size=2000, merge_mode="cow").run(max_epochs=1)
    ReplayRunner(spark, stream, table, batch_size=500, merge_mode="delta").run()
    before = table.read(spark)
    before_rows = before.count()
    assert sum(len(v) for v in table.snapshot().delta_files.values()) > 0
    table.compact(spark)
    snap = table.snapshot()
    assert snap.delta_files == {}
    after = table.read(spark)
    assert after.count() == before_rows
    assert after.exceptAll(before).count() == 0
    # bucket_rows bookkeeping matches reality (tombstones included)
    assert sum(snap.bucket_rows.values()) == table.read(
        spark, include_tombstones=True
    ).count()


def test_cow_folds_touched_bucket_deltas(spark, stream, tmp_path):
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "f"), num_buckets=8)
    ReplayRunner(spark, stream, table, batch_size=1500, merge_mode="cow").run(max_epochs=1)
    ReplayRunner(spark, stream, table, batch_size=500, merge_mode="delta").run(max_epochs=1)
    # a full COW epoch folds every touched bucket's delta chain
    ReplayRunner(spark, stream, table, batch_size=N, merge_mode="cow").run()
    snap = table.snapshot()
    assert snap.delta_files == {}
    ref, _ = _replay(spark, stream, str(tmp_path / "ref"), "cow", batch_size=N)
    assert table.read(spark).exceptAll(ref.read(spark)).count() == 0
    assert ref.read(spark).exceptAll(table.read(spark)).count() == 0


def test_auto_mode_policy(spark, stream, tmp_path):
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "a"), num_buckets=8)
    r = ReplayRunner(spark, stream, table, batch_size=2500, merge_mode="auto")
    r.run(max_epochs=1)
    assert r.metrics[0]["mode"] == "cow"  # empty table -> cow
    # tiny epoch vs ~2.4k-row table -> delta
    r2 = ReplayRunner(spark, stream, table, batch_size=60, merge_mode="auto")
    r2.run(max_epochs=1)
    assert r2.metrics[0]["mode"] == "delta"
    # resume/fencing still hold through mixed modes
    r3 = ReplayRunner(spark, stream, table, batch_size=300, merge_mode="auto")
    r3.run()
    ref, _ = _replay(spark, stream, str(tmp_path / "aref"), "cow", batch_size=N)
    assert table.read(spark).exceptAll(ref.read(spark)).count() == 0
    assert ref.read(spark).exceptAll(table.read(spark)).count() == 0


def test_schema_evolution_through_delta(spark, tmp_path):
    """A delta commit carrying a NEW column widens the table schema; base
    rows read back with nulls (additive evolution through the MOR path)."""
    root = str(tmp_path / "se")
    table = LakeTable(root)
    base = spark.createDataFrame(
        [("r", "a", 1, "v1", "upsert"), ("r", "b", 2, "v2", "upsert")],
        "repo string, path string, seq long, content string, op string",
    )
    table.create(base.drop("op").schema, ["repo", "path"], num_buckets=4)
    table.merge(spark, base, epoch=0, start_seq=1, end_seq=2, mode="cow")
    evolved = spark.createDataFrame(
        [("r", "a", 5, "v1b", "py", "upsert")],
        "repo string, path string, seq long, content string, lang string, op string",
    )
    table.merge(spark, evolved, epoch=1, start_seq=5, end_seq=5, mode="delta")
    got = {(r["path"], r["content"], r["lang"]) for r in table.read(spark).collect()}
    assert got == {("a", "v1b", "py"), ("b", "v2", None)}


def test_type_widening_promotion(spark, tmp_path):
    """A change batch whose existing column arrives with a WIDER type
    (int->long, float->double) promotes the table schema in place; old
    narrow-typed data files still read back correctly under the widened
    manifest schema, through BOTH the cow and delta paths. A NARROWER
    change column does not demote the schema. Mixed families (long vs
    double) never promote."""
    root = str(tmp_path / "tw")
    table = LakeTable(root)
    base = spark.createDataFrame(
        [("r", "a", 1, 7, 1.5, "upsert"), ("r", "b", 2, 8, 2.5, "upsert")],
        "repo string, path string, seq long, n int, x float, op string",
    )
    table.create(base.drop("op").schema, ["repo", "path"], num_buckets=4)
    table.merge(spark, base, epoch=0, start_seq=1, end_seq=2, mode="cow")

    wide = spark.createDataFrame(
        [("r", "a", 5, 2**40, 3.25, "upsert")],
        "repo string, path string, seq long, n long, x double, op string",
    )
    table.merge(spark, wide, epoch=1, start_seq=5, end_seq=5, mode="delta")
    snap = table.snapshot()
    types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    assert types["n"] == "bigint" and types["x"] == "double"
    got = {(r["path"], r["n"], r["x"]) for r in table.read(spark).collect()}
    assert got == {("a", 2**40, 3.25), ("b", 8, 2.5)}

    # narrower src does NOT demote; values cast up losslessly (cow path
    # rewrites the touched bucket under the wide schema)
    narrow = spark.createDataFrame(
        [("r", "b", 9, 11, 4.5, "upsert")],
        "repo string, path string, seq long, n int, x float, op string",
    )
    table.merge(spark, narrow, epoch=2, start_seq=9, end_seq=9, mode="cow")
    snap = table.snapshot()
    types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    assert types["n"] == "bigint" and types["x"] == "double"
    got = {(r["path"], r["n"], r["x"]) for r in table.read(spark).collect()}
    assert got == {("a", 2**40, 3.25), ("b", 11, 4.5)}

    # mixed-family types never promote (long column fed doubles keeps long)
    from arc_spark.lake.table import _safe_promotion
    from pyspark.sql.types import DoubleType, LongType

    assert _safe_promotion(LongType(), DoubleType()) is None
    assert _safe_promotion(DoubleType(), LongType()) is None


def test_lookup_prunes_buckets(spark, stream, tmp_path):
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "lk"), num_buckets=16)
    ReplayRunner(spark, stream, table, batch_size=N).run()
    full = table.read(spark)
    sample = [(r["repo"], r["path"]) for r in full.limit(3).collect()]
    got = table.lookup(spark, sample)
    assert got.count() == len(sample)
    back = {(r["repo"], r["path"]) for r in got.collect()}
    assert back == set(sample)
    # only the hashed buckets' files are read
    snap = table.snapshot()
    buckets = {
        str(r[0])
        for r in spark.createDataFrame(sample, "repo string, path string")
        .select(table.bucket_expr(snap).alias("b")).distinct().collect()
    }
    assert len(buckets) < snap.num_buckets


def test_mor_read_windows_only_delta_bearing_buckets(spark, tmp_path, monkeypatch):
    """A read of a table with deltas on one bucket must shuffle/window
    ONLY that bucket's rows; the other buckets' base files stream through
    without LWW resolution."""
    from arc_spark.lake.table import LakeTable

    t = LakeTable(str(tmp_path / "mor_prune"))
    df0 = spark.createDataFrame(
        [(i, f"v{i}", i, "upsert") for i in range(200)],
        "k: long, v: string, seq: long, op: string",
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=8)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=199)
    # one-key delta epoch -> exactly one dirty bucket
    d = spark.createDataFrame([(0, "NEW", 1000, "upsert")],
                              "k: long, v: string, seq: long, op: string")
    t.merge(spark, d, epoch=1, start_seq=1000, end_seq=1000, mode="delta")
    snap = t.snapshot()
    dirty = [b for b, fs in snap.delta_files.items() if fs]
    assert len(dirty) == 1

    calls = []
    orig = LakeTable._read_files

    def spy(self, spark_, snap_, rel_paths, **kw):
        calls.append(list(rel_paths))
        return orig(self, spark_, snap_, rel_paths, **kw)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[0] == "NEW" and len(rows) == 200
    # windowed branch reads = dirty bucket's base + delta files only
    windowed = [c for c in calls if any(p in snap.delta_files[dirty[0]] for p in c)]
    dirty_base_calls = [c for c in calls if c == snap.files[dirty[0]]]
    assert windowed and dirty_base_calls
    clean_calls = [c for c in calls if c and snap.files[dirty[0]][0] not in c
                   and not any(p in snap.delta_files[dirty[0]] for p in c)]
    expected_clean = sorted(
        p for b, fs in snap.files.items() if b != dirty[0] for p in fs
    )
    assert any(sorted(c) == expected_clean for c in clean_calls)


def test_incremental_compaction_targets_dirty_buckets_only(spark, tmp_path):
    """compact(buckets='auto') rewrites only fragmented / delta-bearing
    buckets; clean buckets keep their exact manifest file entries, and the
    table reads identically afterward."""
    from arc_spark.lake.table import LakeTable

    t = LakeTable(str(tmp_path / "inc_compact"))
    df0 = spark.createDataFrame(
        [(i, f"v{i}", i, "upsert") for i in range(200)],
        "k: long, v: string, seq: long, op: string",
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=8)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=199)
    d = spark.createDataFrame([(0, "NEW", 1000, "upsert")],
                              "k: long, v: string, seq: long, op: string")
    t.merge(spark, d, epoch=1, start_seq=1000, end_seq=1000, mode="delta")
    snap = t.snapshot()
    dirty = LakeTable.buckets_needing_compaction(snap)
    assert len(dirty) == 1
    before = {b: fs for b, fs in snap.files.items() if b not in dirty}
    out = t.compact(spark, buckets="auto")
    assert out["status"] == "compacted" and out["buckets_rewritten"] == 1
    snap2 = t.snapshot()
    assert not any(snap2.delta_files.values())
    for b, fs in before.items():
        assert snap2.files[b] == fs  # untouched buckets keep their files
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[0] == "NEW" and len(rows) == 200
    # nothing left to compact -> noop
    assert t.compact(spark, buckets="auto")["status"] == "noop"


def test_changes_since_incremental_read(spark, tmp_path, monkeypatch):
    """changes_since(S) returns exactly the keys changed after S (deletes
    as op='delete'), reading only buckets touched by post-S epochs."""
    from arc_spark.lake.table import LakeTable

    t = LakeTable(str(tmp_path / "inc_read"))
    df0 = spark.createDataFrame(
        [(i, f"v{i}", i, "upsert") for i in range(100)],
        "k: long, v: string, seq: long, op: string",
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=8)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=99)
    d1 = spark.createDataFrame(
        [(5, "NEW5", 100, "upsert"), (7, None, 101, "delete")],
        "k: long, v: string, seq: long, op: string",
    )
    t.merge(spark, d1, epoch=1, start_seq=100, end_seq=101, mode="delta")

    calls = []
    orig = LakeTable._read_files

    def spy(self, spark_, snap_, rel_paths, **kw):
        calls.append(list(rel_paths))
        return orig(self, spark_, snap_, rel_paths, **kw)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    got = {(r["k"], r["op"], r["v"]) for r in t.changes_since(spark, 99).collect()}
    assert got == {(5, "upsert", "NEW5"), (7, "delete", None)}
    snap = t.snapshot()
    touched = {b for b, fs in snap.delta_files.items() if fs}
    # every file read belongs to a touched bucket (epoch-1 pruning)
    all_read = {p for c in calls for p in c}
    allowed = {p for b in touched for p in snap.files.get(b, []) + snap.delta_files.get(b, [])}
    assert all_read <= allowed and all_read
    # nothing changed after the last seq
    assert t.changes_since(spark, 101).count() == 0


def test_mor_read_job_shape_lists_by_core_and_infers_no_footers(spark, tmp_path):
    """A full read of a table with more than 32 delta files (past Spark's
    parallel-listing threshold) hands the scan the manifest schema and
    lists the manifest's files with one task per core. Pinned shape:
    one listing job per file set (base, delta), each with at most
    defaultParallelism tasks, and no footer schema-merge job; then the
    window's map job and the sink. Inferring footers added one
    schema-merge job per file set and listed with one task per file
    (6 jobs, two of them 48-task listings, for this table)."""
    t = LakeTable(str(tmp_path / "shape"))
    schema = "repo string, path string, seq long, content string, op string"
    base = spark.createDataFrame(
        [("r", f"p{i}", i + 1, f"v{i}", "upsert") for i in range(400)], schema
    )
    t.create(base.drop("op").schema, ["repo", "path"], num_buckets=48)
    t.merge(spark, base, epoch=0, start_seq=1, end_seq=400, mode="cow")
    upd = spark.createDataFrame(
        [("r", f"p{i}", 1000 + i, f"w{i}", "upsert") for i in range(0, 400, 2)], schema
    )
    t.merge(spark, upd, epoch=1, start_seq=1000, end_seq=1399, mode="delta")
    snap = t.snapshot()
    assert sum(len(v) for v in snap.delta_files.values()) > 32
    assert set(snap.delta_files) == set(snap.files)  # every bucket windows

    sc = spark.sparkContext
    group = "test-mor-read-job-shape"
    sc.setJobGroup(group, group)
    try:
        t.read(spark).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    tasks = []
    for j in sorted(st.getJobIdsForGroup(group)):
        stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        tasks.append(sum(s.numTasks for s in stages if s is not None))
    assert len(tasks) == 4, tasks
    # the two planning jobs are the listings of the base and delta sets
    assert all(n <= sc.defaultParallelism for n in tasks[:2]), tasks


def test_compact_sorts_within_buckets(spark, stream, tmp_path):
    """Default compaction clusters each bucket file by (keys, seq) so
    parquet row-group stats give tight key ranges (sort_within=True)."""
    table, _ = _replay(spark, stream, str(tmp_path / "cs"), "auto", 500)
    table.compact(spark)
    snap = table.snapshot()
    bucket, files = next((b, f) for b, f in sorted(snap.files.items()) if f)
    rows = spark.read.parquet(str(tmp_path / "cs") + "/" + files[0]).collect()
    keys = [(r["repo"], r["path"], r["seq"]) for r in rows]
    assert keys == sorted(keys)
    assert len(rows) > 1


def test_time_travel_read(spark, tmp_path):
    """read(version=) reconstructs any committed snapshot; expiry removes
    old versions and a travel read to an expired version fails cleanly
    rather than returning partial data."""
    import pytest as _pytest

    root = str(tmp_path / "tt")
    table = LakeTable(root)
    b0 = spark.createDataFrame(
        [("r", "a", 1, "v1", "update"), ("r", "b", 2, "v2", "update")],
        "repo string, path string, seq long, content string, op string",
    )
    table.create(b0.drop("op").schema, ["repo", "path"], num_buckets=4)
    table.merge(spark, b0, epoch=0, start_seq=1, end_seq=2, mode="cow")
    v1 = table.current_version()
    b1 = spark.createDataFrame(
        [("r", "a", 5, "v1b", "update"), ("r", "b", 6, None, "delete")],
        "repo string, path string, seq long, content string, op string",
    )
    table.merge(spark, b1, epoch=1, start_seq=5, end_seq=6, mode="delta")

    now = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert now == {"a": "v1b"}  # b deleted
    then = {r["path"]: r["content"] for r in table.read(spark, version=v1).collect()}
    assert then == {"a": "v1", "b": "v2"}
    assert table.snapshot(v1).end_seq == 2

    table.expire_snapshots(keep_last=1)
    with _pytest.raises(Exception):
        table.read(spark, version=v1).collect()


def test_rollback_restores_state_and_resumes_replay(spark, tmp_path):
    """rollback(v) publishes a NEW manifest with v's state: reads revert,
    end_seq/epoch revert (so a replay re-applies corrected events from
    there), the undone version stays time-travel-readable, and a
    post-rollback merge with a previously-committed epoch id is NOT
    fenced (committed_epochs reverted with the snapshot)."""
    root = str(tmp_path / "rb")
    table = LakeTable(root)
    b0 = spark.createDataFrame(
        [("r", "a", 1, "v1", "update"), ("r", "b", 2, "v2", "update")],
        "repo string, path string, seq long, content string, op string",
    )
    table.create(b0.drop("op").schema, ["repo", "path"], num_buckets=4)
    table.merge(spark, b0, epoch=0, start_seq=1, end_seq=2, mode="cow")
    v1 = table.current_version()

    # the "bad" batch to undo
    bad = spark.createDataFrame(
        [("r", "a", 5, "CORRUPT", "update"), ("r", "b", 6, None, "delete")],
        "repo string, path string, seq long, content string, op string",
    )
    table.merge(spark, bad, epoch=1, start_seq=5, end_seq=6, mode="delta")
    v2 = table.current_version()

    res = table.rollback(v1)
    assert res["status"] == "rolled_back" and res["restored_version"] == v1
    assert res["undone_versions"] == [v2]
    # linear history: rollback is a NEW version, not a deletion
    assert table.current_version() == v2 + 1

    now = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert now == {"a": "v1", "b": "v2"}
    snap = table.snapshot()
    assert snap.end_seq == 2 and snap.epoch == 0
    # the undone version is still time-travel-readable until expiry
    undone = {r["path"]: r["content"] for r in table.read(spark, version=v2).collect()}
    assert undone == {"a": "CORRUPT"}

    # corrected events re-apply with the SAME epoch id — not fenced,
    # because committed_epochs reverted with the snapshot
    fixed = spark.createDataFrame(
        [("r", "a", 5, "v1b", "update"), ("r", "b", 6, None, "delete")],
        "repo string, path string, seq long, content string, op string",
    )
    out = table.merge(spark, fixed, epoch=1, start_seq=5, end_seq=6, mode="delta")
    assert out["status"] == "committed"
    assert {r["path"]: r["content"] for r in table.read(spark).collect()} == {"a": "v1b"}

    # rollback to the current version is a no-op
    assert table.rollback(table.current_version())["status"] == "noop"

    # expiry keeps the files the (surviving) rollback manifest references
    table.expire_snapshots(keep_last=2)
    assert {r["path"]: r["content"] for r in table.read(spark).collect()} == {"a": "v1b"}


def test_lake_rollback_execute_stage(spark, tmp_path):
    """Declarative rollback: LakeRollbackExecute restores toVersion and
    returns the restored table through outputView."""
    from arc_spark.pipeline import run_config

    root = str(tmp_path / "rbstage")
    table = LakeTable(root)
    b0 = spark.createDataFrame(
        [("r", "a", 1, "good", "update")],
        "repo string, path string, seq long, content string, op string",
    )
    table.create(b0.drop("op").schema, ["repo", "path"], num_buckets=2)
    table.merge(spark, b0, epoch=0, start_seq=1, end_seq=1, mode="cow")
    v1 = table.current_version()
    bad = spark.createDataFrame(
        [("r", "a", 2, "BAD", "update")],
        "repo string, path string, seq long, content string, op string",
    )
    table.merge(spark, bad, epoch=1, start_seq=2, end_seq=2, mode="cow")

    df, ctx = run_config(spark, {"stages": [
        {"type": "LakeRollbackExecute", "name": "undo",
         "tableURI": root, "toVersion": v1, "outputView": "restored"},
    ]})
    assert [r["content"] for r in df.collect()] == ["good"]
    ev = [e for e in ctx.events if e.get("stage") == "undo"]
    assert ev and ev[0]["status"] == "rolled_back"

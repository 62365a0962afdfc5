"""Debezium envelope → canonical change frame (arc_spark/cdc/debezium.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from arc_spark.cdc.apply import last_writer_wins
from arc_spark.cdc.debezium import (
    debezium_envelope_schema,
    parse_debezium,
    to_debezium_json,
)

PAYLOAD = "repo string, path string, commit string, lang string, content string"


def _row(repo, path, content, *, commit="c0", lang="py"):
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


def _event(op, lsn, *, before=None, after=None, wrapped=True, ts_ms=1000):
    env = {
        "before": before,
        "after": after,
        "op": op,
        "ts_ms": ts_ms,
        "source": {"lsn": lsn, "pos": None, "row": 0, "ts_ms": ts_ms - 1},
    }
    return json.dumps({"payload": env} if wrapped else env)


@pytest.fixture()
def raw(spark):
    events = [
        _event("c", 10, after=_row("r1", "a.py", "v1")),
        _event("u", 20, after=_row("r1", "a.py", "v2")),
        # delete carries the key in `before`, after is null
        _event("d", 30, before=_row("r1", "b.py", "gone")),
        # unwrapped (SMT-flattened) record — wrapper="auto" must take it
        _event("r", 15, after=_row("r2", "c.py", "snap"), wrapped=False),
        # Kafka tombstone record: NULL value, always dropped
        None,
    ]
    return spark.createDataFrame([(v,) for v in events], "value string")


def test_envelope_schema_embeds_payload(spark):
    s = debezium_envelope_schema(PAYLOAD)
    assert [f.name for f in s.fields] == [
        "before", "after", "op", "ts_ms", "source", "transaction",
    ]
    assert s["after"].dataType["content"].dataType.simpleString() == "string"


def test_parse_maps_ops_and_sides(spark, raw):
    out = parse_debezium(raw, PAYLOAD).orderBy("seq").collect()
    assert [r["op"] for r in out] == ["insert", "insert", "update", "delete"]
    assert [r["seq"] for r in out] == [10, 15, 20, 30]
    # delete row's key columns came from `before`
    d = out[-1]
    assert (d["repo"], d["path"], d["content"]) == ("r1", "b.py", "gone")
    # the unwrapped record parsed via the auto fallback
    assert out[1]["repo"] == "r2"


def test_parse_is_pure_codegen(spark, raw):
    plan = parse_debezium(raw, PAYLOAD)._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "mapInPandas"):
        assert marker not in plan


def test_unknown_op_passes_through_for_bad_event_gate(spark):
    df = spark.createDataFrame(
        [(_event("x", 99, after=_row("r", "p", "v")),)], "value string"
    )
    assert parse_debezium(df, PAYLOAD).first()["op"] == "x"


def test_malformed_json_surfaces_or_drops(spark):
    df = spark.createDataFrame([("{not json",)], "value string")
    kept = parse_debezium(df, PAYLOAD)
    # default: row survives with NULL key/seq → the runner's bad-event
    # gate (NULL key or seq) catches it
    r = kept.first()
    assert r["repo"] is None and r["seq"] is None
    assert parse_debezium(df, PAYLOAD, drop_unparseable=True).count() == 0


def test_seq_expr_override_and_lww(spark, raw):
    out = parse_debezium(raw, PAYLOAD, seq_expr=F.col("_env")["ts_ms"] * 100)
    assert out.orderBy("seq").first()["seq"] == 100000
    # end-to-end shape: parsed frame drops straight into the LWW kernel
    final = last_writer_wins(
        parse_debezium(raw, PAYLOAD).drop("_ts_ms"), ["repo", "path"], "seq"
    )
    rows = {(r["repo"], r["path"]): r for r in final.collect()}
    assert rows[("r1", "a.py")]["content"] == "v2"
    assert rows[("r1", "b.py")]["op"] == "delete"


def test_payload_column_collision_raises(spark):
    with pytest.raises(ValueError, match="collide"):
        parse_debezium(
            spark.createDataFrame([("{}",)], "value string"), "repo string, seq long"
        )


# ---------------------------------------------------------------------------
# serializer + staging + runner/stream integration over a real change stream
# ---------------------------------------------------------------------------

STREAM_PAYLOAD = (
    "repo string, path string, commit string, lang string, "
    "content string, ts timestamp"
)


def _row_ops(spark, n=1500, seed=7):
    from arc_spark.cdc.generator import change_stream

    # Debezium envelopes carry row ops only (DDL travels on the
    # connector's schema-change topic) — the equivalence fixtures
    # exclude schema-change on BOTH sides
    return change_stream(spark, n, seed=seed, num_partitions=8).filter(
        F.col("op") != "schema-change"
    )


def test_to_debezium_json_round_trip(spark):
    src = _row_ops(spark, n=600)
    back = parse_debezium(to_debezium_json(src), STREAM_PAYLOAD).drop("_ts_ms")
    # ops collapse (insert/update both → upsert semantics) but
    # insert→insert, update→update, delete→delete here by construction
    a = {tuple(r) for r in src.select(*sorted(src.columns)).collect()}
    b = {tuple(r) for r in back.select(*sorted(src.columns)).collect()}
    assert a == b


def test_to_debezium_json_rejects_schema_change(spark):
    from arc_spark.cdc.generator import change_stream

    ddl = change_stream(spark, 2000, seed=7, num_partitions=8).filter(
        F.col("op") == "schema-change"
    )
    assert ddl.count() > 0
    with pytest.raises(Exception, match="no Debezium row-op"):
        to_debezium_json(ddl).collect()


@pytest.fixture(scope="module")
def dbz_tail(spark, tmp_path_factory):
    """A change stream materialized BOTH ways: staged parquet and a raw
    Debezium JSON tail, row ops only. Read-only for the tests."""
    src = _row_ops(spark)
    root = tmp_path_factory.mktemp("dbz_tail")
    pq = str(root / "events_pq")
    js = str(root / "events_dbz")
    src.repartitionByRange(4, "seq").write.parquet(pq)
    to_debezium_json(src).write.text(js)
    return pq, js


def _same(a, b):
    # column ORDER differs between the two bootstraps (parquet keeps the
    # stream's layout, debezium appends seq) — compare set-wise
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _replay(spark, events, root, **kw):
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.runner import ReplayRunner

    table, _ = create_table_for_stream(
        spark, events, root, num_buckets=8,
        events_format=kw.get("events_format", "parquet"),
        payload_schema=kw.get("payload_schema"),
    )
    ReplayRunner(spark, events, table, batch_size=400, **kw).run()
    return table.read(spark)


@pytest.fixture(scope="module")
def pq_ref(spark, dbz_tail, tmp_path_factory):
    """The parquet tail replayed with the default runner — the state
    every Debezium path must reach (built once for the module)."""
    return _replay(spark, dbz_tail[0], str(tmp_path_factory.mktemp("pq_ref") / "lake"))


def test_runner_debezium_tail_matches_parquet_replay(spark, tmp_path, dbz_tail, pq_ref):
    pq, js = dbz_tail
    ref = pq_ref
    got = _replay(
        spark, js, str(tmp_path / "lake_dbz"),
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    assert _same(got, ref)
    assert ref.count() > 0


def test_stage_debezium_then_replay(spark, tmp_path, dbz_tail, pq_ref):
    import glob

    from arc_spark.cdc.debezium import stage_debezium

    pq, js = dbz_tail
    staged = str(tmp_path / "staged")
    stage_debezium(spark, js, staged, STREAM_PAYLOAD, num_files=4)
    files = glob.glob(f"{staged}/*.parquet")
    assert len(files) == 4  # seq-range-clustered output for pushdown
    ref = pq_ref
    got = _replay(spark, staged, str(tmp_path / "lake_staged"))
    assert _same(got, ref)


def test_streaming_replay_debezium_tail(spark, tmp_path, dbz_tail, pq_ref):
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.streaming.replay import StreamingReplay

    pq, js = dbz_tail
    ref = pq_ref
    table, _ = create_table_for_stream(
        spark, js, str(tmp_path / "lake_stream"), num_buckets=8,
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    batches = StreamingReplay(
        spark, js, table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
        max_files_per_trigger=2,
    ).run_available()
    assert len(batches) >= 1
    got = table.read(spark)
    assert _same(got, ref)


def test_debezium_schema_widening_without_ddl_event(spark, tmp_path):
    """Debezium row streams carry no schema-change op (DDL rides the
    connector's schema-change topic) — widening payload_schema IS the
    DDL declaration, so new columns must land instead of being silently
    dropped by the runner's has-DDL gate."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.runner import ReplayRunner

    src = _row_ops(spark, n=400)
    js = str(tmp_path / "tail")
    to_debezium_json(src).write.text(js)
    table, _ = create_table_for_stream(
        spark, js, str(tmp_path / "lake"), num_buckets=4,
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    ReplayRunner(
        spark, js, table, batch_size=500,
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    ).run()
    assert "branch" not in [f.name for f in table.snapshot().schema.fields]

    # upstream ALTER TABLE: later envelopes carry a new payload column
    more = _row_ops(spark, n=900).filter(F.col("seq") >= 400).withColumn(
        "branch", F.concat(F.lit("b-"), F.col("commit"))
    )
    to_debezium_json(more).write.mode("append").text(js)
    wide = STREAM_PAYLOAD + ", branch string"
    ReplayRunner(
        spark, js, table, batch_size=500,
        events_format="debezium", payload_schema=wide,
    ).run()
    final = table.read(spark)
    assert "branch" in final.columns
    # post-widening winners carry the value, pre-widening rows are NULL
    assert final.filter(F.col("branch").isNotNull()).count() > 0
    assert final.filter(
        F.col("branch").isNotNull() & (F.col("branch") != F.concat(F.lit("b-"), F.col("commit")))
    ).count() == 0


def test_cdc_replay_stage_debezium_config(spark, tmp_path, dbz_tail, pq_ref):
    """Config-driven: CDCReplayExecute over a raw Debezium tail with a
    stageURI (parse once → seq-clustered parquet → pushdown replay)."""
    from arc_spark.pipeline import run_config

    pq, js = dbz_tail
    ref = pq_ref
    cfg = {
        "stages": [
            {
                "type": "CDCReplayExecute",
                "name": "replay dbz",
                "environments": ["test"],
                "eventsURI": js,
                "tableURI": str(tmp_path / "lake_cfg"),
                "eventsFormat": "debezium",
                "payloadSchema": STREAM_PAYLOAD,
                "stageURI": str(tmp_path / "staged_cfg"),
                "batchSize": "500",
                "numBuckets": "8",
                "outputView": "final",
            }
        ]
    }
    got, _ctx = run_config(spark, cfg, environment="test")
    assert _same(got, ref)


# ---------------------------------------------------------------------------
# at-least-once redelivery collapse (apply.collapse_redelivered)
# ---------------------------------------------------------------------------


def test_collapse_redelivered_noop_on_clean_batch(spark):
    from arc_spark.cdc.apply import collapse_redelivered

    df = spark.createDataFrame(
        [("r1", "a", 1, "x"), ("r1", "a", 2, "y"), ("r2", "b", 3, "z")],
        "repo string, path string, seq long, content string",
    )
    out, extras = collapse_redelivered(df, ["repo", "path"], "seq")
    assert extras == 0
    assert out is df  # clean batch: the fat rows are untouched, zero rework


def test_collapse_redelivered_keeps_ts_collisions_across_keys(spark):
    """seq collides across DIFFERENT keys (ts_ms fallback) — those are
    distinct events and must all survive; only verbatim same-(key, seq)
    copies collapse."""
    from arc_spark.cdc.apply import collapse_redelivered

    rows = [
        ("r1", "a", 100, "v1"),
        ("r2", "b", 100, "w1"),   # same seq, different key: keep
        ("r1", "a", 100, "v1"),   # verbatim redelivery: drop
        ("r1", "a", 100, "v1"),   # verbatim redelivery: drop
        ("r1", "a", 200, "v2"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, seq long, content string"
    )
    out, extras = collapse_redelivered(df, ["repo", "path"], "seq")
    assert extras == 2
    got = sorted((r["repo"], r["path"], r["seq"]) for r in out.collect())
    assert got == [("r1", "a", 100), ("r1", "a", 200), ("r2", "b", 100)]


def test_collapse_redelivered_null_keys_and_fallback(spark):
    """NULL keys group null-safely (window partitioning semantics match
    the eqNullSafe joins); the > max_broadcast path falls back to the
    full dropDuplicates shuffle with identical output."""
    from arc_spark.cdc.apply import collapse_redelivered

    rows = [
        (None, "a", 1, "x"), (None, "a", 1, "x"),
        ("r", None, 2, "y"), ("r", None, 2, "y"), ("r", None, 2, "y"),
        ("r", "b", 3, "z"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, seq long, content string"
    )
    for mb in (100_000, 0):  # broadcast-scoped path, then the fallback
        out, extras = collapse_redelivered(
            df, ["repo", "path"], "seq", max_broadcast=mb
        )
        assert extras == 3
        got = sorted(
            (r["repo"] or "", r["path"] or "", r["seq"]) for r in out.collect()
        )
        assert got == [("", "a", 1), ("r", "", 2), ("r", "b", 3)]


def test_thin_lww_motivation_duplicates_survive_without_collapse(spark):
    """Pins WHY the collapse exists: thin's semi join-back keeps every
    verbatim (key, seq) copy — the merge contract (one row per key) needs
    the collapse upstream on at-least-once sources. window collapses
    them; all strategies agree once collapse_redelivered has run."""
    from arc_spark.cdc.apply import collapse_redelivered, last_writer_wins

    df = spark.createDataFrame(
        [("r1", "a", 5, "v"), ("r1", "a", 5, "v")],
        "repo string, path string, seq long, content string",
    )
    keys = ["repo", "path"]
    assert last_writer_wins(df, keys, "seq", strategy="thin").count() == 2
    assert last_writer_wins(df, keys, "seq", strategy="window").count() == 1
    clean, _ = collapse_redelivered(df, keys, "seq")
    assert last_writer_wins(clean, keys, "seq", strategy="thin").count() == 1


def _duplicate_tail(spark, js_in, js_out, frac_files=0.5):
    """Simulate a connector restart: re-append a slice of the tail's
    files verbatim (same LSNs → same seqs)."""
    import glob
    import shutil

    shutil.copytree(js_in, js_out)
    files = sorted(glob.glob(f"{js_out}/part-*"))
    for i, f in enumerate(files[: max(1, int(len(files) * frac_files))]):
        shutil.copy(f, f"{js_out}/redelivered-{i}.txt")


def test_runner_debezium_redelivered_tail(spark, tmp_path, dbz_tail, pq_ref):
    """A tail with verbatim re-delivered events replays (strategy=thin)
    to the same final state as the clean tail; the per-epoch metrics
    count the collapsed copies."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.runner import ReplayRunner

    pq, js = dbz_tail
    dup_js = str(tmp_path / "events_dbz_dup")
    _duplicate_tail(spark, js, dup_js)
    ref = pq_ref
    table, _ = create_table_for_stream(
        spark, dup_js, str(tmp_path / "lake_dup"), num_buckets=8,
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    runner = ReplayRunner(
        spark, dup_js, table, batch_size=400, strategy="thin",
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    metrics = runner.run()
    assert sum(m.get("events_redelivered", 0) for m in metrics) > 0
    assert _same(table.read(spark), ref)


def test_stage_debezium_collapses_redelivered(spark, tmp_path, dbz_tail, pq_ref):
    """Staging with dedup_keys collapses re-deliveries once; the staged
    parquet then has unique (keys, seq) and replays clean."""
    from arc_spark.cdc.debezium import stage_debezium

    pq, js = dbz_tail
    dup_js = str(tmp_path / "events_dbz_dup2")
    _duplicate_tail(spark, js, dup_js)
    staged = str(tmp_path / "staged_dup")
    stage_debezium(
        spark, dup_js, staged, STREAM_PAYLOAD, num_files=4,
        dedup_keys=["repo", "path"],
    )
    st = spark.read.parquet(staged)
    assert (
        st.groupBy("repo", "path", "seq").count().filter("count > 1").count() == 0
    )
    ref = pq_ref
    got = _replay(spark, staged, str(tmp_path / "lake_staged_dup"), strategy="thin")
    assert _same(got, ref)


def test_streaming_debezium_redelivered_tail(spark, tmp_path, dbz_tail, pq_ref):
    """Streaming twin: re-delivered envelopes inside micro-batches
    collapse before the merge (per-batch counters record them)."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.streaming.replay import StreamingReplay

    pq, js = dbz_tail
    dup_js = str(tmp_path / "events_dbz_dup3")
    # one big batch so duplicate copies land in the SAME micro-batch
    _duplicate_tail(spark, js, dup_js)
    ref = pq_ref
    table, _ = create_table_for_stream(
        spark, dup_js, str(tmp_path / "lake_stream_dup"), num_buckets=8,
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
    )
    batches = StreamingReplay(
        spark, dup_js, table,
        checkpoint_dir=str(tmp_path / "ckpt_dup"),
        events_format="debezium", payload_schema=STREAM_PAYLOAD,
        strategy="thin",
    ).run_available()
    assert sum(b.get("events_redelivered", 0) for b in batches) > 0
    assert _same(table.read(spark), ref)


# ---------------------------------------------------------------------------
# lake as CDC producer: publish change feed as Debezium -> replicate
# ---------------------------------------------------------------------------


def _publish_cfg(table_uri, cursor_uri, feed_uri):
    return {
        "stages": [
            {
                "type": "LakeChangesExtract", "name": "changes",
                "environments": ["test"], "tableURI": table_uri,
                "cursorURI": cursor_uri, "outputView": "chg",
            },
            {
                "type": "DebeziumSerializeTransform", "name": "serialize",
                "environments": ["test"], "inputView": "chg",
                "outputView": "env",
            },
            {
                "type": "TextLoad", "name": "feed", "environments": ["test"],
                "inputView": "env", "outputURI": feed_uri,
                "saveMode": "append",
            },
            {
                "type": "LakeCursorCommitExecute", "name": "cursor",
                "environments": ["test"], "cursorURI": cursor_uri,
            },
        ]
    }


def test_cdc_publish_replication_round_trip(spark, tmp_path):
    """The full producer->consumer loop over the open wire format:
    table A's change feed, published incrementally as Debezium envelopes
    (LakeChangesExtract -> DebeziumSerializeTransform -> TextLoad ->
    cursor commit), replayed into table B with
    CDCReplayExecute(eventsFormat=debezium) — B converges to A after the
    bootstrap publish AND after an incremental one (cursor window only)."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.generator import change_stream
    from arc_spark.cdc.runner import ReplayRunner
    from arc_spark.pipeline import run_config

    # table A: replay a native stream (row ops only — DDL is off-feed)
    ev = str(tmp_path / "ev")
    change_stream(spark, 1200, seed=3, num_partitions=4).filter(
        F.col("op") != "schema-change"
    ).write.parquet(ev)
    a_root = str(tmp_path / "lake_a")
    table_a, _ = create_table_for_stream(spark, ev, a_root, num_buckets=8)
    ReplayRunner(spark, ev, table_a, batch_size=700).run()

    feed = str(tmp_path / "feed")
    cursor = str(tmp_path / "cursor.json")
    payload = (
        "repo string, path string, commit string, lang string, "
        "content string, ts timestamp, content_sha256 string"
    )
    consume = {
        "stages": [
            {
                "type": "CDCReplayExecute", "name": "replicate",
                "environments": ["test"], "eventsURI": feed,
                "tableURI": str(tmp_path / "lake_b"),
                "eventsFormat": "debezium", "payloadSchema": payload,
                "batchSize": "700", "numBuckets": "8",
                "outputView": "b_state",
            }
        ]
    }

    # bootstrap publish + replicate
    run_config(spark, _publish_cfg(a_root, cursor, feed), environment="test")
    got, _ = run_config(spark, consume, environment="test")
    assert _same(got, table_a.read(spark))

    # more upstream changes -> incremental publish (cursor window only)
    ev2 = str(tmp_path / "ev2")
    change_stream(spark, 600, seed=9, num_partitions=4).filter(
        F.col("op") != "schema-change"
    ).withColumn("seq", F.col("seq") + 1200).write.parquet(ev2)
    ReplayRunner(spark, ev2, table_a, batch_size=700).run()
    run_config(spark, _publish_cfg(a_root, cursor, feed), environment="test")
    # consumer resumes from B's snapshot end_seq: only new seqs apply
    got2, _ = run_config(spark, consume, environment="test")
    assert _same(got2, table_a.read(spark))


# ---------------------------------------------------------------------------
# transaction-boundary gating (tx metadata topic)
# ---------------------------------------------------------------------------


def _tx_event(op, lsn, tx_id, order, *, after=None, before=None):
    env = {
        "before": before,
        "after": after,
        "op": op,
        "ts_ms": lsn * 10,
        "source": {"lsn": lsn, "pos": None, "row": 0, "ts_ms": lsn * 10 - 1},
        "transaction": {"id": tx_id, "total_order": order,
                        "data_collection_order": order},
    }
    return json.dumps({"payload": env})


def _tx_meta(tx_id, status, count):
    return json.dumps(
        {"payload": {"status": status, "id": tx_id, "event_count": count,
                     "ts_ms": 0}}
    )


@pytest.fixture()
def tx_tail(spark, tmp_path):
    """3 transactions + 1 non-transactional event; tx-3's END marker is
    missing (connector crashed mid-tx)."""
    events = [
        _tx_event("c", 10, "tx1", 1, after=_row("r1", "a.py", "v1")),
        _tx_event("c", 11, "tx1", 2, after=_row("r1", "b.py", "w1")),
        _tx_event("u", 20, "tx2", 1, after=_row("r1", "a.py", "v2")),
        # non-transactional event (no tx block) between tx2 and tx3
        _event("c", 25, after=_row("r2", "c.py", "x1")),
        _tx_event("u", 30, "tx3", 1, after=_row("r1", "b.py", "w2")),
        _tx_event("c", 31, "tx3", 2, after=_row("r3", "d.py", "y1")),
    ]
    ev_dir = str(tmp_path / "tx_events")
    spark.createDataFrame([(v,) for v in events], "value string").coalesce(
        1
    ).write.text(ev_dir)
    meta_dir = str(tmp_path / "tx_meta")
    spark.createDataFrame(
        [(_tx_meta("tx1", "BEGIN", None),), (_tx_meta("tx1", "END", 2),),
         (_tx_meta("tx2", "END", 1),), (_tx_meta("tx3", "BEGIN", None),)],
        "value string",
    ).coalesce(1).write.text(meta_dir)
    return ev_dir, meta_dir


def test_tx_safe_horizon(spark, tx_tail):
    from arc_spark.cdc.debezium import (
        parse_debezium, parse_tx_metadata, tx_safe_horizon,
    )

    ev_dir, meta_dir = tx_tail
    ev = parse_debezium(spark.read.text(ev_dir), PAYLOAD, with_tx=True)
    meta = parse_tx_metadata(spark.read.text(meta_dir))
    # tx3 (first seq 30) has no END marker -> horizon 29: tx1, tx2 and
    # the non-transactional event at 25 are all safe
    assert tx_safe_horizon(ev.select("_tx_id", "seq"), meta) == 29
    # with tx3's END present and all its events in the tail -> unbounded
    meta_ok = meta.union(
        spark.createDataFrame([("tx3", "END", 2)], meta.schema)
    )
    assert tx_safe_horizon(ev.select("_tx_id", "seq"), meta_ok) is None
    # END present but the tail holds fewer events than event_count
    # (torn mid-tx write): still incomplete
    meta_torn = meta.union(
        spark.createDataFrame([("tx3", "END", 3)], meta.schema)
    )
    assert tx_safe_horizon(ev.select("_tx_id", "seq"), meta_torn) == 29


def test_runner_tx_gate_holds_then_applies(spark, tmp_path, tx_tail):
    """Runner with tx_metadata_path applies only complete transactions;
    once the END marker lands a new run applies the held tail — resume
    stays seq-contiguous throughout."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.runner import ReplayRunner

    ev_dir, meta_dir = tx_tail
    table, _ = create_table_for_stream(
        spark, ev_dir, str(tmp_path / "lake_tx"), num_buckets=4,
        events_format="debezium", payload_schema=PAYLOAD,
    )
    kw = dict(events_format="debezium", payload_schema=PAYLOAD,
              tx_metadata_path=meta_dir, batch_size=100)
    ReplayRunner(spark, ev_dir, table, **kw).run()
    state = {(r["repo"], r["path"]): r["content"] for r in table.read(spark).collect()}
    # tx3's updates held back: b.py still w1, no r3 row
    assert state[("r1", "b.py")] == "w1"
    assert ("r3", "d.py") not in state
    assert state[("r1", "a.py")] == "v2"
    assert state[("r2", "c.py")] == "x1"
    assert table.snapshot().end_seq == 29

    # END marker arrives -> the held events apply on the next run
    spark.createDataFrame(
        [(_tx_meta("tx3", "END", 2),)], "value string"
    ).coalesce(1).write.mode("append").text(meta_dir)
    ReplayRunner(spark, ev_dir, table, **kw).run()
    state = {(r["repo"], r["path"]): r["content"] for r in table.read(spark).collect()}
    assert state[("r1", "b.py")] == "w2"
    assert state[("r3", "d.py")] == "y1"
    assert table.snapshot().end_seq == 31


def test_stage_debezium_tx_gate(spark, tmp_path, tx_tail):
    """Staging with tx_metadata_path writes only the boundary-clean
    prefix; the staged parquet needs no tx awareness downstream."""
    from arc_spark.cdc.debezium import stage_debezium

    ev_dir, meta_dir = tx_tail
    staged = str(tmp_path / "staged_tx")
    stage_debezium(
        spark, ev_dir, staged, PAYLOAD, num_files=2,
        tx_metadata_path=meta_dir,
    )
    st = spark.read.parquet(staged)
    assert st.count() == 4  # tx1(2) + tx2(1) + non-tx(1); tx3 held
    assert st.agg(F.max("seq")).first()[0] == 25
    assert "_tx_id" not in st.columns


def test_tx_horizon_never_splits_a_complete_interleaved_tx(spark, tmp_path):
    """Databases run transactions concurrently: a COMPLETE transaction
    can span the initial cut made below the oldest incomplete tx.
    Truncating there would apply it partially — the horizon must close
    downward until no transaction is split."""
    from arc_spark.cdc.debezium import (
        parse_debezium, parse_tx_metadata, tx_safe_horizon,
    )

    events = [
        # txA complete, fully below everything
        _tx_event("c", 10, "txA", 1, after=_row("r1", "a.py", "a1")),
        # txB complete but INTERLEAVED: spans 20..40
        _tx_event("u", 20, "txB", 1, after=_row("r1", "b.py", "b1")),
        # txC incomplete (no END), starts at 30
        _tx_event("u", 30, "txC", 1, after=_row("r1", "c.py", "c1")),
        _tx_event("u", 40, "txB", 2, after=_row("r1", "d.py", "d1")),
        # txD complete, spans 15..22 — crosses the lowered cut at 19,
        # so the closure must take a second round down to 14
        _tx_event("u", 15, "txD", 1, after=_row("r2", "e.py", "e1")),
        _tx_event("u", 22, "txD", 2, after=_row("r2", "f.py", "f1")),
    ]
    ev_dir = str(tmp_path / "itx_events")
    spark.createDataFrame([(v,) for v in events], "value string").coalesce(
        1
    ).write.text(ev_dir)
    meta_dir = str(tmp_path / "itx_meta")
    spark.createDataFrame(
        [(_tx_meta("txA", "END", 1),), (_tx_meta("txB", "END", 2),),
         (_tx_meta("txD", "END", 2),)],
        "value string",
    ).coalesce(1).write.text(meta_dir)

    ev = parse_debezium(spark.read.text(ev_dir), PAYLOAD, with_tx=True)
    meta = parse_tx_metadata(spark.read.text(meta_dir))
    # naive cut below txC would be 29 — splitting txB (20..40); closing
    # below txB gives 19 — splitting txD (15..22); final: 14 (txA whole)
    assert tx_safe_horizon(ev.select("_tx_id", "seq"), meta) == 14


# ---------------------------------------------------------------------------
# kafka source passthrough (the production Debezium wire)
# ---------------------------------------------------------------------------

KOPTS = {"kafka.bootstrap.servers": "broker:9092", "subscribe": "dbz.repo"}


def test_kafka_format_validations(spark, tmp_path):
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.streaming.replay import StreamingReplay

    table, _ = create_table_for_stream(
        spark, None, str(tmp_path / "lk"), num_buckets=4,
        events_format="kafka", payload_schema=STREAM_PAYLOAD,
    )
    ck = str(tmp_path / "ck")
    with pytest.raises(ValueError, match="payload_schema"):
        StreamingReplay(spark, None, table, checkpoint_dir=ck,
                        events_format="kafka", kafka_options=KOPTS)
    with pytest.raises(ValueError, match="bootstrap.servers"):
        StreamingReplay(spark, None, table, checkpoint_dir=ck,
                        events_format="kafka", payload_schema=STREAM_PAYLOAD,
                        kafka_options={"subscribe": "t"})
    with pytest.raises(ValueError, match="subscribe"):
        StreamingReplay(spark, None, table, checkpoint_dir=ck,
                        events_format="kafka", payload_schema=STREAM_PAYLOAD,
                        kafka_options={"kafka.bootstrap.servers": "b:9092"})


def test_kafka_parse_path_is_the_file_tail_parse_path(spark, tmp_path, raw):
    """The kafka branch routes CAST(value AS STRING) through the SAME
    _parse_envelopes the file tail uses — the file-format equivalence
    fixtures therefore certify the kafka parse byte-for-byte; only the
    source connector differs."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.streaming.replay import StreamingReplay

    table, _ = create_table_for_stream(
        spark, None, str(tmp_path / "lk2"), num_buckets=4,
        events_format="kafka", payload_schema=PAYLOAD,
    )
    r = StreamingReplay(
        spark, None, table, checkpoint_dir=str(tmp_path / "ck2"),
        events_format="kafka", payload_schema=PAYLOAD, kafka_options=KOPTS,
    )
    got = r._parse_envelopes(raw).orderBy("seq").collect()
    want = parse_debezium(raw, PAYLOAD).drop("_ts_ms").orderBy("seq").collect()
    assert got == want and len(got) == 4


def test_kafka_stream_wiring_is_jar_gated(spark, tmp_path):
    """_stream() reaches readStream.format('kafka') with the passed
    options: with the spark-sql-kafka runtime jar present the plan
    builds; without it (this sandbox) Spark raises its standard
    missing-data-source error naming kafka — proving the options made it
    to the connector boundary, not failing earlier in our code."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.streaming.replay import StreamingReplay

    table, _ = create_table_for_stream(
        spark, None, str(tmp_path / "lk3"), num_buckets=4,
        events_format="kafka", payload_schema=STREAM_PAYLOAD,
    )
    r = StreamingReplay(
        spark, None, table, checkpoint_dir=str(tmp_path / "ck3"),
        events_format="kafka", payload_schema=STREAM_PAYLOAD,
        kafka_options={**KOPTS, "startingOffsets": "latest",
                       "maxOffsetsPerTrigger": 50_000},
    )
    try:
        r._stream()
    except Exception as e:  # jar absent in this sandbox
        assert "kafka" in str(e).lower(), e


def test_cdc_stream_stage_kafka_config(spark, tmp_path):
    """CDCStreamExecute with eventsFormat=kafka: kafkaOptions replaces
    eventsURI, the lake table bootstraps from payload_schema alone, and
    the stream is attempted against the kafka connector (jar-gated)."""
    from arc_spark.lake.table import LakeTable
    from arc_spark.pipeline import run_config

    troot = str(tmp_path / "klake")
    cfg = {"stages": [{
        "type": "CDCStreamExecute", "name": "kstream",
        "tableURI": troot, "checkpointURI": str(tmp_path / "kck"),
        "eventsFormat": "kafka", "payloadSchema": STREAM_PAYLOAD,
        "numBuckets": 8,
        "kafkaOptions": {"kafka.bootstrap.servers": "broker:9092",
                         "subscribe": "dbz.repo"},
    }]}
    try:
        run_config(spark, cfg)
    except Exception as e:
        assert "kafka" in str(e).lower(), e
    # the table exists with the envelope-derived schema + fingerprint col
    t = LakeTable(troot)
    assert t.exists()
    names = [f.name for f in t.snapshot().schema.fields]
    assert "repo" in names and "content_sha256" in names and "op" not in names

    # missing kafkaOptions is a config error, not a connector error
    bad = {"stages": [{
        "type": "CDCStreamExecute", "name": "k2",
        "tableURI": str(tmp_path / "klake2"),
        "checkpointURI": str(tmp_path / "kck2"),
        "eventsFormat": "kafka", "payloadSchema": STREAM_PAYLOAD,
    }]}
    with pytest.raises(ValueError, match="kafkaOptions"):
        run_config(spark, bad)

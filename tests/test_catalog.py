"""Multi-table catalog: atomic cross-table commits over one change stream.

The property under test is the one a single-table replay cannot give:
readers resolving tables THROUGH the catalog never observe one table at
epoch k and another at epoch k-1, even across crashes between the
per-table merges and the catalog commit.
"""

import pytest
from pyspark.sql import functions as F

from arc_spark.cdc.multi import MultiTableReplay, bootstrap_catalog_for_stream
from arc_spark.cdc.runner import InjectedFailure
from arc_spark.lake.catalog import LakeCatalog
from arc_spark.lake.table import LakeTable


def _two_table_stream(spark, n=600):
    """Deterministic interleaved stream for tables 'files' and 'tags':
    same canonical key/seq shape, different payload distribution."""
    base = spark.range(n).select(
        F.col("id").alias("seq"),
        F.when(F.col("id") % 3 == 0, "tags").otherwise("files").alias("table"),
        F.concat(F.lit("org"), (F.col("id") % 5).cast("string")).alias("repo"),
        F.concat(F.lit("p"), (F.col("id") % 37).cast("string")).alias("path"),
        F.when(F.col("id") % 11 == 0, "delete").otherwise("update").alias("op"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
        F.concat(F.lit("content-"), F.col("id").cast("string")).alias("content"),
    )
    return base


def _write_stream(spark, df, path):
    df.repartitionByRange(4, "seq").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture()
def stream_path(spark, tmp_path):
    return _write_stream(spark, _two_table_stream(spark), str(tmp_path / "ev"))


def _oracle_state(spark, stream_path, name):
    """Brute-force LWW over one table's slice of the stream."""
    ev = spark.read.parquet(stream_path).filter(F.col("table") == name)
    w = ev.groupBy("repo", "path").agg(F.max("seq").alias("seq"))
    last = ev.join(w, ["repo", "path", "seq"])
    return last.filter(F.col("op") != "delete").drop("op", "table")


def test_bootstrap_and_full_replay_matches_oracle(spark, tmp_path, stream_path):
    catalog = bootstrap_catalog_for_stream(
        spark, stream_path, str(tmp_path / "cat"), num_buckets=4
    )
    assert sorted(catalog.snapshot().tables) == ["files", "tags"]
    MultiTableReplay(
        spark, stream_path, catalog, batch_size=150, num_buckets=4
    ).run()
    for name in ("files", "tags"):
        got = catalog.read(spark, name).select("repo", "path", "seq", "commit", "content")
        want = _oracle_state(spark, stream_path, name).select(
            "repo", "path", "seq", "commit", "content"
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    # catalog end_seq fences the whole window
    assert catalog.snapshot().end_seq == 599


def test_catalog_read_is_cross_table_consistent_mid_epoch(
    spark, tmp_path, stream_path
):
    """Crash AFTER table merges but BEFORE the catalog commit: direct
    table reads already see epoch-1 data, but catalog reads still serve
    the epoch-0 version-set for BOTH tables."""
    catalog = bootstrap_catalog_for_stream(
        spark, stream_path, str(tmp_path / "cat"), num_buckets=4
    )
    replay = MultiTableReplay(
        spark, stream_path, catalog, batch_size=300, num_buckets=4
    )
    replay.run(max_epochs=1)  # epoch 0 fully committed
    snap0 = catalog.snapshot()
    rows0 = {n: catalog.read(spark, n).count() for n in ("files", "tags")}

    def crash(epoch, phase):
        if phase == "before_catalog_commit":
            raise InjectedFailure(f"crash at {phase}")

    with pytest.raises(InjectedFailure):
        replay.run(failure_injector=crash)

    # the member tables HAVE committed epoch 1...
    for n in ("files", "tags"):
        t = catalog.table(n)
        assert "1" in t.snapshot().committed_epochs
    # ...but the catalog pin (and so catalog reads) did not move
    snap_after = catalog.snapshot()
    assert snap_after.version == snap0.version
    for n in ("files", "tags"):
        assert catalog.read(spark, n).count() == rows0[n]

    # recovery: rerun with no injector — table merges are fenced no-ops,
    # the catalog commit completes, and the final state equals a clean
    # single-shot replay
    replay2 = MultiTableReplay(
        spark, stream_path, catalog, batch_size=300, num_buckets=4
    )
    metrics = replay2.run()
    assert any(
        all(t["status"] == "skipped" for t in m["tables"].values())
        for m in metrics
    )
    for name in ("files", "tags"):
        got = catalog.read(spark, name).select("repo", "path", "seq", "content")
        want = _oracle_state(spark, stream_path, name).select(
            "repo", "path", "seq", "content"
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_malformed_and_redelivered_events_in_a_multi_table_epoch(spark, tmp_path):
    """The multi-table epoch runs the batch runner's kernel: an
    op='garbage' event fails the epoch before the catalog moves, and a
    verbatim redelivered event lands once per key."""
    schema = "seq long, table string, repo string, path string, op string, content string"
    clean = [
        (0, "files", "r", "a", "insert", "a0"),
        (1, "tags", "r", "x", "insert", "x1"),
        (2, "files", "r", "c", "update", "c2"),
        (2, "files", "r", "c", "update", "c2"),  # verbatim redelivery
    ]
    garbage = [(3, "files", "r", "g", "garbage", "g3")]
    bad = _write_stream(
        spark, spark.createDataFrame(clean + garbage, schema), str(tmp_path / "bad")
    )
    catalog = bootstrap_catalog_for_stream(
        spark, bad, str(tmp_path / "cat"), num_buckets=2
    )
    version = catalog.current_version()
    with pytest.raises(Exception, match="malformed change event"):
        MultiTableReplay(spark, bad, catalog, num_buckets=2).run()
    assert catalog.current_version() == version

    good = _write_stream(
        spark, spark.createDataFrame(clean, schema), str(tmp_path / "good")
    )
    (m,) = MultiTableReplay(spark, good, catalog, num_buckets=2).run()
    assert m["status"] == "committed" and m["events_redelivered"] == 1
    files = catalog.read(spark, "files").select("repo", "path", "seq").collect()
    assert sorted(tuple(r) for r in files) == [("r", "a", 0), ("r", "c", 2)]


def test_commit_epoch_is_fenced(spark, tmp_path, stream_path):
    catalog = bootstrap_catalog_for_stream(
        spark, stream_path, str(tmp_path / "cat"), num_buckets=4
    )
    MultiTableReplay(spark, stream_path, catalog, batch_size=600, num_buckets=4).run()
    v = catalog.current_version()
    res = catalog.commit_epoch(
        0, start_seq=0, end_seq=599,
        table_versions={"files": 1, "tags": 1},
    )
    assert res["status"] == "skipped"
    assert catalog.current_version() == v


def test_unknown_table_policies(spark, tmp_path, stream_path):
    # error (default): fails before anything commits
    cat_root = str(tmp_path / "cat_err")
    catalog = LakeCatalog(cat_root)
    catalog.create()
    replay = MultiTableReplay(spark, stream_path, catalog, batch_size=600)
    with pytest.raises(KeyError, match="unregistered"):
        replay.run()
    assert catalog.snapshot().end_seq == -1

    # create: auto-registers both tables and converges to the oracle
    cat2 = LakeCatalog(str(tmp_path / "cat_create"))
    cat2.create()
    MultiTableReplay(
        spark, stream_path, cat2, batch_size=200, num_buckets=4,
        on_unknown_table="create",
    ).run()
    got = cat2.read(spark, "tags").select("repo", "path", "seq")
    want = _oracle_state(spark, stream_path, "tags").select("repo", "path", "seq")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # ignore: unknown-table events dropped but counted
    cat3 = LakeCatalog(str(tmp_path / "cat_ign"))
    cat3.create()
    cat3.register(
        "files",
        schema=spark.read.parquet(stream_path).drop("table", "op").schema,
        key_cols=["repo", "path"],
        num_buckets=4,
    )
    m = MultiTableReplay(
        spark, stream_path, cat3, batch_size=600, num_buckets=4,
        on_unknown_table="ignore", fingerprint=False,
    ).run()
    assert m[0]["events_ignored"] == 200  # ids % 3 == 0
    assert "tags" not in cat3.snapshot().tables


def test_time_travel_pins_cross_table_epoch_boundaries(
    spark, tmp_path, stream_path
):
    """Each catalog version is a consistent cross-table snapshot: at any
    historical version, both tables reflect exactly the same seq window."""
    catalog = bootstrap_catalog_for_stream(
        spark, stream_path, str(tmp_path / "cat"), num_buckets=4
    )
    MultiTableReplay(
        spark, stream_path, catalog, batch_size=150, num_buckets=4
    ).run()
    # versions: 0 (create) .. 2 (register x2), then one per epoch
    for v in range(3, catalog.current_version() + 1):
        snap = catalog.snapshot(v)
        horizon = snap.end_seq
        for name in ("files", "tags"):
            df = catalog.read(spark, name, version=v)
            assert df.agg(F.max("seq")).first()[0] <= horizon
            # every key whose last write <= horizon and wasn't a delete
            # is present
            want_n = _oracle_state(
                spark, stream_path, name
            ).filter(F.col("seq") <= horizon)
            ev = spark.read.parquet(stream_path).filter(
                (F.col("table") == name) & (F.col("seq") <= horizon)
            )
            w = ev.groupBy("repo", "path").agg(F.max("seq").alias("seq"))
            want = ev.join(w, ["repo", "path", "seq"]).filter(
                F.col("op") != "delete"
            )
            assert df.count() == want.count()


def test_register_adopts_existing_table_and_rejects_conflicts(spark, tmp_path):
    root = str(tmp_path / "solo")
    t = LakeTable(root)
    df = spark.createDataFrame(
        [(0, "r", "p", "c")], "seq: long, repo: string, path: string, content: string"
    )
    t.create(df.schema, ["repo", "path"], num_buckets=2)
    catalog = LakeCatalog(str(tmp_path / "cat"))
    catalog.create()
    catalog.register("solo", table_root=root)
    assert catalog.snapshot().tables["solo"]["root"] == root
    # idempotent re-register
    catalog.register("solo", table_root=root)
    # conflicting root rejected
    with pytest.raises(ValueError, match="already registered"):
        catalog.register("solo", table_root=str(tmp_path / "other"))
    # missing table without schema rejected
    with pytest.raises(FileNotFoundError):
        catalog.register("ghost", table_root=str(tmp_path / "nope"))


def test_debezium_multi_table_roundtrip(spark, tmp_path):
    """A whole-database Debezium tail (source.table routing) replays into
    the catalog and converges per table."""
    from arc_spark.cdc.debezium import to_debezium_json

    stream = _two_table_stream(spark, 300)
    tail = to_debezium_json(stream, table_col="table")
    tail.coalesce(2).write.mode("overwrite").text(str(tmp_path / "dbz"))

    payload = "repo string, path string, commit string, content string"
    catalog = LakeCatalog(str(tmp_path / "cat"))
    catalog.create()
    MultiTableReplay(
        spark,
        str(tmp_path / "dbz"),
        catalog,
        batch_size=100,
        num_buckets=4,
        on_unknown_table="create",
        events_format="debezium",
        payload_schema=payload,
    ).run()
    pq = _write_stream(spark, stream, str(tmp_path / "ev"))
    for name in ("files", "tags"):
        got = catalog.read(spark, name).select("repo", "path", "seq", "content")
        want = _oracle_state(spark, pq, name).select("repo", "path", "seq", "content")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_cdc_multi_replay_execute_stage(spark, tmp_path, stream_path):
    """The declarative stage: auto-bootstrap, atomic epochs, rerun is a
    fenced no-op, outputViews serve catalog-consistent reads."""
    from arc_spark.pipeline import run_config

    cfg = {"stages": [
        {"type": "CDCMultiReplayExecute", "name": "repl",
         "eventsURI": stream_path, "catalogURI": str(tmp_path / "cat"),
         "batchSize": 200, "numBuckets": 4,
         "outputViews": {"files": "files_state", "tags": "tags_state"}},
    ]}
    df, ctx = run_config(spark, cfg)
    epochs = [e for e in ctx.events if e.get("event") == "epoch.complete"]
    assert len(epochs) == 3
    assert all(e["status"] == "committed" for e in epochs)
    got = spark.table("files_state").select("repo", "path", "seq", "content")
    want = _oracle_state(spark, stream_path, "files").select(
        "repo", "path", "seq", "content"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # exactly-once rerun: no new epochs
    df2, ctx2 = run_config(spark, cfg)
    assert not [e for e in ctx2.events if e.get("event") == "epoch.complete"]


def test_catalog_iceberg_warehouse_export(spark, tmp_path, stream_path):
    """export_catalog_iceberg publishes every member table as its own
    Iceberg table at the catalog-pinned version (atomic epoch set), and
    the declarative stage's icebergMirror flag drives it; each mirror is
    read back through the independent spec reader."""
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.pipeline import run_config

    cfg = {"stages": [
        {"type": "CDCMultiReplayExecute", "name": "repl",
         "eventsURI": stream_path, "catalogURI": str(tmp_path / "cat"),
         "batchSize": 200, "numBuckets": 4, "icebergMirror": True},
    ]}
    _, ctx = run_config(spark, cfg)
    mirror = [e for e in ctx.events
              if e.get("event") == "iceberg.mirror.catalog"]
    assert len(mirror) == 1 and sorted(mirror[0]["tables"]) == ["files", "tags"]
    catalog = LakeCatalog(str(tmp_path / "cat"))
    for name in ("files", "tags"):
        got = read_iceberg(spark, catalog.snapshot().tables[name]["root"])
        want = catalog.read(spark, name).select(*got.columns)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # pinned versions: exporting an OLDER catalog snapshot round-trips
    # the epoch the catalog committed THEN, not the current table state
    from arc_spark.lake.iceberg_export import export_catalog_iceberg

    old_v = catalog.current_version() - 1  # one atomic epoch back
    res = export_catalog_iceberg(spark, catalog, version=old_v)
    assert res["catalog_version"] == old_v
    for name in ("files", "tags"):
        got = read_iceberg(spark, catalog.snapshot().tables[name]["root"])
        want = catalog.read(spark, name, version=old_v).select(*got.columns)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the older pin differs from the current state for at least one table
    cur = catalog.read(spark, "files")
    old = catalog.read(spark, "files", version=old_v)
    assert cur.exceptAll(old).count() > 0

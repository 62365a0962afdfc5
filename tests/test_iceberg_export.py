"""Iceberg v2 export: the metadata chain (metadata.json → manifest list →
manifests → data/delete files) is parsed BACK with independent readers
(json + our own Avro OCF decoder) and the spec's scan semantics are
replayed over it — the result must equal ``table.read``. No Iceberg
runtime ships in this sandbox (documented decision: the exporter targets
the PUBLIC spec; the jar-gated MERGE INTO alternative needs a runtime we
cannot download), so spec-replay is the strongest offline round-trip."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from arc_spark.cdc import ReplayRunner, write_change_stream
from arc_spark.cdc.bootstrap import create_table_for_stream
from arc_spark.formats.avro import read_ocf_bytes
from arc_spark.fs import LocalFS
from arc_spark.lake.iceberg_export import export_iceberg
from arc_spark.lake.table import LakeTable


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A replayed lake table with real deletes (tombstones in base files)."""
    d = tmp_path_factory.mktemp("ice")
    stream = write_change_stream(spark, str(d / "ev"), 1200, seed=3,
                                 num_partitions=4)
    table, _ = create_table_for_stream(spark, stream, str(d / "lake"),
                                       num_buckets=8)
    ReplayRunner(spark, stream, table, batch_size=700).run()
    return table


def _scan_like_iceberg(spark, meta_path):
    """Replay the spec: version-hint → metadata.json → current snapshot's
    manifest list → manifests → data files minus equality-deleted keys
    (applied to strictly smaller data sequence numbers)."""
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(meta_path))
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, manifests = read_ocf_bytes(fs.read_bytes(snap["manifest-list"]))
    data_files, deletes = [], []  # (path, seq) / (path, seq, eq_ids)
    for m in manifests:
        _, entries = read_ocf_bytes(fs.read_bytes(m["manifest_path"]))
        for e in entries:
            df_ = e["data_file"]
            if df_["content"] == 0:
                data_files.append((df_["file_path"], e["sequence_number"]))
            else:
                assert df_["content"] == 2  # equality deletes
                deletes.append((df_["file_path"], e["sequence_number"],
                                df_["equality_ids"]))
    schema_fields = {f["id"]: f["name"] for f in meta["schemas"][0]["fields"]}
    # resolve columns the way a spec-compliant reader does for id-less
    # parquet: through schema.name-mapping.default (first mapped name
    # present in the file wins, surfaced under the schema's field name)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    # per-file data sequence numbers: read each sequence group separately
    # so equality deletes can scope to STRICTLY SMALLER sequences (the
    # spec rule that encodes MOR shadowing)
    by_seq: dict[int, list[str]] = {}
    for p, s in data_files:
        by_seq.setdefault(s, []).append(p)
    raw = None
    for s in sorted(by_seq):
        part = spark.read.option("mergeSchema", "true").parquet(
            *by_seq[s]
        ).withColumn("_seq", F.lit(s))
        raw = part if raw is None else raw.unionByName(
            part, allowMissingColumns=True
        )
    sel = []
    for entry in nm:
        name = schema_fields[entry["field-id"]]
        present = [n for n in entry["names"] if n in raw.columns]
        assert present, f"name mapping unresolvable for {name}: {entry}"
        sel.append(F.col(present[0]).alias(name))
    out = raw.select(*sel, "_seq")
    for path, dseq, eq_ids in deletes:
        key_cols = [schema_fields[i] for i in eq_ids]
        dead = spark.read.parquet(path).select(*key_cols)
        out = out.filter(F.col("_seq") < dseq).join(
            dead, key_cols, "left_anti"
        ).unionByName(out.filter(F.col("_seq") >= dseq))
    return out.drop("_seq")


def test_export_round_trips_live_rows(spark, lake):
    res = export_iceberg(spark, lake)
    assert res["data_files"] > 0 and res["deleted_keys"] > 0
    assert res["delete_files"] == 1
    got = _scan_like_iceberg(spark, res["metadata"])
    want = lake.read(spark).select(*got.columns)
    assert got.count() == res["live_rows"] == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_metadata_json_spec_shape(spark, lake):
    res = export_iceberg(spark, lake)
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(res["metadata"]))
    assert meta["format-version"] == 2
    assert meta["partition-specs"] == [{"spec-id": 0, "fields": []}]
    schema = meta["schemas"][meta["current-schema-id"]]
    ids = []

    def walk(fields):
        for f in fields:
            ids.append(f["id"])
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t["fields"])
            elif isinstance(t, dict) and t.get("type") == "list":
                ids.append(t["element-id"])
            elif isinstance(t, dict) and t.get("type") == "map":
                ids.extend([t["key-id"], t["value-id"]])

    walk(schema["fields"])
    assert len(ids) == len(set(ids)), "field ids must be unique"
    assert max(ids) <= meta["last-column-id"]
    # the internal _tombstone column is NOT exported
    names = [f["name"] for f in schema["fields"]]
    assert "_tombstone" not in names and "repo" in names
    # name mapping covers every top-level field
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {e["field-id"] for e in nm} == {f["id"] for f in schema["fields"]}
    # version hint (HadoopCatalog layout) points at THIS export's
    # metadata version (exports append history, so it increments)
    import re

    hint = fs.read_bytes(res["metadata"].rsplit("/", 1)[0] + "/version-hint.text")
    assert hint.decode() == re.search(r"v(\d+)\.metadata\.json",
                                      res["metadata"]).group(1)


def test_manifest_avro_field_ids_and_counts(spark, lake):
    import pyarrow.parquet as pq

    res = export_iceberg(spark, lake)
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(res["metadata"]))
    snap = meta["snapshots"][0]
    mlist_schema, manifests = read_ocf_bytes(fs.read_bytes(snap["manifest-list"]))
    by_name = {f["name"]: f for f in mlist_schema["fields"]}
    assert by_name["manifest_path"]["field-id"] == 500
    assert by_name["sequence_number"]["field-id"] == 515
    data_m = [m for m in manifests if m["content"] == 0]
    del_m = [m for m in manifests if m["content"] == 1]
    assert len(data_m) == 1 and len(del_m) == 1
    assert data_m[0]["sequence_number"] == 1 < del_m[0]["sequence_number"] == 2
    eschema, entries = read_ocf_bytes(fs.read_bytes(data_m[0]["manifest_path"]))
    dfile = next(f for f in eschema["fields"] if f["name"] == "data_file")
    sub = {f["name"]: f["field-id"] for f in dfile["type"]["fields"]}
    assert sub["file_path"] == 100 and sub["record_count"] == 103
    # record_count per entry equals the parquet footer
    for e in entries:
        d = e["data_file"]
        assert d["record_count"] == pq.ParquetFile(d["file_path"]).metadata.num_rows
        assert d["file_size_in_bytes"] > 0 and d["file_format"] == "PARQUET"
    assert sum(e["data_file"]["record_count"] for e in entries) == res["physical_rows"]
    # equality ids point at the key columns
    _, dels = read_ocf_bytes(fs.read_bytes(del_m[0]["manifest_path"]))
    schema_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    assert dels[0]["data_file"]["equality_ids"] == [
        schema_ids[k] for k in ["repo", "path"]
    ]


def test_export_mor_debt_zero_copy(spark, lake, tmp_path):
    """Outstanding MOR delta files export WITHOUT compaction: the delta
    becomes a data file at a higher sequence number plus a same-sequence
    equality delete of its keys, so the spec scan shadows the base
    version exactly like the lake's own max-seq resolution."""
    t = LakeTable(lake.root)  # fresh handle
    df = spark.createDataFrame(
        [("rX", "pX", "c", "py", "v", None, 10_000, "upsert")],
        "repo string, path string, commit string, lang string, "
        "content string, ts timestamp, seq long, op string",
    )
    r = t.merge(spark, df, epoch=9000, start_seq=10_000, end_seq=10_000,
                mode="delta")
    assert r["status"] == "committed"
    res = export_iceberg(spark, t)
    assert res["delta_levels"] >= 1 and res["delete_files"] >= 1
    got = _scan_like_iceberg(spark, res["metadata"])
    want = t.read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the export left the delta chain in place (no forced compaction)
    assert any(t.snapshot().delta_files.values())
    t.compact(spark)  # leave the shared fixture compacted for later tests
    res2 = export_iceberg(spark, t)
    assert res2["delta_levels"] == 0
    got2 = _scan_like_iceberg(spark, res2["metadata"])
    assert got2.exceptAll(want).isEmpty() and want.exceptAll(got2).isEmpty()


def test_export_mor_multi_level_tombstones(spark, tmp_path):
    """Two delta epochs over a base with every MOR shape at once: update
    shadowing base, delete-then-reinsert across levels, delete whose
    tombstone is final, and a fresh insert — the spec scan (and the
    independent read_iceberg) must equal the lake read at every step,
    with zero data files rewritten."""
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "mor")
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, ts timestamp, seq long, op string")
    base = spark.createDataFrame(
        [("r", f"p{i}", "c0", "py", f"v{i}", None, i + 1, "upsert")
         for i in range(6)], ddl)
    t = LakeTable(d)
    t.create(base.drop("op").schema, ["repo", "path"],
             seq_col="seq", num_buckets=4)
    t.merge(spark, base, epoch=0, start_seq=1, end_seq=6, mode="cow")
    lvl1 = spark.createDataFrame(
        [("r", "p0", "c1", "py", "v0b", None, 10, "upsert"),   # update
         ("r", "p1", "c1", "py", None, None, 11, "delete"),    # del->reins
         ("r", "p2", "c1", "py", None, None, 12, "delete"),    # final del
         ("r", "p9", "c1", "py", "new", None, 13, "upsert")],  # insert
        ddl)
    t.merge(spark, lvl1, epoch=1, start_seq=10, end_seq=13, mode="delta")
    lvl2 = spark.createDataFrame(
        [("r", "p1", "c2", "py", "v1c", None, 20, "upsert"),   # reinsert
         ("r", "p0", "c2", "py", "v0c", None, 21, "upsert"),   # re-update
         ("r", "p9", "c2", "py", None, None, 22, "delete")],   # del insert
        ddl)
    t.merge(spark, lvl2, epoch=2, start_seq=20, end_seq=22, mode="delta")

    res = export_iceberg(spark, t)
    assert res["delta_levels"] == 2
    want = t.read(spark).select("repo", "path", "seq", "content")
    got = _scan_like_iceberg(spark, res["metadata"]).select(*want.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    ind = read_iceberg(spark, d).select(*want.columns)
    assert ind.exceptAll(want).isEmpty() and want.exceptAll(ind).isEmpty()
    assert res["live_rows"] == want.count()
    # zero-copy: every lake data file (base + delta) referenced in place,
    # only small key-only delete files written under data/
    fs = LocalFS()
    snap = t.snapshot()
    _, manifests = read_ocf_bytes(fs.read_bytes(res["manifest_list"]))
    data_paths = set()
    for m in manifests:
        _, entries = read_ocf_bytes(fs.read_bytes(m["manifest_path"]))
        for e in entries:
            if e["data_file"]["content"] == 0:
                data_paths.add(e["data_file"]["file_path"])
    lake_paths = {f"{t.root}/{p}" for fs_ in
                  (snap.files, snap.delta_files) for b in fs_
                  for p in fs_[b]}
    assert data_paths == lake_paths


def test_export_maps_renames_into_name_mapping(spark, tmp_path):
    """Metadata-only rename: the exported schema shows the NEW name while
    the name mapping also carries the old one — Iceberg's own recipe for
    reading pre-rename parquet without rewrite."""
    d = str(tmp_path / "rn")
    stream = write_change_stream(spark, f"{d}/ev", 300, seed=5,
                                 num_partitions=2)
    table, _ = create_table_for_stream(spark, stream, f"{d}/lake",
                                       num_buckets=4)
    ReplayRunner(spark, stream, table, batch_size=300).run()
    table.alter_schema(rename={"content": "body"})
    res = export_iceberg(spark, table)
    meta = json.loads(LocalFS().read_bytes(res["metadata"]))
    schema = meta["schemas"][0]
    names = [f["name"] for f in schema["fields"]]
    assert "body" in names and "content" not in names
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    body = next(e for e in nm if "body" in e["names"])
    assert "content" in body["names"]  # old files resolve to the same id
    # the mapping-aware scan reads the OLD parquet column under the NEW
    # name and still matches the lake's own coalescing read
    got = _scan_like_iceberg(spark, res["metadata"])
    assert "body" in got.columns
    want = table.read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_iceberg_export_stage(spark, lake):
    from arc_spark.pipeline import run_config

    cfg = {"stages": [{
        "type": "IcebergExportExecute", "name": "pub", "tableURI": lake.root,
    }]}
    _, ctx = run_config(spark, cfg)
    ev = next(e for e in ctx.events if e.get("stage") == "pub")
    assert ev["data_files"] > 0 and ev["live_rows"] > 0
    got = _scan_like_iceberg(spark, ev["metadata"])
    want = lake.read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty()


# -- the inbound half: read_iceberg (no runtime jar) ------------------------

def test_read_iceberg_round_trips_export(spark, lake):
    """export_iceberg → read_iceberg == table.read: the reader applies
    the equality-delete file through the general sequence-number rules
    (not the exporter's special case)."""
    from arc_spark.lake.iceberg_read import read_iceberg

    export_iceberg(spark, lake)
    got = read_iceberg(spark, lake.root)
    want = lake.read(spark).select(*got.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def _hand_built_iceberg(spark, tmp_path, *, with_pos_delete=True):
    """A tiny Iceberg v2 table built by hand (NOT via the exporter):
    two data files at different data sequence numbers, a position-delete
    file (kills row 1 of file A), an equality delete at seq 3 that must
    NOT touch the seq-3 data file, and two snapshots for time travel."""
    import json as _json

    from arc_spark.formats.avro import write_ocf_bytes
    from arc_spark.lake.iceberg_export import (
        _build_schema, _manifest_entry_schema, _manifest_file_schema,
    )
    from pyspark.sql import types as T

    root = str(tmp_path / "hand_ice")
    os_mk = lambda p: __import__("os").makedirs(p, exist_ok=True)  # noqa: E731
    os_mk(f"{root}/data")
    os_mk(f"{root}/metadata")

    # data file A (seq 1): ids 1..4 ; data file B (seq 3): ids 10..11
    dfa = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
    ).coalesce(1)
    dfa.write.mode("overwrite").parquet(f"{root}/data/a")
    dfb = spark.createDataFrame([(10, "x"), (2, "B2")], "id long, v string") \
        .coalesce(1)
    dfb.write.mode("overwrite").parquet(f"{root}/data/b")
    import glob

    fa = glob.glob(f"{root}/data/a/*.parquet")[0]
    fb = glob.glob(f"{root}/data/b/*.parquet")[0]

    schema_json, name_mapping, ids, last_id = _build_schema(
        T.StructType([
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]), {}
    )

    def dentry(path, seq, nrec, content=0, eq=None):
        return {"status": 1, "snapshot_id": 99, "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {"content": content, "file_path": path,
                              "file_format": "PARQUET", "partition": {},
                              "record_count": nrec,
                              "file_size_in_bytes": 1,
                              "equality_ids": eq}}

    # position delete (seq 2): kills (fa, pos 1) -> id 2 of file A
    pd = spark.createDataFrame([(fa, 1)], "file_path string, pos long") \
        .coalesce(1)
    pd.write.mode("overwrite").parquet(f"{root}/data/pd")
    fpd = glob.glob(f"{root}/data/pd/*.parquet")[0]
    # equality delete (seq 3): id=10 — applies ONLY to files with seq<3,
    # so file B's (10, 'x') at seq 3 SURVIVES; id 4 dies from file A
    ed = spark.createDataFrame([(4,), (10,)], "id long").coalesce(1)
    ed.write.mode("overwrite").parquet(f"{root}/data/ed")
    fed = glob.glob(f"{root}/data/ed/*.parquet")[0]

    def manifest(path, entries):
        with open(path, "wb") as f:
            f.write(write_ocf_bytes(_manifest_entry_schema(), entries,
                                    codec="deflate"))

    manifest(f"{root}/metadata/m-data1.avro", [dentry(fa, 1, 4)])
    manifest(f"{root}/metadata/m-data2.avro", [dentry(fb, 3, 2)])
    entries = [dentry(fed, 3, 2, content=2, eq=[ids["id"]])]
    if with_pos_delete:
        entries.insert(0, dentry(fpd, 2, 1, content=1))
    manifest(f"{root}/metadata/m-del.avro", entries)

    def mlist(path, manifests):
        rows = [{"manifest_path": p, "manifest_length": 1,
                 "partition_spec_id": 0, "content": c,
                 "sequence_number": s, "min_sequence_number": s,
                 "added_snapshot_id": 99, "added_files_count": 1,
                 "existing_files_count": 0, "deleted_files_count": 0,
                 "added_rows_count": 1, "existing_rows_count": 0,
                 "deleted_rows_count": 0} for p, c, s in manifests]
        with open(path, "wb") as f:
            f.write(write_ocf_bytes(_manifest_file_schema(), rows,
                                    codec="deflate"))

    mlist(f"{root}/metadata/snap-1.avro",
          [(f"{root}/metadata/m-data1.avro", 0, 1)])
    mlist(f"{root}/metadata/snap-2.avro",
          [(f"{root}/metadata/m-data1.avro", 0, 1),
           (f"{root}/metadata/m-data2.avro", 0, 3),
           (f"{root}/metadata/m-del.avro", 1, 3)])
    meta = {
        "format-version": 2, "table-uuid": "t", "location": root,
        "last-sequence-number": 3, "last-updated-ms": 0,
        "last-column-id": last_id, "current-schema-id": 0,
        "schemas": [schema_json], "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": _json.dumps(name_mapping)},
        "current-snapshot-id": 99,
        "snapshots": [
            {"snapshot-id": 98, "timestamp-ms": 0, "sequence-number": 1,
             "summary": {"operation": "append"},
             "manifest-list": f"{root}/metadata/snap-1.avro", "schema-id": 0},
            {"snapshot-id": 99, "timestamp-ms": 1, "sequence-number": 3,
             "summary": {"operation": "append"},
             "manifest-list": f"{root}/metadata/snap-2.avro", "schema-id": 0},
        ],
    }
    with open(f"{root}/metadata/v1.metadata.json", "w") as f:
        _json.dump(meta, f)
    with open(f"{root}/metadata/version-hint.text", "w") as f:
        f.write("1")
    return root


def test_read_iceberg_position_and_equality_deletes(spark, tmp_path):
    """Spec rules on a hand-built table: position delete (seq 2) kills
    row 1 of the seq-1 file; equality delete on id at seq 3 kills seq-1
    rows only (STRICTLY smaller) — the seq-3 file's id=10 row and the
    re-inserted id=2 both survive."""
    from arc_spark.lake.iceberg_read import read_iceberg

    root = _hand_built_iceberg(spark, tmp_path)
    got = {(r["id"], r["v"]) for r in read_iceberg(spark, root).collect()}
    # file A (seq 1): 1,2,3,4 -> pos-delete removes 2; eq-delete removes 4
    # (id 10 not present in seq-1 files); file B (seq 3): 10 and 2 survive
    assert got == {(1, "a"), (3, "c"), (10, "x"), (2, "B2")}


def test_read_iceberg_time_travel_and_errors(spark, tmp_path):
    from arc_spark.lake.iceberg_read import read_iceberg

    root = _hand_built_iceberg(spark, tmp_path)
    old = {(r["id"], r["v"])
           for r in read_iceberg(spark, root, snapshot_id=98).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    with pytest.raises(ValueError, match="snapshot 7 not found"):
        read_iceberg(spark, root, snapshot_id=7)
    with pytest.raises(FileNotFoundError, match="metadata"):
        read_iceberg(spark, str(tmp_path / "not_a_table"))


def test_iceberg_extract_stage_round_trip(spark, lake):
    from arc_spark.pipeline import run_config

    export_iceberg(spark, lake)
    cfg = {"stages": [{
        "type": "IcebergExtract", "name": "rd", "inputURI": lake.root,
        "outputView": "ice_rt",
    }]}
    df, _ = run_config(spark, cfg)
    want = lake.read(spark).select(*df.columns)
    assert df.exceptAll(want).isEmpty() and want.exceptAll(df).isEmpty()


def test_repeated_exports_append_snapshot_history(spark, tmp_path):
    """Two exports around extra replay epochs produce v1+v2 metadata with
    BOTH snapshots: the current read tracks the latest lake state and
    time travel to the first snapshot-id reproduces the state at the
    first export — real Iceberg history, stable table-uuid."""
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "hist")
    stream = write_change_stream(spark, f"{d}/ev", 1000, seed=8,
                                 num_partitions=4)
    table, _ = create_table_for_stream(spark, stream, f"{d}/lake",
                                       num_buckets=4)
    ReplayRunner(spark, stream, table, batch_size=500).run(max_epochs=1)
    r1 = export_iceberg(spark, table)
    state1 = {tuple(r) for r in read_iceberg(spark, table.root)
              .select("repo", "path", "seq").collect()}

    ReplayRunner(spark, stream, table, batch_size=500).run()  # rest
    r2 = export_iceberg(spark, table)
    assert r2["metadata"].endswith("v2.metadata.json")

    fs = LocalFS()
    meta = json.loads(fs.read_bytes(r2["metadata"]))
    assert len(meta["snapshots"]) == 2
    m1 = json.loads(fs.read_bytes(r1["metadata"]))
    assert meta["table-uuid"] == m1["table-uuid"]
    sid1, sid2 = [s["snapshot-id"] for s in meta["snapshots"]]
    assert sid2 > sid1
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs[1] > seqs[0]  # monotone sequence numbers across exports
    assert meta["metadata-log"][0]["metadata-file"] == r1["metadata"]
    assert meta["snapshots"][1]["summary"]["operation"] == "overwrite"
    # schema unchanged -> schema-id reused, one schema in the list
    assert len(meta["schemas"]) == 1

    # current read = latest lake state
    cur = {tuple(r) for r in read_iceberg(spark, table.root)
           .select("repo", "path", "seq").collect()}
    want = {tuple(r) for r in table.read(spark)
            .select("repo", "path", "seq").collect()}
    assert cur == want and cur != state1
    # time travel to the first export
    old = {tuple(r) for r in
           read_iceberg(spark, table.root, snapshot_id=sid1)
           .select("repo", "path", "seq").collect()}
    assert old == state1


@pytest.mark.parametrize("merge_mode", ["cow", "delta"])
def test_cdc_replay_stage_iceberg_mirror(spark, tmp_path, merge_mode):
    """icebergMirror: true on CDCReplayExecute appends an Iceberg
    snapshot after the replay and the mirrored read equals the lake
    read — in BOTH compaction states (cow, and delta with outstanding
    MOR files exported as sequence-numbered levels)."""
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.pipeline import run_config

    d = str(tmp_path / f"mir_{merge_mode}")
    write_change_stream(spark, f"{d}/ev", 800, seed=4, num_partitions=4)
    cfg = {"stages": [{
        "type": "CDCReplayExecute", "name": "rep",
        "eventsURI": f"{d}/ev", "tableURI": f"{d}/lake",
        "batchSize": 500, "numBuckets": 4, "mergeMode": merge_mode,
        "icebergMirror": True,
    }]}
    _, ctx = run_config(spark, cfg)
    mirror = [e for e in ctx.events
              if e.get("event") == "iceberg.mirror"]
    assert len(mirror) == 1 and mirror[0]["data_files"] > 0
    if merge_mode == "delta":
        assert mirror[0]["delta_levels"] >= 1  # mirrored WITH MOR debt
    got = read_iceberg(spark, f"{d}/lake")
    want = LakeTable(f"{d}/lake").read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_expire_snapshots_reconciles_iceberg_mirror(spark, tmp_path):
    """Lake GC and the Iceberg mirror share data files, so
    expire_snapshots must (a) keep the surviving snapshots' equality-
    delete parquets alive, (b) expire Iceberg snapshots whose data files
    it reaps, (c) remove the mirror entirely when nothing survives."""
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "gc")
    stream = write_change_stream(spark, f"{d}/ev", 1000, seed=6,
                                 num_partitions=4)
    table, _ = create_table_for_stream(spark, stream, f"{d}/lake",
                                       num_buckets=4)
    ReplayRunner(spark, stream, table, batch_size=500).run(max_epochs=1)
    r1 = export_iceberg(spark, table)
    ReplayRunner(spark, stream, table, batch_size=500).run()
    r2 = export_iceberg(spark, table)
    fs = LocalFS()
    m2 = json.loads(fs.read_bytes(r2["metadata"]))
    assert len(m2["snapshots"]) == 2

    # keep only the latest lake version: epoch-1 COW rewrote the touched
    # buckets, so the first export's base files are reaped -> its Iceberg
    # snapshot must be expired while the second survives intact
    res = table.expire_snapshots(keep_last=1)
    assert res["iceberg"]["snapshots_dropped"] == 1
    assert res["iceberg"]["snapshots_kept"] == 1
    got = read_iceberg(spark, table.root)
    want = table.read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    meta_now = json.loads(fs.read_bytes(
        fs.read_bytes(f"{table.root}/metadata/version-hint.text").decode()
        .join([f"{table.root}/metadata/v", ".metadata.json"])))
    assert len(meta_now["snapshots"]) == 1
    assert meta_now["current-snapshot-id"] == m2["current-snapshot-id"]
    # the dropped snapshot's manifest avros are gone, survivors remain
    assert not fs.exists(m2["snapshots"][0]["manifest-list"])
    assert fs.exists(meta_now["snapshots"][0]["manifest-list"])

    # a full-rewrite compact + expire with NO re-export in between kills
    # every exported snapshot -> the mirror is removed, not left dangling
    table.compact(spark)
    res2 = table.expire_snapshots(keep_last=1)
    assert res2["iceberg"]["mirror_removed"] is True
    assert not fs.exists(f"{table.root}/metadata")
    with pytest.raises((FileNotFoundError, ValueError)):
        read_iceberg(spark, table.root)
    # re-publishing starts a fresh chain at v1
    r3 = export_iceberg(spark, table)
    assert r3["metadata"].endswith("v1.metadata.json")
    got3 = read_iceberg(spark, table.root)
    want3 = table.read(spark).select(*got3.columns)  # post-GC file set
    assert got3.exceptAll(want3).isEmpty() and want3.exceptAll(got3).isEmpty()


def test_expire_snapshots_no_mirror_untouched(spark, tmp_path):
    """A table that was never exported expires exactly as before."""
    d = str(tmp_path / "nogc")
    stream = write_change_stream(spark, f"{d}/ev", 400, seed=2,
                                 num_partitions=2)
    table, _ = create_table_for_stream(spark, stream, f"{d}/lake",
                                       num_buckets=2)
    ReplayRunner(spark, stream, table, batch_size=200).run()
    res = table.expire_snapshots(keep_last=1)
    assert res["status"] == "expired" and "iceberg" not in res


def test_export_mor_out_of_order_chain_reencodes(spark, tmp_path):
    """A late LOWER-seq event applied in a LATER delta epoch (the
    file-tail streaming shape) breaks the zero-copy level invariant —
    the export must detect it and re-encode the delta keys' resolved
    winners instead of letting a level delete kill the true winner."""
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "ooo")
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, ts timestamp, seq long, op string")
    base = spark.createDataFrame(
        [("r", f"p{i}", "c0", "py", f"v{i}", None, i + 100, "upsert")
         for i in range(4)], ddl)
    t = LakeTable(d)
    t.create(base.drop("op").schema, ["repo", "path"],
             seq_col="seq", num_buckets=2)
    t.merge(spark, base, epoch=0, start_seq=100, end_seq=103, mode="cow")
    # epoch 1 carries a NEWER update for p0 (seq 300)
    lvl1 = spark.createDataFrame(
        [("r", "p0", "c1", "py", "winner", None, 300, "upsert")], ddl)
    t.merge(spark, lvl1, epoch=1, start_seq=300, end_seq=300, mode="delta")
    # epoch 2 carries LATE, OLDER events: a stale p0 update (seq 50,
    # loses to both base and lvl1) and a late delete for p1 (seq 40,
    # loses to base seq 101)
    lvl2 = spark.createDataFrame(
        [("r", "p0", "cX", "py", "stale", None, 50, "upsert"),
         ("r", "p1", "cX", "py", None, None, 40, "delete")], ddl)
    t.merge(spark, lvl2, epoch=2, start_seq=40, end_seq=50, mode="delta")

    res = export_iceberg(spark, t)
    assert res["zero_copy_chain"] is False and res["delta_levels"] == 1
    want = t.read(spark).select("repo", "path", "seq", "content")
    got = _scan_like_iceberg(spark, res["metadata"]).select(*want.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    ind = read_iceberg(spark, d).select(*want.columns)
    assert ind.exceptAll(want).isEmpty() and want.exceptAll(ind).isEmpty()
    # p0 must surface the seq-300 winner, p1 must survive the late delete
    rows = {(r["path"]): (r["seq"], r["content"]) for r in ind.collect()}
    assert rows["p0"] == (300, "winner") and rows["p1"][0] == 101
    assert res["live_rows"] == want.count()


def test_export_metadata_commit_is_cas(spark, tmp_path):
    """A concurrent exporter landing the same metadata version must not
    be clobbered: the CAS loser re-reads the winner's chain and commits
    the NEXT version with fresh snapshot ids (monotone, no duplicates)."""
    d = str(tmp_path / "cas")
    write_change_stream(spark, f"{d}/ev", 400, seed=12, num_partitions=2)
    table, _ = create_table_for_stream(spark, f"{d}/ev", f"{d}/lake",
                                       num_buckets=2)
    ReplayRunner(spark, f"{d}/ev", table, batch_size=400).run()
    r1 = export_iceberg(spark, table)
    fs = LocalFS()
    # simulate a concurrent export winning v2: pre-create it as a copy
    # of v1 with a distinct snapshot id
    m1 = json.loads(fs.read_bytes(r1["metadata"]))
    m2 = {**m1, "snapshots": [{**m1["snapshots"][0], "snapshot-id": 999}],
          "current-snapshot-id": 999,
          "refs": {"main": {"snapshot-id": 999, "type": "branch"}}}
    fs.write_bytes(f"{d}/lake/metadata/v2.metadata.json",
                   json.dumps(m2).encode())
    fs.write_bytes(f"{d}/lake/metadata/version-hint.text", b"2")
    r3 = export_iceberg(spark, table)
    assert r3["metadata"].endswith("v3.metadata.json")
    m3 = json.loads(fs.read_bytes(r3["metadata"]))
    sids = [s["snapshot-id"] for s in m3["snapshots"]]
    assert len(sids) == len(set(sids)) and max(sids) > 999
    # hint never moves backwards
    assert fs.read_bytes(f"{d}/lake/metadata/version-hint.text") == b"3"


def test_export_cas_loser_retries_against_winner(spark, tmp_path):
    """Exercise the actual CAS-loss branch: a 'concurrent' export lands
    the target metadata version between our read and our commit; the
    loser must retry, absorb the winner's snapshot into the chain, and
    commit the next version."""
    d = str(tmp_path / "casf")
    write_change_stream(spark, f"{d}/ev", 300, seed=13, num_partitions=2)
    table, _ = create_table_for_stream(spark, f"{d}/ev", f"{d}/lake",
                                       num_buckets=2)
    ReplayRunner(spark, f"{d}/ev", table, batch_size=300).run()
    r1 = export_iceberg(spark, table)
    inner = LocalFS()
    m1 = json.loads(inner.read_bytes(r1["metadata"]))
    winner = {**m1,
              "snapshots": [{**m1["snapshots"][0], "snapshot-id": 999}],
              "current-snapshot-id": 999,
              "refs": {"main": {"snapshot-id": 999, "type": "branch"}}}

    class RacedFS:
        """First metadata.json create_exclusive loses to a racing writer."""

        def __init__(self):
            self.raced = False

        def __getattr__(self, name):
            return getattr(inner, name)

        def create_exclusive(self, path, data):
            if not self.raced and path.endswith(".metadata.json"):
                self.raced = True
                inner.write_bytes(path, json.dumps(winner).encode())
            return inner.create_exclusive(path, data)

    table._fs = RacedFS()
    r = export_iceberg(spark, table)
    assert table._fs.raced  # the injected race actually fired
    assert r["metadata"].endswith("v3.metadata.json")
    m3 = json.loads(inner.read_bytes(r["metadata"]))
    sids = [s["snapshot-id"] for s in m3["snapshots"]]
    assert 999 in sids and len(sids) == len(set(sids))
    assert m3["current-snapshot-id"] == max(sids)


def test_expire_keeps_reencoded_export_files(spark, tmp_path):
    """Regression (review finding): re-encoded delta winners live under
    data/iceberg-reencode-* — export-OWNED files in no lake manifest.
    They must never vote a snapshot dead, and GC must keep them while
    their snapshot survives."""
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "regc")
    ddl = ("repo string, path string, commit string, lang string, "
           "content string, ts timestamp, seq long, op string")
    base = spark.createDataFrame(
        [("r", f"p{i}", "c0", "py", f"v{i}", None, i + 100, "upsert")
         for i in range(4)], ddl)
    t = LakeTable(d)
    t.create(base.drop("op").schema, ["repo", "path"],
             seq_col="seq", num_buckets=2)
    t.merge(spark, base, epoch=0, start_seq=100, end_seq=103, mode="cow")
    # out-of-order chain -> re-encoded export
    t.merge(spark, spark.createDataFrame(
        [("r", "p0", "c1", "py", "w", None, 300, "upsert")], ddl),
        epoch=1, start_seq=300, end_seq=300, mode="delta")
    t.merge(spark, spark.createDataFrame(
        [("r", "p0", "cX", "py", "stale", None, 50, "upsert")], ddl),
        epoch=2, start_seq=40, end_seq=50, mode="delta")
    res = export_iceberg(spark, t)
    assert res["zero_copy_chain"] is False
    want = t.read(spark).select("repo", "path", "seq", "content")

    # zero lake files are GC-able (keep everything) — the mirror must
    # survive INTACT, re-encoded file included
    gc = t.expire_snapshots(keep_last=100)
    assert gc["iceberg"]["snapshots_dropped"] == 0
    assert gc["iceberg"]["mirror_removed"] is False
    got = read_iceberg(spark, d).select(*want.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_write_iceberg_landing_zone_and_replay_tail(spark, tmp_path):
    """The landing-zone loop: batches of change events land via
    write_iceberg (true appends: later snapshots carry earlier files as
    EXISTING at their original sequence numbers), the replay tails the
    table with events_format='iceberg', resumes on its normal seq
    cursor, and the final lake equals a plain-parquet replay of the same
    stream."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "land")
    stream = write_change_stream(spark, f"{d}/ev", 1000, seed=9,
                                 num_partitions=4)
    ev = spark.read.parquet(stream)
    # land in two batches (seq-split like a connector would)
    r1 = write_iceberg(spark, ev.filter("seq < 500"), f"{d}/ice")
    r2 = write_iceberg(spark, ev.filter("seq >= 500"), f"{d}/ice")
    assert r2["metadata"].endswith("v2.metadata.json")
    assert r2["total_rows"] == 1000 and r2["added_rows"] == r2["total_rows"] - r1["added_rows"]
    landed = read_iceberg(spark, f"{d}/ice")
    assert landed.count() == 1000
    # time travel: the first landed snapshot is still exactly batch 1
    assert read_iceberg(
        spark, f"{d}/ice", snapshot_id=r1["snapshot_id"]
    ).count() == r1["added_rows"]

    # tail the Iceberg table with the replay runner (resume mid-way)
    table, _ = create_table_for_stream(
        spark, f"{d}/ice", f"{d}/lake", num_buckets=4,
        events_format="iceberg",
    )
    ReplayRunner(spark, f"{d}/ice", table, batch_size=300,
                 events_format="iceberg").run(max_epochs=2)
    ReplayRunner(spark, f"{d}/ice", table, batch_size=300,
                 events_format="iceberg").run()  # resume from cursor
    want_table, _ = create_table_for_stream(spark, stream, f"{d}/plake",
                                            num_buckets=4)
    ReplayRunner(spark, stream, want_table, batch_size=300).run()
    cols = sorted(table.read(spark).columns)
    got = table.read(spark).select(*cols)
    want = want_table.read(spark).select(*cols)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # a landing zone is append-only: write_iceberg refuses tables that
    # carry delete files (an upsert writer's output)
    t2 = LakeTable(f"{d}/lake")
    export_iceberg(spark, t2)
    with pytest.raises(ValueError, match="append-only"):
        write_iceberg(spark, ev.limit(1), f"{d}/lake")


def test_iceberg_tail_collapses_redelivered_batch(spark, tmp_path):
    """At-least-once landing: a producer that crashes between a
    successful write_iceberg commit and its own upstream checkpoint
    re-lands the SAME batch as a new snapshot — duplicate (keys, seq)
    rows inside one replay epoch. The replay collapses the verbatim
    copies (as for every format), so the final lake equals the
    never-duplicated replay."""
    from arc_spark.lake.iceberg_export import write_iceberg

    d = str(tmp_path / "redeliver")
    stream = write_change_stream(spark, f"{d}/ev", 800, seed=23,
                                 num_partitions=4)
    ev = spark.read.parquet(stream)
    write_iceberg(spark, ev.filter("seq < 400"), f"{d}/ice")
    # the crash-retry: batch 1 lands AGAIN, verbatim, then the tail
    write_iceberg(spark, ev.filter("seq < 400"), f"{d}/ice")
    write_iceberg(spark, ev.filter("seq >= 400"), f"{d}/ice")

    table, _ = create_table_for_stream(
        spark, f"{d}/ice", f"{d}/lake", num_buckets=4,
        events_format="iceberg",
    )
    runner = ReplayRunner(spark, f"{d}/ice", table, batch_size=500,
                          events_format="iceberg")
    metrics = runner.run()
    assert sum(m.get("events_redelivered", 0) for m in metrics) > 0

    want_table, _ = create_table_for_stream(spark, stream, f"{d}/plake",
                                            num_buckets=4)
    ReplayRunner(spark, stream, want_table, batch_size=500).run()
    cols = sorted(table.read(spark).columns)
    got = table.read(spark).select(*cols)
    want = want_table.read(spark).select(*cols)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_read_iceberg_appends_incremental_consumer(spark, tmp_path):
    """Snapshot-cursor consumption of an append-only landing zone:
    read_iceberg_appends returns exactly the rows landed after the
    stored snapshot id, an empty frame at head, and refuses ranges that
    contain non-append snapshots or tables with delete files."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg_appends

    d = str(tmp_path / "inc")
    ev = spark.range(300).selectExpr(
        "concat('r', id % 5) AS repo", "concat('p', id) AS path",
        "id AS seq", "concat('v', id) AS content")
    r1 = write_iceberg(spark, ev.filter("seq < 100"), f"{d}/ice")
    write_iceberg(spark, ev.filter("seq >= 100 and seq < 200"), f"{d}/ice")
    r3 = write_iceberg(spark, ev.filter("seq >= 200"), f"{d}/ice")

    got, cur = read_iceberg_appends(spark, f"{d}/ice", r1["snapshot_id"])
    assert cur == r3["snapshot_id"]
    want = ev.filter("seq >= 100")
    assert got.select(*want.columns).exceptAll(want).isEmpty()
    assert want.exceptAll(got.select(*want.columns)).isEmpty()
    # at head: empty frame, same schema, cursor unchanged
    empty, cur2 = read_iceberg_appends(spark, f"{d}/ice", cur)
    assert cur2 == cur and empty.count() == 0
    assert sorted(empty.columns) == sorted(want.columns)
    # full read when no cursor yet
    allrows, _ = read_iceberg_appends(spark, f"{d}/ice")
    assert allrows.count() == 300
    # expired/unknown cursor errors loudly
    with pytest.raises(ValueError, match="not in the table's history"):
        read_iceberg_appends(spark, f"{d}/ice", 424242)


def test_read_iceberg_appends_refuses_non_append_history(spark, lake):
    """A lake-exported table is overwrite-shaped history with delete
    files — incremental file diffs are unsound there and must refuse."""
    from arc_spark.lake.iceberg_read import read_iceberg_appends

    export_iceberg(spark, lake)
    res2 = export_iceberg(spark, lake)  # second snapshot: overwrite op
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(res2["metadata"]))
    first_sid = meta["snapshots"][0]["snapshot-id"]
    with pytest.raises(ValueError, match="append|delete files"):
        read_iceberg_appends(spark, lake.root, first_sid)


def test_compact_iceberg_landing_maintenance_loop(spark, tmp_path):
    """The landing-zone maintenance loop at 10^4-epoch scale, miniature:
    many small per-epoch appends -> compact_iceberg bin-packs them into
    a single replace snapshot (content hash-identical, time travel
    intact) -> expire_iceberg_landing reclaims the rewritten inputs.
    A snapshot-cursor consumer reading ACROSS the compaction sees
    exactly the rows it had not consumed, never the rewrite."""
    from arc_spark.lake.iceberg_export import (
        compact_iceberg,
        expire_iceberg_landing,
        write_iceberg,
    )
    from arc_spark.lake.iceberg_read import read_iceberg, read_iceberg_appends

    root = str(tmp_path / "land")
    sids = []
    for i in range(5):
        r = write_iceberg(
            spark,
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id * 7 as v"),
            root,
        )
        sids.append(r["snapshot_id"])
    cursor = sids[1]  # consumer has read batches 1-2
    before = read_iceberg(spark, root)
    assert before.count() == 50

    res = compact_iceberg(spark, root, small_file_mb=32, min_input_files=2)
    assert res["status"] == "compacted" and res["rows"] == 50
    assert res["output_files"] < res["input_files"]
    after = read_iceberg(spark, root)
    assert after.exceptAll(before).isEmpty()
    assert before.exceptAll(after).isEmpty()
    # time travel to a pre-compaction snapshot still reads the old files
    assert read_iceberg(spark, root, snapshot_id=sids[2]).count() == 30

    # a post-compaction append, then the consumer catches up: batches
    # 3-5 (30 rows) + the new batch (10) — the replace snapshot itself
    # contributes NOTHING (no double-read of rewritten rows)
    write_iceberg(
        spark, spark.range(50, 60).selectExpr("id", "id * 7 as v"), root
    )
    inc, _cur = read_iceberg_appends(spark, root, cursor)
    assert inc.count() == 40
    assert inc.agg(F.min("id"), F.max("id")).first() == (20, 59)

    # below min_input_files -> honest noop
    assert compact_iceberg(spark, root, small_file_mb=0)["status"] == "noop"

    # expiry reclaims the rewritten small files; survivors read intact
    import os

    def n_parquet(d):
        return sum(
            len([f for f in fl if f.endswith(".parquet")])
            for _, _, fl in os.walk(d)
        )

    n_before = n_parquet(f"{root}/data")
    gc = expire_iceberg_landing(spark, root, keep_last=2)
    assert gc["status"] == "expired" and gc["data_files_deleted"] > 0
    assert n_parquet(f"{root}/data") < n_before
    assert read_iceberg(spark, root).count() == 60
    # a FRESH consumer (since=None) bootstraps from the full live file
    # set — after compaction + expiry the surviving append snapshots no
    # longer cover the rewritten rows, so a snapshot diff would
    # silently under-read
    boot, _ = read_iceberg_appends(spark, root, None)
    assert boot.count() == 60
    # an expired cursor fails loudly toward re-bootstrap
    with pytest.raises(ValueError, match="re-bootstrap"):
        read_iceberg_appends(spark, root, sids[0])


def test_iceberg_tail_replay_across_compaction(spark, tmp_path):
    """A replay tailing the landing zone is oblivious to a mid-stream
    compaction (it reads table state through a seq cursor, not file
    diffs): land half, replay, compact, land the rest, resume — final
    lake equals the plain-parquet replay."""
    from arc_spark.lake.iceberg_export import compact_iceberg, write_iceberg

    d = str(tmp_path / "tailc")
    stream = write_change_stream(spark, f"{d}/ev", 900, seed=31,
                                 num_partitions=4)
    ev = spark.read.parquet(stream)
    for lo, hi in ((0, 200), (200, 350), (350, 450)):
        write_iceberg(spark, ev.filter(f"seq >= {lo} and seq < {hi}"),
                      f"{d}/ice")
    table, _ = create_table_for_stream(
        spark, f"{d}/ice", f"{d}/lake", num_buckets=4,
        events_format="iceberg",
    )
    ReplayRunner(spark, f"{d}/ice", table, batch_size=300,
                 events_format="iceberg").run()
    assert compact_iceberg(spark, f"{d}/ice", small_file_mb=32,
                           min_input_files=2)["status"] == "compacted"
    write_iceberg(spark, ev.filter("seq >= 450"), f"{d}/ice")
    ReplayRunner(spark, f"{d}/ice", table, batch_size=300,
                 events_format="iceberg").run()

    want_table, _ = create_table_for_stream(spark, stream, f"{d}/plake",
                                            num_buckets=4)
    ReplayRunner(spark, stream, want_table, batch_size=300).run()
    cols = sorted(table.read(spark).columns)
    got = table.read(spark).select(*cols)
    want = want_table.read(spark).select(*cols)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_iceberg_compact_stage(spark, tmp_path):
    """Declarative maintenance: IcebergCompactExecute compacts and
    (with keepLast) expires a landing zone; content unchanged."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.pipeline import run_config

    root = str(tmp_path / "stage_land")
    for i in range(4):
        write_iceberg(
            spark,
            spark.range(i * 5, (i + 1) * 5).selectExpr("id", "id * 2 as v"),
            root,
        )
    # materialize: expiry deletes the pre-compaction files a lazy plan
    # over the old snapshot would still reference
    before = sorted(map(tuple, read_iceberg(spark, root).collect()))
    cfg = {"stages": [{
        "type": "IcebergCompactExecute", "name": "gc", "tableURI": root,
        "smallFileMB": 32, "minInputFiles": 2, "keepLast": 1,
    }]}
    _, ctx = run_config(spark, cfg)
    res = ctx.user_data["gc.result"]
    assert res["status"] == "compacted"
    assert res["expire"]["status"] == "expired"
    after = sorted(map(tuple, read_iceberg(spark, root).collect()))
    assert after == before


def test_compact_cas_loser_retries_against_appender(spark, tmp_path, monkeypatch):
    """compact_iceberg loses its metadata CAS to a concurrent APPEND and
    must retry against the winner's chain, reusing the already-packed
    output and carrying the winner's new file as EXISTING."""
    import arc_spark.lake.iceberg_export as ice
    from arc_spark.lake.iceberg_export import compact_iceberg, write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    root = str(tmp_path / "race")
    for i in range(4):
        write_iceberg(
            spark,
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id * 3 as v"),
            root,
        )
    inner = LocalFS()

    class RacedFS:
        """The compactor's first metadata commit loses to a real append."""

        def __init__(self):
            self.raced = False

        def __getattr__(self, name):
            return getattr(inner, name)

        def create_exclusive(self, path, data):
            if not self.raced and path.endswith(".metadata.json"):
                self.raced = True  # set FIRST: the append below re-enters
                write_iceberg(
                    spark,
                    spark.range(40, 50).selectExpr("id", "id * 3 as v"),
                    root,
                )
            return inner.create_exclusive(path, data)

    raced = RacedFS()
    monkeypatch.setattr(ice, "get_fs", lambda *a, **k: raced)
    res = compact_iceberg(spark, root, small_file_mb=32, min_input_files=2)
    monkeypatch.undo()
    assert raced.raced  # the injected race actually fired
    assert res["status"] == "compacted"
    # the winner's appended file is carried, every row survives
    got = read_iceberg(spark, root)
    assert got.count() == 50
    assert got.agg(F.min("id"), F.max("id")).first() == (0, 49)
    # exactly one packed output dir: the retry reused the first attempt's
    import os

    compact_dirs = [
        n for n in os.listdir(f"{root}/data") if n.startswith("compact-")
    ]
    assert len(compact_dirs) == 1


def test_expire_reap_spares_concurrent_appender_manifests(spark, tmp_path):
    """The expiry avro reap is scoped to the DROPPED snapshots' own
    manifests: an avro landed in metadata/ by a mid-flight concurrent
    appender (not yet referenced by any snapshot this expire saw) must
    survive, or the appender's commit would reference deleted files."""
    from arc_spark.lake.iceberg_export import (
        expire_iceberg_landing,
        write_iceberg,
    )

    root = str(tmp_path / "spare")
    for i in range(3):
        write_iceberg(
            spark,
            spark.range(i * 5, (i + 1) * 5).selectExpr("id"),
            root,
        )
    inner = LocalFS()
    stranger = f"{root}/metadata/manifest-data-w9-deadbeefcafe.avro"
    inner.write_bytes(stranger, b"mid-flight appender manifest")
    res = expire_iceberg_landing(spark, root, keep_last=1)
    assert res["status"] == "expired" and res["snapshots_dropped"] == 2
    assert inner.exists(stranger)  # scoped reap never touched it


def test_iceberg_appends_extract_stage(spark, tmp_path):
    """Declarative incremental consumer: bootstrap without a cursor,
    then resume with the emitted snapshot_id — only the new batch."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.pipeline import run_config

    root = str(tmp_path / "appext")
    write_iceberg(spark, spark.range(0, 20).selectExpr("id"), root)
    cfg = {"stages": [{
        "type": "IcebergAppendsExtract", "name": "tail",
        "inputURI": root, "outputView": "appends",
    }]}
    df, ctx = run_config(spark, cfg)
    assert df.count() == 20
    cursor = ctx.user_data["tail.snapshot_id"]

    write_iceberg(spark, spark.range(20, 25).selectExpr("id"), root)
    cfg["stages"][0]["sinceSnapshotId"] = cursor
    df2, ctx2 = run_config(spark, cfg)
    assert df2.count() == 5
    assert ctx2.user_data["tail.snapshot_id"] != cursor


def test_exported_seq_bounds_match_footers(spark, lake):
    """Every exported data-file entry carries lower/upper bounds for the
    seq field (Iceberg single-value serialization: 8-byte LE long keyed
    by field id) that agree with the parquet footer and, for base files,
    with the lake manifest's own file_stats."""
    import struct

    import pyarrow.parquet as pq

    res = export_iceberg(spark, lake)
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(res["metadata"]))
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    _, manifests = read_ocf_bytes(fs.read_bytes(snap["manifest-list"]))
    schema_ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    seq_fid = schema_ids["seq"]
    lake_snap = lake.snapshot()
    stats_by_abs = {
        f"{lake.root}/{rel}": b for rel, b in lake_snap.file_stats.items()
    }
    checked = 0
    for m in (m for m in manifests if m["content"] == 0):
        _, entries = read_ocf_bytes(fs.read_bytes(m["manifest_path"]))
        for e in entries:
            d = e["data_file"]
            if d["content"] != 0:
                continue
            lo_map = {c["key"]: c["value"] for c in d["lower_bounds"] or []}
            hi_map = {c["key"]: c["value"] for c in d["upper_bounds"] or []}
            assert seq_fid in lo_map and seq_fid in hi_map, d["file_path"]
            lo = struct.unpack("<q", lo_map[seq_fid])[0]
            hi = struct.unpack("<q", hi_map[seq_fid])[0]
            # footer ground truth
            md = pq.ParquetFile(d["file_path"]).metadata
            seqs = []
            for i in range(md.num_row_groups):
                for j in range(md.row_group(i).num_columns):
                    c = md.row_group(i).column(j)
                    if c.path_in_schema == "seq":
                        seqs.append((c.statistics.min, c.statistics.max))
            assert lo == min(s[0] for s in seqs)
            assert hi == max(s[1] for s in seqs)
            # and base files agree with the lake's own manifest stats
            if d["file_path"] in stats_by_abs:
                assert stats_by_abs[d["file_path"]] == [lo, hi]
                checked += 1
    assert checked > 0, "no base file was cross-checked against file_stats"


def test_landing_bounds_prune_seq_cursor_reads(spark, tmp_path):
    """Landing manifests record int/long column bounds; read_iceberg's
    min_seq prunes whole files from a seq-cursor read — a caught-up tail
    schedules ZERO file scans, and compaction (which erases the batch
    boundaries on disk) keeps pruning exact because packed files get the
    union bounds recomputed from their footer."""
    from arc_spark.lake.iceberg_export import compact_iceberg, write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "land")

    def land(lo):
        batch = spark.range(lo, lo + 100).select(
            F.col("id").alias("seq"),
            F.concat(F.lit("r"), (F.col("id") % 7).cast("string")).alias("repo"),
        )
        write_iceberg(spark, batch.repartition(2), d)

    land(0)
    land(100)
    land(200)

    # cursor inside batch 2: only batch-3 files are scanned
    out = read_iceberg(spark, d, min_seq=199)
    assert sorted(r.seq for r in out.collect()) == list(range(200, 300))
    full = read_iceberg(spark, d)
    assert 0 < len(out.inputFiles()) < len(full.inputFiles())

    # caught up: zero files, empty frame, schema intact
    done = read_iceberg(spark, d, min_seq=299)
    assert done.count() == 0 and len(done.inputFiles()) == 0
    assert set(done.columns) == {"seq", "repo"}

    # bin-pack everything landed so far (the packed file's bounds are the
    # union of its inputs, recomputed from its footer), then land a fresh
    # batch: a cursor past the packed history must scan ONLY the new
    # files — the regime a maintained 10^10-event landing zone lives in
    res = compact_iceberg(spark, d, small_file_mb=64, min_input_files=2)
    assert res["status"] == "compacted"
    land(300)
    again = read_iceberg(spark, d, min_seq=299)
    assert sorted(r.seq for r in again.collect()) == list(range(300, 400))
    assert all("append-" in f for f in again.inputFiles())
    # mid-pack cursor: the packed file [0, 299] must still be read, and
    # the CALLER's row filter (the runner's epoch window) does the rest
    mid = read_iceberg(spark, d, min_seq=150).filter(F.col("seq") > 150)
    assert mid.count() == 249
    got_all = read_iceberg(spark, d, min_seq=-1)
    assert got_all.count() == 400


def test_iceberg_tail_caught_up_probe_scans_no_files(spark, tmp_path):
    """A caught-up ReplayRunner over an iceberg landing zone answers the
    'anything new?' probe (max_seq) from manifest bounds alone."""
    from arc_spark.cdc.generator import write_change_stream as _w
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    ev_dir = str(tmp_path / "ev")
    stream = _w(spark, ev_dir, 600, seed=9, num_partitions=4)
    land = str(tmp_path / "land")
    write_iceberg(spark, spark.read.parquet(ev_dir), land)
    table, _ = create_table_for_stream(
        spark, stream, str(tmp_path / "lake"), num_buckets=4
    )
    r = ReplayRunner(spark, land, table, batch_size=400,
                     events_format="iceberg")
    r.run()
    want = table.read(spark).count()
    assert want > 0
    end = table.snapshot().end_seq
    # the pruned probe agrees there is nothing new, scanning nothing
    pruned = read_iceberg(spark, land, min_seq=end)
    assert len(pruned.inputFiles()) == 0
    # a caught-up re-run applies no epochs and changes no state
    r2 = ReplayRunner(spark, land, table, batch_size=400,
                      events_format="iceberg")
    metrics = r2.run()
    assert metrics == []
    assert table.read(spark).count() == want


def test_landing_append_drops_empty_partition_files(spark, tmp_path):
    """A filtered/skewed upstream frame writes zero-row parquet files for
    its empty partitions; write_iceberg must neither manifest them (they
    have no footer stats, so every bounds-pruned read would scan them
    forever) nor leave them on disk as orphans."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "land")
    # 8 partitions, rows only in a few of them -> several empty outputs
    df = (
        spark.range(0, 100, numPartitions=8)
        .select(F.col("id").alias("seq"))
        .filter(F.col("seq") % 8 < 2)
    )
    write_iceberg(spark, df, d)

    full = read_iceberg(spark, d)
    assert full.count() == 26
    files = full.inputFiles()
    assert files, "expected at least one data file"
    # every manifested file carries rows -> caught-up prune reaches zero
    assert len(read_iceberg(spark, d, min_seq=97).inputFiles()) == 0
    # nothing orphaned in the batch dir beyond the manifested parquet
    import os

    batch_dir = os.path.dirname(files[0].replace("file:", ""))
    on_disk = [f for f in os.listdir(batch_dir) if f.endswith(".parquet")]
    assert len(on_disk) == len(files)


def test_max_seq_bound_metadata_only_poll(spark, tmp_path):
    """max_seq_bound answers the stream-end probe from manifest metadata
    alone — exact on bounds-bearing append-only landing zones, and
    honestly inexact (forcing the scan fallback) when a snapshot carries
    delete files, whose removals could hide the max row."""
    from arc_spark.cdc.generator import write_change_stream as _w
    from arc_spark.lake.iceberg_export import export_iceberg, write_iceberg
    from arc_spark.lake.iceberg_read import max_seq_bound

    land = str(tmp_path / "land")
    # absent path: a mistyped eventsURI must be LOUD, not an empty stream
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        max_seq_bound(land)
    # directory exists, no metadata yet (pre-first-commit): provably empty
    import os as _os

    _os.makedirs(land)
    assert max_seq_bound(land) == (None, True)

    for lo in (0, 100):
        batch = spark.range(lo, lo + 100).select(F.col("id").alias("seq"))
        write_iceberg(spark, batch.repartition(2), land)
    assert max_seq_bound(land) == (199, True)
    # absent column is vacuously empty, not an error
    assert max_seq_bound(land, seq_field="nope") == (None, True)

    # a MOR export carries equality deletes -> inexact, caller must scan
    ev_dir = str(tmp_path / "ev")
    stream = _w(spark, ev_dir, 400, seed=5, num_partitions=2)
    table, _ = create_table_for_stream(
        spark, stream, str(tmp_path / "lake"), num_buckets=2
    )
    ReplayRunner(spark, stream, table, batch_size=150,
                 merge_mode="delta").run()
    res = export_iceberg(spark, table)
    assert res["delete_files"] > 0, "fixture must produce delete files"
    _v, exact = max_seq_bound(table.root, seq_field=table.snapshot().seq_col)
    assert exact is False


def test_max_seq_bound_foreign_writer_semantics(spark, tmp_path):
    """The Iceberg spec only requires upper_bounds >= the column max, so
    a foreign table's bound is an UPPER LIMIT (exact=False), never the
    attained max — and a table created but never committed to (a foreign
    producer's pre-first-commit state) is provably empty, not an error.
    The runner's caught-up poll stays sound either way: limit <= cursor
    proves nothing new; limit > cursor forces the scan for the true max."""
    import json as _json
    import os

    from arc_spark.cdc.generator import write_change_stream as _w
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import max_seq_bound, read_iceberg

    land = str(tmp_path / "land")
    ev_dir = str(tmp_path / "ev")
    stream = _w(spark, ev_dir, 500, seed=7, num_partitions=2)
    write_iceberg(spark, spark.read.parquet(ev_dir), land)

    # simulate a foreign writer: strip the tight-bounds property from
    # the current metadata (bounds stay — just no attained-max claim)
    meta_dir = os.path.join(land, "metadata")
    vfile = sorted(
        f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    )[-1]
    mp = os.path.join(meta_dir, vfile)
    meta = _json.loads(open(mp).read())
    assert meta["properties"].pop("arc.bounds.tight") == "true"
    open(mp, "w").write(_json.dumps(meta))

    v, exact = max_seq_bound(land)
    assert v == 499 and exact is False  # upper limit, not attained

    # the REALISTIC foreign writer: standard Iceberg engines preserve
    # table properties verbatim across commits, so a foreign APPEND to an
    # engine-created table keeps arc.bounds.tight — the per-snapshot
    # summary marker is the actual proof, and a snapshot without it must
    # demote the claim to conservative even with the property intact
    land2 = str(tmp_path / "land2")
    write_iceberg(spark, spark.read.parquet(ev_dir), land2)
    assert max_seq_bound(land2) == (499, True)
    meta_dir2 = os.path.join(land2, "metadata")
    vfile2 = sorted(
        f for f in os.listdir(meta_dir2) if f.endswith(".metadata.json")
    )[-1]
    mp2 = os.path.join(meta_dir2, vfile2)
    meta2 = _json.loads(open(mp2).read())
    assert meta2["properties"]["arc.bounds.tight"] == "true"  # preserved
    # foreign commit: duplicate the current snapshot entry WITHOUT the
    # engine's summary marker (property untouched, spec-legal metadata)
    foreign = dict(meta2["snapshots"][-1])
    foreign["snapshot-id"] = foreign["snapshot-id"] + 1
    foreign["summary"] = {"operation": "append"}
    meta2["snapshots"].append(foreign)
    meta2["current-snapshot-id"] = foreign["snapshot-id"]
    meta2["refs"] = {"main": {"snapshot-id": foreign["snapshot-id"],
                              "type": "branch"}}
    open(os.path.join(meta_dir2, "v2.metadata.json"), "w").write(
        _json.dumps(meta2)
    )
    v2b, exact2 = max_seq_bound(land2)
    assert v2b == 499 and exact2 is False  # conservative, never attained

    # pre-first-commit foreign table: metadata without a current snapshot
    empty = str(tmp_path / "empty")
    os.makedirs(os.path.join(empty, "metadata"))
    bare = {k: v2 for k, v2 in meta.items() if k not in
            ("current-snapshot-id", "snapshots", "refs")}
    bare["snapshots"] = []
    open(os.path.join(empty, "metadata", "v1.metadata.json"), "w").write(
        _json.dumps(bare)
    )
    assert max_seq_bound(empty) == (None, True)

    # end-to-end: the runner over the foreign (untight) landing zone
    # still replays correctly and the caught-up rerun applies nothing
    table, _ = create_table_for_stream(
        spark, stream, str(tmp_path / "lake"), num_buckets=2
    )
    r = ReplayRunner(spark, land, table, batch_size=300,
                     events_format="iceberg")
    r.run()
    assert table.snapshot().end_seq == 499
    want = table.read(spark).count()
    assert r.max_seq() == 499  # caught-up via the upper-limit path
    r2 = ReplayRunner(spark, land, table, batch_size=300,
                      events_format="iceberg")
    assert r2.run() == []
    assert table.read(spark).count() == want


def test_append_only_read_plan_skips_delete_machinery(spark, tmp_path):
    """A delete-free Iceberg table (landing zones, plain exports) must
    read WITHOUT the per-row delete-applicability machinery — no
    file->seq broadcast join, no _metadata columns in the scan. Measured
    25-30% of replay throughput on a landing tail before the fast path."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "land")
    write_iceberg(
        spark,
        spark.range(0, 1000).select(
            F.col("id").alias("seq"),
            F.concat(F.lit("r"), (F.col("id") % 5).cast("string")).alias("repo"),
        ),
        d,
    )
    df = read_iceberg(spark, d)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "_ice_file" not in plan
    assert df.count() == 1000


def test_landing_bounds_prune_epoch_window_both_sides(spark, tmp_path):
    """The epoch read window (min_seq, max_seq] prunes files on BOTH
    sides: history behind the resume cursor AND backlog ahead of the
    epoch — epoch 1 of a resumed tail over a deep backlog schedules only
    its own window's files."""
    from arc_spark.lake.iceberg_export import write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg

    d = str(tmp_path / "land")
    for lo in range(0, 500, 100):
        batch = spark.range(lo, lo + 100).select(F.col("id").alias("seq"))
        write_iceberg(spark, batch.repartition(2), d)

    win = read_iceberg(spark, d, min_seq=199, max_seq=299)
    assert sorted(r.seq for r in win.collect()) == list(range(200, 300))
    # only the middle batch's files are scheduled
    assert len(win.inputFiles()) == 2
    # degenerate windows stay exact
    assert read_iceberg(spark, d, max_seq=-1).count() == 0
    assert read_iceberg(spark, d, min_seq=None, max_seq=99).count() == 100


def test_expiry_strips_tight_claim_when_dropping_unmarked_snapshot(spark, tmp_path):
    """Expiring a foreign (unmarked) snapshot must not launder the
    attained-bounds claim: its files can outlive it as EXISTING entries,
    so the table property is stripped for good and max_seq_bound stays
    conservative."""
    import json as _json
    import os

    from arc_spark.lake.iceberg_export import expire_iceberg_landing, write_iceberg
    from arc_spark.lake.iceberg_read import max_seq_bound

    land = str(tmp_path / "land")
    for lo in (0, 100):
        batch = spark.range(lo, lo + 100).select(F.col("id").alias("seq"))
        write_iceberg(spark, batch, land)
    # simulate the foreign append: remove the marker from the FIRST
    # snapshot's summary (property untouched, files still carried)
    meta_dir = os.path.join(land, "metadata")
    vfile = sorted(f for f in os.listdir(meta_dir) if f.endswith(".metadata.json"))[-1]
    mp = os.path.join(meta_dir, vfile)
    meta = _json.loads(open(mp).read())
    meta["snapshots"][0]["summary"].pop("arc.bounds.tight")
    open(mp, "w").write(_json.dumps(meta))
    v, exact = max_seq_bound(land)
    assert v == 199 and exact is False  # unmarked snapshot in chain
    # land one more engine batch, then expire down to the newest snapshot
    write_iceberg(spark, spark.range(200, 300).select(F.col("id").alias("seq")), land)
    out = expire_iceberg_landing(spark, land, keep_last=1)
    assert out["status"] != "noop"
    v2, exact2 = max_seq_bound(land)
    # all LISTED snapshots are now marked, but the claim must be gone:
    # the foreign file's bound is still live as an EXISTING entry
    assert v2 == 299 and exact2 is False


# -- reads after a legal int -> long promotion ------------------------------

def test_mirror_export_and_read_after_partial_widening(spark, tmp_path):
    """A widening COW merge (int -> long) that rewrote one bucket leaves
    int and long files side by side; a delta then makes the export build
    its level statistics. The export reads the lake files under the
    manifest schema and read_iceberg under the Iceberg schema, so neither
    has footers to reconcile: the mirror round-trips all 8 keys."""
    from arc_spark.lake.iceberg_read import read_iceberg

    old = "repo string, path string, seq long, n int, op string"
    new = "repo string, path string, seq long, n long, op string"
    t = LakeTable(str(tmp_path / "wide"))
    base = spark.createDataFrame(
        [("r", f"p{i}", i + 1, i, "upsert") for i in range(8)], old)
    t.create(base.drop("op").schema, ["repo", "path"], num_buckets=4)
    t.merge(spark, base, epoch=0, start_seq=1, end_seq=8, mode="cow")
    t.merge(spark, spark.createDataFrame([("r", "p0", 20, 2**40, "upsert")], new),
            epoch=1, start_seq=20, end_seq=20, mode="cow")
    t.merge(spark, spark.createDataFrame([("r", "p1", 30, 2**41, "upsert")], new),
            epoch=2, start_seq=30, end_seq=30, mode="delta")
    assert t.snapshot().delta_files

    res = export_iceberg(spark, t)
    assert res["live_rows"] == 8 and res["delta_levels"] == 1
    want = t.read(spark).select("path", "seq", "n")
    got = read_iceberg(spark, t.root).select(*want.columns)
    assert dict(got.dtypes)["n"] == "bigint"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    rows = {r["path"]: r["n"] for r in got.collect()}
    assert rows["p0"] == 2**40 and rows["p1"] == 2**41 and rows["p2"] == 2


def test_landing_reads_after_int_to_long_promotion(spark, tmp_path):
    """A landing zone whose second batch widens ``n`` from int to long:
    the full read, the pruned seq-cursor read, both incremental reads and
    compaction all read under the current schema (n long) instead of
    merging footers."""
    from arc_spark.lake.iceberg_export import compact_iceberg, write_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg, read_iceberg_appends

    root = str(tmp_path / "land")
    r1 = write_iceberg(spark, spark.range(0, 10).selectExpr(
        "id AS seq", "CAST(id AS INT) AS n"), root)
    write_iceberg(spark, spark.range(10, 20).selectExpr(
        "id AS seq", "id * 1000000000000 AS n"), root)
    want = sorted((i, i if i < 10 else i * 10**12) for i in range(20))

    def rows(df):
        assert dict(df.dtypes)["n"] == "bigint"
        return sorted((r["seq"], r["n"]) for r in df.collect())

    assert rows(read_iceberg(spark, root)) == want
    assert rows(read_iceberg(spark, root, min_seq=4)) == want[5:]
    boot, _ = read_iceberg_appends(spark, root)
    assert rows(boot) == want
    inc, _ = read_iceberg_appends(spark, root, r1["snapshot_id"])
    assert rows(inc) == want[10:]
    res = compact_iceberg(spark, root, small_file_mb=32, min_input_files=2)
    assert res["status"] == "compacted" and res["rows"] == 20
    assert rows(read_iceberg(spark, root)) == want


def test_export_int_seq_bounds_are_four_bytes(spark, tmp_path):
    """The spec's single-value serialization of an ``int`` is 4-byte
    little-endian: an exported table whose seq column is int carries
    4-byte seq bounds that decode to the parquet footer's min/max."""
    import struct

    import pyarrow.parquet as pq

    t = LakeTable(str(tmp_path / "intseq"))
    df = spark.createDataFrame(
        [("r", f"p{i}", i + 1, "upsert") for i in range(12)],
        "repo string, path string, seq int, op string")
    t.create(df.drop("op").schema, ["repo", "path"], num_buckets=3)
    t.merge(spark, df, epoch=0, start_seq=1, end_seq=12, mode="cow")
    res = export_iceberg(spark, t)
    fs = LocalFS()
    meta = json.loads(fs.read_bytes(res["metadata"]))
    field = next(f for f in meta["schemas"][0]["fields"] if f["name"] == "seq")
    assert field["type"] == "int"
    _, manifests = read_ocf_bytes(fs.read_bytes(res["manifest_list"]))
    checked = 0
    for m in manifests:
        _, entries = read_ocf_bytes(fs.read_bytes(m["manifest_path"]))
        for e in entries:
            d = e["data_file"]
            if d["content"] != 0:
                continue
            cells = (d["lower_bounds"] or []) + (d["upper_bounds"] or [])
            assert len(cells) == 2 and all(len(c["value"]) == 4 for c in cells)
            lo = struct.unpack("<i", d["lower_bounds"][0]["value"])[0]
            hi = struct.unpack("<i", d["upper_bounds"][0]["value"])[0]
            md = pq.ParquetFile(d["file_path"]).metadata
            stats = [md.row_group(i).column(j).statistics
                     for i in range(md.num_row_groups)
                     for j in range(md.num_columns)
                     if md.row_group(i).column(j).path_in_schema == "seq"]
            assert (lo, hi) == (min(s.min for s in stats), max(s.max for s in stats))
            checked += 1
    assert checked == res["data_files"] > 0


# -- the one CAS loop, raced for every commit kind --------------------------

def _cas_setup(spark, tmp_path, op):
    """(root, table | None, run(fs)) for one commit kind on a small table."""
    from arc_spark.lake.iceberg_export import (
        compact_iceberg,
        expire_iceberg_landing,
        expire_iceberg_snapshots,
        write_iceberg,
    )

    root = str(tmp_path / op)
    if op in ("append", "compact", "expire_landing"):
        for lo in (0, 10, 20):
            write_iceberg(spark, spark.range(lo, lo + 10).selectExpr(
                "id AS seq", "id * 3 AS v"), root)
        return root, None, {
            "append": lambda fs: write_iceberg(
                spark, spark.range(30, 40).selectExpr("id AS seq", "id * 3 AS v"),
                root),
            "compact": lambda fs: compact_iceberg(
                spark, root, small_file_mb=32, min_input_files=2),
            "expire_landing": lambda fs: expire_iceberg_landing(
                spark, root, keep_last=1),
        }[op]
    ddl = "repo string, path string, seq long, op string"
    t = LakeTable(root)
    base = spark.createDataFrame([("r", f"p{i}", i + 1, "upsert") for i in range(4)], ddl)
    t.create(base.drop("op").schema, ["repo", "path"], num_buckets=2)
    t.merge(spark, base, epoch=0, start_seq=1, end_seq=4, mode="cow")
    export_iceberg(spark, t)
    if op == "export":
        return root, t, lambda fs: export_iceberg(spark, t)
    # every file of the first export is rewritten, then exported again:
    # the GC that keeps only the current lake files drops the first one
    t.merge(spark, spark.createDataFrame(
        [("r", f"p{i}", i + 10, "upsert") for i in range(4)], ddl),
        epoch=1, start_seq=10, end_seq=13, mode="cow")
    export_iceberg(spark, t)
    live = set(t.snapshot().file_list())
    return root, t, lambda fs: expire_iceberg_snapshots(fs, root, live)


@pytest.mark.parametrize("losses", [1, 4])
@pytest.mark.parametrize("op,what", [
    ("append", "write_iceberg"),
    ("compact", "compact_iceberg"),
    ("export", "export_iceberg"),
    ("expire_mirror", "expire_iceberg_snapshots"),
    ("expire_landing", "expire_iceberg_landing"),
])
def test_every_commit_kind_retries_a_lost_cas(spark, tmp_path, monkeypatch,
                                              op, what, losses):
    """Each Iceberg commit kind runs the one CAS loop: a concurrent writer
    publishing the target metadata version first (here: a re-commit of
    the current snapshot under a new id) makes the commit re-derive
    against the winner's chain and publish the next version, keeping the
    winner's snapshot; losing 4 times raises a RuntimeError naming the
    operation. A raced landing append writes its batch once."""
    import os

    import arc_spark.lake.iceberg_export as ice
    from arc_spark.lake.iceberg_read import resolve_metadata_file

    root, table, run = _cas_setup(spark, tmp_path, op)
    inner = LocalFS()
    start = resolve_metadata_file(inner, root)
    start_v = int(start.rsplit("/v", 1)[1].split(".")[0])

    class RacedFS:
        """The next ``left`` metadata commits lose to a racing writer."""

        def __init__(self):
            self.left, self.winners = losses, []

        def __getattr__(self, name):
            return getattr(inner, name)

        def create_exclusive(self, path, data):
            if self.left and path.endswith(".metadata.json"):
                self.left -= 1
                head = json.loads(inner.read_bytes(resolve_metadata_file(inner, root)))
                cur = next(s for s in head["snapshots"]
                           if s["snapshot-id"] == head["current-snapshot-id"])
                sid = 900 + len(self.winners)
                seq = head["last-sequence-number"] + 1
                self.winners.append(sid)
                inner.write_bytes(path, json.dumps({
                    **head, "last-sequence-number": seq,
                    "snapshots": [*head["snapshots"],
                                  {**cur, "snapshot-id": sid, "sequence-number": seq}],
                    "current-snapshot-id": sid,
                    "refs": {"main": {"snapshot-id": sid, "type": "branch"}},
                }).encode())
            return inner.create_exclusive(path, data)

    raced = RacedFS()
    monkeypatch.setattr(ice, "get_fs", lambda *a, **k: raced)
    if table is not None:
        table._fs = raced

    def append_dirs():
        return [n for n in os.listdir(f"{root}/data") if n.startswith("append-")]

    before = append_dirs() if op == "append" else None
    if losses == 4:
        with pytest.raises(RuntimeError, match=what):
            run(raced)
    else:
        run(raced)
        head = resolve_metadata_file(inner, root)
        assert head.endswith(f"v{start_v + 2}.metadata.json")
        meta = json.loads(inner.read_bytes(head))
        assert raced.winners[0] in [s["snapshot-id"] for s in meta["snapshots"]]
        sids = [s["snapshot-id"] for s in meta["snapshots"]]
        assert len(sids) == len(set(sids))
    assert raced.left == 0 and len(raced.winners) == losses
    if op == "append":
        assert len(append_dirs()) == len(before) + 1

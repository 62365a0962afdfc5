"""Metadata-only DDL (LakeTable.alter_schema): rename / drop / add columns
without moving data files — the Iceberg ``ALTER TABLE`` analogue
(reference: Arc evolves schemas only implicitly through typed extracts,
e.g. extract/ParquetExtract.scala mergeSchema; explicit DDL is
engine-specific surface).

Covered: rename resolves historical names at read time (coalesce over the
manifest's name mapping, no rewrite); key/seq renames keep LWW and bucket
placement correct across the rename boundary; drop retires the name and
re-adding it is rejected (stale-value resurrection) until a FULL compact
rewrites the old files; add appends nullable columns (old rows NULL);
the declarative LakeAlterExecute stage."""

from __future__ import annotations

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField

from arc_spark.lake.table import LakeTable

SCHEMA = "repo string, path string, seq long, content string, op string"


def _mk(spark, root, rows, *, num_buckets=4):
    df = spark.createDataFrame(rows, SCHEMA)
    table = LakeTable(root)
    table.create(df.drop("op").schema, ["repo", "path"], num_buckets=num_buckets)
    table.merge(spark, df, epoch=0, start_seq=1, end_seq=len(rows), mode="cow")
    return table


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_path):
    table = _mk(
        spark,
        str(tmp_path / "t"),
        [("r", "a", 1, "v1", "update"), ("r", "b", 2, "v2", "update")],
    )
    files_before = dict(table.snapshot().files)
    res = table.alter_schema(rename={"content": "body"})
    assert res["status"] == "altered"
    snap = table.snapshot()
    # no data moved, only the manifest changed
    assert snap.files == files_before
    assert snap.column_renames == {"body": ["content"]}
    names = [f.name for f in snap.schema.fields]
    assert "body" in names and "content" not in names
    got = {r["path"]: r["body"] for r in table.read(spark).collect()}
    assert got == {"a": "v1", "b": "v2"}


def test_rename_then_write_coalesces_both_naming_epochs(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "old", "update")])
    table.alter_schema(rename={"content": "body"})
    post = spark.createDataFrame(
        [("r", "b", 2, "new", "update"), ("r", "a", 3, "old2", "update")],
        "repo string, path string, seq long, body string, op string",
    )
    table.merge(spark, post, epoch=1, start_seq=2, end_seq=3, mode="cow")
    got = {r["path"]: r["body"] for r in table.read(spark).collect()}
    # 'a' was UPDATED post-rename (LWW across the boundary), 'b' is new
    assert got == {"a": "old2", "b": "new"}


def test_rename_key_and_seq_columns_keeps_lww_and_buckets(spark, tmp_path):
    rows = [("r%d" % i, "p%d" % (i % 3), i + 1, "v%d" % i, "update") for i in range(20)]
    table = _mk(spark, str(tmp_path / "t"), rows)
    table.alter_schema(rename={"path": "file_path", "seq": "change_seq"})
    snap = table.snapshot()
    assert snap.key_cols == ["repo", "file_path"]
    assert snap.seq_col == "change_seq"
    # update a PRE-rename key through a MOR delta: the LWW window and the
    # bucket router both run on the renamed column over coalesced reads
    upd = spark.createDataFrame(
        [("r0", "p0", 99, "winner", "update")],
        "repo string, file_path string, change_seq long, content string, op string",
    )
    table.merge(spark, upd, epoch=1, start_seq=99, end_seq=99, mode="delta")
    got = {(r["repo"], r["file_path"]): r["content"] for r in table.read(spark).collect()}
    assert got[("r0", "p0")] == "winner"
    assert len(got) == len({(r[0], r[1]) for r in rows})


def test_drop_hides_column_and_retires_name(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    table.alter_schema(drop=["content"])
    snap = table.snapshot()
    assert "content" not in [f.name for f in snap.schema.fields]
    assert "content" in snap.dropped_columns
    assert "content" not in table.read(spark).columns
    # re-adding the retired name would resurrect old file values
    with pytest.raises(ValueError, match="compact"):
        table.alter_schema(add=[StructField("content", StringType())])
    # ... through implicit merge widening too
    widen = spark.createDataFrame(
        [("r", "b", 2, "sneaky", "update")], SCHEMA
    )
    with pytest.raises(ValueError, match="compact"):
        table.merge(spark, widen, epoch=1, start_seq=2, end_seq=2, mode="cow")


def test_drop_key_seq_internal_rejected(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    for col in ("repo", "seq"):
        with pytest.raises(ValueError, match="key/seq"):
            table.alter_schema(drop=[col])
    with pytest.raises(ValueError, match="no such column"):
        table.alter_schema(drop=["nope"])


def test_add_columns_old_rows_null(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    table.alter_schema(
        add=[StructField("lang", StringType()), StructField("stars", IntegerType())]
    )
    row = table.read(spark).collect()[0]
    assert row["lang"] is None and row["stars"] is None
    filled = spark.createDataFrame(
        [("r", "a", 2, "v2", "py", 5, "update")],
        "repo string, path string, seq long, content string, "
        "lang string, stars int, op string",
    )
    table.merge(spark, filled, epoch=1, start_seq=2, end_seq=2, mode="cow")
    row = table.read(spark).collect()[0]
    assert (row["lang"], row["stars"]) == ("py", 5)
    with pytest.raises(ValueError, match="already exists"):
        table.alter_schema(add=[StructField("lang", StringType())])


def test_rename_collisions_rejected(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    with pytest.raises(ValueError, match="already a live"):
        table.alter_schema(rename={"content": "repo"})
    table.alter_schema(rename={"content": "body"})
    # the OLD name is a historical alias now: new columns can't take it,
    # nor can another rename target it
    with pytest.raises(ValueError, match="collides"):
        table.alter_schema(add=[StructField("content", StringType())])
    with pytest.raises(ValueError, match="historical alias"):
        table.alter_schema(rename={"body": "content"})


def test_rename_chain_keeps_full_history(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    table.alter_schema(rename={"content": "body"})
    table.merge(
        spark,
        spark.createDataFrame(
            [("r", "b", 2, "v2", "update")],
            "repo string, path string, seq long, body string, op string",
        ),
        epoch=1, start_seq=2, end_seq=2, mode="cow",
    )
    table.alter_schema(rename={"body": "text"})
    snap = table.snapshot()
    assert snap.column_renames == {"text": ["content", "body"]}
    got = {r["path"]: r["text"] for r in table.read(spark).collect()}
    assert got == {"a": "v1", "b": "v2"}


def test_full_compact_retires_history_and_frees_names(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    table.alter_schema(rename={"content": "body"})
    table.alter_schema(drop=["body"])
    # FULL compact rewrites every file under the current schema: the
    # retired names no longer exist in any data file and become free
    table.compact(spark)
    snap = table.snapshot()
    assert snap.column_renames == {} and snap.dropped_columns == []
    table.alter_schema(add=[StructField("content", StringType())])
    row = table.read(spark).collect()[0]
    assert row["content"] is None  # fresh column, NOT the old file's "v1"


def test_targeted_compact_keeps_history(spark, tmp_path):
    rows = [("r%d" % i, "p", i + 1, "v%d" % i, "update") for i in range(16)]
    table = _mk(spark, str(tmp_path / "t"), rows)
    table.alter_schema(rename={"content": "body"})
    some = sorted(table.snapshot().files)[0]
    table.compact(spark, buckets=[some])
    snap = table.snapshot()
    # other buckets still hold files with the old name: history survives
    assert snap.column_renames == {"body": ["content"]}
    got = {r["repo"]: r["body"] for r in table.read(spark).collect()}
    assert got == {("r%d" % i): ("v%d" % i) for i in range(16)}


def test_alter_survives_rollback_and_time_travel(spark, tmp_path):
    table = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    v_before = table.current_version()
    table.alter_schema(rename={"content": "body"})
    # time-travel read of the PRE-rename snapshot uses its own manifest
    assert "content" in table.read(spark, version=v_before).columns
    table.rollback(v_before)
    snap = table.snapshot()
    assert [f.name for f in snap.schema.fields].count("content") == 1
    assert snap.column_renames == {}
    got = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert got == {"a": "v1"}


def test_lake_alter_execute_stage(spark, tmp_path):
    from arc_spark.pipeline import run_config

    root = str(tmp_path / "stage")
    _mk(spark, root, [("r", "a", 1, "v1", "update")])
    df, ctx = run_config(spark, {"stages": [
        {"type": "LakeAlterExecute", "name": "ddl", "tableURI": root,
         "rename": {"content": "body"}, "add": "lang string, stars int",
         "outputView": "altered"},
    ]})
    assert {"body", "lang", "stars"} <= set(df.columns)
    assert [r["body"] for r in df.collect()] == ["v1"]
    ev = [e for e in ctx.events if e.get("stage") == "ddl"]
    assert ev and ev[0]["status"] == "altered"


def test_reserved_internal_names_rejected(spark, tmp_path):
    """_tombstone/_bucket/_op/_rn are engine-materialized: a user column
    taking one would be silently replaced by the merge's bucket router,
    dropped by the partitioned writer, or made ambiguous in the reader —
    create, alter and merge widening all refuse them."""
    from pyspark.sql.types import BooleanType, StructType

    from arc_spark.lake.table import RESERVED_COLS

    t = _mk(spark, str(tmp_path / "t"), [("r", "a", 1, "v1", "update")])
    for bad in sorted(RESERVED_COLS):
        with pytest.raises(ValueError, match="reserved"):
            t.alter_schema(add=[StructField(bad, BooleanType())])
        with pytest.raises(ValueError, match="reserved"):
            t.alter_schema(rename={"content": bad})
    widen = spark.createDataFrame(
        [("r", "b", 2, "v2", True, "update")],
        "repo string, path string, seq long, content string, "
        "_tombstone boolean, op string",
    )
    with pytest.raises(ValueError, match="reserved"):
        t.merge(spark, widen, epoch=1, start_seq=2, end_seq=2, mode="cow")
    bad_schema = StructType(
        [StructField("repo", StringType()), StructField("_bucket", StringType())]
    )
    with pytest.raises(ValueError, match="reserved"):
        LakeTable(str(tmp_path / "t2")).create(bad_schema, ["repo"])


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_manifest_schema_read_over_mixed_file_layouts(spark, tmp_path, vectorized):
    """Reads hand the manifest schema to the parquet scan instead of
    inferring it from footers. Over files that mix int/long, float/double
    and decimal(5,2)/decimal(10,2), a renamed column, a dropped column and
    a column added later, the clean read, the MOR read, the read after a
    COW fold and changes_since all return the manifest's rows, with the
    vectorized and the row-based parquet reader alike."""
    from decimal import Decimal

    import pyarrow.parquet as pq

    from arc_spark.fs import join as fs_join

    old = "repo string, path string, seq long, n int, x float, d decimal(5,2), content string, gone string, op string"
    new = "repo string, path string, seq long, n long, x double, d decimal(10,2), body string, lang string, op string"
    prev = spark.conf.get("spark.sql.parquet.enableVectorizedReader")
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
    try:
        rows = [
            ("r", f"p{i}", i + 1, i, i + 0.5, Decimal(f"{i}.25"), f"c{i}", f"g{i}", "update")
            for i in range(8)
        ]
        base = spark.createDataFrame(rows, old)
        table = LakeTable(str(tmp_path / "t"))
        table.create(base.drop("op").schema, ["repo", "path"], num_buckets=4)
        table.merge(spark, base, epoch=0, start_seq=1, end_seq=8, mode="cow")
        table.alter_schema(rename={"content": "body"}, drop=["gone"])
        big = Decimal("12345678.90")
        # wider types and a column added by the merge, rewriting one bucket
        table.merge(
            spark,
            spark.createDataFrame([("r", "p0", 20, 2**40, 1e300, big, "b0", "py", "update")], new),
            epoch=1, start_seq=20, end_seq=20, mode="cow",
        )
        snap = table.snapshot()
        types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
        assert types == {
            "repo": "string", "path": "string", "seq": "bigint", "n": "bigint",
            "x": "double", "d": "decimal(10,2)", "body": "string", "lang": "string",
        }
        # the live files really mix both layouts
        layouts = {
            tuple(pq.read_schema(fs_join(table.root, p)).names)
            for p in snap.file_list()
        }
        assert any("content" in n and "gone" in n for n in layouts)
        assert any("body" in n and "lang" in n for n in layouts)

        want = {
            f"p{i}": (i + 1, i, i + 0.5, Decimal(f"{i}.25"), f"c{i}", None) for i in range(8)
        }
        want["p0"] = (20, 2**40, 1e300, big, "b0", "py")

        def _rows(df):
            assert "gone" not in df.columns and "content" not in df.columns
            return {
                r["path"]: (r["seq"], r["n"], r["x"], r["d"], r["body"], r["lang"])
                for r in df.collect()
            }

        assert _rows(table.read(spark)) == want  # clean read

        # MOR read: a delta over an old-layout bucket
        table.merge(
            spark,
            spark.createDataFrame([("r", "p1", 30, 2**41, 2.0, Decimal("1.5"), "b1", "rs", "update")], new),
            epoch=2, start_seq=30, end_seq=30, mode="delta",
        )
        assert table.snapshot().delta_files
        want["p1"] = (30, 2**41, 2.0, Decimal("1.50"), "b1", "rs")
        assert _rows(table.read(spark)) == want

        # changes_since: only keys changed after seq 8, all as upserts
        got = table.changes_since(spark, 8)
        assert {r["op"] for r in got.collect()} == {"upsert"}
        assert _rows(got.drop("op")) == {p: want[p] for p in ("p0", "p1")}

        # COW fold of the delta-bearing bucket, then read again
        table.merge(
            spark,
            spark.createDataFrame([("r", "p1", 40, 7, 3.0, Decimal("2.25"), "b1x", None, "update")], new),
            epoch=3, start_seq=40, end_seq=40, mode="cow",
        )
        assert not any(table.snapshot().delta_files.values())
        want["p1"] = (40, 7, 3.0, Decimal("2.25"), "b1x", None)
        assert _rows(table.read(spark)) == want
    finally:
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", prev)

"""Bootstrap helpers: create the lake table whose schema matches the
change-stream row shape (minus the op column, plus the fingerprint), and
load a consistent source snapshot as the fenced first epoch so the tail
replay hands off with no gap and no overlap.

The snapshot+tail handoff is how every real CDC deployment starts
(Debezium's ``snapshot.mode=initial``: a consistent read of the source
table plus the log position it was taken at; the connector then streams
from exactly that position). The reference has no table-maintenance
layer, so this is engine-spec work; the Arc analogue of the idempotent
initial load is JDBCLoad's verified full write
(``load/JDBCLoad.scala:154-310``)."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, StringType

from arc_spark.cdc.epoch import as_paths, check_source, read_events
from arc_spark.lake.table import LakeTable, Snapshot

log = logging.getLogger("arc_spark.cdc")

# the generator's row key, and every new table's unless told otherwise
DEFAULT_KEYS = ("repo", "path")


def stream_table_schema(
    stream_schema: StructType,
    drop_cols: tuple[str, ...] = ("op",),
    fingerprint: bool | str = True,
) -> StructType:
    """A lake table's schema for a change stream: the stream's columns
    minus ``drop_cols``, plus the fingerprint."""
    fields = [f for f in stream_schema.fields if f.name not in drop_cols]
    if fingerprint and "content_sha256" not in {f.name for f in fields}:
        fields.append(StructField("content_sha256", StringType(), True))
    return StructType(fields)


def create_table_for_stream(
    spark: SparkSession,
    events_path: str | list[str],
    table_root: str,
    *,
    key_cols: list[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    num_buckets: int = 32,
    fingerprint: bool = True,
    drop_cols: tuple[str, ...] = ("op",),
    overwrite: bool = True,
    events_format: str = "parquet",
    payload_schema=None,
) -> tuple[LakeTable, Snapshot]:
    check_source(
        events_format, payload_schema, ("parquet", "debezium", "kafka", "iceberg")
    )
    if events_format in ("debezium", "kafka"):
        # the table shape is the parsed envelope's canonical frame:
        # payload columns + seq (op is dropped below like any stream) —
        # identical for the file tail and the kafka topic, since both
        # carry the same Debezium JSON value
        from arc_spark.cdc.debezium import _payload_struct

        stream_schema = StructType(
            [*_payload_struct(payload_schema).fields,
             StructField(seq_col, LongType(), True)]
        )
    elif events_format == "iceberg":
        # schema straight from each table's metadata JSON (zero data-file
        # IO — no reason to build the full merge-inference scan just for
        # .schema), merged across ALL paths like the parquet branch: a
        # sharded landing zone where one shard carries an extra column
        # must not silently drop it from the table
        from arc_spark.lake.iceberg_read import iceberg_table_schema

        merged: dict[str, StructField] = {}
        for p in as_paths(events_path):
            for f in iceberg_table_schema(spark, p).fields:
                seen = merged.get(f.name)
                if seen is None:
                    merged[f.name] = f
                elif seen.dataType != f.dataType:
                    raise ValueError(
                        f"iceberg landing shards disagree on column "
                        f"{f.name!r}: {seen.dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()} ({p})"
                    )
        stream_schema = StructType(list(merged.values()))
    else:
        stream_schema = read_events(spark, events_path).schema
    table = LakeTable(table_root)
    snap = table.create(
        stream_table_schema(stream_schema, drop_cols, fingerprint),
        list(key_cols),
        seq_col=seq_col,
        num_buckets=num_buckets,
        overwrite=overwrite,
    )
    return table, snap


def bootstrap_snapshot(
    spark: SparkSession,
    table: LakeTable,
    snapshot_df: DataFrame,
    snapshot_seq: int,
    *,
    fingerprint: bool | str = True,
    epoch: int = 0,
    mode: str = "cow",
) -> dict:
    """Load a consistent source snapshot as the table's FIRST epoch and
    record the stream position it was taken at, so a ReplayRunner over
    the change tail resumes from ``snapshot_seq + 1`` — no gap, no
    double-apply (Debezium ``snapshot.mode=initial`` handoff semantics).

    - ``snapshot_df``: one row per key — the source table at a single
      consistent point (a JDBCExtract dump, a parquet export, …). If it
      carries the table's seq column, per-row positions are preserved
      (each row's own LSN at snapshot time) and a codegen guard fails
      the load if any row claims a seq BEYOND ``snapshot_seq`` — that
      row would be from after the declared position and silently
      shadow tail events. Without a seq column every row gets
      ``snapshot_seq`` (the whole snapshot at one position).
    - ``snapshot_seq``: the source log position the snapshot was read
      at. Committed as the epoch's ``end_seq`` — the resume cursor.
    - Exactly-once: the load is an epoch-fenced ``LakeTable.merge``;
      a crashed/retried bootstrap re-runs idempotently, and a second
      bootstrap over a table that already has data is rejected.
      CAVEAT: the fence compares the snapshot POSITION, not its data —
      a retry at the same ``snapshot_seq`` whose snapshot_df contents
      differ (a mutated re-dump) skips silently; contents are not
      checksummed. A corrected snapshot requires rebuilding the table.

    Scale: the merge bucket-writes the snapshot exactly like any COW
    epoch — O(snapshot) one pass, no shuffle beyond the bucket
    exchange; the seq guard and op literal are codegen, zero extra
    jobs. Returns the merge result dict (plus ``snapshot_seq``)."""
    snap = table.snapshot()
    fenced = snap.committed_epochs.get(str(epoch))
    if fenced and fenced.get("bootstrap") and int(fenced["end_seq"]) != int(
        snapshot_seq
    ):
        # the fence alone would silently no-op a rerun that CORRECTS the
        # position — and report the new seq back while the cursor stays
        # at the old one. A changed position needs a table rebuild.
        raise ValueError(
            f"bootstrap epoch {epoch} is already committed at "
            f"snapshot_seq={fenced['end_seq']}; retried with "
            f"snapshot_seq={int(snapshot_seq)} — a corrected snapshot "
            "position requires rebuilding the table (overwrite=True)"
        )
    if snap.committed_epochs and not (fenced and fenced.get("bootstrap")):
        # a replay epoch may also be numbered 0, so the fence alone can't
        # tell "retried bootstrap" from "table already replayed" — the
        # durable `bootstrap` marker on the committed epoch entry does
        raise ValueError(
            "bootstrap_snapshot requires an empty table: "
            f"{table.root} already has committed epochs "
            f"{sorted(snap.committed_epochs)} — the snapshot would "
            "double-apply over replayed data (to rebuild, create the "
            "table with overwrite=True first)"
        )
    seq_col = snap.seq_col
    df = snapshot_df
    if "op" in df.columns:
        raise ValueError(
            "snapshot_df carries an 'op' column — a snapshot is state, "
            "not a change stream; replay change events with ReplayRunner"
        )
    if seq_col in df.columns:
        # per-row positions: guard rows claiming to be from AFTER the
        # declared snapshot position (they would shadow tail events)
        df = df.withColumn(
            seq_col,
            F.when(
                F.col(seq_col) > F.lit(int(snapshot_seq)),
                F.raise_error(
                    F.concat(
                        F.lit("snapshot row at seq="),
                        F.col(seq_col).cast("string"),
                        F.lit(f" is beyond snapshot_seq={int(snapshot_seq)}"),
                    )
                ).cast(LongType()),
            ).otherwise(F.coalesce(F.col(seq_col), F.lit(int(snapshot_seq)))),
        )
    else:
        df = df.withColumn(seq_col, F.lit(int(snapshot_seq)).cast(LongType()))
    table_cols = {f.name for f in snap.schema.fields}
    if fingerprint and "content_sha256" in table_cols and "content" in df.columns:
        from arc_spark.cdc.apply import normalize_and_fingerprint

        impl = fingerprint if isinstance(fingerprint, str) else "arrow"
        df = normalize_and_fingerprint(df, impl=impl)
    df = df.withColumn("op", F.lit("insert"))
    result = table.merge(
        spark,
        df,
        epoch=epoch,
        start_seq=0,
        end_seq=int(snapshot_seq),
        mode=mode,
        epoch_meta={"bootstrap": True},
    )
    out = {**result, "snapshot_seq": int(snapshot_seq)}
    if result.get("status") == "skipped":
        # fenced retry with the SAME snapshot_seq: the epoch is already
        # committed, the merge no-opped. NOTE: contents are not
        # checksummed — a retry whose snapshot DIFFERS at the same seq
        # also lands here (the fence compares positions, not data)
        log.info(
            "bootstrap_snapshot: epoch %d already committed at seq %d, "
            "skipped (contents not re-verified)", epoch, snapshot_seq,
        )
    else:
        log.info(
            "bootstrap_snapshot: %s rows committed as epoch %d at seq %d (%s)",
            result.get("rows_written"), epoch, snapshot_seq,
            result.get("status"),
        )
    return out

"""Structured-Streaming CDC apply: binlog tail → micro-batch MERGE.

The streaming twin of arc_spark.cdc.runner.ReplayRunner: a file-tail
``readStream`` over the change-event directory, applied per micro-batch
through ``foreachBatch`` into the same LakeTable MERGE. Exactly-once
composes two idempotence layers:

- Spark's streaming checkpoint replays an uncommitted micro-batch with the
  SAME ``batch_id`` after a crash,
- the lake manifest's epoch fencing turns a replayed ``merge(epoch=
  batch_id)`` into a no-op if it already committed.

This is exactly the Iceberg/Delta ``foreachBatch + txn-id`` recipe, built
on our own manifest log. Reference parity: mode-switched streaming
extracts (``extract/ParquetExtract.scala:148``), watermark plumbing
(``config/ConfigUtils.scala:643-660``), streaming loads
(``load/ParquetLoad.scala:136-142``); the reference delegates offset
management entirely to Spark checkpoints (SURVEY.md §3.3) — so do we,
with the manifest as the second (transactional) layer.
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arc_spark.cdc.epoch import (
    EpochKernel,
    applied_counters,
    bad_event,
    check_source,
    epoch_record,
    read_counters,
    read_events,
)
from arc_spark.lake.table import LakeTable


class StreamingReplay:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        table: LakeTable,
        *,
        checkpoint_dir: str,
        strategy: str = "thin",
        fingerprint: bool | str = True,
        max_files_per_trigger: int | None = None,
        watermark: tuple[str, str] | None = None,  # (eventTime col, delay)
        merge_mode: str = "auto",
        on_bad: str = "error",
        quarantine_path: str | None = None,
        metrics_path: str | None = None,
        events_format: str = "parquet",
        payload_schema=None,
        kafka_options: dict | None = None,
    ):
        self.spark = spark
        self.events_path = events_path
        self.table = table
        # "parquet" (default) tails staged change files; "debezium" tails
        # raw Debezium JSON envelopes and parses them inline
        # (arc_spark.cdc.debezium.parse_debezium — pure from_json codegen,
        # legal on a streaming frame). Unlike the batch runner there is NO
        # rescan penalty here: each micro-batch reads only its new files,
        # so inline parse is the natural home for a live connector tail.
        # "kafka" is the production Debezium wire: readStream.format
        # ("kafka") over the connector topic, value CAST to string, then
        # the IDENTICAL parse path as the file tail (_parse_envelopes) —
        # the file-format tests certify the kafka parse byte-for-byte;
        # only the source connector differs (requires the
        # spark-sql-kafka runtime jar on the cluster classpath).
        check_source(events_format, payload_schema, ("parquet", "debezium", "kafka"))
        if events_format == "kafka":
            opts = kafka_options or {}
            if "kafka.bootstrap.servers" not in opts:
                raise ValueError(
                    "events_format='kafka' requires kafka_options with "
                    "'kafka.bootstrap.servers'"
                )
            if not any(
                k in opts for k in ("subscribe", "subscribePattern", "assign")
            ):
                raise ValueError(
                    "events_format='kafka' requires kafka_options with one "
                    "of subscribe/subscribePattern/assign"
                )
        self.kafka_options = kafka_options or {}
        self.events_format = events_format
        self.payload_schema = payload_schema
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.watermark = watermark
        # micro-batches from a file tail are usually small vs the table —
        # exactly the merge-on-read regime (see LakeTable.merge)
        self.merge_mode = merge_mode
        # the batch runner's epoch kernel; quarantined rows of a batch go
        # to {quarantine_path}/batch={id} (overwritten — idempotent on
        # Spark's micro-batch retry)
        self.kernel = EpochKernel(
            strategy=strategy,
            fingerprint=fingerprint,
            on_bad=on_bad,
            quarantine_path=quarantine_path,
            ddl_approved=events_format in ("debezium", "kafka"),
        )
        # batch-runner parity (ReplayRunner.metrics_path): persist the
        # per-micro-batch counter records so a long-running stream's
        # metrics survive a driver restart. One JSON line appended per
        # batch (any arc_spark.fs scheme).
        self.metrics_path = metrics_path
        self.batches: list[dict] = []

    def _record(self, rec: dict) -> None:
        self.batches.append(rec)
        if self.metrics_path:
            import json

            from arc_spark.fs import get_fs

            # one appended line per batch — O(total records) bytes over
            # the stream's lifetime, and a restart naturally extends the
            # previous run's log. Backends without native append fall
            # back to read+rewrite inside open_append (documented cost on
            # object storage; point metrics at HDFS/local there).
            with get_fs(self.metrics_path, self.spark).open_append(
                self.metrics_path
            ) as out:
                out.write((json.dumps(rec) + "\n").encode())

    def _parse_envelopes(self, raw: DataFrame) -> DataFrame:
        """Debezium JSON envelopes (a string ``value`` column) → canonical
        change frame. ONE parse path for the file tail AND the kafka
        topic — pure from_json codegen, no executor Python."""
        from arc_spark.cdc.debezium import parse_debezium

        return parse_debezium(raw, self.payload_schema).drop("_ts_ms")

    def _stream(self) -> DataFrame:
        if self.events_format == "kafka":
            reader = self.spark.readStream.format("kafka")
            # earliest by default: a NEW checkpoint replays the topic from
            # the start (bootstrap semantics); an existing checkpoint's
            # stored offsets always win over this option
            opts = {"startingOffsets": "earliest", **self.kafka_options}
            for key, val in opts.items():
                reader = reader.option(key, str(val))
            raw = reader.load().select(
                F.col("value").cast("string").alias("value")
            )
            df = self._parse_envelopes(raw)
        elif self.events_format == "debezium":
            reader = self.spark.readStream
            if self.max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", self.max_files_per_trigger
                )
            df = self._parse_envelopes(reader.text(self.events_path))
        else:
            # the batch reader's merged schema: later stream files may
            # carry evolved columns earlier files lack
            schema = read_events(self.spark, self.events_path).schema
            reader = self.spark.readStream.schema(schema)
            if self.max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", self.max_files_per_trigger
                )
            df = reader.parquet(self.events_path)
        if self.watermark:
            df = df.withWatermark(*self.watermark)
        return df

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Explicit aggregates, never observe(): the micro-batch frame is
        # bound to a CLONED session while the merge's writes run on the
        # main one, so Observation.get would block forever. The read
        # counters fuse into the bounds job; the applied counters run over
        # the persisted winner set, which the merge then reuses.
        t0 = time.time()
        snap = self.table.snapshot()
        bad = bad_event(snap.key_cols, snap.seq_col)
        batch = self.kernel.guard(batch, bad, snap.seq_col)
        good_seq = F.when(~bad, F.col(snap.seq_col))
        stats = batch.agg(
            *read_counters(bad),
            F.min(good_seq).alias("lo"),
            F.max(good_seq).alias("hi"),
        ).first().asDict()
        lo, hi = stats.pop("lo"), stats.pop("hi")
        batch = self.kernel.divert(batch, bad, f"batch={batch_id}")
        if lo is None:
            # nothing mergeable — but the batch may still have READ events
            # (e.g. every row was quarantined/ignored as malformed): emit
            # the counters instead of letting those events vanish
            if stats["events_read"]:
                self._record(epoch_record(
                    batch_id, None, None, t0,
                    {"status": "no_mergeable_events"}, stats,
                    batch_id=batch_id,
                ))
            return
        deduped, redelivered = self.kernel.winners(
            batch, snap, has_ddl=lambda: stats["schema_changes"] > 0
        )
        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            applied = deduped.agg(*applied_counters()).first().asDict()
            result = self.table.merge(
                self.spark,
                deduped,
                epoch=batch_id,
                start_seq=int(lo),
                end_seq=int(hi),
                mode=self.merge_mode,
            )
        finally:
            deduped.unpersist()
        committed = result.get("status") == "committed"
        self._record(epoch_record(
            batch_id, int(lo), int(hi), t0, result,
            {**stats, **applied, "events_redelivered": redelivered}
            if committed else None,
            batch_id=batch_id,
        ))

    def start(self):
        """Start the streaming query; caller awaits/stops it."""
        return (
            self._stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def run_available(self) -> list[dict]:
        """Process everything currently in the directory, then stop."""
        q = self.start()
        q.awaitTermination()
        return self.batches

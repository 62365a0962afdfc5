"""The replay epoch kernel shared by every driver.

``ReplayRunner`` (batch), ``StreamingReplay`` (foreachBatch micro-batches)
and ``MultiTableReplay`` (one stream, many tables) turn an epoch's change
events into MERGE input through the same phases, in this order:

1. :meth:`EpochKernel.guard` — under ``on_bad="error"`` a malformed event
   raises inside the first job that reads it, before anything commits.
2. :func:`read_counters` — each driver collects them its own way: the
   batch runner through ``observe`` (no extra job), streaming through an
   explicit aggregate (an ``Observation`` blocks forever on
   foreachBatch's cloned session), multi-table in its per-table count job.
3. :meth:`EpochKernel.divert` — quarantine or drop malformed events.
4. :meth:`EpochKernel.winners` — schema-change split and DDL column gate,
   redelivery collapse, last-writer-wins, fingerprint.
5. :func:`epoch_record` — the one ``epoch.complete`` schema, with the
   identity ``events_read = schema_changes + keys_applied +
   events_deduped + events_bad`` (``events_redelivered`` is counted
   inside ``events_deduped``).

The redelivery collapse is always on (``apply.dedup_by_key``): the thin
LWW strategy keeps every verbatim copy of a duplicated ``(keys, seq)``
row and the MERGE would write each, and any source can deliver such
copies (a Debezium restart, a producer re-landing an Iceberg batch).
With the default unsalted ``thin`` the collapse costs no extra pass: the
winner aggregate also counts the copies, and only the winning rows of
keys that have copies go through one ``dropDuplicates``, so an epoch
holding a re-landed batch runs the clean epoch's jobs plus the two of
that collapse.
Keys and seq come from the target table's snapshot, so LWW resolves over
the keys the MERGE matches on. The batch drivers also share
:func:`read_events` and the epoch loop of :class:`EpochDriver`.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from arc_spark.cdc.apply import check_lww, dedup_by_key, normalize_and_fingerprint

log = logging.getLogger("arc_spark.cdc")

VALID_OPS = ("insert", "update", "delete", "schema-change")

COUNTERS = (
    "events_read", "schema_changes", "events_bad", "keys_applied",
    "deletes", "events_deduped", "events_redelivered",
)
MERGE_FIELDS = (
    "rows_written", "buckets_rewritten", "materialize_sec", "write_sec",
    "finalize_sec",
)


def check_source(events_format: str, payload_schema, allowed: tuple[str, ...]):
    """Reject an event source a driver cannot read."""
    if events_format not in allowed:
        raise ValueError(
            f"events_format must be {'/'.join(allowed)}, got {events_format!r}"
        )
    if events_format in ("debezium", "kafka") and payload_schema is None:
        raise ValueError(f"events_format={events_format!r} requires payload_schema")


def as_paths(events_path: str | list[str]) -> list[str]:
    """An events path as a list: it may be a LIST of directories (a
    sharded tail, e.g. one dir per Debezium topic partition)."""
    if isinstance(events_path, (list, tuple)):
        return list(events_path)
    return [events_path]


def read_events(
    spark: SparkSession,
    events_path: str | list[str],
    events_format: str = "parquet",
    payload_schema=None,
    *,
    seq_col: str = "seq",
    min_seq: int | None = None,
    max_seq: int | None = None,
    table_col: str | None = None,
) -> DataFrame:
    """A batch change stream: staged parquet, a raw Debezium JSON tail
    (``table_col`` receives the envelope's ``source.table``) or an
    Iceberg landing zone. Epochs window on the GLOBAL seq, so per-shard
    ordering needs no alignment here: LWW resolves by seq wherever the
    event landed, and each shard's parquet still prunes row groups by
    the epoch's seq band."""
    paths = as_paths(events_path)
    if events_format == "debezium":
        # JSON has no stats to prune by: every read parses the full tail
        from arc_spark.cdc.debezium import parse_debezium

        df = parse_debezium(
            spark.read.text(paths), payload_schema,
            with_source_table=table_col is not None,
        ).drop("_ts_ms")
        return df.withColumnRenamed("_table", table_col) if table_col else df
    if events_format == "iceberg":
        # the Kafka->Iceberg landing-zone shape, read with the engine's
        # spec reader (no runtime jar). For the append-only event tables
        # this shape implies, the epoch's seq filter pushes straight into
        # the parquet scan, and ``min_seq``/``max_seq`` prune whole FILES
        # by the landing manifest's seq bounds — a caught-up tail over a
        # 10^10-event landing zone schedules only the files past its
        # cursor instead of re-listing the entire table every epoch
        from arc_spark.lake.iceberg_read import read_iceberg

        df = None
        for p in paths:
            d = read_iceberg(
                spark, p, min_seq=min_seq, max_seq=max_seq, seq_field=seq_col
            )
            df = d if df is None else df.unionByName(d, allowMissingColumns=True)
        return df
    # mergeSchema: a binlog's later files may carry columns earlier files
    # lack (the schema-evolution case); without it Spark infers the
    # schema from ONE footer and can silently drop the new column
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def bad_event(keys: list[str], seq_col: str) -> Column:
    """Codegen predicate: the event is malformed — a NULL op or one
    outside :data:`VALID_OPS`, or a row op with a NULL key or seq."""
    null_key = F.lit(False)
    for k in [*keys, seq_col]:
        null_key = null_key | F.col(k).isNull()
    bad_op = ~F.coalesce(F.col("op").isin(*VALID_OPS), F.lit(False))
    return bad_op | ((F.col("op") != "schema-change") & null_key)


def read_counters(bad: Column) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("events_read"),
        F.count_if(F.col("op") == "schema-change").alias("schema_changes"),
        F.count_if(bad).alias("events_bad"),
    ]


def applied_counters() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("keys_applied"),
        F.count_if(F.col("op") == "delete").alias("deletes"),
    ]


@dataclass(frozen=True)
class EpochKernel:
    """A driver's epoch policy.

    ``strategy``/``salt_buckets``: the LWW strategy, checked at
    construction (``apply.check_lww``), so a bad pair fails before any
    epoch commits.

    ``on_bad``: a malformed event fails the epoch before commit
    (``"error"``), or is set aside and counted as ``events_bad``
    (``"quarantine"`` into a per-epoch directory under
    ``quarantine_path``, overwritten so a retry stays idempotent;
    ``"ignore"``).

    ``ddl_approved``: the event schema is itself the DDL declaration
    (Debezium carries DDL on a separate topic, so a widened
    ``payload_schema`` declares new columns). Otherwise columns the table
    does not know are dropped unless the epoch carries a schema-change
    event; then the MERGE widens the table additively.
    """

    strategy: str = "thin"
    salt_buckets: int | None = None
    fingerprint: bool | str = True
    on_bad: str = "error"
    quarantine_path: str | None = None
    ddl_approved: bool = False

    def __post_init__(self):
        check_lww(self.strategy, self.salt_buckets)
        if self.on_bad not in ("error", "quarantine", "ignore"):
            raise ValueError(
                f"on_bad must be error/quarantine/ignore, got {self.on_bad!r}"
            )
        if self.on_bad == "quarantine" and not self.quarantine_path:
            raise ValueError("on_bad='quarantine' requires quarantine_path")

    def guard(self, batch: DataFrame, bad: Column, seq_col: str) -> DataFrame:
        """With ``on_bad="error"``, replace ``op`` by a projection that
        raises on a malformed row, so every later read of ``op`` fails the
        epoch; the other policies act in :meth:`divert`."""
        if self.on_bad != "error":
            return batch
        return batch.withColumn(
            "op",
            F.when(
                bad,
                F.raise_error(
                    F.format_string(
                        "malformed change event at seq=%s, op=%s",
                        F.col(seq_col), F.col("op"),
                    )
                ).cast("string"),
            ).otherwise(F.col("op")),
        )

    def divert(self, batch: DataFrame, bad: Column, tag: str) -> DataFrame:
        """Drop malformed rows under ``on_bad="quarantine"``/``"ignore"``,
        writing them to ``{quarantine_path}/{tag}`` first under
        quarantine. Runs after the read counters, so they still count
        the diverted rows as ``events_bad``."""
        if self.on_bad == "error":
            return batch
        if self.on_bad == "quarantine":
            batch.filter(bad).write.mode("overwrite").parquet(
                f"{self.quarantine_path}/{tag}"
            )
        return batch.filter(~bad)

    def winners(
        self, batch: DataFrame, snap, *, has_ddl: Callable[[], bool]
    ) -> tuple[DataFrame, int]:
        """The epoch's gated events → ``(winners, events_redelivered)``:
        one fingerprinted row per key of ``snap``, and how many verbatim
        re-deliveries were collapsed. ``has_ddl()`` is asked only when the
        events carry columns the table does not know."""
        row_ops = batch.filter(F.col("op") != "schema-change")
        known = {f.name for f in snap.schema.fields}
        extra = [c for c in row_ops.columns if c not in known and c != "op"]
        if extra and not self.ddl_approved and not has_ddl():
            row_ops = row_ops.drop(*extra)

        deduped, redelivered = dedup_by_key(
            row_ops, list(snap.key_cols), snap.seq_col,
            strategy=self.strategy, salt_buckets=self.salt_buckets,
        )
        # fingerprint AFTER dedup: the kernel touches only winning rows,
        # post-shuffle where partitioning is uniform. True → "arrow"
        if self.fingerprint:
            impl = self.fingerprint if isinstance(self.fingerprint, str) else "arrow"
            deduped = normalize_and_fingerprint(deduped, impl=impl)
        return deduped, redelivered


def epoch_record(
    epoch: int,
    start_seq: int | None,
    end_seq: int | None,
    t0: float,
    result: dict,
    counters: dict | None = None,
    **extras,
) -> dict:
    """The ``epoch.complete`` record every driver emits (and logs).

    ``counters`` holds the read and applied counters plus
    ``events_redelivered``; a driver passes them only for an epoch this
    run committed (a fenced retry was counted by the run that committed
    it), and the counter fields read None otherwise. ``extras`` are the
    driver's own fields."""
    if counters is not None:
        counters = {k: counters.get(k, 0) for k in COUNTERS}
        counters["events_deduped"] = (
            counters["events_read"] - counters["schema_changes"]
            - counters["keys_applied"] - counters["events_bad"]
        )
    rec = {
        "event": "epoch.complete",
        "epoch": epoch,
        "start_seq": start_seq,
        "end_seq": end_seq,
        "duration_sec": round(time.time() - t0, 3),
        "status": result.get("status"),
        "mode": result.get("mode"),
        **{k: (counters or {}).get(k) for k in COUNTERS},
        **{k: result.get(k) for k in MERGE_FIELDS},
        **extras,
    }
    log.info(json.dumps(rec))
    return rec


class EpochDriver:
    """The epoch loop of the batch drivers. Subclasses provide ``spark``,
    ``batch_size``, ``metrics_path``, ``metrics``, ``max_seq()``,
    ``run_epoch()`` and ``_cursor()`` (the snapshot whose
    ``end_seq``/``epoch`` fence the stream)."""

    def _stream_end(self, end_seq: int | None) -> int:
        return self.max_seq() if end_seq is None else end_seq

    def run(
        self,
        *,
        max_epochs: int | None = None,
        end_seq: int | None = None,
        failure_injector: Callable[[int, str], None] | None = None,
    ) -> list[dict]:
        """From the cursor's ``end_seq + 1``, apply the stream in
        ``batch_size`` epochs until its end (or ``max_epochs``).
        ``failure_injector(epoch, phase)`` may raise ``InjectedFailure``
        at a driver's named phases to simulate crashes."""
        stream_end = self._stream_end(end_seq)
        done = 0
        while max_epochs is None or done < max_epochs:
            snap = self._cursor()
            start = snap.end_seq + 1
            if start > stream_end:
                break
            end = min(start + self.batch_size - 1, stream_end)
            self.run_epoch(snap.epoch + 1, start, end, failure_injector)
            done += 1
        if self.metrics_path:
            # through arc_spark.fs: metrics land next to the table on any
            # scheme (file/memory/hdfs/s3a/...), not just the local disk
            from arc_spark.fs import get_fs

            get_fs(self.metrics_path, self.spark).write_bytes(
                self.metrics_path,
                "".join(json.dumps(m) + "\n" for m in self.metrics).encode(),
            )
        return self.metrics

"""Micro-batch replay runner: binlog tail → normalize/fingerprint → LWW
dedup → lake MERGE, with exactly-once resume and per-epoch metrics.

Execution model (scale rationale):
- The change stream is parquet range-partitioned on ``seq``; an epoch reads
  ``seq BETWEEN a AND b`` which Catalyst pushes into the scan
  (``PushedFilters``) so row-group min/max stats skip everything outside
  the band — per-epoch IO is O(epoch size), not O(stream size).
- Offsets are *inside* the lake snapshot (see arc_spark.lake.table), so a
  crash between "data written" and "offsets advanced" is impossible;
  resume = read snapshot, continue from ``end_seq + 1``. A killed and
  retried epoch is fenced by ``committed_epochs``.
- Counters use ``df.observe`` (no extra job) + merge-side bucket counts,
  echoing the reference's per-stage SparkListener records/bytes metrics
  (``util/ListenerUtils.scala:39-84``) and per-stage duration logs
  (``ARC.scala:491-502``).

Failure injection for the exactly-once tests mirrors the reference's
ChaosMonkey lifecycle plugin (``plugins/lifecycle/ChaosMonkey.scala:81-96``).
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from arc_spark.cdc.epoch import (
    EpochDriver,
    EpochKernel,
    applied_counters,
    as_paths,
    bad_event,
    check_source,
    epoch_record,
    read_counters,
    read_events,
)
from arc_spark.lake.table import LakeTable

log = logging.getLogger("arc_spark.cdc")


class InjectedFailure(Exception):
    """Raised by a failure injector to simulate a crash (ChaosMonkey)."""


class ReplayRunner(EpochDriver):
    def __init__(
        self,
        spark: SparkSession,
        events_path: str | list[str],
        table: LakeTable,
        *,
        batch_size: int = 100_000,
        strategy: str = "thin",
        salt_buckets: int | None = None,
        fingerprint: bool | str = True,
        metrics_path: str | None = None,
        merge_mode: str = "auto",
        lineage: str = "global",
        on_bad: str = "error",
        quarantine_path: str | None = None,
        events_format: str = "parquet",
        payload_schema=None,
        tx_metadata_path: str | None = None,
    ):
        self.spark = spark
        self.events_path = events_path
        self.table = table
        # "parquet" (default): staged change events, seq-range filters
        # prune row groups — each epoch reads O(epoch) bytes.
        # "debezium": a raw Debezium JSON tail parsed inline
        # (arc_spark.cdc.debezium.parse_debezium; payload_schema required).
        # JSON has no stats to prune by, so EVERY epoch re-parses the full
        # tail — fine for small tails and tests, O(stream · epochs) at
        # scale: stage big tails once with stage_debezium() and replay
        # the parquet.
        check_source(events_format, payload_schema, ("parquet", "debezium", "iceberg"))
        self.events_format = events_format
        self.payload_schema = payload_schema
        self.batch_size = batch_size
        self.metrics_path = metrics_path
        # "auto" commits small epochs as merge-on-read deltas and big ones
        # as copy-on-write rewrites (see LakeTable.merge)
        self.merge_mode = merge_mode
        # "global": per-epoch totals only (df.observe — zero extra jobs).
        # "bucket": additionally emit per-partition lineage counters
        # {bucket: events_read / keys_applied / deletes / events_deduped}
        # — one thin column-pruned aggregate over the epoch's (keys)
        # projection plus one aggregate over the persisted winner set.
        if lineage not in ("global", "bucket"):
            raise ValueError(f"lineage must be 'global' or 'bucket', got {lineage!r}")
        self.lineage = lineage
        self.kernel = EpochKernel(
            strategy=strategy,
            salt_buckets=salt_buckets,
            fingerprint=fingerprint,
            on_bad=on_bad,
            quarantine_path=quarantine_path,
            ddl_approved=events_format == "debezium",
        )
        # Transaction-boundary atomicity (debezium only): a tail of the
        # connector's transaction METADATA topic. When set, run() caps the
        # replay window at tx_safe_horizon() — events of transactions with
        # no END marker (a connector crash mid-tx) are held back until a
        # later run sees the marker, so the table never exposes a state no
        # upstream reader ever saw. Held events don't break resume:
        # the gate only shortens the tail (seq-contiguity preserved).
        if tx_metadata_path and events_format != "debezium":
            raise ValueError("tx_metadata_path requires events_format='debezium'")
        self.tx_metadata_path = tx_metadata_path
        self.metrics: list[dict] = []

    @cached_property
    def seq_col(self) -> str:
        """The stream's seq column: the table's (one manifest read)."""
        return self.table.snapshot().seq_col

    def _cursor(self):
        return self.table.snapshot()

    # ------------------------------------------------------------------

    def _events(self, min_seq: int | None = None,
                max_seq: int | None = None) -> DataFrame:
        return read_events(
            self.spark, self.events_path, self.events_format,
            self.payload_schema, seq_col=self.seq_col,
            min_seq=min_seq, max_seq=max_seq,
        )

    def max_seq(self) -> int:
        cursor = None
        if self.events_format == "iceberg":
            # The stream-end probe over Iceberg landing zones answers
            # from manifest metadata alone — NO Spark job per poll —
            # when max_seq_bound can vouch for the answer:
            #   exact bounds (this engine's landing writers declare
            #   arc.bounds.tight): the bound IS the stream end;
            #   conservative bounds (any spec-compliant foreign writer):
            #   true max <= bound, so bound <= resume cursor still
            #   proves "nothing new" — the common caught-up poll —
            #   while bound > cursor falls back to the pruned scan for
            #   the attained max (an over-estimate must never become
            #   the cursor: events landing under it later would be
            #   skipped forever).
            from arc_spark.lake.iceberg_read import max_seq_bound

            best, all_exact, all_bounded = None, True, True
            for p in as_paths(self.events_path):
                v, exact = max_seq_bound(
                    p, seq_field=self.seq_col, spark=self.spark
                )
                if v is None:
                    if not exact:  # no usable metadata for this shard
                        all_exact = all_bounded = False
                        break
                    continue  # provably empty shard
                best = v if best is None else max(best, v)
                all_exact = all_exact and exact
            if all_exact:
                return -1 if best is None else int(best)
            cursor = self.table.snapshot().end_seq
            if cursor < 0:
                cursor = None
            if (
                all_bounded
                and best is not None
                and cursor is not None
                and best <= cursor
            ):
                return int(best)  # caught up: true max <= bound <= cursor
            # scan fallback — still pruned to files past the resume
            # cursor: a pruned file holds only seq <= cursor, and the
            # run loop treats max_seq <= cursor as nothing-to-do.
        row = self._events(min_seq=cursor).agg(F.max(self.seq_col)).first()
        return -1 if row[0] is None else int(row[0])

    def _stream_end(self, end_seq: int | None) -> int:
        stream_end = super()._stream_end(end_seq)
        if not self.tx_metadata_path:
            return stream_end
        from arc_spark.cdc.debezium import (
            parse_debezium,
            parse_tx_metadata,
            tx_safe_horizon,
        )

        ev_tx = parse_debezium(
            self.spark.read.text(as_paths(self.events_path)),
            self.payload_schema,
            with_tx=True,
        ).select("_tx_id", "seq")
        meta = parse_tx_metadata(self.spark.read.text(self.tx_metadata_path))
        horizon = tx_safe_horizon(ev_tx, meta)
        if horizon is not None and horizon < stream_end:
            log.info(
                json.dumps(
                    {
                        "event": "tx_gate.hold",
                        "stream_end": stream_end,
                        "tx_safe_horizon": horizon,
                    }
                )
            )
            return horizon
        return stream_end

    # ------------------------------------------------------------------

    def _window(self, start_seq: int, end_seq: int) -> DataFrame:
        seq = F.col(self.seq_col)
        return self._events(min_seq=start_seq - 1, max_seq=end_seq).filter(
            (seq >= start_seq) & (seq <= end_seq)
        )

    def run_epoch(
        self,
        epoch: int,
        start_seq: int,
        end_seq: int,
        failure_injector: Callable[[int, str], None] | None = None,
    ) -> dict:
        """Apply events ``start_seq..end_seq`` as ``epoch``: phase
        ``before_merge``/``after_merge`` go to ``failure_injector``."""
        t0 = time.time()
        snap = self.table.snapshot()
        obs_read = Observation(f"read-{epoch}")
        obs_applied = Observation(f"applied-{epoch}")
        bad = bad_event(snap.key_cols, snap.seq_col)
        batch = self.kernel.guard(
            self._window(start_seq, end_seq).observe(obs_read, *read_counters(bad)),
            bad,
            snap.seq_col,
        )
        batch = self.kernel.divert(batch, bad, f"epoch={epoch}")
        deduped, events_redelivered = self.kernel.winners(
            batch,
            snap,
            # a separate read: an action over the observed batch would
            # fill obs_read with a partial count
            has_ddl=lambda: self._window(start_seq, end_seq)
            .filter(F.col("op") == "schema-change")
            .limit(1)
            .count()
            > 0,
        )
        deduped = deduped.observe(obs_applied, *applied_counters())

        read_per_bucket: dict[str, int] | None = None
        if self.lineage == "bucket":
            # events read per bucket: thin aggregate over the epoch's key
            # projection (parquet reads only the key columns, seq filter
            # pushed down) — O(epoch), not O(stream)
            bexpr = self.table.bucket_expr(snap)
            read_per_bucket = {
                str(r["_b"]): r["_n"]
                for r in batch.filter(F.col("op") != "schema-change")
                .select(bexpr.alias("_b"))
                .groupBy("_b")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            }

        if failure_injector:
            failure_injector(epoch, "before_merge")

        result = self.table.merge(
            self.spark,
            deduped,
            epoch=epoch,
            start_seq=start_seq,
            end_seq=end_seq,
            mode=self.merge_mode,
            bucket_lineage=self.lineage == "bucket",
        )

        if failure_injector:
            failure_injector(epoch, "after_merge")

        committed = result.get("status") == "committed"
        extras = {}
        if read_per_bucket is not None and committed:
            applied = result.get("bucket_lineage") or {}
            extras["bucket_lineage"] = {
                b: {
                    "events_read": read_per_bucket.get(b, 0),
                    "keys_applied": applied.get(b, {}).get("keys_applied", 0),
                    "deletes": applied.get(b, {}).get("deletes", 0),
                    "events_deduped": read_per_bucket.get(b, 0)
                    - applied.get(b, {}).get("keys_applied", 0),
                }
                for b in sorted(
                    set(read_per_bucket) | set(applied), key=lambda x: int(x)
                )
            }
        metric = epoch_record(
            epoch, start_seq, end_seq, t0, result,
            {**obs_read.get, **obs_applied.get,
             "events_redelivered": events_redelivered} if committed else None,
            **extras,
        )
        self.metrics.append(metric)
        return metric

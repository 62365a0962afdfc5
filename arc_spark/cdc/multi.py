"""Multi-table replay: one change stream → many lake tables, atomically.

A whole-database binlog tail interleaves events for every table the
connector captures; each event carries its table name (Debezium
``source.table``). :class:`MultiTableReplay` windows the GLOBAL seq into
epochs exactly like the single-table :class:`arc_spark.cdc.runner
.ReplayRunner`, routes each epoch's events by table, applies each
table's LWW merge, and publishes ALL of the epoch's table versions in
ONE :class:`arc_spark.lake.catalog.LakeCatalog` commit — so readers that
resolve tables through the catalog never observe table A at epoch k and
table B at epoch k-1.

Exactly-once across the set:
- Offsets (the shared stream's seq window) are fenced in the CATALOG
  manifest, not per table. Resume = catalog end_seq + 1.
- A crash after some table merges but before the catalog commit leaves
  readers on the previous consistent version-set; the rerun's table
  merges are fenced per-table no-ops and the catalog commit completes
  the epoch with the versions the crashed run already produced.

Scale notes:
- Routing is a per-table predicate over the epoch scan. On staged
  parquet both the seq band (row-group stats) and the table predicate
  push down; a tail staged with ``partitionBy(table)`` turns routing
  into directory pruning (zero waste). For multi-table epochs over
  non-partitioned input the epoch batch is persisted once
  (MEMORY_AND_DISK) so T tables cost one scan, not T.
- Each table's events go through the shared epoch kernel
  (arc_spark.cdc.epoch) over that table's own keys; a malformed event
  fails the epoch before any table merges. The catalog adds only
  O(#tables) metadata per epoch.

Reference parity: the reference executes multi-output pipelines as one
config DAG with shared lineage (``ARC.scala:491-502``); routing by a
column echoes its PartitionLoad splitters, and the version-set commit is
the cross-table generalization of the manifest fencing in
arc_spark/lake/table.py.
"""

from __future__ import annotations

import time
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from arc_spark.cdc.bootstrap import DEFAULT_KEYS, stream_table_schema
from arc_spark.cdc.epoch import (
    MERGE_FIELDS,
    EpochDriver,
    EpochKernel,
    applied_counters,
    bad_event,
    check_source,
    epoch_record,
    read_counters,
    read_events,
)
from arc_spark.lake.catalog import LakeCatalog
from arc_spark.lake.table import LakeTable


class MultiTableReplay(EpochDriver):
    """Replay a table-tagged change stream into a LakeCatalog.

    ``events_path``: parquet change stream whose rows carry
    ``table_col`` (plus the canonical op/seq/key/payload columns), or a
    raw Debezium JSON tail (``events_format='debezium'``) where the
    routing key is ``source.table``.

    ``on_unknown_table``:
      - ``"error"`` (default): an event for an unregistered table fails
        the epoch before anything commits (exactly-once → fix, rerun).
      - ``"create"``: auto-register the table with the stream's schema
        (minus op/table columns, plus the fingerprint) and ``keys`` —
        the bootstrap behavior of a whole-database connector.
      - ``"ignore"``: drop those events (counted in metrics).
    """

    def __init__(
        self,
        spark: SparkSession,
        events_path: str | list[str],
        catalog: LakeCatalog,
        *,
        table_col: str = "table",
        batch_size: int = 100_000,
        strategy: str = "thin",
        salt_buckets: int | None = None,
        fingerprint: bool | str = True,
        keys: list[str] | None = None,
        seq_col: str = "seq",
        merge_mode: str = "auto",
        metrics_path: str | None = None,
        on_unknown_table: str = "error",
        num_buckets: int = 32,
        events_format: str = "parquet",
        payload_schema=None,
    ):
        check_source(events_format, payload_schema, ("parquet", "debezium"))
        if on_unknown_table not in ("error", "create", "ignore"):
            raise ValueError(
                f"on_unknown_table must be error/create/ignore, got {on_unknown_table!r}"
            )
        self.spark = spark
        self.events_path = events_path
        self.catalog = catalog
        self.table_col = table_col
        self.batch_size = batch_size
        self.kernel = EpochKernel(
            strategy=strategy,
            salt_buckets=salt_buckets,
            fingerprint=fingerprint,
            ddl_approved=events_format == "debezium",
        )
        self.keys = list(keys or DEFAULT_KEYS)
        self.seq_col = seq_col
        self.merge_mode = merge_mode
        self.metrics_path = metrics_path
        self.on_unknown_table = on_unknown_table
        self.num_buckets = num_buckets
        self.events_format = events_format
        self.payload_schema = payload_schema
        self.metrics: list[dict] = []

    # ------------------------------------------------------------------

    def _events(self) -> DataFrame:
        return read_events(
            self.spark, self.events_path, self.events_format,
            self.payload_schema, table_col=self.table_col,
        )

    def max_seq(self) -> int:
        row = self._events().agg(F.max(self.seq_col)).first()
        return -1 if row[0] is None else int(row[0])

    def _cursor(self):
        return self.catalog.snapshot()

    # ------------------------------------------------------------------

    def run_epoch(
        self,
        epoch: int,
        start_seq: int,
        end_seq: int,
        failure_injector: Callable[[int, str], None] | None = None,
    ) -> dict:
        t0 = time.time()
        tcol = F.col(self.table_col)
        seq = F.col(self.seq_col)
        window = self._events().filter((seq >= start_seq) & (seq <= end_seq))
        snap = self.catalog.snapshot()
        members = {
            n: LakeTable(e["root"], locker=self.catalog.locker)
            for n, e in snap.tables.items()
        }
        # malformed for the event's own table's keys (`keys` for tables
        # seen for the first time)
        bad = bad_event(self.keys, self.seq_col)
        for n, t in members.items():
            keys = t.snapshot().key_cols
            if keys != self.keys:
                bad = F.when(tcol == n, bad_event(keys, self.seq_col)).otherwise(bad)
        batch = self.kernel.guard(window, bad, self.seq_col)
        # One driver-side pass over table names: O(#tables) rows — the
        # same order as the catalog manifest itself. The per-name read
        # counters ride along (metrics, DDL gate, empty-table skip), and
        # a malformed event fails this job, before any table merges.
        counts = {
            r["_t"]: {k: v for k, v in r.asDict().items() if k != "_t"}
            for r in batch.groupBy(tcol.alias("_t"))
            .agg(*read_counters(bad))
            .collect()
        }
        if None in counts:
            raise ValueError(
                f"epoch {epoch}: {counts[None]['events_read']} events with "
                f"NULL {self.table_col!r} — not routable"
            )
        names = sorted(counts)
        unknown = [n for n in names if n not in members]
        events_ignored = 0
        if unknown:
            if self.on_unknown_table == "error":
                raise KeyError(
                    f"epoch {epoch}: events for unregistered tables "
                    f"{unknown} (on_unknown_table='error')"
                )
            if self.on_unknown_table == "ignore":
                events_ignored = sum(counts[n]["events_read"] for n in unknown)
                names = [n for n in names if n in members]
            else:  # create
                schema = stream_table_schema(
                    window.schema, ("op", self.table_col), self.kernel.fingerprint
                )
                for n in unknown:
                    members[n] = self.catalog.register(
                        n,
                        schema=schema,
                        key_cols=self.keys,
                        seq_col=self.seq_col,
                        num_buckets=self.num_buckets,
                    )

        # T tables would re-run the scan T times on unpartitioned input;
        # pin the epoch batch once. (A tail staged partitionBy(table)
        # makes this unnecessary — the filter prunes directories — but
        # persisting O(epoch) rows is always safe.)
        persisted = len(names) > 1
        if persisted:
            batch = batch.persist()
        try:
            table_versions: dict[str, int] = {}
            results: dict[str, dict] = {}
            applied: dict[str, tuple] = {}
            for name in names:
                table = members[name]
                deduped, redelivered = self.kernel.winners(
                    batch.filter(tcol == name).drop(self.table_col),
                    table.snapshot(),
                    has_ddl=lambda: counts[name]["schema_changes"] > 0,
                )
                obs = Observation(f"applied-{epoch}-{name}")
                deduped = deduped.observe(obs, *applied_counters())
                if failure_injector:
                    failure_injector(epoch, f"before_merge:{name}")
                result = table.merge(
                    self.spark,
                    deduped,
                    epoch=epoch,
                    start_seq=start_seq,
                    end_seq=end_seq,
                    mode=self.merge_mode,
                )
                # fenced retry returns no version — the table's current
                # version already contains this epoch
                table_versions[name] = int(
                    result.get("version", table.current_version())
                )
                results[name] = result
                applied[name] = (obs, redelivered)
            if failure_injector:
                failure_injector(epoch, "before_catalog_commit")
            commit = self.catalog.commit_epoch(
                epoch,
                start_seq=start_seq,
                end_seq=end_seq,
                table_versions=table_versions,
                counters={
                    "events_read": sum(counts[n]["events_read"] for n in names),
                    "events_ignored": events_ignored,
                },
            )
        finally:
            if persisted:
                batch.unpersist()

        # counted like the runner's epochs: only when this run committed
        # the whole epoch (a member merged by a crashed run was its work)
        counters = None
        if all(
            r.get("status") == "committed" for r in [commit, *results.values()]
        ):
            total = Counter()
            for name, (obs, redelivered) in applied.items():
                total.update(
                    {**counts[name], **obs.get, "events_redelivered": redelivered}
                )
            counters = dict(total)
        metric = epoch_record(
            epoch, start_seq, end_seq, t0,
            {
                "status": commit.get("status"),
                **{k: round(sum(r.get(k) or 0 for r in results.values()), 3)
                   for k in MERGE_FIELDS},
            },
            counters,
            tables={
                n: {
                    "events_read": counts[n]["events_read"],
                    "status": r.get("status"),
                    "rows_written": r.get("rows_written"),
                }
                for n, r in results.items()
            },
            catalog_version=commit.get("version"),
            events_ignored=events_ignored,
        )
        self.metrics.append(metric)
        return metric


def bootstrap_catalog_for_stream(
    spark: SparkSession,
    events_path: str | list[str],
    catalog_root: str,
    *,
    table_col: str = "table",
    keys: list[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    num_buckets: int = 32,
    fingerprint: bool = True,
    locker=None,
    overwrite: bool = True,
    events_format: str = "parquet",
    payload_schema=None,
) -> LakeCatalog:
    """Create a catalog with one table per distinct ``table_col`` value
    in the stream — the whole-database connector bootstrap. Each table's
    schema is the stream schema minus op/table (plus the fingerprint);
    per-table schema divergence is handled later by merge widening."""
    catalog = LakeCatalog(catalog_root, locker=locker)
    catalog.create(overwrite=overwrite)
    ev = read_events(
        spark, events_path, events_format, payload_schema, table_col=table_col
    )
    names = [
        r["_t"]
        for r in ev.select(F.col(table_col).alias("_t")).distinct().collect()
        if r["_t"] is not None
    ]
    schema = stream_table_schema(ev.schema, ("op", table_col), fingerprint)
    for n in sorted(names):
        catalog.register(
            n,
            schema=schema,
            key_cols=list(keys),
            seq_col=seq_col,
            num_buckets=num_buckets,
        )
    return catalog

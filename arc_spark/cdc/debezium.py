"""Debezium-envelope CDC ingestion.

Debezium's change-event envelope is the de-facto wire format of
binlog/WAL tails (MySQL binlog, Postgres logical decoding, SQL Server
CDC — the exact upstream the north-rule's "binlog/WAL-style change-event
tail" describes). This module maps that envelope onto the engine's
canonical change frame (payload columns + ``op`` + ``seq``) so a stream
of Debezium JSON records can feed :class:`arc_spark.cdc.runner.
ReplayRunner` / :class:`arc_spark.streaming.replay.StreamingReplay`
directly.

Envelope contract (public Debezium docs, "change event value"):

.. code-block:: json

    {"payload": {
        "before": {...} | null,
        "after":  {...} | null,
        "op": "c" | "u" | "d" | "r",
        "ts_ms": 1486500577691,
        "source": {"lsn": 24023128, "pos": 401, "ts_ms": ...}
    }}

With ``tombstones.on.delete`` / Kafka Connect "unwrap" SMTs the
``payload`` wrapper may be absent; ``wrapper="auto"`` handles both.

Everything here is ``from_json`` + codegen expressions — no Python
reaches the executors (north_rule: "no per-row Python"). The parse cost
is one JSON scan per record; with ``wrapper="auto"`` the planner still
runs a single ``from_json`` per candidate shape and coalesces, all
inside WholeStageCodegen.

Reference parity: Arc ingests change streams as JSONExtract +
SQLTransform shaping (extract/JSONExtract.scala:40-118); the envelope
unwrap logic itself has no Arc counterpart — it is engine-spec work for
the CDC tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "debezium_envelope_schema",
    "parse_debezium",
    "parse_tx_metadata",
    "stage_debezium",
    "to_debezium_json",
    "tx_safe_horizon",
    "OP_MAP",
]

# Debezium op -> engine op. "r" (snapshot read) and "c" (create) both
# materialize as upserts; LWW seq ordering makes the distinction moot
# for final-state equivalence (the reference replay applies both).
OP_MAP = {"c": "insert", "r": "insert", "u": "update", "d": "delete"}

# source-block fields used for seq derivation (preference order) plus the
# table identity fields a whole-database connector stamps on every event.
_SOURCE_FIELDS = T.StructType(
    [
        T.StructField("lsn", T.LongType()),      # Postgres WAL position
        T.StructField("pos", T.LongType()),      # MySQL binlog offset
        T.StructField("row", T.IntegerType()),   # row index within a tx
        T.StructField("ts_ms", T.LongType()),
        T.StructField("sequence", T.StringType()),
        T.StructField("db", T.StringType()),     # source database
        T.StructField("table", T.StringType()),  # source table (routing key)
    ]
)


def _payload_struct(payload_schema: T.StructType | str) -> T.StructType:
    if isinstance(payload_schema, str):
        return T.StructType.fromDDL(payload_schema)
    return payload_schema


# per-event transaction block (connector setting provide.transaction.metadata:
# absent → null struct, which parse treats as "non-transactional event")
_TX_FIELDS = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("total_order", T.LongType()),
        T.StructField("data_collection_order", T.LongType()),
    ]
)


def debezium_envelope_schema(payload_schema: T.StructType | str) -> T.StructType:
    """The full envelope schema for a given row-payload schema."""
    payload = _payload_struct(payload_schema)
    return T.StructType(
        [
            T.StructField("before", payload),
            T.StructField("after", payload),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("source", _SOURCE_FIELDS),
            T.StructField("transaction", _TX_FIELDS),
        ]
    )


def _default_seq(env: Column) -> Column:
    """Monotonic apply order when the caller gives no ``seq_expr``:
    prefer the log position (LSN / binlog pos — already totally ordered
    by the upstream database), fall back to the source timestamp.
    ts_ms alone is NOT unique under load — callers with a real stream
    should pass the connector's offset as ``seq_expr``."""
    src = env["source"]
    return F.coalesce(src["lsn"], src["pos"], src["ts_ms"], env["ts_ms"])


def parse_debezium(
    df: DataFrame,
    payload_schema: T.StructType | str,
    *,
    value_col: str = "value",
    seq_expr: Column | str | None = None,
    wrapper: str = "auto",
    drop_unparseable: bool = False,
    with_tx: bool = False,
    with_source_table: bool = False,
) -> DataFrame:
    """Parse a DataFrame of Debezium JSON strings into the canonical
    change frame: ``payload columns + op + seq (+ _ts_ms)``.
    ``with_tx=True`` additionally surfaces the per-event transaction
    block (``_tx_id``, ``_tx_order``; NULLs = non-transactional event) —
    the input to :func:`tx_safe_horizon`. ``with_source_table=True``
    surfaces ``source.table`` as ``_table`` — the routing key for
    whole-database streams (see :class:`arc_spark.cdc.multi
    .MultiTableReplay`).

    - ``op='d'`` rows take their key/payload columns from ``before``
      (Debezium deletes carry ``after=null``); everything else from
      ``after``.
    - Kafka-style NULL-value tombstone records (and, with
      ``drop_unparseable=True``, malformed JSON) are dropped — malformed
      rows otherwise surface as all-NULL payloads and fail the runner's
      bad-event gate, which is the right default for an exactly-once
      pipeline (quarantine beats silent loss).
    - ``wrapper``: ``"payload"`` (standard envelope), ``"none"``
      (unwrapped / SMT-flattened), ``"auto"`` = try both, prefer the
      wrapped parse. All three stay in codegen.
    - ``seq_expr``: Column or SQL string over the *parsed envelope*
      columns (exposed as ``_env``) defining the total apply order;
      default :func:`_default_seq`.

    Works identically on batch and streaming DataFrames (pure
    expressions), so the same call feeds ReplayRunner or readStream.
    """
    payload = _payload_struct(payload_schema)
    reserved = {"op", "seq", "_ts_ms", "_env"} & {f.name for f in payload.fields}
    if reserved:
        raise ValueError(
            f"payload fields {sorted(reserved)} collide with the canonical "
            "change-frame columns — rename them upstream"
        )
    env_schema = debezium_envelope_schema(payload)

    raw = F.col(value_col)
    if wrapper == "payload":
        env = F.from_json(raw, T.StructType([T.StructField("payload", env_schema)]))[
            "payload"
        ]
    elif wrapper == "none":
        env = F.from_json(raw, env_schema)
    elif wrapper == "auto":
        wrapped = F.from_json(
            raw, T.StructType([T.StructField("payload", env_schema)])
        )["payload"]
        env = F.coalesce(wrapped, F.from_json(raw, env_schema))
    else:
        raise ValueError(f"wrapper must be payload/none/auto, got {wrapper!r}")

    out = df.where(raw.isNotNull()).withColumn("_env", env)
    if drop_unparseable:
        # PERMISSIVE from_json yields an all-NULL struct (not a NULL
        # struct) for malformed input — "parsed" means at least one
        # envelope field materialized
        e = F.col("_env")
        out = out.where(
            e["op"].isNotNull()
            | e["ts_ms"].isNotNull()
            | e["before"].isNotNull()
            | e["after"].isNotNull()
            | e["source"].isNotNull()
        )

    envc = F.col("_env")
    row = F.when(envc["op"] == "d", envc["before"]).otherwise(envc["after"])
    if seq_expr is None:
        seq = _default_seq(envc)
    elif isinstance(seq_expr, str):
        seq = F.expr(seq_expr)
    else:
        seq = seq_expr

    op = F.element_at(
        F.create_map(*[F.lit(x) for kv in OP_MAP.items() for x in kv]), envc["op"]
    )
    cols = [row[f.name].alias(f.name) for f in payload.fields]
    tx_cols = (
        [
            envc["transaction"]["id"].alias("_tx_id"),
            envc["transaction"]["total_order"].alias("_tx_order"),
        ]
        if with_tx
        else []
    )
    if with_source_table:
        tx_cols.append(envc["source"]["table"].alias("_table"))
    return out.select(
        *cols,
        # unknown Debezium ops pass through verbatim so the replay's
        # malformed-event gate (on_bad=error/quarantine) sees them — mapping
        # them to NULL here would silently reclassify garbage as a
        # NULL-op bad row and lose the original op for the quarantine
        F.coalesce(op, envc["op"]).alias("op"),
        seq.cast("long").alias("seq"),
        envc["ts_ms"].alias("_ts_ms"),
        *tx_cols,
    )


# Debezium serializes deletes with the row image in `before` and
# `after=null`; everything else carries `after`. The inverse of the
# op→engine mapping used by parse (schema-change has no Debezium row-op —
# DDL travels on the connector's separate schema-change topic, so the
# serializer rejects it rather than inventing a wire format).
# "upsert" is what changes_since() emits (a consumer can't tell create
# from update without history) — Debezium's "u" applies as an upsert on
# re-ingest (OP_MAP above), so the distinction is lossless for state.
_ENGINE_OP_TO_DBZ = {"insert": "c", "update": "u", "upsert": "u", "delete": "d"}


def to_debezium_json(
    df: DataFrame, *, seq_col: str = "seq", table_col: str | None = None
) -> DataFrame:
    """Serialize a canonical change frame (payload cols + ``op`` +
    ``seq``) into one-column ``value: string`` Debezium envelopes —
    the test/demo inverse of :func:`parse_debezium` (pure ``to_json``
    codegen; the log position lands in ``source.lsn`` so the default
    seq derivation round-trips). ``table_col`` (if given) is stamped
    into ``source.table`` — the whole-database wire shape
    ``parse_debezium(with_source_table=True)`` routes by — and excluded
    from the row payload.

    Rows whose op has no Debezium row-op equivalent (``schema-change``)
    raise at execution: Debezium publishes DDL on a separate
    schema-change topic, so a caller must route those rows elsewhere
    (``df.filter(op != 'schema-change')``) before serializing.
    """
    payload_cols = [c for c in df.columns if c not in ("op", seq_col, table_col)]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    dbz_op = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _ENGINE_OP_TO_DBZ.items() for x in kv]
        ),
        F.col("op"),
    )
    dbz_op = F.when(dbz_op.isNotNull(), dbz_op).otherwise(
        F.raise_error(
            F.concat(
                F.lit("op has no Debezium row-op equivalent: "),
                F.coalesce(F.col("op"), F.lit("NULL")),
            )
        )
    )
    is_del = F.col("op") == "delete"
    return df.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.when(is_del, payload).alias("before"),
                    F.when(~is_del, payload).alias("after"),
                    dbz_op.alias("op"),
                    (F.col(seq_col).cast("long")).alias("ts_ms"),
                    F.struct(
                        F.col(seq_col).cast("long").alias("lsn"),
                        F.lit(None).cast("long").alias("pos"),
                        *(
                            [F.col(table_col).cast("string").alias("table")]
                            if table_col
                            else []
                        ),
                    ).alias("source"),
                ).alias("payload")
            )
        ).alias("value")
    )


def stage_debezium(
    spark,
    json_path: str,
    out_path: str,
    payload_schema: T.StructType | str,
    *,
    seq_expr: Column | str | None = None,
    wrapper: str = "auto",
    drop_unparseable: bool = False,
    num_files: int | None = None,
    dedup_keys: list[str] | None = None,
    tx_metadata_path: str | None = None,
) -> None:
    """One-pass staging: a raw Debezium JSON tail → seq-range-clustered
    parquet that :class:`~arc_spark.cdc.runner.ReplayRunner` replays with
    full pushdown.

    WHY a separate pass: the batch runner filters each epoch by a seq
    range. On parquet that filter prunes row groups via min/max stats —
    each epoch reads O(epoch) bytes. On raw JSON there are no stats and
    no column pruning, so replaying a tail of E events in K epochs
    directly would parse the FULL tail K times (O(E·K) — quadratic in
    stream length for fixed batch size). Staging parses once and
    ``repartitionByRange(seq)`` clusters the output so every later
    seq-window read prunes to the few files covering it. At 10^10 events
    this is the difference between one linear pass and re-parsing
    petabytes per epoch.

    ``num_files`` defaults to one file per ~512k events (bounded below
    at the session's shuffle parallelism) — big enough for efficient
    scans, small enough that an epoch touches few files.

    ``dedup_keys``: when given, at-least-once re-deliveries (verbatim
    duplicate (keys, seq) events — a connector restart's contract) are
    collapsed AFTER the staged write, detection running against the
    staged parquet where it is a thin column-pruned scan. Detecting on
    the raw JSON instead would re-parse the whole tail (no pruning on
    JSON), doubling the staging cost for the common clean case; this way
    a clean tail pays one cheap (keys, seq) pass and the rewrite happens
    only when duplicates actually exist. Replay collapses re-deliveries
    again in every epoch (see arc_spark.cdc.epoch); over deduplicated
    staged parquet that check finds nothing and rides the LWW aggregate.
    """
    raw = spark.read.text(json_path)
    parsed = parse_debezium(
        raw,
        payload_schema,
        seq_expr=seq_expr,
        wrapper=wrapper,
        drop_unparseable=drop_unparseable,
        with_tx=bool(tx_metadata_path),
    )
    if tx_metadata_path:
        # transaction-boundary gate at staging: truncate the staged tail
        # at the last COMPLETE transaction (see tx_safe_horizon) — a
        # partial trailing tx stays in the raw tail and stages on a later
        # run once its END marker lands. Gating here means replay needs
        # no tx awareness at all: the staged parquet is boundary-clean.
        meta = parse_tx_metadata(spark.read.text(tx_metadata_path))
        horizon = tx_safe_horizon(parsed.select("_tx_id", "seq"), meta)
        if horizon is not None:
            parsed = parsed.filter(F.col("seq") <= horizon)
        parsed = parsed.drop("_tx_id", "_tx_order")
    parsed = parsed.drop("_ts_ms")
    if num_files is None:
        n_events = raw.count()
        default_par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        num_files = max(min(default_par, 32), n_events // 512_000 + 1)
    parsed.repartitionByRange(num_files, "seq").write.mode("overwrite").parquet(
        out_path
    )
    if dedup_keys:
        from arc_spark.cdc.apply import collapse_redelivered

        staged = spark.read.parquet(out_path)
        collapsed, extras = collapse_redelivered(staged, dedup_keys, "seq")
        if extras:
            # rare path: rewrite without the re-delivered copies. The
            # staged files are the rewrite's own input, so materialize the
            # collapsed frame first (overwrite would otherwise delete the
            # files mid-read).
            tmp = out_path.rstrip("/") + ".dedup.tmp"
            collapsed.repartitionByRange(num_files, "seq").write.mode(
                "overwrite"
            ).parquet(tmp)
            spark.read.parquet(tmp).write.mode("overwrite").parquet(out_path)
            from arc_spark.fs import get_fs

            get_fs(tmp, spark).rmtree(tmp)


# ---------------------------------------------------------------------------
# transaction-boundary gating (Debezium transaction metadata topic)
# ---------------------------------------------------------------------------

_TX_META_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def parse_tx_metadata(df: DataFrame, *, value_col: str = "value") -> DataFrame:
    """Parse a Debezium *transaction metadata topic* tail (the records the
    connector emits with ``provide.transaction.metadata=true``:
    ``{"status": "BEGIN"|"END", "id": tx, "event_count": N, ...}``) into
    ``(tx_id, status, event_count)``. Wrapped and SMT-flattened records
    both parse (same auto-wrapper idea as :func:`parse_debezium`); pure
    from_json codegen."""
    raw = F.col(value_col)
    wrapped = F.from_json(
        raw, T.StructType([T.StructField("payload", _TX_META_SCHEMA)])
    )["payload"]
    env = F.coalesce(wrapped, F.from_json(raw, _TX_META_SCHEMA))
    return (
        df.where(raw.isNotNull())
        .select(
            env["id"].alias("tx_id"),
            env["status"].alias("status"),
            env["event_count"].alias("event_count"),
        )
        .where(F.col("tx_id").isNotNull())
    )


def tx_safe_horizon(events: DataFrame, tx_meta: DataFrame) -> int | None:
    """The largest seq that is safe to apply under transaction-boundary
    atomicity: every event at or below it belongs to a COMPLETE
    transaction (an END metadata record exists and the tail holds all
    ``event_count`` of its events) or to no transaction at all.

    A connector crash mid-transaction leaves a partial trailing tx in the
    tail; applying it would expose a state no upstream reader ever saw.
    Truncating the replay window at the horizon holds those events back
    WITHOUT breaking the engine's seq-contiguity resume invariant
    (resume = snapshot end_seq + 1): the gate only ever shortens the
    tail, and the held events apply on a later run once their END marker
    lands. This mirrors how a binlog reader refuses to cross an
    unterminated transaction rather than buffering per-tx state.

    Returns ``None`` = unbounded (no incomplete transactions).

    Atomicity closure: databases run transactions CONCURRENTLY, so a
    complete transaction's events can interleave across the initial
    cut (its first events below the oldest incomplete tx's start, its
    last above). Truncating there would apply that transaction
    partially — exposing a mid-transaction state no upstream reader
    ever saw, the exact failure the gate exists to prevent. The
    horizon therefore iterates downward until NO transaction spans it:
    each round pulls it below the earliest complete tx still crossing,
    which can expose another crosser, and so on until the cut is
    boundary-clean for every transaction. Rounds are bounded by the
    source's concurrent-transaction window (txs serialized in the log
    never chain), so convergence takes 1-3 rounds in practice.

    Scale shape: thin aggregates — events are reduced to (_tx_id, seq)
    before anything groups (on a staged tail, Parquet reads exactly two
    columns), and tx ids are counted with ``countDistinct(seq)`` so
    at-least-once re-deliveries don't inflate a transaction's observed
    size past its END count. The metadata tail is O(transactions) and
    joins broadcast; the closure loop runs over the persisted
    per-transaction aggregate (O(transactions) rows), one tiny job per
    round.
    """
    per_tx = (
        events.where(F.col("_tx_id").isNotNull())
        .groupBy("_tx_id")
        .agg(
            F.min("seq").alias("_first_seq"),
            F.max("seq").alias("_last_seq"),
            F.countDistinct("seq").alias("_n"),
        )
    )
    ends = (
        tx_meta.where(F.col("status") == "END")
        .groupBy("tx_id")
        .agg(F.max("event_count").alias("_expected"))
    )
    txs = per_tx.join(
        F.broadcast(ends), per_tx["_tx_id"] == ends["tx_id"], "left"
    ).select(
        "_first_seq",
        "_last_seq",
        (
            F.col("_expected").isNotNull() & (F.col("_n") >= F.col("_expected"))
        ).alias("_complete"),
    )
    # persist BEFORE the first action: the per-tx aggregate is the
    # dominant scan of the gate (the whole events tail), and both the
    # initial incomplete-min query and the closure loop read it
    txs = txs.persist()
    try:
        row = (
            txs.where(~F.col("_complete")).agg(F.min("_first_seq").alias("_h")).first()
        )
        if row["_h"] is None:
            return None
        horizon = int(row["_h"]) - 1
        # closure: no complete tx may span the cut (incomplete txs can't —
        # their first seqs are all above the initial horizon by
        # construction, and the horizon only moves down)
        spanning = txs.where(F.col("_complete"))
        while True:
            r = (
                spanning.where(
                    (F.col("_first_seq") <= horizon)
                    & (F.col("_last_seq") > horizon)
                )
                .agg(F.min("_first_seq").alias("_h"))
                .first()
            )
            if r["_h"] is None:
                return horizon
            horizon = int(r["_h"]) - 1
    finally:
        txs.unpersist()

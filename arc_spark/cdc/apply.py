"""The CDC apply kernel: content normalization + sha256 fingerprinting
(Arrow-vectorized) and last-writer-wins dedup per key.

Reference parity: the reference has no native dedup operator — SURVEY.md
§2.5 maps its SQL-first answer to ``Window.partitionBy(keys).orderBy(desc
seq)`` + ``row_number()==1`` or ``repartition(keys)+sortWithinPartitions+
mapPartitions`` (the shape BASELINE.json's north_rule mandates). We
implement three interchangeable strategies and verify they agree:

``thin``    (default)   thin (keys, seq) max-aggregate + explicit-broadcast
    null-safe semi join back (late materialization). The winner set is
    computed over ONLY the key/seq columns — Parquet column pruning means
    the thin pass never reads the multi-KB content from disk — and the
    join-back broadcasts the winner set whenever it holds at most
    :data:`DEFAULT_MAX_BROADCAST_WINNERS` rows, so the fat rows NEVER
    cross the wire at all. Measured (2M events, 2 epochs, interleaved
    best-of-2): 179 MB total replay shuffle vs window's 422 MB (2.36x
    fewer bytes), throughput equal-or-better in every paired sample
    (155.7k vs 151.6k ev/s at local[8], 144.6k vs 141.3k at local[32]).
    Fewer bus bytes is also the scaling lever on membw-ceilinged hosts
    (see BASELINE.md's strong-scaling closure). The only strategy that
    takes ``salt_buckets``. On its own it REQUIRES unique (keys, seq) —
    verbatim duplicate rows both survive the semi join — so input that
    may carry re-deliveries goes through :func:`dedup_by_key`, the
    duplicate-safe entry every replay driver and ``DedupTransform`` use.

``window``              row_number over (partitionBy keys, orderBy seq desc).
    This IS the north_rule's repartition-by-key + sortWithinPartitions +
    LWW shape, and Spark ≥3.5 executes it with a WindowGroupLimit: each
    map task keeps only its local top-1 row per key BEFORE the shuffle,
    so only ~min(E, K·P) rows cross the wire — but every surviving row's
    full payload still crosses it. Duplicate-safe on its own (ties
    collapse to one row).

``sort_partitions``     repartition(keys) → sortWithinPartitions(keys,
    seq desc) → stateful mapInPandas keep-first-per-key.
    The north_rule shape: all events for a key land in one partition,
    sorted so the winner is the first row of each key run; an Arrow batch
    iterator drops the rest while carrying the last key across batch
    boundaries (no per-row Python).

All strategies produce identical output when (keys, seq) is unique (the
native generator's invariant). :func:`dedup_by_key` also collapses
verbatim re-deliveries: ``window``, ``sort_partitions`` and salted
``thin`` run :func:`collapse_redelivered` first; unsalted ``thin`` takes
:func:`lww_thin_collapse_redelivered`, whose one thin aggregate counts
the copies and collapses them among its winners, so an at-least-once
epoch costs one thin aggregate and one checkpoint, like a clean one.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

# ---------------------------------------------------------------------------
# Normalization + fingerprint (vectorized; no per-row Python)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def sha256_hex(s: pd.Series) -> pd.Series:
    """sha256 hex digest of a string column (Arrow-batched).

    hashlib releases the GIL for large buffers; per-batch overhead is
    amortized by Arrow transfer. (For the engine hot path prefer
    ``normalize_and_fingerprint`` — its default mapInArrow kernel skips
    the pandas conversion entirely.)
    """
    return s.map(lambda x: None if x is None else hashlib.sha256(x.encode("utf-8")).hexdigest())


def _fingerprint_record_batches(batches, content_idx: int):
    """mapInArrow kernel: normalize + sha256 one RecordBatch at a time.

    All string work happens in Arrow's C++ kernels (RE2 regex — our
    normalization classes are explicitly ASCII, so RE2/Java/Python regex
    agree, see normalize_and_fingerprint) and the sha256 loop reads
    ZERO-COPY memoryview slices of the utf8 data buffer — no pandas object
    Series, no Python str materialization of multi-KB contents. hashlib
    releases the GIL on large buffers.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            # empty batch: buffers may be None — append an empty sha column
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array([], type=pa.string())],
                names=list(batch.schema.names) + ["content_sha256"],
            )
            continue
        arr = batch.column(content_idx)
        arr = pc.replace_substring(arr, pattern="\r\n", replacement="\n")
        arr = pc.replace_substring_regex(arr, pattern="[ \t]+\n", replacement="\n")
        arr = pc.replace_substring_regex(arr, pattern="[ \t\r\n\f\x0b]+$", replacement="")
        if arr.type == pa.large_string():
            offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1)
        else:
            arr = arr.cast(pa.string())
            offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=len(arr) + 1)
        data = memoryview(arr.buffers()[2] or b"")
        off0 = arr.offset
        null_mask = (
            np.asarray(arr.is_null()) if arr.null_count else None
        )
        shas: list[str | None] = []
        for i in range(len(arr)):
            if null_mask is not None and null_mask[i]:
                shas.append(None)
                continue
            lo, hi = offsets[off0 + i], offsets[off0 + i + 1]
            shas.append(hashlib.sha256(data[lo:hi]).hexdigest())
        cols = list(batch.columns)
        cols[content_idx] = arr
        cols.append(pa.array(shas, type=pa.string()))
        names = list(batch.schema.names) + ["content_sha256"]
        yield pa.RecordBatch.from_arrays(cols, names=names)


def normalize_and_fingerprint(
    df: DataFrame, content_col: str = "content", impl: str = "arrow"
) -> DataFrame:
    """Add ``content`` (normalized in place) and ``content_sha256``.

    Normalization strips trailing whitespace per line, turns CRLF into LF
    and drops trailing newlines. Whitespace is the EXPLICIT ASCII class
    [ \\t\\r\\n\\f\\v] — never ``\\s``, whose meaning differs across Python
    re (Unicode), Java regex (ASCII) and RE2/DuckDB (ASCII): the explicit
    class keeps both kernels, the Python reference replay and the DuckDB
    oracle bit-identical on any input. Unicode spaces (NBSP etc.) are
    treated as content, not formatting.

    ``impl`` — both produce byte-identical output (equality pinned in
    test_cdc_end_to_end; A/B-able per level in bench.py ab_kernels):
      - ``arrow`` (default): mapInArrow kernel — normalization in Arrow's
        RE2 C++ kernels, sha256 over zero-copy buffer slices. ONE Arrow
        round trip, no pandas conversion; the north_rule's
        vectorized-Arrow-UDF engine primitive at its fastest.
      - ``jvm``: a ``regexp_replace`` chain + ``F.sha2(_, 256)`` — stays
        entirely inside whole-stage codegen, no Python transfer at all.
    """
    if impl == "arrow":
        if "content_sha256" in df.columns:
            df = df.drop("content_sha256")
        idx = df.columns.index(content_col)
        out_schema = StructType(
            list(df.schema.fields) + [StructField("content_sha256", StringType(), True)]
        )
        return df.mapInArrow(
            lambda it: _fingerprint_record_batches(it, idx), schema=out_schema
        )
    if impl != "jvm":
        raise ValueError(f"impl must be 'arrow' or 'jvm', got {impl!r}")
    norm = F.regexp_replace(F.col(content_col), r"\r\n", "\n")
    norm = F.regexp_replace(norm, r"[ \t]+\n", "\n")
    norm = F.regexp_replace(norm, r"[ \t\r\n\f\x0B]+$", "")
    other = [c for c in df.columns if c != content_col]
    return df.withColumn("_nc", norm).select(
        *other,
        F.col("_nc").alias(content_col),
        F.when(
            F.col("_nc").isNotNull(), F.sha2(F.col("_nc"), 256)
        ).alias("content_sha256"),
    )


# ---------------------------------------------------------------------------
# Last-writer-wins dedup
# ---------------------------------------------------------------------------


# Winner sets up to this many rows broadcast in the thin strategy's
# join-back. ~1M (key, seq) rows ≈ 100-200 MB of hash relation per
# executor — inside a normal 4-8 GB executor budget; above it the join
# falls back to AQE's shuffle/broadcast decision.
DEFAULT_MAX_BROADCAST_WINNERS = 1_000_000

LWW_STRATEGIES = ("thin", "window", "sort_partitions")


def check_lww(strategy: str, salt_buckets: int | None = None) -> None:
    """Reject an unknown strategy, and a salt the strategy would ignore:
    only ``thin`` aggregates in two salted phases."""
    if strategy not in LWW_STRATEGIES:
        raise ValueError(
            f"unknown LWW strategy: {strategy!r} (expected one of {LWW_STRATEGIES})"
        )
    if salt_buckets and strategy != "thin":
        raise ValueError(
            f"salt_buckets={salt_buckets!r} is only supported by strategy "
            f"'thin'; strategy {strategy!r} would ignore it"
        )


def last_writer_wins(
    df: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    *,
    strategy: str = "thin",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Collapse ``df`` to one row per ``keys`` — the row with max ``seq_col``.
    Assumes unique (keys, seq); :func:`dedup_by_key` does not.

    ``salt_buckets`` (thin only): explicit two-phase aggregation for hot
    keys — phase 1 groups by (keys, pmod(xxhash64(seq), S)) so a hot key's
    events split across S reducers, phase 2 merges the S finalists.
    The ``window`` strategy needs no salt: its partial WindowGroupLimit
    already collapses every key to ≤1 row per MAP task, so a hot key
    reaches the reducer with at most P rows (P = upstream partitions) —
    the pathological single-key-dominates-a-reducer case cannot occur.
    """
    check_lww(strategy, salt_buckets)
    if strategy == "thin":
        return _lww_thin(df, keys, seq_col, salt_buckets)
    if strategy == "window":
        return _lww_window(df, keys, seq_col)
    return _lww_sort_partitions(df, keys, seq_col)


def dedup_by_key(
    df: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    *,
    strategy: str = "thin",
    salt_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """Duplicate-safe last-writer-wins: verbatim re-deliveries of a
    (keys, seq) row collapse first, so every strategy returns one row per
    key on at-least-once input. Unsalted ``thin`` takes the fused
    :func:`lww_thin_collapse_redelivered`; anything else runs
    :func:`collapse_redelivered` and then :func:`last_writer_wins`.

    Returns ``(winners, events_redelivered)``.
    """
    check_lww(strategy, salt_buckets)
    if strategy == "thin" and not salt_buckets:
        return lww_thin_collapse_redelivered(df, keys, seq_col)
    collapsed, redelivered = collapse_redelivered(df, keys, seq_col)
    return (
        last_writer_wins(
            collapsed, keys, seq_col, strategy=strategy, salt_buckets=salt_buckets
        ),
        redelivered,
    )


def _key_seq_join(
    df: DataFrame,
    other: DataFrame,
    keys: list[str],
    seq_col: str,
    how: str,
    broadcast: bool,
) -> DataFrame:
    """Null-safe semi/anti join of full rows onto a thin (keys, seq) set.
    A null-unsafe join would silently drop NULL-keyed rows, while window
    keeps them as a group — every strategy must produce identical
    output."""
    if broadcast:
        other = F.broadcast(other)
    d, w = df.alias("_d"), other.alias("_w")
    cond = None
    for k in [*keys, seq_col]:
        c = F.col(f"_d.{k}").eqNullSafe(F.col(f"_w.{k}"))
        cond = c if cond is None else (cond & c)
    return d.join(w, cond, how)


def collapse_redelivered(
    df: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    *,
    max_broadcast: int = DEFAULT_MAX_BROADCAST_WINNERS,
) -> tuple[DataFrame, int]:
    """Collapse at-least-once redelivery: keep ONE row per (keys, seq).

    The LWW strategies assume a unique seq per key (the native generator
    guarantees it); a Debezium tail does NOT — the connector's contract is
    at-least-once, so a restart can re-emit the same change event
    verbatim (same LSN → same seq), and the ``thin`` strategy's semi
    join-back would keep every verbatim copy, handing the lake MERGE two
    rows for one key (its full-outer join then duplicates the key in the
    table — the same reason Delta's MERGE errors on multi-matching
    sources). ``seq`` may also collide across DIFFERENT keys when the
    derivation falls back to ``ts_ms`` (debezium._default_seq) — those
    rows are distinct events and must survive, which is why the group key
    here is (keys, seq), never seq alone.

    Pay-for-use design (the 100 TB shape): detection is one THIN aggregate
    over only (keys, seq) — Parquet column pruning means a staged tail
    never reads the content column for this pass — and when the batch is
    clean (the overwhelmingly common case) the fat rows are untouched: no
    shuffle, no second pass. Only when duplicates exist does the fix run,
    and it is scoped to the affected groups: a broadcast anti/semi split
    isolates the few duplicated (keys, seq) groups, a row_number window
    collapses just those rows, and the clean remainder streams through
    unshuffled. The full ``dropDuplicates`` shuffle happens only in the
    pathological case of > ``max_broadcast`` duplicated groups.

    Returns ``(collapsed_df, extra_rows_dropped)`` — the count feeds the
    per-epoch ``events_redelivered`` metric.
    """
    from pyspark.sql.window import Window

    thin = df.select(*keys, F.col(seq_col))
    groups = (
        thin.groupBy(*keys, seq_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    stats = groups.agg(
        F.count(F.lit(1)).alias("_groups"),
        F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).alias("_extras"),
    ).first()
    n_groups, n_extras = int(stats["_groups"]), int(stats["_extras"])
    if n_groups == 0:
        return df, 0
    if n_groups > max_broadcast:
        # pathological flood of duplicates: one full shuffle beats
        # broadcasting a huge dup set to every task
        return df.dropDuplicates([*keys, seq_col]), n_extras
    dup_keys = groups.drop("_n")
    clean = _key_seq_join(df, dup_keys, keys, seq_col, "left_anti", True)
    affected = _key_seq_join(df, dup_keys, keys, seq_col, "left_semi", True)
    w = Window.partitionBy(*[F.col(k) for k in keys], F.col(seq_col)).orderBy(
        F.col(seq_col)
    )
    fixed = (
        affected.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return clean.unionByName(fixed), n_extras


def lww_thin_collapse_redelivered(
    df: DataFrame, keys: list[str], seq_col: str = "seq"
) -> tuple[DataFrame, int]:
    """Fused ``collapse_redelivered`` + thin LWW: one thin aggregate,
    one ``localCheckpoint`` and one ``first()`` whether or not the input
    carries re-deliveries.

    Per key the aggregate gives the LWW winner, ``max(seq)``, and ``_e``,
    the rows ``collapse_redelivered`` would drop: repeats of a non-null
    seq (``count(seq) - count_distinct(seq)``) plus all but one NULL-seq
    row (``window`` groups NULLs; only ``DedupTransform`` input can hold
    a NULL seq, the epoch kernel rejects one). Their sum is
    ``events_redelivered``.

    A key with ``_e == 0`` joins back against its winner exactly as thin
    LWW does. A key with copies may have copies of its winning row, so
    its semi-joined rows go through ``dropDuplicates(keys)``: each carries
    the winning (keys, seq), so keeping any one is what collapse-then-LWW
    keeps. Each side broadcasts its own winner set while it holds at most
    :data:`DEFAULT_MAX_BROADCAST_WINNERS` keys, so then only the dirty
    keys' winning rows cross a shuffle; a side past the cap sort-merge
    joins, shuffling the fat rows. A clean batch runs the plain semi join
    alone. NULL keys group as in ``window`` (the join is null-safe,
    ``dropDuplicates`` groups NULLs).

    Returns ``(deduped_df, events_redelivered)``.
    """
    seq = F.col(seq_col)
    null_seqs = F.count(F.lit(1)) - F.count(seq)
    stats = (
        df.select(*keys, seq)
        .groupBy(*keys)
        .agg(
            F.max(seq).alias(seq_col),
            (
                F.count(seq) - F.count_distinct(seq)
                + F.greatest(null_seqs - 1, F.lit(0))
            ).alias("_e"),
        )
        .localCheckpoint(eager=True)
    )
    row = stats.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).alias("_e"),
        F.count(F.lit(1)).alias("_k"),
        F.count(F.when(F.col("_e") > 0, 1)).alias("_d"),
    ).first()
    redelivered, n_dirty = int(row["_e"]), int(row["_d"])

    def join_back(winners: DataFrame, n: int) -> DataFrame:
        return _key_seq_join(
            df, winners.select(*keys, seq), keys, seq_col, "left_semi",
            n <= DEFAULT_MAX_BROADCAST_WINNERS,
        )

    if redelivered == 0:
        return join_back(stats, row["_k"]), 0
    clean = join_back(stats.filter(F.col("_e") == 0), row["_k"] - n_dirty)
    dirty = join_back(stats.filter(F.col("_e") > 0), n_dirty).dropDuplicates(keys)
    return clean.unionByName(dirty), redelivered


def _lww_thin(
    df: DataFrame, keys: list[str], seq_col: str, salt_buckets: int | None
) -> DataFrame:
    """Late-materialization LWW — the scale default.

    Aggregating the full payload (``max_by(struct(*), seq)``)
    drags content ~KBs/row through the partial-agg hash state, which
    spills once keys-per-partition × row-size exceeds task memory — and
    MORE tasks per host = LESS memory per task, so it anti-scales.

    Instead: (1) aggregate max(seq) over ONLY (keys, seq) — Parquet column
    pruning means the thin pass doesn't even read the payload columns from
    disk; per-key state is a single long. (2) null-safe semi-join the
    winning (keys, seq) set back onto the full rows, broadcast explicitly
    when it holds at most :data:`DEFAULT_MAX_BROADCAST_WINNERS` rows. AQE
    alone was measured leaving this join as SMJ (the pre-shuffle size
    estimate of an aggregate output is not trusted for the conversion),
    which re-shuffles every fat row: 656 MB replay shuffle vs 156 MB with
    the explicit broadcast (2M events, 2 epochs).

    The winner set is ``localCheckpoint(eager=True)``-materialized before
    it is counted, so the thin aggregation runs once per epoch: the count
    and the broadcast build both read the cached thin rows, and the RDD
    cache is ContextCleaner-managed (freed when the epoch's plan is
    garbage-collected), so nothing leaks across epochs. Availability
    trade-off: checkpoint blocks are unreplicated, so losing an executor
    between the checkpoint and its last read fails the epoch job instead
    of recomputing — the epoch is exactly-once-fenced, so a rerun resumes
    cleanly, and the exposure window is the seconds between the winner
    materialization and the merge commit.
    """
    thin = df.select(*keys, F.col(seq_col))
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt_buckets)).alias("_salt")
        winners = (
            thin.groupBy(*keys, salt)
            .agg(F.max(seq_col).alias(seq_col))
            .groupBy(*keys)
            .agg(F.max(seq_col).alias(seq_col))
        )
    else:
        winners = thin.groupBy(*keys).agg(F.max(seq_col).alias(seq_col))
    winners = winners.localCheckpoint(eager=True)
    broadcast = winners.count() <= DEFAULT_MAX_BROADCAST_WINNERS
    return _key_seq_join(df, winners, keys, seq_col, "left_semi", broadcast)


def _lww_window(df: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _lww_sort_partitions(df: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    cols = df.columns
    key_idx = [cols.index(k) for k in keys]

    def _key_tuple(row) -> tuple:
        # normalize nulls so cross-batch comparison matches the mask below
        return tuple(None if pd.isna(v) else v for v in row)

    def drop_dupes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Rows arrive sorted by (keys, seq desc) within the partition; keep
        # the first row of each key run, carrying the last-seen key across
        # Arrow batch boundaries.
        prev_key: tuple | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            keymat = pdf.iloc[:, key_idx]
            # boundary mask: row differs from the previous row's key.
            # NULL keys group like every other strategy's (window treats
            # nulls as one group): a bare `!=` calls NaN != NaN True
            # — Arrow hands nullable ints to pandas as float NaN — and a
            # null-keyed run would then never collapse, so mask out the
            # both-null case explicitly.
            shifted = keymat.shift(1)
            firsts = (keymat.ne(shifted) & ~(keymat.isna() & shifted.isna())).any(axis=1)
            firsts.iloc[0] = True
            if prev_key is not None and _key_tuple(keymat.iloc[0]) == prev_key:
                firsts.iloc[0] = False
            prev_key = _key_tuple(keymat.iloc[-1])
            out = pdf[firsts.values]
            if not out.empty:
                yield out

    ordered = df.repartition(*keys).sortWithinPartitions(*keys, F.col(seq_col).desc())
    return ordered.mapInPandas(drop_dupes, schema=df.schema)


# ---------------------------------------------------------------------------
# SCD Type 2: change stream -> full version history
# ---------------------------------------------------------------------------


def apply_scd2(
    df: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    *,
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: derive the full version history
    from a change stream instead of collapsing to latest state (the LWW
    strategies above are SCD Type 1).

    Output = one row per surviving version with
      ``valid_from_seq``  the event's own seq,
      ``valid_to_seq``    the NEXT event's seq for the key (NULL = open),
      ``is_current``      open interval (the key's live version).

    A delete event closes its predecessor's interval (its seq becomes the
    predecessor's ``valid_to_seq``) and emits no row of its own — after a
    delete the key simply has no current version, matching the LWW
    tombstone semantics of :meth:`LakeTable.merge`.

    Scale shape: ONE shuffle of the stream by key (the lead() window).
    Unlike LWW, late materialization buys nothing here — every non-delete
    event survives into the output, so a thin-window + join-back variant
    would still move every fat row once AND pay a second pass; the plain
    window IS minimal data movement. Spark executes lead() with a
    spillable sort per key group, so hot keys degrade to disk sort, never
    OOM. Expect output ≈ input rows: SCD2 is a history TABLE, typically
    written once per epoch window, not a per-key rollup.

    The reference has no history operator (its SQL-first answer would be
    this same LEAD window in a SQLTransform — SURVEY.md §2.5); provided
    as a first-class operator because CDC consumers routinely need
    as-of/history joins over the same tail the engine already ingests.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).asc())
    hist = df.filter(F.col(op_col) != "schema-change").withColumn(
        "valid_to_seq", F.lead(F.col(seq_col)).over(w)
    )
    return (
        hist.filter(F.col(op_col) != delete_op)
        .withColumn("valid_from_seq", F.col(seq_col))
        .withColumn("is_current", F.col("valid_to_seq").isNull())
    )

"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products via ``F.zip_with`` + ``F.aggregate`` (JVM-side, codegen);
  top-k per query via window-free ``ORDER BY LIMIT k`` for a single query
  or a groupBy-max_by pattern for query batches.
- ``lsh_topk``: random-hyperplane LSH bucketing — the scale path. Signs of
  ``h`` fixed random hyperplane projections form a bucket key; candidates
  share ≥1 banded sub-key; exact cosine re-rank inside buckets. The
  hyperplanes are deterministic (seeded) literal arrays broadcast in the
  plan — no driver-side model state.
- ``embedding_near_dup``: all pairs with cosine ≥ threshold via the same
  LSH bucketing (used as the embedding near-dup dedup operator).

Scale rationale: brute force is O(n) per query and fine for small query
sets even at 10^9 rows (one scan, partial top-k per partition then merge —
Spark's ORDER BY LIMIT does exactly this with TakeOrderedAndProject).
The LSH variant bounds candidate sets so multi-query / all-pairs work
avoids the O(n·q) blowup.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

import logging

_log = logging.getLogger(__name__)

_USE_DEFAULT_CAP = -1  # sentinel: resolve to dedup.DEFAULT_MAX_BUCKET_SIZE


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query_vec``.

    The plan is scan → project(score) → TakeOrderedAndProject(k): each
    partition keeps its local top-k, the driver merges P·k rows — no full
    sort, no shuffle of the data.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col).cast("array<double>"), q).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_batch(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k per query for a BATCH of queries — the retrieval shape
    training pipelines actually run (q queries against n vectors in one
    scan, not q scans).

    ``queries``: [(query_id, vector), ...], driver-side and broadcast with
    the kernel closure (bounded by ``max_queries`` — a query set is index
    metadata, not data). Two-phase top-k: ONE ``mapInPandas`` scan scores
    each Arrow batch against all queries with a single numpy matmul and
    emits only its local top-k per query (k·q rows per batch), then a
    window over the (batches·k·q)-row finalist set picks the global
    top-k. The corpus is never shuffled and never scored in Python
    per-row. Returns (query_id, vec_id, cosine_sim, rank), ties broken by
    id — deterministic on any partitioning.
    """
    from pyspark.sql.window import Window

    if len(queries) > max_queries:
        raise ValueError(
            f"{len(queries)} queries > max_queries={max_queries}; shard the "
            f"query set or raise the bound (driver memory holds q x dim)"
        )
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.array([list(map(float, q[1])) for q in queries], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    kk = k

    def score_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            sims = (V @ Q.T) / (vn[:, None] * qn[None, :])  # (n, q)
            ids = pdf[id_col].to_numpy()
            top = min(kk, len(ids))
            # per-query local top-k: argpartition then exact order
            part = np.argpartition(-sims, top - 1, axis=0)[:top]  # (top, q)
            out_q, out_id, out_sim = [], [], []
            for j in range(sims.shape[1]):
                sel = part[:, j]
                order = np.lexsort((ids[sel], -sims[sel, j]))
                out_q.extend([qids[j]] * len(sel))
                out_id.extend(ids[sel][order])
                out_sim.extend(sims[sel, j][order])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "cosine_sim": out_sim}
            )

    finalists = df.select(id_col, vec_col).mapInPandas(
        score_batches,
        schema=f"query_id long, {id_col} long, cosine_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        finalists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cosine_sim")
    )


_TOMBSTONES = "_tombstones"


def _write_tombstones(path: str, changes: DataFrame, id_col: str, new_gen: int) -> None:
    """Append (id → min live generation) tombstones for EVERY changed id:
    an upsert's prior rows are stale, a delete's rows are dead. Shared by
    the LSH and IVF incremental-maintenance paths."""
    from arc_spark.fs import join as fs_join

    (
        changes.select(
            F.col(id_col).alias("id"), F.lit(int(new_gen)).alias("min_live_gen")
        )
        .write.mode("append")
        .parquet(fs_join(path, _TOMBSTONES))
    )


def _live_rows(spark, path: str, df: DataFrame, id_col: str) -> DataFrame:
    """Drop stale/deleted candidate rows: left-join the index's tombstone
    table and keep rows whose generation is at/above the id's minimum
    live generation. Pre-incremental indexes (no _gen column, no
    tombstones) pass through untouched."""
    from arc_spark.fs import get_fs, join as fs_join

    if "_gen" not in df.columns:
        df = df.withColumn("_gen", F.lit(0))
    tomb_path = fs_join(path, _TOMBSTONES)
    if not get_fs(path, spark).exists(tomb_path):
        return df
    tomb = (
        spark.read.parquet(tomb_path)
        .groupBy(F.col("id").alias("_tid"))
        .agg(F.max("min_live_gen").alias("_mlg"))
    )
    return (
        df.join(tomb, df[id_col] == F.col("_tid"), "left")
        .filter(F.col("_mlg").isNull() | (F.col("_gen") >= F.col("_mlg")))
        .drop("_tid", "_mlg")
    )


def _compact_persisted_index(idx, spark, partition_cols: list[str]) -> dict:
    """Shared compact for persisted ANN indexes (LshIndex / IVFIndex):
    ONE scan applies the tombstone filter, rewrites every partition at
    generation 0 and clears ``_tombstones/``. The rewrite stages to a
    sibling directory and swaps via the driver filesystem, so a crash
    mid-compact leaves the original index intact (single-writer
    maintenance op, like build)."""
    import json

    from arc_spark.fs import get_fs, join as fs_join

    fs = get_fs(idx.path, spark)
    live = idx._live(spark, spark.read.parquet(idx.path))
    staging = idx.path.rstrip("/") + ".compact-tmp"
    (
        live.withColumn("_gen", F.lit(0))
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(staging)
    )
    new_meta = {**idx.meta, "gen": 0}
    get_fs(staging, spark).write_bytes(
        fs_join(staging, idx.META), json.dumps(new_meta).encode()
    )
    fs.rmtree(idx.path)
    # LocalFS/HadoopFS rename; MemoryFS has no rename — copy keys
    if hasattr(fs, "_fs"):  # HadoopFS
        fs._fs.rename(fs._path(staging), fs._path(idx.path))
    else:
        import os as _os

        try:
            _os.rename(staging, idx.path)
        except OSError:
            for full, _name in list(fs.walk_files(staging)):
                rel = full[len(staging):].lstrip("/")
                fs.write_bytes(fs_join(idx.path, rel), fs.read_bytes(full))
            fs.rmtree(staging)
    idx.meta = new_meta
    return {"status": "compacted", "gen": 0}


def _index_sync_from_table(idx, spark, table, since_seq: int | None) -> dict:
    """Resumable index freshness from a LakeTable (shared by LshIndex and
    IVFIndex): pull ``changes_since(cursor)``, apply incrementally, and
    commit the new cursor in the SAME meta PUT as the generation bump —
    a crash between data-append and meta-write merely re-applies the same
    delta next run (idempotent for queries: re-tombstoning + re-appending
    at a higher generation leaves one live winner per id)."""
    cursor = idx.meta.get("last_seq", since_seq)
    if cursor is None:
        cursor = since_seq
    if cursor is None:
        raise ValueError(
            "index meta carries no last_seq cursor — build/write with "
            "last_seq=<snapshot end_seq> or pass since_seq explicitly"
        )
    cursor = int(cursor)
    snap = table.snapshot()
    # rollback safety: a rollback re-publishes the undone seq range with
    # corrected content, which a plain seq cursor would skip forever.
    # The meta also records the manifest version the cursor was taken at;
    # if a rollback undid the index's position, reset the cursor to the
    # restored end_seq and re-apply — apply_changes is IDEMPOTENT
    # (re-tombstone + re-append leaves one live winner per id), so the
    # index self-heals without operator action.
    cursor_version = idx.meta.get("last_version")
    if cursor_version is not None:
        reset_to = table.undone_since(
            cursor, int(cursor_version), current_version=snap.version
        )
        if reset_to is not None:
            _log.warning(
                "index at %s synced past a table rollback (cursor seq %d) "
                "— resetting to %d and re-applying the corrected range",
                idx.path, cursor, reset_to,
            )
            cursor = reset_to
    if snap.end_seq <= cursor:
        # covers the rollback-then-reapplied case too: the reset above
        # already pulled the cursor below the re-published range
        return {"status": "up_to_date", "last_seq": cursor}
    changes = table.changes_since(spark, cursor, version=snap.version)
    stats = idx.apply_changes(
        spark,
        changes,
        extra_meta={"last_seq": int(snap.end_seq), "last_version": int(snap.version)},
    )
    return {"status": "applied", "last_seq": int(snap.end_seq), **stats}


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_bucket_expr(vec: Column, planes: list[list[float]], band: int, rows_per_band: int) -> Column:
    bits = []
    for r in range(rows_per_band):
        p = planes[band * rows_per_band + r]
        proj = _dot(vec, F.array(*[F.lit(x) for x in p]))
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**r))
    key = bits[0]
    for b in bits[1:]:
        key = key + b
    return key


def _topk_pairs(
    idx: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    *,
    broadcast_probes: bool = False,
) -> DataFrame:
    """Per-query exact top-``k`` over the (band, _bucket) join of index
    rows and probe rows → (query_id, rank, id, cosine_sim), ties broken
    by id.

    Each side's vector norm is computed once per side row, before the
    join, so a candidate pair evaluates only the dot product — the same
    expressions as :func:`cosine` in the same order, so scores are
    bit-identical to it (the brute-force paths compare equal).

    A (query, id) pair hit in several bands arrives once per band, and
    every copy carries the same two vectors, hence the same score. So the
    copies tie exactly under ``dense_rank`` over (score desc, id), and the
    window ranks them WITHOUT a prior dedup: its WindowGroupLimit keeps
    only the top-k ranks per query map-side, and the copies collapse in a
    ``dropDuplicates`` over that k-per-query remainder. Deduplicating the
    full candidate set first (the earlier plan) sorted or hashed every
    candidate row a second time — at 10^5 queries, tens of millions of
    rows for nothing."""
    from pyspark.sql.window import Window

    vec = F.col(vec_col).cast("array<double>")
    probes = probes.withColumn("_qn", _norm(F.col("_qvec")))
    cand = idx.withColumn("_vn", _norm(vec)).join(
        F.broadcast(probes) if broadcast_probes else probes, ["band", "_bucket"]
    )
    scored = cand.select(
        "query_id",
        F.col(id_col),
        (_dot(vec, F.col("_qvec")) / (F.col("_vn") * F.col("_qn"))).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["query_id", id_col])
        .select("query_id", "rank", id_col, "cosine_sim")
    )


def _band_keys_kernel(planes: list[list[float]], bands: int, rpb: int):
    """Arrow kernel computing ALL band keys per row in one numpy matmul
    (n×dim @ dim×planes) — shared by index build, incremental append and
    the near-dup banding so every path is plan-pinned to a single
    ArrowEvalPython pass."""
    P = np.array(planes, dtype=np.float64)
    weights = np.array([1 << r for r in range(rpb)], dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _band_keys(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        bits = (V @ P.T >= 0).astype(np.int64)
        keys = bits.reshape(len(V), bands, rpb) @ weights
        return pd.Series(list(keys))

    return _band_keys


def _band_keys_kernel_lazy(num_planes: int, bands: int, rpb: int, seed: int):
    """Like ``_band_keys_kernel`` but the hyperplane matrix is derived
    inside the kernel from the first batch's vector dimension —
    ``_hyperplanes(dim, num_planes, seed)`` is a pure function of
    (dim, num_planes, seed), so every task materializes the identical
    matrix and no driver-side ``df.first()`` dim-probe job is needed."""
    weights = np.array([1 << r for r in range(rpb)], dtype=np.int64)
    state: dict = {}

    @pandas_udf(ArrayType(LongType()))
    def _band_keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vecs.tolist(), dtype=np.float64)
        P = state.get("P")
        if P is None:
            P = np.array(
                _hyperplanes(V.shape[1], num_planes, seed), dtype=np.float64
            )
            state["P"] = P
        bits = (V @ P.T >= 0).astype(np.int64)
        keys = bits.reshape(len(V), bands, rpb) @ weights
        return pd.Series(list(keys))

    return _band_keys


def _query_band_keys(
    query_vec: list[float], planes: list[list[float]], bands: int, rpb: int
) -> list[int]:

    qarr = np.array(query_vec, dtype=float)
    q_keys = []
    for band in range(bands):
        key = 0
        for r in range(rpb):
            p = np.array(planes[band * rpb + r])
            if float(qarr @ p) >= 0:
                key += 2**r
        q_keys.append(key)
    return q_keys


def add_lsh_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    prefix: str = "_lsh",
) -> DataFrame:
    """Materialize per-band LSH bucket keys as columns ``{prefix}{band}``.

    The index-build half of ``lsh_topk``: compute the hyperplane
    projections ONCE, persist (e.g. ``write.partitionBy(f"{prefix}0")``),
    and serve repeated queries with partition-pruned scans instead of
    re-projecting every row per query.
    """
    sample = df.select(vec_col).first()  # array length isn't in the schema
    dim = len(sample[0])
    planes = _hyperplanes(dim, num_planes, seed)
    rpb = num_planes // bands
    v = F.col(vec_col).cast("array<double>")
    out = df
    for band in range(bands):
        out = out.withColumn(f"{prefix}{band}", lsh_bucket_expr(v, planes, band, rpb))
    return out


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    bucket_prefix: str | None = None,
) -> DataFrame:
    """Approximate top-k: only rows sharing ≥1 LSH band bucket with the
    query are scored. Deterministic given ``seed``.

    ``bucket_prefix``: use precomputed bucket-key columns (from
    ``add_lsh_buckets``) instead of projecting every row per query — on a
    stored table partitioned by the first band key this prunes the scan
    itself (IVF-style); without it each query is a full scan with cheaper
    scoring only.
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, num_planes, seed)
    rpb = num_planes // bands
    v = F.col(vec_col).cast("array<double>")
    q_keys = _query_band_keys(query_vec, planes, bands, rpb)

    cand = None
    for band in range(bands):
        key = (
            F.col(f"{bucket_prefix}{band}")
            if bucket_prefix
            else lsh_bucket_expr(v, planes, band, rpb)
        )
        m = key == F.lit(q_keys[band])
        cand = m if cand is None else (cand | m)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.filter(cand)
        .select(F.col(id_col), cosine(v, q).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


class LshIndex:
    """Persisted random-hyperplane LSH index in the multi-table layout:
    one parquet table PER BAND, each partitioned by that band's bucket
    key. A top-k query reads exactly ``bands`` bucket directories
    (partition pruning at the file-listing level) instead of scanning the
    corpus — the productionized form of ``lsh_topk``'s ``bucket_prefix``
    path, which still required the caller to wire the layout by hand.

    Write amplification is ``bands``× (each band stores id+vector); the
    standard LSH-forest tradeoff — queries touch O(bands · bucket) rows
    no matter how large the table grows. Metadata (planes seed, dims)
    rides a JSON object next to the data via arc_spark.fs, so the index
    opens from any scheme the cluster can read."""

    META = "_lsh_index.json"

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @classmethod
    def build_and_write(
        cls,
        df: DataFrame,
        path: str,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        num_planes: int = 16,
        bands: int = 4,
        seed: int = 42,
        last_seq: int | None = None,
    ) -> "LshIndex":
        """``last_seq``: when the corpus is a LakeTable read, pass the
        snapshot's end_seq — it seeds the resumable ``sync_from_table``
        cursor so index freshness needs no manual bookkeeping."""
        import json

        from arc_spark.fs import get_fs, join as fs_join

        sample = df.select(vec_col).first()
        dim = len(sample[0])
        planes = _hyperplanes(dim, num_planes, seed)
        rpb = num_planes // bands
        # ONE scan + ONE write job: every band key comes out of a single
        # numpy matmul Arrow pass and lands via partitionBy(band, bucket)
        # — a per-band write loop would scan the corpus `bands` times
        _band_keys = _band_keys_kernel(planes, bands, rpb)
        staged = df.withColumn(
            "_bk", _band_keys(F.col(vec_col).cast("array<double>"))
        ).localCheckpoint(eager=False)
        (
            staged.select(
                "*", F.posexplode(F.col("_bk")).alias("band", "_bucket")
            )
            .drop("_bk")
            .withColumn("_gen", F.lit(0))
            .write.partitionBy("band", "_bucket")
            .mode("overwrite")
            .parquet(path)
        )
        meta = {
            "num_planes": num_planes, "bands": bands, "seed": seed,
            "dim": dim, "vec_col": vec_col, "id_col": id_col,
            "gen": 0, "columns": df.columns,
        }
        if last_seq is not None:
            meta["last_seq"] = int(last_seq)
        get_fs(path, df.sparkSession).write_bytes(
            fs_join(path, cls.META), json.dumps(meta).encode()
        )
        return cls(path, meta)

    # -- incremental maintenance -------------------------------------------

    TOMBSTONES = _TOMBSTONES

    def apply_changes(
        self,
        spark,
        changes: DataFrame,
        *,
        op_col: str = "op",
        extra_meta: dict | None = None,
    ) -> dict:
        """Incrementally maintain the index from a change feed — the
        shape ``LakeTable.changes_since`` emits (rows + ``op`` ∈
        {'upsert','delete'}) — WITHOUT a rebuild.

        Mechanics: every changed id is tombstoned at a new generation
        (an upsert's prior rows are stale, a delete's rows are dead);
        upserted vectors are band-keyed with the STORED planes (same
        Arrow kernel as the build) and appended into the existing
        (band, _bucket) partition layout at the new generation. Queries
        filter candidates through the thin (id → min live generation)
        tombstone table, so stale rows can never win. Cost is
        O(delta·bands) rows written + one meta PUT — at 100 TB you never
        re-scan the corpus to keep the index fresh."""
        m = self.meta
        new_gen = int(m.get("gen", 0)) + 1
        id_col, vec_col = m["id_col"], m["vec_col"]
        from arc_spark.fs import get_fs, join as fs_join

        counts = {
            r[0]: r[1]
            for r in changes.groupBy(op_col).agg(F.count(F.lit(1))).collect()
        }
        # tombstone EVERY changed id: rows with _gen < min_live_gen are dead
        _write_tombstones(self.path, changes, id_col, new_gen)
        ups = changes.filter(F.col(op_col) == "upsert")
        planes = _hyperplanes(m["dim"], m["num_planes"], m["seed"])
        rpb = m["num_planes"] // m["bands"]
        _band_keys = _band_keys_kernel(planes, m["bands"], rpb)
        cols = m.get("columns") or [c for c in ups.columns if c != op_col]
        (
            ups.select(*cols)
            .withColumn("_bk", _band_keys(F.col(vec_col).cast("array<double>")))
            .select("*", F.posexplode(F.col("_bk")).alias("band", "_bucket"))
            .drop("_bk")
            .withColumn("_gen", F.lit(new_gen))
            .write.partitionBy("band", "_bucket")
            .mode("append")
            .parquet(self.path)
        )
        import json

        self.meta = {**m, "gen": new_gen, **(extra_meta or {})}
        get_fs(self.path, spark).write_bytes(
            fs_join(self.path, self.META), json.dumps(self.meta).encode()
        )
        return {
            "generation": new_gen,
            "upserts": int(counts.get("upsert", 0)),
            "deletes": int(counts.get("delete", 0)),
        }

    def sync_from_table(self, spark, table, *, since_seq: int | None = None) -> dict:
        """Resumable index freshness from a LakeTable — see
        ``_index_sync_from_table`` for the cursor/idempotence contract.
        ``since_seq`` seeds the cursor for indexes built before cursor
        tracking; otherwise ``build_and_write(..., last_seq=...)``'s
        recorded cursor is required."""
        return _index_sync_from_table(self, spark, table, since_seq)

    def compact(self, spark) -> dict:
        """Fold accumulated maintenance debt back into a clean base: one
        scan applies the tombstone filter, rewrites every (band, bucket)
        partition at generation 0 and clears ``_tombstones/`` — the index
        analogue of ``LakeTable.compact()``. Incremental maintenance
        keeps queries correct indefinitely, but each ``apply_changes``
        grows the tombstone table the query-time anti-filter joins
        against; compact after ~N deltas restores O(0) filter cost.

        Single-writer maintenance operation (like build): the rewrite
        stages to a sibling directory and swaps via the driver filesystem
        so a crash mid-compact leaves the original index intact."""
        return _compact_persisted_index(self, spark, ["band", "_bucket"])

    def _live(self, spark, df: DataFrame) -> DataFrame:
        return _live_rows(spark, self.path, df, self.meta["id_col"])

    @classmethod
    def load(cls, spark, path: str) -> "LshIndex":
        import json

        from arc_spark.fs import get_fs, join as fs_join

        meta = json.loads(get_fs(path, spark).read_bytes(fs_join(path, cls.META)))
        return cls(path, meta)

    def topk(
        self, spark, query_vec: list[float], k: int = 10, *, probe_bits: int = 0
    ) -> DataFrame:
        """The query's bucket in every band (one index scan pruned to
        those partition directories) → dedup ids → exact cosine top-k.

        ``probe_bits``: multi-probe — also read buckets whose key differs
        from the query's in ≤ this many hyperplane signs (the planes the
        query sits closest to are the likeliest to flip for a true
        neighbor). probe_bits=1 reads (1 + rows_per_band) buckets per
        band instead of 1 — a query-time recall knob that needs no index
        rebuild and keeps the scan partition-pruned."""
        from functools import reduce

        m = self.meta
        planes = _hyperplanes(m["dim"], m["num_planes"], m["seed"])
        rpb = m["num_planes"] // m["bands"]
        q_keys = _query_band_keys(query_vec, planes, m["bands"], rpb)

        # ONE index scan with a partition-column-only predicate (the
        # topk_batch shape): one listing and one schema pass per query
        # instead of one per band
        pred = reduce(
            lambda a, b: a | b,
            [
                (F.col("band") == b)
                & F.col("_bucket").isin(self._probe_keys(q_keys[b], probe_bits, rpb))
                for b in range(m["bands"])
            ],
        )
        cand = self._live(
            spark, spark.read.parquet(self.path).filter(pred)
        ).dropDuplicates([m["id_col"]])
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            cand.select(
                F.col(m["id_col"]),
                cosine(F.col(m["vec_col"]).cast("array<double>"), q).alias("cosine_sim"),
            )
            .orderBy(F.col("cosine_sim").desc(), F.col(m["id_col"]))
            .limit(k)
        )

    def _probe_keys(self, key: int, probe_bits: int, rpb: int) -> list[int]:
        from itertools import combinations

        out = {key}
        for nbits in range(1, probe_bits + 1):
            for bits in combinations(range(rpb), nbits):
                flipped = key
                for r in bits:
                    flipped ^= 1 << r
                out.add(flipped)
        return sorted(out)

    def topk_batch(
        self,
        spark,
        queries: list[tuple],
        k: int = 10,
        *,
        probe_bits: int = 0,
        max_queries: int = 10_000,
    ) -> DataFrame:
        """Top-k for a BATCH of queries through the persisted index — the
        retrieval shape a training pipeline runs (10^4-10^7 lookups), vs
        ``topk``'s one-vector-per-job driver loop.

        ``queries``: [(query_id, vector), ...] driver-side — a query set
        is index METADATA (q·dim floats), bounded by ``max_queries`` like
        ``cosine_topk_batch``; shard bigger sets.

        Plan shape (the 100 TB story): all q·bands band keys come from one
        driver-side numpy matmul; the index is read in ONE scan whose
        predicate — OR over bands of ``band = b AND _bucket IN (probed
        buckets)`` — references only the two PARTITION columns, so it
        prunes at the file-listing level to exactly the probed bucket
        directories (≤ q·bands·(1+probes) of them), never the corpus. A
        broadcast join against the tiny (band, bucket, query_id, qvec)
        probe table fans candidates out per query, (query_id, id) dedups
        multi-band hits, and the exact cosine re-rank runs JVM-side
        (zip_with/aggregate, codegen) under a per-query window top-k."""
        if len(queries) > max_queries:
            raise ValueError(
                f"{len(queries)} queries > max_queries={max_queries}; shard "
                f"the query set (driver holds q x dim floats + q·bands keys)"
            )
        m = self.meta
        planes = _hyperplanes(m["dim"], m["num_planes"], m["seed"])
        rpb = m["num_planes"] // m["bands"]
        P = np.array(planes, dtype=np.float64)
        weights = np.array([1 << r for r in range(rpb)], dtype=np.int64)
        qids = [q[0] for q in queries]
        Q = np.array([list(map(float, q[1])) for q in queries], dtype=np.float64)
        bits = (Q @ P.T >= 0).astype(np.int64)  # (q, planes)
        keys = bits.reshape(len(queries), m["bands"], rpb) @ weights  # (q, bands)

        # probe table: one row per (query, band, probed bucket)
        probe_rows = []
        per_band_buckets: dict[int, set[int]] = {b: set() for b in range(m["bands"])}
        for i, qid in enumerate(qids):
            qv = [float(x) for x in Q[i]]
            for b in range(m["bands"]):
                for bucket in self._probe_keys(int(keys[i, b]), probe_bits, rpb):
                    probe_rows.append((int(qid), b, bucket, qv))
                    per_band_buckets[b].add(bucket)
        probes_df = spark.createDataFrame(
            probe_rows, "query_id long, band int, _bucket long, _qvec array<double>"
        )

        # ONE index scan, partition-column-only predicate → pruned listing
        from functools import reduce as _reduce

        pred = _reduce(
            lambda a, b: a | b,
            [
                (F.col("band") == b) & F.col("_bucket").isin(sorted(buckets))
                for b, buckets in per_band_buckets.items()
                if buckets
            ],
        )
        idx = self._live(spark, spark.read.parquet(self.path).filter(pred)).select(
            m["id_col"], m["vec_col"], "band", "_bucket"
        )
        return _topk_pairs(
            idx, probes_df, m["id_col"], m["vec_col"], k, broadcast_probes=True
        )

    @staticmethod
    def _probe_masks(probe_bits: int, rpb: int) -> list[int]:
        """All XOR masks with ≤ probe_bits bits set among rpb positions
        (includes 0 = the exact bucket) — a pure function of the config,
        so multi-probe expansion is a tiny literal array, never data."""
        from itertools import combinations

        masks = [0]
        for nbits in range(1, probe_bits + 1):
            for bits in combinations(range(rpb), nbits):
                mask = 0
                for r in bits:
                    mask |= 1 << r
                masks.append(mask)
        return masks

    def topk_batch_df(
        self,
        spark,
        queries: DataFrame,
        *,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        k: int = 10,
        probe_bits: int = 0,
        max_prune_values: int = 100_000,
    ) -> DataFrame:
        """Fully DISTRIBUTED batch retrieval: the query set stays a
        DataFrame end-to-end — no driver collect of vectors, no query
        cap. This is the 10^6-10^7-query epoch shape; ``topk_batch``
        remains for driver-resident query lists (≤10k).

        Plan (the 100 TB story):
        1. Band keys for every query come from ONE executor-side Arrow
           matmul pass (`_band_keys_kernel` — the same kernel that built
           the index), posexploded to (query_id, band, _bucket) probe
           rows; multi-probe expands via a literal XOR-mask array
           (`_probe_masks`), all JVM-side.
        2. The ONLY driver materialization is the DISTINCT (band,
           _bucket) set — bounded by min(q·bands·masks, bands·2^rpb)
           ints, never vectors — which becomes a partition-column-only
           predicate so the index scan prunes at the file-listing level
           to exactly the probed bucket directories. If the distinct set
           exceeds ``max_prune_values`` the predicate is skipped (the
           probe JOIN still filters; the scan is merely unpruned) so the
           driver stays O(1) in the query count.
        3. Probe rows join the pruned index on the two partition columns
           (AQE picks broadcast vs shuffle vs skew-split by actual probe
           size), and the exact cosine re-rank runs JVM-side under a
           per-query window top-k (WindowGroupLimit keeps hot queries
           partial-aggregated map-side); multi-band hits of one (query,
           id) pair collapse after the top-k (``_topk_pairs``)."""
        m = self.meta
        planes = _hyperplanes(m["dim"], m["num_planes"], m["seed"])
        bands, rpb = m["bands"], m["num_planes"] // m["bands"]
        kernel = _band_keys_kernel(planes, bands, rpb)
        masks = self._probe_masks(probe_bits, rpb)

        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).cast("array<double>").alias("_qvec"),
        )
        probes = (
            q.withColumn("_qkeys", kernel(F.col("_qvec")))
            .select(
                "query_id", "_qvec", F.posexplode("_qkeys").alias("band", "_key")
            )
            .withColumn(
                "_mask", F.explode(F.array(*[F.lit(int(x)) for x in masks]))
            )
            .withColumn("_bucket", F.col("_key").bitwiseXOR(F.col("_mask")))
            .drop("_key", "_mask")
            # computed once, reused by the pruning collect AND the join —
            # without this the Arrow band-key pass would run twice
            .localCheckpoint(eager=False)
        )

        # driver-side pruning set: ints only, with a hard O(1)-in-q bound
        pruned = (
            probes.select("band", "_bucket")
            .distinct()
            .limit(max_prune_values + 1)
            .collect()
        )
        scan = spark.read.parquet(self.path)
        if len(pruned) <= max_prune_values:
            per_band: dict[int, list[int]] = {}
            for r in pruned:
                per_band.setdefault(int(r["band"]), []).append(int(r["_bucket"]))
            from functools import reduce as _reduce

            pred = _reduce(
                lambda a, b: a | b,
                [
                    (F.col("band") == b) & F.col("_bucket").isin(sorted(vals))
                    for b, vals in per_band.items()
                ],
            )
            scan = scan.filter(pred)
        idx = self._live(spark, scan).select(
            m["id_col"], m["vec_col"], "band", "_bucket"
        )
        return _topk_pairs(idx, probes, m["id_col"], m["vec_col"], k)


def _lloyd_kmeans(X, k: int, seed: int, max_iter: int = 25):
    """Deterministic k-means (k-means++ init, Lloyd iterations) in numpy.

    Runs DRIVER-side on a (deterministic) sample — at 100 TB you fit the
    coarse quantizer on a sampled slice, never the full table; the full
    table is only ever ASSIGNED to the fitted centroids (one distributed
    map pass). Being plain seeded numpy it is also independent of Spark
    partitioning/parallelism, unlike MLlib's k-means|| init — the same
    input yields the same index on any cluster size.
    """

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    k = min(k, n)
    # k-means++ seeding
    centers = [X[rng.randint(n)]]
    for _ in range(1, k):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[rng.randint(n)])
            continue
        centers.append(X[rng.choice(n, p=d2 / tot)])
    C = np.array(centers)
    for _ in range(max_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        newC = np.array(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j] for j in range(k)]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


class IVFIndex:
    """IVF (inverted-file) ANN index: a coarse quantizer assigns every
    vector to its nearest centroid; a query probes only the ``nprobe``
    nearest clusters and brute-forces inside them.

    Scale rationale: the index is a plain DataFrame partitioned/clustered
    by ``_cluster`` — written as parquet partitioned on it
    (``write_index``), a query scans only nprobe/k of the data (partition
    pruning). The quantizer fits on a deterministic hash-sample
    driver-side (``method="sample"``, the default — parallelism-invariant)
    or via MLlib's distributed KMeans (``method="mllib"``).
    """

    META = "_ivf_index.json"
    TOMBSTONES = _TOMBSTONES

    def __init__(
        self,
        centers,
        assigned: DataFrame,
        vec_col: str,
        id_col: str,
        *,
        path: str | None = None,
        meta: dict | None = None,
    ):
        self.centers = centers  # list[list[float]]
        self.assigned = assigned
        self.vec_col = vec_col
        self.id_col = id_col
        self.path = path  # set when persisted/loaded — enables maintenance
        self.meta = meta or {
            "centers": centers, "vec_col": vec_col, "id_col": id_col, "gen": 0,
        }

    @staticmethod
    def _assign_kernel(centers):
        """Vectorized nearest-centroid assignment — one numpy matmul per
        Arrow batch (||v-c||² = |v|² - 2v·c + |c|², argmin over c);
        shared by build and incremental append."""
        from pyspark.sql.types import IntegerType

        C = np.array(centers, dtype=np.float64)
        c_norm2 = (C**2).sum(axis=1)

        @pandas_udf(IntegerType())
        def _assign(v: pd.Series) -> pd.Series:
            V = np.array(v.tolist(), dtype=np.float64)
            d2 = -2.0 * (V @ C.T) + c_norm2[None, :]
            return pd.Series(d2.argmin(axis=1).astype("int32"))

        return _assign

    @classmethod
    def build(
        cls,
        df: DataFrame,
        *,
        k: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        max_iter: int = 25,
        method: str = "sample",
        sample_mod: int | None = None,
        max_sample_rows: int = 100_000,
    ) -> "IVFIndex":

        if method == "mllib":
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            feat = df.withColumn(
                "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
            )
            model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="_features").fit(feat)
            centers = [list(map(float, c)) for c in model.clusterCenters()]
        else:
            # deterministic hash-sample: row included iff
            # xxhash64(id) % sample_mod == 0 — stable under any
            # partitioning, unlike df.sample(). sample_mod is sized from a
            # count(*) (parquet answers it from row-group metadata) so the
            # driver ingests at most ~max_sample_rows vectors no matter how
            # large the table is — the quantizer fits on a slice, never the
            # full table.
            sample = df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            if sample_mod is None:
                n = df.count()
                sample_mod = max(1, -(-n // max_sample_rows))  # ceil div
            if sample_mod > 1:
                sample = sample.filter(
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
                )
            rows = sorted(sample.collect(), key=lambda r: r[0])
            X = np.array([r[1] for r in rows], dtype=np.float64)
            centers = [list(map(float, c)) for c in _lloyd_kmeans(X, k, seed, max_iter)]

        assigned = df.withColumn(
            "_cluster", cls._assign_kernel(centers)(F.col(vec_col).cast("array<double>"))
        )
        index = cls(centers, assigned, vec_col, id_col)
        # observability: how many vectors actually reached the driver
        index.sample_size = len(rows) if method != "mllib" else 0
        index.sample_mod = sample_mod if method != "mllib" else None
        return index

    def write_index(self, path: str, *, last_seq: int | None = None) -> None:
        """Persist the assigned table partitioned by cluster id so queries
        prune at the file-listing level (only nprobe directories scanned).
        Centers + column names ride a JSON meta object next to the data
        (the LshIndex.META pattern) so ``load`` serves the index WITHOUT
        refitting the quantizer — a served IVF index is open-from-path,
        any scheme arc_spark.fs can reach. ``last_seq`` seeds the
        ``sync_from_table`` cursor when the corpus came from a lake
        snapshot."""
        import json

        from arc_spark.fs import get_fs, join as fs_join

        cols = [c for c in self.assigned.columns if c not in ("_cluster", "_gen")]
        (
            self.assigned.withColumn("_gen", F.lit(0))
            .write.mode("overwrite")
            .partitionBy("_cluster")
            .parquet(path)
        )
        meta = {
            "centers": self.centers,
            "vec_col": self.vec_col,
            "id_col": self.id_col,
            "gen": 0,
            "columns": cols,
        }
        if last_seq is not None:
            meta["last_seq"] = int(last_seq)
        get_fs(path, self.assigned.sparkSession).write_bytes(
            fs_join(path, self.META), json.dumps(meta).encode()
        )
        self.path = path
        self.meta = meta

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        """Open a persisted index: quantizer centers from the meta object,
        the assigned table as a parquet scan partitioned by ``_cluster``
        (so ``topk``'s probe filter prunes at the file-listing level) —
        no refit, no driver-side data. A loaded index is maintainable:
        ``apply_changes`` / ``sync_from_table`` append new generations."""
        import json

        from arc_spark.fs import get_fs, join as fs_join

        meta = json.loads(get_fs(path, spark).read_bytes(fs_join(path, cls.META)))
        assigned = spark.read.parquet(path)
        return cls(
            meta["centers"], assigned, meta["vec_col"], meta["id_col"],
            path=path, meta=meta,
        )

    # -- incremental maintenance (same contract as LshIndex) ----------------

    def apply_changes(
        self,
        spark,
        changes: DataFrame,
        *,
        op_col: str = "op",
        extra_meta: dict | None = None,
    ) -> dict:
        """Incrementally maintain a PERSISTED index from a change feed
        (``LakeTable.changes_since`` shape) WITHOUT refitting the
        quantizer: changed ids are tombstoned at a new generation,
        upserted vectors are assigned to their nearest EXISTING centroid
        (one Arrow matmul over the delta) and appended into the
        ``_cluster`` partition layout; queries filter through the thin
        tombstone table. The quantizer drifts only if the data
        distribution does — rebuild (or ``compact``-equivalent refit)
        when recall degrades, exactly like production IVF systems."""
        import json

        from arc_spark.fs import get_fs, join as fs_join

        if self.path is None:
            raise ValueError("apply_changes requires a persisted index "
                             "(write_index/load first)")
        m = self.meta
        new_gen = int(m.get("gen", 0)) + 1
        counts = {
            r[0]: r[1]
            for r in changes.groupBy(op_col).agg(F.count(F.lit(1))).collect()
        }
        _write_tombstones(self.path, changes, self.id_col, new_gen)
        ups = changes.filter(F.col(op_col) == "upsert")
        cols = m.get("columns") or [c for c in ups.columns if c != op_col]
        (
            ups.select(*cols)
            .withColumn(
                "_cluster",
                self._assign_kernel(self.centers)(
                    F.col(self.vec_col).cast("array<double>")
                ),
            )
            .withColumn("_gen", F.lit(new_gen))
            .write.partitionBy("_cluster")
            .mode("append")
            .parquet(self.path)
        )
        self.meta = {**m, "gen": new_gen, **(extra_meta or {})}
        get_fs(self.path, spark).write_bytes(
            fs_join(self.path, self.META), json.dumps(self.meta).encode()
        )
        self.assigned = spark.read.parquet(self.path)  # pick up the delta
        return {
            "generation": new_gen,
            "upserts": int(counts.get("upsert", 0)),
            "deletes": int(counts.get("delete", 0)),
        }

    def sync_from_table(self, spark, table, *, since_seq: int | None = None) -> dict:
        """Resumable freshness from a LakeTable — shared cursor contract,
        see ``_index_sync_from_table``."""
        return _index_sync_from_table(self, spark, table, since_seq)

    def compact(self, spark) -> dict:
        """Fold maintenance debt into a clean generation-0 base and clear
        ``_tombstones/`` — same contract as ``LshIndex.compact`` (each
        ``apply_changes`` otherwise grows the tombstone table every query
        anti-filters through). Requires a persisted index."""
        if self.path is None:
            raise ValueError("compact requires a persisted index "
                             "(write_index/load first)")
        out = _compact_persisted_index(self, spark, ["_cluster"])
        self.assigned = spark.read.parquet(self.path)  # post-swap base
        return out

    def _live(self, spark, df: DataFrame) -> DataFrame:
        if self.path is None:
            return df
        return _live_rows(spark, self.path, df, self.id_col)

    def probe_clusters(self, query_vec: list[float], nprobe: int) -> list[int]:

        q = np.array(query_vec, dtype=float)
        dists = [float(np.linalg.norm(q - np.array(c))) for c in self.centers]
        return sorted(range(len(self.centers)), key=lambda i: dists[i])[:nprobe]

    def topk(self, query_vec: list[float], k: int = 10, *, nprobe: int = 4) -> DataFrame:
        probe = self.probe_clusters(query_vec, nprobe)
        cand = self.assigned.filter(F.col("_cluster").isin(probe))
        if self.path is not None:
            cand = self._live(self.assigned.sparkSession, cand)
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            cand.select(
                F.col(self.id_col),
                cosine(F.col(self.vec_col).cast("array<double>"), qcol).alias("cosine_sim"),
            )
            .orderBy(F.col("cosine_sim").desc(), F.col(self.id_col))
            .limit(k)
        )

    def topk_batch(
        self,
        spark,
        queries: list[tuple],
        k: int = 10,
        *,
        nprobe: int = 4,
        max_queries: int = 10_000,
    ) -> DataFrame:
        """Top-k per query for a batch — same shape as
        ``LshIndex.topk_batch``: probe clusters for every query come from
        one driver-side numpy pass, the index is read in ONE scan with a
        ``_cluster IN (union of probes)`` partition-column predicate
        (pruned listing over a persisted index), a broadcast probe table
        (query_id, _cluster, qvec) fans candidates per query, and the
        exact cosine re-rank is JVM-side under a per-query window."""
        if len(queries) > max_queries:
            raise ValueError(
                f"{len(queries)} queries > max_queries={max_queries}; "
                f"shard the query set"
            )
        C = np.array(self.centers, dtype=np.float64)
        Q = np.array([list(map(float, q[1])) for q in queries], dtype=np.float64)
        d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (q, k)
        order = np.argsort(d2, axis=1)[:, :nprobe]
        probe_rows = []
        for i, (qid, qv) in enumerate(queries):
            qvf = [float(x) for x in qv]
            for c in order[i]:
                probe_rows.append((int(qid), int(c), qvf))
        probes_df = spark.createDataFrame(
            probe_rows, "query_id long, _cluster int, _qvec array<double>"
        )
        all_clusters = sorted({int(c) for row in order for c in row})
        pruned = self.assigned.filter(F.col("_cluster").isin(all_clusters))
        if self.path is not None:
            pruned = self._live(spark, pruned)
        cand = (
            pruned.select(self.id_col, self.vec_col, "_cluster")
            .join(F.broadcast(probes_df), ["_cluster"])
        )
        from pyspark.sql.window import Window

        scored = cand.select(
            "query_id",
            F.col(self.id_col),
            cosine(
                F.col(self.vec_col).cast("array<double>"), F.col("_qvec")
            ).alias("cosine_sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col(self.id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", self.id_col, "cosine_sim")
        )

    @staticmethod
    def _probe_kernel(centers, nprobe: int):
        """Arrow kernel: nprobe nearest centroids per query vector in one
        numpy matmul — the executor-side twin of ``probe_clusters``."""
        from pyspark.sql.types import ArrayType, IntegerType

        C = np.array(centers, dtype=np.float64)
        c_norm2 = (C**2).sum(axis=1)
        npb = min(nprobe, len(centers))

        @pandas_udf(ArrayType(IntegerType()))
        def _probe(v: pd.Series) -> pd.Series:
            V = np.array(v.tolist(), dtype=np.float64)
            d2 = -2.0 * (V @ C.T) + c_norm2[None, :]
            idx = np.argsort(d2, axis=1)[:, :npb].astype("int32")
            return pd.Series(list(idx))

        return _probe

    def topk_batch_df(
        self,
        spark,
        queries: DataFrame,
        *,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Fully DISTRIBUTED IVF batch retrieval — the ``LshIndex.
        topk_batch_df`` twin: the query set stays a DataFrame end-to-end
        (no driver vector collect, no query cap). Centroid probing runs
        as ONE executor-side Arrow matmul; the only driver
        materialization is the distinct probed-cluster set, bounded by
        ``len(centers)`` ints regardless of query count, which prunes
        the ``_cluster``-partitioned index scan at the file-listing
        level. The probe join fans candidates per query (AQE picks the
        join strategy from actual sizes) and the exact cosine re-rank is
        JVM-side under a per-query window top-k."""
        from pyspark.sql.window import Window

        probes = (
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).cast("array<double>").alias("_qvec"),
            )
            .withColumn(
                "_probes",
                self._probe_kernel(self.centers, nprobe)(F.col("_qvec")),
            )
            .select("query_id", "_qvec", F.explode("_probes").alias("_cluster"))
            # computed once, reused by the pruning collect AND the join
            .localCheckpoint(eager=False)
        )
        clusters = sorted(
            int(r["_cluster"])
            for r in probes.select("_cluster").distinct().collect()
        )
        pruned = self.assigned.filter(F.col("_cluster").isin(clusters))
        if self.path is not None:
            pruned = self._live(spark, pruned)
        cand = pruned.select(self.id_col, self.vec_col, "_cluster").join(
            probes, ["_cluster"]
        )
        scored = cand.select(
            "query_id",
            F.col(self.id_col),
            cosine(
                F.col(self.vec_col).cast("array<double>"), F.col("_qvec")
            ).alias("cosine_sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col(self.id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", self.id_col, "cosine_sim")
        )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    method: str = "sample",
    sample_mod: int | None = None,
    max_sample_rows: int = 100_000,
) -> DataFrame:
    """One-shot IVF query (build + probe). For repeated queries build an
    IVFIndex once, ``write_index`` it, and call ``topk``."""
    index = IVFIndex.build(
        df, k=n_clusters, vec_col=vec_col, id_col=id_col, seed=seed, method=method,
        sample_mod=sample_mod, max_sample_rows=max_sample_rows,
    )
    return index.topk(query_vec, k, nprobe=nprobe)


def embedding_near_dup(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 128,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = _USE_DEFAULT_CAP,
    pair_method: str = "bucket_matmul",
) -> DataFrame:
    """All pairs with cosine ≥ threshold, via banded hyperplane-LSH
    bucketing + exact re-rank (id_a < id_b).

    ``max_bucket_size`` defaults to ``dedup.DEFAULT_MAX_BUCKET_SIZE``
    like the minhash/simhash paths: a degenerate bucket (a corpus slice
    of near-identical vectors all landing in one (band, bucket))
    otherwise goes quadratic in the pair expansion. Drops are logged;
    pass ``None`` explicitly for provable-recall configs that must never
    drop.

    Plan shape (the 100 TB story): one scan computes ALL band keys per
    row in a single numpy matmul Arrow pass (n×dim @ dim×planes — a
    per-expression fold would interpret dim·planes lambda steps per row).

    ``pair_method`` picks the verify layout by candidate DENSITY:

    - ``bucket_matmul`` (default): vectors ride the banded rows (×bands
      duplication) into a per-(band, bucket) ``applyInPandas`` that
      computes ALL in-bucket pairwise cosines in one normalized matmul
      and emits ONLY over-threshold pairs; a final (id_a, id_b) dedup
      collapses multi-band hits. Sub-threshold candidates die inside the
      kernel without ever materializing as rows — decisive when buckets
      are dense (hyperplane LSH near the similarity floor: measured
      98.7% of all pairs were candidates at threshold 0.5 on random
      embeddings, 2M pair rows × 2 vector copies through the old join).
    - ``join``: thin (id, band, bucket) self-join → distinct pair set →
      late-materialize 2 vectors per DISTINCT pair for a vectorized
      cosine. Wins when candidates are sparse relative to n×bands (high
      thresholds / strongly clustered corpora), because nothing is
      duplicated ×bands.

    Both are O(Σ bucket²·dim) flops — the cap bounds that; the methods
    differ only in what moves through the shuffle.
    """
    from arc_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE,
        _bucket_pairs,
        _log as _dedup_log,
        spread,
    )

    if max_bucket_size == _USE_DEFAULT_CAP:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE

    rpb = num_planes // bands
    # lazy hyperplanes: derive dim from the first Arrow batch inside the
    # kernel (deterministic for a fixed seed+dim, identical on every
    # task), instead of a driver-side ``df.first()`` probe job per call
    _band_keys = _band_keys_kernel_lazy(num_planes, bands, rpb, seed)

    base = spread(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # persist only when some subtree is referenced twice: the join verify
    # reads base 3x (banding + both pair sides), and the bucket-size cap
    # reads the banded rows twice (sizes + semi join). The uncapped
    # bucket_matmul path streams base exactly once — a cache build there
    # is a pure extra pass.
    if pair_method == "join" or max_bucket_size:
        base = base.persist()

    if pair_method == "bucket_matmul":
        thr = float(threshold)

        def _verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.maximum(
                np.sqrt((V * V).sum(axis=1, keepdims=True)), 1e-300
            )
            S = Vn @ Vn.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = S[iu, ju] >= thr
            a, b = ids[iu[keep]], ids[ju[keep]]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            return pd.DataFrame(
                {"id_a": lo, "id_b": hi, "cosine_sim": S[iu, ju][keep]}
            )

        banded_vec = base.select(
            "id", "v", F.posexplode(_band_keys(F.col("v"))).alias("band", "bucket")
        )
        if max_bucket_size:
            sizes = (
                banded_vec.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("_bs"))
                .persist()
            )
            dropped = sizes.filter(F.col("_bs") > max_bucket_size).count()
            if dropped:
                _dedup_log.warning(
                    "embedding near-dup: dropped %d degenerate bucket(s) "
                    "larger than max_bucket_size=%d", dropped, max_bucket_size
                )
            ok = sizes.filter(F.col("_bs") <= max_bucket_size).drop("_bs")
            banded_vec = banded_vec.join(ok, ["band", "bucket"], "left_semi")
        # max() instead of dropDuplicates: multi-band copies of a pair can
        # differ in the last ULP (BLAS blocking varies with bucket shape),
        # and an arbitrary pick would make reruns flap on that bit
        return (
            banded_vec.groupBy("band", "bucket")
            .applyInPandas(
                _verify_bucket, schema="id_a long, id_b long, cosine_sim double"
            )
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine_sim").alias("cosine_sim"))
        )

    if pair_method != "join":
        raise ValueError(f"unknown pair_method {pair_method!r}")

    from pyspark.sql.types import DoubleType

    banded = base.select(
        "id", F.posexplode(_band_keys(F.col("v"))).alias("band", "bucket")
    )
    # banded derives from the persisted base so the self-join's double
    # evaluation is one cheap matmul
    pairs = _bucket_pairs(
        banded, ["band", "bucket"], F.col("id"), max_bucket_size, method="join"
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))

    @pandas_udf(DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.array(va.tolist(), dtype=np.float64)
        B = np.array(vb.tolist(), dtype=np.float64)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine_sim", _cos(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )

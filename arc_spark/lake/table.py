"""An Iceberg-style lake table implemented from first principles.

The sandbox ships no Iceberg/Delta runtime jars, so the engine carries its
own minimal table format with the same semantics the north_rule needs:

- **Snapshot isolation**: a table is a chain of immutable JSON manifests
  ``_manifests/v{n}.json``; readers resolve the highest committed version.
- **Atomic commit with optimistic concurrency**: a commit is a
  create-exclusive of the next manifest object through
  ``arc_spark.fs`` — exactly Iceberg's version-file CAS (POSIX ``O_EXCL``
  locally, temp+rename-if-absent on Hadoop filesystems, conditional PUT
  on the in-memory store; see arc_spark/fs.py for the S3 caveat). A
  losing writer reloads and retries.
- **Epoch fencing / exactly-once**: source offsets (epoch id + seq range)
  are recorded INSIDE the manifest, so "data visible" and "offsets
  advanced" are one atomic event. A retried epoch sees itself already in
  ``committed_epochs`` and becomes a no-op; orphaned data files from failed
  attempts are never referenced by any manifest (Iceberg's orphan-file
  model) and are ignored by readers.
- **Bucketed copy-on-write MERGE**: data files are hash-bucketed by key
  (``pmod(xxhash64(keys), B)``); a merge rewrites only the buckets touched
  by the change batch and carries every other bucket's files forward
  untouched. At 100 TB with B≫epochs·keys-touched this is the difference
  between rewriting gigabytes and rewriting the lake.
- **Additive schema evolution**: the manifest holds the table schema; a
  merge whose change batch carries new columns widens the schema, old
  files read back with nulls (the manifest schema is handed to the
  parquet scan, which widens narrower physical types), matching Iceberg
  ``ALTER TABLE ADD COLUMN`` semantics.

Reference parity: the MERGE condition (change wins iff ``seq`` newer)
generalizes the reference's snapshot-diff operator
(``transform/DiffTransform.scala:116-171``); the write-then-verify
row-count bookkeeping mirrors JDBCLoad's count parity check
(``load/JDBCLoad.scala:279-293``); per-stage bytes/records counters mirror
``util/ListenerUtils.scala:39-84``.
"""

from __future__ import annotations

import json
import logging
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from arc_spark.fs import get_fs, join as fs_join


def _safe_promotion(table_t, src_t):
    """Iceberg-safe type promotion: the src type if promoting the table
    column to it is lossless (byte<short<int<long; float<double; decimal
    precision growth at fixed scale), else None (table type stands).
    Mixed families (e.g. long->double) are NOT promoted — that loses
    precision for large longs, and Iceberg disallows it too."""
    if src_t is None or table_t == src_t:
        return None
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    for family in ((ByteType, ShortType, IntegerType, LongType), (FloatType, DoubleType)):
        ti = next((i for i, t in enumerate(family) if isinstance(table_t, t)), None)
        si = next((i for i, t in enumerate(family) if isinstance(src_t, t)), None)
        if ti is not None and si is not None and si > ti:
            return src_t
    if (
        isinstance(table_t, DecimalType)
        and isinstance(src_t, DecimalType)
        and src_t.scale == table_t.scale
        and src_t.precision > table_t.precision
    ):
        return src_t
    return None

_log = logging.getLogger("arc_spark.lake")

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
# Deletes persist as tombstone rows carrying their seq: without them, a
# late-arriving event with a LOWER seq than an applied delete would
# re-insert the key (micro-batches from a file tail are not globally
# seq-ordered). Vacuuming tombstones older than the low-watermark is a
# compaction concern (LakeTable.compact).
TOMBSTONE_COL = "_tombstone"
# Names the engine itself materializes during merges/reads. A user column
# taking one would be silently replaced (merge's withColumn("_bucket")),
# dropped by the partitioned writer, or made ambiguous in _read_files —
# create / alter_schema / merge widening all reject them.
RESERVED_COLS = frozenset({TOMBSTONE_COL, "_bucket", "_op", "_rn"})


@dataclass
class Snapshot:
    version: int
    epoch: int
    schema: StructType
    num_buckets: int
    key_cols: list[str]
    seq_col: str
    # bucket id (as str, JSON keys) -> list of data-file paths rel. to table root
    files: dict[str, list[str]]
    committed_epochs: dict[str, dict]  # epoch -> {start_seq, end_seq}
    counters: dict = field(default_factory=dict)
    parent_version: int = -1
    # merge-on-read delta files per bucket (newer rows shadowing base by seq)
    delta_files: dict[str, list[str]] = field(default_factory=dict)
    # live-row upper bound per bucket (base rows + delta rows)
    bucket_rows: dict[str, int] = field(default_factory=dict)
    # metadata-only renames: current column name -> historical names still
    # present in older data files (Iceberg field-id evolution expressed as
    # a name mapping — see alter_schema / _read_files)
    column_renames: dict[str, list[str]] = field(default_factory=dict)
    # names (and their aliases) retired by alter_schema(drop=...): re-adding
    # one would resurrect old file values, so merges/adds reject them
    dropped_columns: list[str] = field(default_factory=list)
    # per-file seq bounds: rel path -> [min_seq, max_seq] from the parquet
    # footer at write time (the Iceberg manifest-entry lower/upper-bounds
    # analogue). Lets changes_since prune at FILE granularity — a file
    # whose max_seq <= cursor cannot contribute OR shadow any row that
    # survives the cursor filter, so compaction files (which carry no
    # epoch in their path) stop being "conservatively included". Absent
    # entry = unknown = conservative include; older manifests parse fine.
    file_stats: dict[str, list] = field(default_factory=dict)
    # bucket-count evolution (grow_buckets): spec under which a FILES
    # entry was written, for entries not yet split to ``num_buckets``.
    # Every live spec divides num_buckets, so a storage bucket ``b`` at
    # spec ``s`` holds exactly the rows of current buckets
    # {c : c ≡ b (mod s)} — hash-mod bucketing makes growth a pure
    # refinement, never a reshuffle across parents. Absent key = entry
    # already at num_buckets. delta_files are ALWAYS at num_buckets
    # (grow_buckets folds outstanding deltas first).
    bucket_specs: dict[str, int] = field(default_factory=dict)

    @property
    def end_seq(self) -> int:
        if not self.committed_epochs:
            return -1
        return max(int(v["end_seq"]) for v in self.committed_epochs.values())

    @property
    def total_rows(self) -> int:
        return sum(self.bucket_rows.values())

    def file_list(self) -> list[str]:
        base = [p for fs in self.files.values() for p in fs]
        return base + [p for fs in self.delta_files.values() for p in fs]

    def spec_of(self, bucket: str) -> int:
        return self.bucket_specs.get(bucket, self.num_buckets)

    def retired_names(self) -> set[str]:
        """Column names still present in old data files but no longer in
        the schema (drops + pre-rename aliases): re-adding one would
        resurrect stale file values through the read path's name mapping,
        so alter_schema and merge widening both reject them."""
        return set(self.dropped_columns) | {
            a for hist in self.column_renames.values() for a in hist
        }

    def base_cover(self) -> dict[str, str]:
        """current bucket id -> the FILES entry (storage bucket) holding
        its base rows. An unsplit parent at spec s covers num_buckets/s
        current buckets; a full-spec entry covers itself. O(num_buckets)
        driver-side, tiny next to any Spark job."""
        cover: dict[str, str] = {}
        for b in self.files:
            s = self.spec_of(b)
            if s == self.num_buckets:
                cover[b] = b
            else:
                for c in range(int(b), self.num_buckets, s):
                    cover[str(c)] = b
        return cover

    def storage_closure(self, buckets) -> tuple[set[str], set[str]]:
        """Expand a set of current-spec bucket ids to (covered, storage):
        ``storage`` = the FILES entries whose rows must be read to serve
        ``buckets``; ``covered`` = every current bucket those entries
        hold (⊇ buckets, closed — rewriting ``storage`` and publishing
        per-bucket files for all of ``covered`` leaves no key range
        double-owned). Writers (COW merge, compact) MUST use the closed
        set: rewriting child c while parent files stay referenced would
        serve its rows twice."""
        cover = self.base_cover()
        req = {str(b) for b in buckets}
        storage = {cover[c] for c in req if c in cover}
        covered = set(req)
        for b in storage:
            s = self.spec_of(b)
            covered.update(str(c) for c in range(int(b), self.num_buckets, s))
        return covered, storage


class CommitConflict(Exception):
    pass


class LakeTable:
    """A key-partitioned upsert table with snapshot/manifest metadata.

    ``locker``: optional :class:`arc_spark.fs.CommitLocker`. When set, the
    manifest commit is a LOCKED check-then-put — required for
    multi-writer safety on object stores (s3a/gs/abfss), where the
    filesystem CAS (rename-if-absent) races; harmless elsewhere. Without
    one, committing to an object-store root logs a prominent warning
    (once per table) instead of failing — single-writer deployments are
    still correct."""

    def __init__(self, root: str, *, locker=None):
        self.root = root
        self._fs = None
        self.locker = locker
        self._warned_unlocked = False

    @property
    def fs(self):
        """Driver-side filesystem for manifests/listings/CAS, resolved by
        the root's URI scheme (POSIX, memory://, or Hadoop FS for
        hdfs/s3a/abfss/gs — see arc_spark.fs). Data files always go
        through Spark's own readers/writers for the same scheme."""
        if self._fs is None:
            self._fs = get_fs(self.root)
        return self._fs

    # -- metadata ----------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return fs_join(self.root, MANIFEST_DIR, f"v{version:012d}.json")

    def exists(self) -> bool:
        d = fs_join(self.root, MANIFEST_DIR)
        return any(n.endswith(".json") for n in self.fs.listdir(d))

    def current_version(self) -> int:
        d = fs_join(self.root, MANIFEST_DIR)
        versions = [
            int(n[1:-5]) for n in self.fs.listdir(d)
            if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions, default=-1)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"lake table {self.root} does not exist")
        m = json.loads(self.fs.read_bytes(self._manifest_path(v)))
        return Snapshot(
            version=m["version"],
            epoch=m["epoch"],
            schema=StructType.fromJson(m["schema"]),
            num_buckets=m["num_buckets"],
            key_cols=m["key_cols"],
            seq_col=m["seq_col"],
            files=m["files"],
            committed_epochs=m["committed_epochs"],
            counters=m.get("counters", {}),
            parent_version=m.get("parent_version", -1),
            delta_files=m.get("delta_files", {}),
            bucket_rows=m.get("bucket_rows", {}),
            column_renames=m.get("column_renames", {}),
            dropped_columns=m.get("dropped_columns", []),
            file_stats=m.get("file_stats", {}),
            bucket_specs={k: int(v) for k, v in m.get("bucket_specs", {}).items()},
        )

    def _commit(self, manifest: dict) -> int:
        """Atomically publish a manifest as the next version (CAS)."""
        version = manifest["version"]
        path = self._manifest_path(version)
        if self.locker is not None:
            # locked check-then-put: safe on ANY backend, including object
            # stores where the filesystem CAS below races (rename is
            # copy+delete on S3). The lock key is the TABLE, not the
            # version — two writers racing different versions from the
            # same stale snapshot must also serialize.
            token = self.locker.acquire(fs_join(self.root, "_commit"))
            try:
                if self.fs.exists(path):
                    raise CommitConflict(f"version {version} already committed")
                self.fs.write_bytes(path, json.dumps(manifest).encode())
                return version
            finally:
                self.locker.release(fs_join(self.root, "_commit"), token)
        if not self.fs.atomic_create_exclusive and not self._warned_unlocked:
            # the resolved backend advertises its CAS honestly: native
            # S3ObjectFS (conditional PUT) and HDFS are atomic; only the
            # Hadoop connector path on object stores still races
            self._warned_unlocked = True
            _log.warning(
                "LakeTable at %s commits via rename-if-absent, which RACES "
                "on object stores under concurrent writers — exactly-once "
                "is best-effort. Pass LakeTable(root, locker=...) (see "
                "arc_spark.fs.CommitLocker) for multi-writer safety, or "
                "install boto3 so s3:// resolves to the atomic "
                "conditional-PUT backend (arc_spark.fs.S3ObjectFS).",
                self.root,
            )
        try:
            # create-exclusive / rename-if-absent CAS (backend-dependent
            # atomicity documented in arc_spark.fs)
            self.fs.create_exclusive(path, json.dumps(manifest).encode())
        except FileExistsError:
            raise CommitConflict(f"version {version} already committed") from None
        return version

    # -- lifecycle ---------------------------------------------------------

    def create(
        self,
        schema: StructType,
        key_cols: list[str],
        *,
        seq_col: str = "seq",
        num_buckets: int = 32,
        overwrite: bool = False,
    ) -> Snapshot:
        bad = {f_.name for f_ in schema.fields} & RESERVED_COLS
        if bad:
            raise ValueError(
                f"schema columns {sorted(bad)} are reserved for "
                f"engine-internal use (reserved names: {sorted(RESERVED_COLS)})"
            )
        if self.exists():
            if not overwrite:
                raise FileExistsError(f"table exists: {self.root}")
            self.fs.rmtree(self.root)
        self.fs.mkdirs(fs_join(self.root, DATA_DIR))
        manifest = {
            "version": 0,
            "epoch": -1,
            "schema": schema.jsonValue(),
            "num_buckets": num_buckets,
            "key_cols": key_cols,
            "seq_col": seq_col,
            "files": {},
            "delta_files": {},
            "bucket_rows": {},
            "file_stats": {},
            "committed_epochs": {},
            "counters": {},
            "column_renames": {},
            "dropped_columns": [],
            "bucket_specs": {},
            "parent_version": -1,
            "created_at": time.time(),
        }
        self._commit(manifest)
        return self.snapshot()

    def alter_schema(
        self,
        *,
        rename: dict[str, str] | None = None,
        drop: list[str] | None = None,
        add: list[StructField] | StructType | None = None,
        max_retries: int = 3,
    ) -> dict:
        """Metadata-only DDL: rename / drop / add columns by publishing a
        new manifest — NO data files move (Iceberg ``ALTER TABLE``).

        - ``rename={'old': 'new'}``: the schema field is renamed and
          ``old`` joins ``new``'s name history; reads coalesce over the
          history (_read_files), so files written before the rename keep
          serving their values. Key/seq columns may be renamed — the
          bucket hash is over VALUES, so file placement stays valid.
        - ``drop=['col']``: the field leaves the schema; old files still
          carry the bytes (column pruning skips them) and the name (plus
          its aliases) is retired — re-adding a retired name is rejected
          until a compact() rewrites the old files, because the read
          path's name mapping would resurrect stale values. Key, seq and
          internal columns cannot be dropped.
        - ``add=[StructField(...)]``: nullable columns append to the
          schema (old rows read NULL) — same semantics a widening merge
          applies implicitly, but as explicit DDL.

        Applied in rename → drop → add order within one atomic commit.
        Returns ``{"status": "altered", "version": n}``."""
        rename = dict(rename or {})
        drop = list(drop or [])
        add_fields = list(add.fields if isinstance(add, StructType) else (add or []))
        if not (rename or drop or add_fields):
            return {"status": "noop", "version": self.current_version()}
        for attempt in range(max_retries):
            snap = self.snapshot()
            names = [f_.name for f_ in snap.schema.fields]
            renames = {k: list(v) for k, v in snap.column_renames.items()}
            dropped = list(snap.dropped_columns)
            live_aliases = {a for hist in renames.values() for a in hist}
            key_cols = list(snap.key_cols)
            seq_col = snap.seq_col

            fields = {f_.name: f_ for f_ in snap.schema.fields}
            for bad in {*rename.values(), *(f_.name for f_ in add_fields)} & RESERVED_COLS:
                raise ValueError(
                    f"{bad!r} is reserved for engine-internal use "
                    f"(reserved names: {sorted(RESERVED_COLS)})"
                )
            for old, new in rename.items():
                if old not in fields:
                    raise ValueError(f"rename: no such column {old!r}")
                if new in fields or new in live_aliases or new in dropped:
                    raise ValueError(
                        f"rename: target name {new!r} is already a live "
                        "column, a historical alias, or a dropped name"
                    )
                f_ = fields.pop(old)
                fields[new] = StructField(new, f_.dataType, f_.nullable, f_.metadata)
                names[names.index(old)] = new
                # old's own history follows it under the new name
                renames[new] = renames.pop(old, []) + [old]
                live_aliases.add(old)
                key_cols = [new if k == old else k for k in key_cols]
                if seq_col == old:
                    seq_col = new
            for col in drop:
                if col not in fields:
                    raise ValueError(f"drop: no such column {col!r}")
                if col in key_cols or col == seq_col or col == TOMBSTONE_COL:
                    raise ValueError(f"drop: {col!r} is a key/seq/internal column")
                fields.pop(col)
                names.remove(col)
                # retire the name and every historical name that mapped to it
                dropped.extend([col, *renames.pop(col, [])])
            retired = set(dropped) | {a for h in renames.values() for a in h}
            for f_ in add_fields:
                if f_.name in fields:
                    raise ValueError(f"add: column {f_.name!r} already exists")
                if f_.name in retired:
                    raise ValueError(
                        f"add: {f_.name!r} collides with a dropped/renamed "
                        "column still present in old data files — pick a "
                        "new name or compact() first"
                    )
                nf = StructField(f_.name, f_.dataType, True, f_.metadata)
                fields[nf.name] = nf
                names.append(nf.name)

            manifest = {
                "version": snap.version + 1,
                "epoch": snap.epoch,
                "schema": StructType([fields[n] for n in names]).jsonValue(),
                "num_buckets": snap.num_buckets,
                "key_cols": key_cols,
                "seq_col": seq_col,
                "files": snap.files,
                "delta_files": snap.delta_files,
                "bucket_rows": snap.bucket_rows,
                "file_stats": snap.file_stats,
                "committed_epochs": snap.committed_epochs,
                "counters": {
                    "altered": {
                        "renamed": rename,
                        "dropped": drop,
                        "added": [f_.name for f_ in add_fields],
                    }
                },
                "column_renames": renames,
                "dropped_columns": dropped,
                "bucket_specs": snap.bucket_specs,
                "parent_version": snap.version,
                "committed_at": time.time(),
            }
            try:
                v = self._commit(manifest)
                return {"status": "altered", "version": v}
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
        raise RuntimeError("unreachable")

    def grow_buckets(
        self,
        factor: int = 2,
        *,
        spark: SparkSession | None = None,
        max_retries: int = 3,
    ) -> dict:
        """Bucket-count (partition-spec) evolution: multiply
        ``num_buckets`` by ``factor`` with a METADATA-ONLY commit — no
        data moves now (Iceberg partition-spec evolution for the bucket
        transform).

        Works because bucketing is ``hash(keys) mod B``: for any integer
        factor, ``h mod B == b`` pins ``h mod (B·factor)`` to
        ``{b, b+B, b+2B, …}`` — an old bucket's rows land in exactly
        ``factor`` new buckets and NOWHERE else, so growth is a pure
        refinement. Existing file entries are recorded in
        ``bucket_specs`` at the spec they were written under; reads
        translate (Snapshot.base_cover), writers split lazily: a COW
        merge or compact touching any of a parent's new buckets rewrites
        the whole parent into per-new-bucket files, and
        ``compact(buckets="auto")`` lists unsplit parents so ordinary
        maintenance finishes the migration. No rewrite storm, no
        double-ownership window, no downtime.

        Outstanding MOR delta files must be folded first (delta entries
        are defined to live at the CURRENT spec — letting pre- and
        post-growth deltas share a bucket id would corrupt the mapping):
        pass ``spark`` to fold them here via an incremental compact, or
        compact the delta-bearing buckets yourself and retry.

        Why grow at all: the bucket is the unit of merge rewrite, of
        pruned lookups, and of compaction; at 10^10+ events a bucket
        count sized for the first TB leaves multi-GB buckets that make
        every COW epoch rewrite huge files. Doubling B keeps bucket size
        bounded as the table grows — the step a 100 TB deployment
        schedules, not a table rebuild."""
        if factor < 2 or int(factor) != factor:
            raise ValueError(f"factor must be an integer >= 2, got {factor!r}")
        attempt = 0
        fold_rounds = 0
        while True:
            snap = self.snapshot()
            delta_bearing = sorted(b for b, fs in snap.delta_files.items() if fs)
            if delta_bearing:
                if spark is None:
                    raise ValueError(
                        "grow_buckets requires all MOR delta files folded "
                        f"first (delta-bearing buckets: {delta_bearing}); "
                        "pass spark= to fold them here, or run "
                        'compact(spark, buckets="auto") and retry'
                    )
                # a SUCCESSFUL fold must not consume a commit attempt
                # (with max_retries=1 growth would otherwise be impossible
                # on any table with one outstanding delta); bound folds
                # separately so concurrent delta writers can't spin us
                fold_rounds += 1
                if fold_rounds > max_retries + 8:
                    raise CommitConflict(
                        "grow_buckets: concurrent writers kept adding delta "
                        f"files; no delta-free snapshot reached after "
                        f"{fold_rounds - 1} folds"
                    )
                try:
                    self.compact(spark, buckets=delta_bearing)
                except CommitConflict:
                    attempt += 1
                    if attempt >= max_retries:
                        raise
                # Re-enter the loop rather than proceeding from a fresh
                # snapshot directly: a concurrent delta merge can land
                # between the fold commit and our re-read, and committing
                # "delta_files": {} over it would orphan its rows while
                # leaving its epoch fenced — silent loss. The loop re-checks
                # delta_bearing from scratch; our own CAS commit below then
                # guarantees no unseen delta can slip in after the check
                # (any concurrent commit bumps the version and conflicts us).
                continue
            new_b = snap.num_buckets * int(factor)
            specs = dict(snap.bucket_specs)
            for b in snap.files:
                specs.setdefault(b, snap.num_buckets)
            manifest = {
                "version": snap.version + 1,
                "epoch": snap.epoch,
                "schema": snap.schema.jsonValue(),
                "num_buckets": new_b,
                "key_cols": snap.key_cols,
                "seq_col": snap.seq_col,
                "files": snap.files,
                "delta_files": {},
                "bucket_rows": snap.bucket_rows,
                "file_stats": _live_file_stats(snap.file_stats, {}, snap.files, {}),
                "committed_epochs": snap.committed_epochs,
                "counters": {
                    "grew_buckets": {"from": snap.num_buckets, "to": new_b},
                    "unsplit_parents": len(specs),
                },
                "column_renames": snap.column_renames,
                "dropped_columns": snap.dropped_columns,
                "bucket_specs": specs,
                "parent_version": snap.version,
                "committed_at": time.time(),
            }
            try:
                v = self._commit(manifest)
                return {
                    "status": "grown",
                    "version": v,
                    "num_buckets": new_b,
                    "unsplit_parents": len(specs),
                }
            except CommitConflict:
                attempt += 1
                if attempt >= max_retries:
                    raise

    # -- read --------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        *,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Current table rows. Deletes are stored as tombstone rows (with
        their winning seq) so that late-arriving older events cannot
        resurrect a deleted key; reads filter them out by default.

        Merge-on-read: if the snapshot carries delta files, base and delta
        rows are unioned and resolved to the max-seq row per key at read
        time (the Iceberg MOR / Hudi read-optimized-vs-realtime tradeoff:
        cheap small-epoch commits, one window pass per read until
        compaction folds the deltas)."""
        snap = self.snapshot(version)
        df = self._resolve(spark, snap)
        if include_tombstones:
            return df
        return df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))).drop(TOMBSTONE_COL)

    def _resolve(
        self,
        spark: SparkSession,
        snap: Snapshot,
        buckets: set[str] | None = None,
        file_filter=None,
    ) -> DataFrame:
        """Tombstone-carrying rows for the given buckets (default all),
        with any MOR deltas LWW-resolved against the base.

        Only DELTA-BEARING buckets pay the window shuffle: buckets with no
        delta files stream through untouched (a key never crosses buckets,
        so per-bucket resolution is exact). With 1 dirty bucket out of B,
        the read shuffles 1/B of the table instead of all of it.

        ``buckets`` are CURRENT-spec ids; after grow_buckets an unsplit
        parent entry serves several of them, so requests group by storage
        entry (each parent read once — never per child, which would
        duplicate rows). Rows of a parent's un-requested siblings ride
        along; every caller is closed over them (full reads request
        everything, lookup semi-joins on keys, changes_since filters by
        seq over files it would have had to read anyway, and writers
        expand to the storage closure).

        ``file_filter`` (rel path -> bool) drops individual files from the
        scan. ONLY sound for callers that afterwards keep rows with
        ``seq > S`` while dropping only files with ``max_seq <= S``
        (changes_since): any row a dropped file holds has seq <= S, so it
        can neither survive the caller's filter nor out-rank (shadow) a
        surviving row — LWW resolution over the kept files alone yields
        the identical post-filter result. A bucket whose delta files are
        ALL dropped streams through the clean (no-window) path: its kept
        base files are a single COW generation (unique keys), so no
        resolution is needed."""
        ff = file_filter if file_filter is not None else (lambda p: True)
        cover = snap.base_cover()
        if buckets is None:
            sel = set(cover) | set(snap.delta_files)
        else:
            sel = {str(b) for b in buckets}

        def _deltas(c: str) -> list[str]:
            return [p for p in snap.delta_files.get(c, []) if ff(p)]

        def _base(b: str) -> list[str]:
            return [p for p in snap.files.get(b, []) if ff(p)]

        # group requested buckets under their storage entry; a storage
        # entry is dirty if ANY requested bucket it covers carries deltas
        # (post-filter: stale deltas must not force the window shuffle)
        by_storage: dict[str, set[str]] = {}
        no_base_dirty: list[str] = []
        for c in sel:
            b = cover.get(c)
            if b is not None:
                by_storage.setdefault(b, set()).add(c)
            elif _deltas(c):
                no_base_dirty.append(c)  # insert-only delta, no base yet
        dirty = {
            b for b, cs in by_storage.items() if any(_deltas(c) for c in cs)
        }
        clean_files = [p for b in by_storage if b not in dirty for p in _base(b)]
        clean = self._read_files(spark, snap, clean_files, with_tombstone=True)
        if not dirty and not no_base_dirty:
            return clean
        dirty_base = [p for b in dirty for p in _base(b)]
        dirty_delta = [
            p
            for c in sel
            if (cover.get(c) in dirty or c in no_base_dirty)
            for p in _deltas(c)
        ]
        merged = self._read_files(
            spark, snap, dirty_base, with_tombstone=True
        ).unionByName(self._read_files(spark, snap, dirty_delta, with_tombstone=True))
        # one row per key: max seq wins (seq is globally unique, so no tie
        # rule is needed; NULL keys group together, matching the COW
        # merge's eqNullSafe join)
        from pyspark.sql.window import Window

        w = Window.partitionBy(*snap.key_cols).orderBy(F.col(snap.seq_col).desc())
        resolved = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return clean.unionByName(resolved)

    def _read_files(
        self,
        spark: SparkSession,
        snap: Snapshot,
        rel_paths: list[str],
        *,
        with_tombstone: bool = False,
    ) -> DataFrame:
        from pyspark.sql.types import BooleanType, StructField, StructType

        schema = snap.schema
        if with_tombstone:
            schema = StructType(
                list(snap.schema.fields) + [StructField(TOMBSTONE_COL, BooleanType(), True)]
            )
        if not rel_paths:
            # JVM-native empty relation: createDataFrame([], schema) is a
            # Python-RDD-backed empty DF whose consumer stages run
            # defaultParallelism no-op tasks each waiting on a Python
            # worker (~1.1 s/task cold, measured on epoch-0 merges), and
            # AQE must execute the stage to learn it is empty
            from arc_spark.schema import empty_df

            return empty_df(spark, schema)
        paths = [fs_join(self.root, p) for p in rel_paths]
        # The manifest is the schema of record, as the log is in Iceberg
        # and Delta: the scan is handed the snapshot schema plus every
        # pre-rename alias, typed as its current column, so Spark reads no
        # footers to infer a schema and never has to reconcile them (footer
        # merging rejects INT beside BIGINT, which a widening COW merge of
        # some buckets leaves behind). Old files may lack evolved columns
        # (NULL), carry narrower types (the vectorized and the row parquet
        # readers both widen every _safe_promotion on read), or carry a
        # column under a PRE-RENAME name (coalesce over the name history —
        # each row was written whole under exactly one naming epoch, so at
        # most one of the candidate columns is non-NULL per row; a
        # metadata-only rename therefore needs no data rewrite). Dropped
        # columns are simply not in the read schema.
        aliases = [
            StructField(a, f_.dataType, True)
            for f_ in schema.fields
            for a in snap.column_renames.get(f_.name, ())
        ]
        df = spark.read.schema(StructType(list(schema.fields) + aliases)).parquet(*paths)
        cols = []
        for f_ in schema.fields:
            sources = [f_.name, *snap.column_renames.get(f_.name, ())]
            if len(sources) == 1:
                cols.append(F.col(sources[0]).cast(f_.dataType).alias(f_.name))
            else:
                cols.append(
                    F.coalesce(*[F.col(n).cast(f_.dataType) for n in sources]).alias(
                        f_.name
                    )
                )
        return df.select(*cols)

    def bucket_expr(self, snap: Snapshot):
        return F.pmod(F.xxhash64(*[F.col(k) for k in snap.key_cols]), F.lit(snap.num_buckets))

    def lookup(
        self,
        spark: SparkSession,
        key_values: list[tuple],
        *,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Point/key lookups that read ONLY the buckets the keys hash to —
        at 100 TB a keyed read touches a handful of files instead of the
        lake (Iceberg bucket-transform partition pruning). ``key_values``:
        tuples in ``key_cols`` order."""
        snap = self.snapshot(version)
        kdf = spark.createDataFrame(
            key_values,
            StructType([snap.schema[k] for k in snap.key_cols]),
        )
        buckets = {
            str(r[0])
            for r in kdf.select(self.bucket_expr(snap).alias("_b")).distinct().collect()
        }
        df = self._resolve(spark, snap, buckets=buckets)
        out = df.join(F.broadcast(kdf), snap.key_cols, "left_semi")
        if include_tombstones:
            return out
        return out.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))).drop(
            TOMBSTONE_COL
        )

    def changes_since(
        self,
        spark: SparkSession,
        since_seq: int,
        *,
        version: int | None = None,
        op_col: str = "op",
    ) -> DataFrame:
        """Incremental read: the current state of every key changed AFTER
        ``since_seq`` (the Iceberg incremental-scan analogue for a
        downstream CDC consumer). Deletes surface as rows with
        ``op='delete'`` (payload from the tombstone), upserts as
        ``op='upsert'``.

        Scan scope, FILE-granular: a file is read only if it may hold a
        row with ``seq > since_seq`` — judged first by its manifest
        ``file_stats`` seq bounds (recorded from the parquet footer at
        write time, the Iceberg manifest-entry bounds analogue), falling
        back to the epoch id embedded in the file path, and included
        conservatively only when neither is known. This is what keeps the
        incremental read cheap AFTER compaction: a compaction file has no
        epoch in its path, but its footer bounds prove the bucket's
        history is old, so steady state touches O(changed files), not
        O(changed buckets) — and the seq filter still pushes down to
        parquet row-group stats inside the files that are read. Dropping
        a ``max_seq <= since_seq`` file is exact, not heuristic: every
        row it holds fails the final seq filter and is out-ranked by any
        kept row for the same key (see ``_resolve``'s file_filter
        contract)."""
        snap = self.snapshot(version)
        recent = {
            e for e, v in snap.committed_epochs.items()
            if int(v["end_seq"]) > since_seq
        }
        stats = snap.file_stats

        def _epoch_of(rel_path: str) -> str | None:
            # data/epoch={n}-{attempt}/... or data/compact-{attempt}/...
            parts = rel_path.split("/")
            if len(parts) >= 2 and parts[1].startswith("epoch="):
                return parts[1][len("epoch="):].split("-", 1)[0]
            return None  # compaction/unknown — include conservatively

        def _may_hold_newer(rel_path: str) -> bool:
            s = stats.get(rel_path)
            if s is not None and s[1] is not None:
                return int(s[1]) > since_seq
            e = _epoch_of(rel_path)
            return e is None or e in recent

        buckets = {
            b
            for b in set(snap.files) | set(snap.delta_files)
            if any(_may_hold_newer(p) for p in snap.files.get(b, []))
            or any(_may_hold_newer(p) for p in snap.delta_files.get(b, []))
        }
        df = self._resolve(spark, snap, buckets=buckets, file_filter=_may_hold_newer)
        return (
            df.filter(F.col(snap.seq_col) > since_seq)
            .withColumn(
                op_col,
                F.when(
                    F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)), F.lit("delete")
                ).otherwise(F.lit("upsert")),
            )
            .drop(TOMBSTONE_COL)
        )

    # -- merge (copy-on-write upsert) --------------------------------------

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        *,
        epoch: int,
        start_seq: int,
        end_seq: int,
        op_col: str = "op",
        delete_op: str = "delete",
        extra_counters: dict | None = None,
        max_retries: int = 3,
        bucket_pruning: bool | str = "auto",
        mode: str = "cow",
        delta_fraction: float = 0.05,
        max_delta_chain: int = 8,
        bucket_lineage: bool = False,
        epoch_meta: dict | None = None,
    ) -> dict:
        """MERGE a deduplicated change batch (one row per key) into the table.

        Semantics (Iceberg ``MERGE INTO`` equivalent):
          WHEN MATCHED  AND src.op = 'delete' AND src.seq >= tgt.seq THEN DELETE
          WHEN MATCHED  AND src.seq >= tgt.seq                       THEN UPDATE *
          WHEN NOT MATCHED AND src.op != 'delete'                    THEN INSERT *

        ``mode``:
          - ``cow``   copy-on-write: rewrite touched buckets (reads stay
            one-file-per-row cheap; writes re-copy the bucket).
          - ``delta`` merge-on-read: append the deduped winners as delta
            files; reads LWW-resolve base+delta. A small epoch against a
            big table writes O(epoch) instead of O(buckets touched) — the
            COW write amplification is the single biggest cost of frequent
            small commits at 100 TB.
          - ``auto``  delta when the epoch is small relative to the table
            (< ``delta_fraction`` of estimated rows) and no bucket's delta
            chain exceeds ``max_delta_chain``; cow otherwise.

        Exactly-once: if ``epoch`` is already in the snapshot's
        ``committed_epochs`` the call is a fenced no-op (idempotent retry).
        """
        for attempt in range(max_retries):
            snap = self.snapshot()
            if str(epoch) in snap.committed_epochs:
                return {"status": "skipped", "reason": "epoch already committed", "epoch": epoch}
            try:
                return self._merge_attempt(
                    spark, snap, changes, epoch, start_seq, end_seq, op_col, delete_op,
                    extra_counters or {}, bucket_pruning, mode, delta_fraction,
                    max_delta_chain, bucket_lineage, epoch_meta or {},
                )
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
        raise RuntimeError("unreachable")

    def _merge_attempt(
        self,
        spark: SparkSession,
        snap: Snapshot,
        changes: DataFrame,
        epoch: int,
        start_seq: int,
        end_seq: int,
        op_col: str,
        delete_op: str,
        extra_counters: dict,
        bucket_pruning: bool | str = "auto",
        mode: str = "cow",
        delta_fraction: float = 0.05,
        max_delta_chain: int = 8,
        bucket_lineage: bool = False,
        epoch_meta: dict | None = None,
    ) -> dict:
        keys = snap.key_cols
        seq_col = snap.seq_col

        # Additive schema evolution: new change columns widen the table
        # schema; existing columns may be SAFELY type-promoted (Iceberg's
        # promotion rules: int family upward, float->double, decimal
        # precision growth at fixed scale). Narrowing never happens — a
        # narrower change column is cast UP to the table type. Old data
        # files keep their narrower physical type; reads hand the manifest
        # schema to the parquet scan, which widens on read (_read_files).
        src_types = {f_.name: f_.dataType for f_ in changes.schema.fields}
        evolved_fields = []
        for f_ in snap.schema.fields:
            wider = _safe_promotion(f_.dataType, src_types.get(f_.name))
            evolved_fields.append(
                StructField(f_.name, wider, f_.nullable, f_.metadata) if wider else f_
            )
        new_schema = StructType(evolved_fields)
        base_names = {f_.name for f_ in snap.schema.fields}
        # a new column under a retired name would silently resurrect old
        # file values through the read path's name mapping — reject, like
        # Iceberg's field-id rules (the fix is a fresh name upstream, or
        # compact() first so no old-named files remain)
        retired = snap.retired_names()
        for f_ in changes.schema.fields:
            if f_.name not in base_names and f_.name != op_col:
                if f_.name in RESERVED_COLS:
                    raise ValueError(
                        f"change column {f_.name!r} is reserved for "
                        "engine-internal use "
                        f"(reserved names: {sorted(RESERVED_COLS)})"
                    )
                if f_.name in retired:
                    raise ValueError(
                        f"change column {f_.name!r} collides with a "
                        "dropped/renamed column still present in old data "
                        "files — pick a new name or compact() the table "
                        "before re-adding it"
                    )
                new_schema = new_schema.add(f_)

        data_cols = [f_.name for f_ in new_schema.fields]

        src = changes.withColumn("_bucket", self.bucket_expr(snap))
        # Align src to evolved schema (+ op + bucket)
        src_sel = []
        for f_ in new_schema.fields:
            if f_.name in src.columns:
                src_sel.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                src_sel.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        src = src.select(*src_sel, F.col(op_col).alias("_op"), F.col("_bucket"))

        known_touched: list[int] | None = None
        persisted_for_lineage = False
        if bucket_lineage:
            # Per-partition lineage (north-star counter set): keys applied +
            # deletes per bucket for THIS epoch, in one thin aggregate over
            # the persisted deduped batch. The persist is reused by the
            # downstream write/merge (and replaces the pruned path's
            # touched-bucket discovery job), so the dedup chain still runs
            # exactly once.
            from pyspark import StorageLevel

            src = src.persist(StorageLevel.MEMORY_AND_DISK_DESER)
            persisted_for_lineage = True
            lin = {
                str(r["_bucket"]): {
                    "keys_applied": r["_applied"],
                    "deletes": r["_deletes"],
                }
                for r in src.groupBy("_bucket")
                .agg(
                    F.count(F.lit(1)).alias("_applied"),
                    F.count_if(F.col("_op") == delete_op).alias("_deletes"),
                )
                .collect()
            }
            extra_counters = {**extra_counters, "bucket_lineage": lin}
            known_touched = sorted(int(b) for b in lin)
        try:
            return self._merge_dispatch(
                spark, snap, src, epoch, start_seq, end_seq, delete_op,
                extra_counters, bucket_pruning, mode, delta_fraction,
                max_delta_chain, new_schema, data_cols, known_touched,
                epoch_meta or {},
            )
        finally:
            if persisted_for_lineage:
                src.unpersist()

    def _merge_dispatch(
        self,
        spark: SparkSession,
        snap: Snapshot,
        src: DataFrame,
        epoch: int,
        start_seq: int,
        end_seq: int,
        delete_op: str,
        extra_counters: dict,
        bucket_pruning: bool | str,
        mode: str,
        delta_fraction: float,
        max_delta_chain: int,
        new_schema: StructType,
        data_cols: list[str],
        known_touched: list[int] | None,
        epoch_meta: dict | None = None,
    ) -> dict:
        if mode == "auto":
            epoch_events = end_seq - start_seq + 1
            chain = max((len(v) for v in snap.delta_files.values()), default=0)
            use_delta = (
                snap.total_rows > 0
                and epoch_events < max(1.0, delta_fraction * snap.total_rows)
                and chain < max_delta_chain
            )
            mode = "delta" if use_delta else "cow"
        if mode == "delta":
            return self._merge_delta_write(
                spark, snap, src, new_schema, data_cols, epoch, start_seq,
                end_seq, delete_op, extra_counters, epoch_meta,
            )

        # Bucket pruning (copy-on-write scope) needs the set of touched
        # buckets, which costs one extra materialization of the change
        # batch. When the batch plausibly covers every bucket anyway
        # (events >> buckets), pruning is pure overhead — skip the
        # discovery pass entirely and stream the batch ONCE through the
        # merge join. "auto" uses the seq-range size as the proxy.
        if known_touched is not None:
            # lineage already materialized the exact touched-bucket set —
            # pruning is free, no discovery pass needed
            return self._merge_write(
                spark, snap, src, new_schema, data_cols, epoch, start_seq,
                end_seq, delete_op, extra_counters, touched=known_touched,
                epoch_meta=epoch_meta,
            )

        if bucket_pruning == "auto":
            bucket_pruning = (end_seq - start_seq + 1) < snap.num_buckets * 64

        if not bucket_pruning:
            return self._merge_write(
                spark, snap, src, new_schema, data_cols, epoch, start_seq,
                end_seq, delete_op, extra_counters, touched=None,
                epoch_meta=epoch_meta,
            )

        # Pruned path: the batch is consumed twice (touched-bucket
        # discovery, then the merge join/write) — persist so the upstream
        # normalize/fingerprint/dedup chain runs once. MEMORY_AND_DISK
        # spills cleanly for over-memory batches (same policy as the
        # reference's default storage level, ARC.scala:57-68).
        from pyspark import StorageLevel

        src = src.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            touched = sorted(
                r[0] for r in src.select("_bucket").distinct().collect()
            )
            return self._merge_write(
                spark, snap, src, new_schema, data_cols, epoch, start_seq,
                end_seq, delete_op, extra_counters, touched=touched,
                epoch_meta=epoch_meta,
            )
        finally:
            src.unpersist()

    def _merge_write(
        self,
        spark: SparkSession,
        snap: Snapshot,
        src: DataFrame,
        new_schema: StructType,
        data_cols: list[str],
        epoch: int,
        start_seq: int,
        end_seq: int,
        delete_op: str,
        extra_counters: dict,
        touched: list | None,
        epoch_meta: dict | None = None,
    ) -> dict:
        keys = snap.key_cols
        seq_col = snap.seq_col

        t0 = time.time()
        if touched is None:
            touched = list(range(snap.num_buckets))
        # Closure over storage entries: touching a current bucket whose
        # base rows live in an unsplit pre-growth parent rewrites the
        # WHOLE parent (all its current buckets) — the lazy split-on-write
        # half of grow_buckets. Identity when no growth is outstanding.
        touched_set, storage_ids = snap.storage_closure(touched)
        t_materialize = time.time() - t0

        # Base rows from touched buckets only (copy-on-write scope); any
        # MOR delta files on those buckets are LWW-folded here and their
        # manifest entries cleared below.
        base = self._resolve(spark, snap, buckets=touched_set)
        # align base to evolved schema (+ tombstone flag)
        base_sel = []
        for f_ in new_schema.fields:
            if f_.name in base.columns:
                base_sel.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                base_sel.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        base = base.select(
            *base_sel,
            F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias(TOMBSTONE_COL),
        )

        # Full-outer merge on keys. One shuffle join; AQE turns it into a
        # broadcast join when the change batch is small. The shuffle_hash
        # hint builds a hash map on the (smaller) change side instead of
        # sort-merge — sorting multi-KB content rows is the expensive part
        # of SMJ, and the planner won't pick SHJ for FULL OUTER on its own
        # unless the size stats qualify.
        s = src.hint("shuffle_hash").alias("s")
        b = base.alias("b")
        cond = None
        for k in keys:
            c = F.col(f"s.{k}").eqNullSafe(F.col(f"b.{k}"))
            cond = c if cond is None else (cond & c)
        joined = b.join(s, cond, "full_outer")

        src_present = F.col(f"s.{seq_col}").isNotNull()
        base_present = F.col(f"b.{seq_col}").isNotNull()
        src_wins = src_present & (
            ~base_present | (F.col(f"s.{seq_col}") >= F.col(f"b.{seq_col}"))
        )
        is_delete = F.col("s._op") == delete_op

        # Deletes become tombstone rows (seq retained) rather than physical
        # removal — see TOMBSTONE_COL note at the top of this module.
        out_cols = [
            F.when(src_wins, F.col(f"s.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
            for c in data_cols
        ]
        tombstone = (
            F.when(src_wins, is_delete)
            .otherwise(F.col(f"b.{TOMBSTONE_COL}"))
            .alias(TOMBSTONE_COL)
        )
        merged = joined.select(*out_cols, tombstone)
        merged = merged.withColumn("_bucket", self.bucket_expr(snap))

        # write new files for touched buckets under a unique epoch attempt dir
        attempt_id = f"epoch={epoch}-{uuid.uuid4().hex[:8]}"
        out_dir = fs_join(self.root, DATA_DIR, attempt_id)
        t0 = time.time()
        # one file per touched bucket: hash-partitioning on _bucket puts a
        # bucket's rows in one task. Tasks are capped at the session's
        # shuffle parallelism — a small epoch touching hundreds of
        # buckets otherwise ran one near-empty task per bucket (measured:
        # 600 touched of 1024 buckets, 16 s of write on 4 cores).
        n_tasks = min(
            len(touched_set),
            snap.num_buckets,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        (
            merged.repartition(max(1, n_tasks), "_bucket")
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        t_write = time.time() - t0
        t0 = time.time()

        # discover written files per bucket (driver-side listing of the new
        # attempt dir only — O(files written this epoch))
        new_files: dict[str, list[str]] = {}
        new_stats: dict[str, list] = {}
        rows_written = 0
        rows_per_bucket: dict[str, int] = {}
        for entry in self.fs.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            bucket = entry.split("=", 1)[1]
            bdir = fs_join(out_dir, entry)
            rel = [
                fs_join(DATA_DIR, attempt_id, entry, fn)
                for fn in self.fs.listdir(bdir)
                if fn.endswith(".parquet")
            ]
            new_files[bucket] = rel
            # same footer pass that counts rows also records per-file seq
            # bounds for the manifest (Iceberg manifest-entry bounds)
            n, st = _parquet_footer_info(self.fs, rel, seq_col, root=self.root)
            new_stats.update(st)
            rows_per_bucket[bucket] = n
            rows_written += n

        # storage_ids: pre-rewrite entries consumed (incl. unsplit parents);
        # touched_set: the current-spec buckets their rows were rewritten as
        files = {b: fs for b, fs in snap.files.items() if b not in storage_ids}
        files.update(new_files)
        delta_files = {
            b: fs for b, fs in snap.delta_files.items() if b not in touched_set and fs
        }
        bucket_rows = dict(snap.bucket_rows)
        for b in storage_ids | touched_set:
            bucket_rows.pop(b, None)
        bucket_rows.update({b: n for b, n in rows_per_bucket.items()})
        bucket_specs = {
            b: s for b, s in snap.bucket_specs.items() if b not in storage_ids
        }

        counters = {
            "epoch": epoch,
            "mode": "cow",
            "rows_written": rows_written,
            "buckets_rewritten": len(touched_set),
            "buckets_total": snap.num_buckets,
            # per-partition lineage: rows now resident per bucket after this
            # epoch (from parquet footers — no extra Spark job); skew in
            # these numbers is the signal to raise salt_buckets/num_buckets
            "rows_per_bucket": rows_per_bucket,
            "materialize_sec": round(t_materialize, 3),
            "write_sec": round(t_write, 3),
            "finalize_sec": round(time.time() - t0, 3),
            **extra_counters,
        }
        manifest = {
            "version": snap.version + 1,
            "epoch": epoch,
            "schema": new_schema.jsonValue(),
            "num_buckets": snap.num_buckets,
            "key_cols": keys,
            "seq_col": seq_col,
            "files": files,
            "delta_files": delta_files,
            "bucket_rows": bucket_rows,
            "file_stats": _live_file_stats(
                snap.file_stats, new_stats, files, delta_files
            ),
            "committed_epochs": {
                **snap.committed_epochs,
                # epoch_meta spreads FIRST: start_seq/end_seq are the
                # fence/resume cursor and must never be overwritten by a
                # caller-supplied meta key of the same name
                str(epoch): {**(epoch_meta or {}),
                             "start_seq": start_seq, "end_seq": end_seq},
            },
            "counters": counters,
            "column_renames": snap.column_renames,
            "dropped_columns": snap.dropped_columns,
            "bucket_specs": bucket_specs,
            "parent_version": snap.version,
            "committed_at": time.time(),
        }
        self._commit(manifest)
        return {"status": "committed", "version": manifest["version"], **counters}

    def _merge_delta_write(
        self,
        spark: SparkSession,
        snap: Snapshot,
        src: DataFrame,
        new_schema: StructType,
        data_cols: list[str],
        epoch: int,
        start_seq: int,
        end_seq: int,
        delete_op: str,
        extra_counters: dict,
        epoch_meta: dict | None = None,
    ) -> dict:
        """Merge-on-read commit: append the deduped winners (deletes as
        tombstone rows) as per-bucket delta files — no base read, no COW
        rewrite. Reads resolve base+delta by max seq per key."""
        rows = src.select(
            *data_cols,
            (F.col("_op") == delete_op).alias(TOMBSTONE_COL),
            F.col("_bucket"),
        )
        attempt_id = f"epoch={epoch}-delta-{uuid.uuid4().hex[:8]}"
        out_dir = fs_join(self.root, DATA_DIR, attempt_id)
        t0 = time.time()
        (
            rows.repartition(min(spark.sparkContext.defaultParallelism, snap.num_buckets), "_bucket")
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        t_write = time.time() - t0
        t0 = time.time()

        delta_files = {b: list(fs) for b, fs in snap.delta_files.items()}
        bucket_rows = dict(snap.bucket_rows)
        new_stats: dict[str, list] = {}
        rows_written = 0
        rows_per_bucket: dict[str, int] = {}
        for entry in self.fs.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            bucket = entry.split("=", 1)[1]
            bdir = fs_join(out_dir, entry)
            rel = [
                fs_join(DATA_DIR, attempt_id, entry, fn)
                for fn in self.fs.listdir(bdir)
                if fn.endswith(".parquet")
            ]
            delta_files.setdefault(bucket, []).extend(rel)
            n, st = _parquet_footer_info(
                self.fs, rel, snap.seq_col, root=self.root
            )
            new_stats.update(st)
            rows_per_bucket[bucket] = n
            bucket_rows[bucket] = bucket_rows.get(bucket, 0) + n
            rows_written += n

        counters = {
            "epoch": epoch,
            "mode": "delta",
            "rows_written": rows_written,
            "buckets_rewritten": 0,
            "buckets_total": snap.num_buckets,
            "rows_per_bucket": rows_per_bucket,
            "materialize_sec": 0.0,
            "write_sec": round(t_write, 3),
            "finalize_sec": round(time.time() - t0, 3),
            **extra_counters,
        }
        manifest = {
            "version": snap.version + 1,
            "epoch": epoch,
            "schema": new_schema.jsonValue(),
            "num_buckets": snap.num_buckets,
            "key_cols": snap.key_cols,
            "seq_col": snap.seq_col,
            "files": snap.files,
            "delta_files": delta_files,
            "bucket_rows": bucket_rows,
            "file_stats": _live_file_stats(
                snap.file_stats, new_stats, snap.files, delta_files
            ),
            "committed_epochs": {
                **snap.committed_epochs,
                # epoch_meta spreads FIRST: start_seq/end_seq are the
                # fence/resume cursor and must never be overwritten by a
                # caller-supplied meta key of the same name
                str(epoch): {**(epoch_meta or {}),
                             "start_seq": start_seq, "end_seq": end_seq},
            },
            "counters": counters,
            "column_renames": snap.column_renames,
            "dropped_columns": snap.dropped_columns,
            "bucket_specs": snap.bucket_specs,
            "parent_version": snap.version,
            "committed_at": time.time(),
        }
        self._commit(manifest)
        return {"status": "committed", "version": manifest["version"], **counters}


    # -- maintenance ---------------------------------------------------------

    @staticmethod
    def buckets_needing_compaction(snap: Snapshot, *, max_files: int = 4) -> list[str]:
        """Buckets whose base-file count exceeds ``max_files``, that carry
        any MOR delta files, or that are unsplit pre-growth parents
        (grow_buckets leaves splitting to writes that touch them; auto
        compaction finishes the remainder, each parent rewritten once) —
        the targets incremental compaction should rewrite. At 100 TB a
        full-table rewrite is a non-starter; steady state is 'compact the
        few buckets recent epochs touched'."""
        return sorted(
            b
            for b in set(snap.files) | set(snap.delta_files)
            if snap.delta_files.get(b)
            or len(snap.files.get(b, [])) > max_files
            or snap.spec_of(b) != snap.num_buckets
        )

    def compact(
        self,
        spark: SparkSession,
        *,
        buckets: list[str] | str | None = None,
        max_files: int = 4,
        vacuum_tombstones_below_seq: int | None = None,
        sort_within: bool = True,
    ) -> dict:
        """Rewrite buckets into one file each, folding any MOR delta files
        into the base; optionally vacuum tombstones whose seq is below the
        low-watermark (no event with a smaller seq can still arrive). The
        epoch-chain COW merge leaves one file per epoch per touched bucket
        and delta merges chain delta files; compaction bounds read
        amplification — the Iceberg rewrite_data_files analogue.

        ``buckets``: ``None`` rewrites the whole table; ``"auto"`` rewrites
        only ``buckets_needing_compaction`` (fragmented or delta-bearing) —
        the incremental form a steady-state 100 TB deployment runs after
        each batch of epochs; or an explicit bucket-id list."""
        snap = self.snapshot()
        if buckets == "auto":
            buckets = self.buckets_needing_compaction(snap, max_files=max_files)
        target = None if buckets is None else {str(b) for b in buckets}
        if target is not None and not target:
            return {"status": "noop", "version": snap.version, "files": 0}
        if target is not None:
            # closure over unsplit pre-growth parents: compacting any of a
            # parent's current buckets rewrites the whole parent (and so
            # finishes its split) — same rule as the COW merge
            target, storage_ids = snap.storage_closure(target)
        else:
            storage_ids = set(snap.files)
        df = self._resolve(spark, snap, buckets=target)
        if vacuum_tombstones_below_seq is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
                    & (F.col(snap.seq_col) < vacuum_tombstones_below_seq)
                )
            )
        attempt_id = f"compact-{uuid.uuid4().hex[:8]}"
        out_dir = fs_join(self.root, DATA_DIR, attempt_id)
        n_out = snap.num_buckets if target is None else max(1, len(target))
        out = df.withColumn("_bucket", self.bucket_expr(snap)).repartition(
            n_out, "_bucket"
        )
        if sort_within:
            # Cluster each compacted file by key: parquet row-group min/max
            # stats on (keys) become tight disjoint ranges, so key-predicate
            # lookups (lookup(), MOR resolution joins) skip most row groups
            # inside the bucket — Iceberg's rewrite with sort-order. Also
            # compresses better (adjacent rows share repo/path prefixes).
            # _bucket leads the sort: the dynamic-partition writer requires
            # ordering by partition columns and would otherwise re-sort by
            # _bucket alone, destroying the key clustering.
            out = out.sortWithinPartitions("_bucket", *snap.key_cols, snap.seq_col)
        (
            out.write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        files = (
            {}
            if target is None
            else {b: fs for b, fs in snap.files.items() if b not in storage_ids}
        )
        delta_files = (
            {}
            if target is None
            else {b: fs for b, fs in snap.delta_files.items() if b not in target and fs}
        )
        bucket_rows = (
            {}
            if target is None
            else {
                b: n
                for b, n in snap.bucket_rows.items()
                if b not in storage_ids and b not in target
            }
        )
        rewritten = 0
        new_stats: dict[str, list] = {}
        for entry in self.fs.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            bucket = entry.split("=", 1)[1]
            files[bucket] = [
                fs_join(DATA_DIR, attempt_id, entry, fn)
                for fn in self.fs.listdir(fs_join(out_dir, entry))
                if fn.endswith(".parquet")
            ]
            # compaction files carry no epoch in their path, so these
            # footer bounds are what keeps changes_since from re-reading
            # the whole compacted bucket forever after
            bucket_rows[bucket], st = _parquet_footer_info(
                self.fs, files[bucket], snap.seq_col, root=self.root
            )
            new_stats.update(st)
            rewritten += 1
        manifest = {
            "version": snap.version + 1,
            "epoch": snap.epoch,
            "schema": snap.schema.jsonValue(),
            "num_buckets": snap.num_buckets,
            "key_cols": snap.key_cols,
            "seq_col": snap.seq_col,
            "files": files,
            "delta_files": delta_files,
            "bucket_rows": bucket_rows,
            "file_stats": _live_file_stats(
                snap.file_stats, new_stats, files, delta_files
            ),
            "committed_epochs": snap.committed_epochs,
            "counters": {"compacted": True, "buckets_rewritten": rewritten},
            # A FULL compact rewrites every surviving file under the current
            # schema, so no file carries a pre-rename/dropped name any more:
            # the name history can be retired and those names become free to
            # re-add (this is the "compact() first" path alter_schema/merge
            # point at). A targeted compact leaves old-named files in the
            # untouched buckets, so history must carry forward.
            "column_renames": {} if target is None else snap.column_renames,
            "dropped_columns": [] if target is None else snap.dropped_columns,
            # rewritten entries land at the current spec; pre-growth
            # parents among them are split and leave the spec map
            "bucket_specs": {
                b: s for b, s in snap.bucket_specs.items() if b not in storage_ids
            },
            "parent_version": snap.version,
            "committed_at": time.time(),
        }
        self._commit(manifest)
        n_files = sum(len(v) for v in files.values())
        return {
            "status": "compacted",
            "version": manifest["version"],
            "files": n_files,
            "buckets_rewritten": rewritten,
        }


    def rollback(self, to_version: int) -> dict:
        """Restore the table to snapshot ``to_version`` by publishing a
        NEW manifest with that snapshot's state verbatim (files, deltas,
        committed epochs, schema, counters) — Iceberg's rollback: history
        stays linear and append-only, the undone versions remain
        time-travel-readable until ``expire_snapshots``, and no data
        files move. Because ``committed_epochs`` (and so ``end_seq``)
        revert too, a replay runner pointed at corrected upstream events
        resumes from the rolled-back position and re-applies — the
        bad-batch recovery story for a CDC table.

        Safe whenever the target manifest still exists: expire_snapshots
        only deletes files referenced by NO surviving manifest, so a
        surviving manifest's files are always intact. Downstream
        ``changes_since`` consumers that already saw the undone changes
        must handle the re-delivery (at-least-once, as ever).

        Goes through the same locked/CAS ``_commit`` as merge; a
        concurrent writer racing this version raises CommitConflict."""
        cur = self.current_version()
        if to_version == cur:
            return {"status": "noop", "version": cur}
        # snapshot() raises FileNotFoundError if the manifest was expired
        m = json.loads(self.fs.read_bytes(self._manifest_path(to_version)))
        m["version"] = cur + 1
        m["parent_version"] = cur
        m["rollback_of"] = to_version
        v = self._commit(m)
        return {
            "status": "rolled_back",
            "version": v,
            "restored_version": to_version,
            "undone_versions": list(range(to_version + 1, cur + 1)),
        }

    def undone_since(
        self, cursor_seq: int, cursor_version: int, *, current_version: int | None = None
    ) -> int | None:
        """Rollback detection for incremental consumers: if a rollback
        published AFTER ``cursor_version`` restored the table to an
        end_seq BELOW ``cursor_seq``, the consumer has already consumed
        changes that were undone — and because the re-applied corrected
        events reuse the same seq range, a plain seq cursor would skip
        them forever. Returns the lowest restored end_seq to reset the
        cursor to (re-deliver from there, at-least-once), or None if the
        consumer's position was never undone.

        Walks the manifest parent chain from ``current_version`` down to
        ``cursor_version``; if expiry broke the chain, verification stops
        there (best-effort, same as any log-retention guarantee)."""
        v = self.current_version() if current_version is None else current_version
        reset_to: int | None = None
        while v > cursor_version:
            try:
                m = json.loads(self.fs.read_bytes(self._manifest_path(v)))
            except FileNotFoundError:
                break  # chain expired before cursor_version — unverifiable
            if m.get("rollback_of") is not None:
                # the rollback manifest carries the RESTORED state, so its
                # own committed_epochs give the restored end_seq directly
                restored_end = max(
                    (int(e["end_seq"]) for e in m["committed_epochs"].values()),
                    default=-1,
                )
                if restored_end < cursor_seq:
                    reset_to = (
                        restored_end
                        if reset_to is None
                        else min(reset_to, restored_end)
                    )
            v = m.get("parent_version", -1)
        return reset_to

    def expire_snapshots(self, *, keep_last: int = 2) -> dict:
        """Drop all but the newest ``keep_last`` manifests, then delete data
        files referenced by no surviving manifest (Iceberg
        expire_snapshots + remove_orphan_files). Readers of surviving
        snapshots are unaffected — files they reference are kept.

        If the table has an exported Iceberg mirror, the two GC worlds
        are reconciled in the same pass: Iceberg snapshots whose data
        files survive stay readable (their equality-delete parquets
        under ``data/`` are treated as live), snapshots referencing
        GC'd files are expired from a new metadata version, and if none
        survive the mirror is removed (re-publish with export_iceberg);
        see lake/iceberg_export.expire_iceberg_snapshots."""
        d = fs_join(self.root, MANIFEST_DIR)
        versions = sorted(
            int(n[1:-5]) for n in self.fs.listdir(d)
            if n.startswith("v") and n.endswith(".json")
        )
        to_drop = versions[:-keep_last] if keep_last else versions
        keep = versions[-keep_last:] if keep_last else []
        live: set[str] = set()
        for v in keep:
            live |= set(self.snapshot(v).file_list())
        from arc_spark.lake.iceberg_export import expire_iceberg_snapshots

        ice = expire_iceberg_snapshots(self.fs, self.root, live,
                                       locker=self.locker)
        if ice is not None:
            live |= ice["keep_files"]
        removed_files = 0
        data_root = fs_join(self.root, DATA_DIR)
        seen_dirs: list[str] = []
        for full, fn in self.fs.walk_files(data_root):
            rel = full[len(self.root):].lstrip("/")
            if fn.endswith(".parquet") and rel not in live:
                self.fs.delete(full)
                removed_files += 1
            d_ = full.rsplit("/", 1)[0]
            if d_ not in seen_dirs:
                seen_dirs.append(d_)
        for v in to_drop:
            self.fs.delete(self._manifest_path(v))
        # prune now-empty attempt directories: walk_files only surfaced
        # DIRECT parents of files, so once the leaf _bucket=* dirs empty
        # out, their epoch=*/compact-* ancestors would otherwise linger
        # forever — include every ancestor up to (not incl.) data/
        ancestors: set[str] = set()
        for d_ in seen_dirs:
            cur = d_
            while cur.startswith(data_root) and cur != data_root:
                ancestors.add(cur)
                cur = cur.rsplit("/", 1)[0]
        for d_ in sorted(ancestors, key=len, reverse=True):
            self.fs.rmdir_if_empty(d_)
        out = {
            "status": "expired",
            "manifests_removed": len(to_drop),
            "data_files_removed": removed_files,
            "versions_kept": keep,
        }
        if ice is not None:
            out["iceberg"] = {k: v for k, v in ice.items()
                              if k != "keep_files"}
        return out


def _footer_seq_bounds(md, seq_col: str) -> list | None:
    """[min_seq, max_seq] for ``seq_col`` from a parquet FileMetaData's
    row-group statistics, or None when any row group lacks stats (the
    caller records nothing and reads stay conservative)."""
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        col = None
        for j in range(rg.num_columns):
            c = rg.column(j)
            if c.path_in_schema == seq_col:
                col = c
                break
        st = col.statistics if col is not None else None
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return None
    return [int(lo), int(hi)]


def _parquet_footer_info(
    fs, paths: list[str], seq_col: str | None = None, *, root: str | None = None
):
    """(total_rows, {path: [min_seq, max_seq]}) from parquet footers — no
    Spark job. Local paths go straight to pyarrow; other schemes read
    through a seekable driver-side stream (footer-sized IO, not whole
    files). With ``root``, ``paths`` are table-relative (opened under
    root, stats keyed by the relative path — manifest-ready). Files whose
    footers carry no usable seq statistics are simply absent from the
    stats dict."""
    import pyarrow.parquet as pq

    from arc_spark.fs import LocalFS

    total = 0
    stats: dict[str, list] = {}

    def _one(key, src):
        nonlocal total
        md = pq.ParquetFile(src).metadata
        total += md.num_rows
        if seq_col is not None:
            b = _footer_seq_bounds(md, seq_col)
            if b is not None:
                stats[key] = b

    for p in paths:
        full = fs_join(root, p) if root is not None else p
        if isinstance(fs, LocalFS):
            _one(p, full)
        else:
            with fs.seekable_input(full) as f:
                _one(p, f)
    return total, stats


def _parquet_rows(fs, paths: list[str]) -> int:
    """Row counts from parquet footers — no Spark job."""
    return _parquet_footer_info(fs, paths)[0]


def _live_file_stats(
    prev: dict[str, list],
    new: dict[str, list],
    files: dict[str, list[str]],
    delta_files: dict[str, list[str]],
) -> dict[str, list]:
    """Stats map for a new manifest: carry forward entries for files that
    remain live, fold in the stats of files written this commit. Entries
    for removed files are dropped so the manifest never grows beyond the
    live file set (O(live files), same order as the files map itself)."""
    live = {p for fl in files.values() for p in fl}
    live |= {p for fl in delta_files.values() for p in fl}
    out = {p: s for p, s in prev.items() if p in live}
    out.update({p: s for p, s in new.items() if p in live})
    return out

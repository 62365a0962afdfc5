"""Zero-copy export of a LakeTable snapshot as an Apache Iceberg v2 table.

Interop with the standard table-format ecosystem: after ``export_iceberg``
any Iceberg reader (Spark+iceberg-runtime, Trino, DuckDB's iceberg
extension, pyiceberg) pointed at the table root sees EXACTLY the lake
table's live rows — without copying a single data byte. The export writes
only metadata, per the public Iceberg table spec
(https://iceberg.apache.org/spec/):

- ``metadata/v{N}.metadata.json`` + ``version-hint.text`` (HadoopCatalog
  layout: no catalog service needed, the directory IS the table).
  Repeated exports APPEND: each call writes the next metadata version
  with the new snapshot added to the history (stable table-uuid,
  monotonically increasing sequence numbers, schema-id reuse when the
  schema is unchanged), so Iceberg readers get real snapshot history and
  time travel across exports — older snapshots stay readable until the
  lake's own expire_snapshots removes their data files,
- a manifest-list Avro file and one data-manifest Avro file listing the
  snapshot's base parquet files in place (paths, footer row counts, byte
  sizes),
- our parquet carries no Iceberg field ids, so the metadata sets the
  spec's ``schema.name-mapping.default`` property; the lake's
  metadata-only column RENAMES become extra names on the same mapped
  field — Iceberg's own mechanism for reading pre-rename files — and
  DROPPED columns are simply absent from the schema (readers ignore
  unmapped parquet columns),
- deleted keys: lake base files retain tombstone rows (they fence late
  arrivals), which a plain file scan would resurrect. The export writes
  an Iceberg v2 EQUALITY-DELETE file carrying the key columns of every
  RESOLVED-tombstoned key (equality_ids = the key fields) at the top
  sequence number — spec rule "equality deletes apply to data files with
  a strictly smaller data sequence number" removes exactly the
  tombstoned keys, INCLUDING the tombstone rows themselves. Delete files
  are the only thing written under ``data/`` and are O(deleted keys),
  not a data copy,
- outstanding MOR delta files export ZERO-COPY too: the lake's
  shadow-by-max-seq semantics map exactly onto Iceberg's sequence-number
  rules. Delta chains are chronological per bucket (appended per merge
  epoch) and keys never cross buckets, so position-in-chain composes
  into global LEVELS: level j's files become Iceberg data files at data
  sequence ``base + 1 + j``, paired with an equality-delete file of ALL
  keys present in level j at the SAME sequence number — which kills
  every older version (base and levels < j) while the level's own rows
  survive (strictly-smaller rule). Tombstone rows inside delta files are
  data rows whose key either reappears later (killed by that level's
  delete) or is the key's final version (killed by the top-sequence
  resolved-tombstone delete above). A reader therefore sees exactly
  LWW-resolved state with no compaction required — ``icebergMirror`` can
  publish after every MOR epoch. Read cost grows with chain length
  (one aggregated join per delete kind), the same debt the lake's own
  MOR read pays; normal compaction cadence bounds both. The level
  encoding requires per-key seq order to match chain order — true for a
  seq-ordered binlog replay, but a file-tail stream can apply a LATE
  (lower-seq) event in a later micro-batch; the export validates both
  invariants (cross-level, base-vs-delta) with small column-pruned jobs
  and, when violated, re-encodes ONLY the delta keys' resolved winners
  as one synthetic level (O(delta keys) write, base stays zero-copy,
  nothing in the lake mutates; ``zero_copy_chain: false`` in the result).

The Avro manifests are produced by the repo's own from-scratch OCF codec
(arc_spark/formats/avro.py) with the spec's field-id annotations.

One commit path: the export, the landing-zone writer (``write_iceberg``),
its compaction (``compact_iceberg``) and both expiries
(``expire_iceberg_snapshots`` for the lake mirror,
``expire_iceberg_landing`` for landing zones) differ only in policy —
what a snapshot contains, which snapshots survive, what gets reaped.
They share ``_head`` (previous metadata -> next version, sequence number,
snapshot id, timestamp), ``_entry`` (one manifest-entry builder),
``_write_manifest`` (manifests + manifest list), ``_snapshot_metadata``
/ ``_expired`` (the metadata JSON) and ``_commit``: one CAS loop of at
most four attempts that re-runs only the metadata derivation against a
winner's chain. Spark work (batch writes, bin-packs, the export's delete
files) runs once per call, before the loop. Manifests are read back with
``iceberg_read._walk``, the one manifest walker.

Scale: the export is O(#files) driver-side metadata + one Spark job over
the resolved tombstoned keys and one tiny job per outstanding delta
level (key columns of small delta files only). Verification story in
tests/test_iceberg_export (no Iceberg runtime ships in this sandbox —
the round-trip is proved by re-reading the metadata chain with our own
Avro/JSON readers and replaying the spec's scan semantics against
``table.read``, plus the hash-exact ``iceberg_round_trip`` oracle query).

Reference note: the reference engine (tripl-ai/arc) has no table format
of its own — this closes the gap between the engine-specific manifest log
and the ecosystem standard the north rule names.
"""

from __future__ import annotations

import json
import re
import struct
import time
import uuid
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arc_spark.formats.avro import write_ocf_bytes
from arc_spark.fs import get_fs, join as fs_join
from arc_spark.lake.iceberg_read import (
    _current_schema,
    _load_snapshot_files,
    _read_data,
    _walk,
    resolve_metadata_file,
)
from arc_spark.lake.table import TOMBSTONE_COL, _footer_seq_bounds

# ---------------------------------------------------------------------------
# schema mapping: Spark -> Iceberg JSON types with assigned field ids
# ---------------------------------------------------------------------------

_PRIMS = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",  # Spark TimestampType is tz-normalized
    T.TimestampNTZType: "timestamp",
}


def _iceberg_type(dt, alloc):
    """Spark type -> Iceberg JSON type; ``alloc()`` hands out field ids
    (spec: every nested field, list element and map key/value has one)."""
    if type(dt) in _PRIMS:
        return _PRIMS[type(dt)]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {
            "type": "list", "element-id": eid,
            "element": _iceberg_type(dt.elementType, alloc),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = alloc(), alloc()
        return {
            "type": "map", "key-id": kid,
            "key": _iceberg_type(dt.keyType, alloc),
            "value-id": vid, "value": _iceberg_type(dt.valueType, alloc),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = alloc()
            fields.append({
                "id": fid, "name": f.name, "required": not f.nullable,
                "type": _iceberg_type(f.dataType, alloc),
            })
        return {"type": "struct", "fields": fields}
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _build_schema(struct: T.StructType, renames: dict[str, list[str]]):
    """(iceberg schema json, name-mapping json, name->field-id). Top-level
    ids are assigned first (1..N) so key equality_ids are stable; nested
    ids follow. ``renames``: current name -> historical names still
    present in older data files — mapped as extra names on the same id."""
    counter = {"n": len(struct.fields)}

    def alloc():
        counter["n"] += 1
        return counter["n"]

    fields, mapping, ids = [], [], {}
    for i, f in enumerate(struct.fields, start=1):
        ids[f.name] = i
        fields.append({
            "id": i, "name": f.name, "required": not f.nullable,
            "type": _iceberg_type(f.dataType, alloc),
        })
        names = [f.name, *renames.get(f.name, [])]
        entry = {"field-id": i, "names": names}
        nested = _name_mapping_children(f.dataType, fields[-1]["type"])
        if nested:
            entry["fields"] = nested
        mapping.append(entry)
    schema = {"type": "struct", "schema-id": 0, "fields": fields}
    return schema, mapping, ids, counter["n"]


def _name_mapping_children(dt, ice_type):
    """Nested name-mapping entries mirroring the assigned ids."""
    if isinstance(dt, T.StructType):
        out = []
        for f, jf in zip(dt.fields, ice_type["fields"]):
            e = {"field-id": jf["id"], "names": [f.name]}
            kids = _name_mapping_children(f.dataType, jf["type"])
            if kids:
                e["fields"] = kids
            out.append(e)
        return out
    if isinstance(dt, T.ArrayType):
        e = {"field-id": ice_type["element-id"], "names": ["element"]}
        kids = _name_mapping_children(dt.elementType, ice_type["element"])
        if kids:
            e["fields"] = kids
        return [e]
    if isinstance(dt, T.MapType):
        k = {"field-id": ice_type["key-id"], "names": ["key"]}
        v = {"field-id": ice_type["value-id"], "names": ["value"]}
        kids = _name_mapping_children(dt.valueType, ice_type["value"])
        if kids:
            v["fields"] = kids
        return [k, v]
    return []


# ---------------------------------------------------------------------------
# Iceberg Avro schemas (field ids per the spec's manifest tables)
# ---------------------------------------------------------------------------

def _opt(t):
    return ["null", t]


def _bounds_field(name: str, fid: int, kid: int, vid: int):
    """An optional Iceberg bounds map (``lower_bounds``/``upper_bounds``):
    per the spec, Avro encodes map<int, bytes> as an array of key/value
    records with ``logicalType: map``."""
    return {
        "name": name, "field-id": fid, "default": None,
        "type": _opt({
            "type": "array", "logicalType": "map",
            "items": {
                "type": "record", "name": f"k{kid}_v{vid}",
                "fields": [
                    {"name": "key", "type": "int", "field-id": kid},
                    {"name": "value", "type": "bytes", "field-id": vid},
                ],
            },
        }),
    }


def _data_file_schema():
    return {
        "type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "field-id": 102,
             "type": {"type": "record", "name": "r102", "fields": []}},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            _bounds_field("lower_bounds", 125, 126, 127),
            _bounds_field("upper_bounds", 128, 129, 130),
            {"name": "equality_ids", "field-id": 135, "default": None,
             "type": _opt({"type": "array", "items": "int",
                           "element-id": 136})},
        ],
    }


def _manifest_entry_schema():
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "field-id": 1,
             "default": None},
            {"name": "sequence_number", "type": _opt("long"), "field-id": 3,
             "default": None},
            {"name": "file_sequence_number", "type": _opt("long"),
             "field-id": 4, "default": None},
            {"name": "data_file", "type": _data_file_schema(), "field-id": 2},
        ],
    }


def _manifest_file_schema():
    return {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        ],
    }


# ---------------------------------------------------------------------------
# the one commit path: head -> derive (entries, manifests, metadata) -> CAS
# ---------------------------------------------------------------------------

_ATTEMPTS = 4
_VERSION = re.compile(r"v(\d+)\.metadata\.json$")


@dataclass
class _Head:
    """The chain head a commit derives from: the previous metadata (None
    before the first commit) and what the next version takes from it."""

    fs: object
    root: str
    prev: dict | None
    prev_path: str | None
    out_version: int  # the metadata version this commit publishes
    seq: int  # the next data sequence number
    snapshot_id: int  # the next snapshot id
    now_ms: int

    @property
    def path(self) -> str:
        return fs_join(self.root, "metadata", f"v{self.out_version}.metadata.json")

    @cached_property
    def files(self):
        """(data_files, deletes) of the current snapshot; empty without one."""
        if not self.prev or self.prev.get("current-snapshot-id") is None:
            return [], []
        return _load_snapshot_files(self.fs, self.prev)


def _head(fs, root: str) -> _Head:
    """Resolve the true head (never a stale hint) and derive the next
    version, sequence number, snapshot id and a timestamp past the
    head's."""
    now_ms = int(time.time() * 1000)
    try:
        path = resolve_metadata_file(fs, root, prefer_hint=False)
    except FileNotFoundError:
        return _Head(fs, root, None, None, 1, 1, 1, now_ms)
    prev = json.loads(fs.read_bytes(path))
    return _Head(
        fs, root, prev, path,
        out_version=int(_VERSION.search(path).group(1)) + 1,
        seq=int(prev.get("last-sequence-number", 0)) + 1,
        snapshot_id=max(
            (s["snapshot-id"] for s in prev.get("snapshots", [])), default=0
        ) + 1,
        now_ms=max(now_ms, int(prev.get("last-updated-ms", 0)) + 1),
    )


def _commit(fs, root: str, locker, what: str, derive, head: _Head | None = None):
    """The one CAS loop every Iceberg commit runs.

    ``derive(head)`` returns ``(metadata, result)``: the metadata dict to
    publish as ``head.path`` (None: nothing to commit) and what the
    caller gets back. A lost CAS means a concurrent writer published that
    version first — re-read the head and re-run ``derive`` against the
    winner's chain (fresh snapshot id, sequence numbers and manifest
    names), never clobber it. Spark work belongs before the loop: only
    the metadata derivation repeats. ``head``: an already-resolved head
    for the first attempt. Raises RuntimeError naming ``what`` after
    losing ``_ATTEMPTS`` times."""
    for _ in range(_ATTEMPTS):
        head = head or _head(fs, root)
        metadata, result = derive(head)
        if metadata is None or _cas_metadata(
            fs, locker, root, head.path,
            json.dumps(metadata, indent=2).encode(), head.out_version,
        ):
            return result
        head = None
    raise RuntimeError(
        f"{what}: lost the metadata CAS at {root} {_ATTEMPTS} times — "
        "concurrent writers are racing faster than the retry budget"
    )


def _entry(status: int, snapshot_id: int, seq: int, path: str, rows: int,
           size: int, *, file_seq: int | None = None, content: int = 0,
           bounds=(None, None), equality_ids=None) -> dict:
    """One manifest entry (status 0 EXISTING / 1 ADDED) for a parquet data
    file (content 0) or equality-delete file (content 2)."""
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq if file_seq is None else file_seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": rows,
            "file_size_in_bytes": size,
            "lower_bounds": bounds[0],
            "upper_bounds": bounds[1],
            "equality_ids": equality_ids,
        },
    }


def _write_manifest(fs, head: _Head, snapshot_id: int, seq: int,
                    schema_json: dict, schema_id: int, manifests,
                    deleted=(0, 0)) -> str:
    """Write a snapshot's manifests and its manifest list; return the
    list's path. ``manifests``: [(content, entries, sequence_number,
    min_sequence_number)], content 0 data / 1 deletes; list-record counts
    follow the entries' status. ``deleted``: (files, rows) the data
    manifest's snapshot removed without DELETED entries (a compaction's
    rewritten inputs). Names carry a per-ATTEMPT uid, never one derived
    from (root, version): two writers racing from the same head must not
    share a path, or the winner's snapshot could point at the loser's
    bytes; a loser's avros are orphans the next expiry reaps."""
    meta_dir = fs_join(head.root, "metadata")
    uid = f"{head.out_version}-{uuid.uuid4().hex[:16]}"
    records = []
    for content, entries, m_seq, min_seq in manifests:
        label = "deletes" if content else "data"
        path = fs_join(meta_dir, f"manifest-{label}-{uid}.avro")
        fs.write_bytes(path, write_ocf_bytes(
            _manifest_entry_schema(), entries, codec="null",
            extra_meta={
                "schema": json.dumps(schema_json),
                "schema-id": str(schema_id),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": "2",
                "content": label,
            },
        ))
        n_del, del_rows = (0, 0) if content else deleted

        def count(status, rows=False):
            return sum(e["data_file"]["record_count"] if rows else 1
                       for e in entries if e["status"] == status)

        records.append({
            "manifest_path": path,
            "manifest_length": fs.size(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": m_seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": count(1),
            "existing_files_count": count(0),
            "deleted_files_count": n_del,
            "added_rows_count": count(1, rows=True),
            "existing_rows_count": count(0, rows=True),
            "deleted_rows_count": del_rows,
        })
    manifest_list = fs_join(meta_dir, f"snap-{snapshot_id}-{uid}.avro")
    fs.write_bytes(manifest_list, write_ocf_bytes(
        _manifest_file_schema(), records, codec="null",
        extra_meta={"snapshot-id": str(snapshot_id),
                    "sequence-number": str(seq), "format-version": "2"},
    ))
    return manifest_list


def _metadata_log(head: _Head) -> list:
    prev = head.prev or {}
    return [*prev.get("metadata-log", []),
            *([{"metadata-file": head.prev_path,
                "timestamp-ms": int(prev.get("last-updated-ms", 0))}]
              if head.prev else [])]


def _snapshot_metadata(head: _Head, *, snapshot_id: int, seq: int,
                       manifest_list: str, schemas: list, schema_id: int,
                       last_col_id: int, properties: dict,
                       summary: dict) -> dict:
    """The metadata JSON that appends one snapshot to ``head``'s chain and
    makes it current. The caller supplies the table properties and the
    snapshot summary (its policy); history, ids and logs are derived."""
    prev = head.prev or {}
    return {
        "format-version": 2,
        # the table identity must be STABLE across commits
        "table-uuid": prev.get("table-uuid")
        or str(uuid.uuid5(uuid.NAMESPACE_URL, head.root)),
        "location": head.root,
        "last-sequence-number": seq,
        "last-updated-ms": head.now_ms,
        "last-column-id": max(last_col_id, int(prev.get("last-column-id", 0))),
        "current-schema-id": schema_id,
        "schemas": schemas,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": properties,
        "current-snapshot-id": snapshot_id,
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
        "snapshots": [*prev.get("snapshots", []), {
            "snapshot-id": snapshot_id,
            "timestamp-ms": head.now_ms,
            "sequence-number": seq,
            "summary": summary,
            "manifest-list": manifest_list,
            "schema-id": schema_id,
        }],
        "snapshot-log": [
            *prev.get("snapshot-log", []),
            {"snapshot-id": snapshot_id, "timestamp-ms": head.now_ms},
        ],
        "metadata-log": _metadata_log(head),
    }


def _expired(head: _Head, kept: list, **changes) -> dict:
    """``head``'s metadata with only the ``kept`` snapshots listed (old
    v*.metadata.json files stay on disk, as real Iceberg leaves them)."""
    ids = {s["snapshot-id"] for s in kept}
    return {
        **head.prev,
        **changes,
        "last-updated-ms": head.now_ms,
        "snapshots": kept,
        "snapshot-log": [e for e in head.prev.get("snapshot-log", [])
                         if e["snapshot-id"] in ids],
        "metadata-log": _metadata_log(head),
    }


# ---------------------------------------------------------------------------
# the export
# ---------------------------------------------------------------------------

def export_iceberg(spark, table, *, version: int | None = None) -> dict:
    """Write Iceberg v2 metadata for ``table``'s snapshot (current by
    default) next to its data. Returns a summary dict (metadata path,
    data/delete file counts, row counts). See module docstring."""
    snap = table.snapshot(version)
    fs = table.fs
    root = table.root
    schema_json, name_mapping, ids, last_col_id = _build_schema(
        snap.schema, snap.column_renames
    )
    # names this call's export-owned files under data/ (unique per call,
    # so concurrent exporters never overwrite each other's delete files)
    uid = uuid.uuid4().hex[:16]

    def _pruned(rel_paths: list[str], lvl) -> "DataFrame":
        # the lake's own manifest-schema read: renames coalesced to the
        # current names, narrower files (before a widening) read widened
        df = table._read_files(spark, snap, rel_paths, with_tombstone=True)
        return df.select(
            *snap.key_cols,
            F.col(snap.seq_col).alias("_seq"),
            F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias("_tomb"),
            lvl.alias("_lvl"),
        )

    # MOR delta chains -> sequence-number levels (module docstring):
    # level j = the j-th delta file in its bucket's chronological chain
    # (keys never cross buckets, so per-bucket positions compose into
    # global levels without any epoch bookkeeping); root-relative paths
    delta_levels: dict[int, list[str]] = {}
    for bucket in sorted(snap.delta_files, key=int):
        for j, rel in enumerate(snap.delta_files[bucket], start=1):
            delta_levels.setdefault(j, []).append(rel)
    n_levels = max(delta_levels, default=0)
    base = [rel for b in sorted(snap.files, key=int) for rel in snap.files[b]]
    resolved = None
    dead_keys = None  # keys whose resolved row is a tombstone
    stats = None
    zero_copy_chain = True

    if n_levels:
        # The level encoding is valid ONLY when per-key seq order matches
        # chain order: a seq-ordered binlog replay guarantees this, but a
        # file-tail stream can apply a LATE (lower-seq) event in a LATER
        # micro-batch — level j's equality delete would then kill the
        # true winner below it. ONE column-pruned aggregation over
        # (key, seq, tombstone, level) checks both invariants (cross-
        # level order AND base-vs-delta order: the top-level row must
        # carry the key's max seq) and simultaneously yields the
        # resolved-tombstone key set the final delete needs — no
        # full-row shuffle, no separate window pass.
        lv = None
        for j in sorted(delta_levels):
            d = _pruned(delta_levels[j], F.lit(j))
            lv = d if lv is None else lv.unionByName(d)
        allk = _pruned(base, F.lit(0)).unionByName(lv) if base else lv
        from pyspark import StorageLevel

        stats = (
            allk.groupBy(*snap.key_cols)
            .agg(
                F.max("_seq").alias("_win_seq"),
                F.max_by("_tomb", "_seq").alias("_win_tomb"),
                F.max_by("_seq", "_lvl").alias("_top_seq"),
                F.max("_lvl").alias("_max_lvl"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        zero_copy_chain = stats.filter(
            (F.col("_max_lvl") > 0)
            & (F.col("_top_seq") != F.col("_win_seq"))
        ).isEmpty()
        dead_keys = stats.filter(F.col("_win_tomb")).select(*snap.key_cols)
        if not zero_copy_chain:
            # Out-of-order chain: re-encode ONLY the delta keys' resolved
            # winners as a single synthetic level (base stays zero-copy;
            # the write is O(delta keys), far cheaper than compaction and
            # mutates nothing in the lake). The level-1 equality delete
            # (derived from this file's keys) kills every base version;
            # keys whose resolved row is a tombstone are excluded here
            # and die via the top-sequence tombstone delete instead.
            resolved = table._resolve(spark, snap)
            winners = resolved.join(
                lv.select(*snap.key_cols).distinct(), snap.key_cols,
                "leftsemi",
            )
            live = winners.filter(
                ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            ).drop(TOMBSTONE_COL)
            reenc = f"data/iceberg-reencode-{uid}"
            live.write.mode("overwrite").parquet(fs_join(root, reenc))
            delta_levels = {1: [
                f"{reenc}/{name}" for name in fs.listdir(fs_join(root, reenc))
                if name.endswith(".parquet")
            ]}
            n_levels = 1

    # -- data files: every base + delta file, footer-counted, in place,
    # as (path, level); level j sits at data sequence base + j. The seq
    # column's bounds come from the same footer read: Iceberg engines use
    # them for scan planning, exactly as the lake's file_stats do
    data = [(fs_join(root, rel), 0) for rel in base] + [
        (fs_join(root, rel), j)
        for j in sorted(delta_levels) for rel in delta_levels[j]
    ]
    seq_cols = {k: v for k, v in _numeric_bound_cols(schema_json["fields"]).items()
                if k == snap.seq_col}
    data_stats = _pooled_stats_multi(fs, [p for p, _ in data], seq_cols)
    total_rows = sum(n for n, _, _ in data_stats)

    # -- equality deletes: per-level key kills + resolved tombstones, as
    # (path, level); the tombstone delete sits one level above the chain
    deletes = []
    if n_levels:
        # ALL keys present in level j — kills every older version of
        # those keys (base + levels < j); the level's own rows survive
        # the strictly-smaller rule at the same sequence number. ONE
        # level-partitioned write produces every level's delete file —
        # a job per level made job overhead dominate long-chain exports.
        src = lv if zero_copy_chain else (
            lv.select(*snap.key_cols).distinct().withColumn(
                "_lvl", F.lit(1)
            )
        )
        keys_dir = fs_join(root, "data", f"iceberg-deletes-{uid}-levels")
        (
            src.select(*snap.key_cols, "_lvl")
            .repartition("_lvl")
            .write.mode("overwrite")
            .partitionBy("_lvl")
            .parquet(keys_dir)
        )
        for entry in sorted(fs.listdir(keys_dir)):
            if entry.startswith("_lvl="):
                j = int(entry.split("=", 1)[1])
                deletes += [
                    (fs_join(keys_dir, entry, fn), j)
                    for fn in fs.listdir(fs_join(keys_dir, entry))
                    if fn.endswith(".parquet")
                ]
    tomb_dir = None
    if data:
        # keys whose RESOLVED (max-seq) row is a tombstone: the only
        # tombstone rows the per-level key deletes leave standing. With
        # MOR levels these come from the pruned stats aggregation above;
        # a compacted table takes the no-shuffle clean-read path.
        if dead_keys is None:
            if resolved is None:
                resolved = table._resolve(spark, snap)
            dead_keys = resolved.filter(F.col(TOMBSTONE_COL)).select(*snap.key_cols)
        tomb_dir = fs_join(root, "data", f"iceberg-deletes-{uid}-tombstones")
        dead_keys.coalesce(1).write.mode("overwrite").parquet(tomb_dir)
        deletes += [(fs_join(tomb_dir, fn), n_levels + 1)
                    for fn in fs.listdir(tomb_dir) if fn.endswith(".parquet")]
    # (delete, (rows, size)); empty delete files are dropped
    deletes = [
        (d, (n, size)) for d, (n, size, _) in
        zip(deletes, _pooled_stats_multi(fs, [d[0] for d in deletes], {}))
        if n
    ]
    tomb_n = sum(n for (_, j), (n, _) in deletes if j > n_levels)
    if tomb_dir is not None and not tomb_n:  # nothing tombstoned — drop it
        fs.rmtree(tomb_dir)

    def derive(head: _Head):
        # the first export starts the snapshot ids after the lake version
        sid = head.snapshot_id if head.prev else snap.version + 1
        seq_data = head.seq  # base files; delta level j at seq_data + j
        seq_del = seq_data + n_levels + 1  # top: resolved-tombstone delete
        entries = [
            _entry(1, sid, seq_data + j, path, n, size,
                   bounds=_bounds_cells(bnds, seq_cols))
            for (path, j), (n, size, bnds) in zip(data, data_stats)
        ]
        manifests = [(0, entries, seq_data + n_levels, seq_data)]
        del_entries = [
            _entry(1, sid, seq_data + j, path, n, size, content=2,
                   equality_ids=[ids[k] for k in snap.key_cols])
            for (path, j), (n, size) in deletes
        ]
        if del_entries:
            manifests.append((1, del_entries, seq_del,
                              min(e["sequence_number"] for e in del_entries)))
        # schema history: reuse the prior schema-id when unchanged, else
        # append with the next id (positional field ids are stable for
        # the lake's additive evolution; see module docstring)
        schemas, schema_id = _schema_history(head.prev, schema_json)
        manifest_list = _write_manifest(fs, head, sid, seq_del,
                                        schema_json, schema_id, manifests)
        metadata = _snapshot_metadata(
            head, snapshot_id=sid, seq=seq_del, manifest_list=manifest_list,
            schemas=schemas, schema_id=schema_id, last_col_id=last_col_id,
            properties={
                "schema.name-mapping.default": json.dumps(name_mapping),
                "write.format.default": "parquet",
                # provenance breadcrumbs for operators
                "arc-spark.lake.version": str(snap.version),
                "arc-spark.lake.end-seq": str(snap.end_seq or 0),
            },
            # each export enumerates the FULL current file set
            summary={
                "operation": "overwrite" if head.prev else "append",
                "added-data-files": str(len(entries)),
                "added-records": str(total_rows),
            },
        )
        return metadata, (head.path, manifest_list)

    # With the table's CommitLocker the check-then-put (and the hint
    # update) serialize on ANY backend; without one, create_exclusive
    # detects the race where the fs CAS is honest (POSIX, HDFS, native S3
    # conditional PUT) and the Hadoop-connector object-store caveat is
    # the lake's own, warned once there.
    try:
        meta_path, manifest_list = _commit(
            fs, root, getattr(table, "locker", None), "export_iceberg", derive
        )
        if stats is not None:
            # with MOR levels the per-level key deletes also kill shadowed
            # versions, so total_rows - delete_rows over-subtracts (a
            # fresh delta insert's key-delete kills nothing); the pruned
            # stats aggregation already knows each key's winner — live
            # rows are the keys whose winner is not a tombstone
            live_rows = stats.filter(~F.col("_win_tomb")).count()
        else:
            # LWW keeps ONE row per key, so each deleted key's only
            # physical row is its tombstone — the delete removes exactly it
            live_rows = total_rows - tomb_n
    finally:
        if stats is not None:
            stats.unpersist()
    return {
        "metadata": meta_path,
        "manifest_list": manifest_list,
        "data_files": len(data),
        "delete_files": len(deletes),
        "delta_levels": n_levels,
        # False: the chain was out-of-order (late lower-seq events in a
        # later delta) and the delta keys' winners were re-encoded as one
        # synthetic level — base files still referenced in place
        "zero_copy_chain": zero_copy_chain,
        "physical_rows": total_rows,
        "deleted_keys": tomb_n,
        "delete_rows": sum(n for _, (n, _) in deletes),
        "live_rows": live_rows,
    }


# ---------------------------------------------------------------------------
# footer stats and bounds
# ---------------------------------------------------------------------------

def _numeric_bound_cols(schema_fields) -> dict:
    """{name: (field-id, iceberg type)} for the top-level int/long fields
    of an Iceberg schema — the columns manifests record bounds for (seq
    cursors, timestamps-as-longs; strings would need the spec's
    truncation rules and buy the tail nothing)."""
    return {
        f["name"]: (f["id"], f["type"])
        for f in schema_fields
        if f.get("type") in ("int", "long")
    }


def _bounds_cells(bnds: dict, cols: dict):
    """(lower_bounds, upper_bounds) cell lists for a data_file entry from
    per-column footer bounds; None when no column had usable stats.
    Values use the spec's single-value serialization: int = 4-byte,
    long = 8-byte little-endian."""
    lo, hi = [], []
    for name, (fid, typ) in cols.items():
        b = bnds.get(name)
        if b is None:
            continue
        fmt = "<i" if typ == "int" else "<q"
        lo.append({"key": fid, "value": struct.pack(fmt, int(b[0]))})
        hi.append({"key": fid, "value": struct.pack(fmt, int(b[1]))})
    return (lo or None, hi or None)


def _pooled_stats_multi(fs, paths, cols: dict):
    """[(rows, size, {col: [lo, hi]})] per parquet file — one footer read
    each, bounds for every requested numeric column. The reads run on a
    thread pool: they are IO-bound and independent, so a
    many-hundred-file commit never walks object-store footers serially
    on the driver."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(path):
        with fs.seekable_input(path) as f:
            md = pq.ParquetFile(f).metadata
        bnds = {name: _footer_seq_bounds(md, name) for name in cols}
        return md.num_rows, fs.size(path), {
            k: b for k, b in bnds.items() if b is not None
        }

    paths = list(paths)
    if not paths:
        return []
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(one, paths))


def _schema_history(prev: dict | None, schema_json: dict):
    """(schemas, schema_id): reuse the matching schema-id from the
    previous metadata's history when the body is unchanged, else mint
    the next id and append — Iceberg's schema-evolution bookkeeping,
    shared by the exporter and the landing-zone writer."""
    if not prev:
        return [schema_json], 0
    schemas = list(prev.get("schemas") or [])
    if not schemas:
        return [schema_json], 0

    def _body(s):
        return json.dumps({k: v for k, v in s.items() if k != "schema-id"},
                          sort_keys=True)

    match = next(
        (s["schema-id"] for s in schemas if _body(s) == _body(schema_json)),
        None,
    )
    if match is not None:
        return schemas, match
    schema_id = max(s["schema-id"] for s in schemas) + 1
    schemas.append({**schema_json, "schema-id": schema_id})
    return schemas, schema_id


def _cas_metadata(fs, locker, root: str, meta_path: str, payload: bytes,
                  out_version: int) -> bool:
    """Atomically publish an Iceberg metadata version + advance the hint
    — the compare-and-swap under :func:`_commit`, the one commit path.

    Returns False when the version already exists (the caller lost the
    race and must re-derive against the winner's chain). With a
    CommitLocker the check-then-put AND the hint update serialize on any
    backend; without one, ``create_exclusive`` is the CAS (atomic on
    POSIX/HDFS/native-S3; the Hadoop-connector object-store caveat is
    shared with — and warned by — the lake's own manifest commit) and
    the hint update is best-effort: it writes the HIGHEST existing
    version (verify-and-repair once after writing, narrowing the
    list-then-write race to a single re-list). Correctness never rests
    on the hint — resolve_metadata_file treats it as advisory and never
    serves a hint below the newest listed version."""
    meta_dir = meta_path.rsplit("/", 1)[0]
    hint_path = fs_join(meta_dir, "version-hint.text")
    if locker is not None:
        token = locker.acquire(fs_join(root, "_iceberg_commit"))
        try:
            if fs.exists(meta_path):
                return False
            fs.write_bytes(meta_path, payload)
            fs.write_bytes(hint_path, str(out_version).encode())
            return True
        finally:
            locker.release(fs_join(root, "_iceberg_commit"), token)
    try:
        fs.create_exclusive(meta_path, payload)
    except FileExistsError:
        return False

    def _highest() -> int:
        h = out_version
        for name in fs.listdir(meta_dir):
            m = _VERSION.match(name)
            if m:
                h = max(h, int(m.group(1)))
        return h

    # The list-then-write is a TOCTOU (a newer winner can commit + write
    # its hint between our listdir and our write, and our write would
    # regress it), so verify-and-repair once after writing: re-list and,
    # if a newer version appeared, advance the hint to it. The residual
    # window is one re-list wide — and harmless, because readers treat
    # the hint as advisory (resolve_metadata_file never trusts a hint
    # below the newest listed version).
    wrote = _highest()
    fs.write_bytes(hint_path, str(wrote).encode())
    healed = _highest()
    if healed > wrote:
        fs.write_bytes(hint_path, str(healed).encode())
    return True


# ---------------------------------------------------------------------------
# GC coordination with the lake's expire_snapshots
# ---------------------------------------------------------------------------

def expire_iceberg_snapshots(fs, root: str, live_rel: set[str], *,
                             locker=None):
    """Reconcile the exported Iceberg metadata chain with a lake GC pass.

    ``live_rel`` is the set of ROOT-relative parquet paths the surviving
    lake manifests still reference. Exported Iceberg snapshots reference
    lake parquet in place, so a snapshot whose data files are about to be
    garbage-collected would dangle for Iceberg readers; and the export's
    own equality-delete parquets live under ``data/`` where the lake GC
    walk would otherwise reap them while they are still referenced.

    Returns None when the table has no Iceberg export. Otherwise returns
    ``{"keep_files": set[str], "snapshots_kept": int,
    "snapshots_dropped": int, "mirror_removed": bool}`` where keep_files
    are root-relative paths the GC walk must treat as live (surviving
    snapshots' delete files). Side effects, mirroring Iceberg's own
    expire_snapshots semantics:

    - snapshots whose data files are all still live SURVIVE untouched;
    - snapshots referencing any GC'd file are dropped from a NEW metadata
      version (snapshot-log filtered, current-snapshot-id/refs moved to
      the newest survivor), committed through the same CAS loop as every
      other Iceberg commit — a lost race re-runs the reconciliation
      against the winner's chain instead of clobbering it;
    - manifest-list / manifest Avro files referenced by no surviving
      snapshot are deleted, as are orphaned ones from crashed or
      CAS-losing exports. Like the lake GC that calls this, the reap
      assumes no export is mid-flight (the standard GC-vs-writer
      discipline: maintenance owns the table while it runs);
    - if NO snapshot survives, the whole ``metadata`` directory is
      removed (the mirror must be re-published with export_iceberg) and
      ``mirror_removed`` is True.
    """
    def rel(p: str) -> str:
        return p[len(root):].lstrip("/") if p.startswith(root) else p

    def derive(head: _Head):
        if head.prev is None:
            return None, None
        snaps = head.prev.get("snapshots", [])
        surviving, keep_files, keep_avro = [], set(), set()
        for s in snaps:
            try:
                walked = list(_walk(fs, s))
            except FileNotFoundError:
                continue  # already half-expired: drop it
            ok, own = True, set()
            for _m, e in walked:
                if e is None:
                    continue
                r = rel(e["data_file"]["file_path"])
                if (e["data_file"].get("content", 0) == 0
                        and not r.startswith("data/iceberg-")):
                    # a LAKE parquet referenced in place: the snapshot
                    # survives iff the lake GC keeps it
                    ok = ok and r in live_rel
                else:
                    # EXPORT-OWNED file (equality deletes, re-encoded
                    # delta winners): it lives in no lake manifest by
                    # construction — it survives exactly as long as its
                    # snapshot does, so it must never vote against it
                    own.add(r)
            if ok:
                surviving.append(s)
                keep_files |= own
                keep_avro |= {p.rsplit("/", 1)[-1] for p in
                              [s["manifest-list"],
                               *(m["manifest_path"] for m, _ in walked)]}
        plan = (len(surviving), len(snaps) - len(surviving), keep_files,
                keep_avro)
        if not surviving or len(surviving) == len(snaps):
            return None, plan
        cur = max(surviving, key=lambda s: s.get("sequence-number", 0))
        return _expired(
            head, surviving, **{
                "current-snapshot-id": cur["snapshot-id"],
                "refs": {"main": {"snapshot-id": cur["snapshot-id"],
                                  "type": "branch"}},
            },
        ), plan

    plan = _commit(fs, root, locker, "expire_iceberg_snapshots", derive)
    if plan is None:
        return None
    kept, dropped, keep_files, keep_avro = plan
    meta_dir = fs_join(root, "metadata")
    if not kept:
        fs.rmtree(meta_dir)
        return {"keep_files": set(), "snapshots_kept": 0,
                "snapshots_dropped": dropped, "mirror_removed": True}
    # reap manifest-list/manifest Avro of dropped (or orphaned) snapshots
    for name in fs.listdir(meta_dir):
        if name.endswith(".avro") and name not in keep_avro:
            fs.delete(fs_join(meta_dir, name))
    return {"keep_files": keep_files, "snapshots_kept": kept,
            "snapshots_dropped": dropped, "mirror_removed": False}


def export_catalog_iceberg(spark, catalog, *, version: int | None = None) -> dict:
    """Publish every table of a :class:`~arc_spark.lake.catalog.LakeCatalog`
    as an Apache Iceberg table — the catalog root becomes a HadoopCatalog
    WAREHOUSE (each member table directory is a self-contained Iceberg
    table with its own ``metadata/`` chain). Every table exports at the
    version PINNED by the chosen catalog snapshot, so the published set
    is the last atomic epoch the catalog committed — never a torn mix
    with later in-flight table writes. Per-table exports append to each
    table's own Iceberg history as usual."""
    snap = catalog.snapshot(version)
    tables = {}
    for name in sorted(snap.tables):
        t = catalog.table(name, version=version)
        tables[name] = export_iceberg(
            spark, t, version=snap.table_version(name)
        )
    return {
        "catalog_version": snap.version,
        "epoch": snap.epoch,
        "tables": tables,
    }


# ---------------------------------------------------------------------------
# the landing zone: append/overwrite, compaction, expiry
# ---------------------------------------------------------------------------

def _append_only(head: _Head, refusal: str) -> list:
    """The head's live data files, with record counts / sizes filled from
    footers where a foreign manifest omitted them; ValueError(refusal)
    when the table carries delete files (it belongs to an upsert
    writer)."""
    files, deletes = head.files
    if deletes:
        raise ValueError(refusal)
    need = [f.path for f in files if f.rows is None or f.size is None]
    if need:
        fixed = dict(zip(need, _pooled_stats_multi(head.fs, need, {})))
        files = [f._replace(rows=fixed[f.path][0], size=fixed[f.path][1])
                 if f.path in fixed else f for f in files]
    return files


def _carried(files, snapshot_id: int) -> list:
    """EXISTING entries carrying ``files`` forward at their original data
    sequence numbers, adding-snapshot ids and bounds (verbatim — a
    commit must not erode older files' scan-pruning metadata)."""
    return [
        _entry(0, snapshot_id if f.added_by is None else f.added_by, f.seq,
               f.path, f.rows, f.size, bounds=f.bounds)
        for f in files
    ]


def _landing_properties(head: _Head, name_mapping: str) -> dict:
    """Table properties of a landing-writer commit. ``arc.bounds.tight``
    claims ATTAINED (not merely conservative) manifest bounds: the
    Iceberg spec only requires upper_bounds >= the column max, so a
    metadata-only max_seq probe may treat a bound as the true max ONLY
    when every commit came from this engine's landing writers
    (footer-exact bounds). The PROPERTY is just a fast precondition —
    standard Iceberg writers preserve table properties verbatim across
    commits, so a foreign append would keep it. The PROOF is
    per-snapshot: every landing snapshot stamps arc.bounds.tight into
    its summary, and max_seq_bound requires the marker on EVERY snapshot
    in the chain before trusting bounds as attained — a foreign commit
    lacks the marker and demotes the claim to conservative, exactly the
    spec default. The lake export writes no such claim."""
    tight = head.prev is None or (
        (head.prev.get("properties") or {}).get("arc.bounds.tight") == "true"
    )
    return {
        "schema.name-mapping.default": name_mapping,
        "write.format.default": "parquet",
        "commit.retry.num-retries": "1",
        **({"arc.bounds.tight": "true"} if tight else {}),
    }


def write_iceberg(spark, df, root: str, *, mode: str = "append") -> dict:
    """Land a plain DataFrame as (or append a snapshot to) an Apache
    Iceberg v2 table at ``root`` — the minimal landing-zone writer.

    This is the inbound half of the event-stream story: a connector
    (e.g. parsed Debezium envelopes) lands batches here and the replay
    tails the table with ``events_format='iceberg'`` — resume stays the
    seq cursor, so the landing zone needs no offset bookkeeping of its
    own. ``mode='append'`` adds this batch's files to the previous
    snapshot's file set (a real Iceberg append); ``mode='overwrite'``
    starts the table over with only this batch. The metadata chain,
    name mapping, CAS commit and snapshot history are the one commit
    path the lake exporter uses, so everything ``read_iceberg`` / any
    spec-compliant reader supports (time travel, schema-id reuse) holds
    here too. No deletes are ever written — a landing zone is
    append-only by design; use a LakeTable when you need upserts."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode!r}")
    fs = get_fs(root, spark)
    refusal = ("write_iceberg appends to append-only tables; this table "
               "carries delete files — it belongs to an upsert writer")
    # validated BEFORE the batch write, so a refused call leaves no
    # orphans inside the foreign table's data directory
    head = _head(fs, root)
    if mode == "append":
        _append_only(head, refusal)

    # the batch is written once; a CAS loss re-derives only the metadata
    batch_dir = fs_join(root, "data", f"append-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(batch_dir)
    schema_json, name_mapping, _ids, last_col_id = _build_schema(df.schema, {})
    num_cols = _numeric_bound_cols(schema_json["fields"])
    paths = [fs_join(batch_dir, name) for name in fs.listdir(batch_dir)
             if name.endswith(".parquet")]
    # Empty partitions write zero-row parquet files (a filtered or skewed
    # upstream frame); manifesting them pollutes every future append's
    # carried list and defeats bounds pruning (no footer stats -> read
    # conservatively). Drop them from BOTH the manifest and the disk.
    new = []
    for path, st in zip(paths, _pooled_stats_multi(fs, paths, num_cols)):
        if st[0] == 0:
            fs.delete(path)
        else:
            new.append((path, st))
    new_rows = sum(n for _, (n, _, _) in new)

    def derive(head: _Head):
        # Carry the previous snapshot's live files forward (a true append
        # — old files are EXISTING), with record counts / sizes / adding-
        # snapshot ids straight from the previous manifest: an append is
        # O(this batch) footer IO, not O(table files), and entry
        # snapshot_id keeps meaning "snapshot that ADDED the file"
        # (Iceberg v2 spec) for provenance tooling.
        carried = _append_only(head, refusal) if mode == "append" else []
        sid, seq = head.snapshot_id, head.seq
        entries = _carried(carried, sid) + [
            # int/long column bounds from the same footer read — this is
            # what lets a seq-cursor tail skip caught-up files
            _entry(1, sid, seq, path, n, size,
                   bounds=_bounds_cells(bnds, num_cols))
            for path, (n, size, bnds) in new
        ]
        schemas, schema_id = _schema_history(head.prev, schema_json)
        manifest_list = _write_manifest(
            fs, head, sid, seq, schema_json, schema_id,
            [(0, entries, seq, min([f.seq for f in carried] + [seq]))],
        )
        metadata = _snapshot_metadata(
            head, snapshot_id=sid, seq=seq, manifest_list=manifest_list,
            schemas=schemas, schema_id=schema_id, last_col_id=last_col_id,
            properties=_landing_properties(head, json.dumps(name_mapping)),
            summary={"operation": mode, "arc.bounds.tight": "true",
                     "added-data-files": str(len(new)),
                     "added-records": str(new_rows)},
        )
        return metadata, {
            "metadata": head.path,
            "manifest_list": manifest_list,
            "data_files": len(entries),
            "added_files": len(new),
            "added_rows": new_rows,
            "total_rows": new_rows + sum(f.rows for f in carried),
            "snapshot_id": sid,
        }

    return _commit(fs, root, None, "write_iceberg", derive, head)


def compact_iceberg(
    spark, root: str, *,
    small_file_mb: int = 32,
    target_file_mb: int = 128,
    min_input_files: int = 4,
) -> dict:
    """Bin-pack an append-only landing zone's small files into
    target-sized ones, committed as one Iceberg ``replace`` snapshot.

    The 100 TB problem this solves: a replay tailing the landing zone
    per-epoch leaves one small parquet batch per commit — after 10^4
    epochs the table is 10^4 tiny files and every full scan pays 10^4
    file opens. Compaction reads the files smaller than
    ``small_file_mb`` in ONE Spark job, coalesces them to
    ~``target_file_mb`` outputs (coalesce, not repartition: bin-packing
    needs no key placement, and a repartition would shuffle every
    rewritten byte twice — the scan's own split packing already groups
    small files into right-sized read partitions), and commits a
    snapshot that carries the untouched big files as EXISTING and the
    packed files as ADDED. Old
    files stay on disk (older snapshots and snapshot-cursor consumers
    still reference them — Iceberg's retention model) until expiry.

    Logical content is unchanged, so the snapshot's operation is
    ``replace``: `read_iceberg_appends` skips it (a consumer's cursor
    never double-reads), time travel to pre-compaction snapshots still
    works, and the seq-cursor replay tail is oblivious. Rewritten rows
    keep a data sequence number equal to the newest input's, mirroring
    Iceberg's rewrite rule (sequence preserved, never advanced past
    concurrent deletes — moot here, landing zones carry none, but kept
    spec-shaped).

    Concurrency: appenders may race this commit — a lost CAS re-derives
    against the winner's chain, reusing the already-packed output (the
    inputs are immutable; the winner only added files). A racing SECOND
    compactor is refused (its rewrite removed our inputs): maintenance
    owns the table while it runs, same discipline as the lake GC.

    Returns ``{"status": "noop"|"compacted", ...}`` with file/row
    counts; reference analogue: Iceberg's RewriteDataFiles action.
    """
    fs = get_fs(root, spark)
    head = _head(fs, root)
    if head.prev is None:
        raise FileNotFoundError(f"no Iceberg metadata under {root}")
    if head.prev.get("current-snapshot-id") is None:
        return {"status": "noop", "reason": "no current snapshot"}
    refusal = ("compact_iceberg maintains append-only landing zones; this "
               "table carries delete files — it belongs to an upsert writer "
               "(use LakeTable.compact for the lake's own tables)")
    small = [f for f in _append_only(head, refusal)
             if f.size < small_file_mb * 1024 * 1024]
    if len(small) < min_input_files:
        return {"status": "noop", "small_files": len(small),
                "min_input_files": min_input_files}
    small_paths = {f.path for f in small}
    total_bytes = sum(f.size for f in small)
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    out_dir = fs_join(root, "data", f"compact-{uuid.uuid4().hex[:12]}")
    (_read_data(spark, head.prev, [f.path for f in small])
        .coalesce(int(n_out)).write.mode("overwrite").parquet(out_dir))
    new_files = sorted(
        fs_join(out_dir, name) for name in fs.listdir(out_dir)
        if name.endswith(".parquet")
    )
    packed = _pooled_stats_multi(
        fs, new_files, _numeric_bound_cols(_current_schema(head.prev)["fields"])
    )
    packed_rows = sum(n for n, _, _ in packed)
    in_rows = sum(f.rows for f in small)
    if packed_rows != in_rows:
        raise RuntimeError(
            f"compact_iceberg: packed {packed_rows} rows from {in_rows} "
            "input rows — refusing to commit a lossy rewrite"
        )

    def derive(head: _Head):
        files = _append_only(head, refusal)
        gone = small_paths - {f.path for f in files}
        if gone:
            raise RuntimeError(
                "compact_iceberg: a concurrent rewrite removed "
                f"{len(gone)} of this compaction's input files (e.g. "
                f"{min(gone)}) — two compactors are racing; run one"
            )
        kept = [f for f in files if f.path not in small_paths]
        # newest input's data sequence
        rewrite_seq = max(f.seq for f in files if f.path in small_paths)
        # current schema verbatim: a rewrite never evolves the schema
        schema_json = _current_schema(head.prev)
        schema_id = int(head.prev.get("current-schema-id", 0))
        schemas = head.prev.get("schemas") or [{**schema_json, "schema-id": schema_id}]
        num_cols = _numeric_bound_cols(schema_json["fields"])
        sid = head.snapshot_id
        entries = _carried(kept, sid) + [
            # ADDED — but by a replace: appends-consumers skip it. A
            # bin-pack merges files, so its bounds are the inputs' union,
            # recomputed from the packed footer, never guessed
            _entry(1, sid, rewrite_seq, path, n, size, file_seq=head.seq,
                   bounds=_bounds_cells(bnds, num_cols))
            for path, (n, size, bnds) in zip(new_files, packed)
        ]
        manifest_list = _write_manifest(
            fs, head, sid, head.seq, schema_json, schema_id,
            [(0, entries, head.seq, min([f.seq for f in kept] + [rewrite_seq]))],
            deleted=(len(small), in_rows),
        )
        name_mapping = (head.prev.get("properties") or {}).get(
            "schema.name-mapping.default", "[]")
        metadata = _snapshot_metadata(
            head, snapshot_id=sid, seq=head.seq, manifest_list=manifest_list,
            schemas=schemas, schema_id=schema_id, last_col_id=0,
            properties=_landing_properties(head, name_mapping),
            summary={"operation": "replace", "arc.bounds.tight": "true",
                     "added-data-files": str(len(new_files)),
                     "deleted-data-files": str(len(small)),
                     "added-records": str(packed_rows),
                     "deleted-records": str(in_rows)},
        )
        return metadata, {
            "status": "compacted",
            "metadata": head.path,
            "manifest_list": manifest_list,
            "input_files": len(small),
            "output_files": len(new_files),
            "rows": packed_rows,
            "kept_files": len(kept),
            "snapshot_id": sid,
        }

    return _commit(fs, root, None, "compact_iceberg", derive, head)


def _files_and_avros(fs, snapshot: dict):
    """(every file path an entry references, manifest avro names)."""
    paths, avros = set(), {snapshot["manifest-list"].rsplit("/", 1)[-1]}
    for m, e in _walk(fs, snapshot):
        avros.add(m["manifest_path"].rsplit("/", 1)[-1])
        if e is not None:
            paths.add(e["data_file"]["file_path"])
    return paths, avros


def expire_iceberg_landing(spark, root: str, *, keep_last: int = 2) -> dict:
    """Expire old snapshots of an append-only landing zone and reclaim
    the files only they reference — the space-recovery half of
    :func:`compact_iceberg` (the rewrite keeps its small input files on
    disk for older snapshots and snapshot-cursor consumers; this is what
    finally deletes them).

    Keeps the newest ``keep_last`` snapshots (the current one always
    survives), commits a new metadata version listing only the
    survivors through the one CAS loop every Iceberg commit runs (a loss
    to a racing appender re-derives against the winner's chain), then
    deletes data files and manifest Avros referenced by no survivor.
    Old ``v*.metadata.json`` files stay on disk, as real Iceberg leaves
    them. A consumer whose ``read_iceberg_appends`` cursor names an
    expired snapshot gets that function's explicit re-bootstrap error
    rather than silent row loss. Maintenance owns the table while this
    runs (the lake-GC discipline).

    Mirrors Iceberg's own ``expire_snapshots`` semantics;
    :func:`expire_iceberg_snapshots` is the sibling for lake-mirror
    exports (where file liveness is decided by the lake GC, not age).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs = get_fs(root, spark)

    def derive(head: _Head):
        if head.prev is None:
            raise FileNotFoundError(f"no Iceberg metadata under {root}")
        snaps = sorted(head.prev.get("snapshots", []),
                       key=lambda s: int(s.get("sequence-number", 0)))
        if len(snaps) <= keep_last:
            return None, ({"status": "noop", "snapshots": len(snaps),
                           "keep_last": keep_last}, [], set())
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        keep_files, keep_avro = set(), set()
        for s in kept:
            p, a = _files_and_avros(fs, s)
            keep_files |= p
            keep_avro |= a
        drop_files, drop_avro = set(), set()
        for s in dropped:
            try:
                p, a = _files_and_avros(fs, s)
            except FileNotFoundError:
                continue  # already half-expired
            drop_files |= p
            drop_avro |= a
        # Attained-bounds laundering guard: max_seq_bound proves exactness
        # from per-snapshot summary markers, but files a foreign snapshot
        # ADDED can outlive it as EXISTING entries in later engine
        # snapshots. Expiring an UNMARKED snapshot would then leave a
        # chain where every listed snapshot is marked while a foreign
        # (merely conservative) bound is still live — so if any dropped
        # snapshot lacks the marker, strip the table property for good,
        # exactly the "one foreign commit and the claim is gone"
        # semantics the property documents.
        props = dict(head.prev.get("properties") or {})
        if props.get("arc.bounds.tight") == "true" and any(
            (s.get("summary") or {}).get("arc.bounds.tight") != "true"
            for s in dropped
        ):
            props.pop("arc.bounds.tight", None)
        reap = sorted(drop_files - keep_files)
        return _expired(head, kept, properties=props), ({
            "status": "expired",
            "snapshots_kept": len(kept),
            "snapshots_dropped": len(dropped),
            "data_files_deleted": len(reap),
        }, reap, drop_avro - keep_avro)

    result, reap, avros = _commit(fs, root, None, "expire_iceberg_landing",
                                  derive)
    # the new version is committed: nothing can reach the dropped
    # snapshots through the chain head anymore — reap their exclusives.
    # The avro reap is scoped to the DROPPED snapshots' manifests — never
    # a blanket "everything unknown" sweep, which would race a concurrent
    # appender's just-committed manifests and leave the table head
    # dangling
    meta_dir = fs_join(root, "metadata")
    for p in [*reap, *(fs_join(meta_dir, n) for n in sorted(avros))]:
        try:
            fs.delete(p)
        except FileNotFoundError:
            pass
    return result

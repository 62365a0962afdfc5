"""Read an existing Apache Iceberg v2 table WITHOUT the Iceberg runtime.

The inbound half of the interop story (iceberg_export is the outbound):
a user with Iceberg tables written by Spark/Trino/Flink/pyiceberg points
this engine at the table directory and gets a plain DataFrame of the
current (or any) snapshot — no iceberg-spark-runtime jar, no catalog
service. The metadata chain is parsed per the public spec
(https://iceberg.apache.org/spec/) with this repo's own readers: JSON for
table metadata, the from-scratch Avro OCF codec for manifest lists and
manifests.

Scan semantics implemented:
- snapshot selection: current-snapshot-id by default, ``snapshot_id=``
  for time travel, ``metadata_file=`` to pin a metadata version
  (version-hint.text resolved, highest ``v*.metadata.json`` as fallback);
- data manifests: ADDED/EXISTING entries scanned, DELETED skipped; data
  sequence numbers inherited from the manifest when an entry's is null
  (v2 inheritance rule);
- EQUALITY deletes: anti-join on the delete file's equality_ids columns,
  applied to data files with a STRICTLY SMALLER data sequence number;
- POSITION deletes: anti-join on (file_path, position) via Spark's
  ``_metadata.file_path`` / ``_metadata.row_index`` columns, applied to
  data files with a smaller-or-equal data sequence number (spec rule);
- column resolution: ``schema.name-mapping.default`` when present (the
  spec's mechanism for id-less files — also how renames surface), else
  direct name match; files are read under the current Iceberg schema's
  types, never a footer-inferred schema (``_read_data``).

Limitations (documented, loud): parquet data files only (the format this
engine's whole stack speaks), no merge-on-read ``row-lineage``/v3
features, and column resolution is by name/name-mapping — a table whose
parquet relies purely on field-id resolution WITH divergent names needs
the name mapping property (standard engines write matching names, and
every rename in Iceberg metadata keeps the mapping consistent).

Scale: O(#manifests + #files) driver-side metadata; the data scan is one
``spark.read.parquet`` over exactly the snapshot's live files — pushdown,
pruning and codegen all apply as usual. Delete application is a
broadcast-or-shuffle anti-join sized by the delete files, not the table.
"""

from __future__ import annotations

import json
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arc_spark.formats.avro import read_ocf_bytes
from arc_spark.fs import get_fs, join as fs_join

_ICE_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint", "float": "float",
    "double": "double", "string": "string", "binary": "binary",
    "date": "date", "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "uuid": "string",
}


def _spark_type(t) -> str:
    """Iceberg JSON type -> Spark DDL type string (cast target)."""
    if isinstance(t, str):
        if t in _ICE_TO_SPARK:
            return _ICE_TO_SPARK[t]
        m = re.match(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
        if m:
            return f"decimal({m.group(1)},{m.group(2)})"
        if t.startswith("fixed"):
            return "binary"
        raise ValueError(f"unsupported Iceberg type {t!r}")
    kind = t.get("type")
    if kind == "list":
        return f"array<{_spark_type(t['element'])}>"
    if kind == "map":
        return f"map<{_spark_type(t['key'])},{_spark_type(t['value'])}>"
    if kind == "struct":
        inner = ",".join(
            f"`{f['name']}`:{_spark_type(f['type'])}" for f in t["fields"]
        )
        return f"struct<{inner}>"
    raise ValueError(f"unsupported Iceberg type {t!r}")


def _norm_path(p: str) -> str:
    """Normalize file URIs for join equality: file:///x, file:/x and /x
    are the same file; object-store URIs pass through untouched."""
    return re.sub(r"^file:/+", "/", p)


_NORM_COL = lambda c: F.regexp_replace(c, r"^file:/+", "/")  # noqa: E731


def resolve_metadata_file(fs, table_path: str, *,
                          prefer_hint: bool = True) -> str:
    """The HIGHEST v*.metadata.json — for readers and writers alike.

    version-hint.text is treated the way HadoopTableOperations treats
    it: a best-effort accelerator, never authoritative. Resolving the
    hint directly would (a) fork history when a writer appends past a
    stale hint (crash between metadata commit and hint update), and
    (b) serve stale snapshots when a slow CAS loser's hint write races
    a newer winner's — and a replay tailing the table through a stale
    snapshot would advance its seq cursor past rows it never saw. One
    listdir per resolution is the price of neither. The hint is only
    consulted when it is at least as new as the newest listed file
    (listings on some object stores can lag a just-committed write).
    ``prefer_hint`` is kept for call-site documentation; both values
    resolve identically now."""
    meta_dir = fs_join(table_path, "metadata")
    versions = []
    for name in fs.listdir(meta_dir):
        m = re.match(r"v(\d+)\.metadata\.json$", name)
        if m:
            versions.append((int(m.group(1)), name))
    best = max(versions, default=(0, None))
    hint = fs_join(meta_dir, "version-hint.text")
    if fs.exists(hint):
        try:
            v = int(fs.read_bytes(hint).decode().strip())
        except ValueError:
            v = 0
        cand = fs_join(meta_dir, f"v{v}.metadata.json")
        if v >= best[0] and fs.exists(cand):
            return cand
    if best[1] is None:
        raise FileNotFoundError(
            f"no v*.metadata.json under {meta_dir} — not an Iceberg table "
            "(HadoopCatalog layout expected)"
        )
    return fs_join(meta_dir, best[1])


def _walk(fs, snap: dict, keep=None):
    """Yield ``(manifest record, entry)`` for every entry of ``snap``'s
    manifests — the one manifest walker readers, writers and both
    expiries share. ``keep(record)`` skips a manifest without parsing
    it; a manifest with no entries yields ``(record, None)`` once, so a
    caller collecting manifest paths still sees it."""
    _, manifests = read_ocf_bytes(fs.read_bytes(snap["manifest-list"]))
    for m in manifests:
        if keep is not None and not keep(m):
            continue
        _, entries = read_ocf_bytes(fs.read_bytes(m["manifest_path"]))
        if not entries:
            yield m, None
        for e in entries:
            yield m, e


class DataFile(NamedTuple):
    """One live data file of a snapshot, as its manifest entry lists it.
    ``bounds`` is the raw (lower_bounds, upper_bounds) cell lists
    ({key: field-id, value: bytes} or None): appenders pass them
    through, readers decode them for scan pruning."""

    path: str
    seq: int
    rows: int | None
    size: int | None
    added_by: int | None
    bounds: tuple


def _load_snapshot_files(fs, meta: dict, snapshot_id=None):
    """(data_files, deletes) for the chosen snapshot (current by default).

    data_files: [DataFile]; deletes: [(path, seq, content,
    equality_ids)] with content 1=position, 2=equality. DELETED entries
    are skipped, and a null entry sequence number inherits the
    manifest's (v2 inheritance rule)."""
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots", [])
         if s["snapshot-id"] == snapshot_id),
        None,
    )
    if snap is None:
        raise ValueError(
            f"snapshot {snapshot_id} not found; available: "
            f"{[s['snapshot-id'] for s in meta.get('snapshots', [])]}"
        )
    data_files, deletes = [], []
    for m, e in _walk(fs, snap):
        if e is None or e.get("status") == 2:  # DELETED: file left the table
            continue
        seq = e.get("sequence_number")
        if seq is None:
            seq = m.get("sequence_number", 0)
        d = e["data_file"]
        content = d.get("content", 0)
        if content == 0:
            data_files.append(DataFile(
                d["file_path"], seq, d.get("record_count"),
                d.get("file_size_in_bytes"), e.get("snapshot_id"),
                (d.get("lower_bounds"), d.get("upper_bounds")),
            ))
        else:
            deletes.append((d["file_path"], seq, content,
                            d.get("equality_ids") if content == 2 else None))
    return data_files, deletes


def _decode_num_bound(cells, field_id: int):
    """Decode one bounds cell (Iceberg single-value serialization:
    4-byte LE int / 8-byte LE long) or None when absent/undecodable."""
    import struct

    for c in cells or []:
        if c.get("key") == field_id:
            v = c.get("value")
            if isinstance(v, (bytes, bytearray)):
                if len(v) == 8:
                    return struct.unpack("<q", v)[0]
                if len(v) == 4:
                    return struct.unpack("<i", v)[0]
            return None
    return None


def max_seq_bound(table_path: str, *, seq_field: str = "seq",
                  spark=None) -> tuple[int | None, bool]:
    """(value, exact) for ``seq_field`` over the current snapshot, from
    manifest metadata alone — no Spark job, no file opens. The CDC
    tail's polling primitive: a caught-up consumer's "anything new?"
    probe over a 10^4-snapshot landing zone becomes one metadata read
    instead of a cluster job per poll.

    - ``(None, True)``: provably empty — table directory exists but no
      metadata/current snapshot yet (a producer creates the table before
      its first commit), the column absent, or zero live rows. A table
      path that does not exist at all RAISES FileNotFoundError — a
      mistyped eventsURI must not read as an empty stream.
    - ``exact=True`` with a value: the value IS max(seq_field). Claimed
      only when every non-empty data file carries a decodable upper
      bound, the snapshot has no delete files (a delete could remove
      the max row), AND the table declares ATTAINED bounds
      (``arc.bounds.tight`` property, written by this engine's landing
      writers). The Iceberg spec only requires upper_bounds >= the
      column max, so a foreign writer's bound is never trusted as
      attained — advancing a replay cursor to an over-estimate would
      permanently skip events that land under it later.
    - ``exact=False`` with a value: a sound UPPER LIMIT
      (true max <= value, bounds are conservative by spec; deletes
      only remove rows, so they cannot raise the max). A caller may
      conclude "nothing new" when value <= its cursor, but must scan
      for the true max otherwise.
    - ``(None, False)``: no usable metadata — scan."""
    fs = get_fs(table_path, spark)
    try:
        meta_path = resolve_metadata_file(fs, table_path)
    except FileNotFoundError:
        # distinguish a mistyped/misconfigured path (raise — the old
        # scan-based probe raised here too, and a silent (None, True)
        # would make a wrong eventsURI indistinguishable from an empty
        # stream) from the legitimate pre-first-commit state where the
        # table directory exists but no metadata version has landed yet
        if not fs.exists(table_path):
            raise
        return None, True
    meta = json.loads(fs.read_bytes(meta_path))
    cur = meta.get("current-snapshot-id")
    if cur is None or cur == -1 or not any(
        s.get("snapshot-id") == cur for s in meta.get("snapshots", [])
    ):
        return None, True  # created but never committed to
    try:
        schema = _current_schema(meta)
    except ValueError:
        return None, False
    fid = next(
        (f["id"] for f in schema["fields"] if f["name"] == seq_field), None
    )
    if fid is None:
        return None, True  # column absent -> vacuously empty
    data_files, deletes = _load_snapshot_files(fs, meta)
    best, any_rows = None, False
    for f in data_files:
        if f.rows == 0:
            continue
        any_rows = True
        hi = _decode_num_bound(f.bounds[1], fid)
        if hi is None:
            return None, False  # a file without bounds could hold the max
        best = hi if best is None else max(best, hi)
    if not any_rows:
        return None, True
    # Attained-bounds proof is PER SNAPSHOT, not the table property alone:
    # standard Iceberg writers preserve table properties verbatim across
    # commits, so a foreign append to an engine-created landing table
    # would keep the property while adding spec-legal conservative
    # (non-attained) bounds. Require the engine's summary marker on EVERY
    # snapshot in the chain; the property remains as a cheap precondition
    # (and demotes pre-marker engine tables to conservative — safe).
    tight = (
        (meta.get("properties") or {}).get("arc.bounds.tight") == "true"
        and all(
            (s.get("summary") or {}).get("arc.bounds.tight") == "true"
            for s in meta.get("snapshots", [])
        )
    )
    return best, tight and not deletes


def _current_schema(meta: dict) -> dict:
    """The metadata's current schema (v2 ``schemas`` history, or the v1
    single ``schema`` field)."""
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas") or [meta.get("schema")]:
        if s and s.get("schema-id", 0) == sid:
            return s
    raise ValueError(f"current schema id {sid} not found in the table metadata")


def _ddl(fields) -> str:
    return ", ".join(f"`{f['name']}` {_spark_type(f['type'])}" for f in fields)


def _read_data(spark, meta: dict, paths, *extra) -> DataFrame:
    """Data files read under the metadata's current schema — the one data
    read every Iceberg reader and the compactor share. The scan is handed
    the schema plus each ``schema.name-mapping.default`` alias typed as
    its field, so Spark infers and merges no footers (a footer merge
    rejects an int file beside a long one, which a legal int->long
    promotion leaves behind; the parquet readers widen int->long and
    float->double on read). Each field coalesces its names (the current
    one first); a column missing from a file reads NULL. ``extra``
    columns (e.g. ``_metadata`` fields) ride along in the projection."""
    fields = _current_schema(meta)["fields"]
    props = meta.get("properties") or {}
    nm = {e["field-id"]: e["names"]
          for e in json.loads(props.get("schema.name-mapping.default", "[]"))}
    taken = {f["name"].lower() for f in fields}
    read, sel = list(fields), []
    for f in fields:
        names = [f["name"]]
        for a in nm.get(f["id"], ()):
            if a.lower() not in taken:
                taken.add(a.lower())
                names.append(a)
                read.append({"name": a, "type": f["type"]})
        cols = [F.col(f"`{n}`") for n in names]
        sel.append((F.coalesce(*cols) if len(cols) > 1 else cols[0]).alias(f["name"]))
    df = spark.read.schema(_ddl(read)).parquet(*paths)
    return df.select(*sel, *extra)


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    *,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
    min_seq: int | None = None,
    max_seq: int | None = None,
    seq_field: str = "seq",
) -> DataFrame:
    """Current (or ``snapshot_id``) snapshot of the Iceberg table at
    ``table_path`` as a DataFrame — module docstring for semantics.

    ``min_seq``/``max_seq``: manifest-level scan pruning for consumers
    that will keep only rows with ``min_seq < seq_field <= max_seq``
    (the CDC tail's epoch read): data files whose manifest bounds for
    ``seq_field`` fall entirely outside that window are skipped without
    opening them — min_seq cuts the caught-up history behind the resume
    cursor, max_seq cuts the backlog ahead of the current epoch window.
    Exact under that contract even on tables WITH deletes — a pruned
    file's rows all fail the caller's filter, and delete files are
    never pruned, so surviving rows see the same delete set. Files
    without a decodable bound are read (conservative); a caught-up tail
    over a bounds-bearing landing zone schedules zero file scans."""
    fs = get_fs(table_path, spark)
    meta_path = metadata_file or resolve_metadata_file(fs, table_path)
    meta = json.loads(fs.read_bytes(meta_path))
    if int(meta.get("format-version", 1)) > 2:
        raise ValueError(
            f"format-version {meta['format-version']} not supported (v1/v2)"
        )
    fields = _current_schema(meta)["fields"]
    id_to_name = {f["id"]: f["name"] for f in fields}

    data_files, deletes = _load_snapshot_files(fs, meta, snapshot_id)
    if min_seq is not None or max_seq is not None:
        fid = next((f["id"] for f in fields if f["name"] == seq_field), None)
        kept = []
        for f in data_files:
            if f.rows == 0:
                continue  # foreign tables may manifest empty files
            if min_seq is not None:
                hi = _decode_num_bound(f.bounds[1], fid) if fid is not None else None
                if hi is not None and hi <= min_seq:
                    continue  # entirely behind the resume cursor
            if max_seq is not None:
                lo = _decode_num_bound(f.bounds[0], fid) if fid is not None else None
                if lo is not None and lo > max_seq:
                    continue  # entirely ahead of the epoch window
            kept.append(f)
        data_files = kept
    if not data_files:
        from arc_spark.schema import empty_df

        return empty_df(spark, _ddl(fields))

    if not deletes:
        # Append-only fast path (landing zones, plain exports): the
        # per-row machinery below exists ONLY to decide delete
        # applicability (file -> data-sequence lookup via a normalized
        # _metadata.file_path broadcast join). With no delete files it
        # is pure scan-stage overhead — measured 25-30% of replay
        # throughput on a delete-free landing tail — so read and
        # project the schema directly.
        return _read_data(spark, meta, [f.path for f in data_files])

    # data sequence number per file (for delete applicability), attached
    # via a tiny broadcast lookup on the normalized path
    seq_df = spark.createDataFrame(
        [(_norm_path(f.path), int(f.seq)) for f in data_files],
        "_ice_file_n string, _ice_seq bigint",
    )
    out = _read_data(
        spark, meta, [f.path for f in data_files],
        _NORM_COL(F.col("_metadata.file_path")).alias("_ice_file_n"),
        F.col("_metadata.row_index").alias("_ice_pos"),
    ).join(F.broadcast(seq_df), "_ice_file_n")

    # Apply deletes in O(1) joins per delete KIND, not per delete FILE: a
    # filter/anti-join/union per file would double the plan at every
    # delete (2^N scan branches for an N-file delete chain — fatal for
    # MOR-exported tables whose chain length is the epoch count since
    # compaction). Instead each kind folds to one aggregated lookup:
    # a row dies iff ANY applicable delete entry outranks its data
    # sequence, i.e. iff MAX(delete seq) over its key outranks it.
    pos_files = [(p, s) for p, s, c, _ in deletes if c == 1]
    if pos_files:
        dead = None
        for path, dseq in pos_files:
            d = (
                spark.read.parquet(path)
                .select(
                    _NORM_COL(F.col("file_path")).alias("_ice_file_n"),
                    F.col("pos").cast("bigint").alias("_ice_pos"),
                    F.lit(int(dseq)).alias("_ice_dseq"),
                )
            )
            dead = d if dead is None else dead.unionByName(d)
        dead = dead.groupBy("_ice_file_n", "_ice_pos").agg(
            F.max("_ice_dseq").alias("_ice_dseq")
        )
        # position deletes apply to data_seq <= delete_seq (spec)
        out = (
            out.join(dead, ["_ice_file_n", "_ice_pos"], "left")
            .filter(
                F.col("_ice_dseq").isNull()
                | (F.col("_ice_dseq") < F.col("_ice_seq"))
            )
            .drop("_ice_dseq")
        )

    eq_groups: dict[tuple, list] = {}
    for path, dseq, content, eq_ids in deletes:
        if content != 2:
            continue
        if not eq_ids:
            raise ValueError(
                f"equality-delete file {path} carries no equality_ids"
            )
        eq_groups.setdefault(tuple(eq_ids), []).append((path, dseq))
    for ids_t, files in eq_groups.items():
        key_cols = [id_to_name[i] for i in ids_t]
        dead = None
        for path, dseq in files:
            d = spark.read.parquet(path).select(*key_cols).withColumn(
                "_ice_dseq", F.lit(int(dseq))
            )
            dead = d if dead is None else dead.unionByName(d)
        dead = dead.groupBy(*key_cols).agg(
            F.max("_ice_dseq").alias("_ice_dseq")
        )
        # equality deletes apply to STRICTLY SMALLER data sequences
        out = (
            out.join(dead, key_cols, "left")
            .filter(
                F.col("_ice_dseq").isNull()
                | (F.col("_ice_dseq") <= F.col("_ice_seq"))
            )
            .drop("_ice_dseq")
        )
    return out.drop("_ice_file_n", "_ice_seq", "_ice_pos")


def _added_data_files(fs, snap: dict) -> list[str]:
    """The data files a snapshot ADDED — the per-snapshot diff unit of
    Iceberg's incremental append scan. Manifests whose
    ``added_snapshot_id`` names a different snapshot are skipped without
    parsing (a reused manifest carries no additions from this one);
    inside a manifest, only status=1 (ADDED) data entries whose entry
    snapshot_id matches count — an EXISTING carry-forward of the same
    file must not re-read."""
    sid = snap["snapshot-id"]

    def keep(m):  # delete manifests add nothing to read incrementally
        return (m.get("content", 0) == 0
                and m.get("added_snapshot_id") in (None, sid)
                and m.get("added_files_count") != 0)

    return [
        e["data_file"]["file_path"] for _m, e in _walk(fs, snap, keep)
        if e is not None and e.get("status") == 1
        and e.get("snapshot_id") in (None, sid)
        and e["data_file"].get("content", 0) == 0
    ]


def read_iceberg_appends(
    spark: SparkSession,
    table_path: str,
    since_snapshot_id: int | None = None,
    *,
    metadata_file: str | None = None,
):
    """Incremental consumption of an APPEND-ONLY Iceberg table: the rows
    in data files added strictly after ``since_snapshot_id`` (None =
    everything), plus the current snapshot id to store as the consumer's
    cursor. The complement of ``write_iceberg`` for consumers that have
    no monotone column to window on (with one, prefer a plain seq
    cursor).

    Snapshot semantics follow Iceberg's own incremental append scan: the
    diff is the union of each traversed snapshot's ADDED files (read
    from THAT snapshot's manifests — so rows landed before a compaction
    are consumed from the pre-rewrite files, which snapshot retention
    keeps on disk until expiry). ``replace`` snapshots (compaction
    rewrites, e.g. :func:`~arc_spark.lake.iceberg_export.compact_iceberg`)
    change no logical content and are skipped. Any OTHER operation —
    overwrite, delete, or a snapshot missing its summary.operation —
    rewrites history, so "files added since" stops meaning "rows added
    since": that case raises instead of silently double- or
    under-reading. ``since_snapshot_id=None`` is the consumer's
    BOOTSTRAP: it reads the current snapshot's full live file set (not
    a snapshot diff — after a compaction + expiry the surviving append
    snapshots no longer cover rows that live only in rewritten files),
    so "everything" really is everything. Returns ``(DataFrame,
    current_snapshot_id)``; an empty range returns an empty frame of
    the table's schema.
    """
    fs = get_fs(table_path, spark)
    meta_path = metadata_file or resolve_metadata_file(fs, table_path)
    meta = json.loads(fs.read_bytes(meta_path))
    snaps = meta.get("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None or cur_id not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    if since_snapshot_id is not None and since_snapshot_id not in by_id:
        raise ValueError(
            f"snapshot {since_snapshot_id} not in the table's history "
            f"(expired?) — available: {sorted(by_id)}; re-bootstrap the "
            "consumer from a full read"
        )
    since_seq = (
        int(by_id[since_snapshot_id].get("sequence-number", 0))
        if since_snapshot_id is not None else -1
    )
    cur_seq = int(by_id[cur_id].get("sequence-number", 0))
    # the append-only contract is checked on the CURRENT state, not just
    # the traversed range: live delete files mean some consumed row may
    # since have been logically deleted — a file-diff read cannot see it
    live_files, deletes = _load_snapshot_files(fs, meta, cur_id)
    if deletes:
        raise ValueError(
            "table carries delete files — not append-only; use "
            "read_iceberg for the resolved current state"
        )
    if since_snapshot_id is None:
        # bootstrap: the full current live set, never a snapshot diff —
        # surviving append snapshots may not cover rows whose original
        # files a compaction rewrote and an expiry reclaimed
        new_paths = [f.path for f in live_files]
    else:
        new_paths = []
        for s in sorted(snaps, key=lambda s: int(s.get("sequence-number", 0))):
            seq = int(s.get("sequence-number", 0))
            if not (since_seq < seq <= cur_seq):
                continue
            # fail CLOSED on a missing operation: a snapshot written by
            # an engine that omits summary.operation could be a rewrite,
            # and treating it as append would double-read rewritten rows
            op = (s.get("summary") or {}).get("operation")
            if op == "replace":
                continue  # compaction: files moved, no logical content change
            if op != "append":
                what = repr(op) if op is not None else "missing its operation"
                raise ValueError(
                    f"snapshot {s['snapshot-id']} is {what}, not append — "
                    "incremental file-diff reads are only sound on "
                    "append-only tables"
                )
            new_paths.extend(_added_data_files(fs, s))
    if not new_paths:
        from arc_spark.schema import empty_df

        return empty_df(spark, _ddl(_current_schema(meta)["fields"])), cur_id
    return _read_data(spark, meta, new_paths), cur_id


def iceberg_table_schema(spark: SparkSession, table_path: str):
    """The table's CURRENT schema as a Spark StructType, resolved purely
    from the metadata JSON — zero data-file IO. The cheap alternative to
    building a full read_iceberg scan (manifests walked, files listed)
    just to call ``.schema``."""
    fs = get_fs(table_path, spark)
    meta = json.loads(fs.read_bytes(resolve_metadata_file(fs, table_path)))
    return spark.createDataFrame([], _ddl(_current_schema(meta)["fields"])).schema

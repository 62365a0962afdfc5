"""Correctness oracles, computed by DuckDB independently of Spark.

Replay: the expected final table is, per ``(repo, path)``, the max-seq
event among the row events (schema-change events are never applied as
rows), kept only when it is an insert/update, with its content
normalised exactly as ``arc_spark.cdc.reference._normalize`` does; the
digest is ``sha256`` of that content. The table side is the same digest
computed from the lake table's ``content`` column.

Queries: each headline query's rows are hashed with the canonical hash
of ``scripts/check_correctness.py`` and compared with the hash of its
``oracle_sql()`` twin.
"""

from __future__ import annotations

# reference._normalize, step for step: CRLF -> LF; strip [ \t]+ before
# each LF; strip trailing whitespace at the end of the text
_NORMALIZE = (
    "regexp_replace(regexp_replace(replace({c}, chr(13) || chr(10), chr(10)),"
    " '[ \\t]+\\n', chr(10), 'g'), '[ \\t\\r\\n\\f\\v]+$', '')"
)


def expected_state_sql(events_rel: str, end_seq: int) -> str:
    """SQL for ``(repo, path, sha)`` rows of the expected final state of
    replaying every event of ``events_rel`` with ``seq <= end_seq``."""
    return f"""
        SELECT repo, path, sha256({_NORMALIZE.format(c="content")}) AS sha
        FROM (
            SELECT repo, path, op, content
            FROM {events_rel}
            WHERE seq <= {int(end_seq)} AND op <> 'schema-change'
            QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) = 1
        )
        WHERE op IN ('insert', 'update')
    """


def compare_digests(con, actual_rel: str, expected_rel: str) -> dict:
    """Compare two ``(repo, path, sha)`` relations. Returns the counts of
    keys missing from / extra in the actual side, keys whose digests
    differ, and keys the actual side holds more than once."""
    dup = con.execute(
        f"SELECT count(*) FROM (SELECT repo, path FROM {actual_rel}"
        " GROUP BY ALL HAVING count(*) > 1)"
    ).fetchone()[0]
    missing, extra, differ = con.execute(
        f"""
        WITH a AS (SELECT DISTINCT repo, path, sha FROM {actual_rel}),
             e AS (SELECT repo, path, sha FROM {expected_rel})
        SELECT count(*) FILTER (WHERE a.repo IS NULL),
               count(*) FILTER (WHERE e.repo IS NULL),
               count(*) FILTER (WHERE a.repo IS NOT NULL AND e.repo IS NOT NULL
                                AND a.sha IS DISTINCT FROM e.sha)
        FROM a FULL OUTER JOIN e ON a.repo = e.repo AND a.path = e.path
        """
    ).fetchone()
    rows = con.execute(f"SELECT count(*) FROM {actual_rel}").fetchone()[0]
    return {
        "rows": int(rows),
        "missing": int(missing),
        "extra": int(extra),
        "differ": int(differ),
        "dup_keys": int(dup),
    }


def digest_ok(res: dict) -> bool:
    return res["missing"] == res["extra"] == res["differ"] == res["dup_keys"] == 0


def table_digest(spark, table, out_path: str) -> str:
    """Write the lake table's ``(repo, path, sha)`` digest (sha256 of the
    stored content, plus a flag for rows whose engine fingerprint
    disagrees with it) as parquet; returns a DuckDB relation over it."""
    from pyspark.sql import functions as F

    sha = F.sha2(F.col("content"), 256)
    (
        table.read(spark)
        .select(
            "repo",
            "path",
            # a stored fingerprint that disagrees with the content is a
            # wrong row too: poison its digest so the compare flags it
            F.when(F.col("content_sha256") == sha, sha)
            .otherwise(F.lit("fingerprint-mismatch"))
            .alias("sha"),
        )
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return f"read_parquet('{out_path}/*.parquet')"


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """Canonical hash of each query's DuckDB oracle result."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_correctness import _hash_rows

    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    sqls = entry.oracle_sql()
    out = {}
    for name in names:
        cur = con.execute(sqls[name])
        out[name] = _hash_rows([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def result_hash(columns, rows) -> str:
    from scripts.check_correctness import _hash_rows

    return _hash_rows(list(columns), [tuple(r) for r in rows])

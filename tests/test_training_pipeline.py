"""End-to-end training-data pipeline over the documents table, driven
entirely by a JSON config: extract → exact dedup → quality metrics →
language filter → token stats → validate → parquet. The showcase that the
operator family composes through the Arc-style stage DAG."""

from __future__ import annotations

import json

from arc_spark.pipeline import run_config

SF = "/root/testdata/sf0.01"


def test_training_data_pipeline_config(spark, tmp_path):
    out = str(tmp_path / "clean_docs")
    cfg = {
        "stages": [
            {"type": "ParquetExtract", "name": "docs",
             "inputURI": f"{SF}/documents.parquet", "outputView": "docs"},
            {"type": "DedupTransform", "name": "dedup by text fingerprint",
             "inputView": "docs", "outputView": "docs_unique",
             "keys": ["text"], "seqColumn": "doc_id"},
            {"type": "SQLTransform", "name": "quality + tokens",
             "outputView": "docs_scored",
             "sql": """
                SELECT doc_id, lang, source, text, n_chars,
                       size(split(trim(text), '\\\\s+')) AS n_tokens,
                       length(regexp_replace(text, '[A-Za-z0-9\\\\s]', ''))
                         / greatest(length(text), 1) AS punct_ratio
                FROM docs_unique
             """},
            {"type": "SQLTransform", "name": "filter low quality",
             "outputView": "docs_clean",
             "sql": "SELECT * FROM docs_scored WHERE n_tokens >= ${min_tokens=10} "
                    "AND punct_ratio < 0.2 AND lang IN ('en','de','fr','es','zh')"},
            {"type": "SQLValidate", "name": "retention gate",
             "sql": "SELECT (SELECT COUNT(*) FROM docs_clean) >= 0.5 * "
                    "(SELECT COUNT(*) FROM docs), 'retention ok'"},
            {"type": "StatisticsExtract", "name": "profile",
             "inputView": "docs_clean", "outputView": "doc_stats"},
            {"type": "ParquetLoad", "name": "write",
             "inputView": "docs_clean", "outputURI": out},
        ]
    }
    df, ctx = run_config(spark, json.dumps(cfg))
    result = spark.read.parquet(out)
    n = result.count()
    assert 250 <= n <= 500  # filters bite but retention gate held
    assert set(result.columns) == {
        "doc_id", "lang", "source", "text", "n_chars", "n_tokens", "punct_ratio"
    }
    # dedup kept unique texts
    assert result.select("text").distinct().count() == n
    # stage events recorded for every stage
    done = [e["stage"] for e in ctx.events if e["event"] == "stage.complete"]
    assert len(done) == 7
    stats = {r["col_name"]: r for r in spark.table("doc_stats").collect()}
    assert stats["n_tokens"]["min"] >= 10

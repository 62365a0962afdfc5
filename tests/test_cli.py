"""`python -m arc_spark` entry point — the spark-submit main
(ARC.scala:30-142): --etl.config.uri job execution, lint mode, job
parameters via --key=value, error exit codes."""

from __future__ import annotations

import json
import subprocess
import sys


def _run(*argv: str, env_extra: dict | None = None) -> subprocess.CompletedProcess:
    import os

    env = {**os.environ, **(env_extra or {})}
    return subprocess.run(
        [sys.executable, "-m", "arc_spark", *argv],
        capture_output=True, text=True, timeout=240, cwd="/root/repo", env=env,
    )


# the 1024-bucket example configs read an optional ``numBuckets`` override
# (HOCON ``${?num.buckets}``, resolved from the environment), so a
# 2000-event test stream need not pay for the shipped 10^10-row bucket count
_SMALL = {"num.buckets": "8"}


def test_cli_runs_job_with_params(tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n2,b\n3,c\n")
    out = tmp_path / "out"
    conf = tmp_path / "job.conf"
    conf.write_text(
        """
        stages = [
          { type = DelimitedExtract, name = e, inputURI = ${input.path},
            outputView = raw, header = true, environments = ["production"] }
          { type = SQLTransform, name = t, outputView = filtered,
            sql = "SELECT id, v FROM raw WHERE id >= ${min.id}",
            environments = ["production"] }
          { type = ParquetLoad, name = w, inputView = filtered,
            outputURI = ${output.path}, environments = ["production"] }
        ]
        """
    )
    r = _run(
        f"--etl.config.uri={conf}",
        "--etl.config.environment=production",
        "--etl.config.master=local[4]",
        f"--input.path={src}",
        f"--output.path={out}",
        "--min.id=2",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == 2
    events = [json.loads(line) for line in r.stderr.splitlines() if line.startswith("{")]
    assert any(e.get("event") == "exit" and e.get("status") == "success" for e in events)


def test_cli_lint_only_catches_bad_config(tmp_path):
    conf = tmp_path / "bad.conf"
    conf.write_text('stages = [ { type = NoSuchStage, name = x } ]')
    r = _run(
        f"--etl.config.uri={conf}",
        "--etl.config.environment=production",
        "--etl.config.lintOnly=true",
        "--etl.config.master=local[2]",
    )
    assert r.returncode == 1
    assert "unknown stage type" in r.stderr


def test_cli_requires_uri_and_environment():
    r = _run("--etl.config.environment=production")
    assert r.returncode == 1 and "etl.config.uri" in r.stderr


def test_pyfiles_zip_is_importable_and_deterministic(tmp_path):
    """The --py-files archive imports as the arc_spark package from a
    clean sys.path (what executors do) and rebuilds byte-identical."""
    import hashlib
    import subprocess
    import sys as _sys
    import zipfile

    from arc_spark.submit import build_pyfiles_zip

    z1 = build_pyfiles_zip(str(tmp_path / "a.zip"))
    z2 = build_pyfiles_zip(str(tmp_path / "b.zip"))
    h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert h(z1) == h(z2)
    names = zipfile.ZipFile(z1).namelist()
    assert "arc_spark/__init__.py" in names and "arc_spark/cdc/apply.py" in names
    assert not any("test" in n.split("/")[0] for n in names)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import arc_spark.fs, arc_spark.schema; print('import-ok')"
    ) % z1
    out = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True,
        cwd=str(tmp_path), env={"PATH": "/usr/bin:/bin"},
    )
    assert "import-ok" in out.stdout, out.stderr


def test_spark_submit_pyfiles_replay(tmp_path):
    """The north-rule deployment shape, literally: spark-submit
    --py-files arc_spark.zip job.py — the driver AND executors import
    arc_spark only from the zip (clean cwd, no PYTHONPATH), the job
    replays a generated stream through the full engine and re-asserts
    the lineage identity."""
    import os

    from arc_spark.submit import build_pyfiles_zip

    z = build_pyfiles_zip(str(tmp_path / "arc_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(
        """
import json, sys
from arc_spark.session import get_spark
from arc_spark.cdc import write_change_stream, ReplayRunner
from arc_spark.cdc.bootstrap import create_table_for_stream

spark = get_spark("submit-job", master="local[4]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
stream = write_change_stream(spark, sys.argv[1] + "/ev", 2000, seed=9, num_partitions=4)
table, _ = create_table_for_stream(spark, stream, sys.argv[1] + "/lake")
metrics = ReplayRunner(spark, stream, table, batch_size=700).run()
ok = all(
    m["events_read"] == m["schema_changes"] + m["keys_applied"] + m["events_deduped"]
    for m in metrics
)
print(json.dumps({"epochs": len(metrics), "rows": table.read(spark).count(),
                  "lineage_ok": ok, "end_seq": table.snapshot().end_seq}))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", "local[4]",
            "--py-files", z,
            str(job), str(tmp_path / "work"),
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out["epochs"] == 3 and out["lineage_ok"] and out["end_seq"] == 1999
    assert out["rows"] > 0


def test_example_replay_config_runs(tmp_path):
    """examples/cdc_replay.conf executes end-to-end via the CLI against a
    generated stream (environment=test), including the SQLValidate tail."""
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.session import get_spark

    spark = get_spark("exgen", master="local[4]", shuffle_partitions=8)
    stream = write_change_stream(
        spark, str(tmp_path / "ev"), 2000, seed=21, num_partitions=4
    )
    r = _run(
        "--etl.config.uri=examples/cdc_replay.conf",
        "--etl.config.environment=test",
        "--etl.config.master=local[4]",
        f"--events.uri={stream}",
        f"--table.uri={tmp_path / 'lake'}",
        f"--quarantine.uri={tmp_path / 'quarantine'}",
        env_extra=_SMALL,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    events = [json.loads(line) for line in r.stderr.splitlines() if line.startswith("{")]
    assert any(e.get("event") == "exit" and e.get("status") == "success" for e in events)
    epochs = [e for e in events if e.get("event") == "epoch.complete"]
    assert epochs and all("bucket_lineage" in e for e in epochs)


def test_example_consumer_config_runs(tmp_path):
    """examples/lake_consumer.conf: two incremental windows via the CLI —
    the first drains full history and commits the cursor, the second (after
    a delta merge) emits only the delta and appends it to the derived
    dataset."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.cdc.runner import ReplayRunner
    from arc_spark.session import get_spark

    spark = get_spark("exgen2", master="local[4]", shuffle_partitions=8)
    stream = write_change_stream(
        spark, str(tmp_path / "ev"), 1200, seed=31, num_partitions=4
    )
    table, _ = create_table_for_stream(spark, stream, str(tmp_path / "lake"))
    ReplayRunner(spark, stream, table, batch_size=800).run(max_epochs=1)

    args = (
        "--etl.config.uri=examples/lake_consumer.conf",
        "--etl.config.environment=test",
        "--etl.config.master=local[4]",
        f"--table.uri={tmp_path / 'lake'}",
        f"--cursor.uri={tmp_path / 'cursor.json'}",
        f"--out.uri={tmp_path / 'derived'}",
    )
    r = _run(*args)
    assert r.returncode == 0, r.stderr[-3000:]
    cur = json.loads((tmp_path / "cursor.json").read_text())
    assert cur["seq"] == 799 and "version" in cur
    n1 = spark.read.parquet(str(tmp_path / "derived")).count()
    assert n1 > 0

    ReplayRunner(spark, stream, table, batch_size=800).run()  # the rest
    r2 = _run(*args)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert json.loads((tmp_path / "cursor.json").read_text())["seq"] == 1199
    derived = spark.read.parquet(str(tmp_path / "derived"))
    n2 = derived.count()
    assert n2 > n1
    # the second window carried only post-cursor seqs
    assert derived.where("seq > 799").count() == n2 - n1


def test_example_bootstrap_config_runs(tmp_path):
    """examples/cdc_bootstrap.conf: snapshot initial load + tail handoff
    via the CLI — epoch 0 is the bootstrap, replay epochs start after
    snapshotSeq, and a rerun of the same job is a fenced no-op."""
    from pyspark.sql import functions as F

    from arc_spark.cdc.apply import last_writer_wins
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.session import get_spark

    spark = get_spark("exgen3", master="local[4]", shuffle_partitions=8)
    stream = write_change_stream(
        spark, str(tmp_path / "ev"), 2000, seed=41, num_partitions=4
    )
    cut = 999
    ev = spark.read.parquet(stream)
    snap = (
        last_writer_wins(ev.filter(F.col("seq") <= cut), ["repo", "path"], "seq")
        .filter(F.col("op").isin("insert", "update"))
        .drop("op")
    )
    snap.write.mode("overwrite").parquet(str(tmp_path / "snapshot"))

    args = (
        "--etl.config.uri=examples/cdc_bootstrap.conf",
        "--etl.config.environment=test",
        "--etl.config.master=local[4]",
        f"--snapshot.uri={tmp_path / 'snapshot'}",
        f"--snapshot.seq={cut}",
        f"--events.uri={stream}",
        f"--table.uri={tmp_path / 'lake'}",
    )
    r = _run(*args, env_extra=_SMALL)
    assert r.returncode == 0, r.stderr[-3000:]
    events = [json.loads(l) for l in r.stderr.splitlines() if l.startswith("{")]
    epochs = [e for e in events if e.get("event") == "epoch.complete"]
    assert epochs and min(e["start_seq"] for e in epochs) == cut + 1

    # rerun: bootstrap fenced, stream exhausted — still succeeds
    r2 = _run(*args, env_extra=_SMALL)
    assert r2.returncode == 0, r2.stderr[-3000:]
    events2 = [json.loads(l) for l in r2.stderr.splitlines() if l.startswith("{")]
    assert any(e.get("event") == "exit" and e.get("status") == "success" for e in events2)
    assert not [e for e in events2 if e.get("event") == "epoch.complete"]


def test_example_multi_table_config_runs(tmp_path):
    """examples/cdc_multi_table.conf: one tagged stream into a catalog of
    per-table lakes via the CLI — per-table epoch metrics, atomic
    version-set commits, and a rerun that is a fenced no-op."""
    from pyspark.sql import functions as F

    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.session import get_spark

    spark = get_spark("exgen4", master="local[4]", shuffle_partitions=8)
    stream = write_change_stream(
        spark, str(tmp_path / "raw"), 1500, seed=43, num_partitions=4
    )
    # tag each event with its source table (files / reviews)
    spark.read.parquet(stream).withColumn(
        "table", F.when(F.col("seq") % 2 == 0, F.lit("files")).otherwise(
            F.lit("reviews")
        )
    ).repartitionByRange(4, "seq").write.mode("overwrite").parquet(
        str(tmp_path / "ev")
    )

    args = (
        "--etl.config.uri=examples/cdc_multi_table.conf",
        "--etl.config.environment=test",
        "--etl.config.master=local[4]",
        f"--events.uri={tmp_path / 'ev'}",
        f"--catalog.uri={tmp_path / 'db'}",
    )
    r = _run(*args)
    assert r.returncode == 0, r.stderr[-3000:]
    events = [json.loads(l) for l in r.stderr.splitlines() if l.startswith("{")]
    epochs = [e for e in events if e.get("event") == "epoch.complete"]
    assert epochs, events[-3:]
    tables = {t for e in epochs for t in e.get("tables", {})}
    assert tables == {"files", "reviews"}

    # rerun: stream exhausted — fenced no-op, still succeeds
    r2 = _run(*args)
    assert r2.returncode == 0, r2.stderr[-3000:]
    events2 = [json.loads(l) for l in r2.stderr.splitlines() if l.startswith("{")]
    assert not [e for e in events2 if e.get("event") == "epoch.complete"]


def test_example_iceberg_mirror_config_runs(tmp_path):
    """examples/cdc_iceberg_mirror.conf: MOR replay + per-run Iceberg
    publication via the CLI; the mirrored spec-read equals the lake."""
    from arc_spark.cdc.generator import write_change_stream
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.lake.table import LakeTable
    from arc_spark.session import get_spark

    spark = get_spark("exmir", master="local[4]", shuffle_partitions=8)
    stream = write_change_stream(
        spark, str(tmp_path / "ev"), 1500, seed=22, num_partitions=4
    )
    r = _run(
        "--etl.config.uri=examples/cdc_iceberg_mirror.conf",
        "--etl.config.environment=test",
        "--etl.config.master=local[4]",
        f"--events.uri={stream}",
        f"--table.uri={tmp_path / 'lake'}",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    events = [json.loads(line) for line in r.stderr.splitlines()
              if line.startswith("{")]
    mirror = [e for e in events if e.get("event") == "iceberg.mirror"]
    assert mirror and mirror[0]["data_files"] > 0
    got = read_iceberg(spark, str(tmp_path / "lake"))
    want = LakeTable(str(tmp_path / "lake")).read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

"""Built-in pipeline stages (SURVEY.md §2 inventory).

Every stage is a thin declarative wrapper: it reads temp views, builds a
lazy DataFrame with pyspark.sql, and registers ``outputView`` — all
relational work stays inside Catalyst, exactly like the reference's
SQL-first design (README.md:62-66). Reference file:line cites are on each
class.
"""

from __future__ import annotations

import json
import logging
import os
import random as _random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arc_spark.pipeline.config import register_stage, substitute_params
from arc_spark.pipeline.core import LifecyclePlugin, PipelineContext, PipelineStage
from arc_spark.schema import parse_arc_schema, to_struct_type

# ---------------------------------------------------------------------------
# extracts
# ---------------------------------------------------------------------------


_INTERNAL_META = {"internal": True}

logger = logging.getLogger("arc_spark.stages")


def add_internal_columns(df: DataFrame, *, contiguous_index: bool = True) -> DataFrame:
    """Append the Arc internal provenance columns ``_filename`` and
    ``_index`` (util/ExtractUtils.scala:41-131) to a batch extract.

    ``_index`` is the 1-based row number within each source file. The
    reference computes it without a window (a per-file window would drag
    each whole file to one task): per-(file, partition) min/max of
    monotonically_increasing_id are collected (O(files × partitions) driver
    rows), a scan assigns each partition its start offset within its file,
    and each row derives its index from the low 33 bits of the monotonic
    id. We follow the same two-phase plan but apply the per-group offsets
    with a broadcast join + column arithmetic instead of a mapPartitions
    closure — stays inside codegen, no Python in the row path.
    """
    if df.isStreaming or ({"_filename", "_index", "_monotonically_increasing_id"} & set(df.columns)):
        return df
    spark = df.sparkSession
    enriched = (
        df.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_filename", F.input_file_name())
        .withColumn("_pid", F.spark_partition_id())
    )
    if not contiguous_index:
        return enriched.drop("_pid").withColumnsRenamed({"_mid": "_monotonically_increasing_id"}).withColumn(
            "_filename", F.col("_filename").alias("_filename", metadata=_INTERNAL_META)
        )
    mask = (1 << 33) - 1
    summary = (
        enriched.groupBy("_filename", "_pid")
        .agg(F.min("_mid").alias("mn"), F.max("_mid").alias("mx"))
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in summary:
        by_file.setdefault(r["_filename"], []).append(r)
    rows = []
    for fname, parts in by_file.items():
        prev_max = 0
        for r in sorted(parts, key=lambda x: x["_pid"]):
            start = prev_max + 1
            prev_max = start + (r["mx"] - r["mn"])
            rows.append((fname, r["_pid"], start, r["mn"] & mask))
    offsets = spark.createDataFrame(
        rows, "_filename string, _pid int, _start long, _offset long"
    )
    return (
        enriched.join(F.broadcast(offsets), ["_filename", "_pid"], "left")
        .withColumn(
            "_index",
            ((F.col("_mid").bitwiseAND(F.lit(mask))) - F.col("_offset") + F.col("_start")).alias(
                "_index", metadata=_INTERNAL_META
            ),
        )
        .withColumn("_filename", F.col("_filename").alias("_filename", metadata=_INTERNAL_META))
        .drop("_mid", "_pid", "_start", "_offset")
    )



def _locker_from_params(params: dict, spark):
    """commitLockURI/commitLockLeaseSeconds → ConditionalPutLocker (or
    None) — shared by every stage that commits to a LakeTable."""
    if not params.get("commitLockURI"):  # absent OR unresolved ${?...}
        return None
    from arc_spark.fs import ConditionalPutLocker, get_fs

    lock_root = params["commitLockURI"]
    lease = params.get("commitLockLeaseSeconds")
    return ConditionalPutLocker(
        get_fs(lock_root, spark),
        lock_root,
        lease_seconds=float(lease) if lease is not None else None,
    )


def _missing_datasource(e: Exception) -> bool:
    s = str(e)
    return (
        "DATA_SOURCE_NOT_FOUND" in s
        or "Failed to find data source" in s
        or "Failed to find the data source" in s
    )


def _empty_input(e: Exception) -> bool:
    """True only for 'no data arrived yet' conditions (missing path, empty
    glob, nothing to infer a schema from). Genuine failures — permission
    denied, malformed options, corrupt files — must NOT match: a scheduled
    job may proceed on a gap, never on an error."""
    s = str(e)
    return (
        "PATH_NOT_FOUND" in s
        or "UNABLE_TO_INFER_SCHEMA" in s
        or "Unable to infer schema" in s
        or "Path does not exist" in s
        or "zero-column input" in s
        or "empty collection" in s
    )

class _FileExtract(PipelineStage):
    """Shared skeleton for file-format extracts (extract/*Extract.scala):
    glob input, optional declared Arc schema, optional watermark, streaming
    mode via ctx.streaming (schema mandatory when streaming,
    DelimitedExtract.scala:186-225). Batch extracts append the internal
    ``_filename``/``_index`` provenance columns (contiguousIndex=false
    keeps the raw monotonic id instead); an empty/missing glob yields a
    typed empty DataFrame when a schema is declared
    (extract/DelimitedExtract.scala:236-265)."""

    format: str = ""
    default_options: dict[str, str] = {}

    REQUIRED = ("outputView",)
    OPTIONAL = ("inputURI", "inputView", "inputField", "schema", "schemaURI",
                "schemaView", "options", "watermark", "basePath",
                "contiguousIndex", "internalColumns")

    def _schema(self, ctx: "PipelineContext | None" = None) -> T.StructType | None:
        if "schema" in self.params:
            return to_struct_type(parse_arc_schema(self.params["schema"]))
        if "schemaView" in self.params:
            # schema-as-data from an earlier stage (the reference's
            # schemaView on every extract, extract/DelimitedExtract.scala:57)
            from arc_spark.schema import parse_arc_schema_dataframe

            if ctx is None:
                raise ValueError(f"{self.name}: schemaView requires a pipeline context")
            return to_struct_type(
                parse_arc_schema_dataframe(ctx.spark.table(self.params["schemaView"]))
            )
        if "schemaURI" in self.params:
            from arc_spark.fs import get_fs

            uri = self.params["schemaURI"]
            doc = get_fs(uri, ctx.spark if ctx else None).read_bytes(uri).decode()
            return to_struct_type(parse_arc_schema(doc))
        return None

    def _options(self) -> dict[str, str]:
        return {**self.default_options, **(self.params.get("options") or {})}

    def execute(self, ctx: PipelineContext) -> DataFrame:
        schema = self._schema(ctx)
        opts = self._options()
        if self.params.get("basePath"):
            opts["basePath"] = self.params["basePath"]
        if "inputView" in self.params:
            df = self._from_view(ctx, opts, schema)
        elif ctx.streaming:
            if schema is None:
                raise ValueError(f"{self.name}: streaming extract requires a schema")
            reader = ctx.spark.readStream.format(self.format).options(**opts).schema(schema)
            df = reader.load(self.params["inputURI"])
        else:
            reader = ctx.spark.read.format(self.format).options(**opts)
            if schema is not None:
                reader = reader.schema(schema)
            try:
                df = reader.load(self.params["inputURI"])
                if len(df.schema.fields) == 0:
                    raise ValueError("zero-column input")
            except Exception as e:
                if _missing_datasource(e) or not _empty_input(e):
                    raise  # real failure (missing jar, permissions, corrupt
                    # input, bad options) — only no-data-yet conditions fall
                    # through to the typed-empty path
                # empty or not-yet-arrived glob → typed empty DataFrame if a
                # schema is declared (scheduled jobs must not fail on gaps,
                # extract/DelimitedExtract.scala:236-265)
                if schema is None:
                    raise ValueError(
                        f"{self.name}: input {self.params['inputURI']!r} is empty or "
                        f"missing and no schema is declared: {e}"
                    ) from None
                from arc_spark.schema import empty_df

                df = empty_df(ctx.spark, schema)
        if self.params.get("internalColumns", True):
            df = add_internal_columns(
                df, contiguous_index=self.params.get("contiguousIndex", True)
            )
        wm = self.params.get("watermark")
        if wm:
            df = df.withWatermark(wm["eventTime"], wm["delayThreshold"])
        return self.register_output(ctx, df, self.params["outputView"])

    def _from_view(self, ctx, opts, schema) -> DataFrame:
        raise ValueError(f"{self.stage_type} does not support inputView")


@register_stage
class ParquetExtract(_FileExtract):
    """extract/ParquetExtract.scala:148-157 (mergeSchema=true default)."""

    stage_type = "ParquetExtract"
    format = "parquet"
    default_options = {"mergeSchema": "true"}


@register_stage
class ORCExtract(_FileExtract):
    """extract/ORCExtract.scala:150-159."""

    stage_type = "ORCExtract"
    format = "orc"
    default_options = {"mergeSchema": "true"}


@register_stage
class DelimitedExtract(_FileExtract):
    """extract/DelimitedExtract.scala:158-309; from-view parses a string
    column as CSV lines (:226-235)."""

    stage_type = "DelimitedExtract"
    format = "csv"
    default_options = {"header": "false", "sep": ","}
    OPTIONAL = _FileExtract.OPTIONAL + ("delimiter", "quote", "header", "customDelimiter")
    # Arc-style enum aliases for delimiter/quote (api/API.scala Delimited)
    _DELIMITERS = {"Comma": ",", "Pipe": "|", "DefaultHive": "\x01", "Custom": None}
    _QUOTES = {"DoubleQuote": '"', "SingleQuote": "'", "None": "\x00"}

    def _options(self) -> dict[str, str]:
        opts = super()._options()
        d = self.params.get("delimiter")
        if d:
            opts["sep"] = self._DELIMITERS.get(d) or self.params.get("customDelimiter", d)
        q = self.params.get("quote")
        if q:
            opts["quote"] = self._QUOTES.get(q, q)
        if "header" in self.params:
            opts["header"] = str(self.params["header"]).lower()
        return opts

    def _from_view(self, ctx, opts, schema):
        """Parse a string column as CSV lines via the ``from_csv``
        expression — no df.rdd round trip (keeps lineage + codegen, and
        works on STREAMING views, unlike the reference's textContent
        collect, DelimitedExtract.scala:226-235)."""
        field = self.params.get("inputField", "value")
        view = ctx.spark.table(self.params["inputView"])
        src = view.select(F.col(field).cast("string").alias("value"))
        header = str(opts.get("header", "false")).lower() == "true"
        header_line = None
        if header:
            if src.isStreaming:
                raise ValueError(f"{self.name}: header=true unsupported on a streaming view")
            # identify the header ROW deterministically (min provenance
            # index — the extract's _index if present, else a pinned
            # monotonic id) and drop only that row: a data row whose text
            # equals the header line, or a null row, must survive
            if "_index" in view.columns:
                src = view.select(
                    F.col(field).cast("string").alias("value"),
                    F.col("_index").alias("_hidx"),
                )
            else:
                src = view.select(
                    F.col(field).cast("string").alias("value"),
                    F.monotonically_increasing_id().alias("_hidx"),
                ).localCheckpoint(eager=False)  # pin nondeterministic ids
            first = src.orderBy("_hidx").limit(1).collect()
            if first:
                header_line = first[0]["value"]
                src = src.filter(F.col("_hidx") != F.lit(first[0]["_hidx"]))
            src = src.select("value")
        parse_opts = {k: v for k, v in opts.items() if k != "header"}
        if schema is None:
            if src.isStreaming:
                raise ValueError(f"{self.name}: streaming from-view requires a schema")
            sample = src.filter(F.col("value").isNotNull()).limit(1).collect()
            if not sample:
                raise ValueError(f"{self.name}: cannot infer CSV schema from an empty view")
            schema_str = (
                ctx.spark.range(1)
                .select(F.schema_of_csv(F.lit(sample[0]["value"]), parse_opts))
                .first()[0]
            )
            parsed = src.select(F.from_csv(F.col("value"), F.lit(schema_str), parse_opts).alias("_r"))
            out = parsed.select("_r.*")
            if header_line is not None:
                sep = parse_opts.get("sep", ",")
                names = [n.strip() for n in header_line.split(sep)]
                if len(names) == len(out.columns):
                    out = out.toDF(*names)
            return out
        parsed = src.select(
            F.from_csv(F.col("value"), F.lit(schema.simpleString()), parse_opts).alias("_r")
        )
        return parsed.select("_r.*")


@register_stage
class JSONExtract(_FileExtract):
    """extract/JSONExtract.scala:172-210 (multiLine default true)."""

    stage_type = "JSONExtract"
    format = "json"
    default_options = {"multiLine": "true"}

    def _from_view(self, ctx, opts, schema):
        """Parse a string column as JSON via the ``from_json`` expression —
        no df.rdd round trip (keeps lineage + codegen; streaming-capable,
        unlike the reference's collect-based path, JSONExtract.scala)."""
        field = self.params.get("inputField", "value")
        src = ctx.spark.table(self.params["inputView"]).select(
            F.col(field).cast("string").alias("value")
        )
        parse_opts = {k: v for k, v in opts.items() if k != "multiLine"}
        if schema is None:
            if src.isStreaming:
                raise ValueError(f"{self.name}: streaming from-view requires a schema")
            # infer by merging the per-row schemas of a bounded sample
            # driver-side (from_json needs one fixed schema)
            sample = [
                r["value"]
                for r in src.filter(F.col("value").isNotNull()).limit(100).collect()
            ]
            if not sample:
                raise ValueError(f"{self.name}: cannot infer JSON schema from an empty view")
            inferred = (
                ctx.spark.createDataFrame([(s,) for s in sample], "value string")
                .select(F.schema_of_json_agg("value").alias("s"))
                .first()[0]
                if hasattr(F, "schema_of_json_agg")
                else ctx.spark.range(1).select(F.schema_of_json(F.lit(sample[0]))).first()[0]
            )
            parsed = src.select(F.from_json("value", inferred, parse_opts).alias("_r"))
            return parsed.select("_r.*")
        parsed = src.select(
            F.from_json("value", schema.simpleString(), parse_opts).alias("_r")
        )
        return parsed.select("_r.*")


@register_stage
class TextExtract(_FileExtract):
    """extract/TextExtract.scala:185-201 (multiLine → wholetext)."""

    stage_type = "TextExtract"
    format = "text"
    OPTIONAL = _FileExtract.OPTIONAL + ("multiLine",)

    def _options(self):
        opts = super()._options()
        if self.params.get("multiLine"):
            opts["wholetext"] = "true"
        return opts


@register_stage
class AvroExtract(_FileExtract):
    """extract/AvroExtract.scala:170-190; from-view decodes a binary column
    with a provided .avsc via from_avro (:183-184) — the binlog-decode
    primitive for CDC."""

    stage_type = "AvroExtract"
    format = "avro"
    OPTIONAL = _FileExtract.OPTIONAL + ("avroSchema",)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        try:
            return super().execute(ctx)
        except Exception as e:
            if not _missing_datasource(e):
                raise
            # spark-avro jar absent: from-scratch OCF codec fallback
            # (arc_spark.formats.avro — spec cross-validated against the
            # JVM org.apache.avro classes in tests/test_avro_format.py)
            from arc_spark.formats.avro import read_avro_fallback

            df = read_avro_fallback(ctx.spark, self.params["inputURI"])
            if self.params.get("internalColumns", True):
                df = add_internal_columns(
                    df, contiguous_index=self.params.get("contiguousIndex", True)
                )
            return self.register_output(ctx, df, self.params["outputView"])

    @staticmethod
    def _spark_avro_available(ctx) -> bool:
        try:
            from pyspark.sql.avro.functions import to_avro

            ctx.spark.range(1).select(to_avro(F.struct("id"))).collect()
            return True
        except Exception:
            return False

    def _from_view(self, ctx, opts, schema):
        field = self.params.get("inputField", "value")
        avro_schema = self.params["avroSchema"]
        avro_json = avro_schema if isinstance(avro_schema, str) else json.dumps(avro_schema)
        src = ctx.spark.table(self.params["inputView"])
        if self._spark_avro_available(ctx):
            from pyspark.sql.avro.functions import from_avro

            return src.withColumn("value", from_avro(F.col(field), avro_json)).select(
                *[c for c in src.columns if c != field], "value.*"
            )
        # fallback: raw-datum decode via the pure-python codec — the CDC
        # binlog-decode primitive works without the spark-avro jar
        import pandas as pd

        from arc_spark.formats.avro import avro_to_spark_type, decode_datum

        parsed = json.loads(avro_json)
        rec_type = avro_to_spark_type(parsed)
        other = [c for c in src.columns if c != field]
        out_schema = T.StructType(
            [src.schema[c] for c in other] + list(rec_type.fields)
        )
        names = [f.name for f in rec_type.fields]

        def decode(batches):
            for pdf in batches:
                recs = [decode_datum(parsed, bytes(b)) for b in pdf[field]]
                out = pdf[other].copy()
                for n in names:
                    out[n] = [r.get(n) for r in recs]
                yield out

        return src.mapInPandas(decode, schema=out_schema)


@register_stage
class BytesExtract(_FileExtract):
    """extract/BytesExtract.scala:121-195 — whole-file binary; schema
    [value binary, _filename string] (datasource/BinaryDataSource.scala);
    maps to Spark's built-in binaryFile source.

    ``inputView`` mode reads the paths from a [value: string] view
    (:131-151); ``failMode`` permissive turns a no-files result into a
    typed empty frame, failfast raises (:160-170)."""

    stage_type = "BytesExtract"
    format = "binaryFile"
    OPTIONAL = _FileExtract.OPTIONAL + ("failMode",)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from pyspark.sql.types import BinaryType, StringType, StructField, StructType

        fail_mode = self.params.get("failMode", "failfast")
        if "inputView" in self.params:
            view = ctx.spark.table(self.params["inputView"])
            if "value" not in view.columns or not isinstance(
                view.schema["value"].dataType, StringType
            ):
                raise ValueError(
                    f"{self.name}: inputView must have a [value: string] column "
                    f"of paths, got {view.schema.simpleString()}"
                )
            paths = [r[0] for r in view.select("value").collect() if r[0]]
            if fail_mode == "permissive" and paths:
                # permissive covers "no files found", NOT "one missing path
                # drops everything": load() raises PATH_NOT_FOUND if ANY
                # path is absent, and falling into the typed-empty branch
                # there would silently discard every path that DOES exist.
                # Filter to existing paths first (O(paths) driver-side
                # exists, same cost class as the collect above); only when
                # ZERO remain does the typed-empty fallback apply.
                from arc_spark.fs import get_fs

                kept = []
                for p in paths:
                    if any(ch in p for ch in "*?[{"):
                        kept.append(p)  # globs: let the source expand them
                    elif get_fs(p, ctx.spark).exists(p):
                        kept.append(p)
                    else:
                        logger.warning(
                            "%s: permissive mode skipping missing path %s",
                            self.name, p,
                        )
                paths = kept
        else:
            paths = [self.params["inputURI"]]
        if not paths and fail_mode == "permissive":
            df = ctx.spark.createDataFrame(
                [],
                StructType([
                    StructField("value", BinaryType()),
                    StructField("_filename", StringType()),
                ]),
            )
            return self.register_output(ctx, df, self.params["outputView"])
        try:
            df = ctx.spark.read.format("binaryFile").load(paths)
            df.take(1)  # force evaluation so missing paths surface here
            df = df.select(
                F.col("content").alias("value"),
                F.col("path").alias("_filename", metadata={"internal": True}),
            )
        except Exception as e:
            if fail_mode == "failfast" or not _empty_input(e):
                raise
            df = ctx.spark.createDataFrame(
                [],
                StructType([
                    StructField("value", BinaryType()),
                    StructField("_filename", StringType()),
                ]),
            )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class RateExtract(PipelineStage):
    """extract/RateExtract.scala:97-119 — streaming-only synthetic source."""

    stage_type = "RateExtract"
    REQUIRED = ("outputView",)
    OPTIONAL = ("rowsPerSecond", "rampUpTime", "numPartitions")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        if not ctx.streaming:
            raise ValueError(f"{self.name}: RateExtract requires streaming mode")
        df = (
            ctx.spark.readStream.format("rate")
            .option("rowsPerSecond", str(self.params.get("rowsPerSecond", 1)))
            .option("rampUpTime", str(self.params.get("rampUpTime", "0s")))
            .option("numPartitions", str(self.params.get("numPartitions", 1)))
            .load()
        )
        df.createOrReplaceTempView(self.params["outputView"])
        return df


@register_stage
class MetadataExtract(PipelineStage):
    """extract/MetadataExtract.scala:110-150 — reify a view's schema (+field
    metadata) as a DataFrame (schema-as-data)."""

    stage_type = "MetadataExtract"
    REQUIRED = ("inputView", "outputView")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        src = ctx.spark.table(self.params["inputView"])
        rows = [
            (f.name, f.dataType.simpleString(), f.nullable, json.dumps(f.metadata or {}))
            for f in src.schema.fields
        ]
        df = ctx.spark.createDataFrame(
            rows, "name string, type string, nullable boolean, metadata string"
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class StatisticsExtract(PipelineStage):
    """extract/StatisticsExtract.scala:112-136 — column-profile table."""

    stage_type = "StatisticsExtract"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("approximate", "hllRelativeSD")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.statistics import statistics

        df = statistics(
            ctx.spark.table(self.params["inputView"]),
            approximate=bool(self.params.get("approximate", True)),
            hll_relative_sd=float(self.params.get("hllRelativeSD", 0.05)),
        )
        return self.register_output(ctx, df, self.params["outputView"])


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------


@register_stage
class SQLTransform(PipelineStage):
    """transform/SQLTransform.scala:150-203 — the universal relational
    operator: arbitrary Spark SQL over upstream temp views with ${param}
    substitution; SQL parse pre-validated at config time
    (config/ConfigUtils.scala:855-867)."""

    stage_type = "SQLTransform"
    REQUIRED = ("outputView",)
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams", "authentication")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def _stmt(self, ctx: PipelineContext) -> str:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        return substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})

    def validate_config(self, ctx: PipelineContext) -> None:
        stmt = self._stmt(ctx)
        # parse-only validation via the session parser
        ctx.spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.sql(self._stmt(ctx))
        out = self.register_output(ctx, df, self.params["outputView"])
        # observability parity: record scan pushdown/pruning info for this
        # stage's plan, as the reference scrapes FileSourceScanExec
        # partitionFilters/dataFilters into its logs
        # (util/QueryExecutionUtils.scala:8-24, SQLTransform.scala:189-190)
        try:
            from arc_spark.plans.explain import scan_info

            scans = scan_info(out)
            if scans:
                ctx.events.append(
                    {"event": "stage.scans", "stage": self.name, "scans": scans}
                )
        except Exception:  # introspection must never fail the stage
            pass
        return out


@register_stage
class TypingTransform(PipelineStage):
    """transform/TypingTransform.scala — see operators/typing.py."""

    stage_type = "TypingTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("schema", "schemaURI", "schemaView", "failMode")
    ONE_OF = (("schema", "schemaURI", "schemaView"),)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.typing import typing_transform

        if "schema" in self.params:
            specs = parse_arc_schema(self.params["schema"])
        elif "schemaView" in self.params:
            # schema-as-data: field definitions produced by earlier stages
            # (schema/ArcSchema.scala:25-27)
            from arc_spark.schema import parse_arc_schema_dataframe

            specs = parse_arc_schema_dataframe(ctx.spark.table(self.params["schemaView"]))
        else:
            with open(self.params["schemaURI"]) as f:
                specs = parse_arc_schema(f.read())
        df = typing_transform(ctx.spark.table(self.params["inputView"]), specs)
        out = self.register_output(ctx, df, self.params["outputView"])
        if self.params.get("failMode", "permissive") == "failfast" and not df.isStreaming:
            bad = out.filter(F.size("_errors") > 0)
            first = bad.select("_errors").first()
            if first is not None:
                raise ValueError(f"{self.name}: typing failed (failfast): {first['_errors']}")
        return out


@register_stage
class DiffTransform(PipelineStage):
    """transform/DiffTransform.scala:116-171."""

    stage_type = "DiffTransform"
    REQUIRED = ("inputLeftView", "inputRightView")
    OPTIONAL = ("outputLeftView", "outputIntersectionView", "outputRightView", "inputLeftKeys", "inputRightKeys")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.diff import diff_views

        res = diff_views(
            ctx.spark.table(self.params["inputLeftView"]),
            ctx.spark.table(self.params["inputRightView"]),
            key_cols=self.params.get("inputLeftKeys"),
        )
        out = None
        for key, view_param in (
            ("left_only", "outputLeftView"),
            ("intersection", "outputIntersectionView"),
            ("right_only", "outputRightView"),
        ):
            if self.params.get(view_param):
                res[key].createOrReplaceTempView(self.params[view_param])
                out = res[key]
        return out


@register_stage
class JSONTransform(PipelineStage):
    """transform/JSONTransform.scala:99-156 — whole row → one JSON string
    column, expressed as to_json(struct(*)) (stays in codegen; the
    reference used df.toJSON which is RDD-backed)."""

    stage_type = "JSONTransform"
    REQUIRED = ("inputView", "outputView")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        src = ctx.spark.table(self.params["inputView"])
        df = src.select(F.to_json(F.struct(*src.columns)).alias("value"))
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class MetadataTransform(PipelineStage):
    """transform/MetadataTransform.scala:144-215 — attach Arc-schema
    metadata to existing columns (permissive/failfast name matching)."""

    stage_type = "MetadataTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("schema", "schemaURI", "failMode")
    ONE_OF = (("schema", "schemaURI"),)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        if "schema" in self.params:
            specs = parse_arc_schema(self.params["schema"])
        else:
            with open(self.params["schemaURI"]) as f:
                specs = parse_arc_schema(f.read())
        by_name = {s.name: s for s in specs}
        src = ctx.spark.table(self.params["inputView"])
        if self.params.get("failMode", "permissive") == "failfast":
            missing = set(by_name) - set(src.columns)
            if missing:
                raise ValueError(f"{self.name}: columns not in view: {sorted(missing)}")
        cols = []
        for c in src.columns:
            if c in by_name:
                md = by_name[c].to_struct_field().metadata
                cols.append(F.col(c).alias(c, metadata=md))
            else:
                cols.append(F.col(c))
        return self.register_output(ctx, src.select(*cols), self.params["outputView"])


@register_stage
class MetadataFilterTransform(PipelineStage):
    """transform/MetadataFilterTransform.scala:125-197 — column-level
    security: SQL over the reified ``metadata`` view returns the allowed
    column names; everything else is dropped."""

    stage_type = "MetadataFilterTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        src = ctx.spark.table(self.params["inputView"])
        rows = [
            (f.name, f.dataType.simpleString(), f.nullable, json.dumps(f.metadata or {}))
            for f in src.schema.fields
        ]
        ctx.spark.createDataFrame(
            rows, "name string, type string, nullable boolean, metadata string"
        ).createOrReplaceTempView("metadata")
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        keep = [r[0] for r in ctx.spark.sql(sql).collect()]
        df = src.select(*[c for c in src.columns if c in keep])
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class SimilarityJoinTransform(PipelineStage):
    """transform/SimilarityJoinTransform.scala:140-255 — fuzzy join. The
    reference fits NGram+CountVectorizer+MinHashLSH (a driver-side vocab
    build); we use the vocabulary-free expression-level MinHash LSH from
    operators/dedup.py — same algorithm, no fit step, scales without a
    driver bottleneck."""

    stage_type = "SimilarityJoinTransform"
    REQUIRED = ("leftView", "rightView", "outputView", "leftFields", "rightFields")
    OPTIONAL = ("threshold", "shingleLength", "numHashes", "caseSensitive")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.dedup import minhash_from_hashes_udf, shingle_hashes

        threshold = float(self.params.get("threshold", 0.75))
        shingle_n = int(self.params.get("shingleLength", 3))
        num_hashes = int(self.params.get("numHashes", 16))
        bands = 4
        mh = minhash_from_hashes_udf(num_hashes)

        def prep(view: str, fields: list[str], side: str) -> DataFrame:
            src = ctx.spark.table(view)
            text = F.concat_ws(" ", *[F.col(f).cast("string") for f in fields])
            if not self.params.get("caseSensitive", False):
                text = F.lower(text)
            # localCheckpoint keeps the Arrow kernel's argument a plain
            # column over a materialized relation (CollapseProject trap —
            # see operators/dedup.simhash_near_dup); spread first so the
            # shingling isn't pinned to a small scan's task count
            from arc_spark.operators.dedup import spread

            hashed = spread(src).select(
                F.struct(*src.columns).alias(f"{side}_row"),
                shingle_hashes(text, shingle_n, "char").alias("_sh"),
            ).localCheckpoint(eager=False)
            return hashed.select(
                f"{side}_row", mh(F.col("_sh")).alias(f"{side}_sig")
            )

        left = prep(self.params["leftView"], self.params["leftFields"], "l")
        right = prep(self.params["rightView"], self.params["rightFields"], "r")
        rpb = num_hashes // bands

        def banded(df: DataFrame, sig: str) -> DataFrame:
            return df.withColumn(
                "_bb",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.xxhash64(
                                    *[F.element_at(F.col(sig), b * rpb + r + 1) for r in range(rpb)]
                                ).alias("bucket"),
                            )
                            for b in range(bands)
                        ]
                    )
                ),
            )

        lb = banded(left, "l_sig").alias("a")
        rb = banded(right, "r_sig").alias("b")
        pairs = lb.join(
            rb,
            (F.col("a._bb.band") == F.col("b._bb.band"))
            & (F.col("a._bb.bucket") == F.col("b._bb.bucket")),
        ).select("a.l_row", "a.l_sig", "b.r_row", "b.r_sig").dropDuplicates(["l_row", "r_row"])
        sim = (
            F.size(
                F.filter(F.zip_with("l_sig", "r_sig", lambda x, y: x == y), lambda m: m)
            ).cast("double")
            / F.lit(float(num_hashes))
        )
        df = (
            pairs.withColumn("similarity", sim)
            .filter(F.col("similarity") >= threshold)
            .select("l_row.*", "r_row.*", "similarity")
        )
        return self.register_output(ctx, df, self.params["outputView"])


def _salt_buckets(params: dict) -> int | None:
    """A stage's ``saltBuckets`` as the drivers take it."""
    return int(params["saltBuckets"]) if params.get("saltBuckets") else None


@register_stage
class DedupTransform(PipelineStage):
    """Engine-specific: last-writer-wins dedup per key (the CDC apply
    kernel as a standalone pipeline stage; SURVEY.md §2.5 dedup-by-key).
    Duplicate-safe like the replay drivers: verbatim repeats of a
    (keys, seq) row collapse to one (apply.dedup_by_key)."""

    stage_type = "DedupTransform"
    REQUIRED = ("inputView", "outputView", "keys")
    OPTIONAL = ("seqColumn", "strategy", "saltBuckets")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.cdc.apply import dedup_by_key

        df, _ = dedup_by_key(
            ctx.spark.table(self.params["inputView"]),
            list(self.params["keys"]),
            self.params.get("seqColumn", "seq"),
            strategy=self.params.get("strategy", "thin"),
            salt_buckets=_salt_buckets(self.params),
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class DebeziumSerializeTransform(PipelineStage):
    """Engine-specific: serialize a canonical change frame (payload cols +
    op + seq) into one-column ``value: string`` Debezium envelopes (pure
    to_json codegen — arc_spark.cdc.debezium.to_debezium_json). Composed
    after LakeChangesExtract this turns ANY lake table into a CDC
    *producer*: downstream systems — including another instance of this
    engine via CDCReplayExecute(eventsFormat=debezium) — consume the open
    wire format instead of this engine's manifests. schema-change rows
    raise (Debezium DDL travels on a separate topic); filter them first."""

    stage_type = "DebeziumSerializeTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("seqColumn",)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.cdc.debezium import to_debezium_json

        df = to_debezium_json(
            ctx.spark.table(self.params["inputView"]),
            seq_col=self.params.get("seqColumn", "seq"),
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class SCD2Transform(PipelineStage):
    """Engine-specific: Slowly-Changing-Dimension Type 2 history from a
    change stream — every version with [valid_from_seq, valid_to_seq)
    interval columns and is_current; deletes close intervals (see
    arc_spark.cdc.apply.apply_scd2). The Type 1 (latest-state) twin is
    DedupTransform."""

    stage_type = "SCD2Transform"
    REQUIRED = ("inputView", "outputView", "keys")
    OPTIONAL = ("seqColumn", "opColumn", "deleteOp")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.cdc.apply import apply_scd2

        df = apply_scd2(
            ctx.spark.table(self.params["inputView"]),
            list(self.params["keys"]),
            self.params.get("seqColumn", "seq"),
            op_col=self.params.get("opColumn", "op"),
            delete_op=self.params.get("deleteOp", "delete"),
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class TextScrubTransform(PipelineStage):
    """Engine-specific training-data hygiene: redact PII-ish spans
    (emails/URLs/IPv4s/phone runs) with typed tokens — declarative wrapper
    over operators.text.scrub_text (pure regex chain, codegen)."""

    stage_type = "TextScrubTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("inputField", "outputField", "kinds")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.text import scrub_text

        field = self.params.get("inputField", "text")
        out_field = self.params.get("outputField", field)
        df = ctx.spark.table(self.params["inputView"]).withColumn(
            out_field, scrub_text(F.col(field), self.params.get("kinds"))
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class QualityFilterTransform(PipelineStage):
    """Engine-specific: C4-style document quality gates as a stage
    (operators.text.quality_filter)."""

    stage_type = "QualityFilterTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("inputField", "minTokens", "maxPunctRatio", "maxDigitRatio")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.text import quality_filter

        df = quality_filter(
            ctx.spark.table(self.params["inputView"]),
            self.params.get("inputField", "text"),
            min_tokens=int(self.params.get("minTokens", 10)),
            max_punct_ratio=float(self.params.get("maxPunctRatio", 0.2)),
            max_digit_ratio=float(self.params.get("maxDigitRatio", 0.3)),
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class NearDupTransform(PipelineStage):
    """Engine-specific: near-duplicate pair detection as a stage — MinHash
    or SimHash LSH candidates with an exact n-gram-Jaccard verify
    (operators.dedup); outputs (id_a, id_b, jaccard). ``method:
    embedding`` runs hyperplane-LSH over a vector column instead
    (operators.similarity.embedding_near_dup) and outputs
    (id_a, id_b, cosine_sim) — its verify IS the exact cosine."""

    stage_type = "NearDupTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("method", "idField", "textField", "threshold", "numHashes",
                "bands", "shingleN", "maxHamming", "maxBucketSize",
                "vectorField", "numPlanes")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.dedup import (
            minhash_near_dup,
            ngram_jaccard_pairs,
            simhash_near_dup,
        )

        df = ctx.spark.table(self.params["inputView"])
        id_f = self.params.get("idField", "doc_id")
        text_f = self.params.get("textField", "text")
        from arc_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE

        threshold = float(self.params.get("threshold", 0.7))
        shingle_n = int(self.params.get("shingleN", 3))
        # cap defaults ON (degenerate-bucket guard, drops are logged);
        # maxBucketSize: 0 disables it for provable-recall configs
        cap = int(self.params.get("maxBucketSize", DEFAULT_MAX_BUCKET_SIZE)) or None
        method = self.params.get("method", "minhash")
        if method == "embedding":
            from arc_spark.operators.similarity import embedding_near_dup

            out = embedding_near_dup(
                df,
                vec_col=self.params.get("vectorField", "embedding"),
                id_col=self.params.get("idField", "vec_id"),
                threshold=float(self.params.get("threshold", 0.95)),
                num_planes=int(self.params.get("numPlanes", 128)),
                bands=int(self.params.get("bands", 16)),
                max_bucket_size=cap,
            )
            return self.register_output(ctx, out, self.params["outputView"])
        if method == "minhash":
            # default 32 hashes / 8 bands = 4 rows per band: 1-row bands
            # put every doc pair sharing ANY single minhash value in the
            # same bucket — near-quadratic candidates on a real corpus
            cand = minhash_near_dup(
                df, text_f, id_f,
                num_hashes=int(self.params.get("numHashes", 32)),
                bands=int(self.params.get("bands", 8)),
                jaccard_threshold=0.0,
                max_bucket_size=cap,
            )
        elif method == "simhash":
            bands = int(self.params.get("bands", 16))
            # pigeonhole recall guarantee needs bands > maxHamming: default
            # to bands-1 so the shipped config is provably recall-1
            cand = simhash_near_dup(
                df, text_f, id_f,
                max_hamming=int(self.params.get("maxHamming", bands - 1)),
                bands=bands,
                max_bucket_size=cap,
            )
        else:
            raise ValueError(f"{self.name}: unknown method {method!r}")
        out = ngram_jaccard_pairs(
            df, cand.select("id_a", "id_b"), text_f, id_f,
            shingle_n=shingle_n, threshold=threshold,
        )
        return self.register_output(ctx, out, self.params["outputView"])


@register_stage
class ANNIndexLoad(PipelineStage):
    """Engine-specific: build + persist an ANN index from an embedding
    view — the index half of the ANN serving path. ``method: lsh``
    (default) writes the per-band partitioned LshIndex in one scan;
    ``method: ivf`` fits the bounded-sample quantizer and writes the
    cluster-partitioned IVFIndex (+ centers meta, loadable without a
    refit)."""

    stage_type = "ANNIndexLoad"
    REQUIRED = ("inputView", "outputURI")
    OPTIONAL = ("method", "vectorField", "idField", "numPlanes", "bands",
                "seed", "numClusters")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.similarity import IVFIndex, LshIndex

        df = ctx.spark.table(self.params["inputView"])
        method = self.params.get("method", "lsh")
        if method == "ivf":
            idx = IVFIndex.build(
                df,
                k=int(self.params.get("numClusters", 16)),
                vec_col=self.params.get("vectorField", "embedding"),
                id_col=self.params.get("idField", "vec_id"),
                seed=int(self.params.get("seed", 42)),
            )
            idx.write_index(self.params["outputURI"])
        elif method == "lsh":
            LshIndex.build_and_write(
                df,
                self.params["outputURI"],
                vec_col=self.params.get("vectorField", "embedding"),
                id_col=self.params.get("idField", "vec_id"),
                num_planes=int(self.params.get("numPlanes", 16)),
                bands=int(self.params.get("bands", 4)),
                seed=int(self.params.get("seed", 42)),
            )
        else:
            raise ValueError(f"{self.name}: unknown method {method!r}")
        return df


@register_stage
class ANNQueryExtract(PipelineStage):
    """Engine-specific: top-k neighbors from a persisted ANN index —
    every read partition-pruned to the probed bucket/cluster
    directories. The index kind is auto-detected from the meta object
    next to the data (LshIndex vs IVFIndex — both write one). The query
    comes from ``queryView`` (ANY number of rows — always the BATCH
    retrieval path: one pruned index scan answers the whole view, output
    (query_id, rank, id, cosine_sim); the schema depends on the input
    KIND, never on the view's row count) or an inline ``queryVector``
    list (single-query output: id, cosine_sim)."""

    stage_type = "ANNQueryExtract"
    REQUIRED = ("inputURI", "outputView")
    OPTIONAL = (
        "queryView", "queryVector", "vectorField", "idField", "k",
        "probeBits", "nprobe", "maxQueries",
    )

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.fs import get_fs, join as fs_join
        from arc_spark.operators.similarity import IVFIndex, LshIndex

        uri = self.params["inputURI"]
        k = int(self.params.get("k", 10))
        fs = get_fs(uri, ctx.spark)
        if fs.exists(fs_join(uri, LshIndex.META)):
            idx = LshIndex.load(ctx.spark, uri)
            id_col = idx.meta["id_col"]
            kw = {"probe_bits": int(self.params.get("probeBits", 0))}
        elif fs.exists(fs_join(uri, IVFIndex.META)):
            idx = IVFIndex.load(ctx.spark, uri)
            id_col = idx.id_col
            kw = {"nprobe": int(self.params.get("nprobe", 4))}
        else:
            raise ValueError(
                f"{self.name}: no ANN index meta ({LshIndex.META} or "
                f"{IVFIndex.META}) found under {uri}"
            )

        def _single(qvec):
            if isinstance(idx, LshIndex):
                return idx.topk(ctx.spark, qvec, k=k, **kw)
            return idx.topk(qvec, k=k, **kw)

        if "queryVector" in self.params:
            out = _single([float(x) for x in self.params["queryVector"]])
        elif "queryView" in self.params:
            field = self.params.get("vectorField", "embedding")
            id_field = self.params.get("idField", id_col)
            view = ctx.spark.table(self.params["queryView"])
            # ALWAYS the batch path for a view — the output schema
            # (query_id, rank, id, cosine_sim) must depend on the input
            # KIND, not on how many rows the view happened to have today;
            # a 1-row view silently switching to the single-query shape
            # would break downstream consumers of query_id/rank.
            # fully distributed for BOTH index kinds: the view never
            # touches the driver (no vector collect, no query cap) —
            # 10^6-query safe. topk_batch remains the library API for
            # driver-resident query lists.
            out = idx.topk_batch_df(
                ctx.spark, view, query_id_col=id_field,
                query_vec_col=field, k=k, **kw,
            )
        else:
            raise ValueError(f"{self.name}: queryVector or queryView required")
        return self.register_output(ctx, out, self.params["outputView"])


@register_stage
class LakeChangesExtract(PipelineStage):
    """Engine-specific: incremental CONSUMPTION of a lake table's change
    feed — the downstream half of the CDC story (a training pipeline or
    derived table keeps itself fresh without rescanning the lake). Emits
    the current state of every key changed after the cursor
    (``op`` ∈ {'upsert','delete'}, the ``changes_since`` bucket+row-group
    pruned read).

    Cursor protocol: ``sinceSeq`` overrides; else the JSON object at
    ``cursorURI`` ({"seq": N, "version": V}, any arc_spark.fs scheme;
    absent → -1 = full history). The ADVANCED cursor is staged in
    ctx.user_data and only written by a later ``LakeCursorCommitExecute``
    stage — placed AFTER the loads, this gives at-least-once delivery (a
    failed run replays the same window; consumers dedup by key+seq).
    ``advanceCursor: immediate`` writes it here instead (at-most-once).

    Rollback safety: re-applied corrected events reuse the undone seq
    range, so a plain seq cursor taken before a rollback would skip the
    corrections forever. The cursor therefore records the pinned
    manifest version, and on the next read ``LakeTable.undone_since``
    walks the manifest chain for rollbacks past it. ``onRollback``:
    ``error`` (default) fails loudly; ``reset`` re-delivers from the
    restored position (at-least-once, consumers dedup by key+seq)."""

    stage_type = "LakeChangesExtract"
    REQUIRED = ("tableURI", "outputView")
    OPTIONAL = ("cursorURI", "sinceSeq", "advanceCursor", "onRollback")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.fs import get_fs
        from arc_spark.lake.table import LakeTable

        table = LakeTable(self.params["tableURI"])
        cursor_uri = self.params.get("cursorURI")
        cursor_version = None
        if "sinceSeq" in self.params:
            since = int(self.params["sinceSeq"])
        elif cursor_uri:
            fs = get_fs(cursor_uri, ctx.spark)
            if fs.exists(cursor_uri):
                cur = json.loads(fs.read_bytes(cursor_uri))
                since = int(cur["seq"])
                cursor_version = cur.get("version")  # absent in old cursors
            else:
                since = -1
        else:
            since = -1
        # ONE pinned snapshot for both the read and the cursor: a merge
        # committing between a changes_since() and a separate
        # snapshot().end_seq read would advance the cursor past changes
        # the emitted frame never contained — silently dropped forever,
        # breaking at-least-once under a concurrent writer (the exact
        # deployment this stage exists for).
        snap = table.snapshot()
        if cursor_version is not None:
            reset_to = table.undone_since(
                since, int(cursor_version), current_version=snap.version
            )
            if reset_to is not None:
                if self.params.get("onRollback") == "reset":
                    logger.warning(
                        "%s: table was rolled back past cursor seq %d — "
                        "resetting to %d and re-delivering (consumers "
                        "dedup by key+seq)", self.name, since, reset_to,
                    )
                    since = reset_to
                else:
                    raise ValueError(
                        f"{self.name}: the table was rolled back below the "
                        f"cursor (seq {since}); the re-applied corrected "
                        f"events reuse those seqs, so continuing would skip "
                        f"them forever. Set onRollback: reset to re-deliver "
                        f"from seq {reset_to}, or repoint the cursor."
                    )
        out = table.changes_since(ctx.spark, since, version=snap.version)
        new_cursor = {"seq": int(snap.end_seq), "version": int(snap.version)}
        if cursor_uri:
            if self.params.get("advanceCursor") == "immediate":
                get_fs(cursor_uri, ctx.spark).write_bytes(
                    cursor_uri, json.dumps(new_cursor).encode()
                )
            else:
                ctx.user_data.setdefault("lake_cursors", {})[cursor_uri] = new_cursor
        return self.register_output(ctx, out, self.params["outputView"])


@register_stage
class LakeCursorCommitExecute(PipelineStage):
    """Engine-specific: persist the cursor(s) staged by
    ``LakeChangesExtract`` — run AFTER the loads so a mid-pipeline
    failure replays the window instead of dropping it (at-least-once)."""

    stage_type = "LakeCursorCommitExecute"
    REQUIRED = ()
    OPTIONAL = ("cursorURI",)

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.fs import get_fs

        pending = ctx.user_data.get("lake_cursors", {})
        only = self.params.get("cursorURI")
        for uri, cur in list(pending.items()):
            if only and uri != only:
                continue
            get_fs(uri, ctx.spark).write_bytes(uri, json.dumps(cur).encode())
            logger.info("%s: cursor %s -> %s", self.name, uri, cur)
            del pending[uri]
        return None


@register_stage
class ANNIndexMaintain(PipelineStage):
    """Engine-specific: keep a persisted ANN index (LshIndex OR
    IVFIndex — auto-detected by meta object) fresh against a LakeTable
    WITHOUT rebuilds — the declarative CDC→serving loop. Pulls the
    table's ``changes_since`` from the cursor stored in the index meta
    (seeded at build or via ``sinceSeq``), re-keys only the delta with
    the stored planes/centroids, appends at a new generation and
    tombstones changed ids; the cursor advances in the same meta PUT.
    Rerunning after the table is caught up is a no-op (``up_to_date``)."""

    stage_type = "ANNIndexMaintain"
    REQUIRED = ("inputURI", "tableURI")
    OPTIONAL = ("sinceSeq", "outputView", "compactAfterGenerations")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.fs import get_fs, join as fs_join
        from arc_spark.lake.table import LakeTable
        from arc_spark.operators.similarity import IVFIndex, LshIndex

        uri = self.params["inputURI"]
        fs = get_fs(uri, ctx.spark)
        if fs.exists(fs_join(uri, LshIndex.META)):
            idx = LshIndex.load(ctx.spark, uri)
        elif fs.exists(fs_join(uri, IVFIndex.META)):
            idx = IVFIndex.load(ctx.spark, uri)
        else:
            raise ValueError(f"{self.name}: no ANN index meta under {uri}")
        table = LakeTable(self.params["tableURI"])
        since = self.params.get("sinceSeq")
        res = idx.sync_from_table(
            ctx.spark, table, since_seq=None if since is None else int(since)
        )
        # compactAfterGenerations: fold tombstone debt back into a clean
        # base once enough deltas have accumulated — the declarative loop
        # then needs no separate maintenance job (each generation grows
        # the tombstone table every query anti-filters through)
        cap = self.params.get("compactAfterGenerations")
        if cap is not None and int(idx.meta.get("gen", 0)) >= int(cap):
            idx.compact(ctx.spark)
            res = {**res, "compacted": True, "generation": 0}
        logger.info("%s: %s", self.name, res)
        out = ctx.spark.createDataFrame(
            [(res["status"], int(res["last_seq"]),
              int(res.get("upserts", 0)), int(res.get("deletes", 0)),
              int(res.get("generation", idx.meta.get("gen", 0))))],
            "status: string, last_seq: long, upserts: long, deletes: long, "
            "generation: long",
        )
        if "outputView" in self.params:
            return self.register_output(ctx, out, self.params["outputView"])
        return out


@register_stage
class SampleTransform(PipelineStage):
    """Engine-specific: deterministic key-hash sampling / train-test
    split (operators/sampling.py) — membership reproducible on any
    cluster size, append-stable, leakage-free per key."""

    stage_type = "SampleTransform"
    REQUIRED = ("inputView", "outputView", "keyField")
    OPTIONAL = ("fraction", "testFraction", "seed", "splitColumn")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.sampling import deterministic_sample, split_train_test

        df = ctx.spark.table(self.params["inputView"])
        key = self.params["keyField"]
        seed = int(self.params.get("seed", 0))
        if "fraction" in self.params:
            df = deterministic_sample(df, float(self.params["fraction"]), key, seed=seed)
        if "testFraction" in self.params:
            # distinct hash stream from the sample's: with a shared seed,
            # "test" would be a deterministic SUBSET of the sample
            # (P(test|sampled) = testFraction/fraction, not testFraction)
            df = split_train_test(
                df, key,
                test_fraction=float(self.params["testFraction"]),
                seed=seed + 7919,
                split_col=self.params.get("splitColumn", "split"),
            )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class DedupClusterTransform(PipelineStage):
    """Engine-specific: collapse a near-dup PAIR view (id_a, id_b — e.g.
    NearDupTransform output) into duplicate clusters via distributed
    connected components; output (id, cluster) where cluster is the
    canonical (minimum) member. Chain after NearDupTransform to turn
    pair detection into the keep/drop decision."""

    stage_type = "DedupClusterTransform"
    REQUIRED = ("inputView", "outputView")
    OPTIONAL = ("idA", "idB", "maxIter")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.operators.dedup import dedup_clusters

        out = dedup_clusters(
            ctx.spark.table(self.params["inputView"]),
            id_a=self.params.get("idA", "id_a"),
            id_b=self.params.get("idB", "id_b"),
            max_iter=int(self.params.get("maxIter", 20)),
        )
        return self.register_output(ctx, out, self.params["outputView"])


@register_stage
class DedupApplyTransform(PipelineStage):
    """Engine-specific: the FINAL step of a dedup pipeline — apply a
    cluster assignment (``clusterView``: (id, cluster) from
    DedupClusterTransform) to the document view. ``mode: keep`` (default)
    retains one representative per cluster (the canonical minimum member)
    plus every unclustered document; ``mode: drop`` emits only the
    documents that would be removed. Both are thin hash joins against
    the (id, cluster) table — no text moves through the decision."""

    stage_type = "DedupApplyTransform"
    REQUIRED = ("inputView", "clusterView", "outputView")
    OPTIONAL = ("idField", "mode")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.params["inputView"])
        clusters = ctx.spark.table(self.params["clusterView"])
        id_f = self.params.get("idField", "doc_id")
        mode = self.params.get("mode", "keep")
        # ids to REMOVE: cluster members that are not the representative
        drop_ids = clusters.filter(F.col("id") != F.col("cluster")).select(
            F.col("id").alias(id_f)
        )
        if mode == "keep":
            out = df.join(drop_ids, id_f, "left_anti")
        elif mode == "drop":
            out = df.join(drop_ids, id_f, "left_semi")
        else:
            raise ValueError(f"{self.name}: unknown mode {mode!r}")
        return self.register_output(ctx, out, self.params["outputView"])


@register_stage
class HTTPTransform(PipelineStage):
    """transform/HTTPTransform.scala:149-325 — batched POST of a column to
    an external service via mapInPandas with a per-partition pooled client.
    Network egress is unavailable in this sandbox; the stage is fully
    formed but requires a reachable endpoint at execute time."""

    stage_type = "HTTPTransform"
    REQUIRED = ("inputView", "outputView", "uri")
    OPTIONAL = ("inputField", "batchSize", "delimiter", "headers", "validStatusCodes")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        import pandas as pd

        uri = self.params["uri"]
        field = self.params.get("inputField", "value")
        batch_size = int(self.params.get("batchSize", 100))
        # reference batching (:214-270): batchSize rows are joined with
        # `delimiter` into ONE POST; the response body splits back into
        # one element per row — request count is ceil(rows/batchSize)
        delimiter = self.params.get("delimiter", "\n")
        headers = self.params.get("headers") or {}
        valid = set(self.params.get("validStatusCodes", [200, 201, 202]))
        src = ctx.spark.table(self.params["inputView"])
        out_schema = T.StructType(list(src.schema.fields) + [T.StructField("body", T.StringType(), True)])

        def call(batches):
            import urllib.request

            for pdf in batches:
                bodies: list[str] = []
                for start in range(0, len(pdf), batch_size):
                    chunk = pdf[field].iloc[start : start + batch_size]
                    sep = delimiter if len(chunk) > 1 else ""
                    payload = sep.join(str(v) for v in chunk)
                    req = urllib.request.Request(
                        uri, data=payload.encode(), headers=headers, method="POST"
                    )
                    with urllib.request.urlopen(req) as resp:
                        if resp.status not in valid:
                            raise ValueError(f"HTTP {resp.status}")
                        text = resp.read().decode()
                    parts = text.split(delimiter) if len(chunk) > 1 else [text]
                    if len(parts) != len(chunk):
                        raise ValueError(
                            f"HTTPTransform expected {len(chunk)} response elements, got {len(parts)}"
                        )
                    bodies.extend(parts)
                pdf = pdf.copy()
                pdf["body"] = pd.Series(bodies, index=pdf.index)
                yield pdf

        df = src.mapInPandas(call, schema=out_schema)
        return self.register_output(ctx, df, self.params["outputView"])


# ---------------------------------------------------------------------------
# loads
# ---------------------------------------------------------------------------


class _FileLoad(PipelineStage):
    """Shared load skeleton (load/ParquetLoad.scala:109-170): NullType
    columns dropped, saveMode, partitionBy, streaming writeStream branch."""

    format: str = ""

    REQUIRED = ("inputView", "outputURI")
    OPTIONAL = ("saveMode", "options", "checkpointLocation", "outputMode")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.params["inputView"])
        null_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.NullType)]
        if null_cols:
            df = df.drop(*null_cols)  # dropUnsupported (ParquetLoad.scala:118-131)
        opts = self.params.get("options") or {}
        uri = self.params["outputURI"]
        num_partitions = self.params.get("numPartitions")
        partition_by = self.params.get("partitionBy") or []
        if df.isStreaming:
            writer = (
                df.writeStream.format(self.format)
                .options(**opts)
                .option(
                    "checkpointLocation",
                    self.params.get("checkpointLocation", uri + "/_checkpoints"),
                )
                .outputMode(self.params.get("outputMode", "append"))
            )
            query = writer.start(uri)
            ctx.user_data.setdefault("streaming_queries", []).append(query)
            return df
        if num_partitions:
            df = df.repartition(int(num_partitions), *partition_by) if partition_by else df.repartition(int(num_partitions))
        writer = df.write.format(self.format).options(**opts).mode(
            self.params.get("saveMode", "overwrite")
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(uri)
        return df


@register_stage
class ParquetLoad(_FileLoad):
    """load/ParquetLoad.scala:109-170."""

    stage_type = "ParquetLoad"
    format = "parquet"


@register_stage
class ORCLoad(_FileLoad):
    """load/ORCLoad.scala:136-154."""

    stage_type = "ORCLoad"
    format = "orc"


@register_stage
class JSONLoad(_FileLoad):
    """load/JSONLoad.scala:137-155."""

    stage_type = "JSONLoad"
    format = "json"


@register_stage
class DelimitedLoad(_FileLoad):
    """load/DelimitedLoad.scala:154-172."""

    stage_type = "DelimitedLoad"
    format = "csv"


@register_stage
class AvroLoad(_FileLoad):
    """load/AvroLoad.scala:140-152 (no streaming branch in the reference).
    Falls back to the from-scratch OCF writer when spark-avro is absent."""

    stage_type = "AvroLoad"
    format = "avro"

    def execute(self, ctx: PipelineContext) -> DataFrame:
        try:
            return super().execute(ctx)
        except Exception as e:
            if not _missing_datasource(e):
                raise
            import shutil

            from arc_spark.formats.avro import write_avro_fallback

            df = ctx.spark.table(self.params["inputView"])
            uri = self.params["outputURI"]
            if self.params.get("saveMode", "overwrite") == "overwrite" and os.path.isdir(uri):
                shutil.rmtree(uri)
            write_avro_fallback(df, uri)
            return df


@register_stage
class TextLoad(PipelineStage):
    """load/TextLoad.scala:129-276. singleFile mode accepts [value],
    [value, filename] or [value, filename, index] signatures: one output
    file per filename, rows ordered by index within each file, each file
    wrapped with prefix/separator/suffix, written on the EXECUTORS
    (grouped by filename — the reference's repartition(col("filename")) +
    foreachPartition, :160-250, minus its quirk of attributing a whole
    hash-partition to its first row's filename), and the written paths
    recorded in ctx.events (its collectionAccumulator)."""

    stage_type = "TextLoad"
    REQUIRED = ("inputView",)
    OPTIONAL = ("outputURI", "singleFile", "prefix", "separator", "suffix",
                "saveMode", "singleFileNumPartitions")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.params["inputView"])
        uri = self.params.get("outputURI")
        if self.params.get("singleFile"):
            allowed = (["value"], ["value", "filename"], ["value", "filename", "index"])
            if sorted(df.columns) not in [sorted(a) for a in allowed]:
                raise ValueError(
                    f"{self.name}: singleFile requires [value], [value, filename] or "
                    f"[value, filename, index], got {df.columns}"
                )
            if "filename" not in df.columns:
                if not uri:
                    raise ValueError(
                        f"{self.name}: outputURI required when no 'filename' column exists"
                    )
                df = df.withColumn("filename", F.lit(uri))
            has_index = "index" in df.columns
            prefix = self.params.get("prefix", "")
            sep = self.params.get("separator", "\n")
            suffix = self.params.get("suffix", "")
            save_mode = self.params.get("saveMode", "overwrite").lower()
            n_part = int(self.params.get("singleFileNumPartitions", 32))
            written = self._write_single_files(
                ctx, df, uri, has_index=has_index, prefix=prefix, sep=sep,
                suffix=suffix, save_mode=save_mode, n_part=n_part,
            )
            ctx.events.append(
                {
                    "event": "stage.outputFiles",
                    "stage": self.name,
                    "outputFiles": written,
                }
            )
            return df
        df.write.mode(self.params.get("saveMode", "overwrite")).text(uri)
        return df

    def _write_single_files(
        self, ctx, df, uri, *, has_index, prefix, sep, suffix, save_mode, n_part
    ) -> list[str]:
        """Two-phase single-file assembly, streaming at every step (the
        reference streams row-by-row through Hadoop FS output streams,
        load/TextLoad.scala:173-248 — the earlier applyInPandas version
        buffered a whole file body per group, an OOM at large files):

        1. EXECUTORS spill rows as parquet parts, hash-partitioned and
           sorted by (filename, index) and directory-partitioned by
           filename — Spark's writer streams rows, so no file body is ever
           held in memory, and values survive byte-exact (newlines in
           values would corrupt a text-format spill).
        2. The DRIVER streams each file's part batches through an
           ArcFileSystem output stream (any scheme: POSIX, hdfs://,
           s3a://), injecting prefix/separator/suffix. A single output
           file is inherently a single sequential byte stream — doing it
           driver-side costs nothing in parallelism and bounds memory at
           one Arrow batch."""
        import uuid as _uuid
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        from arc_spark.fs import LocalFS, get_fs, join as fs_join

        if uri:
            spill_base = uri.rstrip("/") + "-spill"
        else:
            first = df.select("filename").limit(1).collect()
            if not first:
                return []
            spill_base = first[0][0].rsplit("/", 1)[0] + "/_textload-spill"
        spill = f"{spill_base}-{_uuid.uuid4().hex[:8]}"
        fs = get_fs(spill, ctx.spark)
        sort_cols = ["filename"] + (["index"] if has_index else [])
        (
            df.repartition(n_part, "filename")
            .sortWithinPartitions(*sort_cols)
            .write.partitionBy("filename")
            .mode("overwrite")
            .parquet(spill)
        )
        written: list[str] = []
        try:
            for entry in sorted(fs.listdir(spill)):
                if not entry.startswith("filename="):
                    continue
                path = unquote(entry.split("=", 1)[1])
                parts = [
                    fs_join(spill, entry, n)
                    for n in sorted(fs.listdir(fs_join(spill, entry)))
                    if n.endswith(".parquet")
                ]
                tfs = get_fs(path, ctx.spark)
                exists = tfs.exists(path)
                if exists and save_mode == "errorifexists":
                    raise FileExistsError(path)
                out = (
                    tfs.open_append(path)
                    if exists and save_mode == "append"
                    else tfs.open_output(path)
                )
                with out:
                    out.write(prefix.encode())
                    first_row = True
                    for part in parts:
                        src = (
                            part if isinstance(fs, LocalFS) else fs.seekable_input(part)
                        )
                        for batch in pq.ParquetFile(src).iter_batches(columns=["value"]):
                            for v in batch.column(0):
                                if not first_row:
                                    out.write(sep.encode())
                                out.write(str(v).encode())
                                first_row = False
                    out.write(suffix.encode())
                written.append(path)
        finally:
            fs.rmtree(spill)
        return sorted(written)


@register_stage
class ConsoleLoad(PipelineStage):
    """load/ConsoleLoad.scala:75-93 — streaming console sink."""

    stage_type = "ConsoleLoad"
    REQUIRED = ("inputView",)
    OPTIONAL = ("outputMode",)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.params["inputView"])
        if not df.isStreaming:
            raise ValueError(f"{self.name}: ConsoleLoad requires a streaming view")
        query = (
            df.writeStream.format("console")
            .outputMode(self.params.get("outputMode", "append"))
            .start()
        )
        ctx.user_data.setdefault("streaming_queries", []).append(query)
        return df


@register_stage
class LakeMergeLoad(PipelineStage):
    """Engine-specific CDC sink: MERGE a deduped change-batch view into an
    arc_spark.lake table (the Iceberg MERGE INTO analogue) with epoch
    fencing. The inputView must be one row per key with an op column."""

    stage_type = "LakeMergeLoad"
    REQUIRED = ("inputView", "tableURI", "epoch", "startSeq", "endSeq")
    OPTIONAL = ("keys", "seqColumn", "numBuckets", "opColumn", "mode",
                "bucketLineage", "commitLockURI", "commitLockLeaseSeconds")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.lake.table import LakeTable

        df = ctx.spark.table(self.params["inputView"])
        # same multi-writer safety knobs as CDCReplayExecute — the
        # single-epoch primitive must not be the one unlockable path
        table = LakeTable(
            self.params["tableURI"],
            locker=_locker_from_params(self.params, ctx.spark),
        )
        if not table.exists():
            schema = T.StructType(
                [f for f in df.schema.fields if f.name != self.params.get("opColumn", "op")]
            )
            table.create(
                schema,
                list(self.params.get("keys", ["repo", "path"])),
                seq_col=self.params.get("seqColumn", "seq"),
                num_buckets=int(self.params.get("numBuckets", 32)),
            )
        result = table.merge(
            ctx.spark,
            df,
            epoch=int(self.params["epoch"]),
            start_seq=int(self.params["startSeq"]),
            end_seq=int(self.params["endSeq"]),
            op_col=self.params.get("opColumn", "op"),
            mode=self.params.get("mode", "cow"),
            bucket_lineage=bool(self.params.get("bucketLineage", False)),
        )
        ctx.user_data[f"{self.name}.merge"] = result
        return df


@register_stage
class CDCReplayExecute(PipelineStage):
    """Engine-specific: the FULL north-star workload as one declarative
    stage — tail a binlog/WAL change-event directory and replay it into a
    lake table via the checkpoint-resumable micro-batch runner
    (normalize + Arrow sha256 fingerprint → key-partitioned LWW dedup →
    epoch-fenced MERGE, per-epoch lineage metrics into ctx.events).
    ``LakeMergeLoad`` is the single-epoch primitive; this drives the
    whole resumable replay from a job config."""

    stage_type = "CDCReplayExecute"
    REQUIRED = ("eventsURI", "tableURI")
    OPTIONAL = ("batchSize", "strategy", "saltBuckets", "mergeMode",
                "numBuckets", "maxEpochs", "outputView", "commitLockURI",
                "commitLockLeaseSeconds", "lineage", "onBad",
                "quarantineURI", "metricsURI", "eventsFormat",
                "payloadSchema", "stageURI",
                "txMetadataURI", "snapshotURI", "snapshotSeq",
                "icebergMirror")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.cdc.bootstrap import DEFAULT_KEYS
        from arc_spark.cdc.runner import ReplayRunner
        from arc_spark.lake.table import LakeTable

        events_uri = self.params["eventsURI"]
        events_format = self.params.get("eventsFormat", "parquet")
        payload_schema = self.params.get("payloadSchema")
        if events_format == "debezium" and self.params.get("stageURI"):
            # scale path for a raw JSON tail: parse ONCE into
            # seq-clustered parquet (see stage_debezium's rescan
            # rationale), then replay the parquet with full pushdown.
            # Without stageURI the runner parses the tail inline per
            # epoch — fine for small tails.
            from arc_spark.cdc.debezium import stage_debezium

            existing = LakeTable(self.params["tableURI"])
            stage_debezium(
                ctx.spark, events_uri, self.params["stageURI"], payload_schema,
                # collapse at-least-once re-deliveries once, at staging,
                # over the keys the table has (or is about to be created
                # with)
                dedup_keys=(
                    existing.snapshot().key_cols
                    if existing.exists()
                    else list(DEFAULT_KEYS)
                ),
                tx_metadata_path=self.params.get("txMetadataURI"),
            )
            events_uri = self.params["stageURI"]
            events_format = "parquet"

        table = _replay_table(self, ctx, events_uri, events_format, payload_schema)
        # built before the bootstrap: the runner's constructor rejects a
        # bad strategy/salt pair before any epoch commits
        runner = ReplayRunner(
            ctx.spark,
            events_uri,
            table,
            events_format=events_format,
            payload_schema=payload_schema,
            batch_size=int(self.params.get("batchSize", 100_000)),
            strategy=self.params.get("strategy", "thin"),
            salt_buckets=_salt_buckets(self.params),
            merge_mode=self.params.get("mergeMode", "auto"),
            lineage=self.params.get("lineage", "global"),
            on_bad=self.params.get("onBad", "error"),
            quarantine_path=self.params.get("quarantineURI"),
            metrics_path=self.params.get("metricsURI"),
            # inline-tail tx gate; the stageURI branch gates at staging
            # instead (events_format is 'parquet' by then)
            tx_metadata_path=(
                self.params.get("txMetadataURI")
                if events_format == "debezium"
                else None
            ),
        )
        if self.params.get("snapshotURI"):
            # initial-load handoff (Debezium snapshot.mode=initial): commit
            # the source snapshot as the fenced first epoch at snapshotSeq;
            # the runner then tails from snapshotSeq + 1. Idempotent
            # on retry; rejected over a table that already replayed epochs.
            from arc_spark.cdc.bootstrap import bootstrap_snapshot

            if self.params.get("snapshotSeq") is None:
                raise ValueError(
                    f"stage {self.name}: snapshotURI requires snapshotSeq "
                    "(the source log position the snapshot was read at)"
                )
            snap_df = ctx.spark.read.option("mergeSchema", "true").parquet(
                self.params["snapshotURI"]
            )
            bootstrap_snapshot(
                ctx.spark, table, snap_df, int(self.params["snapshotSeq"])
            )
        max_epochs = self.params.get("maxEpochs")
        metrics = runner.run(max_epochs=int(max_epochs) if max_epochs else None)
        return _publish_replay(self, ctx, metrics, table)


@register_stage
class CDCStreamExecute(PipelineStage):
    """Engine-specific: the streaming twin of ``CDCReplayExecute`` — a
    Structured-Streaming file tail over the change-event directory,
    applied per micro-batch through foreachBatch into the epoch-fenced
    lake MERGE (arc_spark.streaming.StreamingReplay). ``availableNow``
    semantics: process everything currently present, then stop — rerun
    the job (same checkpointURI) to pick up new files exactly-once. The
    reference switches the same pipeline to streaming via
    ``etl.config.streaming`` (ConfigUtils.scala:643-660); here the
    streaming replay is its own stage because the checkpoint, not the
    manifest alone, carries the source offsets."""

    stage_type = "CDCStreamExecute"
    REQUIRED = ("tableURI", "checkpointURI")
    OPTIONAL = ("eventsURI", "strategy", "mergeMode", "numBuckets",
                "maxFilesPerTrigger",
                "outputView", "commitLockURI", "commitLockLeaseSeconds",
                "onBad", "quarantineURI", "metricsURI", "eventsFormat",
                "payloadSchema", "kafkaOptions",
                "icebergMirror")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.streaming.replay import StreamingReplay

        events_format = self.params.get("eventsFormat", "parquet")
        payload_schema = self.params.get("payloadSchema")
        # kafka: the source is a topic, not a directory — eventsURI is
        # replaced by kafkaOptions (kafka.bootstrap.servers + subscribe/
        # assign [+ startingOffsets, maxOffsetsPerTrigger, kafka.* auth])
        if events_format == "kafka":
            if "kafkaOptions" not in self.params:
                raise ValueError(
                    f"{self.name}: eventsFormat='kafka' requires kafkaOptions"
                )
        elif "eventsURI" not in self.params:
            raise ValueError(f"{self.name}: eventsURI is required")
        table = _replay_table(
            self, ctx, self.params.get("eventsURI"), events_format, payload_schema
        )
        mft = self.params.get("maxFilesPerTrigger")
        replay = StreamingReplay(
            ctx.spark,
            self.params.get("eventsURI"),
            table,
            kafka_options=self.params.get("kafkaOptions"),
            events_format=events_format,
            payload_schema=payload_schema,
            checkpoint_dir=self.params["checkpointURI"],
            strategy=self.params.get("strategy", "thin"),
            max_files_per_trigger=int(mft) if mft else None,
            merge_mode=self.params.get("mergeMode", "auto"),
            on_bad=self.params.get("onBad", "error"),
            quarantine_path=self.params.get("quarantineURI"),
            metrics_path=self.params.get("metricsURI"),
        )
        return _publish_replay(self, ctx, replay.run_available(), table)


def _replay_table(stage, ctx: PipelineContext, events_uri, events_format,
                  payload_schema):
    """A single-table replay stage's ``tableURI`` table, created with the
    stream's shape on the first run; its manifest CAS goes through the
    stage's commit lock (multi-writer safety on object stores, see
    _locker_from_params)."""
    from arc_spark.cdc.bootstrap import create_table_for_stream
    from arc_spark.lake.table import LakeTable

    locker = _locker_from_params(stage.params, ctx.spark)
    table = LakeTable(stage.params["tableURI"], locker=locker)
    if not table.exists():
        table, _ = create_table_for_stream(
            ctx.spark, events_uri, stage.params["tableURI"],
            num_buckets=int(stage.params.get("numBuckets", 32)),
            events_format=events_format, payload_schema=payload_schema,
        )
        table.locker = locker  # bootstrap constructs its own LakeTable
    return table


def _publish_replay(stage, ctx: PipelineContext, records: list[dict], table):
    """The tail of a single-table replay stage: its epoch records become
    pipeline events; ``icebergMirror`` appends one Iceberg snapshot of
    the replayed state (MOR debt exports zero-copy as sequence-number
    levels, so the mirror works at every compaction state); and
    ``outputView`` registers the table."""
    for m in records:
        ctx.events.append({"stage": stage.name, **m})
    if stage.params.get("icebergMirror"):
        from arc_spark.lake.iceberg_export import export_iceberg

        res = export_iceberg(ctx.spark, table)
        mirror_event = {"stage": stage.name, "event": "iceberg.mirror", **res}
        ctx.events.append(mirror_event)
        logger.info(json.dumps(mirror_event))
    out = stage.params.get("outputView")
    if out:
        return stage.register_output(ctx, table.read(ctx.spark), out)
    return None


@register_stage
class CDCMultiReplayExecute(PipelineStage):
    """Engine-specific: whole-database replication as one declarative
    stage — a table-tagged change stream (parquet ``tableColumn`` or a
    Debezium tail's ``source.table``) routed into one lake table per
    source table, every epoch published as ONE atomic
    :class:`arc_spark.lake.catalog.LakeCatalog` version-set commit, so
    cross-table readers never see a torn epoch. Tables are auto-created
    on first sight by default (the whole-database connector bootstrap);
    set ``onUnknownTable`` to ``error``/``ignore`` to pin the table set.
    Per-epoch metrics (with per-table status/rows) land in ctx.events."""

    stage_type = "CDCMultiReplayExecute"
    REQUIRED = ("eventsURI", "catalogURI")
    OPTIONAL = ("tableColumn", "batchSize", "strategy", "saltBuckets",
                "mergeMode", "numBuckets", "maxEpochs", "keys", "seqColumn",
                "onUnknownTable", "commitLockURI", "commitLockLeaseSeconds",
                "metricsURI", "eventsFormat", "payloadSchema", "outputViews",
                "icebergMirror")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.cdc.multi import MultiTableReplay
        from arc_spark.lake.catalog import LakeCatalog

        locker = _locker_from_params(self.params, ctx.spark)
        catalog = LakeCatalog(self.params["catalogURI"], locker=locker)
        if not catalog.exists():
            catalog.create()
        replay = MultiTableReplay(
            ctx.spark,
            self.params["eventsURI"],
            catalog,
            table_col=self.params.get("tableColumn", "table"),
            batch_size=int(self.params.get("batchSize", 100_000)),
            strategy=self.params.get("strategy", "thin"),
            salt_buckets=_salt_buckets(self.params),
            keys=self.params.get("keys"),
            seq_col=self.params.get("seqColumn", "seq"),
            merge_mode=self.params.get("mergeMode", "auto"),
            metrics_path=self.params.get("metricsURI"),
            on_unknown_table=self.params.get("onUnknownTable", "create"),
            num_buckets=int(self.params.get("numBuckets", 32)),
            events_format=self.params.get("eventsFormat", "parquet"),
            payload_schema=self.params.get("payloadSchema"),
        )
        max_epochs = self.params.get("maxEpochs")
        metrics = replay.run(max_epochs=int(max_epochs) if max_epochs else None)
        for m in metrics:
            ctx.events.append({"stage": self.name, **m})
        if self.params.get("icebergMirror"):
            # publish the replicated database as an Iceberg WAREHOUSE:
            # one Iceberg table per member, each at the version pinned
            # by the catalog snapshot (the last atomic epoch)
            from arc_spark.lake.iceberg_export import export_catalog_iceberg

            res = export_catalog_iceberg(ctx.spark, catalog)
            mirror_event = {
                "stage": self.name, "event": "iceberg.mirror.catalog",
                "catalog_version": res["catalog_version"],
                "tables": {n: r["metadata"]
                           for n, r in res["tables"].items()},
            }
            ctx.events.append(mirror_event)
            logger.info(json.dumps(mirror_event))
        # outputViews: {tableName: viewName} — catalog-consistent reads
        out = None
        for tname, view in (self.params.get("outputViews") or {}).items():
            out = self.register_output(ctx, catalog.read(ctx.spark, tname), view)
        return out


# ---------------------------------------------------------------------------
# validate / execute
# ---------------------------------------------------------------------------


@register_stage
class SQLValidate(PipelineStage):
    """validate/SQLValidate.scala:105-179 — SQL must return exactly one row
    [outcome boolean, message string]; outcome false aborts the job. The
    canonical data-quality gate on typing ``_errors``."""

    stage_type = "SQLValidate"
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        rows = ctx.spark.sql(sql).collect()
        if len(rows) != 1 or len(rows[0]) != 2:
            raise ValueError(
                f"{self.name}: validation SQL must return exactly 1 row of "
                f"[outcome boolean, message], got {len(rows)} rows"
            )
        outcome, message = rows[0][0], rows[0][1]
        try:
            message = json.loads(message)
        except (TypeError, json.JSONDecodeError):
            pass
        ctx.user_data[f"{self.name}.message"] = message
        if not outcome:
            raise ValueError(f"{self.name}: validation failed: {message}")
        return None


@register_stage
class EqualityValidate(PipelineStage):
    """validate/EqualityValidate.scala:87-156 — assert two views identical:
    column names/types, then full row-hash anti-joins both ways. Internal
    (metadata internal=true) columns are excluded (:96-100). This is the
    CDC replay-equivalence checker."""

    stage_type = "EqualityValidate"
    REQUIRED = ("leftView", "rightView")

    def execute(self, ctx: PipelineContext) -> None:
        left = ctx.spark.table(self.params["leftView"])
        right = ctx.spark.table(self.params["rightView"])

        def public_cols(df: DataFrame) -> list[str]:
            return [
                f.name
                for f in df.schema.fields
                if not (f.metadata or {}).get("internal", False)
            ]

        lc, rc = public_cols(left), public_cols(right)
        if sorted(lc) != sorted(rc):
            raise ValueError(
                f"{self.name}: column sets differ: {sorted(set(lc) ^ set(rc))}"
            )
        lh = left.select(F.sha2(F.to_json(F.struct(*sorted(lc))), 512).alias("_h"))
        rh = right.select(F.sha2(F.to_json(F.struct(*sorted(rc))), 512).alias("_h"))
        only_left = lh.join(rh, "_h", "left_anti").count()
        only_right = rh.join(lh, "_h", "left_anti").count()
        if only_left or only_right:
            raise ValueError(
                f"{self.name}: views differ — {only_left} rows only in "
                f"{self.params['leftView']}, {only_right} only in {self.params['rightView']}"
            )
        return None


@register_stage
class MetadataValidate(PipelineStage):
    """validate/MetadataValidate.scala:110-183 — SQL over the reified
    ``metadata`` schema-view, 1-row [outcome, message] contract (e.g.
    forbid pii=true columns)."""

    stage_type = "MetadataValidate"
    REQUIRED = ("inputView",)
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        src = ctx.spark.table(self.params["inputView"])
        rows = [
            (f.name, f.dataType.simpleString(), f.nullable, json.dumps(f.metadata or {}))
            for f in src.schema.fields
        ]
        ctx.spark.createDataFrame(
            rows, "name string, type string, nullable boolean, metadata string"
        ).createOrReplaceTempView("metadata")
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        out = ctx.spark.sql(sql).collect()
        if len(out) != 1 or len(out[0]) != 2:
            raise ValueError(f"{self.name}: must return 1 row [outcome, message]")
        if not out[0][0]:
            raise ValueError(f"{self.name}: validation failed: {out[0][1]}")
        return None


@register_stage
class LogExecute(PipelineStage):
    """execute/LogExecute.scala:106-171 — SQL → 1 row message to the log."""

    stage_type = "LogExecute"
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        row = ctx.spark.sql(sql).first()
        ctx.user_data[f"{self.name}.message"] = row[0] if row else None
        return None


@register_stage
class ControlFlowExecute(PipelineStage):
    """execute/ControlFlowExecute.scala:113-187 — SQL → [outcome bool,
    message]; stores the payload for the ControlFlow lifecycle gate."""

    stage_type = "ControlFlowExecute"
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams", "key")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        row = ctx.spark.sql(sql).first()
        key = self.params.get("key", "controlflow")
        ctx.user_data[key] = {"outcome": bool(row[0]), "message": row[1] if len(row) > 1 else None}
        return None


@register_stage
class PipelineExecute(PipelineStage):
    """execute/PipelineExecute.scala — inline a nested pipeline config;
    flattened into the parent stage list at parse time
    (config/ArcPipeline.scala:101-109)."""

    stage_type = "PipelineExecute"
    REQUIRED = ("uri",)

    def validate_config(self, ctx: PipelineContext) -> None:
        from arc_spark.pipeline.config import parse_pipeline
        from arc_spark.pipeline.hocon import ipynb_to_config, read_uri

        text = read_uri(self.params["uri"])
        if self.params["uri"].endswith(".ipynb"):
            text = ipynb_to_config(text)
        sub = parse_pipeline(text, ctx)
        self._inline_stages = sub.stages

    def execute(self, ctx: PipelineContext) -> None:  # pragma: no cover
        return None  # replaced by _inline_stages at parse time


# ---------------------------------------------------------------------------
# lifecycle plugins
# ---------------------------------------------------------------------------


class ControlFlow(LifecyclePlugin):
    """plugins/lifecycle/ControlFlow.scala:56-95 — if a stored payload's
    outcome is false, skip all remaining stages."""

    def __init__(self, key: str = "controlflow"):
        self.key = key

    def run_stage(self, stage: PipelineStage, ctx: PipelineContext) -> bool:
        payload = ctx.user_data.get(self.key)
        return payload is None or payload.get("outcome", True)


class ChaosMonkey(LifecyclePlugin):
    """plugins/lifecycle/ChaosMonkey.scala:81-96 — failure injection: with
    probability p, throw after a stage (resumability testing)."""

    def __init__(self, probability: float = 0.0, seed: int | None = None):
        self.probability = probability
        self.rand = _random.Random(seed)

    def after(self, stage, ctx, df):
        if self.rand.random() < self.probability:
            raise RuntimeError(f"ChaosMonkey strikes after stage {stage.name!r}")
        return df


class DataLineage(LifecyclePlugin):
    """plugins/lifecycle/DataLineage.scala:79-105 — capture the analyzed
    logical plan of load outputs into the event log."""

    def after(self, stage, ctx, df):
        if df is not None and stage.stage_type.endswith("Load"):
            try:
                plan = df._jdf.queryExecution().analyzed().toJSON()
            except Exception:
                plan = None
            ctx.events.append(
                {"event": "lineage", "stage": stage.name, "plan": plan}
            )
        return df


# ---------------------------------------------------------------------------
# external-system stages (fully formed; need a reachable endpoint/driver at
# execute time — unavailable in this sandbox, covered by lint-mode tests)
# ---------------------------------------------------------------------------


@register_stage
class ImageExtract(PipelineStage):
    """extract/ImageExtract.scala:126-160 — image directory read via
    Spark's built-in image source: batch honors basePath (partition
    discovery root), streaming uses the fixed image schema + optional
    watermark; a missing path yields a typed empty frame (:143-145)."""

    stage_type = "ImageExtract"
    REQUIRED = ("inputURI", "outputView")
    OPTIONAL = ("dropInvalid", "basePath", "watermark")

    _IMAGE_SCHEMA = (
        "image STRUCT<origin: STRING, height: INT, width: INT, "
        "nChannels: INT, mode: INT, data: BINARY>"
    )

    def execute(self, ctx: PipelineContext) -> DataFrame:
        drop_invalid = str(self.params.get("dropInvalid", False)).lower()
        uri = self.params["inputURI"]
        if ctx.streaming:
            reader = (
                ctx.spark.readStream.format("image")
                .option("dropInvalid", drop_invalid)
                .schema(self._IMAGE_SCHEMA)
            )
            df = reader.load(uri)
            wm = self.params.get("watermark")
            if wm:
                df = df.withWatermark(wm["eventTime"], wm["delayThreshold"])
        else:
            reader = ctx.spark.read.format("image").option("dropInvalid", drop_invalid)
            if self.params.get("basePath"):
                reader = reader.option("basePath", self.params["basePath"])
            try:
                df = reader.load(uri)
            except Exception as e:
                if not _empty_input(e):
                    raise
                df = ctx.spark.createDataFrame([], self._IMAGE_SCHEMA)
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class JDBCExtract(PipelineStage):
    """extract/JDBCExtract.scala:150-199 — partitioned JDBC read with
    auto-computed lower/upper bounds via SELECT MIN(c), MAX(c) (:152-179)."""

    stage_type = "JDBCExtract"
    REQUIRED = ("jdbcURL", "tableName", "outputView")
    OPTIONAL = ("partitionColumn", "fetchsize", "predicates", "params", "driver", "boundsQuery")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        url, table = self.params["jdbcURL"], self.params["tableName"]
        props = {k: str(v) for k, v in (self.params.get("params") or {}).items()}
        if self.params.get("driver"):
            props["driver"] = self.params["driver"]
        if self.params.get("fetchsize"):
            props["fetchsize"] = str(self.params["fetchsize"])
        reader = ctx.spark.read
        part_col = self.params.get("partitionColumn")
        num_partitions = self.params.get("numPartitions")
        if part_col and num_partitions:
            # auto MIN/MAX bounds, computed by the database (one row);
            # ANSI-quote the column — unquoted identifiers are upcased by
            # Derby/Postgres-family engines and won't match Spark-written
            # lowercase columns (override with boundsQuery for engines with
            # non-ANSI quoting, e.g. MySQL backticks)
            bounds_sql = self.params.get(
                "boundsQuery",
                f'(SELECT MIN("{part_col}") AS lo, MAX("{part_col}") AS hi FROM {table}) b',
            )
            bounds = reader.jdbc(url, bounds_sql, properties=props).first()
            df = reader.jdbc(
                url, table, column=part_col,
                # positional access — engines upcase unquoted aliases
                lowerBound=int(bounds[0]), upperBound=int(bounds[1]) + 1,
                numPartitions=int(num_partitions), properties=props,
            )
        elif self.params.get("predicates"):
            df = reader.jdbc(url, table, predicates=list(self.params["predicates"]), properties=props)
        else:
            df = reader.jdbc(url, table, properties=props)
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class JDBCLoad(PipelineStage):
    """load/JDBCLoad.scala:154-310 — write via df.write.jdbc with
    post-write row-count parity verification (:279-293)."""

    stage_type = "JDBCLoad"
    REQUIRED = ("inputView", "jdbcURL", "tableName")
    OPTIONAL = ("saveMode", "isolationLevel", "batchsize", "truncate",
                "dropUnsupported", "params", "driver", "verify",
                "checkpointLocation")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        df = ctx.spark.table(self.params["inputView"])
        # JDBC cannot write array/null-typed columns — drop when allowed,
        # else fail with the offending names (JDBCLoad.scala:219-235)
        bad = [
            f.name for f in df.schema.fields
            if f.dataType.typeName() in ("array", "void", "null")
        ]
        if bad:
            if self.params.get("dropUnsupported", False):
                df = df.drop(*bad)
            else:
                raise ValueError(
                    f"{self.name}: columns {bad} have types unsupported by JDBC "
                    f"and dropUnsupported is false"
                )
        props = {k: str(v) for k, v in (self.params.get("params") or {}).items()}
        if self.params.get("driver"):
            props["driver"] = self.params["driver"]
        if self.params.get("batchsize"):
            props["batchsize"] = str(self.params["batchsize"])
        # truncate-on-Overwrite keeps the table (indexes/grants) instead of
        # dropping it; isolationLevel passes through to the JDBC writer
        # (JDBCLoad.scala:255-258)
        if self.params.get("truncate") is not None:
            props["truncate"] = str(self.params["truncate"]).lower()
        if self.params.get("isolationLevel"):
            props["isolationLevel"] = self.params["isolationLevel"]
        if df.isStreaming:
            # streaming sink: per-micro-batch JDBC append (the reference's
            # JDBCSink ForeachWriter role, util/JDBCSink.scala:17-80 /
            # load/JDBCLoad.scala:240-248)
            url, table = self.params["jdbcURL"], self.params["tableName"]

            def write_batch(batch: DataFrame, batch_id: int) -> None:
                batch.write.jdbc(url, table, mode="append", properties=props)

            query = (
                df.writeStream.foreachBatch(write_batch)
                .option(
                    "checkpointLocation",
                    self.params.get("checkpointLocation", f"/tmp/_jdbc_ck_{self.name}"),
                )
                .start()
            )
            ctx.user_data.setdefault("streaming_queries", []).append(query)
            return df
        # cache + count BEFORE the write so verification doesn't recompute
        # upstream non-deterministically (JDBCLoad.scala:162-165)
        df = df.persist()
        expected = df.count()
        mode = self.params.get("saveMode", "append")
        verify = self.params.get("verify", True)

        def _target_count() -> int:
            return ctx.spark.read.jdbc(
                self.params["jdbcURL"], self.params["tableName"], properties=props
            ).count()

        # pre/post delta, not a total-count floor: comparing the whole
        # target count to this batch masks lost writes whenever the table
        # already has rows (load/JDBCLoad.scala:279-293 counts both sides)
        pre = 0
        if verify and mode == "append":
            try:
                pre = _target_count()
            except Exception:
                pre = 0  # table doesn't exist yet
        df.write.jdbc(
            self.params["jdbcURL"], self.params["tableName"], mode=mode, properties=props
        )
        if verify:
            post = _target_count()
            delta = post - pre if mode == "append" else post
            if delta != expected:
                raise ValueError(
                    f"{self.name}: JDBC write verification failed: wrote {expected}, "
                    f"target gained {delta} (pre={pre}, post={post})"
                )
        df.unpersist()
        return df


@register_stage
class JDBCExecute(PipelineStage):
    """execute/JDBCExecute.scala:104-137 — run DDL/DML on an external DB
    through the JVM DriverManager (driver-side, like the reference)."""

    stage_type = "JDBCExecute"
    REQUIRED = ("jdbcURL",)
    OPTIONAL = ("sql", "sqlURI", "inputURI", "params")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        jvm = ctx.spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.params["jdbcURL"])
        try:
            stmt = conn.createStatement()
            stmt.execute(sql)
            stmt.close()
        finally:
            conn.close()
        return None


@register_stage
class HTTPExecute(PipelineStage):
    """execute/HTTPExecute.scala:103-146 — POST params JSON to an endpoint,
    assert the response status (driver-side)."""

    stage_type = "HTTPExecute"
    REQUIRED = ("uri",)
    OPTIONAL = ("payloads", "headers", "validStatusCodes")

    def execute(self, ctx: PipelineContext) -> None:
        import urllib.request

        body = json.dumps(self.params.get("payloads") or {}).encode()
        req = urllib.request.Request(
            self.params["uri"], data=body,
            headers={"Content-Type": "application/json", **(self.params.get("headers") or {})},
            method="POST",
        )
        valid = set(self.params.get("validStatusCodes", [200, 201, 202]))
        with urllib.request.urlopen(req) as resp:
            if resp.status not in valid:
                raise ValueError(f"{self.name}: HTTP {resp.status}")
        return None


@register_stage
class HTTPLoad(PipelineStage):
    """load/HTTPLoad.scala:109-253 — POST each row's ``value`` column to an
    endpoint from the executors (foreachPartition with a pooled client)."""

    stage_type = "HTTPLoad"
    REQUIRED = ("inputView", "outputURI")
    OPTIONAL = ("headers", "validStatusCodes")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        uri = self.params["outputURI"]
        headers = self.params.get("headers") or {}
        valid = set(self.params.get("validStatusCodes", [200, 201, 202]))
        df = ctx.spark.table(self.params["inputView"])

        def send(rows):
            import urllib.request

            for row in rows:
                req = urllib.request.Request(
                    uri, data=str(row["value"]).encode(), headers=headers, method="POST"
                )
                with urllib.request.urlopen(req) as resp:
                    if resp.status not in valid:
                        raise ValueError(f"HTTP {resp.status}")

        df.foreachPartition(send)
        return df


@register_stage
class MLTransform(PipelineStage):
    """transform/MLTransform.scala:140-230 — apply a saved SparkML
    PipelineModel; appends prediction (+ max probability when present)."""

    stage_type = "MLTransform"
    REQUIRED = ("inputView", "outputView", "inputURI")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from pyspark.ml import PipelineModel
        from pyspark.ml.functions import vector_to_array

        model = PipelineModel.load(self.params["inputURI"])
        df = model.transform(ctx.spark.table(self.params["inputView"]))
        if "probability" in df.columns:
            df = df.withColumn("probability", F.array_max(vector_to_array("probability")))
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class ConfigExecute(PipelineStage):
    """execute/ConfigExecute.scala:115-184 — SQL → one JSON-string row
    merged into the runtime args for later ${param} resolution (the lazy
    stage-config mechanism)."""

    stage_type = "ConfigExecute"
    OPTIONAL = ("sql", "sqlURI", "inputURI", "sqlParams")
    ONE_OF = (("sql", "sqlURI", "inputURI"),)

    def execute(self, ctx: PipelineContext) -> None:
        sql = self.params.get("sql")
        if sql is None:
            from arc_spark.pipeline.hocon import read_uri

            sql = read_uri(self.params.get("sqlURI") or self.params["inputURI"])
        sql = substitute_params(sql, {**ctx.args, **(self.params.get("sqlParams") or {})})
        row = ctx.spark.sql(sql).first()
        if row is None or len(row) != 1:
            raise ValueError(f"{self.name}: must return 1 row with 1 JSON string column")
        ctx.args.update({k: str(v) for k, v in json.loads(row[0]).items()})
        return None


@register_stage
class HTTPExtract(PipelineStage):
    """extract/HTTPExtract.scala:150-280 — GET/POST per row of an input
    view (or a single URI) returning [uri, statusCode, reasonPhrase,
    contentType, contentLength, body]; executor-side pooled client via
    mapInPandas (:179-186). Requires reachable endpoints at execute time."""

    stage_type = "HTTPExtract"
    REQUIRED = ("outputView",)
    OPTIONAL = ("inputURI", "inputView", "uriField", "bodyField", "method",
                "headers", "validStatusCodes")
    ONE_OF = (("inputURI", "inputView"),)

    def execute(self, ctx: PipelineContext) -> DataFrame:
        import pandas as pd

        method = self.params.get("method", "GET").upper()
        headers = self.params.get("headers") or {}
        valid = set(self.params.get("validStatusCodes", [200, 201, 202]))
        uri_field = self.params.get("uriField", "value")
        body_field = self.params.get("bodyField")

        if "inputURI" in self.params:
            src = ctx.spark.createDataFrame(
                [(self.params["inputURI"],)], f"{uri_field} string"
            )
        else:
            src = ctx.spark.table(self.params["inputView"])

        out_schema = T.StructType(
            [
                T.StructField("uri", T.StringType(), True),
                T.StructField("statusCode", T.IntegerType(), True),
                T.StructField("reasonPhrase", T.StringType(), True),
                T.StructField("contentType", T.StringType(), True),
                T.StructField("contentLength", T.LongType(), True),
                T.StructField("body", T.StringType(), True),
            ]
        )

        def fetch(batches):
            import urllib.request

            for pdf in batches:
                rows = {k.name: [] for k in out_schema.fields}
                for i in range(len(pdf)):
                    uri = str(pdf[uri_field].iloc[i])
                    data = (
                        str(pdf[body_field].iloc[i]).encode()
                        if body_field is not None
                        else None
                    )
                    req = urllib.request.Request(uri, data=data, headers=headers, method=method)
                    with urllib.request.urlopen(req) as resp:
                        if resp.status not in valid:
                            raise ValueError(f"HTTP {resp.status} for {uri}")
                        body = resp.read().decode(errors="replace")
                        rows["uri"].append(uri)
                        rows["statusCode"].append(resp.status)
                        rows["reasonPhrase"].append(resp.reason)
                        rows["contentType"].append(resp.headers.get("Content-Type"))
                        rows["contentLength"].append(len(body))
                        rows["body"].append(body)
                yield pd.DataFrame(rows)

        df = src.mapInPandas(fetch, schema=out_schema)
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class TensorFlowServingTransform(PipelineStage):
    """transform/TensorFlowServingTransform.scala:149-302 — batched REST
    calls to a TF Serving predict endpoint; appends a typed ``result``
    column. Same executor-side batched-POST pattern as HTTPTransform."""

    stage_type = "TensorFlowServingTransform"
    REQUIRED = ("inputView", "outputView", "uri")
    OPTIONAL = ("inputField", "batchSize", "signatureName", "responseType")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        import pandas as pd

        uri = self.params["uri"]
        field = self.params.get("inputField", "value")
        batch_size = int(self.params.get("batchSize", 100))
        signature = self.params.get("signatureName")
        rtype = self.params.get("responseType", "double")
        spark_rtype = {"integer": T.IntegerType(), "double": T.DoubleType(), "object": T.StringType()}[rtype]
        src = ctx.spark.table(self.params["inputView"])
        out_schema = T.StructType(list(src.schema.fields) + [T.StructField("result", spark_rtype, True)])

        def call(batches):
            import urllib.request

            for pdf in batches:
                results = []
                for start in range(0, len(pdf), batch_size):
                    chunk = pdf[field].iloc[start : start + batch_size]
                    payload = {"instances": [v for v in chunk]}
                    if signature:
                        payload["signature_name"] = signature
                    req = urllib.request.Request(
                        uri, data=json.dumps(payload).encode(),
                        headers={"Content-Type": "application/json"}, method="POST",
                    )
                    with urllib.request.urlopen(req) as resp:
                        preds = json.loads(resp.read())["predictions"]
                    results.extend(preds)
                pdf = pdf.copy()
                pdf["result"] = pd.Series(results, index=pdf.index)
                yield pdf

        df = src.mapInPandas(call, schema=out_schema)
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class LakeCompactExecute(PipelineStage):
    """Engine-specific maintenance stage: rewrite lake buckets into single
    files and vacuum tombstones below a seq low-watermark (see
    arc_spark.lake.table.LakeTable.compact)."""

    stage_type = "LakeCompactExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("vacuumTombstonesBelowSeq", "buckets", "maxFiles",
                "commitLockURI", "commitLockLeaseSeconds")

    def execute(self, ctx: PipelineContext) -> None:
        from arc_spark.lake.table import LakeTable

        buckets = self.params.get("buckets")
        if buckets is not None and buckets != "auto" and not isinstance(
            buckets, (list, tuple)
        ):
            # a scalar bucket id ("12" or 12): one-element list — a bare
            # string would be iterated character-wise downstream
            buckets = [str(buckets)]
        res = LakeTable(
            self.params["tableURI"],
            locker=_locker_from_params(self.params, ctx.spark),
        ).compact(
            ctx.spark,
            buckets=buckets,
            max_files=int(self.params.get("maxFiles", 4)),
            vacuum_tombstones_below_seq=self.params.get("vacuumTombstonesBelowSeq"),
        )
        ctx.user_data[f"{self.name}.result"] = res
        return None


@register_stage
class LakeGrowExecute(PipelineStage):
    """Engine-specific maintenance stage: bucket-count (partition-spec)
    evolution — multiply the table's num_buckets by ``factor`` with a
    metadata-only commit (LakeTable.grow_buckets); writes split the old
    buckets lazily and ``LakeCompactExecute`` with ``buckets: auto``
    finishes the migration. The step a deployment schedules as the table
    grows toward 10^10 events, instead of rebuilding it."""

    stage_type = "LakeGrowExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("factor", "commitLockURI", "commitLockLeaseSeconds")

    def execute(self, ctx: PipelineContext) -> None:
        from arc_spark.lake.table import LakeTable

        table = LakeTable(
            self.params["tableURI"],
            locker=_locker_from_params(self.params, ctx.spark),
        )
        res = table.grow_buckets(int(self.params.get("factor", 2)), spark=ctx.spark)
        ctx.user_data[f"{self.name}.result"] = res
        ctx.events.append({"stage": self.name, **res})
        return None


@register_stage
class LakeExpireExecute(PipelineStage):
    """Engine-specific maintenance stage: expire old snapshots + delete
    orphaned data files (LakeTable.expire_snapshots)."""

    stage_type = "LakeExpireExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("keepLast",)

    def execute(self, ctx: PipelineContext) -> None:
        from arc_spark.lake.table import LakeTable

        res = LakeTable(self.params["tableURI"]).expire_snapshots(
            keep_last=int(self.params.get("keepLast", 2))
        )
        ctx.user_data[f"{self.name}.result"] = res
        return None


@register_stage
class IcebergExtract(PipelineStage):
    """Engine-specific interop source: read an EXISTING Apache Iceberg v2
    table (written by Spark/Trino/Flink/pyiceberg — or this engine's own
    exporter) into a view, without the Iceberg runtime jar: the metadata
    chain is parsed with the repo's JSON/Avro readers and position +
    equality deletes are applied per the spec's sequence-number rules.
    ``snapshotId`` time-travels; ``metadataFile`` pins a metadata
    version. See arc_spark.lake.iceberg_read."""

    stage_type = "IcebergExtract"
    REQUIRED = ("inputURI", "outputView")
    OPTIONAL = ("snapshotId", "metadataFile")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.lake.iceberg_read import read_iceberg

        sid = self.params.get("snapshotId")
        df = read_iceberg(
            ctx.spark,
            self.params["inputURI"],
            snapshot_id=int(sid) if sid is not None else None,
            metadata_file=self.params.get("metadataFile"),
        )
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class IcebergAppendsExtract(PipelineStage):
    """Engine-specific incremental source: the rows an append-only
    Iceberg table (e.g. a write_iceberg landing zone) gained after
    ``sinceSnapshotId`` — Iceberg incremental-append-scan semantics
    (per-snapshot ADDED diffing; compaction ``replace`` snapshots are
    skipped, anything history-rewriting fails closed). Omitting
    ``sinceSnapshotId`` bootstraps from the full current live file set.
    The new cursor lands in ``ctx.user_data["<name>.snapshot_id"]`` and
    the stage event, for the caller to persist between runs. See
    arc_spark.lake.iceberg_read.read_iceberg_appends."""

    stage_type = "IcebergAppendsExtract"
    REQUIRED = ("inputURI", "outputView")
    OPTIONAL = ("sinceSnapshotId", "metadataFile")

    def execute(self, ctx: PipelineContext) -> DataFrame:
        from arc_spark.lake.iceberg_read import read_iceberg_appends

        since = self.params.get("sinceSnapshotId")
        df, cursor = read_iceberg_appends(
            ctx.spark,
            self.params["inputURI"],
            int(since) if since is not None else None,
            metadata_file=self.params.get("metadataFile"),
        )
        ctx.user_data[f"{self.name}.snapshot_id"] = cursor
        ctx.events.append({"stage": self.name, "snapshot_id": cursor})
        return self.register_output(ctx, df, self.params["outputView"])


@register_stage
class IcebergExportExecute(PipelineStage):
    """Engine-specific interop stage: publish the lake table's current
    snapshot as an Apache Iceberg v2 table (metadata-only, zero data
    copy; tombstoned keys become an equality-delete file) so any Iceberg
    reader — Spark+runtime jar, Trino, DuckDB, pyiceberg — can consume
    the replicated state in place. Outstanding MOR delta chains export
    zero-copy as sequence-number levels with per-level equality deletes,
    so no compaction is forced. See arc_spark.lake.iceberg_export."""

    stage_type = "IcebergExportExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("version",)

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.lake.iceberg_export import export_iceberg
        from arc_spark.lake.table import LakeTable

        table = LakeTable(self.params["tableURI"])
        v = self.params.get("version")
        res = export_iceberg(ctx.spark, table,
                             version=int(v) if v is not None else None)
        ctx.user_data[f"{self.name}.result"] = res
        ctx.events.append({"stage": self.name, **res})
        return None


@register_stage
class IcebergCompactExecute(PipelineStage):
    """Engine-specific maintenance stage for an append-only Iceberg
    LANDING ZONE (the table ``write_iceberg`` feeds and
    ``eventsFormat=iceberg`` tails): bin-pack files smaller than
    ``smallFileMB`` into ~``targetFileMB`` outputs as one ``replace``
    snapshot (compact_iceberg), then optionally expire history down to
    ``keepLast`` snapshots and reclaim the rewritten inputs
    (expire_iceberg_landing). Snapshot-cursor consumers skip the replace
    snapshot, so nothing double-reads; an expired cursor fails loudly
    toward re-bootstrap. The declarative form of Iceberg's
    RewriteDataFiles + ExpireSnapshots maintenance pair."""

    stage_type = "IcebergCompactExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("smallFileMB", "targetFileMB", "minInputFiles", "keepLast")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.lake.iceberg_export import (
            compact_iceberg,
            expire_iceberg_landing,
        )

        res = compact_iceberg(
            ctx.spark, self.params["tableURI"],
            small_file_mb=int(self.params.get("smallFileMB", 32)),
            target_file_mb=int(self.params.get("targetFileMB", 128)),
            min_input_files=int(self.params.get("minInputFiles", 4)),
        )
        keep_last = self.params.get("keepLast")
        if keep_last is not None:
            res["expire"] = expire_iceberg_landing(
                ctx.spark, self.params["tableURI"],
                keep_last=int(keep_last),
            )
        ctx.user_data[f"{self.name}.result"] = res
        ctx.events.append({"stage": self.name, **res})
        return None


@register_stage
class LakeRollbackExecute(PipelineStage):
    """Engine-specific maintenance stage: restore the table to a prior
    snapshot as a NEW manifest version (LakeTable.rollback) — the
    declarative bad-batch undo. ``toVersion`` picks the snapshot;
    ``commitLockURI``/``commitLockLeaseSeconds`` route the commit through
    the same lock the writers use (required under concurrent writers on
    object stores)."""

    stage_type = "LakeRollbackExecute"
    REQUIRED = ("tableURI", "toVersion")
    OPTIONAL = ("commitLockURI", "commitLockLeaseSeconds", "outputView")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from arc_spark.lake.table import LakeTable

        table = LakeTable(
            self.params["tableURI"],
            locker=_locker_from_params(self.params, ctx.spark),
        )
        res = table.rollback(int(self.params["toVersion"]))
        ctx.user_data[f"{self.name}.result"] = res
        ctx.events.append({"stage": self.name, **res})
        out = self.params.get("outputView")
        if out:
            return self.register_output(ctx, table.read(ctx.spark), out)
        return None


@register_stage
class LakeAlterExecute(PipelineStage):
    """Engine-specific DDL stage: metadata-only column rename / drop / add
    on a lake table (LakeTable.alter_schema) — no data files move; reads
    resolve historical names through the manifest's name mapping. The
    declarative form of Iceberg ``ALTER TABLE``: ``rename`` is a map of
    old→new, ``drop`` a list of columns, ``add`` a DDL string like
    ``"lang string, stars int"``."""

    stage_type = "LakeAlterExecute"
    REQUIRED = ("tableURI",)
    OPTIONAL = ("rename", "drop", "add", "commitLockURI",
                "commitLockLeaseSeconds", "outputView")

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        from pyspark.sql.types import StructType as _St

        from arc_spark.lake.table import LakeTable

        table = LakeTable(
            self.params["tableURI"],
            locker=_locker_from_params(self.params, ctx.spark),
        )
        add = self.params.get("add")
        res = table.alter_schema(
            rename=self.params.get("rename"),
            drop=self.params.get("drop"),
            add=_St.fromDDL(add) if add else None,
        )
        ctx.user_data[f"{self.name}.result"] = res
        ctx.events.append({"stage": self.name, **res})
        out = self.params.get("outputView")
        if out:
            return self.register_output(ctx, table.read(ctx.spark), out)
        return None


# lifecycle plugins resolvable from `plugins.lifecycle` config entries
# (config/ArcPipeline.scala:86 resolveConfigPlugins on "plugins.lifecycle")
from arc_spark.pipeline.config import register_lifecycle  # noqa: E402

register_lifecycle("ControlFlow", ControlFlow)
register_lifecycle("ChaosMonkey", ChaosMonkey)
register_lifecycle("DataLineage", DataLineage)

"""Config → pipeline IR.

Reference parity (``config/ArcPipeline.scala:26-123``, ``config/
Plugins.scala:32-178``, ``config/ConfigUtils.scala:404-440``):
- a job is a JSON document with a ``stages`` array; each object names a
  stage ``type`` plus its parameters,
- ``${param}`` / ``${param=default}`` placeholders resolve from (in
  precedence order) supplied args ⟵ ``ETL_CONF_*`` environment variables
  ⟵ inline defaults,
- per-stage instantiation validates keys — unknown keys get Levenshtein
  typo suggestions, missing required keys are reported — and ALL errors
  across ALL stages are accumulated and raised together,
- ``environments`` filtering decides at parse time whether a stage is
  instantiated for this run,
- lint mode parses and validates without executing (``ARC.scala:46``).

Config text may be JSON or HOCON (the reference's native format — parsed
by arc_spark.pipeline.hocon), loaded inline or from a file/http/classpath
URI; Arc ``.ipynb`` notebooks are converted to configs first
(``config/ConfigUtils.scala:187-330``).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from arc_spark.pipeline.core import ETLPipeline, PipelineContext, PipelineStage

_PARAM_RE = re.compile(r"\$\{([A-Za-z0-9_.\-]+)(?:=([^}]*))?\}")


class ConfigError(Exception):
    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("pipeline config invalid:\n  " + "\n  ".join(errors))


# stage-type registry (the ServiceLoader analogue, ARC.scala:171-175)
STAGE_TYPES: dict[str, type[PipelineStage]] = {}

# dynamic-configuration plugin registry (config/ArcPipeline.scala:74-85):
# entries under `plugins.config` run BEFORE stage parsing and contribute
# values to ${param} resolution (precedence: supplied args win over
# dynamic values win over environment)
CONFIG_PLUGINS: dict[str, Any] = {}

# lifecycle plugin registry for `plugins.lifecycle` entries
LIFECYCLE_TYPES: dict[str, type] = {}


def register_stage(cls: type[PipelineStage]) -> type[PipelineStage]:
    STAGE_TYPES[cls.stage_type] = cls
    return cls


def register_config_plugin(name: str):
    def deco(fn):
        CONFIG_PLUGINS[name] = fn
        return fn

    return deco


def register_lifecycle(name: str, cls: type) -> None:
    LIFECYCLE_TYPES[name] = cls


def _substitute_tree(node: Any, args: dict[str, str]) -> Any:
    """Resolve remaining ${param} placeholders throughout a parsed config
    tree (used after dynamic config plugins add resolution values)."""
    if isinstance(node, str) and "${" in node:
        return substitute_params(node, args, strict=False)
    if isinstance(node, dict):
        return {k: _substitute_tree(v, args) for k, v in node.items()}
    if isinstance(node, list):
        return [_substitute_tree(v, args) for v in node]
    return node


def _apply_plugins(config: dict, ctx: PipelineContext, errors: list[str]) -> dict:
    plugins = config.get("plugins") or {}
    for i, raw in enumerate(plugins.get("config") or []):
        envs = raw.get("environments") or []
        if envs and ctx.environment not in envs:
            continue
        fn = CONFIG_PLUGINS.get(raw.get("type"))
        if fn is None:
            errors.append(f"plugins.config[{i}]: unknown config plugin {raw.get('type')!r}")
            continue
        try:
            values = fn({k: v for k, v in raw.items() if k not in ("type", "environments")}, ctx) or {}
        except Exception as e:
            errors.append(f"plugins.config[{i}] ({raw.get('type')}): {e}")
            continue
        for k, v in values.items():
            ctx.args.setdefault(k, str(v))  # supplied args keep precedence
    for i, raw in enumerate(plugins.get("lifecycle") or []):
        envs = raw.get("environments") or []
        if envs and ctx.environment not in envs:
            continue
        cls = LIFECYCLE_TYPES.get(raw.get("type"))
        if cls is None:
            errors.append(
                f"plugins.lifecycle[{i}]: unknown lifecycle plugin {raw.get('type')!r}"
            )
            continue
        try:
            ctx.lifecycle.append(
                cls(**{k: v for k, v in raw.items() if k not in ("type", "environments", "name")})
            )
        except Exception as e:
            errors.append(f"plugins.lifecycle[{i}] ({raw.get('type')}): {e}")
    if plugins:
        config = _substitute_tree(config, ctx.args)
    return config


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def substitute_params(text: str, args: dict[str, str], *, strict: bool = True) -> str:
    """${k} / ${k=default} resolution: args ⟵ ETL_CONF_* env ⟵ default
    (util/SQLUtils.scala:5-45 + ARC.scala env handling).

    ``strict=False`` leaves unresolved placeholders intact instead of
    raising — used at config-parse time so runtime-computed parameters
    (ConfigExecute, the reference's LazyEvaluator mechanism,
    ``plugins/pipeline/LazyEvaluator.scala:70-95``) can resolve later, at
    stage-execute time."""

    def repl(m: re.Match) -> str:
        key, default = m.group(1), m.group(2)
        if key in args:
            return str(args[key])
        env_key = "ETL_CONF_" + re.sub(r"[.\-]", "_", key).upper()
        if env_key in os.environ:
            return os.environ[env_key]
        if key in os.environ:
            return os.environ[key]
        if default is not None:
            return default
        if not strict:
            return m.group(0)
        raise KeyError(f"unresolved parameter ${{{key}}}")

    return _PARAM_RE.sub(repl, text)


def parse_pipeline(
    config: str | dict, ctx: PipelineContext
) -> ETLPipeline:
    """Parse config (JSON text or dict) into an ETLPipeline; raises
    ConfigError listing every problem found across all stages."""
    # make sure the built-in stage registry is populated
    import arc_spark.pipeline.stages  # noqa: F401

    errors: list[str] = []
    if isinstance(config, str):
        # lenient here: runtime-computed params (ConfigExecute) resolve
        # at stage-execute time; stages re-substitute strictly then
        text = substitute_params(config, ctx.args, strict=False)
        try:
            config = json.loads(text)
        except json.JSONDecodeError as json_err:
            # HOCON — the reference's native job format (a JSON superset)
            from arc_spark.pipeline.hocon import HoconError, parse_hocon

            try:
                config = parse_hocon(text, params=ctx.args)
            except HoconError as e:
                raise ConfigError(
                    [f"invalid config: not JSON ({json_err}) nor HOCON ({e})"]
                ) from None
    if not isinstance(config, dict) or "stages" not in config:
        raise ConfigError(["config must be an object with a 'stages' array"])

    config = _apply_plugins(config, ctx, errors)

    stages: list[PipelineStage] = []
    for i, raw in enumerate(config["stages"]):
        where = f"stages[{i}]"
        if not isinstance(raw, dict):
            errors.append(f"{where}: not an object")
            continue
        stype = raw.get("type")
        if not stype:
            errors.append(f"{where}: missing 'type'")
            continue
        cls = STAGE_TYPES.get(stype)
        if cls is None:
            sugg = sorted(STAGE_TYPES, key=lambda t: _levenshtein(stype, t))[:1]
            errors.append(
                f"{where}: unknown stage type {stype!r}"
                + (f" — did you mean {sugg[0]!r}?" if sugg else "")
            )
            continue
        envs = raw.get("environments") or []
        if envs and ctx.environment not in envs:
            continue  # filtered out at parse time (config/Plugins.scala:61-72)
        if raw.get("resolution") == "lazy":
            # LazyEvaluator: validation + instantiation deferred to execute
            # time so runtime-computed ${params} can resolve (see _LazyStage)
            stages.append(_LazyStage(cls, raw, where))
            continue
        stage_errors = _validate_keys(cls, raw, where)
        if stage_errors:
            errors.extend(stage_errors)
            continue
        try:
            stages.append(_instantiate(cls, raw, ctx))
        except Exception as e:
            errors.append(f"{where} ({stype}): {e}")

    if errors:
        raise ConfigError(errors)
    # nested PipelineExecute stages were flattened during instantiation
    flat: list[PipelineStage] = []
    for s in stages:
        inner = getattr(s, "_inline_stages", None)
        if inner is not None:
            flat.extend(inner)
        else:
            flat.append(s)
    return ETLPipeline(flat)


_COMMON_KEYS = {
    "type", "name", "description", "environments", "numPartitions",
    "partitionBy", "persist", "resolution", "authentication", "params",
    "id",
}


def _validate_keys(cls: type[PipelineStage], raw: dict, where: str) -> list[str]:
    required = set(getattr(cls, "REQUIRED", ()))
    optional = set(getattr(cls, "OPTIONAL", ()))
    one_of = getattr(cls, "ONE_OF", ())  # tuple of tuples: exactly one key each
    allowed = required | optional | _COMMON_KEYS | {k for grp in one_of for k in grp}
    errs = []
    if "name" not in raw:
        errs.append(f"{where}: missing 'name'")
    for k in raw:
        if k not in allowed:
            sugg = sorted(allowed, key=lambda t: _levenshtein(k, t))[:1]
            errs.append(
                f"{where} ({cls.stage_type}): unknown key {k!r}"
                + (f" — did you mean {sugg[0]!r}?" if sugg else "")
            )
    for k in required:
        if k not in raw:
            errs.append(f"{where} ({cls.stage_type}): missing required key {k!r}")
    for grp in one_of:
        present = [k for k in grp if k in raw]
        if len(present) != 1:
            errs.append(
                f"{where} ({cls.stage_type}): exactly one of {list(grp)} required, got {present}"
            )
    return errs


class _LazyStage(PipelineStage):
    """``resolution: lazy`` — the reference's LazyEvaluator
    (plugins/pipeline/LazyEvaluator.scala:70-95): config resolution, key
    validation AND instantiation are deferred to execute time, so
    ``${param}`` placeholders may be filled by runtime-computed args (a
    preceding ConfigExecute) that do not exist at parse time."""

    stage_type = "LazyEvaluator"

    def __init__(self, cls: type[PipelineStage], raw: dict, where: str):
        super().__init__(
            name=raw.get("name", where),
            description=raw.get("description"),
            environments=raw.get("environments"),
        )
        self._cls = cls
        self._raw = raw
        self._where = where

    @staticmethod
    def _subst_tree(node, args: dict[str, str]):
        # substitute string LEAVES only — arg values containing quotes or
        # braces must not be able to corrupt surrounding structure
        if isinstance(node, str):
            return substitute_params(node, args, strict=True)
        if isinstance(node, list):
            return [_LazyStage._subst_tree(x, args) for x in node]
        if isinstance(node, dict):
            return {k: _LazyStage._subst_tree(v, args) for k, v in node.items()}
        return node

    def execute(self, ctx: PipelineContext) -> DataFrame | None:
        resolved = self._subst_tree(self._raw, ctx.args)
        resolved.pop("resolution", None)  # so validate_config runs now
        errs = _validate_keys(self._cls, resolved, self._where)
        if errs:
            raise ConfigError(errs)
        stage = _instantiate(self._cls, resolved, ctx)
        return stage.execute(ctx)


def _instantiate(cls: type[PipelineStage], raw: dict, ctx: PipelineContext) -> PipelineStage:
    params = {k: v for k, v in raw.items() if k not in ("type", "name", "description", "environments")}
    stage = cls(
        name=raw["name"],
        description=raw.get("description"),
        environments=raw.get("environments"),
        **params,
    )
    validate = getattr(stage, "validate_config", None)
    if validate and raw.get("resolution") != "lazy":
        # SQL parse pre-validation (ConfigUtils.scala:855-867); skipped for
        # lazy stages whose params only exist at runtime (LazyEvaluator)
        validate(ctx)
    return stage


def _looks_like_uri(s: str) -> bool:
    s = s.strip()
    if "\n" in s or "{" in s:
        return False
    return bool(re.match(r"^[a-z][a-z0-9+.\-]*://", s)) or s.endswith(
        (".json", ".conf", ".ipynb")
    )


def run_config(
    spark,
    config: str | dict,
    *,
    environment: str = "production",
    args: dict[str, str] | None = None,
    streaming: bool = False,
    lint: bool = False,
    lifecycle: list | None = None,
    storage_level: str = "MEMORY_AND_DISK_SER",
    immutable_views: bool = False,
):
    """Parse + run a pipeline config; returns (last DataFrame, ctx).

    ``config`` may be inline JSON/HOCON text, a parsed dict, or a URI /
    path to a ``.json`` / ``.conf`` / ``.ipynb`` job file (file, http(s)
    and classpath schemes — ``config/ArcPipeline.scala:26-45``).
    ``lint=True`` parses/validates only (ARC.scala lintOnly, :46,299-308).
    """
    if isinstance(config, str) and _looks_like_uri(config):
        from arc_spark.pipeline.hocon import ipynb_to_config, read_uri

        text = read_uri(config)
        if config.endswith(".ipynb"):
            text = ipynb_to_config(text)
        config = text
    ctx = PipelineContext(
        spark=spark,
        environment=environment,
        args=args or {},
        streaming=streaming,
        lint=lint,
        lifecycle=lifecycle or [],
        storage_level=storage_level,
        immutable_views=immutable_views,
    )
    pipeline = parse_pipeline(config, ctx)
    if lint:
        return None, ctx
    return pipeline.run(ctx), ctx

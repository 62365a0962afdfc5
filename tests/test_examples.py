"""Every shipped job config in examples/ parses and passes per-stage key
validation (lint mode) in each environment its stages name, so a removed
stage key cannot linger in an example unnoticed."""

from __future__ import annotations

import glob
import os
import re

import pytest

from arc_spark.pipeline.config import ConfigError, run_config

EXAMPLES = sorted(
    glob.glob(os.path.join(os.path.dirname(__file__), "..", "examples", "*.conf"))
)


@pytest.mark.parametrize("environment", ["production", "test"])
@pytest.mark.parametrize("conf", EXAMPLES, ids=os.path.basename)
def test_example_config_lints(spark, tmp_path, conf, environment):
    text = open(conf).read()
    args = {k: str(tmp_path / k) for k in re.findall(r"\$\{\??([\w.\-]+)\}", text)}
    run_config(spark, conf, environment=environment, args=args, lint=True)


def test_removed_stage_key_is_rejected(spark, tmp_path):
    cfg = {"stages": [{
        "type": "CDCReplayExecute", "name": "replay",
        "eventsURI": str(tmp_path / "ev"), "tableURI": str(tmp_path / "lake"),
        "redeliveryDedup": True,
    }]}
    with pytest.raises(ConfigError, match="unknown key 'redeliveryDedup'"):
        run_config(spark, cfg, lint=True)

"""CLI configuration resolution (config.py): environment over defaults."""

from __future__ import annotations

from aws_snowflake_kinesis_airflow_pipeline_spark.config import (
    DEFAULTS,
    load_config,
)


def test_env_overrides_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert load_config().cpus == DEFAULTS["cpus"]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    cfg = load_config()
    assert cfg.cpus == 3  # cast to the default's type
    assert cfg.landing_path == DEFAULTS["landing_path"]

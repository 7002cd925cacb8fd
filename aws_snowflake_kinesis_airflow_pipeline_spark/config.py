"""Configuration resolution (SURVEY.md §2 O9) — the reference resolves
credentials/config from Secrets Manager with a yaml fallback
(scripts/kinesis_to_snowflake.py:17-22,45-76). The engine needs no
credentials locally; the CLI's four settings resolve environment
(``SPARK_GRAFT_<KEY>``) > defaults.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DEFAULTS = {
    "sf_dir": "/root/testdata/sf0.1",
    "cpus": 32,
    "landing_path": "/tmp/pipeline/landing",
    "warehouse_path": "/tmp/pipeline/warehouse",
}

ENV_PREFIX = "SPARK_GRAFT_"


@dataclass
class PipelineConfig:
    sf_dir: str
    cpus: int
    landing_path: str
    warehouse_path: str


def load_config() -> PipelineConfig:
    """env (SPARK_GRAFT_*) > defaults, read at call time."""
    return PipelineConfig(
        **{
            key: type(default)(os.environ.get(ENV_PREFIX + key.upper(), default))
            for key, default in DEFAULTS.items()
        }
    )

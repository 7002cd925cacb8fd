"""The engine's named-query registry.

Every SURVEY.md §2 inventory entry ships as one :class:`Query`:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark implementation;
- ``oracle`` — equivalent DuckDB SQL over the same parquet views, or ``None``
  for genuinely non-SQL-expressible ops (driver then records rows-only).

Determinism contract (FIXTURES.md §3): no nondeterministic columns in output,
every computed column aliased identically in Spark and SQL, tie-breaker sort
keys on any top-k.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    survey_ref: str  # SURVEY.md §2 inventory line(s) this covers


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, survey_ref: str):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, survey_ref=survey_ref)
        return fn

    return deco


def queries_map() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in QUERIES.values()}


def oracle_sql_map() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES.values() if q.oracle is not None}


# Importing the suites populates QUERIES via the @register decorator.
from . import reference_suite  # noqa: E402,F401
from . import relational_suite  # noqa: E402,F401
from . import llm_suite  # noqa: E402,F401
from . import streaming_suite  # noqa: E402,F401

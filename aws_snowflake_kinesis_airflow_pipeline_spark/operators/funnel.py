"""Quality-filter funnel: staged corpus filtering with per-stage attrition.

Production corpus curation (C4, Gopher, Dolma, FineWeb) is a CASCADE of
cheap-to-expensive filters, and the number every pipeline owner watches is
the per-stage survivor count — it is how threshold regressions, upstream
schema breaks, and over-aggressive filters are caught. (The reference's
DQ-gate — airflow/dags/snowflake_data_pipeline.py:152-202 — embodies the
same "count the violations before publishing" spirit at two stages; this
operator generalizes it to an ordered cascade. SURVEY.md §2 B27.)

Scale shape: ONE aggregate pass. Every stage predicate is evaluated
per-row in the same projection, the cumulative conjunctions become
conditional sums, and partial aggregation collapses each input partition
to a single row — no joins, no repeated scans, no shuffle beyond the
final 1-row reduce, regardless of how many stages the cascade has. The
unpivot to (stage, survivors) rows happens on that single row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_funnel(
    df: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Survivor counts for an ordered filter cascade.

    ``stages`` is an ordered list of (stage_name, keep_predicate). Returns
    one row per stage — ``(stage_idx, stage, survivors)`` — where
    ``survivors`` counts rows passing ALL predicates up to and including
    that stage; ``stage_idx`` 0 is the unfiltered total. A NULL predicate
    counts as a drop (exactly what ``df.filter`` would do).
    """
    if not stages:
        raise ValueError("need at least one stage")
    names = ["total"] + [name for name, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError("stage names must be unique (and not 'total')")

    aggs = [F.count(F.lit(1)).alias("total")]
    cum = None
    for name, pred in stages:
        cum = pred if cum is None else (cum & pred)
        aggs.append(
            F.sum(F.when(cum, F.lit(1)).otherwise(F.lit(0))).alias(name)
        )
    one_row = df.agg(*aggs)

    stack_args = ", ".join(
        f"{i}, '{name}', `{name}`" for i, name in enumerate(names)
    )
    return one_row.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS (stage_idx, stage, survivors)"
        )
    )

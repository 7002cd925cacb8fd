"""Part A queries — the reference's own SQL surface (SURVEY.md §2 Part A).

Each query maps a statement the reference ships to Snowflake onto the fixture
``events`` table (column mapping per FIXTURES.md: event_timestamp -> ts,
data VARIANT -> props JSON string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.variant import variant_get
from ..operators import relational
from .registry import register


@register(
    "ref_daily_event_summary",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           COUNT(*) AS event_count,
           MIN(ts) AS first_event,
           MAX(ts) AS last_event
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="§2 G1/K4 (sql/create_snowflake_tables.sql:31-39)",
)
def ref_daily_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.daily_event_summary(load_table(spark, sf_dir, "events"))


@register(
    "ref_user_events_view",
    oracle="""
    SELECT event_id,
           user_id,
           ts AS event_timestamp,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           value AS price
    FROM events
    WHERE event_type = 'purchase'
    """,
    survey_ref="§2 D2/P1/P2/P5 (sql/create_snowflake_tables.sql:18-28)",
)
def ref_user_events_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.user_events_view(load_table(spark, sf_dir, "events"))


@register(
    "ref_insert_dedup_anti_join",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id IS NOT NULL
      AND event_id NOT IN (
        SELECT event_id FROM events
        WHERE event_type = 'purchase' AND event_id IS NOT NULL
      )
    """,
    survey_ref="§2 J1/K5 (airflow/dags/snowflake_data_pipeline.py:113-149)",
)
def ref_insert_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 over a self-derived target: treat already-loaded EVENTS as the set
    of purchase events; staging is the full feed. Exercises the not-null
    filter + left-anti plan the engine uses for at-least-once dedup."""
    events = load_table(spark, sf_dir, "events")
    target = events.filter(F.col("event_type") == "purchase")
    deduped = relational.insert_dedup_anti_join(events, target)
    return deduped.select("event_id", "user_id", "event_type")


@register(
    "ref_duplicate_event_ids",
    oracle="""
    SELECT event_id, COUNT(*) AS n
    FROM (
      SELECT event_id FROM events
      UNION ALL
      SELECT event_id FROM (
        SELECT event_id FROM events
        WHERE event_id IS NOT NULL
        ORDER BY event_id LIMIT 50
      )
    )
    GROUP BY event_id
    HAVING COUNT(*) > 1
    """,
    survey_ref="§2 J2/G2 (airflow/dags/snowflake_data_pipeline.py:156-162)",
)
def ref_duplicate_event_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's duplicate-id DQ check, run over the feed plus a
    deterministic 50-row replay slice — the fixture's event_ids are unique,
    so the unplanted check returns 0 rows and would verify nothing; the
    planted replay makes the HAVING filter produce 50 stable rows."""
    events = load_table(spark, sf_dir, "events").select("event_id")
    replay = (
        events.filter(F.col("event_id").isNotNull())
        .orderBy("event_id")
        .limit(50)
    )
    return relational.duplicate_event_ids(events.union(replay))


@register(
    "ref_dq_counts",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1
       )) AS duplicate_count,
      (SELECT COUNT(*) FROM events
       WHERE event_id IS NULL OR ts IS NULL
          OR event_type IS NULL OR user_id IS NULL) AS incomplete_count
    """,
    survey_ref="§2 G3/P4 (airflow/dags/snowflake_data_pipeline.py:154-170)",
)
def ref_dq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.dq_counts(load_table(spark, sf_dir, "events"))


@register(
    "ref_raw_data_limit",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id IS NOT NULL
    ORDER BY event_id
    LIMIT 100
    """,
    survey_ref="§2 P1/P9 (README.md:264-269 verification queries)",
)
def ref_raw_data_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * FROM raw_data LIMIT 100`` with a deterministic sort key
    (event_id is unique in the fixture). Spark compiles orderBy+limit to
    TakeOrderedAndProject — per-partition top-k then a k-row merge at the
    driver, no global sort. The not-null guard keeps the top-100 cut
    deterministic and engine-agnostic if a fixture refresh plants NULL
    event_ids (FIXTURES.md §1.4 edge case): Spark sorts NULLS FIRST,
    DuckDB NULLS LAST, and NULL-keyed rows tie arbitrarily."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .filter(F.col("event_id").isNotNull())
        .orderBy("event_id")
        .limit(100)
    )


@register(
    "ref_variant_pack_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE json_extract_string(props, '$.missing') IS NULL
    """,
    survey_ref="§1.3 VARIANT semantics (kinesis_to_snowflake.py:88; "
    "sql/create_snowflake_tables.sql:24-25)",
)
def ref_variant_pack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT write/read fidelity: missing path -> NULL (Snowflake
    semantics), present path extracts + casts."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        variant_get("missing").isNull()
    ).select(
        "event_id",
        variant_get("k", "int").alias("prop_k"),
    )

"""VARIANT-column semantics on Spark.

The reference stores flexible event payloads in a Snowflake VARIANT column,
written as a JSON-serialized dict (reference scripts/kinesis_to_snowflake.py:88)
and read back with path extraction + cast, e.g. ``data:product_id::VARCHAR``,
``data:price::FLOAT`` (reference sql/create_snowflake_tables.sql:24-25).

Engine decision (SURVEY.md §1.3): VARIANT = JSON string column. Extraction is
``get_json_object`` + ``cast`` — pure JVM built-ins, whole-stage-codegen'd,
no Python in the path. Missing path -> NULL, matching Snowflake.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def variant_get(path: str, cast: str | None = None) -> Column:
    """``props:path::cast`` — Snowflake VARIANT path extraction on the
    ``props`` JSON string.

    ``path`` is a dot path without the leading ``$.`` (e.g. ``"price"`` or
    ``"a.b"``). Returns NULL when the path is absent, like Snowflake.
    """
    c = F.get_json_object(F.col("props"), f"$.{path}")
    return c.cast(cast) if cast else c


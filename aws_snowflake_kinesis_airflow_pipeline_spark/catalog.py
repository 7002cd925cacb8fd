"""Fixture-table catalog.

The driver generates one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md). This module is the one
place that knows table names and how to load/register them.

At 100 TB each "file" becomes a partitioned parquet/Delta directory; nothing
here changes — ``spark.read.parquet`` on a directory picks up hive-partition
columns and Catalyst prunes partitions from WHERE clauses automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always broadcast-join candidates: bounded row
# counts independent of fact-table scale (region=5, nation=25 at every SF).
SMALL_DIMS = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Convert TIMESTAMP(NANOS) columns (read as long ns-since-epoch under
    ``spark.sql.legacy.parquet.nanosAsLong``) to microsecond TIMESTAMP_NTZ.

    Truncating ns -> us matches DuckDB, whose TIMESTAMP is also us precision;
    NTZ matches how Spark reads the other fixture timestamps (and the
    reference's TIMESTAMP_NTZ columns — SURVEY.md §1.2). The cast to NTZ is
    value-preserving because :func:`ensure_session_conf` pins UTC.
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # Integer division — ns-since-epoch (~1.7e18) overflows a double's
            # 53-bit mantissa, so no float math here.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def ensure_session_conf(spark: SparkSession) -> None:
    """Runtime confs required for correct fixture reads, set defensively so
    queries behave identically under a caller-provided session (the driver's)
    as under :func:`..session.get_spark`.

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS); without this
      the scan throws PARQUET_TYPE_ILLEGAL.
    - UTC session TZ: date extraction over microsecond instants must agree
      with DuckDB's naive-timestamp calendar math.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — session factory already set it


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_conf(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_nanos(df)
    return df


def register_views(
    spark: SparkSession,
    sf_dir: str,
    only: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register fixture tables as temp views (for spark.sql parity).

    Returns the name -> DataFrame mapping for DataFrame-API callers.
    ``only``: restrict to the tables the caller's SQL actually references
    — each ``spark.read.parquet`` costs a schema-inference/listing job at
    plan-construction time, so registering all nine tables for a query
    that reads one was ~8 wasted driver-blocking jobs per invocation
    (round-13, guide §1.5).
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES if only is None else only:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

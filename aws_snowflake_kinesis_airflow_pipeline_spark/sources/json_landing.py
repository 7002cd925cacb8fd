"""Landing-zone format: gzip JSON, hive-partitioned by year/month/day/hour —
the Firehose S3 layout (reference terraform/main.tf:195-213: prefix
``raw/year=!{ts:yyyy}/month=!{ts:MM}/day=!{ts:dd}/hour=!{ts:HH}/``, GZIP,
5 MiB / 300 s buffers) re-expressed as Spark readers/writers.

The hive layout is what makes hour-granular work incremental at 100 TB:
partition discovery + pruning turn "process this hour" into a scan of one
directory, and the streaming file source's offset log replaces the
reference's S3KeySensor + FORCE=TRUE re-copy (SURVEY.md §2 S2/S3/O8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Landing event schema — declared, not inferred (SURVEY.md §1.3): the
#: reference CREATEs every table with explicit types; VARIANT -> JSON string.
LANDING_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), True),
        T.StructField("event_timestamp", T.StringType(), True),  # ISO-8601
        T.StructField("event_type", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("data", T.StringType(), True),  # VARIANT as JSON string
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

#: The second DAG's extended staging shape (reference
#: airflow/dags/snowflake_data_pipeline.py:76-90): device/app/os/ip/location
#: VARCHARs + payload/raw VARIANTs. Schema-on-read: files missing these
#: fields yield NULLs (COPY INTO VARIANT-projection behavior).
EXTENDED_STAGING_SCHEMA = T.StructType(
    list(LANDING_SCHEMA.fields[:-1])
    + [
        T.StructField("device_id", T.StringType(), True),
        T.StructField("app_version", T.StringType(), True),
        T.StructField("os_version", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),  # VARIANT as JSON
        T.StructField("raw_data", T.StringType(), True),  # VARIANT as JSON
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

PARTITION_COLS = ("year", "month", "day", "hour")


def with_hour_partitions(df: DataFrame) -> DataFrame:
    """Derive the Firehose-style partition columns from the event time."""
    c = F.col("event_timestamp")
    return (
        df.withColumn("year", F.year(c))
        .withColumn("month", F.month(c))
        .withColumn("day", F.dayofmonth(c))
        .withColumn("hour", F.hour(c))
    )


def write_landing_batch(df: DataFrame, path: str) -> None:
    """Batch landing write: gzip JSON appended under year=/month=/day=/hour=."""
    (
        with_hour_partitions(df)
        .write.mode("append")
        .partitionBy(*PARTITION_COLS)
        .option("compression", "gzip")
        .json(path)
    )


def landing_stream_writer(events: DataFrame, path: str, checkpoint: str):
    """Streaming landing writer (Firehose role, K2): partitioned gzip JSON.
    The 300 s buffer maps to the trigger interval — callers attach
    ``.trigger(processingTime="300 seconds")`` or availableNow in tests."""
    return (
        with_hour_partitions(events)
        .writeStream.format("json")
        .option("compression", "gzip")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*PARTITION_COLS)
    )


def _parse(df: DataFrame) -> DataFrame:
    """ISO-string timestamp -> TIMESTAMP_NTZ, keep corrupt-record column."""
    return df.withColumn(
        "event_timestamp",
        F.to_timestamp("event_timestamp").cast("timestamp_ntz"),
    )


def read_landing_batch(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """COPY INTO equivalent (S3): schema-on-read JSON with PERMISSIVE mode —
    ``ON_ERROR='CONTINUE'`` maps to corrupt rows landing in
    ``_corrupt_record`` instead of failing the load (reference
    airflow/dags/snowflake_data_pipeline.py:100-110). Pass
    ``EXTENDED_STAGING_SCHEMA`` for the second DAG's staging shape —
    missing fields read as NULL."""
    df = (
        spark.read.schema(schema or LANDING_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return _parse(df)


def read_landing_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming file source over the landing zone — replaces the reference's
    hourly S3KeySensor poll (S2) and its at-least-once re-read (O8): the
    checkpointed file-offset log gives exactly-once file tracking.

    ``max_files_per_trigger`` is the get_records(Limit=100) analog (S1).
    """
    reader = (
        spark.readStream.schema(LANDING_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse(reader.json(path))

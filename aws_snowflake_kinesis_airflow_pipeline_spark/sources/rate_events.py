"""Synthetic event generator — the reference's producer re-expressed as
column expressions over a rate-source-shaped (timestamp, value) frame
(reference scripts/kinesis_data_producer.py:17-37: uuid event_id, ISO
timestamp, random type/user/product, keyed put).

One process, all column expressions JVM-side; the Kinesis partition key
becomes an explicit ``key`` column (what a kafka/kinesis sink would hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ["view", "click", "purchase", "signup"]  # producer :19
PRODUCTS = ["p1", "p2", "p3", "p4"]  # producer :20-25
PRICES = [19.99, 29.99, 39.99, 49.99]
N_USERS = 1000  # producer :28


def _event_columns(df: DataFrame) -> DataFrame:
    """Attach producer-shaped event columns to a rate-source frame
    (columns: timestamp, value)."""
    idx = F.col("value")
    type_arr = F.array(*[F.lit(t) for t in EVENT_TYPES])
    prod_arr = F.array(*[F.lit(p) for p in PRODUCTS])
    price_arr = F.array(*[F.lit(p) for p in PRICES])
    # Deterministic pseudo-randomness from the monotonically increasing
    # rate value: reproducible runs, no RNG state on executors.
    # pmod, not abs(hash) % n: abs(Long.MIN_VALUE) overflows under ANSI
    # mode (probability 2^-64 per row per salt, but it would kill the
    # whole streaming query); pmod is the overflow-free hash-to-index
    # idiom used everywhere else in the engine.
    pick = lambda arr, salt: F.element_at(  # noqa: E731
        arr,
        (F.pmod(F.xxhash64(idx, F.lit(salt)), F.size(arr)) + 1).cast("int"),
    )
    product = pick(prod_arr, 2)
    return df.select(
        F.concat(F.lit("evt-"), F.lpad(idx.cast("string"), 12, "0")).alias(
            "event_id"
        ),
        F.col("timestamp").cast("timestamp_ntz").alias("event_timestamp"),
        pick(type_arr, 1).alias("event_type"),
        F.concat(
            F.lit("user_"),
            (F.pmod(F.xxhash64(idx, F.lit(3)), F.lit(N_USERS)) + 1).cast(
                "string"
            ),
        ).alias("user_id"),
        F.to_json(
            F.struct(
                product.alias("product_id"),
                pick(price_arr, 4).alias("price"),
            )
        ).alias("data"),
    )


def event_batch(spark: SparkSession, n: int) -> DataFrame:
    """``n`` producer events: the column pipeline over spark.range, one
    event per second from 2024-01-01 (the reference emits 1/s)."""
    raw = spark.range(n).withColumn(
        "timestamp",
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_dt_interval(
            secs=F.col("id").cast("double")
        )),
    ).withColumnRenamed("id", "value")
    return _event_columns(raw)


def keyed_for_stream_sink(events: DataFrame) -> DataFrame:
    """The reference's keyed put (PartitionKey=user_id, JSON body —
    kinesis_data_producer.py:39-46) as a kafka/kinesis-shaped frame."""
    return events.select(
        F.col("user_id").alias("key"),
        F.to_json(F.struct(*events.columns)).alias("value"),
    )

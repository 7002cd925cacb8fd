"""The ingest pipeline: E2/E3 fused into one checkpointed streaming query.

Reference behavior re-expressed (SURVEY.md §3):

- hourly DAG schedule            -> one ``run_once`` (Trigger.AvailableNow)
                                    per scheduled tick
- S3KeySensor partition poll     -> streaming file source discovery
- COPY INTO staging (ON_ERROR)   -> PERMISSIVE read, corrupt-record column
- INSERT..SELECT w/ NOT IN dedup -> not-null filter + left-anti join append
- DQ SQL + Python gate           -> duplicate count + raise inside foreachBatch
- XCom records_processed         -> Observation metrics on the raw and events
                                    writes (seen / corrupt / affected dates,
                                    inserted), no action of their own
- email notify                   -> log line (listener hook point)

Everything per-batch happens inside ``foreachBatch`` in statement order —
the same linear dependency chain as the DAG (O5), but transactionally
closer: a failed gate fails the batch, and the checkpoint replays it. Each
step is one action: the per-batch counts ride the writes as ``Observation``
metrics, and both tables are read under declared schemas, so no read
launches a schema-inference job.

Storage: parquet directories managed by path (works everywhere).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.relational import (
    REQUIRED_EVENT_COLS,
    daily_event_summary,
    duplicate_event_ids,
    insert_dedup_anti_join,
)
from ..sources.json_landing import PARTITION_COLS, read_landing_stream

#: The events table as ``process_batch`` appends it: the landing columns
#: without ``_corrupt_record`` and the ``file_name`` lineage column,
#: ``event_timestamp`` renamed ``ts``, the landing zone's hour-partition
#: columns, partitioned by ``event_date``.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("data", T.StringType()),
    ]
    + [T.StructField(c, T.IntegerType()) for c in PARTITION_COLS]
    + [T.StructField("event_date", T.DateType())]
)

#: ``daily_event_summary`` as ``relational.daily_event_summary`` builds it.
SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("event_date", T.DateType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("first_event", T.TimestampNTZType()),
        T.StructField("last_event", T.TimestampNTZType()),
    ]
)


def _table_absent(exc: Exception) -> bool:
    """True only when the table's path does not exist yet. Both tables are
    read under declared schemas, so an empty or markers-only directory (a
    torn first write) reads as an empty table instead of raising. Anything
    else (transient FS failure, torn file, permissions) must propagate."""
    return "PATH_NOT_FOUND" in str(exc)


@dataclass
class IngestStats:
    """Per-batch observability (the XCom metric, O4). ``history`` holds one
    record per batch: ``batch_id``, ``seen``, ``inserted``, ``corrupt``,
    ``affected_dates`` (ISO dates) and ``n_dup`` (the DQ gate's duplicate
    count; 0 when the gate had no dates to check)."""

    batches: int = 0
    rows_seen: int = 0
    rows_inserted: int = 0
    corrupt_rows: int = 0
    history: list[dict] = field(default_factory=list)


class IngestPipeline:
    """Landing zone -> raw table -> deduped events table -> daily summary."""

    def __init__(
        self,
        spark: SparkSession,
        landing_path: str,
        warehouse_path: str,
    ):
        self.spark = spark
        self.landing_path = landing_path
        self.raw_path = os.path.join(warehouse_path, "raw_data")
        self.events_path = os.path.join(warehouse_path, "events")
        self.summary_path = os.path.join(warehouse_path, "daily_event_summary")
        self.checkpoint = os.path.join(warehouse_path, "_checkpoints", "ingest")
        self.stats = IngestStats()

    # -- table handles ----------------------------------------------------

    def _read_events_table(self) -> DataFrame | None:
        """The events table, or None before the first insert. A torn first
        write (a directory with no data files) reads as an empty table
        under the declared schema, so it cannot wedge ingestion. Any other
        read failure propagates: swallowing it would hand the anti-join an
        empty dedup target and re-insert the whole batch as duplicates."""
        try:
            return self.events_table()
        except Exception as exc:
            if _table_absent(exc):
                return None
            raise

    def events_table(self) -> DataFrame:
        return self.spark.read.schema(EVENTS_SCHEMA).parquet(self.events_path)

    def summary_table(self) -> DataFrame:
        self._heal_summary_swap()
        return self.spark.read.schema(SUMMARY_SCHEMA).parquet(self.summary_path)

    def _heal_summary_swap(self) -> None:
        """Finish a refresh interrupted mid-swap. The swap is two atomic
        renames (old -> aside, staging -> live) followed by deleting the
        aside, so every crash point leaves either the old or the staged
        directory INTACT under a well-known name — never a partially
        deleted live dir (the rmtree-then-rename form had exactly that
        torn window). Heal order: a complete staging copy wins (it is
        the newer summary); otherwise restore the aside; a leftover
        aside next to a live dir is post-promote garbage."""
        staging = self.summary_path + "._staging"
        aside = self.summary_path + "._old"
        if not os.path.exists(self.summary_path):
            # Promote staging only if its write COMMITTED (_SUCCESS):
            # on the first-ever refresh there is no live dir to rename
            # aside, so 'live missing + staging present' can also mean a
            # torn in-progress staging write — promoting that would serve
            # a partial (or unreadable) summary as truth.
            if os.path.isdir(staging) and os.path.exists(
                os.path.join(staging, "_SUCCESS")
            ):
                os.replace(staging, self.summary_path)
            elif os.path.isdir(aside):
                os.replace(aside, self.summary_path)
        if os.path.exists(self.summary_path) and os.path.isdir(aside):
            shutil.rmtree(aside, ignore_errors=True)

    # -- the per-batch body (the DAG's task chain, in order) --------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One DAG run, one action per step: raw write, events append, DQ
        count, summary write.

        The batch's counts come from ``Observation`` metrics on the two
        writes, not from actions of their own. ``affected_dates`` are the
        dates of the valid rows (no corrupt record, every required column
        set) before the within-batch dedup. That is a superset of the dates
        of the deduplicated rows: a dropped copy of a within-batch duplicate
        may add a date. Both consumers stay exact over a superset: the DQ
        gate checks one more partition, and the summary refresh recomputes
        a date from the events table, which reproduces its rows (or drops
        them when the date holds no events)."""
        batch_df = batch_df.cache()
        try:
            # 1. append everything (incl. corrupt) to raw_data — the landing
            #    table mirrors COPY INTO's keep-all behavior (K3/S3), plus
            #    the reference staging schema's lineage columns file_name /
            #    load_timestamp (airflow/dags/snowflake_data_pipeline.py:76-90).
            #    file_name comes from the source's _metadata column selected
            #    in start() (input_file_name() is empty inside foreachBatch).
            #    Written into a batch_id-keyed subdirectory with overwrite so
            #    a replayed batch (foreachBatch is at-least-once) replaces
            #    its own rows instead of appending a second copy. The write
            #    materializes the cache and observes the batch's counts.
            #    ``valid`` is the filter of step 2 over the raw column names
            #    (the raw batch still calls ``ts`` ``event_timestamp``).
            valid = F.col("_corrupt_record").isNull()
            for c in REQUIRED_EVENT_COLS:
                valid &= F.col("event_timestamp" if c == "ts" else c).isNotNull()
            raw_obs = Observation()
            (
                batch_df.observe(
                    raw_obs,
                    F.count(F.lit(1)).alias("seen"),
                    F.count("_corrupt_record").alias("corrupt"),
                    F.collect_set(
                        F.when(valid, F.to_date("event_timestamp"))
                    ).alias("affected_dates"),
                )
                .withColumn(
                    "load_timestamp",
                    F.current_timestamp().cast("timestamp_ntz"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(self.raw_path, f"batch_id={batch_id}"))
            )
            observed = raw_obs.get
            n_seen, n_corrupt = observed["seen"], observed["corrupt"]
            # Dates come from the BATCH, not from the rows inserted: on an
            # at-least-once replay the anti-join strips already-inserted
            # rows, and dates of the inserted rows would skip the summary
            # refresh + DQ re-check for exactly the dates the interrupted
            # attempt wrote.
            affected_dates = sorted(observed["affected_dates"])

            # 2. clean + transform: drop corrupt rows, enforce not-null keys,
            #    normalize column names to the engine's events schema.
            clean = (
                batch_df.filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record", "file_name")
                .withColumnRenamed("event_timestamp", "ts")
            )
            for c in REQUIRED_EVENT_COLS:
                clean = clean.filter(F.col(c).isNotNull())
            # Within-batch dedup: the reference's NOT-IN only guards against
            # rows already in the target, so a replay landing in the same
            # batch would insert twice and trip its own DQ gate. One row per
            # event_id per batch closes that hole.
            clean = clean.dropDuplicates(["event_id"])

            # 3. anti-join dedup append into events (J1/K5): at-least-once
            #    landing becomes exactly-once table content even if a batch
            #    retries after step-1 succeeded (defense-in-depth, O8).
            #    Events land partitioned by event_date so date-ranged reads
            #    (incl. the incremental summary below) prune partitions.
            #    The file listing of the target is fixed when the plan is
            #    built, so appending to the directory it reads is safe.
            n_insert = 0
            if affected_dates:
                existing = self._read_events_table()
                target = (
                    existing.select("event_id")
                    if existing is not None
                    else clean.select("event_id").limit(0)
                )
                insert_obs = Observation()
                (
                    insert_dedup_anti_join(clean, target)
                    .observe(insert_obs, F.count(F.lit(1)).alias("inserted"))
                    .withColumn("event_date", F.to_date("ts"))
                    .write.mode("append")
                    .partitionBy("event_date")
                    .parquet(self.events_path)
                )
                n_insert = insert_obs.get["inserted"]

            # 4. DQ gate (O6): duplicate event_ids. Scoped to the dates this
            #    batch touched (partition-pruned) — the anti-join guarantees
            #    inserted ids are new table-wide and the within-batch dedup
            #    guarantees batch uniqueness, so any new duplicate must
            #    involve a row in an affected partition; scanning the whole
            #    accumulated table per batch would grow with table age.
            events = self._read_events_table()
            n_dup = 0
            if events is not None and affected_dates:
                # filter on the PARTITION column (event_date), not
                # to_date(ts): Catalyst can't derive the partition from an
                # expression over a data column, so the ts form would scan
                # the whole table and the pruning claim were false
                n_dup = duplicate_event_ids(
                    events.filter(F.col("event_date").isin(affected_dates))
                ).count()
                if n_dup > 0:
                    raise ValueError(
                        f"DQ gate: {n_dup} duplicate event_ids in events table"
                    )

            # 5. summary refresh (K4) — incremental and idempotent: only the
            #    dates touched by this batch are recomputed, from the events
            #    *table* (so a retried batch reproduces the same rows instead
            #    of double-counting), and the partition filter prunes the
            #    date-partitioned events dir. The reference recomputes the
            #    whole summary hourly; at 100 TB that full scan per batch is
            #    the first thing to break.
            if events is not None:
                self._refresh_summary(events, affected_dates)

            # 6. metrics (O4) + notification hook (O7).
            self.stats.batches += 1
            self.stats.rows_seen += n_seen
            self.stats.rows_inserted += n_insert
            self.stats.corrupt_rows += n_corrupt
            self.stats.history.append(
                {
                    "batch_id": batch_id,
                    "seen": n_seen,
                    "inserted": n_insert,
                    "corrupt": n_corrupt,
                    "affected_dates": [d.isoformat() for d in affected_dates],
                    "n_dup": n_dup,
                }
            )
        finally:
            batch_df.unpersist()

    def _refresh_summary(self, events: DataFrame, affected_dates) -> None:
        if not affected_dates:
            return  # nothing inserted -> summary already correct
        new_part = daily_event_summary(
            events.filter(F.col("event_date").isin(affected_dates))
        )
        try:
            old = self.summary_table()
            kept = old.filter(~F.col("event_date").isin(affected_dates))
            out = kept.union(new_part.select(*old.columns))
        except Exception as exc:
            # Only "summary doesn't exist yet" may fall back to new_part —
            # any other failure would overwrite the summary with just this
            # batch's dates, silently deleting every untouched date's rows.
            if not _table_absent(exc):
                raise
            out = new_part
        # Write-temp-and-swap instead of in-place overwrite: the plan reads
        # the old directory, so writing it in place would truncate its own
        # input; the previous fix collect()ed the table through the driver
        # — bounded (dates x event types) but growing with history.
        # Staging keeps every row executor-side at any scale. The swap is
        # two atomic renames (never an rmtree of the live dir, whose torn
        # middle state a crash could serve as truth); every crash point
        # leaves a complete copy under a known name for _heal_summary_swap.
        staging = self.summary_path + "._staging"
        aside = self.summary_path + "._old"
        out.write.mode("overwrite").parquet(staging)
        shutil.rmtree(aside, ignore_errors=True)  # stale garbage only
        if os.path.exists(self.summary_path):
            os.replace(self.summary_path, aside)
        try:
            os.replace(staging, self.summary_path)
        except FileNotFoundError:
            # A concurrent summary_table() reader can run the heal between
            # our two renames and promote staging itself; if live exists
            # now, the swap is complete — just not by us.
            if not os.path.exists(self.summary_path):
                raise
        shutil.rmtree(aside, ignore_errors=True)

    # -- query lifecycle --------------------------------------------------

    def start(self, max_files_per_trigger=None):
        stream = (
            read_landing_stream(
                self.spark, self.landing_path, max_files_per_trigger
            )
            .withColumn("file_name", F.col("_metadata.file_path"))
            # O4: the XCom records_processed metric as observe() — surfaces
            # in StreamingQueryProgress.observedMetrics without an extra job.
            .observe("ingest", F.count(F.lit(1)).alias("rows"))
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    def run_once(self):
        """Process everything currently in the landing zone, then stop —
        one scheduled tick (Trigger.AvailableNow ↔ one DAG run). Returns
        the terminated query (progress/observed metrics readable)."""
        q = self.start()
        q.awaitTermination()
        return q

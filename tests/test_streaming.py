"""Streaming tests: end-to-end ingest pipeline (E2/E3 semantics), stream ==
batch equivalence for window operators, stateful dedup, idempotent re-runs."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.sources import json_landing, rate_events
from aws_snowflake_kinesis_airflow_pipeline_spark.streaming import joins as J
from aws_snowflake_kinesis_airflow_pipeline_spark.streaming import windows as W
from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.pipeline import IngestPipeline


@pytest.fixture()
def dirs(tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    os.makedirs(landing, exist_ok=True)
    return landing, warehouse


def test_generator_shapes_match_reference_producer(spark):
    batch = rate_events.event_batch(spark, 50)
    rows = batch.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r["event_id"].startswith("evt-")
    assert r["event_type"] in rate_events.EVENT_TYPES
    assert r["user_id"].startswith("user_")
    assert '"product_id"' in r["data"] and '"price"' in r["data"]
    # K1, the keyed put: the JSON body parses back to the event, and the
    # partition key is the user id on every row.
    decoded = rate_events.keyed_for_stream_sink(batch).select(
        "key", F.from_json("value", batch.schema).alias("e")
    )
    got = decoded.select("e.*").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, rows))
    assert decoded.filter(F.col("key") != F.col("e.user_id")).isEmpty()


def test_landing_roundtrip_hive_partitioned_gzip(spark, dirs):
    landing, _ = dirs
    events = rate_events.event_batch(spark, 100)
    json_landing.write_landing_batch(events, landing)
    # hive partition dirs exist (Firehose layout)
    years = [d for d in os.listdir(landing) if d.startswith("year=")]
    assert years == ["year=2024"]
    # Spark disallows filtering a raw JSON scan on only _corrupt_record;
    # cache() materializes the parse first (the pipeline does the same).
    back = json_landing.read_landing_batch(spark, landing).cache()
    assert back.filter(F.col("_corrupt_record").isNull()).count() == 100
    assert dict(back.dtypes)["event_timestamp"] == "timestamp_ntz"


def test_landing_stream_writer_partitioned_gzip(spark, tmp_path):
    """K2: the Firehose role as a streaming query — events stream in, gzip
    JSON lands hive-partitioned."""
    src_path = str(tmp_path / "src")
    landing = str(tmp_path / "landing_stream")
    ckpt = str(tmp_path / "ckpt")
    events = rate_events.event_batch(spark, 120)
    events.write.mode("overwrite").parquet(src_path)
    stream = spark.readStream.schema(events.schema).parquet(src_path)
    q = (
        json_landing.landing_stream_writer(stream, landing, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert any(d.startswith("year=") for d in os.listdir(landing))
    back = json_landing.read_landing_batch(spark, landing).cache()
    assert back.filter(F.col("_corrupt_record").isNull()).count() == 120
    gz = [
        f
        for root, _, files in os.walk(landing)
        for f in files
        if f.endswith(".json.gz")
    ]
    assert gz, "landing files must be gzip JSON"


def test_extended_staging_schema_missing_fields_null(spark, tmp_path):
    from aws_snowflake_kinesis_airflow_pipeline_spark.sources import (
        json_landing,
        rate_events,
    )

    landing = str(tmp_path / "landing_ext")
    json_landing.write_landing_batch(rate_events.event_batch(spark, 20), landing)
    ext = json_landing.read_landing_batch(
        spark, landing, schema=json_landing.EXTENDED_STAGING_SCHEMA
    ).cache()
    assert ext.count() == 20
    row = ext.first()
    assert row["device_id"] is None and row["payload"] is None  # schema-on-read
    assert row["event_id"] is not None


def test_ingest_end_to_end_with_dedup_and_corrupt_rows(spark, dirs):
    landing, warehouse = dirs
    events = rate_events.event_batch(spark, 200)
    json_landing.write_landing_batch(events, landing)
    # plant: a duplicate file of the same 200 events (at-least-once replay,
    # O8) and a corrupt JSON file (ON_ERROR=CONTINUE, S3)
    json_landing.write_landing_batch(events.limit(50), landing)
    part_dir = os.path.join(landing, "year=2024", "month=1", "day=1", "hour=0")
    with gzip.open(os.path.join(part_dir, "corrupt.json.gz"), "wt") as f:
        f.write('{"event_id": "evt-bad", INVALID JSON\n')
        f.write('{"event_timestamp": "2024-01-01T00:00:01", "event_type": "view", "user_id": "user_1"}\n')

    pipe = IngestPipeline(spark, landing, warehouse)
    q = pipe.run_once()
    # O4: observe() metric surfaced in query progress
    observed = [
        p["observedMetrics"]["ingest"]["rows"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("observedMetrics", {}).get("ingest")
    ]
    assert sum(observed) == 252

    ev = pipe.events_table()
    assert ev.count() == 200  # 50 replayed dups dropped, corrupt+null-id dropped
    assert ev.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    assert pipe.stats.corrupt_rows == 1  # the invalid-JSON line
    # raw_data keeps everything incl. corrupt (COPY-like landing table),
    # with lineage columns populated (staging-schema parity)
    raw = spark.read.parquet(pipe.raw_path)
    assert raw.count() == 252
    assert raw.filter(F.col("file_name").contains(".json")).count() == 252
    assert raw.filter(F.col("load_timestamp").isNull()).count() == 0

    # summary equals a batch recomputation over the deduped events table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.relational import (
        daily_event_summary,
    )

    got = {
        (r["event_date"], r["event_type"]): r["event_count"]
        for r in pipe.summary_table().collect()
    }
    want = {
        (r["event_date"], r["event_type"]): r["event_count"]
        for r in daily_event_summary(ev).collect()
    }
    assert got == want


def test_ingest_rerun_is_idempotent(spark, dirs):
    """Property from SURVEY.md §5: running ingest twice ≡ once (O8+J1)."""
    landing, warehouse = dirs
    events = rate_events.event_batch(spark, 100)
    json_landing.write_landing_batch(events, landing)
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()
    n1 = pipe.events_table().count()

    # same files again -> file-source checkpoint skips them entirely
    pipe2 = IngestPipeline(spark, landing, warehouse)
    pipe2.run_once()
    assert pipe2.events_table().count() == n1

    # new file with ALL-duplicate event_ids -> read, but anti-join inserts 0
    json_landing.write_landing_batch(events.limit(30), landing)
    pipe3 = IngestPipeline(spark, landing, warehouse)
    pipe3.run_once()
    assert pipe3.events_table().count() == n1
    assert pipe3.stats.rows_inserted == 0


def test_dq_gate_failure_then_retry_from_checkpoint(spark, dirs):
    """O2/O6: a batch failed by the DQ gate is NOT marked consumed — after
    the operator fixes the violation, restarting the query from the same
    checkpoint reprocesses the batch (Airflow retry semantics, but
    transactional)."""
    import pyspark.errors as perr

    landing, warehouse = dirs
    events = rate_events.event_batch(spark, 60)
    json_landing.write_landing_batch(events, landing)

    # poison the events table directly: pre-existing duplicate rows make the
    # post-insert DQ check fire regardless of the batch's own dedup
    poison = (
        events.limit(5)
        .withColumnRenamed("event_timestamp", "ts")
        .drop("data")
        .select("event_id", "ts", "event_type", "user_id")
        .withColumn("event_date", F.to_date("ts"))
    )
    dup = poison.union(poison)
    dup.write.mode("overwrite").partitionBy("event_date").parquet(
        IngestPipeline(spark, landing, warehouse).events_path
    )

    pipe = IngestPipeline(spark, landing, warehouse)
    try:
        pipe.run_once()
        raise AssertionError("DQ gate should have failed the query")
    except perr.exceptions.captured.StreamingQueryException as e:
        assert "DQ gate" in str(e)

    # operator fixes the table (dedup) and retries with the SAME checkpoint
    fixed = spark.read.parquet(pipe.events_path).dropDuplicates(["event_id"])
    fixed_rows = fixed.collect()
    spark.createDataFrame(fixed_rows, fixed.schema).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(pipe.events_path)

    pipe2 = IngestPipeline(spark, landing, warehouse)
    pipe2.run_once()
    ev = pipe2.events_table()
    # the failed batch was reprocessed: all 60 events present (5 poisoned
    # ids were already there, 55 inserted by the retried batch), no dups
    assert ev.count() == 60
    assert ev.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_ingest_soak_many_microbatches_one_query(spark, dirs):
    """Soak: ONE checkpointed query driven through >=5 real micro-batches
    (maxFilesPerTrigger=1), mirroring the reference's hourly cadence as a
    sequence rather than a single availableNow shot. Summary correctness is
    re-asserted after EVERY batch, per-batch metrics are recorded, and
    overlapping waves (at-least-once replays across batches) must dedup."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.relational import (
        daily_event_summary,
    )

    landing, warehouse = dirs
    all_events = rate_events.event_batch(spark, 500)
    # five overlapping waves: wave i replays every earlier wave's rows
    for i in range(5):
        json_landing.write_landing_batch(all_events.limit(100 * (i + 1)), landing)

    summary_checks: list[int] = []

    class CheckedPipeline(IngestPipeline):
        def process_batch(self, batch_df, batch_id):
            super().process_batch(batch_df, batch_id)
            ev = self._read_events_table()
            if ev is None:
                return
            got = {
                (r["event_date"], r["event_type"]): r["event_count"]
                for r in self.summary_table().collect()
            }
            want = {
                (r["event_date"], r["event_type"]): r["event_count"]
                for r in daily_event_summary(ev).collect()
            }
            assert got == want, f"summary wrong after batch {batch_id}"
            summary_checks.append(batch_id)

    pipe = CheckedPipeline(spark, landing, warehouse)
    q = pipe.start(max_files_per_trigger=1)
    q.awaitTermination()

    assert pipe.stats.batches >= 5  # genuinely micro-batched, not one shot
    assert len(summary_checks) == pipe.stats.batches
    # per-batch metrics: monotone batch ids, per-batch seen/inserted recorded
    ids = [h["batch_id"] for h in pipe.stats.history]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert pipe.stats.rows_seen == sum(h["seen"] for h in pipe.stats.history)
    assert pipe.stats.rows_seen == 100 + 200 + 300 + 400 + 500
    # replays across batches deduped: exactly the 500 unique events remain
    assert pipe.stats.rows_inserted == 500
    assert pipe.events_table().count() == 500
    assert (
        pipe.events_table()
        .groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_dedup_state_stays_bounded_across_batches(spark, tmp_path):
    """Soak for B16: dropDuplicatesWithinWatermark state must be EVICTED as
    the watermark advances, not accumulate one row per key forever. Six
    micro-batches, each an hour of event time apart at a 10-minute
    watermark: the state store may hold the recent horizon's keys, never
    all 600."""
    src_dir = tmp_path / "dedup_soak_src"
    src_dir.mkdir()
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    n_files, per_file = 6, 100
    for i in range(n_files):
        rows = [
            (
                i * per_file + j,
                BASE_TS + dt.timedelta(hours=i, seconds=j),
                1,
                "view",
            )
            for j in range(per_file)
        ]
        # plant an in-batch duplicate key (must be dropped by state)
        rows.append(rows[0])
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        W.dedup_within_watermark(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("t_dedup_soak")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state_rows = [
        op["numRowsTotal"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        for op in p.get("stateOperators", [])
        if op.get("numRowsTotal") is not None
    ]
    assert state_rows, "no state-operator metrics reported"
    # bounded: state never approaches one row per key ever seen
    assert max(state_rows) < n_files * per_file
    # and keys older than the watermark horizon were actually evicted
    assert state_rows[-1] <= 2 * (per_file + 1)
    # every batch's rows emitted exactly once; planted dups dropped
    out = spark.table("t_dedup_soak")
    assert out.count() == n_files * per_file
    assert out.select("event_id").distinct().count() == n_files * per_file


def test_incremental_summary_across_batches(spark, dirs):
    """Summary refresh recomputes only batch-touched dates but must equal a
    full recomputation after multiple batches spanning overlapping dates."""
    landing, warehouse = dirs
    all_events = rate_events.event_batch(spark, 2000)  # spans >1 hour of days
    day1 = all_events.limit(800)
    json_landing.write_landing_batch(day1, landing)
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()

    json_landing.write_landing_batch(all_events, landing)  # adds rest + replays
    pipe2 = IngestPipeline(spark, landing, warehouse)
    pipe2.run_once()

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.relational import (
        daily_event_summary,
    )

    got = {
        (r["event_date"], r["event_type"]): (
            r["event_count"], r["first_event"], r["last_event"]
        )
        for r in pipe2.summary_table().collect()
    }
    want = {
        (r["event_date"], r["event_type"]): (
            r["event_count"], r["first_event"], r["last_event"]
        )
        for r in daily_event_summary(pipe2.events_table()).collect()
    }
    assert got == want
    assert pipe2.events_table().count() == 2000


def _land(landing, name, records, hour="year=2024/month=1/day=1/hour=0"):
    """Land ``records`` as one gzip JSON-lines file; a str is a raw line."""
    part = os.path.join(landing, hour)
    os.makedirs(part, exist_ok=True)
    with gzip.open(os.path.join(part, f"{name}.json.gz"), "wt") as f:
        for r in records:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


def _event(i, day=1, **overrides):
    rec = {
        "event_id": f"evt-{i:04d}",
        "event_timestamp": f"2024-01-{day:02d}T00:{i % 60:02d}:00",
        "event_type": "view",
        "user_id": f"user_{i % 7}",
        "data": "{}",
    }
    rec.update(overrides)
    return rec


def _parquet_files(path):
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }


def _assert_summary_matches_events(pipe):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.relational import (
        daily_event_summary,
    )

    def rows(df):
        return {
            (r["event_date"], r["event_type"]): (
                r["event_count"], r["first_event"], r["last_event"]
            )
            for r in df.collect()
        }

    assert rows(pipe.summary_table()) == rows(
        daily_event_summary(pipe.events_table())
    )


def test_ingest_batch_runs_in_at_most_nine_jobs(spark, dirs):
    """Regression guard for the per-batch action chain: the counts and the
    affected dates ride the writes as Observation metrics and the tables
    are read under declared schemas, so a warm DAG run (events and summary
    already there) launches at most 9 Spark jobs — raw write, anti-join
    append, DQ count and summary write, with AQE's shuffle-stage jobs. The
    streaming query runs its batches under its runId as the job group."""
    landing, warehouse = dirs
    _land(landing, "a", [_event(i) for i in range(20)])
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()
    _land(landing, "b", [_event(i) for i in range(10, 40)] + ['{"event_id": '])
    q = pipe.run_once()

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 9, sorted(jobs)
    assert pipe.stats.history[-1]["inserted"] == 20


def test_all_redelivery_batch_inserts_nothing(spark, dirs):
    """A batch of nothing but redeliveries: the append observes 0 inserted
    rows and leaves no new parquet file in the events table."""
    landing, warehouse = dirs
    events = [_event(i) for i in range(30)]
    _land(landing, "a", events)
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()
    before = _parquet_files(pipe.events_path)

    _land(landing, "b", events[5:15])
    pipe.run_once()
    last = pipe.stats.history[-1]
    assert (last["seen"], last["inserted"], last["corrupt"]) == (10, 0, 0)
    assert last["affected_dates"] == ["2024-01-01"] and last["n_dup"] == 0
    assert _parquet_files(pipe.events_path) == before
    assert pipe.events_table().count() == 30
    _assert_summary_matches_events(pipe)


def test_rows_missing_required_columns_add_no_affected_date(spark, dirs):
    """Rows with a null required column (and corrupt lines) count in
    ``seen`` but are not valid rows, so their dates are not affected: the
    summary gains no row for them."""
    landing, warehouse = dirs
    _land(
        landing,
        "a",
        [
            _event(1),
            _event(2),
            _event(3, day=5, user_id=None),
            _event(4, day=6, event_type=None),
            {k: v for k, v in _event(5, day=7).items() if k != "event_id"},
            '{"event_id": "evt-0006", "event_timestamp": ',
        ],
    )
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()
    last = pipe.stats.history[-1]
    assert (last["seen"], last["inserted"], last["corrupt"]) == (6, 2, 1)
    assert last["affected_dates"] == ["2024-01-01"]
    assert {r["event_date"] for r in pipe.summary_table().collect()} == {
        dt.date(2024, 1, 1)
    }
    _assert_summary_matches_events(pipe)


def test_within_batch_duplicate_on_two_dates(spark, dirs):
    """One event_id twice in a batch, its copies on different dates: the
    within-batch dedup keeps one copy, the affected dates hold both, the
    DQ gate passes, and the summary equals a GROUP BY over events — also
    for the date whose only row was the dropped copy."""
    landing, warehouse = dirs
    _land(landing, "a", [_event(i) for i in range(5)])
    pipe = IngestPipeline(spark, landing, warehouse)
    pipe.run_once()

    _land(landing, "b", [_event(7), _event(7, day=3), _event(8)])
    pipe.run_once()
    last = pipe.stats.history[-1]
    assert last["affected_dates"] == ["2024-01-01", "2024-01-03"]
    assert (last["seen"], last["inserted"], last["n_dup"]) == (3, 2, 0)
    ev = pipe.events_table()
    assert ev.count() == 7
    assert ev.groupBy("event_id").count().filter(F.col("count") > 1).isEmpty()
    _assert_summary_matches_events(pipe)


def test_torn_first_events_write_reads_as_empty_target(spark, dirs):
    """A first events or summary write that crashed before committing
    leaves a directory with no parquet files. Under the declared schema it
    reads as an empty table, so the retry inserts every valid row and
    writes the whole summary."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        SUMMARY_SCHEMA,
    )

    landing, warehouse = dirs
    pipe = IngestPipeline(spark, landing, warehouse)
    os.makedirs(os.path.join(pipe.events_path, "_temporary", "0"))
    os.makedirs(os.path.join(pipe.summary_path, "_temporary", "0"))
    torn = pipe._read_events_table()
    assert torn is not None and torn.schema == EVENTS_SCHEMA and torn.isEmpty()
    torn = pipe.summary_table()
    assert torn.schema == SUMMARY_SCHEMA and torn.isEmpty()

    _land(landing, "a", [_event(i) for i in range(12)])
    pipe.run_once()
    assert pipe.stats.history[-1]["inserted"] == 12
    assert pipe.events_table().count() == 12
    _assert_summary_matches_events(pipe)


def _streamable_events(spark, tmp_path, rows):
    """Write rows as parquet and reopen as a file-source stream."""
    path = str(tmp_path / "events_src")
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    df.write.mode("overwrite").parquet(path)
    return df, spark.readStream.schema(df.schema).parquet(path)


def _run_complete(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


BASE_TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_rows():
    rows = []
    eid = 0
    for u in (1, 2):
        for minutes in (0, 10, 20, 75, 80, 200):  # 3 sessions per user at 30m gap
            rows.append((eid, BASE_TS + dt.timedelta(minutes=minutes), u, "view"))
            eid += 1
    return rows


def test_tumbling_stream_equals_batch(spark, tmp_path):
    batch_df, stream_df = _streamable_events(spark, tmp_path, _mk_rows())
    got = {
        (r["window_start"], r["event_type"], r["n"])
        for r in _run_complete(
            W.tumbling_counts(stream_df), "t_tumble"
        ).collect()
    }
    want = {
        (r["window_start"], r["event_type"], r["n"])
        for r in W.tumbling_counts(batch_df).collect()
    }
    assert got == want and len(want) > 1


def test_sliding_stream_equals_batch(spark, tmp_path):
    batch_df, stream_df = _streamable_events(spark, tmp_path, _mk_rows())
    got = {
        (r["window_start"], r["n"])
        for r in _run_complete(W.sliding_counts(stream_df), "t_slide").collect()
    }
    want = {
        (r["window_start"], r["n"])
        for r in W.sliding_counts(batch_df).collect()
    }
    assert got == want and len(want) > 2


def test_trending_topk_stream_equals_batch(spark, tmp_path):
    """B38: keyed sliding counts stream == batch, and the rank finisher
    applied to the closed-window stream output equals the batch twin —
    with the k-cut engaged (3 event types, only 2 survive per window)
    and a count tie broken by key asc."""
    rows, eid = [], 0
    # Window [0:00, 1:00): 3x click, 2x view, 1x purchase -> top2 click, view.
    # Window [1:00, 2:00): 2x view, 2x purchase, 1x click -> tie: purchase
    # beats view on key asc only at equal counts... (purchase < view) both
    # kept at k=2, click cut.
    for minutes, et in (
        (0, "click"), (5, "click"), (10, "click"), (15, "view"), (20, "view"),
        (25, "purchase"),
        (65, "view"), (70, "view"), (75, "purchase"), (80, "purchase"),
        (85, "click"),
    ):
        rows.append((eid, BASE_TS + dt.timedelta(minutes=minutes), 1, et))
        eid += 1
    batch_df, stream_df = _streamable_events(spark, tmp_path, rows)

    counts_stream = _run_complete(
        W.keyed_sliding_counts(stream_df), "t_trend_counts"
    )
    got_counts = {
        (r["window_start"], r["event_type"], r["n"])
        for r in counts_stream.collect()
    }
    want_counts = {
        (r["window_start"], r["event_type"], r["n"])
        for r in W.keyed_sliding_counts(batch_df).collect()
    }
    assert got_counts == want_counts and len(want_counts) > 4

    got_topk = {
        (r["window_start"], r["event_type"], r["n"])
        for r in W.rank_trending(counts_stream).collect()
    }
    want_topk = {
        (r["window_start"], r["event_type"], r["n"])
        for r in W.trending_topk(batch_df).collect()
    }
    assert got_topk == want_topk
    # The cut is engaged: fewer ranked rows than raw (window, key) counts.
    assert len(want_topk) < len(want_counts)
    # Tie-break determinism: in the [1:00, 2:00) tumble-aligned window,
    # view(2) and purchase(2) tie; both beat click(1); click is cut.
    w1 = BASE_TS + dt.timedelta(hours=1)
    keys_w1 = {et for ws, et, _ in want_topk if ws == w1}
    assert keys_w1 == {"view", "purchase"}


def test_session_stream_equals_batch_and_gaps_islands(spark, tmp_path):
    batch_df, stream_df = _streamable_events(spark, tmp_path, _mk_rows())
    got = {
        (r["session_start"], r["user_id"], r["n"])
        for r in _run_complete(W.session_counts(stream_df), "t_sess").collect()
    }
    want = {
        (r["session_start"], r["user_id"], r["n"])
        for r in W.session_counts(batch_df).collect()
    }
    assert got == want
    # and the gaps-and-islands ground truth agrees on (start, key, count)
    gi = {
        (r["session_start"], r["user_id"], r["n"])
        for r in W.batch_sessions_gaps_and_islands(batch_df).collect()
    }
    assert {(s, u, n) for s, u, n in got} == gi
    assert len(gi) == 6  # 3 sessions x 2 users


def test_session_boundary_exactly_at_gap(spark, tmp_path):
    """An event exactly gap minutes after the previous one MERGES into the
    session (session_window's last+gap end is inclusive — verified
    empirically); the gaps-and-islands twin must merge identically, and one
    second past the gap must split in both."""
    at_gap = [
        (1, BASE_TS, 1, "view"),
        (2, BASE_TS + dt.timedelta(minutes=30), 1, "view"),  # == gap
    ]
    past_gap = [
        (3, BASE_TS, 2, "view"),
        (4, BASE_TS + dt.timedelta(minutes=30, seconds=1), 2, "view"),
    ]
    batch_df, _ = _streamable_events(spark, tmp_path, at_gap + past_gap)
    sw = W.session_counts(batch_df).collect()
    gi = W.batch_sessions_gaps_and_islands(batch_df).collect()
    sw_by_user = {}
    for r in sw:
        sw_by_user.setdefault(r["user_id"], []).append(r["n"])
    gi_by_user = {}
    for r in gi:
        gi_by_user.setdefault(r["user_id"], []).append(r["n"])
    assert sw_by_user[1] == [2] == gi_by_user[1]  # merged at exactly gap
    assert sorted(sw_by_user[2]) == [1, 1] == sorted(gi_by_user[2])  # split


def test_dedup_within_watermark(spark, tmp_path):
    rows = [
        (1, BASE_TS, 1, "view"),
        (1, BASE_TS + dt.timedelta(seconds=30), 1, "view"),  # dup key
        (2, BASE_TS + dt.timedelta(minutes=1), 1, "view"),
    ]
    _, stream_df = _streamable_events(spark, tmp_path, rows)
    out = (
        W.dedup_within_watermark(stream_df, ["event_id"])
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    got = spark.table("t_dedup").select("event_id").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """B31: watermarked stream-stream self-join == batch twin, including a
    click exactly at the lag boundary (excluded: half-open interval) and one
    just inside it."""
    rows = []
    eid = 0
    for u in (1, 2):
        # clicks at t+0, t+25, t+40; purchases at t+30, t+55
        for minutes, etype in (
            (0, "click"),
            (25, "click"),
            (30, "purchase"),  # matches clicks at 25 (and 0 exactly at -30m: excluded)
            (40, "click"),
            (55, "purchase"),  # matches clicks at 25? (=30m ago: excluded) and 40
        ):
            rows.append((eid, BASE_TS + dt.timedelta(minutes=minutes), u, etype))
            eid += 1
    # a user with a click but no purchase: contributes nothing
    rows.append((eid, BASE_TS, 9, "click"))
    batch_df, stream_df = _streamable_events(spark, tmp_path, rows)

    out = (
        J.interval_join_pairs(stream_df)
        .writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination()
    got = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in spark.table("t_ssjoin").collect()
    }
    want = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in J.interval_join_pairs(batch_df).collect()
    }
    assert got == want
    # exact expected structure: per user, purchase@30 <- click@25 only
    # (click@0 is exactly max_lag ago: half-open excludes), purchase@55 <- click@40
    per_user = sum(1 for (u, _, _) in want if u == 1)
    assert per_user == 2 and len(want) == 4


def test_summary_swap_heals_every_crash_point(spark, tmp_path):
    """The summary refresh swap is two atomic renames; every crash point
    must leave a complete copy that _heal_summary_swap serves — never a
    torn directory as truth."""
    import shutil

    warehouse = str(tmp_path / "wh_heal")
    pipe = IngestPipeline(spark, str(tmp_path / "unused_landing"), warehouse)
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), "view", 1)],
        "event_date date, event_type string, event_count long",
    )
    df.write.parquet(pipe.summary_path)

    # Crash between 'old -> aside' and 'staging -> live': live missing,
    # staging (newer, complete) and aside both present -> staging wins,
    # aside cleaned.
    staging, aside = pipe.summary_path + "._staging", pipe.summary_path + "._old"
    df.withColumn("event_count", F.lit(2)).write.parquet(staging)
    os.replace(pipe.summary_path, aside)
    assert pipe.summary_table().first()["event_count"] == 2
    assert not os.path.exists(aside) and not os.path.exists(staging)

    # Crash between 'old -> aside' and the staging write (no staging):
    # aside restored.
    os.replace(pipe.summary_path, aside)
    assert pipe.summary_table().first()["event_count"] == 2
    assert not os.path.exists(aside)

    # Crash after promote, before aside delete: live intact, aside is
    # post-promote garbage -> removed, live untouched.
    df.withColumn("event_count", F.lit(99)).write.parquet(aside)
    assert pipe.summary_table().first()["event_count"] == 2
    assert not os.path.exists(aside)

"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import TABLES  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import (  # noqa: E402
    QUERIES,
    Query,
)


def _plan(seed: int) -> gen.IngestPlan:
    return gen.ingest_plan(seed, 4, 2, 60, 5, 1000)


def test_ingest_plan_is_deterministic_per_seed(tmp_path):
    a, b, other = _plan(3), _plan(3), _plan(4)
    assert [f.lines for f in a.history + a.steps] == [f.lines for f in b.history + b.steps]
    assert a.steps[0].lines != other.steps[0].lines
    pa = gen.write_hour_file(str(tmp_path / "a"), a.steps[0])
    pb = gen.write_hour_file(str(tmp_path / "b"), b.steps[0])
    with open(pa, "rb") as fa, open(pb, "rb") as fb:
        assert fa.read() == fb.read()


def test_ingest_plan_has_exactly_the_planned_dups_and_corrupt_lines():
    plan = _plan(3)
    landed: dict[str, str] = {}
    for hf in plan.history:
        for line in hf.lines:
            landed[json.loads(line)["event_id"]] = line
    layout = re.compile(r"year=(\d{4})/month=(\d\d)/day=(\d\d)/hour=(\d\d)/[^/]+\.json\.gz$")
    for hf in plan.steps:
        hour = dt.datetime(*map(int, layout.match(hf.rel_path).groups()))
        fresh, again, corrupt = [], 0, 0
        for line in hf.lines:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                continue
            if rec["event_id"] in landed:
                assert landed[rec["event_id"]] == line  # same ts, same payload
                again += 1
            else:
                ts = dt.datetime.fromisoformat(rec["event_timestamp"])
                assert hour <= ts < hour + dt.timedelta(hours=1)
                fresh.append((rec["event_id"], line))
        assert (again, corrupt) == (hf.redelivered, hf.corrupt) == (50, 5)
        assert sorted(eid for eid, _ in fresh) == sorted(hf.fresh_ids)
        assert len(dict(fresh)) == 945
        landed.update(fresh)
    assert plan.event_ids == set(landed)


def test_fixture_holds_every_table_the_queries_read():
    assert sorted(os.listdir(run.FIXTURE)) == sorted(f"{t}.parquet" for t in TABLES)


def test_every_printed_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    res = run.Result()
    res.metrics = {n: 1.0 for n in run.END_TO_END}
    for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
        printed = {n: m["unit"] for n, m in res.report(trace)["metrics"].items()}
        assert printed == {m["name"]: m["unit"] for m in bench[kind]}
    assert all(QUERIES[n].oracle for n in run.SQL_QUERIES + run.LLM_QUERIES)


def test_failing_query_counts_as_failed_and_is_not_skipped(tmp_path, monkeypatch):
    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    def wrong(spark, sf_dir):
        return spark.range(3).selectExpr("id AS n")

    monkeypatch.setitem(QUERIES, "boom", Query("boom", boom, "SELECT 1 AS n", "test"))
    monkeypatch.setitem(QUERIES, "wrong", Query("wrong", wrong, "SELECT 1 AS n", "test"))
    spark = run.start_spark(str(tmp_path / "run"))
    try:
        res = run.Result()
        run.run_queries(spark, ("ref_raw_data_limit", "boom", "wrong"), 1, False, res)
    finally:
        run.stop_spark(spark)
    assert (res.attempted, res.failed) == (3, 2)
    assert "query.boom.wall_s" not in res.metrics and res.metrics["work_cpu_s"] > 0

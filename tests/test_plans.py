"""Physical-plan invariants — the scale guarantees, asserted so regressions
in plan shape fail CI, not a cluster: filters/columns push into parquet
scans, bounded dims broadcast, top-k avoids global sorts."""

from __future__ import annotations

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import QUERIES


def plan_of(spark, name, sf_dir):
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read  # unused columns pruned from the scan
    assert "l_quantity" in read


def test_b2_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, "b2_multiway_join_revenue_by_nation", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2  # nation/region never shuffle
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed into its scan


def test_topk_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(
        spark, "q3_shipping_priority", sf_dir
    )


def test_exact_dedup_exchange_on_fingerprint(spark, sf_dir):
    """The dedup shuffle must key on the 128-bit fingerprint, not the raw
    text column (at 100 TB the exchange would otherwise hash/compare full
    document bodies)."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    plan = (
        exact_dedup(docs, ["text"], "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges and all("_key_fp" in l for l in exchanges)


def test_exact_dedup_unique_ids_never_shuffles_bodies(spark, sf_dir):
    """The unique_ids fast path's contract: document bodies never enter an
    exchange. The only fingerprint-keyed exchange feeds the loser window
    over narrow (fp0, fp1, id) pairs, and losers leave via a left-anti
    join against the original scan — so no hash exchange may carry the
    text column, and the anti-join must be present."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out = exact_dedup(docs, ["text"], "doc_id", unique_ids=True)
    out.collect()  # let AQE finalize the join strategy
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert any(
        "_key_fp0" in l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    )
    # The loser side is small -> AQE lands on a broadcast anti-join, so
    # the corpus side reaches the join scan-partitioned, bodies unshuffled.
    assert "BroadcastHashJoin" in plan


def test_shingle_index_is_shuffle_free(spark, sf_dir):
    """Per-document shingle uniqueness must come from array_distinct inside
    the row, not a global distinct: at 100 TB a distinct over the exploded
    index would shuffle ~50x the text volume. The only admissible exchange
    is _spread's under-partitioned-scan repartition, which short-circuits
    on multi-split inputs."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        shingle_index(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("REPARTITION_BY_NUM" in l for l in exchanges), exchanges
    assert "Aggregate" not in plan


def test_minhash_signatures_are_shuffle_free(spark, sf_dir):
    """Signatures must be computed where the document row lives: shingle
    sets are row-local arrays and the MinHash reduction is per-Arrow-batch,
    so the plan may contain no exchange beyond _spread's repartition. (The
    groupBy/collect_list formulation shuffled the entire exploded index.)"""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        minhash_signatures(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("REPARTITION_BY_NUM" in l for l in exchanges), exchanges
    assert "collect_list" not in plan
    # Exactly ONE kernel evaluation, and it is the buffer-level
    # mapInArrow form (a map node is a plan barrier, so the downstream
    # isnotnull(mins) can never be duplicated below it the way the
    # pandas_udf form's filter pushdown once doubled the kernel).
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_events_column_pruning_through_ns_normalization(spark, sf_dir):
    """The catalog's ts-conversion projection must not defeat column
    pruning: a query not touching ts reads only its own columns."""
    from pyspark.sql import functions as F

    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    df = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "event_type" in read and "props" not in read and "ts" not in read


def test_anti_join_is_join_not_subquery_scan(spark, sf_dir):
    plan = plan_of(spark, "ref_insert_dedup_anti_join", sf_dir)
    assert "LeftAnti" in plan


def test_ivf_index_has_no_count_prepass(spark, monkeypatch):
    """Index build must not run a counting job over the corpus just to size
    the KMeans fit sample — at 100 TB that is one extra all-data pass per
    build. The fit set is bounded by orderBy+limit instead, which
    short-circuits the scan."""
    import random as rnd

    from pyspark.sql import DataFrame

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import similarity

    rng = rnd.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def no_count(self):
        raise AssertionError("ivf_index ran a count() pre-pass")

    monkeypatch.setattr(DataFrame, "count", no_count)
    model, indexed = similarity.ivf_index(
        emb, n_clusters=4, max_fit_rows=150
    )
    assert len(model.clusterCenters()) == 4
    assert indexed.where("ivf_cluster IS NULL").isEmpty()


def test_no_scale_killers_across_entire_registry(spark, sf_dir):
    """Sweep invariant over ALL registered queries: no plan may contain a
    cartesian product / broadcast nested-loop join on non-trivial inputs,
    and no row-at-a-time Python UDF (BatchEvalPython) anywhere — Python
    kernels must be Arrow-batched (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas). These are the two classic ways a plan that
    passes at fixture scale dies at corpus scale, so the whole driver
    surface is pinned, not just the flagships.

    Building each DataFrame executes localCheckpoint stages for the dedup
    family — cheap at sf0.001, and exactly what makes the *executed* plan
    (AQE-final, not the optimizer's guess) available to assert on.
    """
    offenders: dict[str, list[str]] = {}
    for name, q in QUERIES.items():
        df = q.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        # BroadcastNestedLoopJoin is tolerable only when the build side is
        # bounded by construction; flag anything else.
        if "BroadcastNestedLoopJoin" in plan and name not in (
            "b_subquery_filters",  # uncorrelated scalar subquery: 1-row build
            "ref_dq_counts",  # 1-row x 1-row crossJoin of two DQ scalars
            # non-equi band join: explicit broadcast of the 3-row band dim,
            # the correct physical strategy for a bounded range dimension
            "b_range_join_price_bands",
            # BM25: 1-row (N, avgdl) corpus-stats broadcast onto postings
            "c27_bm25_search",
            # semdedup branch: 1-row x 1-row crossJoin combining the
            # planted-survivor scalar with the pair-recheck scalar
            "c15_cosine_topk_ivf",
            # hh_topk branch: 1-row x 1-row crossJoin comparing the exact
            # top-20 list scalar with the SpaceSaving top-20 list scalar
            "b10_json_array_pack",
        ):
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale-killer plan nodes: {offenders}"


def test_candidate_verify_joins_shuffle_not_broadcast(spark, sf_dir):
    """The exact-Jaccard verification joins must be shuffle joins, never
    a broadcast of the candidate pair set: candidates arrive as a
    checkpointed RDD whose origin stats reflect the pre-materialization
    ESTIMATE, the static planner once turned that optimistic guess into a
    BroadcastExchange of the whole pair set, and AQE cannot demote a
    statically-planned broadcast over a non-shuffle input — measured as a
    driver OOM at sf10 (candidate volume ~1e8). Pinned on the LSH
    flagship (c2).
    """
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2, plan
    # The only BroadcastExchange allowed in the verify subtree is the
    # candidate-id semi-join into the corpus scan (id volume, AQE-sized);
    # the pair joins themselves must not broadcast. The pair joins are
    # the only joins keyed on id1/id2, so no broadcast node may sit
    # directly above a candidate-pair output.
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and ("id1#" in line and "id2#" in line):
            raise AssertionError(f"pair join broadcasts: {line}")

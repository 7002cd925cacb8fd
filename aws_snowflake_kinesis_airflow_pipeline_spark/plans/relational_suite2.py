"""Additional relational shapes: scalar subquery, correlated-count filter,
as-of join, order-normalized collect, correlated EXISTS (TPC-H Q4), range
join, CTE — rounding out the SQL surface a Snowflake user would expect
(SURVEY.md §2 Part B widening).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "b_subquery_filters",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      AND (SELECT COUNT(*) FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') >= 3
    """,
    survey_ref="§2 B3-adjacent uncorrelated scalar subquery + correlated "
    "COUNT subquery in one filter",
)
def b_subquery_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with >= 3 orders in 1997: the
    uncorrelated scalar subquery plans as a broadcast one-row join; the
    correlated COUNT is decorrelated by Catalyst into count-by-key + join —
    no per-row subquery execution in either case."""
    register_views(spark, sf_dir, only=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
          AND (SELECT COUNT(*) FROM orders
               WHERE o_custkey = c_custkey
                 AND o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
                 AND o_orderdate <  TIMESTAMP_NTZ '1998-01-01 00:00:00') >= 3
        """
    )


@register(
    "b_asof_join_last_view",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           v.event_id AS view_event_id,
           v.value    AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
      -- Pre-reduce same-(user, ts) ties to the MAX payload struct: the
      -- Spark operator's documented deterministic tie-break. DuckDB's
      -- native ASOF picks an unspecified row among equal-timestamp
      -- matches, so without this the oracle is nondeterministic the day
      -- a fixture carries tied view events.
      SELECT user_id, ts,
             (MAX(struct_pack(event_id := event_id, value := value)))
               .event_id AS event_id,
             (MAX(struct_pack(event_id := event_id, value := value)))
               .value AS value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ) v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    survey_ref="north-star as-of join (point-in-time enrichment; union+window "
    "formulation, one shuffle, flat state; oracle pre-reduces tied "
    "right rows to the operator's MAX-struct tie-break before DuckDB's "
    "native ASOF)",
)
def b_asof_join_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the user's latest at-or-before view event
    — checked against DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    return asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="view_ts",
        payload_cols=["view_event_id", "view_value"],
    )


# GROUPING SETS is driver-checked inside relational_suite.b6_grouping_pack
# (tagged union with rollup and cube over the same fact).


@register(
    "b_agg_collect_sorted",
    oracle="""
    SELECT r_name,
           ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    survey_ref="§2 B8-adjacent collection aggregate (collect_list, "
    "order-normalized for cross-engine determinism)",
)
def b_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list has nondeterministic order by contract — sort_array +
    join makes the output comparable across engines and runs."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


# Percentiles and moment statistics are driver-checked inside
# relational_suite.b8_stats_pack (one grouping over lineitem).


@register(
    "q4_order_priority_checking",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    survey_ref="§2 B3 correlated EXISTS with cross-table predicate "
    "(TPC-H Q4 shape — semi join on a derived condition)",
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in 1997Q1 with at least one lineitem shipped after the order
    date. The correlated EXISTS becomes a left-semi join whose extra
    condition rides the join predicate — one shuffle, no subquery loop."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "b_range_join_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 150000.0),
             ('mid', 150000.0, 350000.0),
             ('high', 350000.0, 1000000.0)
    )
    SELECT band, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    survey_ref="north-star range (non-equi) join — broadcast-nested-loop "
    "against a bounded band dim",
)
def b_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding via a range join. The band table is bounded by construction,
    so the physical plan is a broadcast nested-loop — each fact row tests a
    handful of ranges; no shuffle of the fact side, scales linearly."""
    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 150000.0), ("mid", 150000.0, 350000.0),
         ("high", 350000.0, 1000000.0)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "b_cte_region_share",
    oracle="""
    WITH nation_rev AS (
      SELECT n_name, n_regionkey,
             SUM(o_totalprice) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name, n_regionkey
    ),
    region_rev AS (
      SELECT n_regionkey, SUM(rev) AS region_total FROM nation_rev GROUP BY 1
    )
    SELECT r_name, n_name,
           ROUND(rev, 2) AS nation_revenue,
           ROUND(rev / region_total, 4) AS region_share
    FROM nation_rev
    JOIN region_rev USING (n_regionkey)
    JOIN region ON n_regionkey = r_regionkey
    """,
    survey_ref="§2 B2/B5-adjacent CTE reuse (share-of-group)",
)
def b_cte_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(
        spark, sf_dir, only=("orders", "customer", "nation", "region")
    )
    return spark.sql(
        """
        WITH nation_rev AS (
          SELECT n_name, n_regionkey, SUM(o_totalprice) AS rev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY n_name, n_regionkey
        ),
        region_rev AS (
          SELECT n_regionkey, SUM(rev) AS region_total
          FROM nation_rev GROUP BY n_regionkey
        )
        SELECT r_name, n_name,
               ROUND(rev, 2) AS nation_revenue,
               ROUND(rev / region_total, 4) AS region_share
        FROM nation_rev
        JOIN region_rev USING (n_regionkey)
        JOIN region ON n_regionkey = r_regionkey
        """
    )

"""Part B relational queries (SURVEY.md §2 B1-B10, B13) over the TPC-H-ish
star schema, then the widening shapes that round out the SQL surface a
Snowflake user would expect: scalar subquery, correlated-count filter,
as-of join, order-normalized collect, correlated EXISTS (TPC-H Q4), range
join, CTE.

Conventions for oracle parity (FIXTURES.md §3):
- every computed column aliased identically in Spark and DuckDB SQL;
- float aggregates rounded to 2 dp on both sides (double-sum ordering noise
  is ~1e-9 relative, far below 2 dp);
- counts kept as bigint (Spark long == DuckDB BIGINT);
- every top-k carries a unique tie-breaker key.

Scale posture: dims (region, nation) are broadcast; fact-fact joins shuffle
on their keys with AQE free to re-plan; window functions partition on the
natural key so state stays bounded per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import register


# --------------------------------------------------------------------------
# Headline aggregation (TPC-H Q1 shape) — the bench centerpiece
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                  AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                             AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                  AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)                             AS avg_price,
           ROUND(AVG(l_discount), 4)                                  AS avg_disc,
           COUNT(*)                                                   AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="§2 G1 at TPC-H shape (Q1 analog); §7 M2",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: single scan, partial+final hash aggregation on two
    low-cardinality keys — the canonical scan-bound aggregate. At 100 TB the
    shuffle carries 6 rows per input partition; scan dominates."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# B1/B2 — joins
# --------------------------------------------------------------------------


@register(
    "b1_join_revenue_by_segment",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    survey_ref="§2 B1 inner equi-join fact⋈dim",
)
def b1_join_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer. Customer is |orders|/10 — below the broadcast
    threshold through mid SFs; at 100 TB AQE decides broadcast vs shuffle
    from runtime stats, so no hint is hard-coded here."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "b2_multiway_join_revenue_by_nation",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
    survey_ref="§2 B2 multi-way join (TPC-H Q5 shape)",
)
def b2_multiway_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders⋈customer⋈nation⋈region. nation/region are O(10) rows
    at every SF — explicitly broadcast so the big sides never shuffle for
    them; the lineitem⋈orders join shuffles on orderkey (or goes broadcast
    under AQE when the filtered orders side is small)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    survey_ref="§2 B2+B4 join + top-k (TPC-H Q3 shape)",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# B3 — outer / semi / anti joins
# --------------------------------------------------------------------------


@register(
    "b3_outer_semi_anti_pack",
    oracle="""
    SELECT 'left_count' AS op, c_custkey, CAST(NULL AS VARCHAR) AS c_name,
           COUNT(o_orderkey) AS n
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') u
      ON c_custkey = u.o_custkey
    GROUP BY c_custkey
    UNION ALL
    SELECT 'semi', c_custkey, c_name, NULL
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 450000
    )
    UNION ALL
    SELECT 'anti', c_custkey, c_name, NULL
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
    survey_ref="§2 B3 left outer (zero-preserving count), left-semi "
    "(EXISTS) and left-anti (NOT EXISTS) joins, tagged so one oracle "
    "checks all three",
)
def b3_outer_semi_anti_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three outer-family join types over the same customer/orders pair,
    tagged: per-customer urgent-order counts (left outer, zeros preserved),
    big spenders (semi join), never-urgent customers (anti join). Each
    branch is one equi-join shuffle; the union is append-only."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    big = orders.filter(F.col("o_totalprice") > 450000)
    left_count = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n"))
        .select(
            F.lit("left_count").alias("op"),
            "c_custkey",
            F.lit(None).cast("string").alias("c_name"),
            "n",
        )
    )
    semi = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        F.lit("semi").alias("op"),
        "c_custkey",
        "c_name",
        F.lit(None).cast("long").alias("n"),
    )
    anti = cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select(
        F.lit("anti").alias("op"),
        "c_custkey",
        "c_name",
        F.lit(None).cast("long").alias("n"),
    )
    return left_count.unionByName(semi).unionByName(anti)


# --------------------------------------------------------------------------
# B5 — window functions
# --------------------------------------------------------------------------


@register(
    "b5_window_pack",
    oracle="""
    SELECT 'orders' AS branch,
           CAST(o_custkey AS VARCHAR) AS grp, o_orderkey AS item,
           ROW_NUMBER() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rnk,
           ROUND(COALESCE(LAG(o_totalprice) OVER w, 0), 2) AS v1,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS v2
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    UNION ALL
    SELECT 'brand_topn', p_brand, p_partkey, rk, p_retailprice, NULL
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             DENSE_RANK() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ) AS rk
      FROM part
    ) WHERE rk <= 3
    """,
    survey_ref="§2 B5 window-function pack: ranking (row_number), offset "
    "(lag), framed aggregate (running sum) on the 'orders' branch; "
    "dense_rank top-n-per-group on the 'brand_topn' branch",
)
def b5_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four window-function families, tagged. 'orders' branch: latest-
    order rank + previous price + running spend over one per-customer
    partition — a single shuffle on o_custkey serves all three, state per
    key is one row/accumulator. 'brand_topn' branch: dense_rank <= 3 per
    brand — Spark >= 3.5 rewrites the rank filter into WindowGroupLimit, so
    each input partition forwards at most 3 rows per brand into the window
    shuffle. Column mapping (orders/brand_topn): grp = custkey-as-string /
    p_brand, item = o_orderkey / p_partkey, rnk = recency_rank / dense
    rank, v1 = prev_price / p_retailprice, v2 = running_spend / NULL."""
    orders = load_table(spark, sf_dir, "orders")
    w_asc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_desc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    orders_branch = orders.select(
        F.lit("orders").alias("branch"),
        F.col("o_custkey").cast("string").alias("grp"),
        F.col("o_orderkey").alias("item"),
        F.row_number().over(w_desc).alias("rnk"),
        F.round(
            F.coalesce(F.lag("o_totalprice").over(w_asc), F.lit(0)), 2
        ).alias("v1"),
        F.round(
            F.sum("o_totalprice").over(
                w_asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("v2"),
    )
    part = load_table(spark, sf_dir, "part")
    w_brand = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    brand_branch = (
        part.withColumn("rk", F.dense_rank().over(w_brand))
        .filter(F.col("rk") <= 3)
        .select(
            F.lit("brand_topn").alias("branch"),
            F.col("p_brand").alias("grp"),
            F.col("p_partkey").alias("item"),
            F.col("rk").alias("rnk"),
            F.col("p_retailprice").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )
    )
    return orders_branch.unionByName(brand_branch)


# --------------------------------------------------------------------------
# B6 — rollup / cube / grouping sets
# --------------------------------------------------------------------------


@register(
    "b6_grouping_pack",
    oracle="""
    SELECT 'rollup' AS op, o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'cube' AS op, o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'gsets' AS op, o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    UNION ALL
    SELECT 'pivot' AS op, s AS o_orderstatus, o_orderpriority,
           n, CAST(NULL AS DOUBLE) AS revenue
    FROM (
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority
    ) UNPIVOT (n FOR s IN (n_o AS 'O', n_f AS 'F', n_p AS 'P'))
    """,
    survey_ref="§2 B6 rollup + cube + explicit GROUPING SETS + pivot (wide "
    "conditional aggregation, explicit value list), tagged so one oracle "
    "checks all four grouping-extension operators",
)
def b6_grouping_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four grouping extensions over the same fact. Each Expand+agg is
    its own single-shuffle subplan; the union is append-only (no extra
    exchange). Grouping keys are low-cardinality, so partial aggregation
    collapses each input partition to a handful of rows per set. The
    'pivot' branch runs a real groupBy().pivot() with an explicit value
    list (single pass, no distinct-values pre-query) and is unpivoted back
    to tagged rows only to share the pack schema."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ]
    rollup = (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .select(F.lit("rollup").alias("op"), "*")
    )
    cube = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .select(F.lit("cube").alias("op"), "*")
    )
    register_views(spark, sf_dir, only=("orders",))
    gsets = spark.sql(
        """
        SELECT 'gsets' AS op, o_orderstatus, o_orderpriority,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))  # pivot disallows the star form of count
    )
    pivot_branch = pivoted.select(
        F.lit("pivot").alias("op"),
        F.col("o_orderpriority"),
        F.expr("stack(3, 'O', O, 'F', F, 'P', P) AS (o_orderstatus, n)"),
    ).select(
        "op",
        "o_orderstatus",
        "o_orderpriority",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.lit(None).cast("double").alias("revenue"),
    )
    return rollup.unionByName(cube).unionByName(gsets).unionByName(pivot_branch)


# --------------------------------------------------------------------------
# B7 — set operations
# --------------------------------------------------------------------------


@register(
    "b7_set_ops",
    oracle="""
    SELECT 'union' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'union_all' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    """,
    survey_ref="§2 B7 UNION / INTERSECT / EXCEPT / UNION ALL (and B8 "
    "DISTINCT via the union branch), tagged so one oracle checks all four",
)
def b7_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four set operations over the same two inputs, tagged. subtract()
    is SQL EXCEPT (set semantics): a row present in b is fully removed —
    exceptAll().distinct() would differ when a duplicated left row also
    appears in b. Each set op is one shuffle on the compared columns."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")

    def tag(df: DataFrame, op: str) -> DataFrame:
        return df.select(F.lit(op).alias("op"), "c_custkey")

    return (
        tag(a.union(b).distinct(), "union")
        .unionByName(tag(a.intersect(b), "intersect"))
        .unionByName(tag(a.subtract(b), "except"))
        .unionByName(tag(a.union(b), "union_all"))
    )


# --------------------------------------------------------------------------
# B8 — distinct-family and statistical aggregates
# --------------------------------------------------------------------------


@register(
    "b8_stats_pack",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_qty_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price,
           TRUE AS approx_pctl_within_1pct,
           TRUE AS hll_parts_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ref="§2 B8 exact COUNT(DISTINCT) + statistical aggregates "
    "(stddev/var/corr/covar) + exact interpolated percentiles, one "
    "grouping; plus both bounded-memory sketches pinned in error bands: "
    "approx_percentile (GK digest, 1% of exact) and "
    "approx_count_distinct (HLL, 5% of the exact distinct count). "
    "B40's MAD briefly rode this pack as an exact-percentile column; "
    "reverted after the sf10 sitting showed it tripling the pack (two "
    "more exact-percentile passes over the fact — this docstring's own "
    "scale warning). The driver check for B40 is the s1 events branch.",
)
def b8_stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-aggregate family over one grouping, as two aggregates
    joined on the 3-value key: mixing COUNT(DISTINCT) with a percentile in
    one agg makes Catalyst drag the percentile buffer through the
    multi-distinct Expand (3x the rows into a sort aggregate — measured
    ~5x slower at sf0.1); split, the distinct branch expands only its own
    two key columns and the moments/percentile branch stays a plain hash
    aggregate. The final join is 3 rows x 3 rows, broadcast.

    Scale note: exact ``percentile`` buffers a value->count map per group
    in the merge — fine at bench SFs, unbounded at 100 TB (billions of
    distinct doubles per group on one reducer). The 100 TB percentile is
    ``approx_percentile`` (Greenwald-Khanna digest: mergeable, memory
    bounded by the accuracy parameter, error bounded in rank). Both run
    here, and the driver-checked booleans assert the digest lands within
    1% of the exact value (observed ~0.02% at accuracy=10000; the digest
    is deterministic for fixed data) — the same error-band-oracle pattern
    as the HLL distinct-count branch below.

    Both quantiles come from ONE percentile buffer each (array-form
    ``percentile(col, array(0.5, 0.9))``): per-quantile calls build and
    merge a separate value->count map / digest per quantile — measured
    ~1.6x slower on the moments branch at sf1."""
    li = load_table(spark, sf_dir, "lineitem")
    distincts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )
    # HLL sketch in its own aggregate for the same Expand reason; its raw
    # value differs between engines (Spark HLL++ vs DuckDB HLL), so the
    # driver-checkable form is the error-band boolean vs the exact count
    # (observed ~1% at rsd=0.02; deterministic for fixed data). The
    # production op at 100 TB is the sketch alone — one pass, no dedup
    # shuffle of the key domain, mergeable partials; the exact count here
    # is the verification harness.
    hll = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_hll_parts")
    )
    qs = F.array(F.lit(0.5), F.lit(0.9))
    moments = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "cov_qty_price"
        ),
        F.percentile("l_extendedprice", qs).alias("_pcts"),
        F.approx_percentile("l_extendedprice", qs, F.lit(10000)).alias(
            "_apcts"
        ),
    )
    moments = moments.select(
        "l_returnflag",
        "sd_qty",
        "var_disc",
        "corr_qty_price",
        "cov_qty_price",
        F.round(F.col("_pcts")[0], 4).alias("median_price"),
        F.round(F.col("_pcts")[1], 4).alias("p90_price"),
        (
            (
                F.abs(F.col("_apcts")[0] - F.col("_pcts")[0])
                / F.col("_pcts")[0]
                <= 0.01
            )
            & (
                F.abs(F.col("_apcts")[1] - F.col("_pcts")[1])
                / F.col("_pcts")[1]
                <= 0.01
            )
        ).alias("approx_pctl_within_1pct"),
    )
    return (
        distincts.join(moments, "l_returnflag")
        .join(F.broadcast(hll), "l_returnflag")
        .withColumn(
            "hll_parts_within_5pct",
            F.abs(F.col("_hll_parts") - F.col("n_parts")) / F.col("n_parts")
            <= 0.05,
        )
        .drop("_hll_parts")
    )


# --------------------------------------------------------------------------
# B9 — scalar function pack
# --------------------------------------------------------------------------


@register(
    "b9_scalar_pack",
    oracle="""
    SELECT o_orderkey,
           UPPER(SUBSTR(o_orderpriority, 3)) AS priority_name,
           CONCAT(o_orderstatus, '-', REGEXP_EXTRACT(o_orderpriority, '^([0-9]+)', 1))
             AS status_code,
           (o_orderpriority LIKE '%URGENT%') AS is_urgent,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
           CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS BIGINT)
             AS days_before_2002,
           ROUND(o_totalprice / 1000.0, 6) AS price_k,
           ABS(o_totalprice - 250000.0) AS dist_from_median,
           CASE WHEN o_totalprice > 400000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_or_pending
    FROM orders
    """,
    survey_ref="§2 B9 string/date/math/conditional scalar functions",
)
def b9_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.expr("substring(o_orderpriority, 3)")).alias("priority_name"),
        F.concat(
            F.col("o_orderstatus"),
            F.lit("-"),
            F.regexp_extract("o_orderpriority", r"^([0-9]+)", 1),
        ).alias("status_code"),
        F.col("o_orderpriority").like("%URGENT%").alias("is_urgent"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("days_before_2002"),
        # 6 dp: totalprice has <=2 decimals so /1000 has <=5 — rounding past
        # the last digit never lands on a .5 boundary, where Spark (decimal
        # HALF_UP on the shortest representation) and DuckDB (raw binary
        # round) disagree. Surfaced at sf0.1 with values like 172805/1000.
        F.round(F.col("o_totalprice") / 1000.0, 6).alias("price_k"),
        F.abs(F.col("o_totalprice") - 250000.0).alias("dist_from_median"),
        F.when(F.col("o_totalprice") > 400000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
        ).alias("status_or_pending"),
    )


# --------------------------------------------------------------------------
# B10 — JSON / array functions
# --------------------------------------------------------------------------


@register(
    "b10_json_array_pack",
    oracle="""
    SELECT 'json' AS branch, CAST(event_id AS VARCHAR) AS k,
           ARRAY_TO_STRING(json_keys(props), ',') AS s,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS n
    FROM events
    UNION ALL
    SELECT 'topk_tokens', token, NULL, n FROM (
      SELECT token, COUNT(*) AS n
      FROM (SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '')) AS token
            FROM documents)
      GROUP BY token
      ORDER BY n DESC, token
      LIMIT 20
    )
    UNION ALL
    SELECT 'hh_topk', 'spacesaving_equals_exact', NULL, 1
    """,
    survey_ref="§2 B10 JSON path + keys over events.props ('json' branch) "
    "and array explode token frequency ('topk_tokens' branch), tagged + "
    "§2 B34 distributed heavy hitters ('hh_topk' branch: the SpaceSaving "
    "candidates + exact-count top-20 must EQUAL the exact top-20 the "
    "'topk_tokens' branch computes in the same plan — the operator's "
    "recovery contract as a driver-checked boolean)",
)
def b10_json_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON/array surface, tagged. 'json' branch: per-event path extraction
    + key listing — one from_json per row serves both outputs (a
    get_json_object for n would parse the same document a second time; this
    branch is pure per-row JSON parse, the first to go data-bound as SF
    grows). 'topk_tokens' branch: explode-and-count top-20 corpus tokens,
    a two-level aggregate whose shuffle carries (token, partial count) —
    map-side combine bounds it by vocabulary, not corpus, size. Column
    mapping (json/topk_tokens): k = event_id / token, s = key_list / NULL,
    n = props.k value / token count."""
    from ..functions.text import tokens

    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    json_branch = events.select(
        F.lit("json").alias("branch"),
        F.col("event_id").cast("string").alias("k"),
        F.array_join(F.map_keys(m), ",").alias("s"),
        m.getItem("k").cast("long").alias("n"),
    )
    docs = load_table(spark, sf_dir, "documents")
    token_counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # Round-13 (guide §1.2/§2.4): the full exact count is this pack's own
    # declared computation, and it is consumed THREE times — the exact
    # top-20 branch, its struct-list copy for the hh comparison, and the
    # heavy-hitter lookup. Pin it once (vocabulary-sized blocks) and hand
    # it to top_k_tokens as ``exact_counts``, dropping a whole
    # tokenize+explode+count pass over the corpus.
    from ..operators.sketches import top_k_tokens
    from ..operators.spread import pin

    token_counts = pin(token_counts, source=docs)
    exact_topk = token_counts.orderBy(
        F.col("n").desc(), F.col("token")
    ).limit(20)
    topk_branch = exact_topk.select(
        F.lit("topk_tokens").alias("branch"),
        F.col("token").alias("k"),
        F.lit(None).cast("string").alias("s"),
        "n",
    )
    # B34 heavy hitters: the SpaceSaving-candidate + exact-count top-20
    # must equal the exact top-20 above — both use the same deterministic
    # (n desc, token asc) cut, and the operator's contract is that the
    # candidate set never misses a true heavy hitter at this capacity.
    # Compared in-plan as two sorted 20-row struct lists; the oracle pins
    # the boolean TRUE. The 1x1 crossJoin is the documented scalar-combine
    # precedent (operators/relational.py).
    hh = top_k_tokens(docs, k=20, capacity=4096, exact_counts=token_counts)
    exact_list = exact_topk.agg(
        F.sort_array(F.collect_list(F.struct("token", "n"))).alias("_e")
    )
    hh_list = hh.agg(
        F.sort_array(F.collect_list(F.struct("token", "n"))).alias("_h")
    )
    hh_branch = exact_list.crossJoin(hh_list).select(
        F.lit("hh_topk").alias("branch"),
        F.lit("spacesaving_equals_exact").alias("k"),
        F.lit(None).cast("string").alias("s"),
        (F.col("_e") == F.col("_h")).cast("long").alias("n"),
    )
    return json_branch.unionByName(topk_branch).unionByName(hh_branch)


# B13 text statistics live in llm_suite (c8_text_features pack,
# c11_lang_id_histogram) — the per-document text operators plus their
# grouped aggregates, all oracle-paired there.


# --------------------------------------------------------------------------
# Widening shapes: scalar subquery, correlated-count filter, as-of join,
# order-normalized collect, correlated EXISTS (TPC-H Q4), range join, CTE
# --------------------------------------------------------------------------


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

    events = load_table(spark, sf_dir, "events")
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
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
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
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
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
    orders = load_table(spark, sf_dir, "orders")
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

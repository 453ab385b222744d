"""Core relational operator suite (SURVEY.md §2.3–§2.7).

Covers: scans+filter pushdown, projections, equi/theta joins (broadcast dims),
semi/anti joins, aggregations (core + stats + group_concat), GROUP BY/HAVING,
ROLLUP, window functions (ranking, running frames, lag/lead), ORDER BY/LIMIT
with deterministic tiebreaks, set operations, CTE/scalar subqueries, CASE/CAST,
JSON extraction, regexp, string and date functions — each against a DuckDB
oracle. Reference parity: dsq delegates all of these to SQLite
(/root/reference/main.go:236-265); here each is an idiomatic DataFrame plan
that Catalyst optimizes (predicate pushdown, broadcast joins, partial aggs).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dsq_spark.queries.base import register, t

# --------------------------------------------------------------------------
# TPC-H-style analytical queries
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_extendedprice), 4)                              AS avg_price,
       round(avg(l_discount), 6)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: full-scan partial-agg; 6 output groups.",
)
def q1_pricing_summary(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3: 3-way join (customer broadcast), group, top-10 w/ tiebreak.",
)
def q3_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        # customer is the small side after the segment filter → broadcast it
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    doc="TPC-H Q5: 6-way join; region/nation broadcast; revenue per nation.",
)
def q5_local_supplier_volume(spark, sf_dir):
    c, o, l = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    s, n, r = t(spark, sf_dir, "supplier"), t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    dim = F.broadcast(n.join(r.filter(F.col("r_name") == "ASIA"), n.n_regionkey == r.r_regionkey))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(dim, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: pure filter+scalar agg; all predicates push into the scan.",
)
def q6_forecast_revenue(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10: returned-item revenue per customer, top-20 w/ tiebreak.",
)
def q10_returned_items(spark, sf_dir):
    from dsq_spark.queries.base import rebalance

    c, o, n = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders"), t(spark, sf_dir, "nation")
    # r10: rebalance the single-task lineitem scan so the broadcast
    # joins + partial aggregation parallelize (no-op at scale; the R
    # filter pushes below the round-robin exchange into the scan).
    # Revenue is rounded to 2dp BEFORE the ORDER BY and tie-broken on
    # c_custkey, so partition-order FP noise cannot reorder the top 20.
    l = rebalance(t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Aggregation coverage (SURVEY §2.5): stats aggs, HAVING, distinct aggs,
# group_concat, ROLLUP.
# --------------------------------------------------------------------------


@register(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS std_price,
       round(stddev_pop(l_extendedprice), 4)  AS stdp_price,
       round(quantile_cont(l_quantity, 0.5), 4)  AS median_qty,
       round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
       round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
       CAST(mode(l_linenumber) AS BIGINT)     AS mode_linenumber,
       round(min(l_extendedprice), 2)         AS min_price,
       round(max(l_extendedprice), 2)         AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Extended stats aggs (stdlib parity: stddev/median/percentile/mode — "
        "reference README.md:419-425); exact interpolated percentiles.",
)
def agg_stats(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("stdp_price"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95_qty"),
        F.mode("l_linenumber").cast("long").alias("mode_linenumber"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_having_distinct",
    oracle="""
SELECT o_orderpriority,
       count(*)                    AS n_orders,
       count(DISTINCT o_custkey)   AS n_customers,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY o_orderpriority
HAVING count(*) > 10
""",
    doc="GROUP BY + HAVING + COUNT(DISTINCT) (SURVEY A4).",
)
def agg_having_distinct(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .filter(F.col("n_orders") > 10)
    )


@register(
    "agg_group_concat",
    oracle="""
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    doc="GROUP_CONCAT parity (SURVEY A2): sorted-distinct concat so the "
        "result is deterministic under distributed aggregation.",
)
def agg_group_concat(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.count("*").alias("n"),
    )


@register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP hierarchy totals (SURVEY A6 — Spark superset over SQLite).",
)
def agg_rollup(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# Joins beyond inner (SURVEY §2.4): outer, semi, anti, cross.
# --------------------------------------------------------------------------


@register(
    "join_outer_coverage",
    oracle="""
SELECT n.n_name,
       count(c.c_custkey) AS n_customers,
       count(s.s_suppkey) AS n_suppliers
FROM nation n
LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > 5000
GROUP BY n.n_name
""",
    doc="LEFT OUTER joins w/ join-side predicate; counts skip NULLs.",
)
def join_outer_coverage(spark, sf_dir):
    n, c = t(spark, sf_dir, "nation"), t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"), F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_semi_anti",
    oracle="""
SELECT n_name,
       (SELECT count(*) FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
           AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)) AS n_big_spenders,
       (SELECT count(*) FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
           AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_orderless
FROM nation n
""",
    doc="LEFT SEMI / LEFT ANTI joins (SURVEY J5: EXISTS / NOT EXISTS parity).",
)
def join_semi_anti(spark, sf_dir):
    n, c = t(spark, sf_dir, "nation"), t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    spenders = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy(F.col("c_nationkey").alias("sp_nk"))
        .agg(F.count("*").alias("n_big_spenders"))
    )
    orderless = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("ol_nk"))
        .agg(F.count("*").alias("n_orderless"))
    )
    return (
        n.join(F.broadcast(spenders), n.n_nationkey == spenders.sp_nk, "left")
        .join(F.broadcast(orderless), n.n_nationkey == orderless.ol_nk, "left")
        .select(
            "n_name",
            F.coalesce("n_big_spenders", F.lit(0)).alias("n_big_spenders"),
            F.coalesce("n_orderless", F.lit(0)).alias("n_orderless"),
        )
    )


@register(
    "join_right_full",
    oracle="""
SELECT status, n_orders, n_customers FROM (
  SELECT 'right' AS status, count(o_orderkey) AS n_orders, count(DISTINCT c.c_custkey) AS n_customers
  FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
  UNION ALL
  SELECT 'full', count(o_orderkey), count(DISTINCT c.c_custkey)
  FROM orders o FULL OUTER JOIN customer c ON o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
) z
""",
    doc="RIGHT and FULL OUTER joins (SURVEY J3) with a join-side predicate; "
        "null-extended rows excluded from COUNT(col).",
)
def join_right_full(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cond = (o.o_custkey == c.c_custkey) & (o.o_totalprice > 450000)
    right = (
        o.join(c, cond, "right")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.countDistinct("c_custkey").alias("n_customers"))
        .select(F.lit("right").alias("status"), "n_orders", "n_customers")
    )
    full = (
        o.join(c, cond, "full")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.countDistinct("c_custkey").alias("n_customers"))
        .select(F.lit("full").alias("status"), "n_orders", "n_customers")
    )
    return right.unionAll(full)


@register(
    "join_cross_theta",
    oracle="""
SELECT r1.r_name AS region_a, r2.r_name AS region_b
FROM region r1 CROSS JOIN region r2
WHERE r1.r_name < r2.r_name
""",
    doc="CROSS JOIN + theta predicate (SURVEY J4): unordered region pairs.",
)
def join_cross_theta(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    r1 = r.select(F.col("r_name").alias("region_a"))
    r2 = r.select(F.col("r_name").alias("region_b"))
    return r1.crossJoin(r2).filter(F.col("region_a") < F.col("region_b"))


# --------------------------------------------------------------------------
# Window functions (SURVEY §2.6).
# --------------------------------------------------------------------------


@register(
    "window_topn_per_group",
    oracle="""
SELECT * FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
""",
    doc="row_number ranking, top-3 per segment (SURVEY W1).",
)
def window_topn_per_group(spark, sf_dir):
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice",
                F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_spend,
       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT)
         AS order_seq
FROM orders
WHERE o_custkey < 200
""",
    doc="Running-frame aggregate + rank (SURVEY W3/W4: ROWS BETWEEN).",
)
def window_running_sum(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
         .alias("running_spend"),
        F.rank().over(w).cast("long").alias("order_seq"),
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS value_delta,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)  AS next_event
FROM events
WHERE user_id < 50
""",
    doc="lag/lead offsets over event streams (SURVEY W2).",
)
def window_lag_lead(spark, sf_dir):
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_event"),
    )


# --------------------------------------------------------------------------
# Set ops, subqueries, expressions (SURVEY §2.7).
# --------------------------------------------------------------------------


@register(
    "set_operations",
    oracle="""
SELECT 'union_all' AS op, count(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect' AS op, count(*) AS n FROM (
  SELECT DISTINCT c_nationkey AS k FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (
  SELECT DISTINCT c_nationkey AS k FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
""",
    doc="UNION ALL / INTERSECT / EXCEPT (SURVEY O3).",
)
def set_operations(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    u = c.unionAll(s).agg(F.count("*").alias("n")).select(F.lit("union_all").alias("op"), "n")
    i = c.distinct().intersect(s.distinct()).agg(F.count("*").alias("n")).select(F.lit("intersect").alias("op"), "n")
    e = c.distinct().exceptAll(s.distinct()).agg(F.count("*").alias("n")).select(F.lit("except").alias("op"), "n")
    return u.unionAll(i).unionAll(e)


@register(
    "cte_scalar_subquery",
    oracle="""
WITH stats AS (SELECT avg(c_acctbal) AS avg_bal FROM customer)
SELECT c_nationkey,
       count(*) AS n_above_avg,
       round(avg(c_acctbal - avg_bal), 4) AS avg_excess
FROM customer, stats
WHERE c_acctbal > avg_bal
GROUP BY c_nationkey
""",
    doc="CTE + scalar subquery (SURVEY O4): customers above global avg balance.",
)
def cte_scalar_subquery(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    stats = c.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_above_avg"),
            F.round(F.avg(F.col("c_acctbal") - F.col("avg_bal")), 4).alias("avg_excess"),
        )
    )


@register(
    "case_cast_coalesce",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS bucket,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       CAST(min(CAST(o_orderkey AS VARCHAR)) AS VARCHAR) AS min_key_str,
       coalesce(nullif(min(o_orderstatus), 'F'), 'fallback') AS status_demo
FROM orders
GROUP BY 1
""",
    doc="CASE WHEN / CAST / COALESCE / NULLIF expressions (SURVEY O5).",
)
def case_cast_coalesce(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min(F.col("o_orderkey").cast("string")).alias("min_key_str"),
            F.coalesce(F.nullif(F.min("o_orderstatus"), F.lit("F")), F.lit("fallback")).alias("status_demo"),
        )
    )


# --------------------------------------------------------------------------
# Function-library coverage (SURVEY §2.8): JSON, regexp, strings, dates.
# --------------------------------------------------------------------------


@register(
    "json_extraction",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events
GROUP BY event_type
""",
    doc="JSON path extraction on string columns (SURVEY P5: -> / json_extract "
        "parity via get_json_object).",
)
def json_extraction(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@register(
    "json1_mutators",
    oracle="""
SELECT event_id,
       CAST(json_merge_patch(props, '{"tag":"x","seen":1}') AS VARCHAR) AS patched,
       CAST(json_merge_patch(props, '{"k":null}') AS VARCHAR)           AS removed,
       CAST(json_merge_patch(props,
            json_object('bucket', CAST(json_extract_string(props, '$.k')
                                       AS BIGINT) % 5)) AS VARCHAR)     AS with_bucket,
       CAST(json_extract_string(
            json_merge_patch(props,
                json_object('bucket', CAST(json_extract_string(props, '$.k')
                                           AS BIGINT) % 5)),
            '$.bucket') AS BIGINT)                                      AS bucket
FROM events
WHERE event_id < 100
""",
    doc=(
        "SQLite JSON1 mutators over the events JSON column: json_patch "
        "(RFC 7396 — DuckDB's json_merge_patch is the same spec, giving a "
        "true value-level oracle), top-level key removal, and a computed "
        "json_set (DuckDB emulates via merge-patch; both engines minify "
        "identically), with the set value extracted back out.  Engine: "
        "dsq_spark/functions/json1.py — Arrow-batched Pandas UDFs over a "
        "pure-Python SQLite-pinned mutation engine (the one sanctioned "
        "Python hop: generic JSON mutation of schema-less documents is not "
        "expressible in Catalyst built-ins).  Scale shape: pure map-side "
        "per-row work, zero shuffles, predicate pushed to the scan — "
        "embarrassingly parallel at any corpus size."
    ),
)
def json1_mutators(spark, sf_dir):
    from dsq_spark.functions import register_all

    register_all(spark)
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    k = F.get_json_object("props", "$.k").cast("long")
    # json_set with a computed numeric value: the value rides as JSON text
    # (digit string), exactly what the rewriter's _jq produces for numbers
    with_bucket = F.expr(
        "dsq_json_set(props, array('$.bucket', CAST(bucket_val AS STRING)))")
    return (
        e.withColumn("bucket_val", k % 5)
        .select(
            "event_id",
            F.expr("""json_patch(props, '{"tag":"x","seen":1}')""").alias("patched"),
            F.expr("dsq_json_remove(props, array('$.k'))").alias("removed"),
            with_bucket.alias("with_bucket"),
            F.get_json_object(with_bucket, "$.bucket").cast("long").alias("bucket"),
        )
    )


@register(
    "regexp_functions",
    oracle="""
SELECT CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT) AS brand_num,
       count(*) AS n,
       count(CASE WHEN regexp_matches(p_type, '^STANDARD') THEN 1 END) AS n_standard,
       min(regexp_replace(p_name, '[aeiou]', '_', 'g')) AS sample_devoweled
FROM part
GROUP BY 1
""",
    doc="REGEXP operator + regexp_extract/replace (SURVEY P4, §2.8 regexp).",
)
def regexp_functions(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return (
        p.groupBy(F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).cast("long").alias("brand_num"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("p_type").rlike("^STANDARD"), 1)).alias("n_standard"),
            F.min(F.regexp_replace("p_name", "[aeiou]", "_")).alias("sample_devoweled"),
        )
    )


@register(
    "string_functions",
    oracle="""
SELECT c_mktsegment,
       min(upper(c_name))                          AS min_upper,
       max(lower(substr(c_name, 1, 8)))            AS max_lower_prefix,
       CAST(sum(length(c_name)) AS BIGINT)         AS total_len,
       min(lpad(CAST(c_custkey AS VARCHAR), 10, '0')) AS min_padded_key,
       min(split_part(c_name, '#', 2))             AS min_key_part,
       min(replace(c_mktsegment, 'A', '@'))        AS replaced
FROM customer
GROUP BY c_mktsegment
""",
    doc="String stdlib parity (SURVEY §2.8): upper/lower/substr/length/lpad/"
        "split_part/replace.",
)
def string_functions(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.min(F.upper("c_name")).alias("min_upper"),
        F.max(F.lower(F.substring("c_name", 1, 8))).alias("max_lower_prefix"),
        F.sum(F.length("c_name")).cast("long").alias("total_len"),
        F.min(F.lpad(F.col("c_custkey").cast("string"), 10, "0")).alias("min_padded_key"),
        F.min(F.split_part(F.col("c_name"), F.lit("#"), F.lit(2))).alias("min_key_part"),
        F.min(F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("@"))).alias("replaced"),
    )


@register(
    "date_functions",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT)  AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS monthly_total,
       CAST(min(day(o_orderdate)) AS BIGINT) AS min_day
FROM orders
GROUP BY 1, 2
""",
    doc="Date-part extraction (SURVEY §2.8 date fns: date_year/month/day).",
)
def date_functions(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monthly_total"),
            F.min(F.dayofmonth("o_orderdate")).cast("long").alias("min_day"),
        )
    )


@register(
    "hash_functions",
    oracle="""
SELECT c_mktsegment,
       min(md5(c_name)) AS min_md5,
       count(DISTINCT md5(c_name)) AS n_distinct_hashes
FROM customer
GROUP BY c_mktsegment
""",
    doc="Hash stdlib parity (SURVEY §2.8: md5/sha — md5 is identical across "
        "Spark and DuckDB so it also underpins the dedup oracles).",
)
def hash_functions(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.min(F.md5("c_name")).alias("min_md5"),
        F.countDistinct(F.md5("c_name")).alias("n_distinct_hashes"),
    )


# --------------------------------------------------------------------------
# Sessionization (gaps-and-islands — the batch shape of the streaming
# session-window operator in dsq_spark.streaming).
# --------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, event_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
""",
    doc="Sessionization with a 30-minute inactivity gap (gaps-and-islands: "
        "lag + conditional cumsum). Exact integer microsecond arithmetic on "
        "both engines so boundaries can't drift.",
)
def sessionize_events(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            (us - F.lag(us).over(w) > 1800 * 1_000_000) | F.lag("ts").over(w).isNull(), 1
        ).otherwise(0).alias("is_new"),
    )
    sessions = flagged.select(
        "user_id",
        "event_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("session_id"),
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "recursive_cte_series",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '2001-08-01'
)
SELECT m AS month,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       round(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE), 2) AS revenue
FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
GROUP BY m
""",
    doc=(
        "WITH RECURSIVE monthly calendar (80 iterations) left-joined to "
        "order revenue — exercises the iterative fixpoint evaluator "
        "(dsq_spark.recursive; SQLite supports recursive CTEs, Spark does "
        "not — SURVEY.md §2.7 O4). Correctness-only: excluded from bench "
        "(driver-loop latency is iteration-bound, not data-bound)."
    ),
    bench=False,
)
def recursive_cte_series(spark, sf_dir):
    from dsq_spark.recursive import run_recursive

    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return run_recursive(spark, """
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01' AS m
  UNION ALL
  SELECT add_months(m, 1) FROM months WHERE m < DATE '2001-08-01'
)
SELECT m AS month,
       count(o_orderkey) AS n_orders,
       round(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE), 2) AS revenue
FROM months LEFT JOIN orders ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
GROUP BY m
""")


@register(
    "agg_approx_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
""",
    doc=(
        "HLL approximate distinct users per event type (SURVEY.md §2.5 A7 — "
        "Spark superset; the scale path for distinct counts: HLL sketches "
        "merge map-side, so no per-key shuffle of raw user_ids at 100 TB). "
        "The sketch estimate itself differs across engines, so the value "
        "check pins a relative-error bound (|approx-exact|/exact < 0.15; "
        "measured 6.7% worst-case at sf0.1 with default rsd 0.05) plus the "
        "exact count, both oracle-comparable."
    ),
)
def agg_approx_distinct(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx"),
            F.countDistinct("user_id").alias("n_users_exact"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (F.abs(F.col("approx") - F.col("n_users_exact"))
             / F.col("n_users_exact") < 0.15).alias("approx_ok"),
        )
    )


@register(
    "window_range_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
         AS rev_30d
FROM orders
""",
    doc=(
        "Value-based RANGE window frame (SURVEY.md §2.6 W4 — the ROWS case "
        "is covered by window_running_sum): trailing-30-day revenue per "
        "customer. DataFrame API expresses the interval frame as a "
        "rangeBetween over epoch seconds — value frames are tie-stable, so "
        "the result is deterministic without a unique sort key."
    ),
)
def window_range_frame(spark, sf_dir):
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders").withColumn(
        "epoch_s", F.unix_timestamp("o_orderdate")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_s")
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double"), 2
        ).alias("rev_30d"),
    )


@register(
    "window_groups_frame",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey,
         dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS grp
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(count(*) OVER (
         PARTITION BY o_custkey ORDER BY grp
         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_recent
FROM ranked
""",
    doc=(
        "GROUPS window frame (SURVEY.md §2.6 W4 — SQLite 3.28+ has GROUPS "
        "frames, Spark and DuckDB do not): emulated as dense_rank over the "
        "ordering + a RANGE frame over that rank, which is exactly a frame "
        "counted in peer groups. Cross-checked two ways: the DuckDB oracle "
        "runs the same emulation in portable SQL, and "
        "tests/test_functions.py::test_groups_frame_vs_sqlite pins the "
        "emulation against REAL SQLite's native GROUPS frame."
    ),
)
def window_groups_frame(spark, sf_dir):
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    ranked = o.withColumn("grp", F.dense_rank().over(by_date))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("grp")
        .rangeBetween(-1, Window.currentRow)
    )
    return ranked.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).cast("long").alias("n_recent"),
    )


@register(
    "baseline_groupby",
    oracle="""
SELECT l_linenumber,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(l_extendedprice), 4) AS avg_price
FROM lineitem
GROUP BY l_linenumber
""",
    doc=(
        "The reference's published benchmark shape (BASELINE.md: SELECT "
        "passenger_count, COUNT(*), AVG(total_amount) FROM taxi GROUP BY "
        "passenger_count — reference README.md:651-655) transposed onto "
        "lineitem: one low-cardinality integer group key, COUNT + AVG over "
        "a full scan. Map-side partial aggregation collapses each partition "
        "to ~7 rows before the shuffle, so the exchange is O(partitions), "
        "not O(rows) — the plan shape that wins at 100 TB."
    ),
)
def baseline_groupby(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_linenumber").agg(
        F.count("*").alias("n"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


@register(
    "window_exclude_frame",
    oracle="""
SELECT o_orderkey,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
         AS DOUBLE), 2) AS neighbor_rev
FROM orders
""",
    doc=(
        "EXCLUDE CURRENT ROW window frame (SURVEY.md §2.6 W4 — SQLite "
        "3.28+ has frame exclusion, Spark does not): for aggregates it is "
        "exactly frame_agg - current_value, so the emulation subtracts the "
        "row's own contribution from the plain ROWS frame. Oracle runs "
        "DuckDB's NATIVE EXCLUDE CURRENT ROW. Decimal accumulation keeps "
        "the subtraction exact."
    ),
)
def window_exclude_frame(spark, sf_dir):
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 2)
    )
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    # A frame containing only the current row must yield NULL after
    # exclusion (empty-frame SUM), not 0 — match native EXCLUDE.
    neighbor = F.when(
        F.count("*").over(w) > 1, (F.sum(dec).over(w) - dec).cast("double")
    )
    return o.select(
        "o_orderkey",
        F.round(neighbor, 2).alias("neighbor_rev"),
    )


@register(
    "agg_approx_quantile",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       TRUE AS approx_ok,
       0 AS delta_2pct_steps
FROM lineitem
GROUP BY l_returnflag
""",
    doc=(
        "Approximate median price per return flag (SURVEY.md §2.5 A7 "
        "superset): percentile_approx is the 100 TB path — a mergeable "
        "KLL-style sketch, no full sort, map-side combinable. The sketch "
        "is checked against Spark's own exact interpolated percentile with "
        "a pinned 2% relative-error bound (exact medians are NOT compared "
        "cross-engine: Spark and DuckDB use different quantile "
        "interpolation conventions, adjacent-element gaps apart). "
        "delta_2pct_steps floors the relative error into 2%-wide buckets — "
        "0 whenever the bound holds, so the oracle pins it, and a future "
        "sketch regression surfaces as a readable magnitude instead of an "
        "opaque hash mismatch (ADVICE r2)."
    ),
)
def agg_approx_quantile(spark, sf_dir):
    # r10: tried rebalance() on the single-task lineitem scan; the
    # round-robin exchange measured SLOWER (1.42 -> 1.70 s in-suite) —
    # the exact-percentile state is a sort-based agg that shuffles on
    # l_returnflag anyway, so the exchange only added bytes.  Plain scan.
    li = t(spark, sf_dir, "lineitem")
    rel = F.abs(F.col("approx") - F.col("exact")) / F.col("exact")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("n_rows"),
            (rel < 0.02).alias("approx_ok"),
            F.floor(rel / 0.02).cast("int").alias("delta_2pct_steps"),
        )
    )


@register(
    "json_each_props",
    oracle="""
SELECT 'k' AS prop_key,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_v,
       count(*) AS n
FROM events
""",
    doc=(
        "End-to-end check of the CLI's SQLite json_each table-valued "
        "rewrite (→ LATERAL VIEW explode of the parsed object): the Spark "
        "side runs the REWRITTEN SQL string, so the key/value explode "
        "machinery itself is driver-verified; the oracle recomputes with "
        "scalar extraction (every props object holds the single key 'k')."
    ),
)
def json_each_props(spark, sf_dir):
    from dsq_spark.rewrite import rewrite_query

    t(spark, sf_dir, "events").createOrReplaceTempView("dsq_events_je")
    # je.value is qualified: the events table has its own `value` column
    # (the same qualification SQLite users need with json_each)
    return spark.sql(rewrite_query(
        "SELECT je.key AS prop_key, "
        "CAST(sum(CAST(je.value AS BIGINT)) AS BIGINT) AS sum_v, "
        "count(*) AS n "
        "FROM dsq_events_je, json_each(props) je GROUP BY je.key"))

"""TPC-H-shaped analytic queries over the driver's star schema.

Beyond-survey surface: the reference's richest relational query is a
two-table join + aggregate (``second.py`` prefix, SURVEY §3.3); a
user replacing it with this engine gets the standard warehouse query
shapes too. These five queries are the classic TPC-H patterns (Q1,
Q3, Q5, Q6, Q10) adapted to the driver's column set, written the way
they should run at 100 TB:

- Filters sit directly on the scan so Parquet row-group pruning and
  predicate pushdown fire (``PushedFilters`` in every plan).
- Small dims (region, nation) are broadcast explicitly; big-big
  joins (orders ⋈ lineitem, customer ⋈ orders) shuffle on their
  natural keys and rely on AQE for skew splitting.
- Aggregates use the decimal-accumulate discipline from
  ``registry.dsum``/``davg`` so results are order-independent and
  hash-identical to the DuckDB oracle under any partitioning.
- Top-k output orders carry a unique-key tiebreak so LIMIT is
  deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import davg, dsum, oracle_davg, oracle_dsum, register


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dsum("l_quantity", "sum_qty")},
           {oracle_dsum("l_extendedprice", "sum_base_price")},
           {oracle_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {oracle_dsum(
               "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"
           )},
           {oracle_davg("l_quantity", "avg_qty")},
           {oracle_davg("l_extendedprice", "avg_price")},
           {oracle_davg("l_discount", "avg_disc")},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: single-pass scan-agg over lineitem "
    "with 8 aggregates in one groupBy (the reference computes column "
    "stats one full pass per column, src/data.py:108-125 — this is "
    "the one-scan Spark counterpart). Map-side partial aggregation "
    "collapses 6B rows/TB to 6 groups before the shuffle.",
    tags=("tpch", "A1", "A16"),
    plan={"pushed": "l_shipdate"},
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price, disc, tax = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(price * (1 - disc), "sum_disc_price"),
            dsum(price * (1 - disc) * (1 + tax), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {oracle_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shipping priority: selective dim filter (BUILDING "
    "segment) broadcast into orders, big-big shuffle join to "
    "lineitem, top-10 by revenue. Spark turns the global ORDER BY + "
    "LIMIT into TakeOrderedAndProject — per-partition top-10 then a "
    "10-row driver merge, no full sort at any scale. Unique-key "
    "tiebreak (l_orderkey) makes the cut deterministic.",
    tags=("tpch", "J1", "W4"),
    plan={"pushed": "l_shipdate", "broadcast": 1},
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {oracle_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 local supplier volume: six-table join with the "
    "region filter pruning the nation/supplier side before it "
    "touches the facts. region+nation are broadcast (bytes-sized at "
    "any SF); customer⋈orders and orders⋈lineitem shuffle on their "
    "keys; the s_nationkey = c_nationkey equality rides along as a "
    "join condition, not a post-filter, so Catalyst keeps it in the "
    "hash-join key set.",
    tags=("tpch", "J1", "A1"),
    plan={"pushed": "o_orderdate", "broadcast": 1},
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "tpch_q6_revenue_forecast",
    oracle=f"""
    SELECT {oracle_dsum("l_extendedprice * l_discount", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 revenue forecast: pure scan-filter-agg, every "
    "predicate pushed to the Parquet reader (range on shipdate, "
    "range on discount, bound on quantity prune row groups via "
    "min/max stats). The scan reads 4 of 11 columns; the aggregate "
    "is a single partial-sum — the cheapest possible full-table "
    "query shape at 100 TB.",
    tags=("tpch", "P8", "A16"),
    plan={"pushed": "l_discount"},
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@register(
    "ev_cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), cohort AS (
      SELECT user_id, min(d) AS cohort_d FROM activity GROUP BY user_id
    )
    SELECT cohort_d, CAST(date_diff('day', cohort_d, d) AS BIGINT) AS day_offset,
           CAST(count(DISTINCT activity.user_id) AS BIGINT) AS n_users
    FROM activity JOIN cohort ON activity.user_id = cohort.user_id
    GROUP BY cohort_d, day_offset
    ORDER BY cohort_d, day_offset
    """,
    doc="Cohort retention over the events stream table: first-seen date "
    "per user defines the cohort; count distinct active users per "
    "(cohort, day offset). Both aggregations and the join hash on "
    "user_id, so the cohort build and the join reuse one shuffle "
    "partitioning; the (user, date) distinct collapses raw events "
    "map-side before anything wide. The classic product-analytics "
    "query a 100 TB event lake runs daily.",
    tags=("events-analytics", "A16", "F6"),
    plan={},
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    activity = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_d",
            F.datediff("d", "cohort_d").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_d", "day_offset")
    )


@register(
    "ev_funnel_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS st FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS ct
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.st
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.ct
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    doc="Ordered funnel (signup → later click → later purchase): each "
    "stage is a min-timestamp aggregate per user joined to the "
    "previous stage with a strict time inequality. Every join and "
    "groupBy hashes on user_id, so one partitioning serves the whole "
    "funnel; stage populations only shrink, so data volume falls "
    "monotonically down the pipeline — the shape scales to arbitrary "
    "event history.",
    tags=("events-analytics", "F6", "A16"),
    # the three single-row stage counts are combined with crossJoins of 1-row
    # aggregates — BroadcastNestedLoopJoin over single rows is the correct
    # (and only) plan for scalar assembly
    plan={"bnlj_ok": True},
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")

    def first_after(event_type: str, prev: DataFrame | None, prev_ts: str, alias: str):
        e = events.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_ts))
        return e.groupBy("user_id").agg(F.min("ts").alias(alias))

    s = first_after("signup", None, "", "st")
    c = first_after("click", s, "st", "ct")
    p = first_after("purchase", c, "ct", "pt")
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_signup")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                 AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14 promo revenue: conditional-aggregate ratio — two "
    "decimal-exact sums in one pass over a month of shipments joined "
    "to part, divided in double only at the end. The month filter "
    "prunes lineitem row groups before the join; part is broadcast "
    "(it stays dim-sized relative to lineitem at every SF).",
    tags=("tpch", "A1", "P8"),
    plan={"pushed": "l_shipdate", "broadcast": 1},
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(
                F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0),
                "promo",
            ),
            dsum(disc_price, "total"),
        )
        .select(
            (F.lit(100.0) * F.col("promo") / F.col("total")).alias("promo_revenue")
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS tot_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, tot_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 large-volume orders: aggregate-then-filter (HAVING) "
    "on the fact table, then join the surviving keys to orders and "
    "customer. The heavy groupBy(l_orderkey) shuffles once and the "
    "HAVING cut happens before any join, so only qualifying orders "
    "(~0.5%) flow downstream; the top-100 is TakeOrderedAndProject "
    "with a unique-key tiebreak.",
    tags=("tpch", "A16", "W4"),
    plan={},
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "tot_qty"))
        .filter(F.col("tot_qty") > 150)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "tot_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {oracle_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 returned items: quarter-filtered orders joined to "
    "returned lineitems, grouped per customer, top-20 losers. The "
    "returnflag filter is pushed into the lineitem scan (dictionary-"
    "encoded column → row-group skip); nation is broadcast; the "
    "top-20 is TakeOrderedAndProject with a c_custkey tiebreak.",
    tags=("tpch", "J2", "W4"),
    plan={"pushed": "l_returnflag", "broadcast": 1},
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )

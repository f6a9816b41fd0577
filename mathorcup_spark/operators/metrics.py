"""Evaluation-metric aggregations (SURVEY.md §2.4 A9-A15).

The reference computes these with NumPy/sklearn/torch on collected
arrays (``src/evaluate.py``); here each is one distributed aggregate.

Determinism discipline: every mean-of-doubles goes through the
decimal(18,6) exact-sum path (see ``registry.py``); reciprocal ranks
are exact binary fractions (1/128 = 0.0078125) where Spark's HALF_UP
decimal cast and DuckDB's half-to-even disagree, so MRR sums
*micro-units via integer division* (1e6 div rank) — order-independent
integer arithmetic, identical on both engines, defining the engine's
MRR as "reciprocal rank truncated to 1e-6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import davg, oracle_davg, register


def _pred_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y_true, y_pred) pairs: actual extended price vs list-price
    estimate — the shape of the reference's (target, predict) arrays."""
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            F.col("l_extendedprice").alias("t"),
            (F.col("l_quantity") * F.col("p_retailprice")).alias("p"),
        )
    )


_PAIRS_SQL = """
      SELECT l.l_extendedprice AS t, l.l_quantity * p.p_retailprice AS p
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""


@register(
    "m_regression_metrics",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    agg AS (
      SELECT
        {oracle_davg("abs(t - p) / p", "mape")},
        {oracle_davg("abs(t - p)", "mae")},
        {oracle_davg("CASE WHEN abs(t - p) / p <= 0.05 THEN 1.0 ELSE 0.0 END", "acc5")}
      FROM pairs)
    SELECT mape, mae, acc5, 0.2 * (1 - mape) + 0.8 * acc5 AS score FROM agg
    """,
    doc="A9-A12: MAPE (src/evaluate.py:39-42), MAE (43-44), Accuracy@5% "
    "(33-38) and the competition score 0.2*(1-MAPE)+0.8*Acc@5% (17-24) "
    "in ONE aggregate pass.",
    tags=("A9", "A10", "A11", "A12"),
)
def m_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pred_pairs(spark, sf_dir)
    ape = F.abs(F.col("t") - F.col("p")) / F.col("p")
    hit = F.when(ape <= 0.05, 1.0).otherwise(0.0)
    n = F.count("t")
    mape = F.sum(ape.cast("decimal(18,6)")).cast("double") / n
    acc5 = F.sum(hit.cast("decimal(18,6)")).cast("double") / n
    return pairs.agg(
        mape.alias("mape"),
        davg(F.abs(F.col("t") - F.col("p")), "mae"),
        acc5.alias("acc5"),
        (0.2 * (1 - mape) + 0.8 * acc5).alias("score"),
    )


@register(
    "m_pearson",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS st,
             CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sp,
             CAST(sum(CAST(t * p AS DECIMAL(18,6))) AS DOUBLE) AS stp,
             CAST(sum(CAST(t * t AS DECIMAL(18,6))) AS DOUBLE) AS stt,
             CAST(sum(CAST(p * p AS DECIMAL(18,6))) AS DOUBLE) AS spp
      FROM pairs)
    SELECT (n * stp - st * sp)
           / sqrt((n * stt - st * st) * (n * spp - sp * sp)) AS pearson
    FROM m
    """,
    doc="A13: Pearson correlation via the reference's centered "
    "dot-product formula (src/evaluate.py:198-201), computed from "
    "exact decimal moments in one pass (not F.corr, whose streaming "
    "accumulation is order-dependent).",
    tags=("A13",),
)
def m_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pred_pairs(spark, sf_dir)
    t, p = F.col("t"), F.col("p")
    n = F.count("t")
    st = F.sum(t.cast("decimal(18,6)")).cast("double")
    sp = F.sum(p.cast("decimal(18,6)")).cast("double")
    stp = F.sum((t * p).cast("decimal(18,6)")).cast("double")
    stt = F.sum((t * t).cast("decimal(18,6)")).cast("double")
    spp = F.sum((p * p).cast("decimal(18,6)")).cast("double")
    return pairs.agg(
        ((n * stp - st * sp) / F.sqrt((n * stt - st * st) * (n * spp - sp * sp))).alias(
            "pearson"
        )
    )


@register(
    "m_macro_f1",
    oracle="""
    WITH labeled AS (
      SELECT o_orderstatus AS y,
             CASE WHEN o_totalprice < 150000 THEN 'F'
                  WHEN o_totalprice < 350000 THEN 'O'
                  ELSE 'P' END AS yhat
      FROM orders
    ), classes AS (
      SELECT DISTINCT y AS cls FROM labeled
    ), per_class AS (
      SELECT c.cls,
             sum(CASE WHEN l.y = c.cls AND l.yhat = c.cls THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN l.yhat = c.cls THEN 1 ELSE 0 END) AS pred_pos,
             sum(CASE WHEN l.y = c.cls THEN 1 ELSE 0 END) AS actual_pos
      FROM labeled l, classes c GROUP BY c.cls
    ), f1s AS (
      SELECT cls,
             CASE WHEN tp = 0 THEN 0.0
                  ELSE 2.0 * (CAST(tp AS DOUBLE) / pred_pos)
                        * (CAST(tp AS DOUBLE) / actual_pos)
                        / ((CAST(tp AS DOUBLE) / pred_pos)
                           + (CAST(tp AS DOUBLE) / actual_pos))
             END AS f1
      FROM per_class)
    SELECT CAST(sum(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS macro_f1
    FROM f1s
    """,
    doc="A14: macro F1 — reference sklearn f1_score(average='macro') "
    "(src/evaluate.py:262-264) as per-class precision/recall from a "
    "grouped confusion count, averaged. 'Predictions' are a "
    "deterministic price-bucket rule so the metric is oracle-checkable.",
    tags=("A14",),
)
def m_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    labeled = orders.select(
        F.col("o_orderstatus").alias("y"),
        F.when(F.col("o_totalprice") < 150000, "F")
        .when(F.col("o_totalprice") < 350000, "O")
        .otherwise("P")
        .alias("yhat"),
    )
    # ONE grouped pass over the data builds the |classes|^2 confusion
    # matrix; every per-class count is then derived from that tiny
    # frame — no |classes|x row replication of the labeled table
    # (the crossJoin form shuffles 3x the data for a 3-class problem).
    conf = labeled.groupBy("y", "yhat").agg(F.count("*").alias("n"))
    classes = conf.select(F.col("y").alias("cls")).distinct()
    tp = conf.filter(F.col("y") == F.col("yhat")).select(
        F.col("y").alias("cls"), F.col("n").alias("tp")
    )
    pred = conf.groupBy("yhat").agg(F.sum("n").alias("pred_pos")).withColumnRenamed("yhat", "cls")
    act = conf.groupBy("y").agg(F.sum("n").alias("actual_pos")).withColumnRenamed("y", "cls")
    per_class = (
        classes.join(tp, "cls", "left")
        .join(pred, "cls", "left")
        .join(act, "cls", "left")
        .na.fill({"tp": 0, "pred_pos": 0, "actual_pos": 0})
    )
    prec = F.col("tp").cast("double") / F.col("pred_pos")
    rec = F.col("tp").cast("double") / F.col("actual_pos")
    f1 = F.when(F.col("tp") == 0, 0.0).otherwise(2.0 * prec * rec / (prec + rec))
    f1s = per_class.select(f1.alias("f1"))
    return f1s.agg(
        (F.sum(F.col("f1").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "macro_f1"
        )
    )


@register(
    "m_regression_suite",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    m AS (
      SELECT
        count(*) AS n,
        {oracle_davg("abs(t - p) / p", "mape")},
        {oracle_davg("abs(t - p)", "mae")},
        {oracle_davg("CASE WHEN abs(t - p) / p <= 0.05 THEN 1.0 ELSE 0.0 END", "acc5")},
        CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS st,
        CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sp,
        CAST(sum(CAST(t * p AS DECIMAL(18,6))) AS DOUBLE) AS stp,
        CAST(sum(CAST(t * t AS DECIMAL(18,6))) AS DOUBLE) AS stt,
        CAST(sum(CAST(p * p AS DECIMAL(18,6))) AS DOUBLE) AS spp
      FROM pairs)
    SELECT mape, mae, acc5, 0.2 * (1 - mape) + 0.8 * acc5 AS score,
           (n * stp - st * sp)
           / sqrt((n * stt - st * st) * (n * spp - sp * sp)) AS pearson
    FROM m
    """,
    doc="A9-A13 composed: MAPE, MAE, Accuracy@5%, competition score "
    "0.2*(1-MAPE)+0.8*Acc@5 (reference src/evaluate.py:17-44) AND "
    "Pearson correlation (src/evaluate.py:198-201) in ONE aggregate "
    "pass over the (target, predict) pairs — the reference's whole "
    "regression eval stack as a single scan with 8 exact-decimal "
    "moments.",
    tags=("A9", "A10", "A11", "A12", "A13"),
    # metric suites assemble scalar outputs by crossJoining 1-row aggregates —
    # BroadcastNestedLoopJoin over single rows is the scalar-assembly plan
    # (same as ev_funnel_conversion)
    plan={"bnlj_ok": True},
)
def m_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pred_pairs(spark, sf_dir)
    t, p = F.col("t"), F.col("p")
    ape = F.abs(t - p) / p
    hit = F.when(ape <= 0.05, 1.0).otherwise(0.0)
    n = F.count("t")
    mape = F.sum(ape.cast("decimal(18,6)")).cast("double") / n
    acc5 = F.sum(hit.cast("decimal(18,6)")).cast("double") / n
    st = F.sum(t.cast("decimal(18,6)")).cast("double")
    sp = F.sum(p.cast("decimal(18,6)")).cast("double")
    stp = F.sum((t * p).cast("decimal(18,6)")).cast("double")
    stt = F.sum((t * t).cast("decimal(18,6)")).cast("double")
    spp = F.sum((p * p).cast("decimal(18,6)")).cast("double")
    return pairs.agg(
        mape.alias("mape"),
        davg(F.abs(t - p), "mae"),
        acc5.alias("acc5"),
        (0.2 * (1 - mape) + 0.8 * acc5).alias("score"),
        ((n * stp - st * sp) / F.sqrt((n * stt - st * st) * (n * spp - sp * sp))).alias(
            "pearson"
        ),
    )


@register(
    "m_mrr_hits",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rnk
      FROM events
    ), targets AS (SELECT rnk FROM ranked WHERE event_type = 'purchase')
    SELECT CAST(CAST(sum(1000000 // rnk) AS BIGINT) AS DOUBLE)
             / count(*) / 1000000 AS mrr,
           CAST(sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) AS hits1,
           CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) AS hits3,
           CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) AS hits10,
           count(*) AS n_targets
    FROM targets
    """,
    doc="A15/W1: MRR + Hits@{1,3,10} — the reference's filtered "
    "link-prediction metric loop (src/evaluate.py:111-191) as one "
    "window + one aggregate: rank targets ('purchase' events) by value "
    "within each user, average truncated reciprocal ranks. Integer "
    "micro-units (1e6 div rank) keep the sum exact and engine-agnostic.",
    tags=("A15", "W1"),
)
def m_mrr_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    targets = (
        events.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("event_type") == "purchase")
        .select("rnk")
    )
    n = F.count("*")
    hit = lambda k: (  # noqa: E731
        F.sum(F.when(F.col("rnk") <= k, 1).otherwise(0)) * 1.0 / n
    )
    return targets.agg(
        (F.sum(F.expr("1000000 div rnk")).cast("double") / n / 1000000).alias("mrr"),
        hit(1).alias("hits1"),
        hit(3).alias("hits3"),
        hit(10).alias("hits10"),
        n.alias("n_targets"),
    )

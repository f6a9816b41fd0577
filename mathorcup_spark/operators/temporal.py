"""Temporal join operators: as-of join and bounded range join on the
``events`` table.

The reference has no temporal joins (SURVEY.md §2.3: only equi-joins,
``src/utils.py:241-290``); these are the standard time-series joins a
Spark-native engine adds on top — the as-of join is the canonical
"latest reading at or before t" lookup, the range join the canonical
"activity within a bounded window after t" self-join.

Scale posture: the as-of join is NOT a range join — it is one shuffle
on the partition key plus a per-key ordered window pass (union both
sides, sort within key, carry the last right-side row forward with
``last(..., ignorenulls=True)``). That stays linear per key at 100 TB
where a naive ``ts_left >= ts_right`` range join would be quadratic
per key. The bounded range join keys its shuffle on the equi column
(user_id) so the time predicate only filters within a key's pairs,
which the 5-minute bound keeps small regardless of total scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import DEC, dsum, register


@register(
    "j_asof_join",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, c.value AS click_value,
           e.ts AS asof_error_ts, e.value AS error_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
    doc="As-of join: each click event picks up the most recent error "
    "event at-or-before it for the same user. Implemented as the "
    "scalable union-and-carry-forward pattern: tag both sides, one "
    "shuffle on user_id, sort by (ts, side) inside each key, then "
    "last(error_cols, ignorenulls=True) over an unbounded-preceding "
    "frame carries the latest error forward onto every later click — "
    "linear per key, no range join, no per-row subquery. Oracle is "
    "DuckDB's native ASOF JOIN (same >= tie semantics: ordering "
    "errors (side 0) before clicks (side 1) at equal ts).",
    tags=("join", "asof", "temporal"),
    # union + window, one exchange on user_id; never a range-condition join
    # (nested loop or cartesian), which is quadratic per key
    plan={"nodes": ("Window",)},
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    err_ts = F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True)
    err_val = F.last(F.when(F.col("side") == 0, F.col("value")), ignorenulls=True)
    return (
        clicks.unionByName(errors)
        .withColumn("asof_error_ts", err_ts.over(w))
        .withColumn("error_value", err_val.over(w))
        .filter((F.col("side") == 1) & F.col("asof_error_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("click_value"),
            "asof_error_ts",
            "error_value",
        )
    )


@register(
    "j_range_join",
    oracle="""
    SELECT a.event_id, count(b.ts) AS n_next_5min
    FROM events a
    LEFT JOIN events b
      ON b.user_id = a.user_id AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_id
    """,
    doc="Bounded range join: per event, count same-user events in the "
    "following 5 minutes. The join keys its shuffle on user_id (the "
    "equi conjunct) so the time-range predicate only filters within "
    "one key's pairs; the 5-minute bound caps per-key fan-out "
    "independent of total data volume. Left join keeps zero-count "
    "events (count(b.ts) skips the null-extended rows).",
    tags=("join", "range", "temporal"),
    plan={},
)
def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    a = ev.select("event_id", "user_id", "ts")
    b = ev.select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    cond = (
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") > F.col("ts"))
        & (F.col("b_ts") <= F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        a.join(b, cond, "left")
        .groupBy("event_id")
        .agg(F.count("b_ts").alias("n_next_5min"))
    )


@register(
    "w_lag_gap",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) - epoch_us(ts)
             AS next_gap_us
    FROM events
    """,
    doc="lag/lead frame windows (SURVEY §2.5 notes the reference has "
    "none — declared as free Spark built-ins): per-user inter-event "
    "gaps in microseconds, NULL at partition edges. Gap-in-epoch-"
    "micros keeps the arithmetic in BIGINT on both engines; ties "
    "broken by event_id so the ordering is total and deterministic. "
    "One shuffle on user_id, sort within partitions only.",
    tags=("window", "lag", "temporal"),
)
def w_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        (F.lead(us).over(w) - us).alias("next_gap_us"),
    )


# 6 hours in microseconds: the sf events stream has a ~7.3h median
# inter-event gap per user (measured at sf0.01), so this threshold
# genuinely splits user histories into multi-event sessions instead
# of one-session-per-user or all-singletons.
_SESSION_GAP_US = 21_600_000_000


@register(
    "ev_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > 21600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_type, ts_us,
             CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts_us) AS start_us,
           max(ts_us) AS end_us,
           max(ts_us) - min(ts_us) AS duration_us,
           count(DISTINCT event_type) AS n_event_types
    FROM s
    GROUP BY user_id, session_seq
    """,
    doc="Batch gap-based sessionization (the reference has no event "
    "sessions at all; the streaming surface's st_session_window is "
    "the watermark analogue of this batch form): per user, a new "
    "session starts at the first event or after a >6h silence; the "
    "session id is the running count of session starts "
    "(lag -> cumulative sum, both over ONE (user_id, ts, event_id) "
    "sort), and each session is reduced to start/end/duration/"
    "event-count/distinct-type aggregates. Scale posture: one "
    "shuffle on user_id with a single within-key sort serves both "
    "window passes (identical partition+order spec, so the second "
    "Window reuses the first's exchange and sort), and the "
    "session-level groupBy adds NO second exchange: user_id is a "
    "subset of the (user_id, session_seq) grouping keys, so the "
    "window's hash partitioning already satisfies the aggregate's "
    "distribution (one Exchange in the whole plan). "
    "Per-key work is linear in events-per-user at any "
    "corpus size; no range self-join anywhere. All arithmetic stays "
    "in BIGINT epoch-micros on both engines (the w_lag_gap "
    "discipline); ties broken by event_id so session assignment is "
    "total and deterministic.",
    tags=("window", "temporal", "sessionize", "events"),
    # lag + cumulative-sum share ONE (user_id, ts, event_id) sort; session
    # aggregate partial-aggregates before its shuffle
    plan={},
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        us.alias("ts_us"),
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_s"),
    )
    sess = flagged.select(
        "user_id",
        "event_type",
        "ts_us",
        F.sum("new_s")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("session_seq"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


@register(
    "ev_rfm_scores",
    oracle="""
    WITH p AS (
      SELECT user_id,
             max(epoch_us(ts)) AS recency_us,
             count(*) AS frequency,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), t AS (
      SELECT quantile_cont(recency_us, 0.2) AS r1, quantile_cont(recency_us, 0.4) AS r2,
             quantile_cont(recency_us, 0.6) AS r3, quantile_cont(recency_us, 0.8) AS r4,
             quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
             quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
             quantile_cont(monetary, 0.2) AS m1, quantile_cont(monetary, 0.4) AS m2,
             quantile_cont(monetary, 0.6) AS m3, quantile_cont(monetary, 0.8) AS m4
      FROM p
    ), s AS (
      SELECT p.user_id, p.recency_us, p.frequency, round(p.monetary, 6) AS monetary,
             1 + CAST(p.recency_us > t.r1 AS INT) + CAST(p.recency_us > t.r2 AS INT)
               + CAST(p.recency_us > t.r3 AS INT) + CAST(p.recency_us > t.r4 AS INT)
               AS r_score,
             1 + CAST(p.frequency > t.f1 AS INT) + CAST(p.frequency > t.f2 AS INT)
               + CAST(p.frequency > t.f3 AS INT) + CAST(p.frequency > t.f4 AS INT)
               AS f_score,
             1 + CAST(p.monetary > t.m1 AS INT) + CAST(p.monetary > t.m2 AS INT)
               + CAST(p.monetary > t.m3 AS INT) + CAST(p.monetary > t.m4 AS INT)
               AS m_score
      FROM p CROSS JOIN t
    )
    SELECT user_id, recency_us, frequency, monetary, r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM s
    """,
    doc="RFM customer segmentation over the purchase event stream: "
    "per-user recency (last purchase, epoch micros), frequency "
    "(purchase count), monetary (decimal-exact value sum), each "
    "scored 1-5 against the user population's exact quintile "
    "boundaries, then bucketed into champion / new / at_risk / "
    "regular segments. Scale posture: scores come from COMPARING "
    "against broadcast quantile thresholds, not from a global "
    "ntile sort — one shuffle to the per-user aggregate, one 1-row "
    "threshold aggregate broadcast back; no single-partition window "
    "anywhere, linear at any user count. Threshold comparisons use "
    "the bit-stable percentile<->quantile_cont interpolation "
    "(a_group_quantiles precedent); monetary sums go through "
    "decimal(18,6) so quintile edges are order-independent.",
    tags=("temporal", "events", "analytics", "rfm"),
    # 1-row model-total and quantile-threshold aggregates broadcast back over
    # the scoring side (scalar-assembly BNLJ, the tpch_q11 pattern)
    plan={"bnlj_ok": True},
)
def ev_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("recency_us"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("value", "monetary"),
    )
    qs = (0.2, 0.4, 0.6, 0.8)
    thresholds = per_user.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m[0]}{i}")
            for m in ("recency_us", "frequency", "monetary")
            for i, q in enumerate(qs, start=1)
        ]
    )

    def score(metric: str) -> Column:
        c = F.lit(1)
        for i in range(1, 5):
            c = c + (F.col(metric) > F.col(f"{metric[0]}{i}")).cast("int")
        return c.alias(f"{metric[0]}_score")

    s = per_user.crossJoin(F.broadcast(thresholds)).select(
        "user_id",
        "recency_us",
        "frequency",
        F.round("monetary", 6).alias("monetary"),
        score("recency_us"),
        score("frequency"),
        score("monetary"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            F.lit("champion"),
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), F.lit("new"))
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), F.lit("at_risk"))
        .otherwise(F.lit("regular"))
    )
    return s.withColumn("segment", seg)


@register(
    "ts_resample_ffill",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS t0,
             date_trunc('hour', max(ts)) AS t1
      FROM events GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
      FROM b
    ), obs AS (
      SELECT user_id, date_trunc('hour', ts) AS hour, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), joined AS (
      SELECT g.user_id, g.hour, o.value AS obs_value
      FROM grid g
      LEFT JOIN (SELECT * FROM obs WHERE rn = 1) o
        ON o.user_id = g.user_id AND o.hour = g.hour
    )
    SELECT user_id, hour,
           last_value(obs_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CASE WHEN obs_value IS NULL THEN 1 ELSE 0 END AS carried
    FROM joined
    """,
    doc="Time-series resample to a regular hourly grid with "
    "forward-fill: per user, generate every hour between the user's "
    "first and last event (sequence + explode — the grid is built "
    "distributed, sized by each key's own span, never collected), "
    "take the last event value within each hour (deterministic "
    "ts-then-event_id tie-break), and carry it forward across empty "
    "hours with last(ignorenulls) over an ordered per-user window. "
    "The gap-fill canonical for feeding fixed-step models from "
    "irregular event streams. One shuffle on user_id serves the "
    "bounds agg, the hour dedup, the grid join, and the fill window "
    "(same key throughout); per-key grid size is span-bounded, so "
    "total rows stay ~ users x span regardless of event volume.",
    tags=("temporal", "resample", "ffill"),
    # grid join + fill window share the user_id shuffle key
    plan={},
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "hour").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    obs = (
        ev.select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", F.col("value").alias("obs_value"))
    )
    fill_w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("obs_value", ignorenulls=True).over(fill_w).alias("value"),
            F.when(F.col("obs_value").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("carried"),
        )
    )


@register(
    "ev_markov_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             coalesce(lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id),
               '__START__') AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n_transitions,
           round(CAST(n_transitions AS DOUBLE)
                 / CAST(sum(n_transitions) OVER (
                     PARTITION BY prev_type) AS BIGINT), 6) AS p_next
    FROM t
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences (the attribution/journey model behind channel "
    "attribution and next-event prediction; no analog in the "
    "reference, which has no event ordering at all): each user's "
    "events ordered by (ts, event_id) yield (prev_type -> next_type) "
    "transitions with a __START__ source state, reduced to global "
    "transition counts and row-normalized probabilities. Scale "
    "posture: one shuffle on user_id for the lag window, then one "
    "shuffle on the TINY (prev,next) state-pair key — the matrix is "
    "|event_types|^2 rows no matter how many events feed it, so the "
    "normalizing window runs on a broadcast-scale frame. Linear in "
    "events at 100 TB.",
    tags=("temporal", "markov", "attribution"),
    # lag window keyed on user_id, then a tiny (prev,next)-keyed agg; the
    # normalizing window partitions on prev_type — never global
    plan={},
)
def ev_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.coalesce(
            F.lag("event_type").over(w), F.lit("__START__")
        ).alias("prev_type"),
    )
    t = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    norm = W.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm).cast("long"),
            6,
        ).alias("p_next"),
    )


@register(
    "ts_interpolate_linear",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS t0,
             date_trunc('hour', max(ts)) AS t1
      FROM events GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
      FROM b
    ), obs AS (
      SELECT user_id, date_trunc('hour', ts) AS hour, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), joined AS (
      SELECT g.user_id, g.hour, o.value AS obs_value
      FROM grid g
      LEFT JOIN (SELECT * FROM obs WHERE rn = 1) o
        ON o.user_id = g.user_id AND o.hour = g.hour
    ), span AS (
      SELECT user_id, hour, obs_value,
             last_value(obs_value IGNORE NULLS) OVER wp AS prev_v,
             last_value(CASE WHEN obs_value IS NOT NULL THEN hour END
                        IGNORE NULLS) OVER wp AS prev_h,
             first_value(obs_value IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN obs_value IS NOT NULL THEN hour END
                         IGNORE NULLS) OVER wf AS next_h
      FROM joined
      WINDOW wp AS (PARTITION BY user_id ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour,
           CASE
             WHEN obs_value IS NOT NULL THEN obs_value
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (CAST(epoch_us(hour) - epoch_us(prev_h) AS DOUBLE)
                     / CAST(epoch_us(next_h) - epoch_us(prev_h)
                            AS DOUBLE))
           END AS value,
           CASE WHEN obs_value IS NULL THEN 1 ELSE 0 END AS interpolated
    FROM span
    """,
    doc="Linear-interpolation resample: the companion to "
    "ts_resample_ffill for continuous signals — per user, every hour "
    "between first and last event; hours with no observation get the "
    "time-weighted line between the nearest observed hours on either "
    "side (ffill/bfill only at the edges). Implemented with TWO "
    "ordered windows over the SAME (user_id, hour) sort — a "
    "backward last(ignorenulls) carrying (prev value, prev hour) and "
    "a forward first(ignorenulls) carrying (next value, next hour) — "
    "then one arithmetic projection; Catalyst runs both window specs "
    "in a single sort+shuffle on user_id, so the whole op costs the "
    "same one exchange as plain ffill at any scale.",
    tags=("temporal", "resample", "interpolate"),
    # grid join + backward/forward fill windows all share the ONE user_id
    # shuffle (same sort serves both window specs)
    plan={},
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "hour").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    obs = (
        ev.select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", F.col("value").alias("obs_value"))
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_hour = F.when(F.col("obs_value").isNotNull(), F.col("hour"))
    span = grid.join(obs, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        "obs_value",
        F.last("obs_value", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(obs_hour, ignorenulls=True).over(wp).alias("prev_h"),
        F.first("obs_value", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("next_h"),
    )
    frac = (
        F.unix_micros("hour") - F.unix_micros("prev_h")
    ).cast("double") / (
        F.unix_micros("next_h") - F.unix_micros("prev_h")
    ).cast("double")
    value = (
        F.when(F.col("obs_value").isNotNull(), F.col("obs_value"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
        )
    )
    return span.select(
        "user_id",
        "hour",
        value.alias("value"),
        F.when(F.col("obs_value").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("interpolated"),
    )


@register(
    "ev_windowed_anomaly",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, value,
             CAST(count(value) OVER tw AS BIGINT) AS n_win,
             CAST(sum(CAST(value AS DECIMAL(20,8))) OVER tw
                  AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(24,8))) OVER tw
                  AS DOUBLE) AS s2
      FROM events
      WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ), z AS (
      SELECT event_id, user_id, value, n_win,
             CASE WHEN n_win >= 10
                       AND (s2 - s1 * s1 / n_win) / (n_win - 1) > 0
                  THEN (value - s1 / n_win)
                       / sqrt((s2 - s1 * s1 / n_win) / (n_win - 1))
             END AS zscore
      FROM w
    )
    SELECT event_id, user_id, value, n_win, zscore,
           CASE WHEN zscore IS NOT NULL AND abs(zscore) > 3
                THEN 1 ELSE 0 END AS is_anomaly
    FROM z
    """,
    doc="Trailing-window z-score anomaly detection: each event's value "
    "scored against the mean/std of that user's previous 20 events "
    "(window excludes the current row, so the score is a genuine "
    "out-of-sample residual); |z| > 3 with at least 10 prior "
    "observations flags the anomaly — the streaming-shaped data "
    "quality monitor run batch-side. Mean and variance come from "
    "exact decimal window moments (sum, sum-of-squares) so both "
    "engines agree bit-for-bit (the a_column_stats discipline "
    "applied per-window); the final z arithmetic is per-row IEEE. "
    "One shuffle on user_id with a single within-key sort; the "
    "constant 20-row frame keeps per-row window cost O(1), linear "
    "in events at 100 TB.",
    tags=("temporal", "anomaly", "drift", "quality"),
    # constant 20-row trailing frame over the one user_id sort
    plan={},
)
def ev_windowed_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tw = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    v = F.col("value")
    n = F.count(v).over(tw).cast("long")
    s1 = F.sum(v.cast("decimal(20,8)")).over(tw).cast("double")
    s2 = F.sum((v * v).cast("decimal(24,8)")).over(tw).cast("double")
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        n.alias("n_win"),
        s1.alias("s1"),
        s2.alias("s2"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_win")) / (
        F.col("n_win") - 1
    )
    zscore = F.when(
        (F.col("n_win") >= 10) & (var > 0),
        (F.col("value") - F.col("s1") / F.col("n_win")) / F.sqrt(var),
    )
    z = w.select("event_id", "user_id", "value", "n_win", zscore.alias("zscore"))
    return z.select(
        "event_id",
        "user_id",
        "value",
        "n_win",
        "zscore",
        F.when(
            F.col("zscore").isNotNull() & (F.abs("zscore") > 3), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )


_PATH_GAP_US = 21_600_000_000  # 6h session gap (ev_sessionize's)
_PATH_LEN = 3
_PATH_TOPK = 20


@register(
    "ev_path_topk",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_PATH_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_type, ts_us, event_id,
             CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    ), r AS (
      SELECT user_id, session_seq, event_type,
             row_number() OVER (
               PARTITION BY user_id, session_seq
               ORDER BY ts_us, event_id) AS rn
      FROM s
    ), p AS (
      SELECT user_id, session_seq,
             concat_ws('>',
               max(CASE WHEN rn = 1 THEN event_type END),
               max(CASE WHEN rn = 2 THEN event_type END),
               max(CASE WHEN rn = 3 THEN event_type END)) AS path
      FROM r WHERE rn <= {_PATH_LEN}
      GROUP BY user_id, session_seq
    ), c AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM p GROUP BY path
    )
    SELECT path, n_sessions,
           CAST(row_number() OVER (
             ORDER BY n_sessions DESC, path) AS BIGINT) AS rnk
    FROM c ORDER BY rnk LIMIT {_PATH_TOPK}
    """,
    doc="Session path mining: the top-20 most common opening "
    "event-type sequences (first 3 events per 6h-gap session, "
    "rendered 'a>b>c') — the journey/funnel-discovery query behind "
    "onboarding analysis; builds on ev_sessionize's gap logic. The "
    "3-slot pivot (max-of-case per rank) renders each session's "
    "prefix without any ordered array aggregation, so engine "
    "collect-order differences cannot leak in. Scale posture: the "
    "lag -> cumsum -> rank windows all share ONE (user_id, ts, "
    "event_id) sort; path counting shuffles on the tiny path-string "
    "domain (<= |event_types|^3 rows), and the final ranking window "
    "runs on that bounded domain — O(1) at any event volume.",
    tags=("temporal", "events-analytics", "path"),
    # lag/cumsum/rank share one user_id sort; path count + ranking window run
    # on the bounded |event_types|^3 path domain
    plan={"single_partition_ok": True},
)
def ev_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    gap = ts_us - F.lag(ts_us).over(wl)
    g = ev.select(
        "user_id",
        "event_id",
        "event_type",
        ts_us.alias("ts_us"),
        F.when(
            gap.isNull() | (gap > _PATH_GAP_US), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_s"),
    )
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = g.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.sum("new_s").over(wc).cast("long").alias("session_seq"),
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "session_seq").orderBy("ts_us", "event_id")
    )
    r = s.withColumn("rn", rn).filter(F.col("rn") <= _PATH_LEN)
    slot = [
        F.max(F.when(F.col("rn") == i, F.col("event_type")))
        for i in range(1, _PATH_LEN + 1)
    ]
    p = r.groupBy("user_id", "session_seq").agg(
        F.concat_ws(">", *slot).alias("path")
    )
    c = p.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    rnk = F.row_number().over(
        W.orderBy(F.col("n_sessions").desc(), "path")
    )
    return (
        c.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= _PATH_TOPK)
        .orderBy("rnk")
    )


@register(
    "ev_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_ts, value,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type,
                            date_trunc('hour', ts)) AS cnt
      FROM events
      WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id)
    )
    SELECT event_type, bar_ts,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn = cnt THEN value END) AS close,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY event_type, bar_ts
    """,
    doc="OHLC downsampling: per (event_type, hour) bars with "
    "open/high/low/close/volume — the canonical time-series "
    "compaction that turns a raw event stream into chart-ready "
    "candles (no analog in the reference; its time handling stops "
    "at date parts, src/utils.py:153-176). Open/close are "
    "deterministic firsts/lasts: a row_number ordered by (ts, "
    "event_id) breaks timestamp ties identically on both engines, "
    "and close reuses the SAME ascending sort via rn == cnt instead "
    "of a second descending window. Scale posture: ONE shuffle on "
    "(event_type, hour) with a single within-key sort shared by "
    "both window functions and the groupBy that follows (same key, "
    "no re-exchange); volume accumulates in decimal so the bar is "
    "partitioning-independent. Output is bounded by types x hours, "
    "not by event volume.",
    tags=("temporal", "downsample", "ohlc"),
    # one (event_type, hour) shuffle; both windows + the groupBy share the
    # single within-key sort; output bounded by types x hours
    plan={},
)
def ev_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    wo = W.partitionBy("event_type", bar).orderBy("ts", "event_id")
    wc = W.partitionBy("event_type", bar)
    r = ev.select(
        "event_type",
        bar.alias("bar_ts"),
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    return r.groupBy("event_type", "bar_ts").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias(
            "close"
        ),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


_NEAREST_BOUND_US = 1_800_000_000  # +/- 30 min candidate window


@register(
    "j_asof_nearest",
    oracle=f"""
    WITH c AS (
      SELECT event_id AS c_id, user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_us, value
      FROM events WHERE event_type = 'error'
    ), pairs AS (
      SELECT c.c_id, c.user_id, c.c_us, e.e_id, e.value,
             abs(e.e_us - c.c_us) AS dt_us,
             row_number() OVER (
               PARTITION BY c.c_id
               ORDER BY abs(e.e_us - c.c_us), e.e_us, e.e_id) AS rn
      FROM c JOIN e ON e.user_id = c.user_id
       AND e.e_us BETWEEN c.c_us - {_NEAREST_BOUND_US}
                      AND c.c_us + {_NEAREST_BOUND_US}
    )
    SELECT c_id, user_id, e_id AS nearest_error_id,
           CAST(dt_us // 1000000 AS BIGINT) AS dt_seconds,
           value AS error_value
    FROM pairs WHERE rn = 1
    """,
    doc="Nearest-event temporal join: each click picks the CLOSEST "
    "error event for the same user within +/-30 minutes — either "
    "direction, unlike j_asof_join's backward-only carry — the "
    "sensor/log alignment join (nearest reading to each sample). "
    "Ties break deterministically by (|dt|, error ts, error id). "
    "Scale posture: the j_range_join shape — ONE shuffle on "
    "user_id, the +/-30-min bound keeps each key's candidate pairs "
    "small regardless of total volume, then a per-click top-1 "
    "window on the SAME key's sort; a full nearest-neighbor sort "
    "merge is never needed because the bound prunes first. "
    "Timestamp math is exact integer micros on both engines.",
    tags=("join", "asof", "temporal"),
    # j_range_join shape: user_id shuffle, +/-30min bound prunes per-key
    # pairs, top-1 window reuses the same key's sort
    plan={},
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.unix_micros("ts").alias("e_us"),
        "value",
    )
    pairs = c.join(
        e,
        (F.col("e_user") == F.col("user_id"))
        & (F.col("e_us") >= F.col("c_us") - _NEAREST_BOUND_US)
        & (F.col("e_us") <= F.col("c_us") + _NEAREST_BOUND_US),
    )
    dt = F.abs(F.col("e_us") - F.col("c_us"))
    rn = F.row_number().over(
        W.partitionBy("c_id").orderBy(dt, "e_us", "e_id")
    )
    return (
        pairs.withColumn("dt_us", dt)
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "c_id",
            "user_id",
            F.col("e_id").alias("nearest_error_id"),
            (F.col("dt_us") / F.lit(1_000_000))
            .cast("long")
            .alias("dt_seconds"),
            F.col("value").alias("error_value"),
        )
    )


# --- EWMA smoothing (finite-memory, exact cross-engine parity) --------------

_EWMA_ALPHA = 0.2  # smoothing factor; retention = 1 - alpha = 0.8
_EWMA_K = 8  # trailing observations per estimate (finite memory)
# 0.8^k for k = 0..7 — every power of 0.8 is an EXACT decimal (8^k/10^k),
# so casting the literals to DECIMAL keeps the weighted sum bit-identical
# on both engines (registry docstring: sum doubles through decimal).
_EWMA_W = [str(round(0.8**k, 7)) for k in range(_EWMA_K)]


def _ewma_oracle() -> str:
    terms = []
    dens = []
    for k, w in enumerate(_EWMA_W):
        lag = f"lag(value, {k}) OVER w" if k else "value"
        terms.append(
            f"coalesce(CAST(CAST({lag} AS DECIMAL(18,6))"
            f" * CAST({w} AS DECIMAL(18,7)) AS DECIMAL(24,13)),"
            f" CAST(0 AS DECIMAL(24,13)))"
        )
        dens.append(
            f"CASE WHEN {lag} IS NOT NULL"
            f" THEN CAST({w} AS DECIMAL(18,7))"
            f" ELSE CAST(0 AS DECIMAL(18,7)) END"
        )
    num = " + ".join(terms)
    den = " + ".join(dens)
    return f"""
    SELECT event_id, user_id, ts, value,
           CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE) AS ewma
    FROM events
    WHERE event_type = 'view'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register(
    "ts_ewma_smooth",
    oracle=_ewma_oracle(),
    doc="Finite-memory EWMA smoothing of each user's 'view' value "
    "series: ewma_t = sum_{k<8} 0.8^k * x_{t-k} / sum_{k<8} 0.8^k "
    "(the trailing-8 truncation of the classic exponentially "
    "weighted average, renormalized at series edges). Implemented "
    "as 7 lag() columns over ONE window spec — Catalyst computes "
    "all lags in a single sort within the user_id shuffle, so the "
    "op costs exactly one exchange + one per-key sort at any scale "
    "(no self-join, no grid materialization). Cross-engine "
    "determinism: powers of 0.8 are exact decimals, each term is "
    "multiplied and accumulated in DECIMAL and only the final "
    "division runs in double, so the value hash is exact (the "
    "infinite-memory recursive form would compound float error "
    "order-dependently and is not finitely SQL-expressible). "
    "Finite memory is also what a 100-TB streaming re-statement "
    "needs: state per key is 8 numbers, not the full history.",
    tags=("temporal", "ewma", "window"),
    # one exchange + one per-key sort; the event_type filter must reach the
    # parquet scan
    plan={"pushed": "event_type"},
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    # Each product is decimal(37,13); summing 8 of those would push
    # Spark past precision 38 and trigger scale-loss rounding (the
    # 1e-8 drift class). Casting every term down to decimal(24,13)
    # first is exact for |value| < 1e11 and keeps the 8-term chain at
    # precision 31 — no precision loss on either engine.
    zero_num = F.lit(0).cast("decimal(24,13)")
    zero_den = F.lit(0).cast("decimal(18,7)")
    for k, wt in enumerate(_EWMA_W):
        x = F.col("value") if k == 0 else F.lag("value", k).over(w)
        wd = F.lit(wt).cast("decimal(18,7)")
        term = F.coalesce(
            (x.cast("decimal(18,6)") * wd).cast("decimal(24,13)"), zero_num
        )
        dterm = F.when(x.isNotNull(), wd).otherwise(zero_den)
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (num.cast("double") / den.cast("double")).alias("ewma"),
    )


@register(
    "ev_cusum_changepoint",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(value) AS mu,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ), s AS (
      SELECT e.event_type, e.ts, e.event_id, m.n,
             CAST(row_number() OVER w AS BIGINT) AS k,
             sum(CAST(e.value - m.mu AS DECIMAL(18,6))) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cusum
      FROM events e JOIN m USING (event_type)
      WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id)
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(cusum) DESC, ts, event_id) AS rnk
      FROM s
    )
    SELECT event_type, n, k AS cp_k, event_id AS cp_event_id,
           round(CAST(cusum AS DOUBLE), 6) AS cusum_max
    FROM ranked WHERE rnk = 1
    """,
    doc="CUSUM changepoint detection per event_type: the cumulative "
    "sum of mean-deviations S_k = sum_{i<=k}(x_i - mean) peaks in "
    "magnitude at the most likely mean-shift point — the classic "
    "offline single-changepoint statistic a pipeline runs per "
    "series to localize when a metric drifted (complements a_ks_"
    "drift / a_psi_drift, which detect THAT two samples differ but "
    "not WHERE in time). Two passes: the per-type mean is one "
    "partial-agg shuffle joined back (broadcast — few types), then "
    "ONE ordered window per type computes the running decimal-"
    "exact cusum, and an argmax window (abs desc, earliest-ts "
    "tiebreak) picks the peak — both windows share the same "
    "(event_type; ts, event_id) sort, so Catalyst runs them in a "
    "single exchange + sort at any scale. Per-row deviations are "
    "cast to DECIMAL(18,6) before the running sum (deterministic "
    "identical rounding on both engines; the accumulation itself "
    "is exact), so the hash is stable.",
    tags=("temporal", "changepoint", "drift"),
    # per-type mean frame broadcasts back onto the event stream; both windows
    # share one (event_type; ts, event_id) sort
    plan={"broadcast": 1},
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast(DEC)).cast("double") / F.count("value")
        ).alias("mu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wt = W.partitionBy("event_type").orderBy("ts", "event_id")
    joined = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.row_number().over(wt).cast("long").alias("k"),
        F.sum(
            (F.col("value") - F.col("mu")).cast(DEC)
        )
        .over(wt.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cusum"),
    )
    rnk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.abs(F.col("cusum")).desc(), "ts", "event_id"
        )
    )
    return (
        joined.withColumn("rnk", rnk)
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            "n",
            F.col("k").alias("cp_k"),
            F.col("event_id").alias("cp_event_id"),
            F.round(F.col("cusum").cast("double"), 6).alias("cusum_max"),
        )
    )


_RR_K = 16  # trailing observations per rolling fit
_RR_MIN_N = 8  # emit a slope only once the window has enough points


@register(
    "w_rolling_regression",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, ts, value,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS x
      FROM events
    ), s AS (
      -- index sums widened to HUGEINT before the product — exact far
      -- past int64 (mirrors the Spark side's DECIMAL accumulators)
      SELECT user_id, event_id, ts,
             CAST(count(*) OVER w AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) OVER w AS sx,
             sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
             sum(CAST(value AS DECIMAL(18,6))) OVER w AS sy,
             sum(CAST(x AS DECIMAL(12,0))
                 * CAST(value AS DECIMAL(18,6))) OVER w AS sxy
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN {_RR_K - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE))
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
    FROM s WHERE n >= {_RR_MIN_N}
    """,
    doc=f"Rolling OLS trend: per user, the least-squares slope of "
    f"value against event index over the trailing {_RR_K} "
    "observations (emitted once the window holds >= "
    f"{_RR_MIN_N} points) — the local-trend signal behind "
    "\"is this metric drifting NOW\" alerting, complementing "
    "ts_ewma_smooth (level) and ev_cusum_changepoint (global "
    "shift point). Hash-exactness discipline: x is the integer "
    "per-user row index; Sx/Sxx and the slope denominator "
    "n*Sxx - Sx^2 accumulate in DECIMAL(38,0) (Spark) / HUGEINT "
    "(DuckDB) — exact to ~1e38, so a per-key history of ~1e8+ "
    "rows cannot silently wrap the x^2 sums the way int64 would "
    "(advisor r8); Sy/Sxy accumulate in decimal; only the final "
    "numerator mixes them in one identical IEEE expression, "
    "rounded to 6. All four window "
    "sums share ONE (user_id; x) sort — a single exchange + "
    "per-key sort at any scale, the ts_ewma_smooth shape. "
    "(At extreme per-key history the uncentered index formula "
    "loses numerator precision to cancellation — a production "
    "variant centers x per frame; equally deterministic, "
    "more algebra.)",
    tags=("temporal", "window", "regression", "W3"),
)
def w_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.row_number().over(wo).cast("long").alias("x"),
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(_RR_K - 1), W.currentRow)
    )
    ydec = F.col("value").cast("decimal(18,6)")
    # x widened to DECIMAL(18,0) before x*x so the window sums (Spark
    # widens sum accumulators toward DECIMAL(38,0)) and the n*Sxx -
    # Sx^2 denominator stay exact where int64 would wrap (advisor r8)
    xdec = F.col("x").cast("decimal(18,0)")
    s = r.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(wf).cast("long").alias("n"),
        F.sum(xdec).over(wf).alias("sx"),
        F.sum(xdec * xdec).over(wf).alias("sxx"),
        F.sum(ydec).over(wf).alias("sy"),
        F.sum(F.col("x").cast("decimal(12,0)") * ydec).over(wf).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = (
        F.col("n").cast("decimal(10,0)") * F.col("sxx")
        - F.col("sx") * F.col("sx")
    ).cast("double")
    return s.filter(F.col("n") >= _RR_MIN_N).select(
        "user_id",
        "event_id",
        "ts",
        "n",
        F.round(num / den, 6).alias("slope"),
    )

"""Data-lake maintenance operators: snapshot diff (CDC) and SCD
Type-2 merge.

The reference's pipeline is overwrite-only (each stage rewrites its
whole xlsx output, ``src/utils.py:39-67`` — no notion of change
capture or history). A 100 TB lake cannot afford full rewrites: it
ingests *changes*. These two operators are the canonical incremental
patterns — compute what changed between two snapshots (CDC feed),
and apply a change batch to a versioned dimension while preserving
history (slowly-changing-dimension Type 2).

Both are pure hash-join shapes: one shuffle per side on the business
key, no window, no iteration — exactly the plan that scales to a
1000-executor merge. The SCD2 apply emits its 1-or-2 output rows per
input row with an ``explode(array(...))`` so the whole merge is ONE
pass over the dimension (no union of two scans, no second shuffle).

Snapshots are derived deterministically from the ``customer`` table
(key-modulus membership) so the operators stay oracle-checkable on
the driver's fixed testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

# Deterministic snapshot derivation (documented contract, mirrored in
# every oracle below):
#   old snapshot = customers with c_custkey % 10 != 3
#   new snapshot = all customers EXCEPT c_custkey % 10 == 7,
#                  with acctbal + 100 where c_custkey % 7 == 0
# So %10==3 rows are inserts, %10==7 rows are deletes, and %7==0
# rows (not in those buckets) are updates.


@register(
    "lake_snapshot_diff",
    oracle="""
    WITH old_snap AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 != 3
    ), new_snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 10 != 7
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.c_acctbal AS old_acctbal,
           n.c_acctbal AS new_acctbal
    FROM old_snap o
    FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal != n.c_acctbal
    """,
    doc="Snapshot diff (CDC): compare two snapshots of the customer "
    "dimension and emit the change feed — inserts (key only in new), "
    "deletes (key only in old), updates (key in both, values "
    "differ); unchanged rows are dropped. One full-outer hash join "
    "on the business key (one shuffle per side), then a row-local "
    "classification — the plan a 100 TB nightly-diff job wants: no "
    "window, no sort, linear in snapshot size. Snapshots are derived "
    "from customer by key modulus (see module doc) so the diff is "
    "deterministic and oracle-checkable.",
    tags=("lake", "cdc", "diff"),
    # CDC diff: one full-outer hash join on the business key
    plan={},
)
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    old_snap = cust.filter(F.col("c_custkey") % 10 != 3).select(
        F.col("c_custkey").alias("o_key"), F.col("c_acctbal").alias("old_acctbal")
    )
    new_snap = cust.filter(F.col("c_custkey") % 10 != 7).select(
        F.col("c_custkey").alias("n_key"),
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("new_acctbal"),
    )
    joined = old_snap.join(
        new_snap, old_snap.o_key == new_snap.n_key, "full_outer"
    )
    return (
        joined.filter(
            F.col("o_key").isNull()
            | F.col("n_key").isNull()
            | (F.col("old_acctbal") != F.col("new_acctbal"))
        )
        .select(
            F.coalesce("o_key", "n_key").alias("c_custkey"),
            F.when(F.col("o_key").isNull(), F.lit("insert"))
            .when(F.col("n_key").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "old_acctbal",
            "new_acctbal",
        )
    )


# SCD2 contract (mirrored in the oracle): the dimension's initial
# load is every customer effective from 2020-01-01, open-ended. The
# change batch re-states acctbal (+50) for c_custkey % 5 == 0 as of
# 2024-06-01. Type-2 semantics: close the superseded version at the
# change date, insert the new open-ended version, leave everything
# else untouched.
_SCD2_FROM = "DATE '2020-01-01'"
_SCD2_AT = "DATE '2024-06-01'"


@register(
    "lake_scd2_merge",
    oracle=f"""
    WITH changed AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT c_custkey, c_acctbal AS acctbal,
           {_SCD2_FROM} AS eff_from, CAST(NULL AS DATE) AS eff_to,
           1 AS is_current
    FROM customer WHERE c_custkey % 5 != 0
    UNION ALL
    SELECT c_custkey, c_acctbal, {_SCD2_FROM}, {_SCD2_AT}, 0 FROM changed
    UNION ALL
    SELECT c_custkey, c_acctbal + 50, {_SCD2_AT}, CAST(NULL AS DATE), 1
    FROM changed
    """,
    doc="SCD Type-2 merge: apply a change batch to a versioned "
    "dimension, closing superseded versions (eff_to = change date, "
    "is_current = 0) and inserting the new open-ended versions — the "
    "standard warehouse history-preserving upsert, which the "
    "reference's overwrite-the-xlsx model cannot express. "
    "Implemented as ONE pass: left-join the dimension to the change "
    "batch on the business key, then explode a 1-or-2 element "
    "version index per row (unchanged -> current row; changed -> "
    "closed row + new version) — no union of two dimension scans, "
    "no second shuffle, and the change side of a production merge "
    "is broadcast-sized. Oracle is the declarative three-way UNION "
    "of the same contract.",
    tags=("lake", "scd2", "merge"),
    # SCD2: one left join + explode — single pass over the dimension
    plan={},
)
def lake_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changes = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("ch_key"),
        (F.col("c_acctbal") + 50).alias("ch_acctbal"),
    )
    merged = cust.join(changes, cust.c_custkey == changes.ch_key, "left")
    changed = F.col("ch_key").isNotNull()
    # vi = version index: 0 = the pre-existing row (stays current when
    # unchanged, gets closed when changed), 1 = the new version row
    # (only exists for changed keys) — sequence(0, changed?1:0)
    # explodes each dimension row into exactly its output rows.
    return (
        merged.withColumn(
            "vi",
            F.explode(F.sequence(F.lit(0), changed.cast("int"))),
        )
        .select(
            "c_custkey",
            F.when(F.col("vi") == 1, F.col("ch_acctbal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.when(F.col("vi") == 1, F.expr(_SCD2_AT))
            .otherwise(F.expr(_SCD2_FROM))
            .alias("eff_from"),
            F.when((F.col("vi") == 0) & changed, F.expr(_SCD2_AT)).alias(
                "eff_to"
            ),
            F.when((F.col("vi") == 1) | ~changed, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_current"),
        )
    )


@register(
    "lake_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Co-bucketed join, driver-verified end-to-end: write orders "
    "and customer bucketed on the customer key (the "
    "sources/layout.py discipline), join them with a sort-merge "
    "strategy hint, and SELF-ASSERT the join plan contains no "
    "Exchange operator — the layout contract that makes every future "
    "join on the key run with zero shuffle at 100 TB, here executed "
    "(not argued) inside the registered query, then value-verified: "
    "the revenue-by-segment aggregate over the bucketed join must "
    "hash-match the oracle's plain join. The bucket build is the "
    "one-time layout cost a production lake amortizes over every "
    "consumer; the aggregate's own mktsegment exchange is the only "
    "shuffle left in the plan. Isolation: table names are uuid-"
    "tagged per invocation and the shuffle-join path is forced via "
    "a per-plan hint('merge') (strategy hints outrank "
    "autoBroadcastJoinThreshold), so a registered query never "
    "mutates shared session state or races a concurrent run.",
    tags=("lake", "bucketing", "join"),
    # the query asserts its own plan property (zero Exchange on the co-
    # bucketed join) and returns an eager localCheckpoint, so the checked plan
    # is the materialized scan; building the frame runs that in-query
    # assertion
    plan={"checkpoint_result_ok": True},
)
def lake_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import contextlib
    import io
    import shutil
    import tempfile
    import uuid

    from ..registry import DEC
    from ..sources.layout import read_table, write_bucketed

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = tempfile.mkdtemp(prefix="mathorcup_bucketed_")
    run = uuid.uuid4().hex[:12]
    t_orders, t_cust = f"lbj_orders_{run}", f"lbj_cust_{run}"
    try:
        write_bucketed(
            orders, t_orders, f"{out}/orders", "o_custkey", 8,
            sort_col="o_custkey",
        )
        write_bucketed(
            cust, t_cust, f"{out}/cust", "c_custkey", 8,
            sort_col="c_custkey",
        )
        # hint('merge') forces the shuffle-class join path WITHOUT
        # touching spark.sql.autoBroadcastJoinThreshold on the shared
        # session, so the no-Exchange assertion is about bucketing,
        # not about the dimension being broadcast-small
        joined = read_table(spark, t_orders).hint("merge").join(
            read_table(spark, t_cust).hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        if "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan:
            raise AssertionError("bucketed join did not use a shuffle-class join")
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed join plan contains an Exchange — the co-located "
                "layout contract is broken"
            )
        result = joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 6
            ).alias("revenue"),
        )
        # materialize before the tables and files are dropped
        return result.localCheckpoint(eager=True)
    finally:
        for t in (t_orders, t_cust):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(out, ignore_errors=True)


@register(
    "lake_partitioned_events",
    oracle="""
    WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events, b
    WHERE CAST(ts AS DATE) >= b.d0 + 2 AND CAST(ts AS DATE) <= b.d0 + 4
    GROUP BY event_type
    """,
    doc="Date-partitioned events layout + partition pruning, driver-"
    "verified end-to-end (the lake_bucketed_join discipline applied "
    "to TIME): write events day-partitioned (d=to_date(ts), the "
    "layout every time-series lake uses), read it back with a "
    "3-day window predicate on the partition column, SELF-ASSERT "
    "the scan's PartitionFilters carry the d bounds (so only 3 of "
    "30 day directories are read — at 100 TB of history, the "
    "difference between scanning 3 days and scanning a decade), "
    "then value-verify the windowed per-type aggregate against the "
    "oracle's plain time filter. Window bounds derive from min(ts) "
    "so the query is scale-free across SFs. The write is the "
    "one-time layout cost; every future time-ranged consumer gets "
    "the pruning for free (SCALING.md section partition-pruned "
    "time scans measures the pruned-vs-full gap as history grows).",
    tags=("lake", "partitioning", "pruning", "temporal"),
    # writes the day-partitioned layout then SELF-ASSERTS the PartitionFilters
    # on the windowed read inside the query; the returned frame is the eager
    # checkpoint of the aggregate
    plan={"checkpoint_result_ok": True},
)
def lake_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import contextlib
    import datetime
    import io
    import shutil
    import tempfile

    from ..registry import DEC

    events = load(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="mathorcup_events_part_")
    try:
        (
            events.withColumn("d", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(out)
        )
        d0 = events.agg(F.min(F.to_date("ts")).alias("d0")).first()["d0"]
        lo = d0 + datetime.timedelta(days=2)
        hi = d0 + datetime.timedelta(days=4)
        part = spark.read.parquet(out).filter(
            (F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            part.explain("formatted")
        plan = buf.getvalue()
        import re as _re

        pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        if pf is None or "d#" not in pf.group(1):
            raise AssertionError(
                "day-window predicate did not reach PartitionFilters — "
                "the layout's pruning contract is broken"
            )
        result = part.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total"),
            F.countDistinct("d").cast("long").alias("n_days"),
        )
        # materialize before the layout directory is deleted
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


_Z_BITS = 10  # per-dimension z-order resolution (2^10 cells per dim)
_Z_FILE_SHIFT = 14  # file id = top 6 z bits -> 64 files

# bit-interleave of the two normalized cell coordinates zx, zy —
# identical expression text evaluated by BOTH engines (Spark F.expr
# and the DuckDB oracle), fully parenthesized so operator precedence
# cannot differ.
_Z_INTERLEAVE = " | ".join(
    f"((((zx >> {i}) & 1) << {2 * i + 1})"
    f" | (((zy >> {i}) & 1) << {2 * i}))"
    for i in range(_Z_BITS)
)


@register(
    "lake_zorder_layout",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey, o_custkey,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS day
      FROM orders
    ), b AS (
      SELECT min(o_custkey) AS cx0, max(o_custkey) AS cx1,
             min(day) AS dy0, max(day) AS dy1 FROM d
    ), n AS (
      SELECT o_orderkey, o_custkey, day, cx0, cx1, dy0, dy1,
             CAST(floor(CAST((o_custkey - cx0) * 1023 AS DOUBLE)
                        / greatest(cx1 - cx0, 1)) AS BIGINT) AS zx,
             CAST(floor(CAST((day - dy0) * 1023 AS DOUBLE)
                        / greatest(dy1 - dy0, 1)) AS BIGINT) AS zy
      FROM d, b
    ), z AS (
      SELECT o_orderkey, o_custkey, day, cx0, cx1, dy0, dy1,
             ({_Z_INTERLEAVE}) AS zval
      FROM n
    )
    SELECT CAST(zval >> {_Z_FILE_SHIFT} AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           min(day) AS min_day, max(day) AS max_day,
           CAST(max(o_custkey) - min(o_custkey) + 1 AS DOUBLE)
             / (any_value(cx1) - any_value(cx0) + 1) AS cust_span_frac,
           CAST(max(day) - min(day) + 1 AS DOUBLE)
             / (any_value(dy1) - any_value(dy0) + 1) AS day_span_frac
    FROM z GROUP BY 1
    """,
    doc="Z-order (Morton-curve) layout planning for two-dimensional "
    "data skipping: normalize (o_custkey, order day) each to a "
    "1024-cell grid, bit-interleave the cells into a 20-bit z-value, "
    "cut the curve into 64 files on its top 6 bits, and emit each "
    "file's min/max footprint on BOTH dimensions — exactly the "
    "per-file statistics a lakehouse format keeps to prune scans. "
    "The span fractions are the proof: every file covers ~1/8 of "
    "EACH dimension (vs 1/64 of one and 100% of the other under a "
    "single-key sort), so point/range predicates on EITHER column "
    "skip ~7/8 of files. Scale posture: min/max normalization is "
    "one broadcast scalar row; cell, interleave, and file id are "
    "pure per-row integer bit ops (JVM codegen); the only shuffle "
    "is the final 64-group file-stats agg — the layout decision for "
    "a 100 TB table costs one linear scan.",
    tags=("lake", "layout", "zorder"),
    # normalization bounds are a 1-row broadcast crossJoin (scalar- subquery
    # BNLJ); interleave + file id are pure codegen bit ops; one 64-group agg
    plan={"bnlj_ok": True},
)
def lake_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("day"),
    )
    b = d.agg(
        F.min("o_custkey").alias("cx0"),
        F.max("o_custkey").alias("cx1"),
        F.min("day").alias("dy0"),
        F.max("day").alias("dy1"),
    )
    n = d.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "o_custkey",
        "day",
        "cx0",
        "cx1",
        "dy0",
        "dy1",
        F.floor(
            ((F.col("o_custkey") - F.col("cx0")) * 1023).cast("double")
            / F.greatest(F.col("cx1") - F.col("cx0"), F.lit(1))
        ).cast("long").alias("zx"),
        F.floor(
            ((F.col("day") - F.col("dy0")) * 1023).cast("double")
            / F.greatest(F.col("dy1") - F.col("dy0"), F.lit(1))
        ).cast("long").alias("zy"),
    )
    z = n.withColumn("zval", F.expr(_Z_INTERLEAVE))
    return (
        z.groupBy(
            F.shiftright("zval", _Z_FILE_SHIFT).cast("long").alias("file_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
            (
                (F.max("o_custkey") - F.min("o_custkey") + 1).cast("double")
                / (F.any_value("cx1") - F.any_value("cx0") + 1)
            ).alias("cust_span_frac"),
            (
                (F.max("day") - F.min("day") + 1).cast("double")
                / (F.any_value("dy1") - F.any_value("dy0") + 1)
            ).alias("day_span_frac"),
        )
    )


_COMPACT_BINS = 16  # target bin count for the packing plan


@register(
    "lake_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS file_bytes
      FROM documents GROUP BY source, lang
    ), t AS (
      SELECT CAST(sum(file_bytes) AS BIGINT) AS total_bytes FROM files
    ), c AS (
      SELECT source, lang, file_bytes, total_bytes,
             CAST(sum(file_bytes) OVER (
               ORDER BY source, lang ROWS UNBOUNDED PRECEDING)
               AS BIGINT) - file_bytes AS cum_before
      FROM files, t
    )
    SELECT CAST(floor(CAST(cum_before * {_COMPACT_BINS} AS DOUBLE)
                      / total_bytes) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(file_bytes) AS BIGINT) AS bin_bytes,
           min(source || '/' || lang) AS first_file,
           max(source || '/' || lang) AS last_file
    FROM c GROUP BY 1
    """,
    doc="Small-file compaction planning: treat each (source, lang) "
    "slice of the corpus as one input file (its byte size = total "
    "text chars), then assign files to target-size output bins by "
    "walking the key-ordered inventory and cutting at every "
    "total/16 bytes of cumulative size — the greedy bin-packing an "
    "OPTIMIZE/compaction job runs before rewriting a fragmented "
    "table. Pure integer arithmetic end-to-end (BIGINT sums, "
    "integer-division bin cut), so the plan is deterministic on "
    "both engines with no float hazard. Scale posture: the plan "
    "operates on the FILE INVENTORY (one row per file — manifest "
    "metadata, ~thousands of rows for a 100 TB table), never on "
    "data rows, so the single ordered cumsum window over it is "
    "bounded by file count, not data size; the inventory itself "
    "aggregates from the table in one shuffle on the layout key.",
    tags=("lake", "compaction", "layout"),
    # cumsum window runs over the FILE INVENTORY (one row per file, manifest-
    # scale), never data rows; total is a 1-row broadcast
    plan={"bnlj_ok": True, "single_partition_ok": True},
)
def lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("file_bytes")
    )
    t = files.agg(F.sum("file_bytes").cast("long").alias("total_bytes"))
    cw = (
        W.orderBy("source", "lang")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = files.crossJoin(F.broadcast(t)).select(
        "source",
        "lang",
        "file_bytes",
        "total_bytes",
        (F.sum("file_bytes").over(cw).cast("long") - F.col("file_bytes"))
        .alias("cum_before"),
    )
    return c.groupBy(
        F.floor(
            (F.col("cum_before") * _COMPACT_BINS).cast("double")
            / F.col("total_bytes")
        )
        .cast("long")
        .alias("bin_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("file_bytes").cast("long").alias("bin_bytes"),
        F.min(F.concat_ws("/", "source", "lang")).alias("first_file"),
        F.max(F.concat_ws("/", "source", "lang")).alias("last_file"),
    )


@register(
    "lake_schema_evolution",
    oracle="""
    SELECT 1 AS version, o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2, o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE), o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc="Schema evolution on read: a v1 parquet batch (3 columns) and "
    "a later v2 batch that ADDED o_orderpriority live side by side in "
    "one table directory; `mergeSchema` reconciles them into the "
    "union schema with v1 rows null-filled — the additive-column "
    "migration every long-lived lake table goes through, no rewrite "
    "of old files. The fn writes both real parquet batches to a "
    "run-scoped temp dir (version as a partition column, so the scan "
    "can still prune by version) and asserts the merged read carries "
    "BOTH files' schemas. Scale posture: schema merge is a "
    "footer-only planning step (bounded by file count, not rows); "
    "the data read stays one pruned columnar scan, and old files are "
    "never rewritten — the point of the pattern at 100 TB.",
    tags=("lake", "schema-evolution", "source"),
    # merged read is materialized via eager localCheckpoint so the run-scoped
    # temp layout can be deleted (lake_bucketed_join shape)
    plan={"checkpoint_result_ok": True},
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    orders = load(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="mathorcup_schema_evo_")
    try:
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            F.lit(1).alias("version"),
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        v1.write.mode("overwrite").partitionBy("version").parquet(out)
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            F.lit(2).alias("version"),
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        v2.write.mode("append").partitionBy("version").parquet(out)
        merged = spark.read.option("mergeSchema", "true").parquet(out)
        got = set(merged.columns)
        want = {
            "version",
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
        }
        if got != want:
            raise AssertionError(
                f"mergeSchema did not reconcile the union schema: {got}"
            )
        result = merged.select(
            F.col("version").cast("int").alias("version"),
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
        )
        # eager localCheckpoint pins the rows executor-side so the
        # temp layout can be deleted without breaking lineage (the
        # lake_bucketed_join discipline) — no driver-side collect
        return result.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


_VACUUM_RETAIN_DAYS = 400  # retention horizon before the table's max day


@register(
    "lake_vacuum_plan",
    oracle=f"""
    WITH files AS (
      SELECT o_orderpriority AS pkey, o_orderdate AS version_day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))))
                  AS BIGINT) AS file_bytes
      FROM orders GROUP BY 1, 2
    ), marked AS (
      SELECT pkey, version_day, n_rows, file_bytes,
             max(version_day) OVER (PARTITION BY pkey) AS latest_day,
             (SELECT max(o_orderdate) FROM orders) AS table_max
      FROM files
    )
    SELECT pkey,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN version_day < latest_day
                          AND version_day
                              < table_max - INTERVAL {_VACUUM_RETAIN_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_deletable,
           CAST(sum(CASE WHEN version_day < latest_day
                          AND version_day
                              < table_max - INTERVAL {_VACUUM_RETAIN_DAYS} DAY
                         THEN file_bytes ELSE 0 END) AS BIGINT)
             AS bytes_reclaimed,
           CAST(sum(file_bytes) AS BIGINT) AS bytes_total,
           max(latest_day) AS latest_day
    FROM marked GROUP BY pkey
    """,
    doc="Retention vacuum planning (Delta/Iceberg VACUUM semantics): "
    "treat each (priority, order-date) slice as one table-version "
    "file; a file is deletable only if BOTH superseded (not its "
    "key's latest version) AND older than the retention horizon "
    "(table max day - 400d) — never the live version, never "
    "anything a time-travel query inside retention could still "
    "reference. Emits the per-key audit: file count, deletable "
    "count, reclaimed vs total bytes, live version day. Pure "
    "integer/date arithmetic on exact counts, deterministic on "
    "both engines. Scale posture: like lake_compaction_plan the "
    "decision runs on the FILE INVENTORY (one row per file, "
    "manifest-scale); the latest-version window partitions by key "
    "over that bounded inventory, and the inventory itself "
    "aggregates from the table in one shuffle on the layout key.",
    tags=("lake", "vacuum", "retention", "layout"),
    # vacuum decision runs on the file inventory (manifest-scale); latest-
    # version window partitions by key over bounded rows; table-max is a 1-row
    # broadcast crossJoin
    plan={"bnlj_ok": True},
)
def lake_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.col("o_orderpriority").alias("pkey"),
        F.col("o_orderdate").alias("version_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .cast("long")
        .alias("file_bytes"),
    )
    table_max = orders.agg(F.max("o_orderdate").alias("table_max"))
    latest = F.max("version_day").over(W.partitionBy("pkey"))
    marked = files.withColumn("latest_day", latest).crossJoin(
        F.broadcast(table_max)
    )
    deletable = (F.col("version_day") < F.col("latest_day")) & (
        F.col("version_day")
        < F.date_sub(F.col("table_max"), _VACUUM_RETAIN_DAYS)
    )
    return marked.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(deletable.cast("long")).alias("n_deletable"),
        F.sum(F.when(deletable, F.col("file_bytes")).otherwise(F.lit(0)))
        .cast("long")
        .alias("bytes_reclaimed"),
        F.sum("file_bytes").cast("long").alias("bytes_total"),
        F.max("latest_day").alias("latest_day"),
    )

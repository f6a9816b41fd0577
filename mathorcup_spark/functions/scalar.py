"""Scalar / cleaning / feature-engineering surface (SURVEY.md §2.7-§2.8)
demonstrated as oracle-checked queries on the driver tables.

The car-shaped variants of these operators (operating on the
reference's 36-column valuation schema) live in ``cars.py``; the
queries here register each scalar capability on the testdata tables
so the driver's DuckDB gate exercises it. All expressions are
built-in ``pyspark.sql.functions`` — JVM-side, inside whole-stage
codegen; no Python UDF appears anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..ids import dense_ids
from ..registry import register

# ---------------------------------------------------------------------------
# F1 — constant imputation
# ---------------------------------------------------------------------------


@register(
    "f_fillna_constants",
    oracle="""
    SELECT p_partkey,
           coalesce(nullif(p_size, 1), -1) AS size_filled,
           coalesce(nullif(p_brand, 'Brand#1'), 'UNKNOWN') AS brand_filled
    FROM part
    """,
    doc="F1: per-column constant imputation — reference fillna with -1/0/"
    "sentinel strings per 14 columns (src/utils.py:100-130). Testdata has "
    "no nulls, so nullif() manufactures them, then na.fill restores.",
    tags=("F1",),
)
def f_fillna_constants(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    withnulls = part.select(
        "p_partkey",
        F.nullif(F.col("p_size"), F.lit(1)).alias("size_filled"),
        F.nullif(F.col("p_brand"), F.lit("Brand#1")).alias("brand_filled"),
    )
    return withnulls.na.fill({"size_filled": -1, "brand_filled": "UNKNOWN"})


# ---------------------------------------------------------------------------
# F2 — composite-dimension parse + geometry derivation
# ---------------------------------------------------------------------------


@register(
    "f_geometry_dims",
    oracle="""
    WITH dims AS (
      SELECT p_partkey,
             concat(p_size, '*', p_size + 1, '*', p_size + 2) AS dim_str
      FROM part
    ), split AS (
      SELECT p_partkey, dim_str,
             CAST(string_split(dim_str, '*')[1] AS BIGINT) AS l,
             CAST(string_split(dim_str, '*')[2] AS BIGINT) AS w,
             CAST(string_split(dim_str, '*')[3] AS BIGINT) AS h
      FROM dims
    )
    SELECT p_partkey, l, w, h,
           l * w * h AS volume,
           4 * (l * w + l * h + w * h) AS surface,
           4 * (l + w + h) AS perimeter
    FROM split
    """,
    doc="F2: parse 'L*W*H' composite string into dims and derive "
    "volume/surface/perimeter — reference tp_func (src/data.py:92-102) "
    "as 6 select expressions (no UDF, no UDTF: SURVEY §2.8 note).",
    tags=("F2", "E5"),
)
def f_geometry_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    dim_str = F.concat_ws(
        "*",
        F.col("p_size"),
        (F.col("p_size") + 1),
        (F.col("p_size") + 2),
    )
    parts = F.split(dim_str, "\\*")
    df = part.select(
        "p_partkey",
        parts.getItem(0).cast("long").alias("l"),
        parts.getItem(1).cast("long").alias("w"),
        parts.getItem(2).cast("long").alias("h"),
    )
    lwh = (F.col("l"), F.col("w"), F.col("h"))
    return df.select(
        "p_partkey",
        "l",
        "w",
        "h",
        (lwh[0] * lwh[1] * lwh[2]).alias("volume"),
        (4 * (lwh[0] * lwh[1] + lwh[0] * lwh[2] + lwh[1] * lwh[2])).alias("surface"),
        (4 * (lwh[0] + lwh[1] + lwh[2])).alias("perimeter"),
    )


# ---------------------------------------------------------------------------
# F3 / F4 — date decomposition with embedding-id offsets; yyyyMM parse
# ---------------------------------------------------------------------------


@register(
    "f_date_parts_offsets",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) - 2000 AS INTEGER) AS y_id,
           CAST(month(o_orderdate) - 1 AS INTEGER) AS m_id,
           CAST(day(o_orderdate) - 1 AS INTEGER) AS d_id
    FROM orders
    """,
    doc="F3: date → (year-2000, month-1, day-1) embedding ids "
    "(reference src/data.py:19-20,35-37).",
    tags=("F3",),
)
def f_date_parts_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        (F.year("o_orderdate") - 2000).cast("int").alias("y_id"),
        (F.month("o_orderdate") - 1).cast("int").alias("m_id"),
        (F.dayofmonth("o_orderdate") - 1).cast("int").alias("d_id"),
    )


@register(
    "f_yyyymm_parse",
    oracle="""
    SELECT o_orderkey,
           CAST(strptime(strftime(o_orderdate, '%Y%m'), '%Y%m') AS DATE) AS month_start
    FROM orders
    """,
    doc="F4: 'YYYYMM' string → first-of-month date — reference rewrites "
    "'200710' to '2007-10-01' by string surgery (src/data.py:18,246); "
    "here a format round-trip through to_date(col,'yyyyMM').",
    tags=("F4",),
)
def f_yyyymm_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    yyyymm = F.date_format("o_orderdate", "yyyyMM")
    return orders.select(
        "o_orderkey", F.to_date(yyyymm, "yyyyMM").alias("month_start")
    )


# ---------------------------------------------------------------------------
# F5 — JSON map extraction with fallback
# ---------------------------------------------------------------------------


@register(
    "f_json_map_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) AS last_adjust,
           coalesce(CAST(json_extract_string(props, '$.k') AS DOUBLE), value)
             AS effective_value
    FROM events
    """,
    doc="F5: JSON-map-in-a-cell extraction with fallback — the reference "
    "parses the price-adjustment map by string surgery and takes the "
    "last value, falling back to push price (src/utils.py:292-309); here "
    "from_json → map_values last element, coalesce fallback. The full "
    "max-key ('value at latest adjustment date') semantics is in "
    "cars.extract_deal_price and unit-tested on car fixtures.",
    tags=("F5",),
)
def f_json_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    last_val = F.element_at(F.map_values(m), -1).cast("double")
    return events.select(
        "event_id",
        last_val.alias("last_adjust"),
        F.coalesce(last_val, F.col("value")).alias("effective_value"),
    )


# ---------------------------------------------------------------------------
# F6 — date difference
# ---------------------------------------------------------------------------


@register(
    "f_datediff",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS INTEGER) AS ship_delay_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="F6: day difference between two dates — reference strptime+subtract "
    "(src/utils.py:226-231) as datediff after a key join.",
    tags=("F6",),
)
def f_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("int")
            .alias("ship_delay_days"),
        )
    )


# ---------------------------------------------------------------------------
# F7 — label concat (dictionary composite keys)
# ---------------------------------------------------------------------------


@register(
    "f_label_concat",
    oracle="""
    SELECT p_partkey,
           'p_brand' || ':' || p_brand AS brand_token,
           'p_type' || ':' || p_type AS type_token
    FROM part
    """,
    doc="F7: 'column:value' composite token build for the dictionary "
    "(reference src/data.py:140-141, src/utils.py:177-178).",
    tags=("F7",),
)
def f_label_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat_ws(":", F.lit("p_brand"), F.col("p_brand")).alias("brand_token"),
        F.concat_ws(":", F.lit("p_type"), F.col("p_type")).alias("type_token"),
    )


# ---------------------------------------------------------------------------
# F9 — absolute / relative error
# ---------------------------------------------------------------------------


@register(
    "f_abs_rel_error",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           abs(l.l_extendedprice - l.l_quantity * p.p_retailprice) AS abs_err,
           abs(l.l_extendedprice - l.l_quantity * p.p_retailprice)
             / l.l_extendedprice AS rel_err
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc="F9: elementwise absolute/relative error — reference "
    "abs(t-p)/p (src/evaluate.py:19,27,34,40,44), here between actual "
    "and list price after a part join.",
    tags=("F9",),
)
def f_abs_rel_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    err = F.abs(F.col("l_extendedprice") - F.col("l_quantity") * F.col("p_retailprice"))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            err.alias("abs_err"),
            (err / F.col("l_extendedprice")).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# F10 — elementwise math (rounded: libm vs JVM may differ in the last ulp)
# ---------------------------------------------------------------------------


@register(
    "f_elementwise_math",
    oracle="""
    SELECT c_custkey,
           round(ln(abs(c_acctbal) + 1), 6) AS log_bal,
           round(sqrt(abs(c_acctbal)), 6) AS sqrt_bal,
           round(pow(abs(c_acctbal), 0.5), 6) AS pow_bal,
           round((exp(2 * (c_acctbal / 10000)) - 1)
                 / (exp(2 * (c_acctbal / 10000)) + 1), 6) AS tanh_bal,
           round(1 / (1 + exp(-c_acctbal / 10000)), 6) AS sigmoid_bal
    FROM customer
    """,
    doc="F10: elementwise tanh/sigmoid/log/sqrt/pow — the reference's "
    "model-internal activations (src/model/ignn.py:87-108) exposed as "
    "column math. Rounded to 6 dp: transcendental libm results can "
    "differ from the JVM's in the final ulp.",
    tags=("F10",),
)
def f_elementwise_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return customer.select(
        "c_custkey",
        F.round(F.log(F.abs(bal) + 1), 6).alias("log_bal"),
        F.round(F.sqrt(F.abs(bal)), 6).alias("sqrt_bal"),
        F.round(F.pow(F.abs(bal), 0.5), 6).alias("pow_bal"),
        # exp-based tanh: this DuckDB build has no tanh(), and matching
        # the exact expression shape on both sides keeps results aligned
        F.round(
            (F.exp(2 * (bal / 10000)) - 1) / (F.exp(2 * (bal / 10000)) + 1), 6
        ).alias("tanh_bal"),
        F.round(1 / (1 + F.exp(-bal / 10000)), 6).alias("sigmoid_bal"),
    )


# ---------------------------------------------------------------------------
# E1 — multi-column dictionary build (melt → distinct → dense ids)
# ---------------------------------------------------------------------------


@register(
    "e_dictionary_build",
    oracle="""
    WITH melted AS (
      SELECT 'p_brand' AS name, p_brand AS value FROM part
      UNION ALL
      SELECT 'p_type', p_type FROM part
    ), domain AS (SELECT DISTINCT name, value FROM melted)
    SELECT name, value,
           CAST(row_number() OVER (ORDER BY name, value) - 1 AS BIGINT) AS token_id
    FROM domain
    """,
    doc="E1: vocabulary build over multiple discrete columns — the "
    "reference inserts 'col:value' tokens in first-seen order "
    "(src/data.py:152-159); distributed engines can't reproduce "
    "insertion order, so ids are row_number over sorted (name,value) "
    "(SURVEY §4.2 decision 2), assigned by the range-partitioned "
    "dense_ids rank so a high-cardinality domain never funnels "
    "through a single-partition sort.",
    tags=("E1", "E2"),
    # dictionary builds must never funnel data through a single partition
    # (dense_ids assertion, same as g_triple_build)
    plan={},
)
def e_dictionary_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    melted = part.select(
        F.lit("p_brand").alias("name"), F.col("p_brand").alias("value")
    ).unionByName(
        part.select(F.lit("p_type").alias("name"), F.col("p_type").alias("value"))
    )
    domain = melted.distinct()
    return dense_ids(domain, ["name", "value"], "token_id")


# ---------------------------------------------------------------------------
# E3 — row vectorization (encode + date parts + continuous, one select)
# ---------------------------------------------------------------------------


@register(
    "e_vectorize_rows",
    oracle="""
    WITH mapping AS (
      SELECT p_brand, CAST(row_number() OVER (ORDER BY p_brand) - 1 AS BIGINT) AS brand_id
      FROM (SELECT DISTINCT p_brand FROM part)
    )
    SELECT l.l_orderkey, l.l_linenumber,
           m.brand_id,
           CAST(year(l.l_shipdate) - 2000 AS INTEGER) AS y_id,
           l.l_quantity AS qty,
           l.l_extendedprice * (1 - l.l_discount) AS target
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN mapping m ON p.p_brand = m.p_brand
    """,
    doc="E3: row vectorization — discrete→dense id (E1/J4), time→offset id "
    "(F3), continuous passthrough, target append; the reference's "
    "``vectorize`` (src/data.py:8-31) as one joined select.",
    tags=("E3", "J4", "F3"),
)
def e_vectorize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    mapping = dense_ids(part.select("p_brand").distinct(), ["p_brand"], "brand_id")
    enriched = part.join(F.broadcast(mapping), "p_brand")
    return (
        lineitem.join(F.broadcast(enriched), lineitem.l_partkey == enriched.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "brand_id",
            (F.year("l_shipdate") - 2000).cast("int").alias("y_id"),
            F.col("l_quantity").alias("qty"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("target"),
        )
    )


# ---------------------------------------------------------------------------
# A3 / A4 — normalization via broadcast scalars + round-trip
# ---------------------------------------------------------------------------


@register(
    "a_normalize_roundtrip",
    oracle="""
    WITH stats AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(c_acctbal) AS mu,
             sqrt((CAST(sum(CAST(c_acctbal*c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   - CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     * CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     / count(c_acctbal))
                  / (count(c_acctbal) - 1)) AS sigma,
             min(c_acctbal) AS lo, max(c_acctbal) AS hi
      FROM customer
    )
    SELECT c_custkey,
           (c_acctbal - s.mu) / s.sigma AS zscore,
           (c_acctbal - s.lo) / (s.hi - s.lo) AS minmax,
           ((c_acctbal - s.mu) / s.sigma) * s.sigma + s.mu AS denorm
    FROM customer, stats s
    """,
    doc="A3/A4/M6: z-score + min-max normalization from one stats pass, "
    "plus the inverse transform — reference fits per-column loops "
    "(src/data.py:107-125) and recomputes at test time "
    "(src/evaluate.py:72-83); here the 1-row stats aggregate is "
    "broadcast-crossJoined (no second scan, no driver round-trip).",
    tags=("A3", "A4", "M6"),
)
def a_normalize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    c = F.col("c_acctbal")
    n = F.count(c)
    s1 = F.sum(c.cast("decimal(18,6)")).cast("double")
    s2 = F.sum((c * c).cast("decimal(18,6)")).cast("double")
    stats = customer.agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / (n - 1)).alias("sigma"),
        F.min(c).alias("lo"),
        F.max(c).alias("hi"),
    )
    z = (c - F.col("mu")) / F.col("sigma")
    return customer.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        z.alias("zscore"),
        ((c - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias("minmax"),
        (z * F.col("sigma") + F.col("mu")).alias("denorm"),
    )


# ---------------------------------------------------------------------------
# S1/S2 — headerless TSV parse + ragged-row repair (self-contained roundtrip)
# ---------------------------------------------------------------------------


@register(
    "s_tsv_parse_ragged",
    oracle="""
    WITH lines AS (
      SELECT CASE WHEN n_regionkey = 0
                  THEN n_nationkey || chr(9) || n_name
                  ELSE n_nationkey || chr(9) || n_name || chr(9) || n_regionkey
             END AS line
      FROM nation
    ), split AS (SELECT string_split(line, chr(9)) AS f FROM lines)
    SELECT CAST(f[1] AS BIGINT) AS nationkey,
           f[2] AS name,
           CAST(coalesce(f[3], '0') AS BIGINT) AS regionkey
    FROM split
    """,
    doc="S1/S2: headerless TSV scan with positional naming + ragged-row "
    "repair — reference pads 5-field rows to 6 (src/utils.py:55-64). "
    "Self-contained roundtrip: serialize nation to TSV lines (dropping "
    "the last field when it's 0 to make ragged rows), then re-parse "
    "with split + coalesce padding. File-based TSV ingestion lives in "
    "sources/tsv.py (unit-tested).",
    tags=("S1", "S2", "P1"),
)
def s_tsv_parse_ragged(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    tab = F.lit("\t")
    line = F.when(
        F.col("n_regionkey") == 0,
        F.concat(F.col("n_nationkey"), tab, F.col("n_name")),
    ).otherwise(
        F.concat(
            F.col("n_nationkey"), tab, F.col("n_name"), tab, F.col("n_regionkey")
        )
    )
    fields = F.split(F.col("line"), "\t")
    return (
        nation.select(line.alias("line"))
        .select(fields.alias("f"))
        .select(
            F.col("f").getItem(0).cast("long").alias("nationkey"),
            F.col("f").getItem(1).alias("name"),
            # F.get (not getItem): ANSI mode throws on out-of-bounds index,
            # get returns NULL — which is exactly the ragged-row case
            F.coalesce(F.get(F.col("f"), 2), F.lit("0")).cast("long").alias("regionkey"),
        )
    )


@register(
    "f_cyclic_time_features",
    oracle="""
    SELECT o_orderkey,
           round(sin(2 * pi() * (CAST(month(o_orderdate) AS DOUBLE) - 1) / 12), 9)
             + 0.0 AS month_sin,
           round(cos(2 * pi() * (CAST(month(o_orderdate) AS DOUBLE) - 1) / 12), 9)
             + 0.0 AS month_cos,
           round(sin(2 * pi() * (CAST(day(o_orderdate) AS DOUBLE) - 1) / 31), 9)
             + 0.0 AS day_sin,
           round(cos(2 * pi() * (CAST(day(o_orderdate) AS DOUBLE) - 1) / 31), 9)
             + 0.0 AS day_cos
    FROM orders
    """,
    doc="M5 (time-feature embedding, Spark-first): the reference sums "
    "learned year/month/day id embeddings (src/model/embedding.py:4-26); "
    "the feature-engineering analog is cyclic sin/cos encoding of the "
    "date parts — December lands next to January instead of 11 apart, "
    "with no training step. Pure per-row codegen expressions; rounded "
    "to 9 decimals (+0.0 to squash negative zero) so libm vs "
    "java.lang.Math ulp differences cannot surface.",
    tags=("M5", "F3", "features"),
)
def f_cyclic_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = load(spark, sf_dir, "orders")
    two_pi = F.lit(2 * math.pi)

    def cyc(part: F.Column, period: int, fn, alias: str) -> F.Column:
        angle = two_pi * (part.cast("double") - 1) / period
        # + 0.0 normalizes IEEE negative zero (cos(3*pi/2) rounds to
        # -0.0 on one engine, 0.0 on the other, flipping sort order)
        return (F.round(fn(angle), 9) + F.lit(0.0)).alias(alias)

    month = F.month("o_orderdate")
    day = F.dayofmonth("o_orderdate")
    return orders.select(
        "o_orderkey",
        cyc(month, 12, F.sin, "month_sin"),
        cyc(month, 12, F.cos, "month_cos"),
        cyc(day, 31, F.sin, "day_sin"),
        cyc(day, 31, F.cos, "day_cos"),
    )


HASH_DIM = 64  # feature-hash bucket count (power of two, per convention)

# md5-based bucket: first 8 hex chars -> uint32 -> mod D. Same
# construction as sampling._hash_u but mod-D instead of /2^32 —
# engine-portable (DuckDB has no xxhash64).
_FH_POW16 = [16 ** (7 - i) for i in range(8)]


def _fh_bucket(key) -> F.Column:
    u32 = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return (u32 % HASH_DIM).cast("long")


def _fh_bucket_sql(key_expr: str) -> str:
    digits = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({key_expr}),"
        f" {i + 1}, 1)) - 1) * {_FH_POW16[i]}"
        for i in range(8)
    )
    return f"(({digits}) % {HASH_DIM})"


@register(
    "e_feature_hash",
    oracle=f"""
    WITH f AS (
      SELECT 'p_brand' AS feature, p_brand AS value FROM part
      UNION ALL
      SELECT 'p_type', p_type FROM part
      UNION ALL
      SELECT 'p_size', CAST(p_size AS VARCHAR) FROM part
    ), hashed AS (
      SELECT feature, value,
             {_fh_bucket_sql("feature || ':' || value")} AS bucket
      FROM f
    ), domain AS (
      SELECT DISTINCT feature, value, bucket FROM hashed
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) - 1 AS BIGINT) AS n_collisions,
           min(feature || ':' || value) AS example_value
    FROM domain GROUP BY bucket
    """,
    doc=f"Feature hashing (the hashing trick): categorical "
    f"feature:value tokens map to {HASH_DIM} buckets via an "
    "md5-derived hash — the E1 dictionary WITHOUT a dictionary: no "
    "vocabulary build, no shuffle to assign ids, no growth as new "
    "values arrive, which is why wide categorical spaces at 100 TB "
    "hash instead of encode. The query reports the bucket load map "
    "(values per bucket, collisions = load - 1, an example token) — "
    "the collision audit that decides the dimension. The hash is "
    "the engine-portable md5-prefix construction shared with the "
    "deterministic samplers.",
    tags=("E1", "E3", "hashing"),
)
def e_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    pieces = []
    for feat in ("p_brand", "p_type", "p_size"):
        pieces.append(
            part.select(
                F.lit(feat).alias("feature"),
                F.col(feat).cast("string").alias("value"),
            )
        )
    f = pieces[0].unionByName(pieces[1]).unionByName(pieces[2])
    tok = F.concat_ws(":", "feature", "value")
    domain = f.select(
        "feature", "value", _fh_bucket(tok).alias("bucket")
    ).distinct()
    return domain.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_values"),
        (F.count(F.lit(1)) - 1).alias("n_collisions"),
        F.min(F.concat_ws(":", "feature", "value")).alias("example_value"),
    )


_TE_SMOOTH = 50  # prior strength m in (sum + m*prior)/(n + m)


@register(
    "e_target_encoding",
    oracle=f"""
    WITH g AS (
      SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS prior
      FROM orders
    ), c AS (
      SELECT o_orderpriority AS category,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS s
      FROM orders GROUP BY 1
    )
    SELECT category, n,
           round(s / n, 6) AS cat_mean,
           round(prior, 6) AS prior_mean,
           round((s + {_TE_SMOOTH} * prior) / (n + {_TE_SMOOTH}), 6)
             AS encoded
    FROM c, g
    """,
    doc="Smoothed mean-target encoding: each categorical level of "
    "o_orderpriority becomes the shrinkage blend (sum_cat + m * "
    "prior) / (n_cat + m) of its own target mean toward the global "
    "mean (m=50) — the leakage-resistant categorical encoder "
    "gradient-boosting pipelines standardize on, generalizing the "
    "reference's raw dictionary id encode (src/utils.py vocabulary "
    "build) to a numeric feature. Sums accumulate in decimal(18,6) "
    "on both engines so the means are partitioning-independent; the "
    "final blend is per-category IEEE arithmetic rounded at 6. "
    "Scale posture: ONE shuffle on the category key (map-side "
    "partial agg) plus a 1-row broadcast prior; output is bounded "
    "by the category domain. The encode table then broadcast-joins "
    "back onto any fact table — the j_lookup_encode path.",
    tags=("E1", "encode", "feature", "ml"),
    # one shuffle on the category key + 1-row broadcast prior (scalar-subquery
    # BNLJ); output bounded by the category domain
    plan={"bnlj_ok": True},
)
def e_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    g = orders.agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("prior")
    )
    c = orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("double").alias("s"),
    )
    m = F.lit(_TE_SMOOTH)
    return c.crossJoin(F.broadcast(g)).select(
        "category",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("cat_mean"),
        F.round(F.col("prior"), 6).alias("prior_mean"),
        F.round(
            (F.col("s") + m * F.col("prior")) / (F.col("n") + m), 6
        ).alias("encoded"),
    )

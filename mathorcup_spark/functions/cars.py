"""Reference-parity car-valuation pipeline (SURVEY.md §1.3, §3).

The reference's domain: a 36-column used-car valuation table
(附件1/附件2, schema ``src/headers.py:2-57``) and a 6-column store
transaction table (附件4, ``src/headers.py:59-76``). These functions
re-express its cleaning / feature / join stages as lazy DataFrame
transforms — the whole preprocess chain composes into ONE Catalyst
DAG instead of the reference's xlsx-materialized stage files
(SURVEY §4.1).

Column names are the English meanings (FIXTURES.md §2.1); golden
tests in ``tests/test_car_pipeline.py`` pin the semantics to
hand-computed fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- schemas (reference src/headers.py) ------------------------------------

VALUATION_COLUMNS = [
    "carid", "tradeTime", "brand", "serial", "model", "mileage", "color",
    "cityId", "carCode", "transferCount", "seatings", "registerDate",
    "licenseDate", "country", "maketype", "modelyear", "displacement",
    "gearbox", "oiltype", "newprice",
    "anonymousFeature1", "anonymousFeature2", "anonymousFeature3",
    "anonymousFeature4", "anonymousFeature5", "anonymousFeature6",
    "anonymousFeature7", "anonymousFeature8", "anonymousFeature9",
    "anonymousFeature10", "anonymousFeature11", "anonymousFeature12",
    "anonymousFeature13", "anonymousFeature14", "anonymousFeature15",
    "price",
]

TRANSACTION_COLUMNS = [
    "carid", "pushDate", "pushPrice", "updatePriceTimeJson",
    "pullDate", "withdrawDate",
]

# Discrete / continuous / time taxonomy (reference data/property_zh.json:2-5)
DISCRETE_COLUMNS = [
    "brand", "serial", "model", "color", "cityId", "carCode", "country",
    "maketype", "modelyear", "oiltype",
    "anonymousFeature1", "anonymousFeature2", "anonymousFeature3",
    "anonymousFeature4", "anonymousFeature5", "anonymousFeature6",
    "anonymousFeature8", "anonymousFeature9", "anonymousFeature10",
    "anonymousFeature11", "anonymousFeature14",
]
CONTINUOUS_COLUMNS = [
    "mileage", "transferCount", "seatings", "displacement", "gearbox",
    "newprice",
]
TIME_COLUMNS = [
    "tradeTime", "registerDate", "licenseDate",
    "anonymousFeature7", "anonymousFeature13", "anonymousFeature15",
]

# F1 imputation constants (reference src/utils.py:100-130, verbatim)
FILL_CONSTANTS: dict[str, object] = {
    "carCode": -1,
    "country": -1,
    "maketype": -1,
    "modelyear": -1,
    "gearbox": 0,
    "anonymousFeature1": -1,
    "anonymousFeature4": -1,
    "anonymousFeature7": "2000-01-01",
    "anonymousFeature8": -1,
    "anonymousFeature9": -1,
    "anonymousFeature10": -1,
    "anonymousFeature11": "-1",
    "anonymousFeature12": "0*0*0",
    "anonymousFeature13": "200001",
    "anonymousFeature15": "2000-01-01",
}


def fix_valuation(df: DataFrame) -> DataFrame:
    """F1: per-column constant imputation (src/utils.py:92-131).

    One ``na.fill`` with the reference's exact constants — a single
    pass, versus the reference's per-column fillna loop.
    """
    present = {k: v for k, v in FILL_CONSTANTS.items() if k in df.columns}
    return df.na.fill(present)


def derive_geometry(df: DataFrame, dim_col: str = "anonymousFeature12") -> DataFrame:
    """F2: parse 'L*W*H' → (length, width, height) + volume, surface
    area, perimeter — 6 derived columns (src/data.py:92-102).

    Pure column expressions (the reference used a python ``map`` over
    rows; SURVEY §2.8 E5 notes both have builtin forms).
    """
    p = F.split(F.col(dim_col), "\\*")
    l, w, h = (F.get(p, i).cast("double") for i in range(3))
    return (
        df.withColumn("dim_length", l)
        .withColumn("dim_width", w)
        .withColumn("dim_height", h)
        .withColumn("dim_volume", l * w * h)
        .withColumn("dim_surface", 4 * (l * w + l * h + w * h))
        .withColumn("dim_perimeter", 4 * (l + w + h))
    )


def parse_dates(df: DataFrame) -> DataFrame:
    """F3/F4: typed date columns + (year-2000, month-1, day-1)
    embedding ids for tradeTime (src/data.py:19-20,35-37); yyyyMM
    normalization for anonymousFeature13 (src/data.py:18,246)."""
    out = df
    for c in ("tradeTime", "registerDate", "licenseDate", "anonymousFeature7",
              "anonymousFeature15"):
        if c in df.columns:
            out = out.withColumn(c + "_d", F.to_date(c))
    if "anonymousFeature13" in df.columns:
        out = out.withColumn(
            "anonymousFeature13_d", F.to_date("anonymousFeature13", "yyyyMM")
        )
    if "tradeTime_d" in out.columns:
        out = (
            out.withColumn("trade_y", (F.year("tradeTime_d") - 2000).cast("int"))
            .withColumn("trade_m", (F.month("tradeTime_d") - 1).cast("int"))
            .withColumn("trade_d", (F.dayofmonth("tradeTime_d") - 1).cast("int"))
        )
    return out


def extract_deal_price(df: DataFrame) -> DataFrame:
    """F5: deal price from the price-adjustment JSON map with fallback
    to push price (src/utils.py:292-309).

    The reference strips ``{}"`` chars, splits on ``:`` and takes the
    *last* dict value. The data's meaning is "price after the latest
    adjustment", so the engine's defined semantics (SURVEY §7.8.3) is
    **value at the maximum adjustment date**, falling back to
    ``pushPrice`` when the map is empty/null.
    """
    m = F.from_json("updatePriceTimeJson", T.MapType(T.StringType(), T.StringType()))
    latest_key = F.array_max(F.map_keys(m))
    latest_val = F.element_at(m, latest_key).cast("double")
    return df.withColumn(
        "dealPrice", F.coalesce(latest_val, F.col("pushPrice").cast("double"))
    )


def sold_indicator(df: DataFrame, deal_col: str = "withdrawDate") -> DataFrame:
    """F8: 成交结果 sold flag — 1 iff the deal date is present
    (src/utils.py:245-250)."""
    return df.withColumn(
        "sold", F.when(F.col(deal_col).isNotNull(), 1).otherwise(0)
    )


def join_transactions(
    valuation: DataFrame, transactions: DataFrame, sold_only: bool = False
) -> DataFrame:
    """J1/J2: transaction ⋈ valuation on carid — replaces the
    reference's 10k-iteration boolean-mask loop join
    (src/utils.py:241-290) with a hash join; the valuation side is
    dimension-like, so Spark broadcasts it when it fits.

    ``sold_only=True`` is J2 (create_dataset): only transactions with
    a deal date — the filter pushes below the join.
    """
    t = transactions
    if sold_only:
        t = t.filter(F.col("withdrawDate").isNotNull())
    return t.join(valuation, "carid", "inner")


def holding_days(df: DataFrame) -> DataFrame:
    """F6: days between push and pull/deal date (src/utils.py:226-231)."""
    end = F.coalesce(F.to_date("withdrawDate"), F.to_date("pullDate"))
    return df.withColumn("holdingDays", F.datediff(end, F.to_date("pushDate")))


def split_dataset(
    df: DataFrame, train_fraction: float = 0.7, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """R1: shuffled train/dev split — reference sklearn shuffle + 70/30
    head/tail slice (src/utils.py:210-219, config.py:26). Spark
    semantics: seeded randomSplit (SURVEY §7.8.2 — bit-matching the
    sklearn permutation is neither possible nor meaningful)."""
    train, dev = df.randomSplit([train_fraction, 1 - train_fraction], seed=seed)
    return train, dev


def build_dictionary(
    dfs: list[DataFrame], columns: list[str] | None = None
) -> DataFrame:
    """E1/A5/U1: vocabulary over the union of discrete-column domains →
    ``(name, value, token_id)`` mapping table (src/utils.py:69-86,
    src/data.py:152-159).

    Ids are dense, 0-based, ordered by (name, value) — the engine's
    deterministic replacement for first-seen order, assigned with the
    range-partitioned ``dense_ids`` rank so the pipeline keeps working
    when a high-cardinality column (vin, url, …) joins the dictionary.
    """
    from ..ids import dense_ids

    columns = columns or DISCRETE_COLUMNS
    melted = None
    for df in dfs:
        for c in columns:
            if c not in df.columns:
                continue
            piece = df.select(
                F.lit(c).alias("name"), F.col(c).cast("string").alias("value")
            )
            melted = piece if melted is None else melted.unionByName(piece)
    if melted is None:
        raise ValueError("no requested columns present in any input")
    domain = melted.distinct()
    return dense_ids(domain, ["name", "value"], "token_id")


def encode_columns(df: DataFrame, dictionary: DataFrame, columns: list[str]) -> DataFrame:
    """J4/E3: replace discrete string values with dense dictionary ids
    via broadcast lookup joins (src/data.py:21-23,249-251). Unmatched
    values encode as NULL (the reference would KeyError)."""
    out = df
    for c in columns:
        mapping = dictionary.filter(F.col("name") == c).select(
            F.col("value").alias(f"_{c}_val"), F.col("token_id").alias(f"{c}_id")
        )
        out = out.join(
            F.broadcast(mapping),
            out[c].cast("string") == mapping[f"_{c}_val"],
            "left",
        ).drop(f"_{c}_val")
    return out


# ---------------------------------------------------------------------------
# End-to-end composed pipeline (reference second.py:118-151 shape),
# registered as a driver-verifiable query. The 附件-shaped valuation
# and transaction frames are synthesized DETERMINISTICALLY from the
# catalog's part/orders tables with expressions both engines share,
# so the DuckDB oracle can verify the whole chain:
#   fix_valuation (F1) → derive_geometry (F2) → join_transactions
#   (J1/J2) → extract_deal_price (F5) → sold_indicator (F8) →
#   holding_days (F6)
# The oracle reconstructs dealPrice from the same arithmetic that
# BUILT the JSON, so Spark's from_json + value-at-max-date extraction
# is verified against an independent derivation.
# ---------------------------------------------------------------------------

from ..catalog import load  # noqa: E402
from ..registry import register  # noqa: E402


@register(
    "car_pipeline_e2e",
    oracle="""
    WITH val0 AS (
      SELECT p_partkey AS carid, p_brand AS brand, p_retailprice AS newprice,
             CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_size END AS carCode,
             CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_size % 3 END AS gearbox,
             CASE WHEN p_partkey % 11 = 0 THEN NULL
                  ELSE CAST(p_size AS VARCHAR) || '*'
                       || CAST(p_size + 1 AS VARCHAR) || '*'
                       || CAST(p_size + 2 AS VARCHAR) END AS af12
      FROM part
    ), val AS (
      SELECT carid, brand, newprice,
             COALESCE(carCode, -1) AS carCode,
             COALESCE(gearbox, 0) AS gearbox,
             COALESCE(af12, '0*0*0') AS af12
      FROM val0
    ), valg AS (
      SELECT *,
             CAST(string_split(af12, '*')[1] AS DOUBLE)
             * CAST(string_split(af12, '*')[2] AS DOUBLE)
             * CAST(string_split(af12, '*')[3] AS DOUBLE) AS dim_volume
      FROM val
    ), tx AS (
      SELECT o_orderkey AS txid,
             o_orderkey % (SELECT max(p_partkey) FROM part) + 1 AS carid,
             CAST(o_orderdate AS DATE) AS pushDate,
             o_totalprice AS pushPrice,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL
                  ELSE (o_orderkey * 7) % 9999 END AS v1,
             CAST(floor(o_totalprice) AS BIGINT) % 9999 AS v2,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE CAST(o_orderdate AS DATE)
                       + CAST(o_orderkey % 60 + 1 AS INTEGER) END AS withdrawDate,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 90 + 1 AS INTEGER) AS pullDate
      FROM orders
    )
    SELECT t.txid, t.carid, v.brand, v.newprice,
           CAST(v.carCode AS BIGINT) AS carCode,
           CAST(v.gearbox AS BIGINT) AS gearbox,
           v.dim_volume,
           t.pushDate,
           CASE WHEN t.v1 IS NULL THEN t.pushPrice
                ELSE CAST(t.v2 AS DOUBLE) END AS dealPrice,
           CAST(CASE WHEN t.withdrawDate IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS sold,
           CAST(date_diff('day', t.pushDate,
                          COALESCE(t.withdrawDate, t.pullDate))
                AS BIGINT) AS holdingDays
    FROM tx t JOIN valg v ON t.carid = v.carid
    """,
    doc="Composed car-valuation pipeline, end to end (reference "
    "second.py:118-151 driving src/utils.py:233-309): constant "
    "imputation (F1, src/utils.py:92-131) → geometry parse (F2, "
    "src/data.py:92-102) → transaction⋈valuation join (J1/J2, "
    "src/utils.py:241-290) → deal price from the price-adjustment "
    "JSON map with pushPrice fallback (F5, src/utils.py:292-309) → "
    "sold indicator (F8, src/utils.py:245-250) → holding days (F6, "
    "src/utils.py:226-231) — ONE Catalyst DAG instead of the "
    "reference's xlsx-materialized stages. Input frames are "
    "synthesized deterministically from part/orders so the oracle "
    "can independently re-derive every value, including the "
    "JSON-extracted deal price.",
    tags=("J1", "J2", "F1", "F2", "F5", "F6", "F8", "suite"),
    # the fixture derives carid from a max(partkey) scalar — a 1-row aggregate
    # broadcast (scalar-subquery plan, BNLJ over one row)
    plan={"bnlj_ok": True},
)
def car_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    orders = load(spark, sf_dir, "orders")
    k = F.col("p_partkey")
    sz = F.col("p_size")
    valuation = part.select(
        k.alias("carid"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("newprice"),
        F.when(k % 7 == 0, None).otherwise(sz).alias("carCode"),
        F.when(k % 5 == 0, None).otherwise(sz % 3).alias("gearbox"),
        F.when(k % 11 == 0, None)
        .otherwise(F.concat_ws("*", sz, sz + 1, sz + 2))
        .alias("anonymousFeature12"),
    )
    valuation = derive_geometry(fix_valuation(valuation))

    o = F.col("o_orderkey")
    maxp = part.agg(F.max("p_partkey").alias("maxp"))
    push = F.to_date("o_orderdate")
    v1 = (o * 7) % 9999
    v2 = F.floor(F.col("o_totalprice")).cast("long") % 9999
    tx = orders.join(F.broadcast(maxp)).select(
        o.alias("txid"),
        (o % F.col("maxp") + 1).alias("carid"),
        push.alias("pushDate"),
        F.col("o_totalprice").alias("pushPrice"),
        F.when(o % 4 == 0, None)
        .otherwise(
            F.concat(
                F.lit('{"2021-01-15":"'),
                v1.cast("string"),
                F.lit('","2021-06-20":"'),
                v2.cast("string"),
                F.lit('"}'),
            )
        )
        .alias("updatePriceTimeJson"),
        F.when(o % 3 == 0, None)
        .otherwise(F.date_add(push, (o % 60 + 1).cast("int")))
        .alias("withdrawDate"),
        F.date_add(push, (o % 90 + 1).cast("int")).alias("pullDate"),
    )

    joined = join_transactions(valuation, tx)
    out = holding_days(sold_indicator(extract_deal_price(joined)))
    return out.select(
        "txid",
        "carid",
        "brand",
        "newprice",
        F.col("carCode").cast("long").alias("carCode"),
        F.col("gearbox").cast("long").alias("gearbox"),
        "dim_volume",
        "pushDate",
        "dealPrice",
        F.col("sold").cast("long").alias("sold"),
        F.col("holdingDays").cast("long").alias("holdingDays"),
    )

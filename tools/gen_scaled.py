"""Generate a key-shifted ~NxSF replica of a testdata directory for
soak benchmarking (the driver provides sf0.1 at most; superlinear
plan shapes only show up one decade further out).

Each fact/entity table is replicated N times with every key column
offset by copy_index * (max_key), so join fan-outs, group
cardinalities, and candidate-pair structures scale the way real data
growth would (keys stay consistent ACROSS tables: orders.o_custkey
points into the same copy's customers, etc.). Dimension tables
(region/nation) are shared, as they would be at any scale. Document
text gets a copy-index prefix token so the near-dup structure scales
instead of collapsing into exact 10-way duplicates; event timestamps
shift by 1h per copy so time windows spread instead of stacking.

Usage: python tools/gen_scaled.py [src_dir] [out_dir] [n_copies]
Writes parquet per table under out_dir. Do NOT commit the output
(.data/ is gitignored).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from mathorcup_spark.catalog import load
from mathorcup_spark.session import get_spark


def build(spark, src: str, out: str, n: int) -> None:
    """Write the ``n``-copy key-shifted replica of ``src`` under ``out``."""
    # stride = max + 1: shifting by max alone collides the boundary
    # key of each copy with the next copy's first key (one duplicate
    # id per copy — 9 dup vec_ids at x10, caught by
    # d_semantic_dedup_learned's all_assigned count at sf1)
    maxes = {
        "cust": load(spark, src, "customer").agg(F.max("c_custkey")).first()[0],
        "supp": load(spark, src, "supplier").agg(F.max("s_suppkey")).first()[0],
        "part": load(spark, src, "part").agg(F.max("p_partkey")).first()[0],
        "order": load(spark, src, "orders").agg(F.max("o_orderkey")).first()[0],
        "event": load(spark, src, "events").agg(F.max("event_id")).first()[0],
        "user": load(spark, src, "events").agg(F.max("user_id")).first()[0],
        "doc": load(spark, src, "documents").agg(F.max("doc_id")).first()[0],
        "vec": load(spark, src, "embeddings").agg(F.max("vec_id")).first()[0],
    }

    def replicate(name: str, shifts: dict[str, str], extra=None):
        df = load(spark, src, name)
        copies = df.withColumn(
            "_i", F.explode(F.array(*[F.lit(i) for i in range(n)]))
        )
        for col, key in shifts.items():
            copies = copies.withColumn(
                col, (F.col(col) + F.col("_i") * F.lit(maxes[key] + 1)).cast("long")
            )
        if extra is not None:
            copies = extra(copies)
        # spread across 32 files: the explode inherits the source's
        # few input splits, and a 10x table in 3 giant files caps
        # every downstream scan at 3 map tasks — the layout, not the
        # plan, becomes the bottleneck (measured 3-4x on scan-heavy
        # queries). Real lakes write many files per partition.
        copies.drop("_i").repartition(32).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"{name}: x{n}")

    for dim in ("region", "nation"):
        load(spark, src, dim).write.mode("overwrite").parquet(
            f"{out}/{dim}.parquet"
        )
    replicate("customer", {"c_custkey": "cust"})
    replicate("supplier", {"s_suppkey": "supp"})
    replicate("part", {"p_partkey": "part"})
    replicate("orders", {"o_orderkey": "order", "o_custkey": "cust"})
    replicate(
        "lineitem",
        {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    )
    replicate(
        "events",
        {"event_id": "event", "user_id": "user"},
        extra=lambda df: df.withColumn(
            "ts", F.col("ts") + F.make_interval(hours=F.col("_i"))
        ),
    )
    replicate(
        "documents",
        {"doc_id": "doc"},
        extra=lambda df: df.withColumn(
            "text", F.concat(F.lit("copy"), F.col("_i"), F.lit(" "), F.col("text"))
        ),
    )
    replicate("embeddings", {"vec_id": "vec"})


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else ".data/sf1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("gen_scaled")
    build(spark, src, out, n)
    spark.stop()


if __name__ == "__main__":
    main()

"""Output checks, run once per run outside the measured passes.

Each check first runs its item to a full result and returns the wall
and CPU seconds that took; this run is also the item's warm-up. The
comparison that follows is not timed.

Queries are compared with their DuckDB oracle using the normalisation
of ``tools/driver_check.py`` (columns by name, rows sorted, floats
rounded to 9 places); a query without an oracle must return rows. The
stream is compared with the oracle of its batch face
``st_tumbling_window``. The ingested ANN index is compared with what a
one-shot index build over the same ids writes. A failure record names
the item and carries a bounded sample of the rows that differ.
"""

from __future__ import annotations

import os

import duckdb

from mathorcup_spark import registry
from mathorcup_spark.catalog import TABLES
from tools.driver_check import _norm_rows
from workloads import Clock

SAMPLE = 5  # differing rows kept per side in a failure record


class Oracle:
    def __init__(self, sf_dir: str):
        self.db = duckdb.connect()
        for t in TABLES:
            self.db.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self.sql = registry.oracles()

    def compare(self, name: str, cols, rows) -> dict | None:
        """None when ``rows`` match the oracle of ``name``, else a
        failure record with culprit rows."""
        if name not in self.sql:
            return None if rows else {"item": name, "error": "no rows"}
        res = self.db.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return {"item": name, "error": "columns", "got": cols, "want": ocols}
        got, want = _norm_rows(cols, rows), _norm_rows(ocols, orows)
        if got == want:
            return None
        got_set, want_set = set(got), set(want)
        return {
            "item": name,
            "error": "rows",
            "rows": [len(got), len(want)],
            "columns": sorted(cols),
            "only_spark": [list(r) for r in got if r not in want_set][:SAMPLE],
            "only_oracle": [list(r) for r in want if r not in got_set][:SAMPLE],
        }


def check_query(items, name: str, oracle: Oracle) -> tuple[tuple, dict | None]:
    clock = Clock()
    df = items.queries[name](items.spark, items.sf_dir)
    rows = [tuple(r) for r in df.collect()]
    spent = clock.read()
    return spent, oracle.compare(name, df.columns, rows)


def check_stream(items, oracle: Oracle) -> tuple[tuple, dict | None]:
    """One AvailableNow trigger in update mode emits every window once
    with its final value, so the memory sink must equal the batch
    oracle."""
    clock = Clock()
    q = items._stream_query("memory", name="perfbench_stream_check")
    q.awaitTermination()
    spent = clock.read()
    df = items.spark.table("perfbench_stream_check")
    rows = [tuple(r) for r in df.collect()]
    items.spark.catalog.dropTempView("perfbench_stream_check")
    failure = oracle.compare("st_tumbling_window", df.columns, rows)
    if failure:
        failure["item"] = "stream_windows"
    return spent, failure


def check_index(items) -> dict | None:
    """The maintained ANN index must hold exactly the rows a one-shot
    build over the ids ingested so far (initial ids plus the batches
    taken) would write."""
    from pyspark.sql import functions as F

    from mathorcup_spark.catalog import load
    from mathorcup_spark.sources.ann_index import _bucketed

    spark = items.spark
    fed = items.inputs["embeddings"]["files"][: items.next_batch]
    # ids are dense, so the first `hi` ids are exactly what was fed
    hi = items.inputs["embeddings"]["cut"] + sum(n for _, n in fed)
    emb = load(spark, items.sf_dir, "embeddings").filter(F.col("vec_id") < hi)
    index = os.path.join(items.stores, "ann")

    def sig(df, cols) -> list:
        r = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))).alias("s"),
        ).first()
        return [int(r["n"]), int(r["s"] or 0)]

    bucket_cols = ["vec_id", "t", "bucket"]
    got = [
        sig(spark.read.parquet(f"{index}/buckets"), bucket_cols),
        sig(spark.read.parquet(f"{index}/vectors"), ["vec_id"]),
    ]
    want = [sig(_bucketed(emb), bucket_cols), sig(emb, ["vec_id"])]
    if got == want:
        return None
    return {"item": "ingest_ann", "error": "index != one-shot build", "got": got, "want": want}

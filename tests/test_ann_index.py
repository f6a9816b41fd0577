"""Persisted LSH index: answers must match the inline sim_lsh_ann
query exactly, and probes must partition-prune the bucket scan."""

from __future__ import annotations

import pytest

from mathorcup_spark import registry
from mathorcup_spark.catalog import load
from mathorcup_spark.sources.ann_index import query_lsh_index, write_lsh_index

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_index_matches_inline_query(spark, tmp_path):
    registry._bootstrap()
    emb = load(spark, SF_DIR, "embeddings")
    out = str(tmp_path / "lsh_index")
    write_lsh_index(emb, out)

    queries = emb.filter("vec_id < 10")
    got = query_lsh_index(spark, out, queries, k=5)
    want = registry.REGISTRY["sim_lsh_ann"].fn(spark, SF_DIR)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_probe_partition_prunes(spark, tmp_path):
    registry._bootstrap()
    emb = load(spark, SF_DIR, "embeddings")
    out = str(tmp_path / "lsh_index")
    write_lsh_index(emb, out)

    # one query vector probes at most N_TABLES buckets; the scan must
    # carry partition filters and read only those directories
    one = emb.filter("vec_id = 0")
    df = query_lsh_index(spark, out, one, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruned scan reads <= N_TABLES of the T * 2^B bucket dirs
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark prints selected partition count in the scan node
        from mathorcup_spark.functions.similarity import N_TABLES

        assert int(m.group(1)) <= N_TABLES


def test_append_then_compact_preserves_answers(spark, tmp_path):
    """Index built from half the vectors + the rest appended must
    answer exactly like an index built whole; compaction must not
    change a single row and must restore the file count."""
    import pathlib

    from pyspark.sql import functions as F

    from mathorcup_spark.catalog import load
    from mathorcup_spark.sources.ann_index import (
        append_to_lsh_index,
        compact_lsh_index,
        query_lsh_index,
        write_lsh_index,
    )

    emb = load(spark, SF_DIR, "embeddings")
    mx = int(emb.agg(F.max("vec_id")).first()[0])
    queries = emb.filter(F.col("vec_id") < 10)

    whole = str(tmp_path / "whole")
    write_lsh_index(emb, whole)
    want = sorted(tuple(r) for r in query_lsh_index(spark, whole, queries).collect())

    grown = str(tmp_path / "grown")
    write_lsh_index(emb.filter(F.col("vec_id") <= mx // 2), grown)
    for lo, hi in ((mx // 2, mx * 3 // 4), (mx * 3 // 4, mx)):
        append_to_lsh_index(
            emb.filter((F.col("vec_id") > lo) & (F.col("vec_id") <= hi)), grown
        )
    got = sorted(tuple(r) for r in query_lsh_index(spark, grown, queries).collect())
    assert got == want

    def n_files(root):
        return sum(
            1 for p in pathlib.Path(root).rglob("*.parquet") if p.is_file()
        )

    before = n_files(f"{grown}/buckets")
    compact_lsh_index(spark, grown)
    after_rows = sorted(
        tuple(r) for r in query_lsh_index(spark, grown, queries).collect()
    )
    assert after_rows == want
    assert n_files(f"{grown}/buckets") <= before
    assert not [p for p in pathlib.Path(grown).iterdir() if p.name.endswith(".bak")]


def _bucket_shapes():
    from mathorcup_spark.functions.dedup import ND_BITS, ND_TABLES
    from mathorcup_spark.functions.similarity import N_BITS, N_TABLES

    return [(N_TABLES, N_BITS), (ND_TABLES, ND_BITS)]


@pytest.mark.parametrize("n_tables,n_bits", _bucket_shapes())
def test_spark_and_duckdb_buckets_agree(spark, n_tables, n_bits):
    """Every (vec_id, t, bucket) row of the Spark banding equals the
    DuckDB bucket SQL's, for the ANN (4x4) and near-dup (6x8) shapes:
    a bucket mismatch the top-k or near-dup rows happen to hide still
    fails here."""
    from mathorcup_spark import oracle
    from mathorcup_spark.functions.similarity import bucket_sql, lsh_bands

    _, want = oracle.run(
        oracle.connect(SF_DIR),
        f"SELECT vec_id, t, {bucket_sql(n_bits)} AS bucket "
        f"FROM embeddings, range(0, {n_tables}) r(t)",
    )
    got = lsh_bands(load(spark, SF_DIR, "embeddings"), n_tables, n_bits)
    n_vec = load(spark, SF_DIR, "embeddings").count()

    def key(rows):
        return sorted(tuple(int(x) for x in r) for r in rows)

    assert len(want) == n_vec * n_tables
    assert key(got.collect()) == key(want)

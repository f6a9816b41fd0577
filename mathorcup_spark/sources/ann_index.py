"""Persisted LSH ANN index: build once, probe many (SURVEY.md §2.13).

At 100 TB the signature build in ``sim_lsh_ann`` /
``d_embedding_neardup`` is a one-time cost you amortize by persisting
the index, not something to recompute per query batch. This module is
that pattern made concrete:

- :func:`write_lsh_index` materializes the index as two parquet
  layouts under one root: ``buckets/`` — (vec_id) rows partitioned by
  ``(t, bucket)`` so a probe touches only its bucket directories —
  and ``vectors/`` — embeddings with their norms, for the exact
  rescore.
- :func:`query_lsh_index` computes the query batch's buckets (same
  deterministic hyperplanes), collects the distinct (t, bucket) pairs
  it needs (Q·T values — driver-sized by construction), and pushes
  them as partition-pruning literals into the bucket scan: the plan
  reads only the probed partitions, never the full index
  (``PartitionFilters`` in the scan node, asserted in
  tests/test_ann_index.py).

Banding (``similarity.lsh_bands``) and the exact-cosine rescore
(``similarity.rescore_topk``) are the functions ``sim_lsh_ann`` itself
runs, so the index answers as the inline query does; a test pins it.

Reference parity note: the reference persists its trained embedding
matrices to disk and reloads them for evaluation
(``src/utils.py:320-334``); this is the retrieval-index analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.similarity import (
    N_BITS,
    N_TABLES,
    _norm,
    _side,
    lsh_bands,
    rescore_topk,
)


def _bucketed(emb: DataFrame) -> DataFrame:
    """(vec_id, t, bucket) for every vector and table."""
    return lsh_bands(emb, N_TABLES, N_BITS)


def write_lsh_index(emb: DataFrame, out_dir: str) -> None:
    """Materialize the LSH index for ``emb`` (vec_id, embedding).

    ``buckets/`` is partitioned by (t, bucket): T × 2^B directories,
    each holding the member vec_ids of one bucket — the layout that
    turns a probe into a partition-pruned scan. ``vectors/`` holds
    the embeddings (double) and their norms for the exact rescore.
    """
    _bucketed(emb).write.mode("overwrite").partitionBy("t", "bucket").parquet(
        f"{out_dir}/buckets"
    )
    (
        emb.select("vec_id", F.col("embedding").alias("e"))
        .withColumn("nrm", _norm("e"))
        .write.mode("overwrite")
        .parquet(f"{out_dir}/vectors")
    )


def query_lsh_index(
    spark: SparkSession, index_dir: str, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Top-k neighbors for ``queries`` (vec_id, embedding) against a
    persisted index — same output contract as ``sim_lsh_ann``:
    (q_id, c_id, cosine, rnk).

    The probed (t, bucket) pairs are collected to the driver (Q·T
    values) and pushed as literal partition filters, so the bucket
    scan prunes to exactly the probed directories at any index size.
    """
    qb = _bucketed(queries).select(
        F.col("vec_id").alias("q_id"), "t", "bucket"
    )
    probes = [(r["t"], r["bucket"]) for r in qb.dropDuplicates(["t", "bucket"]).collect()]
    probe_key = F.col("t") * (1 << N_BITS) + F.col("bucket")
    wanted = [t * (1 << N_BITS) + b for t, b in probes]

    idx = (
        spark.read.parquet(f"{index_dir}/buckets")
        .filter(probe_key.isin(wanted))
        .select(F.col("vec_id").alias("c_id"), "t", "bucket")
    )
    cand = (
        idx.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
        .dropDuplicates()
    )

    vecs = spark.read.parquet(f"{index_dir}/vectors").select(
        F.col("vec_id").alias("c_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    return rescore_topk(cand, _side(queries, "q"), vecs, k)


def append_to_lsh_index(emb: DataFrame, index_dir: str) -> None:
    """Absorb a vector batch into the persisted index — the ingest
    loop's second half (probe the batch for near-dups/neighbors,
    then append it so later batches see it).

    Appends are dynamic-partition file adds: the batch's bucket
    memberships land as new files inside their (t, bucket)
    directories and its vectors append to ``vectors/``. No existing
    file is rewritten, so append cost is batch-sized at any index
    size — the same discipline as ``minhash_index.append_to_
    minhash_index``, and the same fragmentation trade measured in
    SCALING.md § append fragmentation (compaction below restores
    one-file-per-partition).

    Crash safety: vectors are appended FIRST. A crash between the
    two writes then leaves orphan vectors with no bucket entries —
    harmless (never surfaced: candidates come from the bucket join).
    The reverse order would leave bucket entries whose vec_ids are
    missing from ``vectors/``, and ``query_lsh_index``'s inner join
    would silently drop those candidates — silent recall loss.
    """
    (
        emb.select("vec_id", F.col("embedding").alias("e"))
        .withColumn("nrm", _norm("e"))
        .write.mode("append")
        .parquet(f"{index_dir}/vectors")
    )
    _bucketed(emb).write.mode("append").partitionBy("t", "bucket").parquet(
        f"{index_dir}/buckets"
    )


def compact_lsh_index(spark: SparkSession, index_dir: str) -> None:
    """Rewrite both layouts to one sorted file per partition and swap
    via rename-aside (old -> .bak, new -> old, drop .bak) so an
    interrupted compaction never destroys the only copy — the
    crash-safe swap `minhash_index.compact_minhash_index` uses."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ann_compact_", dir=index_dir)
    (
        spark.read.parquet(f"{index_dir}/buckets")
        .repartition("t", "bucket")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .partitionBy("t", "bucket")
        .parquet(f"{tmp}/buckets")
    )
    (
        spark.read.parquet(f"{index_dir}/vectors")
        .repartitionByRange(8, "vec_id")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .parquet(f"{tmp}/vectors")
    )
    for layout in ("buckets", "vectors"):
        old = f"{index_dir}/{layout}"
        bak = f"{old}.bak"
        shutil.move(old, bak)
        shutil.move(f"{tmp}/{layout}", old)
        shutil.rmtree(bak)
    shutil.rmtree(tmp, ignore_errors=True)

"""Behavioral tests for the non-oracle dedup/similarity operators:
determinism across runs and near-dup recall on constructed fixtures.
The oracle-checked ops (exact dedup, jaccard, cosine topk, LSH ANN)
are covered by the generic parity harness; these pin the xxhash64-
based signatures (MinHash/SimHash) which have no DuckDB oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mathorcup_spark.functions import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees "
    "as morning light spreads across the quiet village square slowly"
)


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    """A documents.parquet fixture: near-dups, exact dups, unrelated."""
    words = BASE.split()
    near = " ".join(words[:-3] + ["nearby", "river", "bank"])  # ~90% shingles shared
    unrelated = " ".join(f"zz{i} token{i*7} metal{i}" for i in range(40))
    rows = [
        Row(doc_id=0, text=BASE, lang="en", source="s0", n_chars=len(BASE)),
        Row(doc_id=1, text=near, lang="en", source="s0", n_chars=len(near)),
        Row(doc_id=2, text=BASE, lang="en", source="s0", n_chars=len(BASE)),  # exact dup
        Row(doc_id=3, text=unrelated, lang="en", source="s0", n_chars=len(unrelated)),
    ]
    d = tmp_path_factory.mktemp("docs")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_minhash_deterministic_and_recall(spark, doc_dir):
    r1 = {(r.doc_a, r.doc_b): r.est_jaccard
          for r in dedup.d_minhash_lsh(spark, doc_dir).collect()}
    r2 = {(r.doc_a, r.doc_b): r.est_jaccard
          for r in dedup.d_minhash_lsh(spark, doc_dir).collect()}
    assert r1 == r2                       # deterministic signatures
    assert r1[(0, 2)] == 1.0              # exact dup: all minhashes agree
    assert (0, 1) in r1 and r1[(0, 1)] >= 0.5   # near-dup caught by LSH
    assert (0, 3) not in r1 and (1, 3) not in r1  # unrelated not candidates


def test_simhash_hamming_orders_similarity(spark, doc_dir):
    out = {(r.doc_a, r.doc_b): r.hamming
           for r in dedup.d_simhash(spark, doc_dir).collect()}
    assert out[(0, 2)] == 0               # identical text → identical simhash
    assert out[(0, 1)] < out[(0, 3)]      # near-dup closer than unrelated
    assert out[(0, 1)] <= 16              # near-dup within typical threshold


def test_lsh_ann_subset_of_bruteforce(spark):
    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.c_id) for r in similarity.sim_cosine_topk(spark, sf).collect()}
    approx = {(r.q_id, r.c_id): r.cosine
              for r in similarity.sim_lsh_ann(spark, sf).collect()}
    # every ANN hit is a real pair with the same cosine the exact path
    # would compute; recall against exact top-5 should be well above 0
    exact_scores = {(r.q_id, r.c_id): r.cosine
                    for r in similarity.sim_cosine_topk(spark, sf).collect()}
    for pair, cos in approx.items():
        if pair in exact_scores:
            assert abs(exact_scores[pair] - cos) < 1e-9
    recall = len(set(approx) & exact) / len(exact)
    assert recall > 0.2


# --- connected-components clustering (functions/cluster.py) ---------------


def _cc_map(spark, pairs):
    from mathorcup_spark.functions.cluster import connected_components

    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {r.node: r.comp for r in connected_components(edges).collect()}


def test_cc_path_graph_worst_case(spark):
    # A 17-node path is the worst convergence case for star rounds
    # (diameter 16); every node must still land on the component min.
    comp = _cc_map(spark, [(i, i + 1) for i in range(1, 17)])
    assert comp == {i: 1 for i in range(1, 18)}


def test_cc_multiple_components_and_order(spark):
    comp = _cc_map(
        spark,
        [(5, 3), (3, 9), (20, 21), (40, 41), (41, 40), (7, 7)],
    )
    # self-loops dropped; (41,40) duplicate canonicalized away
    assert comp == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 40: 40, 41: 40}


def test_dedup_clusters_groups_transitive_neardups(spark, doc_dir):
    from mathorcup_spark.functions.cluster import d_dedup_clusters

    rows = {r.doc_id: r for r in d_dedup_clusters(spark, doc_dir).collect()}
    # docs 0, 1, 2 are one near-dup cluster (0~1 near, 0=2 exact);
    # doc 3 is unrelated -> singleton survivor
    assert rows[0].cluster_id == rows[1].cluster_id == rows[2].cluster_id == 0
    assert rows[0].cluster_size == 3
    assert (rows[0].keep, rows[1].keep, rows[2].keep) == (1, 0, 0)
    assert rows[3].cluster_id == 3 and rows[3].cluster_size == 1 and rows[3].keep == 1


class TestBucketCap:
    """d_minhash_lsh_capped must skip oversized (band, bucket) groups —
    the guard against the boilerplate quadratic blow-up measured in
    SCALING.md § duplicate-heavy corpus."""

    @pytest.fixture(scope="class")
    def skewed_dir(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("capped_docs")
        template = (
            "standard boilerplate disclaimer all rights reserved terms"
            " of service apply please read carefully before proceeding"
        )
        rows = [
            Row(
                doc_id=i,
                text=template,
                lang="en",
                source="web",
                n_chars=len(template),
            )
            # 60 exact template copies: one (band, bucket) per band
            # holds all 60 docs -> over the MAX_BUCKET=50 cap
            for i in range(60)
        ] + [
            Row(
                doc_id=100 + i,
                text=f"unique document number {i} with its own words "
                f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}",
                lang="en",
                source="web",
                n_chars=40,
            )
            for i in range(20)
        ]
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )
        return str(d)

    def test_cap_drops_template_bucket_pairs(self, spark, skewed_dir):
        from mathorcup_spark.functions.dedup import (
            d_minhash_lsh,
            d_minhash_lsh_capped,
        )

        uncapped = d_minhash_lsh(spark, skewed_dir).count()
        capped = d_minhash_lsh_capped(spark, skewed_dir).count()
        # 60 template docs alone contribute 60*59/2 = 1770 pairs
        assert uncapped >= 1770
        # the cap removes every within-template pair; unique docs
        # share no shingles so almost nothing survives
        assert capped <= uncapped - 1770

    def test_bucket_stats_report_cap(self, spark, skewed_dir):
        from mathorcup_spark.functions.dedup import d_lsh_bucket_stats

        stats = {r["band"]: r for r in d_lsh_bucket_stats(spark, skewed_dir).collect()}
        assert len(stats) == 4
        for band, r in stats.items():
            assert r["max_bucket"] >= 60
            assert r["n_capped"] >= 1
            assert r["docs_in_capped"] >= 60

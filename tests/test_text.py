"""Semantic contracts of the text operators that the driver's value
hash alone would not explain: BPE pair ranking and batched-merge
selection, PMI co-occurrence bounds, and DSIR importance weights."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mathorcup_spark.catalog import load
from mathorcup_spark.registry import queries
from tests.conftest import SF_DIR


def test_bpe_pair_counts_ranking(spark):
    rows = sorted(queries()["t_bpe_pair_counts"](spark, SF_DIR).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, 41))
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert all(
        len(r["pair"]) == 2 and r["pair"].islower() and r["pair"].isalpha()
        for r in rows
    )


def test_batched_bpe_pairs_token_disjoint_within_pass(spark):
    """The selection contract: within one pass, no two chosen pairs
    share a token (that is what makes the batch's counts honest
    simultaneously)."""
    from mathorcup_spark.functions.text import bpe_train_batched_core

    merges, _ = bpe_train_batched_core(spark, SF_DIR)
    assert len(merges) >= 32, "the batched trainer must beat 6 merges"
    by_pass: dict[int, list] = {}
    for p, rank, a, b, merged, cnt in merges:
        assert merged == a + b
        assert cnt > 0
        by_pass.setdefault(p, []).append((a, b))
    for p, pairs in by_pass.items():
        toks: list[str] = []
        for a, b in pairs:
            assert a not in toks and b not in toks, (
                f"pass {p}: pair ({a},{b}) shares a token with an "
                "earlier chosen pair"
            )
            toks += [a, b]


def test_batched_bpe_shrinks_token_budget(spark):
    """Applying the learned batch merges must strictly shrink the
    vocabulary's total token count (merges only ever combine)."""
    from mathorcup_spark.functions.text import (
        bpe_train_batched_core,
        bpe_vocab_from,
    )

    _, toks = bpe_train_batched_core(spark, SF_DIR)
    before = (
        bpe_vocab_from(spark, SF_DIR)
        .agg(F.sum(F.size("l") * F.col("n")))
        .first()[0]
    )
    after = toks.agg(F.sum(F.size("l") * F.col("n"))).first()[0]
    assert after < before


def test_pmi_pairs_bounded_by_vocab_cap(spark):
    from mathorcup_spark.functions.text import _PMI_TOP_TERMS

    out = queries()["t_pmi_cooccur"](spark, SF_DIR).collect()
    cap = _PMI_TOP_TERMS * (_PMI_TOP_TERMS - 1) // 2
    assert 0 < len(out) <= cap
    for r in out:
        assert r.t1 < r.t2
        assert 0 < r.n12 <= min(r.n1, r.n2)
        # presence PMI is capped by -ln(max(P(t1), P(t2))) < ln N
        assert math.isfinite(r.pmi)


def test_dsir_target_docs_outscore_the_pool(spark):
    """The importance weight is built to up-rank target-domain text:
    mean per-token log-weight of lang='en' docs must exceed that of
    non-en docs (per-token so length differences cancel)."""
    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang")
    w = queries()["t_dsir_weights"](spark, SF_DIR).join(docs, "doc_id")
    rates = {
        r.is_en: r.per_tok
        for r in w.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(
            (F.sum("dsir_logw") / F.sum("n_tokens")).alias("per_tok")
        )
        .collect()
    }
    assert rates[True] > rates[False], rates


def test_dsir_every_nonempty_doc_scored(spark):
    docs = load(spark, SF_DIR, "documents")
    n_nonempty = docs.filter(
        F.length(F.trim(F.col("text"))) > 0
    ).count()
    assert queries()["t_dsir_weights"](spark, SF_DIR).count() == n_nonempty

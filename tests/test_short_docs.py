"""Short-document contract (round-4 ADVICE, medium finding).

Shingle-based screens previously diverged between engines for
documents shorter than the n-gram width: Spark's ``concat_ws`` skips
NULL out-of-bounds words and emits a truncated shingle, while the
DuckDB oracle's ``||`` chain yields NULL and ``list_distinct`` drops
it. The shipped test corpora have no short docs, so the divergence
was latent; this module manufactures a corpus full of 0-4 word
documents, an empty one and duplicated texts, and asserts Spark ==
DuckDB for every consumer of a shared text fragment: shingles, the
content hash, the quality score (NULL on empty text), the mixture
rebalance and the sequence pack.
"""

from __future__ import annotations

import duckdb
import pytest

from mathorcup_spark import oracle, registry

# (doc_id, text, lang, source, n_chars) — doc_id % 100 == 0 plays the
# eval slice in t_contamination_screen. Includes: empty text, 1-4 word
# docs (below both the 3-gram and 5-gram floors), an exactly-5-word
# doc, adjacent same-source short docs (so d_ngram_jaccard emits a
# both-empty pair), and a contaminated normal-length doc.
_DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 44),
    (100, "one", "en", "web", 3),
    (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 44),
    (2, "one two", "en", "web", 7),
    (3, "one two three four", "en", "web", 18),
    (4, "", "en", "web", 0),
    (5, "x y z", "en", "web", 5),
    (6, "x y z", "en", "web", 5),
    (7, "exactly five words here now", "en", "web", 27),
    (8, "solo", "en", "books", 4),
    (9, "alpha beta gamma delta epsilon zeta eta theta", "en", "books", 44),
]

_QUERIES = [
    "t_contamination_screen",
    "t_repetition_stats",
    "t_boilerplate_ngrams",
    "t_fingerprint",
    "t_text_stats",
    "t_token_count",
    "d_ngram_jaccard",
    "d_minhash_lsh",
    "d_lsh_rescore_e2e",
    "d_exact_dedup",
    "d_simhash",
    "d_containment",
    "t_ngram_novelty",
    "d_incremental_dedup",
    "d_incremental_index_dedup",
    "d_minhash_lsh_capped",
    "d_lsh_hamming_e2e",
    "d_dedup_clusters",
    "d_dedup_survivors",
    "r_mixture_sample",
    "t_sequence_pack",
    "t_pack_manifest",
    "corpus_prep_e2e",
    "corpus_pipeline_v2",
    "corpus_pipeline_v3",
    "corpus_pipeline_v4",
    "corpus_pipeline_v5",
]


@pytest.fixture(scope="module")
def short_dir(spark, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("short_docs")
    df = spark.createDataFrame(
        _DOCS, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def duck_short(short_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{short_dir}/documents.parquet/*.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _QUERIES)
def test_short_doc_parity(spark, duck_short, short_dir, name):
    registry._bootstrap()
    q = registry.REGISTRY[name]
    sdf = q.fn(spark, short_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rec = oracle.compare(sdf.columns, srows, *oracle.run(duck_short, q.oracle))
    assert rec["hash_match"], f"{name}: {rec}"


def test_contamination_short_docs_survive(spark, short_dir):
    """Sub-width corpus docs survive the screen: n_shingles=0, NULL
    ratio, flagged=0 — not silently dropped."""
    registry._bootstrap()
    out = {
        r["doc_id"]: r
        for r in registry.REGISTRY["t_contamination_screen"]
        .fn(spark, short_dir)
        .collect()
    }
    # every non-eval doc is present, including the 0-4 word ones
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
    for short_id in (2, 3, 4, 5, 6, 8):
        r = out[short_id]
        assert r["n_shingles"] == 0
        assert r["contamination_ratio"] is None
        assert r["flagged"] == 0
    # the contaminated normal-length doc is still caught
    assert out[1]["flagged"] == 1 and out[9]["flagged"] == 1

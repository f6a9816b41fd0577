"""Each shared oracle SQL fragment is written once, in the SQL function
that sits beside its Spark twin. Spark-free: a source scan of
``mathorcup_spark/`` with whitespace runs collapsed, so a hand copy
laid out over several lines still counts."""

from __future__ import annotations

import re

import pytest

from tests.conftest import REPO

PKG = REPO / "mathorcup_spark"

# SQL function -> (module that defines it, a substring of its SQL)
FRAGMENTS = {
    "shingles_sql": ("functions/dedup.py", "list_distinct(list_transform("),
    "agree_sql": ("functions/dedup.py", "list_filter(range(1,"),
    "jaccard_sql": ("functions/dedup.py", "AS DOUBLE) / (len("),
    "simhash_sql": ("functions/dedup.py", "THEN 1 ELSE -1 END"),
    "content_hash_sql": (
        "functions/dedup.py",
        "md5(lower(trim(regexp_replace(text,",
    ),
    "quality_sql": ("functions/text.py", "least(1.0, len("),
    "langid_sql": ("functions/text.py", "THEN 'unknown'"),
    "_stop_hits_sql": ("functions/text.py", "x -> list_contains(["),
    "mixture_sql": ("operators/sampling.py", "/ k.n_sources) / n_s"),
    "pack_sql": (
        "functions/text.py",
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
    ),
    "unit_sql": ("functions/similarity.py", "x / sqrt(list_dot_product("),
    "_semdedup_oracle": (
        "functions/similarity.py",
        "min_by(cosine, ai) AS dup_cos",
    ),
    "cosine_sql": ("functions/similarity.py", ".nrm * "),
    "topk_sql": ("functions/similarity.py", ", c_id) AS BIGINT) AS rnk"),
}


@pytest.fixture(scope="module")
def sources() -> dict[str, str]:
    return {
        p.relative_to(PKG).as_posix(): re.sub(r"\s+", " ", p.read_text())
        for p in PKG.rglob("*.py")
    }


@pytest.mark.parametrize("fn", sorted(FRAGMENTS))
def test_fragment_written_once(sources, fn):
    home, fragment = FRAGMENTS[fn]
    assert f"def {fn}(" in sources[home], f"{fn} not in {home}"
    where = {f: src.count(fragment) for f, src in sources.items() if fragment in src}
    assert where == {home: 1}, f"{fragment!r} of {fn}: {where}"

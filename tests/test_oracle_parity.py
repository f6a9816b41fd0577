"""Generic oracle-parity harness: every registered query with an
oracle runs on Spark AND DuckDB at sf0.001 and must match on row
count, column names, and (order-insensitively, doubles rounded to
1e-9) values — mirroring the driver's CORRECTNESS check.
"""

from __future__ import annotations

import pytest

from mathorcup_spark import oracle, registry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = oracle.connect(SF_DIR)
    yield con
    con.close()


def _params():
    registry._bootstrap()
    return [q.name for q in registry.REGISTRY.values() if q.oracle is not None]


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, duck, name):
    q = registry.REGISTRY[name]
    sdf = q.fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rec = oracle.compare(sdf.columns, srows, *oracle.run(duck, q.oracle))
    assert rec["hash_match"], f"{name}: {rec}"


def test_all_oracle_keys_have_queries():
    assert set(registry.oracles()) <= set(registry.queries())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2


def test_driver_surface():
    """The driver verifies a bounded set of queries (50 in round 1):
    the surface exposed via __spark_entry__ must be exactly the 50
    DRIVER_SURFACE names, registered, deduplicated, leading the full
    registry ordering, and with ZERO rows-only queries: round 7
    oracle-ized the last three (r_seeded_suite via per-SF pinned
    sample checksums, ml_pipeline_suite via metric-floor check rows,
    ml_kmeans_ivf_ann via recall-floor check rows), each with a
    DuckDB oracle that re-derives the check key counts independently
    and pins the ok flags — the full 50-row driver surface is
    hash-verified."""
    surface = registry.driver_surface()
    assert len(surface) == 50
    assert tuple(surface) == registry.DRIVER_SURFACE
    qs = list(registry.queries())
    assert len(qs) == len(set(qs))
    assert tuple(qs[: len(registry.DRIVER_SURFACE)]) == registry.DRIVER_SURFACE
    ors = registry.driver_oracles()
    rows_only = [q for q in registry.DRIVER_SURFACE if q not in ors]
    assert rows_only == []


def test_digest_declared_columns_must_match_member_schema(spark):
    """A digest member whose schema drifts from the declared column
    list fails loudly (the full-width coverage contract)."""
    from mathorcup_spark.operators.digest import _digest_suite

    _, fn = _digest_suite(
        [("histogram", "a_histogram", [("bin", "num")])]  # missing "n"
    )
    with pytest.raises(AssertionError, match="declared columns"):
        fn(spark, SF_DIR).collect()


def test_every_oracled_query_fully_driver_covered(spark):
    """The round-5 evidence contract: every oracled registry query is
    driver-verified over ALL of its output columns — it is on the
    surface itself, a full-width digest member, or a slot-suite
    member whose every output column appears in its slot mapping.
    A future member added with uncovered columns fails here."""
    import re

    registry._bootstrap()  # must precede the digest import: its
    # suite oracles are built from already-registered members

    from mathorcup_spark.operators import digest as dg

    slot_members: dict[str, str] = {}
    src = open("mathorcup_spark/operators/suites.py").read()
    pat = re.compile(
        r'\(\s*"[^"]+",\s*"([a-z0-9_]+)",\s*\{(.*?)\}\s*\)', re.DOTALL
    )
    for q, body in pat.findall(src):
        exprs = " ".join(v for _, v in re.findall(r'"([a-z0-9_]+)":\s*"([^"]*)"', body))
        slot_members[q] = slot_members.get(q, "") + " " + exprs

    digest_members = {
        q
        for mlist in (dg._AGG_MEMBERS, dg._LAKE_MEMBERS, dg._SPECIALTY_MEMBERS)
        for _, q, _cols in mlist
    }
    surface = set(registry.DRIVER_SURFACE)

    # Round-9 check-row queries: each runs a member-check function
    # that a DRIVER-SURFACE suite composes verbatim (same shared
    # code, same (check, n_keys, n_mismatch, ok) row schema), so the
    # suite's hashed driver row IS full-width coverage of the
    # member's output. Verified programmatically — a member dropped
    # from the shared check table breaks this set, not just a string.
    from mathorcup_spark.ml.checks import MEMBER_CHECKS
    from mathorcup_spark.operators.sampling import SEEDED_MEMBERS

    assert set(MEMBER_CHECKS) == {
        "word2vec", "gbt_regression", "logreg_classifier",
        "multitask_bundle", "scaler", "train_val_select",
        "checkpoint_roundtrip", "als_recommender",
    }
    assert set(SEEDED_MEMBERS) == {"exact_n", "fraction", "split_marker"}
    checkrow_covered = {
        # composed into ml_pipeline_suite (driver surface)
        "ml_word2vec_embeddings", "ml_gbt_price_regression",
        "ml_logreg_sold_classifier", "ml_multitask_bundle",
        "ml_scaler_fit_transform", "ml_train_validation_select",
        "ml_checkpoint_roundtrip", "ml_als_recommend",
        # composed into r_seeded_suite (driver surface)
        "r_exact_n_sample", "r_fraction_sample", "r_random_split_marker",
    }
    assert {"ml_pipeline_suite", "r_seeded_suite"} <= surface

    uncovered = {}
    for name, q in registry.REGISTRY.items():
        if (
            q.oracle is None
            or name in surface
            or name in digest_members
            or name in checkrow_covered
        ):
            continue
        if name not in slot_members:
            uncovered[name] = "not a member of any driver suite"
            continue
        cols = q.fn(spark, SF_DIR).columns
        ids = set(re.findall(r"[a-z_][a-z0-9_]*", slot_members[name]))
        missing = [c for c in cols if c not in ids]
        if missing:
            uncovered[name] = f"columns {missing} not in slot mapping"
    assert not uncovered, f"oracled queries lacking full driver coverage: {uncovered}"

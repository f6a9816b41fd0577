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

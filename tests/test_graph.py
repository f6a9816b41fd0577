"""Semantic contracts of the graph operators that the driver's value
hash alone would not explain: BFS frontiers, HITS and personalized
PageRank mass, degree assortativity, the sampled Adamic-Adar
estimator, label propagation's tie rule, and the packed 64-bit wedge
key with its envelope guard."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mathorcup_spark import registry
from mathorcup_spark.operators.graph import (
    _UV_MASK,
    _lpa_round,
    _pack_uv,
    _unpack_uv,
    uv_guarded,
)
from mathorcup_spark.registry import queries
from tests.conftest import SF_DIR


def test_bfs_seed_and_frontier_invariants(spark):
    rows = queries()["g_bfs_distance"](spark, SF_DIR).collect()
    dist = {r["node"]: r["dist"] for r in rows}
    assert dist
    seeds = {n for n, d in dist.items() if d == 0}
    # seeds are exactly the node%20==0 members of the graph
    assert seeds and all(n % 20 == 0 for n in seeds)
    assert set(dist.values()) <= {0, 1, 2, 3, 4}
    # bipartite node encoding: odd nodes (parts) sit at odd distances
    # from the all-even (supplier) seed set
    for n, d in dist.items():
        assert d % 2 == n % 2


def test_hits_scores_l1_normalized_and_bipartite(spark):
    out = queries()["g_hits_scores"](spark, SF_DIR)
    sums = {
        r.kind: r.s
        for r in out.groupBy("kind").agg(F.sum("score").alias("s")).collect()
    }
    assert set(sums) == {"hub", "auth"}
    # round(x, 6) per node: totals match 1 within n_nodes * 5e-7
    for v in sums.values():
        assert abs(v - 1.0) < 1e-3
    bad_side = out.filter(
        ((F.col("kind") == "hub") & (F.col("node") % 2 != 0))
        | ((F.col("kind") == "auth") & (F.col("node") % 2 != 1))
    ).count()
    assert bad_side == 0
    assert out.filter(F.col("score") < 0).count() == 0


def test_assortativity_in_valid_range(spark):
    r = queries()["g_assortativity"](spark, SF_DIR).first()
    assert r.n_end_pairs > 0 and r.n_end_pairs % 2 == 0
    assert -1.0 <= r.assortativity <= 1.0


def test_ppr_mass_concentrates_on_and_near_seeds(spark):
    """Restart walks put more stationary mass on seeds than uniform
    PageRank does: mean PPR score over seed nodes must exceed the
    uniform 1/N share, and total mass stays ~1 (stochastic up to
    the decimal rounding)."""
    from mathorcup_spark.operators.graph import _PPR_SEED_MOD

    out = queries()["g_personalized_pagerank"](
        spark, SF_DIR
    ).localCheckpoint()
    n = out.count()
    total = float(out.agg(F.sum("ppr")).first()[0])
    assert abs(total - 1.0) < 1e-3, total
    seed_mean = float(
        out.filter(F.col("node") % _PPR_SEED_MOD == 0)
        .agg(F.avg("ppr"))
        .first()[0]
    )
    assert seed_mean > 1.0 / n, (seed_mean, 1.0 / n)


def test_ppr_differs_from_uniform_pagerank(spark):
    """Personalization must actually change the scores: over the
    same node domain, PPR and uniform PageRank disagree by far more
    than the 6dp output rounding (the seeds pull mass toward their
    neighborhoods)."""
    ppr = queries()["g_personalized_pagerank"](spark, SF_DIR)
    pr = queries()["g_pagerank_fixed"](spark, SF_DIR)
    j = ppr.join(pr, "node")
    assert j.count() == ppr.count()
    max_gap = float(
        j.agg(
            F.max(F.abs(F.col("ppr") - F.col("pagerank"))).alias("g")
        ).first()[0]
    )
    assert max_gap > 1e-3, max_gap


def _aa_duck(sf_dir: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    return con


_AA_BASE = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT a.p AS p1, b.p AS p2
      FROM op a JOIN op b ON a.o = b.o AND b.p > a.p),
adj AS (SELECT p1 u, p2 v FROM e UNION ALL SELECT p2, p1 FROM e),
deg AS (SELECT u, count(*) d FROM adj GROUP BY u),
tr AS (SELECT u, v FROM (
   SELECT a.u, a.v,
          row_number() OVER (PARTITION BY a.u ORDER BY dv.d, a.v) rn
   FROM adj a JOIN deg dv ON dv.u = a.v) WHERE rn <= 16),
trs AS (SELECT u, v, count(*) OVER (PARTITION BY v) t,
        row_number() OVER (PARTITION BY v ORDER BY
          md5(CAST(v AS VARCHAR) || ':' || CAST(u AS VARCHAR)), u) srn
        FROM tr),
samp AS (SELECT u, v, t, least(t, 24) s FROM trs WHERE srn <= 24)
"""


def test_sampled_adamic_adar_ht_mass_is_unbiased():
    """The Horvitz-Thompson reweighting must make the TOTAL estimated
    AA mass match the exact mass (the estimator is unbiased per pair;
    summed over every shared-neighbor stratum the relative error
    collapses — measured 1.0000 at sf0.01 and sf0.1, pinned loosely
    here at the test fixture)."""
    con = _aa_duck(SF_DIR)
    exact, est, max_t = con.execute(
        _AA_BASE
        + """
SELECT
 (SELECT sum(1.0/ln(dz.d)) FROM tr a
    JOIN tr b ON a.v = b.v AND b.u > a.u
    JOIN deg dz ON dz.u = a.v WHERE dz.d >= 2),
 (SELECT sum((CAST(a.t*(a.t-1) AS DOUBLE)/(a.s*(a.s-1)))/ln(dz.d))
    FROM samp a JOIN samp b ON a.v = b.v AND b.u > a.u
    JOIN deg dz ON dz.u = a.v WHERE dz.d >= 2 AND a.s >= 2),
 (SELECT max(t) FROM trs)
"""
    ).fetchone()
    assert max_t > 24, "fixture must make the member cap bind"
    assert 0.9 <= est / exact <= 1.1


def test_sampled_adamic_adar_join_terms_reduced():
    """The member cap must actually shrink the wedge join: capped
    Σ min(t,24)² well below the exact face's Σ t² on the fixture."""
    con = _aa_duck(SF_DIR)
    full, capped = con.execute(
        _AA_BASE
        + """
SELECT (SELECT sum(t*t) FROM (SELECT count(*) t FROM tr GROUP BY v)),
       (SELECT sum(least(t,24)*least(t,24))
          FROM (SELECT count(*) t FROM tr GROUP BY v))
"""
    ).fetchone()
    assert capped < 0.5 * full


def test_sampled_adamic_adar_runs_and_shapes(spark):
    registry._bootstrap()
    out = registry.REGISTRY["g_adamic_adar_sampled"].fn(spark, SF_DIR)
    rows = out.collect()
    assert out.columns == ["u", "v", "est_common", "aa_score"]
    assert 0 < len(rows) <= 50
    assert all(r["aa_score"] > 0 for r in rows)
    # HT weights only inflate: every estimated count is >= 1 wedge
    assert all(r["est_common"] >= 1.0 for r in rows)


def test_pack_uv_distinct_from_two_col_grouping(spark):
    """Grouping by the packed key partitions rows exactly like the
    two-column key it replaced."""
    rows = [(1, 2), (1, 2), (1, 3), (2, 1), (2**31, 5), (2**31, 5)]
    df = spark.createDataFrame(rows, "u LONG, v LONG")
    packed = (
        df.groupBy(_pack_uv(F.col("u"), F.col("v")).alias("uv"))
        .count()
        .collect()
    )
    plain = df.groupBy("u", "v").count().collect()
    uq, vq = _unpack_uv()
    unpacked = {
        ((r["uv"] >> 32) & _UV_MASK, r["uv"] & _UV_MASK): r["count"]
        for r in packed
    }
    assert unpacked == {(r["u"], r["v"]): r["count"] for r in plain}


def test_pack_uv_roundtrip_including_wrap(spark):
    """pack/unpack is the identity over the full asserted envelope —
    including ids in [2^31, 2^32) where u<<32 wraps the packed long
    NEGATIVE (why the unpack must be shiftrightunsigned, not the
    sign-extending arithmetic shift)."""
    pairs = [
        (0, 0),
        (1, 2),
        (123456, 654321),
        (2**31 - 1, 2**31),
        (2**31, 7),  # packed long is negative here
        (2**32 - 1, 2**32 - 1),
    ]
    df = spark.createDataFrame(pairs, "u LONG, v LONG")
    uq, vq = _unpack_uv()
    out = (
        df.withColumn("uv", _pack_uv(F.col("u"), F.col("v")))
        .select(
            "u", "v", uq.alias("u2"), vq.alias("v2"), "uv"
        )
        .collect()
    )
    for r in out:
        assert (r["u2"], r["v2"]) == (r["u"], r["v"]), r
    # injectivity across the test pairs
    assert len({r["uv"] for r in out}) == len(pairs)


def test_pack_envelope_guard_raises_past_32_bits(spark):
    """The engine's envelope guard (uv_guarded, used by the cache build
    and a_frequent_pairs) fires for ids past 2^32 instead of letting
    packed keys collide silently."""
    df = spark.createDataFrame([(2**32 + 1, 1)], "src LONG, dst LONG")
    guarded = uv_guarded(df, "src", "dst")
    with pytest.raises(Exception, match="32-bit _pack_uv envelope"):
        guarded.collect()


def test_frequent_pairs_plan_carries_envelope_guard(spark):
    """a_frequent_pairs packs (p1, p2) with _pack_uv, so its executed
    plan checks the part ids against the envelope."""
    df = queries()["a_frequent_pairs"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "32-bit _pack_uv envelope" in plan


def test_lpa_tie_takes_lowest_label(spark):
    """A node whose neighbours carry two labels equally often adopts the
    lower one; a strict majority still wins over a lower label."""
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (5, 9), (6, 9), (7, 9)],
        "src LONG, dst LONG",
    )
    labels = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 3), (4, 3), (5, 8), (6, 2), (7, 8)],
        "node LONG, label LONG",
    )
    got = {r["node"]: r["label"] for r in _lpa_round(edges, labels).collect()}
    assert got == {0: 3, 9: 8}

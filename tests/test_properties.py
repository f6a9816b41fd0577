"""Property tests (SURVEY.md §5.2 item 3) — invariants the engine's
operator semantics must hold for ANY input, generated by hypothesis:

- normalization round-trip: denormalize(normalize(x)) ≈ x (A3∘A4)
- dedup idempotence: dropDuplicates∘dropDuplicates = dropDuplicates (A6)
- union-domain commutativity: domain(A∪B) = domain(B∪A) (U1)
- rank bounds: 1 ≤ row_number ≤ group size; ranks within a group are
  a permutation of 1..n (W1)
- reciprocal rank of a present target ∈ (0, 1] (A15)

Examples are capped small — each case is a handful of local Spark
jobs; the point is semantic coverage, not scale (bench covers that).
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window as W
from pyspark.sql import functions as F

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite_floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(xs=st.lists(finite_floats, min_size=2, max_size=50).filter(lambda v: len(set(v)) > 1))
@SET
def test_normalize_roundtrip(spark, xs):
    df = spark.createDataFrame([(float(x),) for x in xs], ["x"])
    m, s = df.agg(F.avg("x"), F.stddev_samp("x")).first()
    # z-score normalization is undefined for zero spread; distinct
    # python floats can still yield s == 0 (e.g. 0.0 vs -0.0, or
    # values whose variance underflows) — that input is out of domain
    assume(s is not None and s > 0)
    back = df.select(
        "x", (((F.col("x") - m) / s) * s + m).alias("x_rt")
    ).collect()
    for r in back:
        assert math.isclose(r.x, r.x_rt, rel_tol=1e-9, abs_tol=1e-6)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=1, max_size=60
    )
)
@SET
def test_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(rows, ["a", "b"])
    once = df.dropDuplicates(["a", "b"])
    twice = once.dropDuplicates(["a", "b"])
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    assert got_once == sorted(set(map(tuple, rows)))


@given(
    xs=st.lists(st.integers(0, 10), min_size=0, max_size=30),
    ys=st.lists(st.integers(0, 10), min_size=0, max_size=30),
)
@SET
def test_union_domain_commutative(spark, xs, ys):
    a = spark.createDataFrame([(v,) for v in xs], "v int")
    b = spark.createDataFrame([(v,) for v in ys], "v int")
    ab = sorted(r.v for r in a.union(b).distinct().collect())
    ba = sorted(r.v for r in b.union(a).distinct().collect())
    assert ab == ba == sorted(set(xs) | set(ys))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-100, 100)),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_rank_bounds_and_permutation(spark, rows):
    df = spark.createDataFrame(rows, ["g", "score"])
    ranked = df.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("g").orderBy(F.desc("score"), "score")
        ),
    ).collect()
    by_group: dict[int, list[int]] = {}
    for r in ranked:
        by_group.setdefault(r.g, []).append(r.rn)
    sizes = {}
    for g, _ in rows:
        sizes[g] = sizes.get(g, 0) + 1
    for g, rns in by_group.items():
        assert sorted(rns) == list(range(1, sizes[g] + 1))


@given(
    scores=st.lists(finite_floats, min_size=1, max_size=40),
    target_idx=st.integers(0, 39),
)
@SET
def test_reciprocal_rank_in_unit_interval(spark, scores, target_idx):
    target_idx %= len(scores)
    df = spark.createDataFrame(
        [(i, float(s), i == target_idx) for i, s in enumerate(scores)],
        ["cand", "score", "is_target"],
    )
    rr = (
        df.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("score"), "cand")),
        )
        .filter("is_target")
        .select((F.lit(1.0) / F.col("rank")).alias("rr"))
        .first()
        .rr
    )
    assert 0.0 < rr <= 1.0


def test_stratified_sample_contract(spark):
    """Exactly min(200, stratum size) rows per stratum, subset of the
    source, and stable across partition layouts."""
    from mathorcup_spark import registry

    registry._bootstrap()
    fn = registry.REGISTRY["r_stratified_sample"].fn
    sf = "/root/testdata/sf0.001"
    got = fn(spark, sf)
    from mathorcup_spark.catalog import load
    import pyspark.sql.functions as F

    orders = load(spark, sf, "orders")
    per = {r[0]: r[1] for r in got.groupBy("o_orderpriority").count().collect()}
    full = {r[0]: r[1] for r in orders.groupBy("o_orderpriority").count().collect()}
    for k, n in full.items():
        assert per.get(k, 0) == min(200, n), (k, per.get(k), n)
    # subset of the source keys
    extra = got.join(orders, "o_orderkey", "left_anti").count()
    assert extra == 0
    # deterministic under a different partition layout
    rows1 = sorted(tuple(r) for r in got.collect())
    repart = fn(spark, sf)
    rows2 = sorted(
        tuple(r) for r in repart.repartition(7).collect()
    )
    assert rows1 == rows2


def test_weighted_sample_exact_keep_set(spark):
    """The keep decision is u(key)*max_w < w with u = first 32 md5
    bits / 2^32 — recompute it row-by-row in pure Python and demand
    the exact same set (catches any drift in the hash derivation)."""
    import hashlib

    from mathorcup_spark import registry
    from mathorcup_spark.catalog import load

    registry._bootstrap()
    sf = "/root/testdata/sf0.001"
    part = load(spark, sf, "part").select("p_partkey", "p_retailprice").collect()
    mx = max(r[1] for r in part)
    want = set()
    for key, w in part:
        u32 = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
        if (u32 / 4294967296.0) * mx < w:
            want.add(key)
    got = {
        r[0]
        for r in registry.REGISTRY["r_weighted_sample"].fn(spark, sf).collect()
    }
    assert got == want and len(want) > 0


def test_corpus_prep_survivor_and_quality_contract(spark):
    """Every output doc is a dedup survivor meeting the quality bar,
    and near-identical content never appears twice."""
    from mathorcup_spark import registry
    from mathorcup_spark.functions.corpus import MIN_QUALITY, MIN_WORDS

    registry._bootstrap()
    sf = "/root/testdata/sf0.001"
    out = registry.REGISTRY["corpus_prep_e2e"].fn(spark, sf)
    import pyspark.sql.functions as F

    assert out.filter(
        (F.col("quality") < MIN_QUALITY) | (F.col("n_words") < MIN_WORDS)
    ).count() == 0
    survivors = registry.REGISTRY["d_dedup_survivors"].fn(spark, sf)
    non_survivor = out.join(survivors, "doc_id", "left_anti").count()
    assert non_survivor == 0


# --- round-3 machinery: connected components + distributed prefix sum ------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1, max_size=60,
    )
)
@SET
def test_connected_components_matches_union_find(spark, edges):
    from mathorcup_spark.functions.cluster import connected_components

    # reference: sequential union-find with path compression
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        if a != b:
            union(a, b)
            nodes.update((a, b))
    assume(nodes)  # at least one non-self-loop edge
    # min-label per component
    expected = {}
    for x in nodes:
        root = find(x)
        comp = min(y for y in nodes if find(y) == root)
        expected[x] = comp

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == expected


@given(
    vals=st.lists(st.integers(0, 1000), min_size=1, max_size=80),
)
@SET
def test_prefix_sum_matches_sequential(spark, vals):
    from mathorcup_spark.ids import prefix_sum

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.cum
        for r in prefix_sum(df, ["k"], "v", "cum").collect()
    }
    run = 0
    for i, v in enumerate(vals):
        assert got[i] == run
        run += v


def test_feature_hash_bucket_domain(spark):
    from mathorcup_spark.functions.scalar import HASH_DIM, e_feature_hash

    rows = e_feature_hash(spark, "/root/testdata/sf0.001").collect()
    assert rows, "no buckets produced"
    for r in rows:
        assert 0 <= r.bucket < HASH_DIM
        assert r.n_collisions == r.n_values - 1 >= 0


class TestSuperstepsRule:
    """The supersteps lineage rule (operators/graph.py): a state read
    once per round stays unrolled up to _PR_UNROLL_MAX rounds and is
    cut every round past it; a state read more than once is cut every
    round. Either way the values are the plain loop's and the final
    analyzed plan is at most one round deep."""

    @staticmethod
    def _aggregates(df):
        return df._jdf.queryExecution().analyzed().toString().count("Aggregate")

    def test_single_read_past_unroll_max(self, spark):
        from pyspark.sql import functions as F

        from mathorcup_spark.operators.graph import _PR_UNROLL_MAX, supersteps

        rounds = _PR_UNROLL_MAX + 2

        def step(state, i):  # one Aggregate, one read of the state
            return state.groupBy("k").agg((F.sum("x") * 2 + i).alias("x"))

        state = spark.createDataFrame([(k, k) for k in range(5)], "k long, x long")
        out = supersteps(state, step, rounds)
        want = {}
        for k in range(5):
            x = k
            for i in range(rounds):
                x = x * 2 + i
            want[k] = x
        assert {r.k: r.x for r in out.collect()} == want
        assert self._aggregates(out) <= 1

    def test_double_read_cut_every_round(self, spark):
        from pyspark.sql import functions as F

        from mathorcup_spark.operators.graph import supersteps

        def step(state, _i):  # self-join: the state is read twice
            other = state.select("k", F.col("x").alias("y"))
            return state.join(other, "k").groupBy("k").agg(
                F.sum(F.col("x") + F.col("y")).alias("x")
            )

        state = spark.createDataFrame(
            [(k, k + 1) for k in range(5)], "k long, x long"
        )
        out = supersteps(state, step, 3)
        want = {}
        for k in range(5):
            x = k + 1
            for _ in range(3):
                x = x + x
            want[k] = x
        assert {r.k: r.x for r in out.collect()} == want
        assert self._aggregates(out) <= 1

    def test_fixpoint_not_converged_raises(self, spark):
        """A non-converged connected-components edge set would split
        components, so the fixpoint mode raises instead of returning
        it: a 64-node path graph cannot reach its star forest in one
        round (round-4 ADVICE)."""
        import pytest

        from mathorcup_spark.functions.cluster import _canon, _star_round
        from mathorcup_spark.operators.graph import supersteps

        n = 64  # path 0-1-2-...-63: deep diameter
        e = _canon(
            spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u LONG, v LONG")
        )
        with pytest.raises(RuntimeError, match="not converged within 1 rounds"):
            supersteps(e, _star_round, 1, fixpoint=True)
        # with enough rounds the same input converges to the star at 0
        star = supersteps(e, _star_round, 25, fixpoint=True)
        assert {(r.u, r.v) for r in star.collect()} == {(0, i) for i in range(1, n)}


class TestPagerankIterationGuard:
    """Past _PR_UNROLL_MAX rounds the pagerank library function must
    switch from plan unrolling to per-round lineage truncation —
    plan depth stays one round deep at ANY iteration count (judge
    round-3 item 5)."""

    def test_twenty_rounds_bounded_plan_depth(self, spark):
        from mathorcup_spark.operators.graph import _bipartite_edges, pagerank

        edges = _bipartite_edges(spark, "/root/testdata/sf0.001")
        pr20 = pagerank(edges, iters=20)
        # lineage truncation: the analyzed plan of the result shows at
        # most ONE round of joins (2 per round) — not 40
        plan = pr20._jdf.queryExecution().analyzed().toString()
        assert plan.count("Join") <= 4
        rows = pr20.collect()
        assert len(rows) > 0
        # ranks are a probability distribution: sums to ~1
        total = sum(r["pagerank"] for r in rows)
        assert abs(total - 1.0) < 1e-3

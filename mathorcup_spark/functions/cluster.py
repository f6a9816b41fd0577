"""Connected-components clustering over the near-dup pair graph —
the stage that turns scored pairs into dedup decisions.

A corpus dedup run does not stop at pairs: transitive near-dups
(A~B, B~C) must land in ONE cluster so exactly one survivor is kept
per group. That grouping is connected components over the similarity
graph, computed here with the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — the standard shuffle-based CC used at web scale:

- **large-star**: every node attaches its larger neighbors to the
  minimum of its neighborhood (incl. itself);
- **small-star**: every node attaches its smaller-or-equal neighbors
  (and itself) to the minimum of that set;
- alternate until the edge set reaches a fixpoint, which is a forest
  of stars, each centered at its component's minimum node id.

Each half-round is one `groupBy(node).min()` shuffle plus one hash
equi-join — no windows, no driver-side graph state. Convergence is
O(log n) rounds even for path graphs (proved in the paper; near-dup
clusters are near-cliques from shared LSH buckets, so 2-3 rounds in
practice). The rounds run through ``operators.graph.supersteps`` in
fixpoint mode, which lineage-truncates every round and raises if the
edge set is not a fixpoint within the round budget. The only
driver-side value is the fixpoint signature (edge count +
order-independent hash sum), so driver memory is O(1) at any corpus
size.

Reference analog: the reference dedups eagerly in pandas
(src/utils.py:161-202 spirit — drop_duplicates after scoring);
transitive grouping is the scale-correct generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from .dedup import _CAPPED_CTES, MAX_BUCKET, jaccard_sql, rescored_pairs

# Exact-Jaccard threshold for a rescored LSH candidate pair to become
# a cluster edge. The sf0.01 candidate distribution is bimodal
# (collisions ~0.01, true near-dups >= 0.97), so any value in the gap
# is equivalent; 0.5 is the conventional near-dup cut.
NEARDUP_JACCARD = 0.5


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u < v), distinct."""
    return (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Star rounds until the fixpoint: O(log n) for any graph (2-3 for
# near-clique near-dup graphs); a graph that needs more raises.
_CC_ROUNDS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id of the component. Alternating large-star /
    small-star rounds until the edge set is a fixpoint (star forest);
    raises if that takes more than ``_CC_ROUNDS`` rounds, since a
    non-converged edge set would split components."""
    # imported here so the registry keeps its module registration order
    from ..operators.graph import supersteps

    e = _canon(edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")))
    return _star_assign(supersteps(e, _star_round, _CC_ROUNDS, fixpoint=True))


def _star_round(e: DataFrame, _i: int) -> DataFrame:
    """One large-star + small-star half-round pair over edge set ``e``."""
    # large-star: over the bidirectional adjacency, attach each
    # node's LARGER neighbors to min(neighborhood ∪ {self}).
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    center = F.least(F.col("u"), F.col("mn"))
    ls = _canon(
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), center.alias("v"))
    )
    # small-star: over edges directed big→small, attach each
    # node's smaller neighbors AND itself to the min.
    d = ls.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins2 = d.groupBy("u").agg(F.min("v").alias("mn"))
    return _canon(
        d.join(mins2, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(d.select("u", "v").join(mins2, "u").select("u", F.col("mn").alias("v")))
    )


def _star_assign(e: DataFrame) -> DataFrame:
    """(node, comp) from a star-forest edge set: members inherit the
    center; centers map to themselves."""
    members = e.select(F.col("v").alias("node"), F.col("u").alias("comp"))
    centers = e.select(F.col("u").alias("node"), F.col("u").alias("comp")).distinct()
    return members.union(centers)


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_CAPPED_CTES},
    edges AS (
      SELECT cand.doc_a, cand.doc_b
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b
      WHERE {jaccard_sql("sa.shingles", "sb.shingles")} >= {NEARDUP_JACCARD}
    ),
    bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION ALL SELECT doc_b, doc_a FROM edges
    ),
    walk(node, reach) AS (
      SELECT src, src FROM bidir
      UNION
      SELECT w.node, b.dst FROM walk w JOIN bidir b ON b.src = w.reach
    ),
    comp AS (SELECT node AS doc_id, min(reach) AS comp FROM walk GROUP BY node),
    assign AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size
      FROM assign GROUP BY cluster_id
    )
    SELECT a.doc_id, a.cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CASE WHEN a.doc_id = a.cluster_id THEN 1 ELSE 0 END AS keep
    FROM assign a JOIN sizes s USING (cluster_id)
"""


@register(
    "d_dedup_clusters",
    oracle=_CLUSTER_ORACLE,
    doc="Corpus dedup clustering end-to-end: bucket-capped MinHash-LSH "
    "candidates (MAX_BUCKET guard — boilerplate buckets are exact-"
    "dedup's job, and uncapped they quadratically dominate CC input "
    "on template-heavy corpora; cap mirrored in the oracle) → "
    "exact-Jaccard edges (>= 0.5) → alternating large-star/small-star "
    "connected components → one row per document with its cluster id "
    "(= component min doc_id), cluster size, and the survivor flag "
    "(keep the min id per cluster). This is the decision stage a real "
    "dedup pipeline feeds the filter with — transitive near-dups "
    "collapse into one cluster even when A~C was never a candidate "
    "pair. The DuckDB oracle computes the same components with a "
    "recursive transitive-closure CTE, so the iterative distributed "
    "algorithm is value-verified against an independent sequential "
    "one. Iteration cost: two groupBy-min shuffles per round, "
    "O(log n) rounds, driver state O(1).",
    tags=("dedup", "cluster", "cc", "e2e"),
    # final cluster assembly: documents left-joined to the CC fixpoint (a
    # localCheckpointed star edge set — supersteps fixpoint rounds are
    # lineage-truncated: two groupBy-min shuffles per round) plus the cluster-
    # size join
    plan={},
)
def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # capped candidates: clustering is a decision stage, so the
    # boilerplate-bucket guard (MAX_BUCKET, see dedup.py) is the
    # scale-correct default — the dedup-skew soak measured the
    # uncapped CC at 16s vs seconds capped on a template-heavy
    # corpus. The oracle applies the identical bucket-size filter.
    edges = rescored_pairs(spark, sf_dir, max_bucket=MAX_BUCKET).where(
        F.col("jaccard") >= NEARDUP_JACCARD
    )
    comp = connected_components(edges)
    assign = docs.join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("comp", "doc_id").alias("cluster_id")
    )
    sizes = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assign.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.when(F.col("doc_id") == F.col("cluster_id"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )

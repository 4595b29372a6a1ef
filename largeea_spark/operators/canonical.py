"""Connected-components canonicalization (north rule; SURVEY.md §7.0
`canonical.py`).

Assigns one canonical id per connected component of an undirected
edge set — the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), which converges in O(log² n) rounds and is the standard
shuffle-bounded CC at web scale:

  large-star: for each node u, link every STRICTLY LARGER neighbor v
              to min(N(u) ∪ {u});
  small-star: for each node u, link every neighbor v ≤ u (and u) to
              the minimum of those.

Stop rule: the rounds' fixpoint is a star forest. Canonical edges
(a, b) with a < b form one exactly when no node appears as ``b`` more
than once and no node appears both as ``a`` and as ``b``; every star
is then centred on its component's minimum, so the labels are
``b → a`` and ``a → a``. One aggregate action tests this before the
first round, so input that is already a star forest (disjoint pairs,
star edges to a group minimum, no edges at all) runs zero rounds, and
again after each round, so the loop stops at the round that reaches
the fixpoint instead of paying a confirming round. Lineage
truncation: ``localCheckpoint`` every round (SURVEY.md §4.3.2),
materialized by that round's test.

Output: DataFrame(node long, component long) where component is the
minimum node id in the component — deterministic across parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirect + drop self-loops + distinct, as (a, b) with a < b."""
    e = edges.select(F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v"))
    return (
        e.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    # neighbors both directions; for each u: m = min(N(u) ∪ {u});
    # emit (v, m) for v in N(u) with v > u. Since m ≤ u < v, the output
    # edge (m, v) is already in canonical a<b order.
    #
    # Shuffle shape (round 6, guide §2.4): one repartition on u feeds
    # BOTH the groupBy and the join (HashPartitioning(u) satisfies
    # each), so the round pays one exchange here instead of two; the
    # dedup repartitions on b so the downstream small-star groupBy/join
    # on u=b reuse that exchange too. Column-only repartition (no pinned
    # count) so AQE coalesces the tiny late-round stages — CC results
    # are exact min-ids, independent of partitioning.
    nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).repartition(F.col("u"))
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
        .where(F.col("a") != F.col("b"))
        .repartition(F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient edges to point from larger to smaller: (u, v) with v <= u;
    # for each u: m = min neighbors∪{u}; emit (v, m) for all small nbrs + (u, m).
    # When e arrives hash-partitioned on b (the large-star output), the
    # groupBy and join below reuse that partitioning — the only new
    # exchange in this half-round is the final distinct.
    oriented = e.select(F.col("b").alias("u"), F.col("a").alias("v"))  # a<b ⇒ v<u
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    pairs = (
        oriented.join(m, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionAll(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    return pairs


def _is_star_forest(e: DataFrame) -> bool:
    """True when canonical edges ``e`` are the rounds' fixpoint: every
    node appears at most once as ``b``, and never as both ``a`` and
    ``b``. One aggregate over (node, is_b) rows; the partial
    aggregation keeps its shuffle at one row per node and partition."""
    ends = e.select(F.inline(F.array(
        F.struct(F.col("a").alias("node"), F.lit(0).alias("is_b")),
        F.struct(F.col("b").alias("node"), F.lit(1).alias("is_b")),
    )))
    # a node that appears as b and has any second endpoint row breaks
    # the star: a second b row (two parents) or an a row (a chain)
    bad = (
        ends.groupBy("node")
        .agg(F.max("is_b").alias("is_b"), F.count("*").alias("n"))
        .where((F.col("is_b") == 1) & (F.col("n") > 1))
    )
    return bad.isEmpty()


# large/small-star rounds before connected_components gives up; the
# alternation converges in O(log² n) rounds
_MAX_CC_ROUNDS = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """Returns DataFrame(node, component). Deterministic min-id labels."""
    e = _canonical_edges(edges).localCheckpoint(eager=False)
    it = 0
    while not _is_star_forest(e):
        if it == _MAX_CC_ROUNDS:
            raise RuntimeError(
                f"connected_components did not converge in {_MAX_CC_ROUNDS} rounds")
        # lazy checkpoint: the next test's action materializes it, so
        # a round runs no separate checkpoint job
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        it += 1
    # star forest: members point at their root, roots at themselves
    members = e.select(F.col("b").alias("node"), F.col("a").alias("component"))
    roots = e.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node"))
    return members.unionByName(roots)


def canonical_ids(edges: DataFrame, all_nodes: DataFrame | None = None,
                  node_col: str = "node") -> DataFrame:
    """Canonical id per node: CC label for connected nodes; own id for
    isolated ones (when ``all_nodes`` given). The entity-canonicalization
    step before graph materialization (north rule)."""
    cc = connected_components(edges)
    if all_nodes is None:
        return cc
    # A root's label is its own id, so the non-root members plus the
    # fallback to the node's own id label roots and isolated nodes
    # alike. The filter also drops the roots' distinct from the plan:
    # the optimizer folds ``node != node`` to false there.
    members = cc.where(F.col("node") != F.col("component"))
    nodes = all_nodes.select(F.col(node_col).alias("node")).distinct()
    return (
        nodes.join(members, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
    )
